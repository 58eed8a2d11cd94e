from __future__ import annotations

import os

import pytest


def _pin_blas_kernels() -> None:
    """Run OpenBLAS on its AVX-512 (SkylakeX) kernels on any AVX-512 host.

    ``lstsq``, ``solve`` and the optimized ``einsum`` round differently
    per OpenBLAS kernel set, and OpenBLAS falls back to its generic
    Prescott kernels on CPU models it does not know (the build bundled
    with numpy 1.26 does not know Emerald Rapids, model 207). The page
    kernel and JPEG pins were computed on the SkylakeX kernels, so the
    set is fixed here, before numpy loads OpenBLAS, or the same code
    hashes differently from one host to the next. An explicit
    ``OPENBLAS_CORETYPE`` wins, and a host without AVX-512 keeps the
    autodetected set (SkylakeX code would not run there)."""
    if "OPENBLAS_CORETYPE" in os.environ:
        return
    try:
        with open("/proc/cpuinfo") as f:
            flags = next((ln for ln in f if ln.startswith("flags")), "").split()
    except OSError:
        return
    if {"avx512f", "avx512bw", "avx512dq", "avx512vl"} <= set(flags):
        os.environ["OPENBLAS_CORETYPE"] = "SkylakeX"


_pin_blas_kernels()


@pytest.fixture(scope="session")
def spark():
    from ocr_inference_spark.session import get_spark

    s = get_spark(app_name="ocr_inference_spark_tests", master="local[4]")
    yield s
    s.stop()

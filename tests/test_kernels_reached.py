"""Every top-level function and class in ``ocr_inference_spark/kernels``
is named somewhere in the code outside ``tests/``, apart from the few
listed in ``TEST_ONLY``: a kernel only a test calls is code no page
path runs. A name counts when it appears as an
identifier, an attribute or an import (docstrings and comments do not
count), in any module other than the definition itself. Spark-free:
source scans."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
KERNELS = ROOT / "ocr_inference_spark" / "kernels"


def _sources() -> list[Path]:
    """Every Python file of the repo outside the test suites."""
    return [
        p
        for p in sorted(ROOT.rglob("*.py"))
        if "tests" not in p.relative_to(ROOT).parts[:1]
        and not p.name.startswith("test_")
        and not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def unreached_kernels() -> list[str]:
    # (file, top-level definition name or None) -> names used in it
    used: dict[tuple[Path, str | None], set[str]] = {}
    for path in _sources():
        for top in ast.parse(path.read_text(), str(path)).body:
            key = (path, getattr(top, "name", None))
            used.setdefault(key, set()).update(_names(top))
    missing = []
    for path in sorted(KERNELS.glob("*.py")):
        for top in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                continue
            if not any(
                top.name in names
                for (where, owner), names in used.items()
                if (where, owner) != (path, top.name)
            ):
                missing.append(f"{path.stem}.{top.name}")
    return missing


# Kernels only the tests reach, each kept for a reason. The language
# models of ``ctc.beam_decode(lm=...)`` shallow fusion (the reference's
# optional LM decode, SURVEY.md C14/I33) have no OCR entry point that
# takes an LM yet. This set may only shrink.
TEST_ONLY = {
    "ctc.arpa_unigram_lm",
    "ctc.arpa_bigram_lm",
    "ctc.arpa_backoff_lm",
    "ctc.build_unigram_lm",
}


def test_every_kernel_is_named_outside_the_tests():
    assert set(unreached_kernels()) <= TEST_ONLY


def test_the_scan_sees_every_test_only_kernel():
    # a scan that finds nothing would pass the check above vacuously,
    # and a kernel that gains a caller leaves TEST_ONLY
    assert set(unreached_kernels()) == TEST_ONLY

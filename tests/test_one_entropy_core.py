"""The image codecs share one entropy-coding core, ``bitcodes``. A
second LZW coder, bit writer or canonical-code builder anywhere else in
the package fails here, and so does an image codec that inflates with
``zlib.decompress``, whose output has no cap. Spark-free: source
scans."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "ocr_inference_spark"

CORE = "bitcodes"
CORE_NAMES = ("lzw_", "BitWriter", "canonical_codes")
IMAGE_CODECS = ("imgcodec", "gifcodec", "webpcodec", "jpegcodec", "bmpcodec", "faxcodec")


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        yield module, ast.parse(path.read_text(), str(path))


def core_definitions() -> dict[str, set[str]]:
    """module -> the functions and classes it defines, at any depth,
    whose names mark them as entropy-coding primitives."""
    found: dict[str, set[str]] = {}
    for module, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and any(
                key in node.name for key in CORE_NAMES
            ):
                found.setdefault(module, set()).add(node.name)
    return found


def test_entropy_primitives_are_defined_only_in_the_core():
    defs = core_definitions()
    assert set(defs) == {CORE}, {m: d for m, d in defs.items() if m != CORE}
    # the scan sees the core itself, so it cannot pass vacuously
    assert {"lzw_decode", "lzw_encode", "LsbBitWriter", "MsbBitWriter",
            "canonical_codes"} <= defs[CORE]


def test_no_image_codec_inflates_without_a_cap():
    hits = [
        f"{module}:{node.lineno}"
        for module, tree in _modules()
        if module in IMAGE_CODECS
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr == "decompress"
        and isinstance(node.value, ast.Name)
        and node.value.id == "zlib"
    ]
    assert hits == []

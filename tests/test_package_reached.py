"""Every top-level definition of ``ocr_inference_spark/`` is reached from
an entry point of the engine, apart from the few listed in ``TEST_ONLY``:
a definition only a test calls is code no run executes.

The scan is name-based and transitive. It starts from the entry points
(``bench.py``, ``__spark_entry__.py``, ``jobs/``, ``perfbench/`` without
its ``test_*`` files, and ``scripts/``) and from the module-level code of
every package module. A name counts as used where it appears as an
identifier, an attribute or an import; strings, docstrings and comments
do not count. Each top-level function or class whose name reached code
uses is reached in turn, whichever module defines it, so the scan
over-approximates reach and what it misses is surely unreached.
Spark-free: source scans."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ocr_inference_spark"


def _entry_points() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for folder in ("jobs", "perfbench", "scripts"):
        files += [
            p
            for p in sorted((ROOT / folder).rglob("*.py"))
            if not p.name.startswith("test_")
        ]
    return files


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


# top-level definitions a name can reach; any other top-level statement
# but an import is module-level code, which runs on import
DEFINITIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def unreached_definitions() -> list[str]:
    # name -> [(qualified name, names its definition uses)]
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    frontier: set[str] = set()
    for path in _entry_points():
        frontier |= _names(ast.parse(path.read_text(), str(path)))
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for top in ast.parse(path.read_text(), str(path)).body:
            if isinstance(top, DEFINITIONS):
                defs.setdefault(top.name, []).append((f"{module}.{top.name}", _names(top)))
            elif not isinstance(top, (ast.Import, ast.ImportFrom)):
                frontier |= _names(top)
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, used in defs.get(name, ()):
            frontier |= used - seen
    return sorted(q for name, entries in defs.items() if name not in seen for q, _ in entries)


# Definitions only the tests reach, each kept for a reason until an
# entry point wires it in, with the reference code it re-expresses.
# This set may only shrink.
TEST_ONLY = {
    "exporters.ocr_lines_to_txt": "K1 TXT sink, BDRC/exporter.py:296-320",
    "exporters.ocr_lines_to_pagexml": "K2 PageXML sink, BDRC/exporter.py:162-276",
    "exporters.ocr_lines_to_jsonl": "K3 JSONL sink, BDRC/exporter.py:355-407",
    "exporters.detection_to_parquet": "K4 detection sink, BDRC/utils.py:1119-1139",
    "exporters.ocr_lines_to_parquet": "K5 OCR-lines sink, BDRC/utils.py:1240-1292",
    "exporters.detection_line_polygons": "K2 line polygons of the PageXML sink",
    "exporters._points_string": "K2 Coords formatting, BDRC/exporter.py:82-113",
    "exporters._xml_escape": "K2 XML escaping of the PageXML sink",
    "artifacts.debug_artifacts": "K6 artifact table, BDRC/pipeline.py:30-195",
    "artifacts.debug_page_artifacts": "K6 one page's artifacts, BDRC/pipeline.py:81-187",
    "artifacts.manifest": "K6 manifest, BDRC/artifact_manager.py:104-110",
    "artifacts.materialize_job_dir": "K6 job directory, BDRC/artifact_manager.py:23-139",
    "artifacts._stage_artifacts": "K6 per-stage saves, BDRC/pipeline.py:81-187",
    "artifacts._art": "K6 artifact row of debug_page_artifacts",
    "artifacts._png": "K6 image payload of debug_page_artifacts",
    "artifacts._boxes": "K6 box payload of debug_page_artifacts",
    "pipeline.recognize_pages_eval": "eval mode, BDRC/inference.py:668-726",
}


def test_every_definition_is_reached_from_an_entry_point():
    assert set(unreached_definitions()) <= set(TEST_ONLY)


def test_the_scan_sees_every_test_only_definition():
    # a scan that finds nothing would pass the check above vacuously,
    # and a definition that gains a caller leaves TEST_ONLY
    assert set(unreached_definitions()) == set(TEST_ONLY)

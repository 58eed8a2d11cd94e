"""Every per-row Python kernel runs through worker.map_rows. A
``.mapInPandas(`` call anywhere else in the package is a second,
hand-written driver loop and fails here, unless it is one of the
kernels that work on a whole batch at once. Likewise every scan
spread is decided by ``queries._t(..., spread=True)``: an operator
that asks the planner for its partition count is a second spread
rule. Spark-free: source scans."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "ocr_inference_spark"

# (module, top-level function) allowed to call mapInPandas
ALLOWED = {
    ("worker", "map_rows"),  # the one row driver
    ("text.urlnorm", "normalize_urls"),  # passes the batch's own columns through
    ("text.robots", "robots_filter"),  # passes the batch's own columns through
    ("similarity", "table_bucket_rows"),  # numpy LSH over the whole batch
}


def map_in_pandas_calls() -> set[tuple[str, str]]:
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for top in ast.parse(path.read_text(), str(path)).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    found.add((module, getattr(top, "name", f"<line {node.lineno}>")))
    return found


def test_map_in_pandas_only_in_the_row_driver_and_the_batch_kernels():
    assert map_in_pandas_calls() <= ALLOWED


def test_the_scan_sees_every_allowed_call():
    # a scan that finds nothing would pass the check above vacuously
    assert map_in_pandas_calls() == ALLOWED


def test_no_operator_asks_for_its_partition_count():
    # queries._t sizes the spread from footer metadata; a
    # getNumPartitions() check inside an operator would decide it again
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "getNumPartitions" in line
    ]
    assert hits == []

"""Dump the formatted physical plan of driver-contract queries, with
expression and RDD ids normalized so dumps from two trees diff cleanly.

Usage: python scripts/dump_plans.py [qname ...]   (default: every query)

The tables come from ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.01
test tables) and the session width from ``$SPARK_GRAFT_CPUS``.
One ``<qname>.txt`` per query goes to ``$PLANS_OUT`` (default: a
``plans`` directory under the system temp dir). To compare two trees,
run the script from each with a different ``PLANS_OUT`` and
``diff -r`` the two directories.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = Path(os.environ.get("PLANS_OUT", str(Path(tempfile.gettempdir()) / "plans")))

# ids handed out per session: attribute ids (doc_id#12L), plan ids of
# exchanges, RDD ids of checkpointed/existing RDDs, and the counter
# pyspark appends to higher-order-function lambda variables (x_45)
_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda \w+)_\d+\b"), r"\1_N"),
)


def normalize(plan: str) -> str:
    for pattern, repl in _IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    if not os.path.isdir(SF_DIR):
        sys.exit(f"dump_plans: no table directory {SF_DIR}; set SPARK_GRAFT_SF_DIR")
    from ocr_inference_spark.queries import QUERIES
    from ocr_inference_spark.session import get_spark

    names = sys.argv[1:] or list(QUERIES)
    spark = get_spark(app_name="dump_plans")
    OUT.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (OUT / f"{name}.txt").write_text(normalize(plan))
        print(f"wrote {OUT / name}.txt")
    spark.stop()


if __name__ == "__main__":
    main()

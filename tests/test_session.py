"""``get_spark`` under spark-submit: the driver keeps the ``--master`` it
was submitted with, whatever its form, and sizes shuffle partitions from
the started context. Runs spark-submit in a subprocess."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyspark

REPO = Path(__file__).resolve().parent.parent

SCRIPT = """
from ocr_inference_spark.session import get_spark

spark = get_spark()
print("master=" + spark.sparkContext.master)
print("shuffle=" + spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_spark_submit_master_is_kept(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(SCRIPT)
    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    env = dict(os.environ, PYTHONPATH=str(REPO), PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [str(submit), "--master", "local[2,2]", str(script)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.splitlines()
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "master=local[2,2]" in lines
    assert "shuffle=8" in lines

"""Local replica of the driver's correctness gate: run each contract
query on Spark and its DuckDB oracle at sf0.01, compare row count,
column names, and (column-name-sorted, row-sorted) values."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ocr_inference_spark.queries import ORACLES, QUERIES  # noqa: E402
from ocr_inference_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def main(selected=None):
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    for name, fn in QUERIES.items():
        if selected and name not in selected:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"{name:32s} SPARK ERROR: {str(exc)[:160]}")
            continue
        sql = ORACLES.get(name)
        if sql is None:
            print(f"{name:32s} rows-only: {len(srows)} rows "
                  f"({'OK' if len(srows) >= 0 else '??'})")
            continue
        try:
            ores = con.sql(sql)
            orows = ores.fetchall()
            ocols = [d[0] for d in ores.description]
        except Exception as exc:
            failures.append((name, f"ORACLE ERROR: {exc}"))
            print(f"{name:32s} ORACLE ERROR: {str(exc)[:160]}")
            continue
        sc, sv = normalize(srows, scols)
        oc, ov = normalize(orows, ocols)
        if sc != oc:
            failures.append((name, f"cols {sc} vs {oc}"))
            print(f"{name:32s} COLS MISMATCH {sc} vs {oc}")
        elif len(sv) != len(ov):
            failures.append((name, f"rowcount {len(sv)} vs {len(ov)}"))
            print(f"{name:32s} ROWS {len(sv)} vs {len(ov)}")
        elif sv != ov:
            bad = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
            failures.append((name, f"values differ, e.g. {bad[:1]}"))
            print(f"{name:32s} VALUES DIFFER ({len(bad)}+ rows) e.g.:")
            for a, b in bad:
                print("   spark :", a)
                print("   oracle:", b)
        else:
            print(f"{name:32s} OK ({len(sv)} rows)")
    print(f"\n{len(failures)} failures")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(set(sys.argv[1:]) or None))

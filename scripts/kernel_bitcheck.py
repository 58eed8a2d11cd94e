"""Bit-equality gate for page-kernel changes.

Hashes EVERY field process_page emits (texts, confs, contours, angle,
dewarp flag, n_lines, status) over N real bench-corpus pages plus the
detect_page surface (q34's output shape). Usage:

    SPARK_GRAFT_SF_DIR=<sf dir> python scripts/kernel_bitcheck.py [n_pages]

It prints one md5. The pages are synthesized from ``documents.parquet``
in ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 table under
``perfbench/data``), one page for each of the first n_pages source
documents, at any session width. Run it before and after a kernel edit;
the md5 must not move. The value to keep at sf0.1 and the default 400
pages is

    md5=d486da6256e2fed1feaa3e9f70b6abde

``tests/test_kernel_bitcheck.py`` pins the same fields on rendered
pages without Spark.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", str(ROOT / "perfbench" / "data" / "sf0.1"))
N = int(sys.argv[1]) if len(sys.argv) > 1 else 400


def main() -> None:
    local = "://" not in SF_DIR
    if local and not os.path.isfile(os.path.join(SF_DIR, "documents.parquet")):
        sys.exit(
            f"kernel_bitcheck: no documents.parquet in {SF_DIR}; "
            "set SPARK_GRAFT_SF_DIR to a scale-factor directory"
        )
    from ocr_inference_spark.model import get_session, serialize_weights
    from ocr_inference_spark.page import detect_page, process_page
    from ocr_inference_spark.session import get_spark
    from ocr_inference_spark.synth import synth_corpus

    # the pages of the first N source documents, hashed in media_ref
    # order: the sample does not depend on the session's width
    spark = get_spark(app_name="bitcheck")
    _, pages, _ = synth_corpus(spark, SF_DIR, n_docs=N)
    sample = sorted(pages.collect(), key=lambda r: r.media_ref)
    spark.stop()

    session = get_session(serialize_weights())
    h = hashlib.md5()
    t0 = time.perf_counter()
    for row in sample:
        content = bytes(row.content)
        res = process_page(content, session)
        h.update(
            repr(
                (
                    res.status,
                    res.texts,
                    [f"{c:.9e}" for c in res.confs],
                    f"{res.angle:.9e}",
                    res.dewarp_applied,
                    res.n_lines,
                    res.contours,
                )
            ).encode()
        )
        d = detect_page(content)
        h.update(
            repr(
                (
                    d["status"], d["width"], d["height"],
                    d["bboxes"], d["contours"], d["rbboxes"],
                )
            ).encode()
        )
    dt = time.perf_counter() - t0
    print(f"pages={len(sample)} md5={h.hexdigest()} ms/page={1000*dt/len(sample):.3f}")


if __name__ == "__main__":
    main()

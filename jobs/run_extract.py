"""spark-submit entry point for the OCR span-extraction job.

    spark-submit --py-files ocr_inference_spark.zip jobs/run_extract.py \
        --documents s3://.../documents --pages s3://.../pages \
        --output s3://.../out --metrics s3://.../metrics \
        --job-id nightly-2026-08-16 --buckets 4096

Build the zip with: scripts/package.sh
Resumable: rerunning with the same --job-id anti-joins completed
buckets from the metrics table and only processes the remainder
(ocr_inference_spark/checkpoint.py).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--documents", required=True, help="input spans table/path")
    ap.add_argument("--pages", required=True, help="media sidecar table/path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--job-id", required=True)
    ap.add_argument("--buckets", type=int, default=1024)
    ap.add_argument(
        "--strategy",
        default="shuffle",
        choices=["shuffle", "broadcast"],
        help="how page bytes meet media spans: 'shuffle' joins+repartitions"
        " (any pages layout); 'broadcast' ships the span side and never"
        " moves page bytes — use when the pages table is bucketed/evenly"
        " partitioned by media_ref (pipeline.recognize_pages docstring)",
    )
    ap.add_argument("--master", default=None)
    # reference-CLI parity knobs (reference cli.py:20-38)
    ap.add_argument("--encoding", choices=["unicode", "wylie"], default="unicode",
                    help="output text encoding (reference --encoding)")
    ap.add_argument("--k-factor", type=float, default=1.2,
                    help="line-crop vertical slack multiplier (reference --k-factor)")
    ap.add_argument("--tps-mode", choices=["global", "global2d", "local"],
                    default="global", help="dewarp mode (reference TPSMode)")
    ap.add_argument("--line-sorting", choices=["threshold", "peaks"],
                    default="threshold", help="reading-order mode (LineSorting)")
    ap.add_argument("--no-dewarp", action="store_true",
                    help="disable the TPS/dewarp stage (reference runs it only with --dewarp)")
    ap.add_argument("--no-merge-lines", action="store_true",
                    help="keep same-row chunks as separate lines (reference --merge-lines inverse)")
    args = ap.parse_args()

    from ocr_inference_spark.checkpoint import run_resumable
    from ocr_inference_spark.io import read_table
    from ocr_inference_spark.page import PipelineOptions
    from ocr_inference_spark.session import get_spark

    spark = get_spark(app_name=f"ocr_extract_{args.job_id}", master=args.master)
    docs = read_table(spark, args.documents)
    pages = read_table(spark, args.pages)
    run_resumable(
        spark,
        docs,
        pages,
        output_path=args.output,
        metrics_path=args.metrics,
        job_id=args.job_id,
        n_buckets=args.buckets,
        strategy=args.strategy,
        options=PipelineOptions(
            k_factor=args.k_factor,
            tps_mode=args.tps_mode,
            line_sorting=args.line_sorting,
            dewarp=not args.no_dewarp,
            merge_lines=not args.no_merge_lines,
        ),
        encoding=args.encoding,
    )
    spark.stop()


if __name__ == "__main__":
    main()

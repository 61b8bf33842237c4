"""spark-submit entry point for the distributed index build.

Cluster usage (the production path the engine is designed for):

    python scripts/make_pyfiles.py                       # → dist/macrobase_spark.zip
    spark-submit \
        --master yarn --deploy-mode cluster \
        --py-files dist/macrobase_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/submit_index_build.py \
        --input <iceberg-table-or-parquet-path> \
        --output s3://bucket/index \
        --num-buckets 4096 --num-groups 16

Local smoke (this sandbox):

    python scripts/submit_index_build.py \
        --input /tmp/mb_bench/transcripts_96000 --output /tmp/idx_cli

Resumability: re-running the same command after a failure skips buckets
already committed to <output>/manifest.jsonl.

Session: `get_spark` leaves the master and the shuffle partition count to
spark-submit's command line when spark-submit launched the script, so a
--py-files cluster keeps its --master and Spark's stock worker daemon
(pyspark imported from Spark's own archives). Run as a plain script,
`get_spark` builds a local session whose workers start with
`macrobase_spark.worker_daemon` (see `macrobase_spark.session`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="Iceberg table identifier or parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--doc-id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--num-buckets", type=int, default=32)
    ap.add_argument("--num-groups", type=int, default=1)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from macrobase_spark.fixtures.transcripts import with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.session import get_spark
    from macrobase_spark.sources.iceberg import read_table

    spark = get_spark("index_build")

    df = read_table(spark, args.input)
    if args.doc_id_col not in df.columns:
        df = with_doc_id(df)
    report = build_index(
        df, args.output,
        doc_id_col=args.doc_id_col, text_col=args.text_col,
        num_buckets=args.num_buckets, num_groups=args.num_groups,
        resume=not args.no_resume,
    )
    print(json.dumps(report))


if __name__ == "__main__":
    main()

"""spark-submit entrypoint for the extraction job.

The north-rule deployment shape: the package ships as a ``--py-files``
zip (``tools/package.py`` builds it) and this module is the job script —

    spark-submit --py-files dist/ocr_platform_spark.zip \
        dist/run_extract.py \
        --documents s3://.../documents --media s3://.../media \
        --out s3://.../out --run-id nightly-01 \
        --buckets 4096 --chunk-buckets 256

On a cluster the session comes from spark-submit's conf (master,
executors, memory); the builder here only fills in local-mode defaults
when the conf is absent, so the same script runs unchanged in both
worlds. Kernel "weights" (the glyph lookup tables) are plain module
constants inside the zip — materialized on executor-local disk by the
``--py-files`` distribution itself, loaded once per worker process
(the ``lru_cache`` model-singleton analog, SURVEY.md §2.3 M4).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from .lineage import run_extract_job


def build_session(app_name: str = "ocr-extract") -> SparkSession:
    """Session from spark-submit conf; sensible local defaults otherwise.

    No ``spark.python.daemon.module`` here, unlike ``session.get_spark``:
    under ``spark-submit --py-files ocr_platform_spark.zip`` the worker
    daemon starts before any task has put the zip on its path, so
    ``ocr_platform_spark.pyworker`` cannot be imported and every task fails.
    Deployments that install the package on the executors can set the
    conf themselves (docs/SCALE.md).
    """
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    )
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="resumable OCR extraction job")
    ap.add_argument("--documents", required=True, help="documents table path")
    ap.add_argument("--media", required=True, help="media payload table path")
    ap.add_argument("--out", required=True, help="output dir (data/ + lineage/)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--chunk-buckets", type=int, default=16)
    ap.add_argument("--max-chunks", type=int, default=None,
                    help="stop after N chunks (kill-injection / smoke)")
    ap.add_argument("--num-partitions", type=int, default=None,
                    help="heavy-stage partition count (default 3x parallelism)")
    args = ap.parse_args(argv)

    spark = build_session()
    docs = spark.read.parquet(args.documents)
    media = spark.read.parquet(args.media)
    executed = run_extract_job(
        spark,
        docs,
        media,
        out_dir=args.out,
        run_id=args.run_id,
        num_buckets=args.buckets,
        chunk_buckets=args.chunk_buckets,
        max_chunks=args.max_chunks,
        num_partitions=args.num_partitions,
    )
    print(f"chunks executed: {executed}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""spark-submit entry point for the extraction/validation job.

The north-rule deployment shape is ``spark-submit --py-files
webxtract.zip cli.py …`` on a multi-executor cluster (BASELINE.json
north_rule; the reference's analog is its Cloud Run `gcloud run
deploy`, README.md:93-99 — one long-lived service vs. one submitted
batch job per crawl increment). This module is deliberately thin: all
cluster sizing (master, executor count/memory, shuffle partitions) is
spark-submit's business, so outside ``--local`` it calls plain
``SparkSession.builder.getOrCreate()`` and inherits the submitted conf
instead of second-guessing it.

Usage:
    spark-submit --py-files webxtract.zip cli.py \
        --input s3://crawl/pages --output s3://out/extracted \
        --audit s3://out/audit --run-id 2026-01-15-a \
        [--mode extract [--num-partitions N] | --mode pipeline \
        [--run-date YYYY-MM-DD]]

    python -m webxtract.cli --build-pyfiles webxtract.zip   # make the archive

``--num-partitions`` belongs to extract mode only: the pipeline
partitions once, by the salted url key at ``spark.sql.shuffle.partitions``
(set with spark-submit's ``--conf``), and a second repartition of the
raw pages before it would add a shuffle of the html payload.

Re-running with the same --output is idempotent: the job anti-joins
committed urls and processes only the remainder (audit.resume_filter),
so a failed run is resumed by resubmitting the identical command with
a fresh --run-id. A --run-id names one commit (audit.commit_run): a
resubmission under an id that already committed writes nothing and
only restores that run's audit rows if they are missing. Prints ONE
JSON metrics line (urls, bytes_in, parse_failures, metrics_errors) on
success — the batch analog of the reference's per-request
processing_time_seconds field (ocr.py:80). A run that fails once its
session exists first waits for the session's Python-worker warm-up
(``session.wait_for_python_workers``), so its own error is the last
thing it prints.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="webxtract", description=__doc__)
    p.add_argument("--build-pyfiles", metavar="ZIP", default=None,
                   help="write the --py-files archive and exit (no Spark)")
    p.add_argument("--input",
                   help="pages source: parquet path or iceberg:catalog.db.table "
                        "(url, warc_ts, html, text, lang)")
    p.add_argument("--since-snapshot", type=int, default=None,
                   help="Iceberg incremental read: only rows appended after "
                        "this snapshot id (requires an iceberg: --input)")
    p.add_argument("--output", help="extracted-rows parquet path (run_id-partitioned)")
    p.add_argument("--audit", help="audit-table parquet path")
    p.add_argument("--run-id", help="lineage id naming one commit: use a fresh id to "
                        "resume a failed run; an id that already committed "
                        "writes nothing again")
    p.add_argument("--mode", choices=["extract", "pipeline"], default="extract",
                   help="extract = text extraction only; pipeline = + fields/"
                        "detection/fake/validation")
    p.add_argument("--num-partitions", type=int, default=None,
                   help="extract mode: salted (host, shard) repartition width "
                        "before extraction (pipeline mode partitions once, at "
                        "spark.sql.shuffle.partitions)")
    p.add_argument("--run-date", default=None,
                   help="validation 'today' (pipeline mode), YYYY-MM-DD")
    p.add_argument("--local", metavar="N", default=None,
                   help="run on local[N] via webxtract.session.get_spark "
                        "(smoke/test); default inherits spark-submit's session")
    args = p.parse_args(argv)
    if args.build_pyfiles is None:
        missing = [k for k in ("input", "output", "audit", "run_id")
                   if not getattr(args, k)]
        if missing:
            p.error("required: --" + ", --".join(m.replace("_", "-") for m in missing))
    if args.mode == "pipeline" and args.num_partitions is not None:
        p.error("--num-partitions is for --mode extract: the pipeline partitions "
                "once, by the salted url key at spark.sql.shuffle.partitions, "
                "which spark-submit sets (--conf spark.sql.shuffle.partitions=N)")
    return args


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(sys.argv[1:] if argv is None else argv)

    if args.build_pyfiles is not None:
        from webxtract.session import build_pyfiles_zip

        path = build_pyfiles_zip(args.build_pyfiles)
        print(json.dumps({"pyfiles": path}), flush=True)
        return 0

    if args.local is not None:
        from webxtract.session import get_spark

        spark = get_spark("webxtract-cli", master=f"local[{args.local}]")
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("webxtract-cli").getOrCreate()

    try:
        from webxtract.audit import run_extraction_job

        transform = None
        if args.mode == "pipeline":
            from webxtract.pipeline import run_pipeline

            kw = {"run_date": args.run_date} if args.run_date else {}
            transform = lambda df: run_pipeline(df, **kw)  # noqa: E731

        from webxtract.table_io import incremental_pages, load_pages

        if args.since_snapshot is not None:
            pages = incremental_pages(spark, args.input, args.since_snapshot)
        else:
            pages = load_pages(spark, args.input)
        metrics = run_extraction_job(
            pages,
            output_path=args.output,
            audit_path=args.audit,
            run_id=args.run_id,
            spark=spark,
            num_partitions=args.num_partitions,
            transform=transform,
        )
    except BaseException:
        from webxtract.session import wait_for_python_workers

        wait_for_python_workers(spark)
        raise
    print(json.dumps({"mode": args.mode, **metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

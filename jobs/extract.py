#!/usr/bin/env python3
"""spark-submit entry point for the extraction pipeline.

Cluster usage (the north-rule deployment shape):

    bash jobs/package.sh     # builds dist/pdfminer_six_spark.zip
    spark-submit \
        --py-files dist/pdfminer_six_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=64 \
        jobs/extract.py \
        --input  <parquet-or-iceberg transcripts>  \
        --output <parquet-or-iceberg extracted>    \
        --lineage <parquet lineage/metrics>        \
        [--resume] [--rebalance N] [--streaming --checkpoint DIR]

The job is idempotent under --resume: already-committed (conv_id, turn_idx)
pairs are anti-joined away before extraction, so a restarted run does only
the remaining work (per-partition lineage rows committed with results).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read_in(spark, path: str, as_table: bool):
    """Catalog table (Iceberg/DSv2 — `spark.read.table`) or parquet path.
    With an Iceberg catalog configured on the cluster
    (spark.sql.catalog.*=org.apache.iceberg.spark.SparkCatalog) the table
    branch IS the Iceberg read path; the sandbox tests it against the
    built-in catalog, which shares the same DataSourceV2 API."""
    return spark.read.table(path) if as_table else spark.read.parquet(path)


def _write_out(df, path: str, as_table: bool) -> None:
    if as_table:
        # DSv2 first (the Iceberg path): append, CTAS on the first write.
        # The built-in session catalog makes v1 tables that writeTo()
        # refuses — fall back to the equivalent v1 saveAsTable append.
        msg = ""
        try:
            df.writeTo(path).append()
            return
        except Exception as e:
            msg = str(e)
            if "TABLE_OR_VIEW_NOT_FOUND" in msg:
                try:
                    df.writeTo(path).create()
                    return
                except Exception as e2:
                    msg = str(e2)
        if "v1 table" not in msg and "UNSUPPORTED" not in msg:
            raise RuntimeError(f"table write failed for {path}: {msg}")
        df.write.mode("append").saveAsTable(path)
    else:
        df.write.mode("append").parquet(path)


def build_arg_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet path, or table identifier with --tables")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--tables", action="store_true",
                    help="treat --input/--output/--lineage as catalog table "
                         "identifiers (Iceberg etc. via DataSourceV2) "
                         "instead of parquet paths")
    ap.add_argument("--password", default="")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--rebalance", type=int, default=None,
                    help="round-robin repartition count before extraction")
    ap.add_argument("--sorted-output", action="store_true",
                    help="write sorted by (conv_id, turn_idx)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--images", action="store_true",
                    help="input is a directory of PDFs (binaryFile scan); "
                         "emit one metadata+sha256 row per embedded image")
    ap.add_argument("--split-pages", type=int, default=0, metavar="CHARS",
                    help="opt-in intra-payload parallelism: PDF payloads "
                         "whose b85 text is at least CHARS characters are "
                         "page-counted once, exploded into page groups, "
                         "extracted per group and reassembled — caps task "
                         "skew at the page group for pathological "
                         "multi-hundred-page payloads (0 = off)")
    ap.add_argument("--pages-per-group", type=int, default=8,
                    help="pages per split-extraction task (the dial between "
                         "skew cap and payload replication; used with "
                         "--split-pages)")
    ap.add_argument("--dedup-payloads", action="store_true",
                    help="parse each distinct (tool, text) payload once and "
                         "join results back to every referencing turn — wins "
                         "by the attachment repetition factor on corpora that "
                         "share payloads, costs three exchanges on ones that "
                         "don't")
    return ap


def main() -> None:
    ap = build_arg_parser()
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdfminer-six-spark-extract").getOrCreate()
    run(spark, args, ap)


def run(spark, args, ap=None) -> None:
    import functools

    from pdfminer_six_spark.spark.pipeline import (
        extract_transcripts,
        extract_transcripts_dedup,
        extract_transcripts_split_pages,
        lineage_metrics,
        resume_filter,
    )

    dedup_payloads = args.dedup_payloads
    split_pages = args.split_pages
    if dedup_payloads and (args.images or args.streaming):
        # fail loudly instead of silently running the per-turn path — a
        # user counting on the payload-dedup win must know it didn't apply
        (ap.error if ap else _raise_usage)(
            "--dedup-payloads applies only to the batch transcript path "
            "(not --images/--streaming)"
        )
    if split_pages and args.pages_per_group < 1:
        # fail at argparse time, not DIVIDE_BY_ZERO deep in the job (or,
        # with ANSI overridden off, a silent zero-group explode that
        # drops every oversized payload from the output)
        (ap.error if ap else _raise_usage)("--pages-per-group must be >= 1")
    if split_pages and (args.images or args.streaming or dedup_payloads):
        # same loud-failure contract; dedup+split composition is not
        # implemented (dedup already collapses the repeated big payloads
        # that splitting would otherwise re-extract per turn)
        (ap.error if ap else _raise_usage)(
            "--split-pages applies only to the batch per-turn path "
            "(not --images/--streaming/--dedup-payloads)"
        )

    if args.images:
        from pdfminer_six_spark.spark.sources import (
            extract_images_corpus,
            read_pdf_corpus,
        )

        corpus = read_pdf_corpus(spark, args.input)
        extract_images_corpus(corpus, password=args.password).write.mode(
            "append"
        ).parquet(args.output)
        return

    if args.streaming:
        from pdfminer_six_spark.spark.streaming import streaming_extract

        if not args.checkpoint:
            (ap.error if ap else _raise_usage)("--streaming requires --checkpoint")
        q = streaming_extract(spark, args.input, args.output, args.checkpoint)
        q.awaitTermination()
        return

    transcripts = _read_in(spark, args.input, args.tables)
    if args.resume:
        from pyspark.errors import AnalysisException

        try:
            done = _read_in(spark, args.output, args.tables)
            transcripts = resume_filter(transcripts, done)
        except AnalysisException as e:
            # only a missing output means "first run"; any other read error
            # (permissions, corrupt footer) must NOT silently downgrade to
            # a full re-run — appending would duplicate committed rows
            if ("PATH_NOT_FOUND" not in str(e)
                    and "TABLE_OR_VIEW_NOT_FOUND" not in str(e)):
                raise
    if dedup_payloads:
        extract_fn = extract_transcripts_dedup
    elif split_pages:
        extract_fn = functools.partial(
            extract_transcripts_split_pages,
            split_chars=split_pages,
            pages_per_group=args.pages_per_group,
        )
    else:
        extract_fn = extract_transcripts
    extracted = extract_fn(
        transcripts,
        password=args.password,
        rebalance_partitions=args.rebalance,
        sort_output=args.sorted_output,
    )
    if args.lineage:
        extracted = extracted.persist()
        _write_out(extracted, args.output, args.tables)
        _write_out(lineage_metrics(extracted), args.lineage, args.tables)
        extracted.unpersist()
    else:
        _write_out(extracted, args.output, args.tables)


def _raise_usage(msg: str) -> None:
    raise SystemExit(f"usage error: {msg}")


if __name__ == "__main__":
    main()

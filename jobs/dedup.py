#!/usr/bin/env python3
"""spark-submit entry point for corpus deduplication — the second
deployable job next to jobs/extract.py, covering the dedup stage of a
training-data build:

    bash jobs/package.sh     # builds dist/pdfminer_six_spark.zip
    spark-submit \
        --py-files dist/pdfminer_six_spark.zip \
        jobs/dedup.py \
        --input  <documents parquet: (doc_id, text, ...)> \
        --output <survivors parquet> \
        [--pairs-output <near-dup pairs parquet>] \
        [--clusters-output <cluster assignment parquet>] \
        [--method lsh|exact]  [--threshold 0.6]  [--max-df N]

Pipeline: near-duplicate pairs (MinHash-LSH verified by exact Jaccard on
candidates only — the shape that survives 10^9 docs; `--method exact`
swaps in the all-pairs shingle join for small corpora/audits), connected
components via hash-min propagation, then survivors = every doc minus
non-canonical cluster members (the min doc_id of each cluster is kept).
All stages are lazy DataFrames until the writes; the only driver-side
work is the cluster loop's per-round convergence count.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_args(argv=None):
    p = argparse.ArgumentParser(description="corpus near-dup removal")
    p.add_argument("--input", required=True,
                   help="documents parquet (doc_id, text, ...); doc_id "
                        "must be unique — the shingle stage dedups "
                        "within each row, not across repeated doc_ids")
    p.add_argument("--output", required=True)
    p.add_argument("--pairs-output", default=None)
    p.add_argument("--clusters-output", default=None)
    p.add_argument(
        "--method",
        choices=["lsh", "exact", "incremental"],
        default="lsh",
        help="lsh/exact dedup the whole input against itself; "
             "incremental dedups the input (a NEW crawl batch) against "
             "the historical fingerprint index given by --index — the "
             "continuous-ingestion shape where the full corpus is never "
             "re-deduped",
    )
    p.add_argument(
        "--index",
        default=None,
        help="(incremental) historical fingerprint parquet with an 'fp' "
             "column; omit for a first batch (empty history)",
    )
    p.add_argument(
        "--index-output",
        default=None,
        help="(incremental) where to write the UPDATED index (old fps + "
             "survivors' fps) for the next batch",
    )
    p.add_argument("--threshold", type=float, default=0.6)
    p.add_argument(
        "--max-df",
        type=int,
        default=None,
        help="document-frequency cut for the exact method's shingle join",
    )
    p.add_argument(
        "--checkpoint-dir",
        default=None,
        help="fault-tolerant checkpoint dir for the cluster loop's "
             "per-round lineage cuts; without it the loop uses "
             "localCheckpoint (executor-local blocks — fine in local "
             "mode, lost with a dead executor on a real cluster)",
    )
    return p.parse_args(argv)


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops import dedup

    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)

    docs = spark.read.parquet(args.input)
    if args.method == "incremental":
        if args.index:
            seen = spark.read.parquet(args.index).select("fp")
        else:
            seen = spark.createDataFrame([], "fp string")
        survivors = dedup.incremental_exact(docs, seen)
        # fp rides along on the survivors; materialize once, serve both
        # the survivor sink and the index update
        survivors.write.mode("overwrite").parquet(args.output)
        survivors = spark.read.parquet(args.output)
        if args.index_output:
            seen.unionByName(survivors.select("fp")).distinct().write.mode(
                "overwrite"
            ).parquet(args.index_output)
        n_docs = docs.count()
        n_surv = survivors.count()
        return {
            "n_docs": n_docs,
            "n_dropped": n_docs - n_surv,
            "n_survivors": n_surv,
        }
    if args.method == "lsh":
        pairs = dedup.minhash_near_duplicates(docs, threshold=args.threshold)
    else:
        pairs = dedup.jaccard_pairs(
            docs, threshold=args.threshold, max_df=args.max_df
        )
    # the pair relation feeds the (iterative) clustering AND the optional
    # pairs sink, so materialize pairs once here for both consumers — via
    # the fault-tolerant checkpoint dir when one is configured (otherwise
    # the executor-local blocks would stay a single point of failure and
    # defeat --checkpoint-dir's whole promise)
    pairs = pairs.checkpoint() if args.checkpoint_dir else pairs.localCheckpoint()
    if args.pairs_output:
        pairs.write.mode("overwrite").parquet(args.pairs_output)
    clusters = dedup.duplicate_clusters(
        pairs, reliable_checkpoint=bool(args.checkpoint_dir)
    )
    if args.clusters_output:
        clusters.write.mode("overwrite").parquet(args.clusters_output)
    drop = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    # no broadcast hint: the drop list is usually small (dup rate), but
    # at adversarial dup rates it scales with the corpus — let AQE pick
    # the strategy from the measured size
    survivors = docs.join(drop, "doc_id", "left_anti")
    survivors.write.mode("overwrite").parquet(args.output)
    n_docs = docs.count()
    n_drop = drop.count()
    return {
        "n_docs": n_docs,
        "n_pairs": pairs.count(),
        "n_dropped": n_drop,
        "n_survivors": n_docs - n_drop,
    }


def main() -> None:
    from pdfminer_six_spark.spark.session import build_session

    args = build_args()
    spark = build_session(app_name="corpus-dedup")
    stats = run(spark, args)
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()

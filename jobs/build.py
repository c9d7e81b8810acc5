#!/usr/bin/env python3
"""spark-submit entry point for the FULL corpus build — every stage of a
training-data pipeline composed as one resumable artifact (the sequence
the other jobs expose piecewise):

    01_extract  transcripts -> text        (jobs/extract.py's kernel)
    02_clean    PII redaction + corpus-global paragraph dedup
                (jobs/clean.py's semantics)
    03_dedup    exact fingerprint drop, then MinHash-LSH near-dup
                clusters, canonical survivor per cluster
                (jobs/dedup.py's semantics)
    04_score    bigram-LM perplexity -> CCNet language/ppl buckets
                (sketch cutoffs — the no-global-sort 100x path); keep
                head/middle buckets
    05_mix      (optional, --mix-budget) temperature-scaled source
                rebalancing (alpha=0.5, bucketed scale path)
    06_pack     greedy sharded sequence packing into --seq-len bins; with
                --shuffle-seed the packing order is train_order's
                deterministic md5 permutation (the global training-data
                shuffle), not crawl order

Usage:

    bash jobs/package.sh     # builds dist/pdfminer_six_spark.zip
    spark-submit --py-files dist/pdfminer_six_spark.zip jobs/build.py \
        --input  <transcripts parquet (conv_id, turn_idx, tool, text)> \
        --workdir <stage-output root> \
        --output  <final packed parquet> \
        [--resume] [--seq-len 2048] [--threshold 0.6] \
        [--keep-buckets 1,2] [--password ...]

Resume model: each stage writes its parquet under --workdir/<NN_stage>
and appends one lineage row to --workdir/lineage.  The stage's row count
is observed on its own write (``DataFrame.observe``), never re-counted,
and the driver writes the lineage row itself as one small parquet file,
renamed into place so a reader never sees half of it.  The next stage
reads the written parquet back with the schema the write had (every
column nullable, as parquet stores it), so no job re-infers it from the
footers: the bookkeeping runs no Spark job, and a stage runs exactly the
jobs of its plain write.  With ``--resume`` every stage whose
``_SUCCESS`` marker already exists is SKIPPED (read back with an
inferred schema, never recomputed), so a crashed build restarts at
exactly the failed stage.  Stage writes are
atomic at the Spark commit-protocol level (the marker appears only after
a complete write), which makes the whole job idempotent at stage
granularity — rerunning a finished build with --resume recomputes
nothing and rewrites only the final --output.

``--fail-after <stage>`` injects a crash immediately after that stage
commits — the hook the failure-injection resume test drives; it has no
effect on any stage's output.

Scale: every stage is the ops layer's bucketed/sharded production shape
(LSH bands for the near-dup join, sketch percentile cutoffs for the
buckets, sharded running sums for packing); nothing here introduces a
driver-side loop beyond the cluster iteration's convergence counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ("extract", "clean", "dedup", "score", "mix", "pack")


def build_args(argv=None):
    p = argparse.ArgumentParser(description="end-to-end corpus build")
    p.add_argument("--input", required=True,
                   help="transcripts parquet (conv_id, turn_idx, tool, text)")
    p.add_argument("--workdir", required=True,
                   help="root for per-stage parquet outputs + lineage")
    p.add_argument("--output", required=True,
                   help="final packed-sequences parquet")
    p.add_argument("--resume", action="store_true",
                   help="skip every stage whose _SUCCESS marker exists")
    p.add_argument("--password", default="")
    p.add_argument("--threshold", type=float, default=0.6,
                   help="near-dup Jaccard threshold for the LSH stage")
    p.add_argument("--seq-len", type=int, default=2048,
                   help="tokens per packed training sequence")
    p.add_argument("--n-shards", type=int, default=32,
                   help="independent packing shards (scale with cluster)")
    p.add_argument("--mix-budget", type=int, default=None,
                   help="optional stage 05: temperature-scaled source "
                        "mixing (alpha=0.5) down to this many docs "
                        "before packing; omit to skip the stage")
    p.add_argument("--shuffle-seed", default=None,
                   help="optional: deterministic training-order shuffle "
                        "before packing — sequences are packed in the "
                        "md5(seed:id) permutation order instead of "
                        "doc-id order (train_order's contract)")
    p.add_argument("--keep-buckets", default="1,2",
                   help="comma list of CCNet ppl buckets to keep "
                        "(1=head 2=middle 3=tail; CCNet trains on 1,2)")
    p.add_argument("--checkpoint-dir", default=None,
                   help="fault-tolerant checkpoint dir for the cluster "
                        "loop (defaults to <workdir>/_checkpoints)")
    p.add_argument("--fail-after", choices=STAGES, default=None,
                   help="TEST HOOK: raise immediately after this stage "
                        "commits (drives the failure-injection resume test)")
    return p.parse_args(argv)


def _stage_path(workdir: str, idx: int, name: str) -> str:
    return os.path.join(workdir, f"{idx:02d}_{name}")


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _group_jobs(sc) -> set:
    """Ids of the jobs run so far under the calling thread's job group
    (jobs with no group when none is set)."""
    # the status store is fed by the asynchronous listener bus: let it
    # catch up with the jobs that have already returned
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    group = sc.getLocalProperty("spark.jobGroup.id")
    ids = sc._jsc.statusTracker().getJobIdsForGroup(group)
    # one call for all the ids: iterating the returned array would make
    # one py4j round trip per id, and a group's ids pile up pass by pass
    text = sc._jvm.java.util.Arrays.toString(ids)
    return {int(i) for i in text.strip("[]").split(",") if i.strip()}


def _written_schema(dt):
    """``dt`` as a parquet write stores it: every field, array element
    and map value nullable (Spark's ``asNullable``)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _written_schema(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_written_schema(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_written_schema(dt.keyType),
                       _written_schema(dt.valueType), True)
    return dt


def _read_back(spark, path: str, df):
    """The parquet that ``df`` was just written to, read with its schema
    rather than one inferred from the footers (inference runs a job)."""
    return spark.read.schema(_written_schema(df.schema)).parquet(path)


def _write_counted(df, path: str) -> int:
    """Overwrites ``path`` with ``df``; returns the rows written, counted
    by the write itself."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    seen = Observation()
    df.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return seen.get["rows"]


class _Build:
    """Stage runner: compute-or-read-back per stage, lineage appended per
    completed stage."""

    def __init__(self, spark, args):
        self.spark = spark
        self.args = args
        self.stats: dict = {}
        self.lineage_path = os.path.join(args.workdir, "lineage")

    def append_lineage(self, name: str, n_rows: int, wall_s: float) -> None:
        """One parquet file per row, written under a ``_`` name (which
        Spark's reader skips) and renamed into place."""
        import uuid
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        row = pa.table({
            "stage": pa.array([name], pa.string()),
            "n_rows": pa.array([n_rows], pa.int64()),
            "wall_s": pa.array([wall_s], pa.float64()),
            "committed_at": pa.array([datetime.now(timezone.utc)],
                                     pa.timestamp("us", tz="UTC")),
        })
        os.makedirs(self.lineage_path, exist_ok=True)
        fname = f"{name}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.lineage_path, "_" + fname)
        pq.write_table(row, tmp)
        os.replace(tmp, os.path.join(self.lineage_path, fname))

    def run_stage(self, idx: int, name: str, build_fn):
        path = _stage_path(self.args.workdir, idx, name)
        if self.args.resume and _committed(path):
            self.stats[name] = {"action": "skipped"}
            return self.spark.read.parquet(path)
        jobs0 = _group_jobs(self.spark.sparkContext)
        t0 = time.perf_counter()
        df = build_fn()
        n = _write_counted(df, path)
        wall = time.perf_counter() - t0
        self.append_lineage(name, n, wall)
        out = _read_back(self.spark, path, df)
        self.stats[name] = {
            "action": "computed", "rows": n, "wall_s": round(wall, 3),
            "jobs": len(_group_jobs(self.spark.sparkContext) - jobs0),
        }
        if self.args.fail_after == name:
            raise RuntimeError(
                f"injected failure after stage '{name}' (--fail-after)"
            )
        return out


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops import dedup as dd
    from pdfminer_six_spark.ops.clean import (
        pack_sequences,
        paragraph_dedup,
        redact_pii,
        temperature_mix,
        train_order,
    )
    from pdfminer_six_spark.ops.dedup import normalized_text
    from pdfminer_six_spark.ops.retrieval import ccnet_buckets
    from pdfminer_six_spark.spark.pipeline import extract_transcripts

    spark.sparkContext.setCheckpointDir(
        args.checkpoint_dir or os.path.join(args.workdir, "_checkpoints")
    )
    b = _Build(spark, args)

    # ---- 01 extract: transcripts -> (doc_id, source, text) ----
    def _extract():
        transcripts = spark.read.parquet(args.input)
        extracted = extract_transcripts(
            transcripts, password=args.password
        ).filter(F.col("status") == "ok")
        return extracted.select(
            F.concat_ws(
                "#", "conv_id", F.col("turn_idx").cast("string")
            ).alias("doc_id"),
            # the extraction kernel consumes `tool` (it is not in its
            # output schema); the payload kind survives as n_pages
            F.when(F.col("n_pages") > 0, "pdf")
            .otherwise("plain")
            .alias("source"),
            "text",
        )

    docs = b.run_stage(1, "extract", _extract)

    # ---- 02 clean: PII redaction + corpus-global paragraph dedup ----
    def _clean():
        red = redact_pii(docs).withColumn("text", F.col("redacted")).drop(
            "redacted"
        )
        para = paragraph_dedup(red)
        return (
            red.drop("text")
            .join(para, "doc_id")
            .withColumnRenamed("clean_text", "text")
            .filter(F.length("text") > 0)
        )

    cleaned = b.run_stage(2, "clean", _clean)

    # ---- 03 dedup: exact fingerprint drop, then LSH near-dup clusters ----
    def _dedup():
        from pyspark.sql.window import Window

        # exact: one survivor (min doc_id) per normalized-content hash
        w = Window.partitionBy(
            F.md5(normalized_text(F.col("text")))
        ).orderBy("doc_id")
        uniq = (
            cleaned.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # near-dup ids must be numeric for the cluster loop: a stable
        # 64-bit surrogate; xxhash64 collisions over realistic corpus
        # sizes are the documented ~n^2/2^65 risk (see ops/dedup.py)
        keyed = uniq.withColumn("doc_num", F.xxhash64("doc_id"))
        pairs = dd.minhash_near_duplicates(
            keyed.select(F.col("doc_num").alias("doc_id"), "text"),
            threshold=args.threshold,
        )
        # duplicate_clusters' edge checkpoint cuts the pairs' lineage
        clusters = dd.duplicate_clusters(pairs, reliable_checkpoint=True)
        drop = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select(F.col("doc_id").alias("doc_num"))
        return keyed.join(drop, "doc_num", "left_anti").drop("doc_num")

    survivors = b.run_stage(3, "dedup", _dedup)

    # ---- 04 score: LM perplexity -> CCNet buckets (sketch cutoffs) ----
    keep_buckets = [int(x) for x in args.keep_buckets.split(",") if x]
    lm_model_handle = []

    def _score():
        # the LM's deterministic train-slice (pmod(id, ...)) and the
        # bucket tiebreaks need a NUMERIC id: same xxhash64 surrogate as
        # the dedup stage
        keyed = survivors.withColumn("doc_num", F.xxhash64("doc_id"))
        buckets = ccnet_buckets(
            keyed, cutoffs="sketch", id_col="doc_num",
            model_handle=lm_model_handle,
        )
        return (
            keyed.join(buckets, "doc_num")
            .filter(F.col("bucket").isin(keep_buckets))
            .drop("doc_num")
        )

    scored = b.run_stage(4, "score", _score)
    # the stage's write has run: release the cached LM model so a
    # long-lived session does not gain one cache entry per build
    for cached in lm_model_handle:
        cached.unpersist()

    # ---- 05 mix (optional): temperature-scaled source rebalancing ----
    if args.mix_budget:
        def _mix():
            sel = temperature_mix(
                scored, budget_docs=args.mix_budget, id_col="doc_id"
            )
            return scored.join(
                sel.select("doc_id"), "doc_id", "left_semi"
            )

        to_pack = b.run_stage(5, "mix", _mix)
    else:
        to_pack = scored
        b.stats["mix"] = {"action": "skipped (no --mix-budget)"}

    # ---- 06 pack: sharded greedy packing into seq-len bins ----
    order_handle = []

    def _pack():
        if args.shuffle_seed:
            # pack in the shuffled order: train_order's contiguous pos
            # becomes the packing id, so shard assignment and intra-
            # shard order follow the md5 permutation (the training-data
            # global shuffle), not crawl order
            order = train_order(
                to_pack, seed=args.shuffle_seed, id_col="doc_id",
                handle=order_handle,
            ).select("doc_id", "pos")
            keyed = to_pack.join(order, "doc_id").withColumn(
                "doc_num", F.col("pos")
            )
        else:
            keyed = to_pack.withColumn("doc_num", F.xxhash64("doc_id"))
        packed = pack_sequences(
            keyed,
            capacity=args.seq_len,
            n_shards=args.n_shards,
            id_col="doc_num",
        )
        # restore the string doc_id (pack emits only its numeric id)
        return packed.join(
            keyed.select("doc_num", "doc_id", "source"), "doc_num"
        ).drop("doc_num")

    packed = b.run_stage(6, "pack", _pack)
    # the pack write has run: release train_order's persisted partitions
    for cached in order_handle:
        cached.unpersist()

    jobs0 = _group_jobs(spark.sparkContext)
    rows = _write_counted(packed, args.output)
    # a DISTINCT aggregate cannot be observed on the write
    n_sequences = (
        _read_back(spark, args.output, packed)
        .select("shard", "seq_idx").distinct().count()
    )
    b.stats["final"] = {
        "rows": rows, "n_sequences": n_sequences,
        "jobs": len(_group_jobs(spark.sparkContext) - jobs0),
    }
    return b.stats


def main() -> None:
    from pdfminer_six_spark.spark.session import build_session

    args = build_args()
    spark = build_session(app_name="corpus-build")
    sc = spark.sparkContext
    if sc.getLocalProperty("spark.jobGroup.id") is None:
        sc.setJobGroup("corpus-build", "corpus-build")
    stats = run(spark, args)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()

"""Structured Streaming variant of the extraction pipeline (SURVEY.md §2.11
streaming row; north-rule resume story).

Incremental ingest of new transcript turns: readStream on a parquet/Iceberg
directory -> the same Arrow-batched extraction kernel (mapInPandas works
unchanged on streaming DataFrames) -> sink with checkpointing, so restart
resumes exactly where the last committed batch ended.  A tumbling-window
per-conversation metrics aggregation with a watermark handles late turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdfminer_six_spark.spark.pipeline import (
    TRANSCRIPTS_SCHEMA,
    extract_transcripts,
)


def read_transcripts_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a growing directory of transcript parquet.
    (On a cluster this is an Iceberg streaming read; the file source has
    the same exactly-once semantics via checkpointed file tracking.)"""
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def streaming_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """transcripts stream -> extracted parquet with exactly-once resume.

    The extraction kernel is identical to the batch path — row-local, so
    it needs no state store; the checkpoint only tracks source offsets
    and sink commits.
    """
    stream = read_transcripts_stream(spark, input_dir)
    extracted = extract_transcripts(stream)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUTPUT_SCHEMA = (
    "conv_id string, session_start timestamp, session_end timestamp, "
    "n_turns long, n_pdf_turns long, closed boolean"
)
SESSION_STATE_SCHEMA = "start long, last long, n long, npdf long"


def conversation_sessions(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: track each
    conversation's running session (start/end/turn counts) in the state
    store and emit a closed-session row once the event-time watermark
    passes the idle gap.  This is the session-window shape a transcript
    pipeline needs (conversations have no explicit end marker at
    10^12-turn scale); the per-key state is O(1) — four longs — so the
    state store stays tiny no matter how long a conversation runs."""
    import datetime as dt

    import pandas as pd

    gap_s = _duration_seconds(gap)

    def update(key, pdfs, state) -> "pd.DataFrame":
        conv_id = key[0]
        if state.hasTimedOut:
            start, last, n, npdf = state.get
            state.remove()
            return iter(
                [
                    pd.DataFrame(
                        {
                            "conv_id": [conv_id],
                            "session_start": [
                                dt.datetime.fromtimestamp(
                                    start / 1e6, dt.timezone.utc
                                ).replace(tzinfo=None)
                            ],
                            "session_end": [
                                dt.datetime.fromtimestamp(
                                    last / 1e6, dt.timezone.utc
                                ).replace(tzinfo=None)
                            ],
                            "n_turns": [n],
                            "n_pdf_turns": [npdf],
                            "closed": [True],
                        }
                    )
                ]
            )
        start = last = None
        n = npdf = 0
        if state.exists:
            start, last, n, npdf = state.get
        for pdf in pdfs:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            lo, hi = int(ts_us.min()), int(ts_us.max())
            start = lo if start is None or lo < start else start
            last = hi if last is None or hi > last else last
            n += len(pdf)
            npdf += int((pdf["tool"] == "pdf").sum())
        state.update((start, last, n, npdf))
        # close the session once the watermark passes last-turn + gap
        state.setTimeoutTimestamp(last // 1000 + gap_s * 1000)
        return iter(())

    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def _duration_seconds(s: str) -> int:
    qty, unit = s.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
            "hour": 3600, "hours": 3600}[unit]
    return int(qty) * mult


def streaming_dedup(
    transcripts: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-delivered turns by content
    fingerprint within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys the state store on
    (fingerprint) and expires entries once the event-time watermark
    passes — bounded state no matter how long the stream runs, which is
    the only dedup shape that survives an unbounded 10^12-turn ingest
    (a global dropDuplicates would grow state forever).  Re-deliveries
    in real pipelines arrive close to the original (retries, replays),
    so a watermark-bounded horizon is the standard contract."""
    from pdfminer_six_spark.ops.dedup import normalized_text

    return (
        transcripts.withWatermark("ts", watermark)
        .withColumn(
            "fp",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("conv_id"),
                    F.col("turn_idx").cast("string"),
                    normalized_text(F.col("text")),
                )
            ),
        )
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )


def streaming_idempotent_sink(
    extracted: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
):
    """Exactly-once sink via ``foreachBatch`` with batch-id-keyed
    idempotent writes — the pattern for sinks without transactional
    streaming support (and the shape an Iceberg MERGE INTO takes in a
    real deployment).

    Structured Streaming's contract: after a crash the LAST batch may be
    REPLAYED with the same batch_id.  Writing each batch to a
    `batch_id=N` partition with mode("overwrite") makes the replay a
    no-op-equivalent (it overwrites its own partial output, never
    appends a duplicate), so sink contents equal exactly-once delivery
    even though the execution is at-least-once."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )

    return (
        extracted.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def join_turn_annotations(
    turns: DataFrame,
    annotations: DataFrame,
    watermark: str = "1 hour",
    tolerance: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: transcript turns matched with
    asynchronously-arriving annotations (quality labels, safety flags —
    the side stream every real training pipeline has).

    Both sides carry event-time watermarks and the join condition bounds
    the annotation's timestamp to [turn ts, turn ts + tolerance] — the
    combination Spark requires to evict join state: a buffered turn can
    be dropped once the annotation watermark passes its ts + tolerance,
    so state stays bounded on an unbounded stream.  An equi-key-only
    stream-stream join would buffer forever.

    ``annotations`` schema: (conv_id, turn_idx, label, ats timestamp).
    Returns one row per matched (turn, annotation) pair."""
    t = turns.withWatermark("ts", watermark).alias("t")
    a = annotations.withWatermark("ats", watermark).alias("a")
    return t.join(
        a,
        F.expr(
            f"""t.conv_id = a.conv_id AND t.turn_idx = a.turn_idx
                AND a.ats >= t.ts
                AND a.ats <= t.ts + interval {tolerance}"""
        ),
    ).select(
        "t.conv_id", "t.turn_idx", "t.role", "t.text", "t.ts",
        "a.label", "a.ats",
    )


def windowed_turn_metrics(
    transcripts: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-conversation turn counts with late-data
    tolerance — the streaming mirror of the lineage/metrics table."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("tool") == "pdf", 1).otherwise(0)).alias(
                "n_pdf_turns"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "conv_id",
            "n_turns",
            "n_pdf_turns",
        )
    )


def streaming_incremental_dedup(
    batch_stream: DataFrame,
    seen_fps: DataFrame,
    watermark: str = "2 hours",
    text_col: str = "text",
) -> DataFrame:
    """Streaming crawl-delta dedup — the streaming counterpart of
    ops.dedup.incremental_exact, composing the two dedup layers a
    continuous ingest needs:

    1. **vs history**: a STREAM-STATIC left-anti join against the
       persisted fingerprint index (the same ``fp`` relation the batch
       job maintains).  Stream-static joins are stateless — each
       micro-batch probes the static side, no state store involved —
       and Catalyst broadcast-hashes the index when it fits, so this
       scales exactly like the batch anti-join.
    2. **vs itself**: ``dropDuplicatesWithinWatermark`` on the same
       fingerprint for re-deliveries and intra-stream dups inside the
       watermark horizon (bounded state; see streaming_dedup).

    Rows that survive both layers carry ``fp`` so the sink can append
    them straight onto the index for the next run — identical contract
    to the batch job's ``--index-output``."""
    from pdfminer_six_spark.ops.dedup import normalized_text

    fp = F.md5(
        normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    ).alias("fp")
    keyed = batch_stream.withColumn("fp", fp)
    fresh = keyed.join(
        seen_fps.select("fp").distinct(), "fp", "left_anti"
    )
    return fresh.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )


def streaming_index_maintenance(
    spark: SparkSession,
    batch_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    text_col: str = "text",
):
    """CONTINUOUS fingerprint-index maintenance — the composition that
    closes the incremental-dedup loop: each micro-batch dedups the
    incoming delta against the persisted index
    (:func:`streaming_incremental_dedup`) and appends the survivors'
    ``(doc_id, fp)`` rows back onto that same index, exactly-once.

    Index layout: one ``batch_id=N`` parquet partition per micro-batch
    under ``index_dir`` (plus an empty ``batch_id=-1`` bootstrap so the
    static read binds before any batch commits).  The foreachBatch write
    is mode("overwrite") on its own partition — Structured Streaming may
    REPLAY the last batch after a crash with the same batch_id, and the
    replay then overwrites its own partial output instead of appending
    duplicates (the streaming_idempotent_sink contract).  ONE checkpoint
    per index: batch ids are monotonic per checkpoint, so pointing a
    fresh checkpoint at an existing index would re-mint old partition
    names — the same rule any batch-id-keyed sink has.

    The static index side of the anti-join is re-resolved per
    micro-batch (stream-static semantics), so partitions committed by
    batch N are already visible to batch N+1's history check; within a
    batch, in-stream duplicates fall to the watermark-bounded
    dropDuplicatesWithinWatermark layer.

    Scale: the index relation is (doc_id, fp) only — 48 bytes a row at
    10^12 docs this is the one relation you'd keep as an Iceberg table
    and MERGE INTO instead (same plan shape; the parquet-partition form
    is the no-catalog equivalent)."""
    import os

    if not os.path.exists(os.path.join(index_dir, "batch_id=-1")):
        spark.createDataFrame([], "doc_id long, fp string").write.mode(
            "ignore"
        ).parquet(os.path.join(index_dir, "batch_id=-1"))
    seen = spark.read.schema("doc_id long, fp string").parquet(index_dir)
    fresh = streaming_incremental_dedup(
        batch_stream, seen, watermark=watermark, text_col=text_col
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.select("doc_id", "fp").write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch_id={batch_id}")
        )

    return (
        fresh.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

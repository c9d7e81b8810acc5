"""Structured Streaming variant of the extraction pipeline (SURVEY.md §2.11
streaming row; north-rule resume story).

Incremental ingest of new transcript turns: readStream on a parquet/Iceberg
directory -> the same Arrow-batched extraction kernel (mapInPandas works
unchanged on streaming DataFrames) -> sink with checkpointing, so restart
resumes exactly where the last committed batch ended.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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
):
    """transcripts stream -> extracted parquet with exactly-once resume.
    Each call processes what is in ``input_dir`` now and stops
    (``availableNow``).

    The extraction kernel is identical to the batch path — row-local, so
    it needs no state store; the checkpoint only tracks source offsets
    and sink commits.
    """
    stream = read_transcripts_stream(spark, input_dir)
    extracted = extract_transcripts(stream)
    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


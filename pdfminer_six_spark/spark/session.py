"""SparkSession factory with scale-appropriate defaults.

The knobs here are the ones that matter for the 100 TB design point
(SURVEY.md §4): AQE for runtime re-planning and skew splitting, Arrow for
the UDF boundary, bounded Arrow batch sizes so one batch of multi-MB PDF
payloads cannot blow worker memory, and a shuffle partition count sized for
the local harness (cluster deploys override via spark-submit --conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes kept per JVM: about 4x the ~230 of one corpus-build pass.
CODEGEN_CACHE_ENTRIES = 1024
# Rows and bytes per Arrow batch entering a pandas UDF.
ARROW_BATCH_ROWS = 512
ARROW_BATCH_BYTES = 32 * 1024 * 1024


def build_session(
    app_name: str = "pdfminer-six-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create/tune a session.

    ``ARROW_BATCH_ROWS`` bounds rows per Arrow batch entering pandas UDFs.
    r06: the memory contract moved from the row cap to the BYTE cap —
    Spark 4's ``arrow.maxBytesPerBatch`` bounds *input* batches too
    (probe-verified: 1 MB payload rows arrive 5-to-a-batch under a 4 MB
    cap), so multi-MB PDF payload batches stay flat regardless of the
    row cap, and mostly-small-turn corpora get full-sized batches
    instead of paying per-batch Python overhead 8x as often.
    Interleaved A/B at sf0.1 local[32]: extraction 5.33 -> 4.85 s
    (3101 -> 3405 turns/s) going 64 -> 512 rows under the 32 MB cap.

    The generated-code cache holds ``CODEGEN_CACHE_ENTRIES`` classes, not
    Spark's default 100.  One ``jobs/build.py`` pass compiles 230-233
    distinct classes (``CodegenMetrics``' compile counter, 300 to 1,000
    turns), so under the default each pass evicted every class the next
    pass needed and recompiled all of them: 1.2-2.8 s of Janino time per
    pass, plus HotSpot JIT-compiling the new bytecode again.  The setting is
    static: the cache is sized once per JVM, by the first session that
    generates code, so every session of this package builds here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(str(cpus)) if str(cpus).isdigit() else 8, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash join when its
        # size conditions fit instead of always sorting both sides; AQE
        # skew-split still applies.  Not a local-only tune — the build
        # side must satisfy canBuildLocalHashMap, so giant partitions
        # still take sort-merge.  Interleaved A/B at sf0.1 local[32]:
        # jaccard 3.24->2.47, substring_spans 2.66->2.38,
        # tfidf 1.22->1.02, asof 0.98->0.87 s.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

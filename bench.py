#!/usr/bin/env python3
"""Per-round benchmark.  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec",
 "queries": {...per-query sec...}, "sf": ..., "turns_per_sec": ...}

Headline: the extraction pipeline (turns/sec over a deterministic
transcripts table — the north-star metric), plus the heavyweight relational
and training-data queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Env:
  SPARK_GRAFT_SF_DIR  testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] parallelism (default all cores)
  BENCH_N_CONVS       transcript conversations for the extraction bench
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    n_convs = int(os.environ.get("BENCH_N_CONVS", "1500"))

    from pdfminer_six_spark.spark.session import build_session

    loadavg_start = round(os.getloadavg()[0], 2)
    spark = build_session(app_name="bench")
    sc_defaultpar = spark.sparkContext.defaultParallelism

    from pdfminer_six_spark.datagen.transcripts import transcripts_df
    from pdfminer_six_spark.spark.pipeline import extract_transcripts
    from pdfminer_six_spark.queries import QUERIES

    timings: dict[str, float] = {}

    # --- headline: extraction throughput ---
    # stage the deterministic input as parquet (untimed), then time the
    # scan -> extract -> aggregate pipeline, exactly like a corpus job
    import shutil
    import tempfile

    # per-query best-of-REPEATS: this box is shared with the round
    # driver's own jobs and its frequency/steal noise makes any single
    # pass a coin flip (same-code query walls observed to swing 3-8x
    # within minutes); interference only ever slows a query down, so the
    # min is the faithful engine number.  3 passes because the generated
    # join code needs ~2 runs to JIT (measured 17.6 -> 9.8 -> 7.4s on the
    # shingle join with data caches cleared each run); passes after the
    # first are cheap
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))

    staged = os.environ.get("BENCH_STAGED_DIR")
    staging = staged or tempfile.mkdtemp(prefix="bench_transcripts_")
    try:
        if not (staged and os.path.exists(os.path.join(staging, "_SUCCESS"))):
            transcripts_df(spark, n_convs=n_convs).write.mode(
                "overwrite"
            ).parquet(staging)
        transcripts = spark.read.parquet(staging)
        n_turns = transcripts.count()
        dt_extract = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            extracted = extract_transcripts(transcripts)
            stats = extracted.groupBy("status").count().collect()
            dt = time.perf_counter() - t0
            dt_extract = dt if dt_extract is None else min(dt_extract, dt)
        timings["extract_transcripts"] = round(dt_extract, 3)
        n_ok = sum(r["count"] for r in stats if r["status"] == "ok")
        turns_per_sec = round(n_turns / dt_extract, 1)
    finally:
        if not staged:
            shutil.rmtree(staging, ignore_errors=True)

    # --- relational / ops suite at sf ---
    suite = [] if os.environ.get("BENCH_ONLY_EXTRACT") else [
        "pricing_summary",
        "join_revenue_by_nation",
        "sessionize_events",
        "window_topn_per_customer",
        "range_join_bands",
        "dedup_jaccard_pairs",
        "dedup_minhash_lsh",
        # round-2 additions (per-query values stay comparable across
        # rounds; the suite TOTAL is not comparable to pre-addition runs)
        "dedup_clusters",
        "dedup_decontaminate",
        "text_tfidf_top_terms",
        "asof_join_last_order",
        "text_token_stats",
        "ann_topk_cosine",
        "embedding_near_dups_blocked",
        # round-4 additions
        "dedup_substring_spans",
        "ngram_lm_score",
        "bm25_search",
        # round-5 additions
        "ccnet_buckets",
        "text_repetition",
        "dsir_importance",
        "dedup_incremental",
        "clean_funnel",
        "dedup_incremental_fuzzy",
        "dedup_bloom",
        "train_order",
        "kmeans_assign",
        "cluster_domain_report",
        "tokenizer_fertility",
        "hll_distinct_shingles",
        "text_entropy",
        "hash_embed",
        "pack_nosplit",
        "kn_lm_score",
    ]
    for _ in range(repeats):
        for name in suite:
            fn, _sql = QUERIES[name]
            spark.catalog.clearCache()  # each pass pays its own cache fills
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench suite wall time (extraction + relational ops)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "turns_per_sec": turns_per_sec,
                "n_turns": n_turns,
                "n_turns_ok": n_ok,
                "parallelism": sc_defaultpar,
                # co-tenant contention context: this box also runs the
                # round driver's jobs; loadavg at start/end lets a reader
                # tell a noisy window from a regression (observed same-code
                # suite walls of 57-102s across windows)
                "loadavg_start_1m": loadavg_start,
                "loadavg_end_1m": round(os.getloadavg()[0], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Dump .explain('formatted') for bench-suite queries to plans/r06/.

Usage: python scripts/explain_r06.py before|after [query ...]
Writes plans/r06/<query>_<tag>.txt.  Queries default to the bench suite.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUITE = [
    "pricing_summary",
    "join_revenue_by_nation",
    "sessionize_events",
    "window_topn_per_customer",
    "range_join_bands",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_decontaminate",
    "text_tfidf_top_terms",
    "asof_join_last_order",
    "text_token_stats",
    "ann_topk_cosine",
    "embedding_near_dups_blocked",
    "dedup_substring_spans",
    "ngram_lm_score",
    "bm25_search",
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


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:] or SUITE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r06",
    )
    os.makedirs(out_dir, exist_ok=True)

    from pdfminer_six_spark.spark.session import build_session
    from pdfminer_six_spark.queries import QUERIES

    spark = build_session(app_name=f"explain_r06_{tag}")
    for name in names:
        fn, _sql = QUERIES[name]
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInPandas")
        print(f"{name}: Exchange={n_ex} python={n_py} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()

"""Deduplication operators over ``documents`` (driver brief):
exact, n-gram Jaccard, MinHash+LSH, SimHash — all pure DataFrame ops.

Scale notes (100 TB): exact dedup is one hash-aggregate (map-side partial).
Jaccard/minhash shingle explosion multiplies rows by ~tokens-per-doc; the
LSH band join replaces the O(n²) pair join with an equi-join on
(band, band_hash) — the only strategy that survives at 10^9 docs.  SimHash
reduces each doc to one 64-bit signature and joins on rotated prefixes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from pdfminer_six_spark.ops.textstats import normalized_text, tokens_col

__all__ = [
    "normalized_text",  # re-export: historical home of the normalizer
    "exact_duplicates", "incremental_exact", "incremental_minhash",
    "bloom_build", "bloom_filter_batch",
    "shingles", "jaccard_pairs",
    "minhash_signatures", "minhash_lsh_candidates",
    "minhash_near_duplicates", "simhash_signatures", "simhash_verify",
    "duplicate_clusters", "duplicate_spans",
    "remove_duplicate_spans",
]


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by normalized-text hash: one row per duplicate group
    (n_docs > 1) with the canonical (min) doc_id."""
    h = df.select(
        F.col("doc_id"), F.md5(normalized_text(F.col(text_col))).alias("fp")
    )
    return (
        h.groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def incremental_exact(
    batch: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental exact dedup: dedup a NEW batch against a historical
    fingerprint index — the shape a continuously-crawled corpus actually
    runs at 100 TB (you never re-dedup the full corpus; you dedup the
    delta).  ``seen_fps`` is a relation with an ``fp`` column of md5
    normalized-text fingerprints, exactly the ``fp`` that
    ``exact_duplicates`` and this function emit, so the surviving rows'
    ``fp`` column appends straight back onto the index for the next
    batch.

    Returns the batch rows that survive: fp not present in ``seen_fps``
    AND minimal ``id_col`` within their in-batch fp group (new
    duplicates dedup among themselves), with ``fp`` attached.

    Scale shape: every shuffle in phase 1 carries (id, fp) pairs only —
    never text.  drop_ids = (batch ids hitting the index) union (in-batch
    non-canonical ids); for a sane crawl the duplicate rate is a few
    percent, so drop_ids is small relative to the batch and the final
    anti-join broadcasts it — the batch text is NEVER shuffled (the
    decontaminate design).  NULL text is hashed as the empty string
    (NULL fps would silently skip both the anti-join equality and the
    join-back, exempting every NULL-text row from dedup), so NULL and
    ``''`` documents are one duplicate group here — a deliberate,
    documented divergence from ``exact_duplicates``'s NULL fp group."""
    fp = F.md5(
        normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    ).alias(fp_col)
    ids = batch.select(F.col(id_col), fp)
    seen = seen_fps.select(fp_col).distinct()
    # phase 1 — (id, fp) only.  r06: ONE left join against the distinct
    # index classifies every batch row as hit/fresh at once (equivalent
    # to the old semi+anti pair because `seen` is distinct — no row
    # multiplication), and the classified relation is PERSISTED: it used
    # to be recomputed for the semi join, the anti join, the min
    # aggregate and the non-canonical join-back, each replay re-scanning
    # the batch and re-hashing every document (52 parquet scans in the
    # before-plan at 3 consumers x duplicated union input).  The cached
    # relation is (id, 32-char fp, flag) — never text.  Bench A/B at
    # sf0.1 local[32]: dedup_incremental 1.16 -> 0.75 s; static plan 52
    # -> 25 Scan-parquet nodes (the formatted plan reprints the cached
    # relation's build subtree per reference; at runtime the cache
    # fills once, so 5 distinct source scans execute).
    marked = ids.join(
        seen.withColumn("_hit", F.lit(True)), fp_col, "left"
    ).persist()
    hit_seen = marked.filter(F.col("_hit").isNotNull()).select(id_col)
    fresh = marked.filter(F.col("_hit").isNull()).select(id_col, fp_col)
    keep_min = fresh.groupBy(fp_col).agg(F.min(id_col).alias("_keep_id"))
    non_canonical = (
        fresh.join(keep_min, fp_col)
        .filter(F.col(id_col) != F.col("_keep_id"))
        .select(id_col)
    )
    drop_ids = F.broadcast(hit_seen.unionByName(non_canonical))
    # phase 2 — the only touch of the wide batch rows; fp is a pure
    # projection, cheaper to recompute than to join back
    return batch.join(drop_ids, id_col, "left_anti").withColumn(fp_col, fp)


def shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    assume_unique_ids: bool = True,
) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams of the normalized text.
    Pure built-ins: split -> transform(sequence) -> array_distinct ->
    explode.

    The per-doc dedup happens INSIDE the row (``array_distinct`` before
    the explode), not as ``.distinct()`` on the exploded relation: with
    one row per doc_id both are the same set, but the post-explode
    distinct is a full shuffle of every shingle string AND a shuffle
    boundary that blocks downstream aggregations' map-side partials
    (minhash partials then ride the doc_id shuffle as 16 longs per doc
    instead of all shingle strings).  Interleaved best-of A/B at sf0.1:
    minhash_near_duplicates 5.69 -> 4.87 s, jaccard_pairs(max_df)
    8.13 -> 5.24 s, byte-identical output on both.

    ``assume_unique_ids`` is the contract that makes the no-shuffle form
    valid: one row per doc_id (true for the documents table and for any
    sane corpus — jobs/dedup.py states it as an input requirement).
    Pass False for relations where a doc_id can repeat; that reinstates
    the exploded-relation distinct at full shuffle cost."""
    # n-gram construction: zip_with over n shifted slices of a PROJECTED
    # token column — deliberately NOT transform(sequence, i ->
    # slice(toks, i+1, n)) over the raw tokenization expression: a lambda
    # that references the unprojected `toks` re-evaluates the whole
    # regexp split per ELEMENT (O(tokens^2 * len) per row), while the
    # zip_with form evaluates each slice once per ROW.  Interleaved
    # best-of A/B at sf0.1, identical output both ways (exceptAll 0/0):
    # the shingle base aggregate dropped 8.2 -> 1.1 s.
    # NOT rebalanced (cf. textstats.rebalance_for_compute): an interleaved
    # A/B at sf0.1 measured the round-robin text shuffle SLOWER here
    # (jaccard_pairs 3.3 -> 7.7 s) — the shingle relation feeds equi-joins
    # and doc_id aggregates whose own exchanges already spread the work,
    # so the extra scan shuffle only adds cost.  repetition_signals keeps
    # the rebalance because its whole op is scan-local (no downstream
    # exchange to piggyback on): 5.4 -> 2.2 s same A/B.
    toks = tokens_col(normalized_text(F.col(text_col)))
    base = df.select("doc_id", toks.alias("_toks"))
    t = F.col("_toks")
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    arrs = [F.slice(t, i + 1, m) for i in range(n)]
    grams_zip = arrs[0]
    for arr in arrs[1:]:
        grams_zip = F.zip_with(
            grams_zip, arr, lambda a, b: F.concat_ws(" ", a, b)
        )
    grams = F.when(F.size(t) >= n, grams_zip).otherwise(
        F.array(F.concat_ws(" ", t))
    )
    out = (
        base.select(
            "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
        )
        .filter(F.col("shingle") != "")
    )
    if not assume_unique_ids:
        out = out.distinct()
    return out


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard>=t).

    The shingle equi-join computes |A∩B| with a shuffle on shingle — a
    shingle with document frequency d produces ~d²/2 join rows, so a hot
    shingle is the classic scale-killer.  ``max_df`` is the
    document-frequency cut: shingles appearing in more than ``max_df``
    docs are dropped BEFORE the self-join, bounding per-key fan-out at
    max_df²/2.  Both the intersection AND the per-doc sizes are computed
    over the reduced shingle universe, so the score stays a well-defined
    Jaccard (over informative shingles) — and is exactly the full Jaccard
    whenever no shingle exceeds the cut.  ``max_df=None`` disables the cut
    (exact oracle mode).

    Shingles are xxhash64'd before the join: the shuffle moves 8-byte longs
    instead of strings, and the join keys compare in one instruction.  A
    64-bit collision would need ~2^32 distinct shingles per corpus slice to
    become likely; counts are otherwise identical to the string join.

    Input contract: doc_id is unique per row (``shingles()`` default
    ``assume_unique_ids=True``) — a repeated doc_id would double-count its
    shingles into the Jaccard denominators without error.  For relations
    where a doc_id can repeat, dedup by doc_id first (or call the shingle
    path with ``assume_unique_ids=False`` at full shuffle cost)."""
    if max_df is not None:
        # r06: the DF-cut path groups each shingle's (distinct-per-doc)
        # id list ONCE and generates its <= max_df^2/2 pairs inside the
        # row, instead of hot-set agg + broadcast anti-join + self-join
        # (which read the cached shingle relation four times and
        # shuffled it twice more).  The cut itself becomes a free
        # size(ds) filter; per-doc sizes re-derive by exploding the kept
        # lists.  Per-shingle fan-out is BOUNDED by the cut (that is the
        # whole point of max_df), so no single task sees more than
        # max_df^2/2 generated pairs per shingle — the skew story is
        # identical to the join formulation, whose per-key join fan-out
        # was the same d^2/2.  Rows are provably identical: each kept
        # shingle contributes exactly one (least, greatest) pair per
        # co-occurring doc pair, which is what the a<b equi-join
        # counted.  kept is persisted — sizes and the pair explode both
        # consume it, and it is the post-cut grouped relation (bounded
        # lists), not the raw corpus.
        kept = (
            shingles(df, text_col, n)
            .select("doc_id", F.xxhash64("shingle").alias("shingle"))
            .groupBy("shingle")
            .agg(F.collect_list("doc_id").alias("ds"))
            .filter(F.size("ds") <= max_df)
            .persist()
        )
        sizes = (
            kept.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_sh"))
        )
        pair_expr = (
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> "
            "named_struct('a', least(x, y), 'b', greatest(x, y)))))"
        )
        inter = (
            kept.select(F.explode(F.expr(pair_expr)).alias("p"))
            .groupBy(
                F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
            )
            .agg(F.count("*").alias("n_common"))
        )
    else:
        # exact oracle mode: unbounded fan-out, keep the equi-join shape
        # (a grouped list of an uncut hot shingle would concentrate its
        # whole d^2 in one task).  Cache: the sizes agg and both
        # self-join sides read the base relation.
        sh = (
            shingles(df, text_col, n)
            .select("doc_id", F.xxhash64("shingle").alias("shingle"))
            .cache()
        )
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        inter = (
            sh.alias("a")
            .join(sh.alias("b"), on="shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """minhash signatures from a prepared (doc_id, shingle) relation.

    Expressions are built as SQL strings (one JVM parse each) rather
    than nested Column DSL — the kmeans _assign lesson: this plan is
    rebuilt on every bench invocation and the Column form paid ~0.2 s
    of py4j round-trips per build across the 16 seeded aggregates.
    Identical expressions, A/B-verified row-identical."""
    aggs = [
        F.expr(f"min(xxhash64(concat('mh{i}:', shingle)))").alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    arr = "array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")"
    return sig.select("doc_id", F.expr(arr).alias("sig"))


def minhash_signatures(
    df: DataFrame, num_hashes: int = 16, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, sig array<long>) — minhash over shingles with k seeded
    xxhash64 functions (seed via per-function prefix)."""
    return _signatures_from_shingles(shingles(df, text_col, n), num_hashes)


def _banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int, keep_sig: bool = False
) -> DataFrame:
    """(doc_id, band, bucket) from a (doc_id, sig array<long>) relation:
    each band's slice of the signature hashes to one 8-byte bucket key,
    so the similarity join becomes an equi-join on (band, bucket).
    ``keep_sig=True`` additionally carries the signature array through
    the explode (column order doc_id, band, bucket, sig) — callers that
    want banded rows WITH their signature (the fixture writers) get them
    from the one projection instead of joining the signature relation
    back on doc_id (one row per doc_id, so the rows are identical)."""
    rows_per_band = num_hashes // bands
    # one SQL string per plan build (see _signatures_from_shingles) —
    # sig[i] below is 0-based via element_at(sig, i+1)
    bands_sql = ",".join(
        "named_struct('band', {b}, 'bucket', xxhash64(concat_ws(',', {parts})))".format(
            b=b,
            parts=",".join(
                f"cast(element_at(sig, {b * rows_per_band + r + 1}) as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    out = sig.select(
        "doc_id", "sig", F.explode(F.expr(f"array({bands_sql})")).alias("bb")
    )
    if keep_sig:
        return out.select("doc_id", "bb.band", "bb.bucket", "sig")
    return out.select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.
    The O(n²) similarity join becomes an equi-join on (band, band_hash).
    The shingle relation is recomputed per consumer on purpose: sharing a
    persisted copy was A/B-measured SLOWER (7.5 vs 6.5 s at sf0.1) than
    letting whole-stage codegen pipeline the recomputation — see the
    minhash_near_duplicates docstring."""
    sig = _signatures_from_shingles(shingles(df, text_col, n), num_hashes)
    banded = _banded_signatures(sig, num_hashes, bands)
    return (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Scale-path near-dup: LSH candidates verified by exact Jaccard,
    computed ONLY for the candidate pairs (the whole point of banding:
    verification cost ∝ candidates, not ∝ all co-occurring pairs).
    Equals jaccard_pairs when LSH recall is 1 (verified in tests).

    The shingle relation feeds BOTH the signature aggregation and the
    verification sets.  Persisting it was measured SLOWER, not faster
    (interleaved best-of-3 at sf0.1, cache cleared between runs: persist
    7.5s vs recompute 6.5s): the subplan is pure whole-stage-codegen
    (split -> n-gram transform -> explode) that pipelines straight into
    each aggregation, while caching materializes ~millions of shingle
    strings through the block manager.  Recomputation is deliberate."""
    cand = minhash_lsh_candidates(df, num_hashes, bands)
    sh = shingles(df).select("doc_id", F.xxhash64("shingle").alias("shingle"))
    # shingles() is distinct per doc, so |set| IS the shingle count — one
    # aggregation serves both the set and its size (no separate count
    # branch, two fewer join shuffles)
    sh_sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("sset"))
    scored = (
        cand.join(
            sh_sets.select(F.col("doc_id").alias("doc_a"),
                           F.col("sset").alias("set_a")),
            "doc_a",
        )
        .join(
            sh_sets.select(F.col("doc_id").alias("doc_b"),
                           F.col("sset").alias("set_b")),
            "doc_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("set_a", "set_b"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("set_a") + F.size("set_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return scored


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    min_shared: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination scan — the decontamination step every
    pretraining corpus runs: find training documents sharing word
    n-grams with an evaluation set (the n-gram-collision test, usually
    with n in the 8-13 range; n is a dial here because the synthetic
    docs are short).

    Shape at scale: both sides shingle locally (no shuffle), the eval
    side is tiny relative to train — Spark broadcasts it, so the train
    corpus is never shuffled at all: scan -> explode -> broadcast-join
    -> partial-agg.  Returns (train_doc, eval_doc, n_shared).

    Input contract: doc_id unique per row on BOTH sides (``shingles()``
    default ``assume_unique_ids=True``) — a repeated id would inflate
    n_shared for its pairs without error."""
    tr = shingles(train, text_col, n).select(
        F.col("doc_id").alias("train_doc"),
        F.xxhash64("shingle").alias("shingle"),
    )
    ev = shingles(eval_df, text_col, n).select(
        F.col("doc_id").alias("eval_doc"),
        F.xxhash64("shingle").alias("shingle"),
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def contamination_rates(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Per-eval-document contamination RATE — the reporting side of the
    decontamination scan (GPT-3/PaLM-style: an eval example is flagged
    when at least ``threshold`` of its distinct word n-grams appear
    anywhere in the training corpus).

    Returns (eval_doc, n_grams, n_hit, rate, contaminated) where
    ``n_grams`` counts the eval doc's distinct shingles, ``n_hit`` those
    also present in train, ``rate = n_hit/n_grams`` rounded to the shared
    6 decimals, and ``contaminated = n_hit>0 AND rate >= threshold``
    (compared on the unrounded ratio of integers — no boundary ties).

    Shape at scale: identical to contamination_pairs — both sides
    shingle locally, the tiny eval side broadcasts, the train corpus is
    never shuffled; the only aggregations are over hit rows (bounded by
    eval size × train df) and the eval gram totals.  Eval docs whose text
    yields no non-empty shingle (empty/NULL text) have no defined rate
    and drop out.

    Input contract: doc_id unique per row on BOTH sides, as for
    contamination_pairs."""
    tr = shingles(train, text_col, n).select(
        F.xxhash64("shingle").alias("shingle")
    )
    ev = shingles(eval_df, text_col, n).select(
        F.col("doc_id").alias("eval_doc"),
        F.xxhash64("shingle").alias("shingle"),
    )
    totals = ev.groupBy("eval_doc").agg(
        F.count(F.lit(1)).alias("n_grams")  # shingles() is distinct per doc
    )
    hits = (
        tr.join(F.broadcast(ev), "shingle")
        .select("eval_doc", "shingle")
        .distinct()
        .groupBy("eval_doc")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    joined = totals.join(hits, "eval_doc", "left").select(
        "eval_doc",
        "n_grams",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
    )
    ratio = F.col("n_hit").cast("double") / F.col("n_grams")
    return joined.select(
        "eval_doc",
        "n_grams",
        "n_hit",
        F.round(ratio, 6).alias("rate"),
        ((F.col("n_hit") > 0) & (ratio >= threshold)).alias("contaminated"),
    )


def _checkpointer(df_like: DataFrame, reliable: bool):
    """Pick the per-round lineage cut for the iterative cluster loops.

    ``localCheckpoint`` stores blocks on executors — cheap, but a lost
    executor loses the blocks and fails the job (acceptable in local mode
    and for short loops).  With ``reliable=True`` the loop uses
    ``checkpoint()``, which writes to the fault-tolerant checkpoint dir
    (``spark.sparkContext.setCheckpointDir`` — jobs/dedup.py
    --checkpoint-dir) and survives executor loss, at the cost of a
    distributed-FS write per round.  On a real cluster running hours-long
    dedup over 10^9 docs, reliable is the right default; raise early if
    it is requested without a configured dir instead of failing rounds in.
    """
    if not reliable:
        return lambda df: df.localCheckpoint()
    sc = df_like.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise RuntimeError(
            "reliable_checkpoint=True requires "
            "spark.sparkContext.setCheckpointDir(...) "
            "(jobs/dedup.py --checkpoint-dir)"
        )
    return lambda df: df.checkpoint()


def duplicate_clusters(
    pairs: DataFrame, max_iter: int = 25, reliable_checkpoint: bool = False
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step a
    real corpus dedup ends with: pair evidence (from any of the similarity
    families above) is transitive-closed into clusters so one canonical
    doc per cluster survives.

    Iterative hash-min label propagation: every node starts labeled with
    its own id; each round every node takes the min of its label and its
    neighbors' labels; converged when no label changes.  Rounds needed =
    cluster diameter, which for near-dup clusters is small (dup clusters
    are near-cliques).  Each round is ONE shuffle (join on node id +
    min-aggregate); `localCheckpoint` after every round cuts the
    otherwise-exponential lineage and detaches the loop from the
    (potentially expensive) pair-producing plan.  For adversarial
    long-chain graphs the same primitives support the large-star/
    small-star alternation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), which converges in O(log n) rounds; plain
    hash-min is the right default for dedup-shaped graphs.

    Returns (doc_id, cluster_id, cluster_size) for every doc that appears
    in at least one pair; cluster_id is the min doc_id of the component.
    ``reliable_checkpoint`` switches the per-round lineage cut from
    executor-local blocks to the fault-tolerant checkpoint dir (see
    :func:`_checkpointer` for the executor-loss tradeoff).
    """
    ckpt = _checkpointer(pairs, reliable_checkpoint)
    # r06: symmetrize with ONE explode, not a union of two projections —
    # the union's two subtrees each re-evaluated the entire pair-producing
    # plan (the LSH pipeline), doubling the edges materialization.  Same
    # row bag before the distinct (each pair emits both directions).
    edges = ckpt(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        merged = ckpt(  # materializes: one action per round
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
            )
        )
        changed = merged.filter(F.col("label") != F.col("old_label")).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        # hash-min needs diameter-many rounds; a component longer than
        # max_iter would otherwise yield silently-wrong labels (and a
        # dedup job would then drop the wrong documents).  Fall back to
        # the O(log n)-round star algorithm, which converges on any
        # graph and produces the identical (doc_id, cluster_id) output.
        import warnings

        warnings.warn(
            f"duplicate_clusters: not converged after {max_iter} rounds "
            f"({changed} labels still moving) — component diameter exceeds "
            "max_iter; falling back to duplicate_clusters_star",
            RuntimeWarning,
            stacklevel=2,
        )
        return duplicate_clusters_star(
            pairs, reliable_checkpoint=reliable_checkpoint
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def duplicate_clusters_star(
    pairs: DataFrame, max_iter: int = 40, reliable_checkpoint: bool = False
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round alternative to ``duplicate_clusters`` for
    adversarial graphs (long chains), where plain hash-min needs
    diameter-many rounds.

    Each half-round is pure relational algebra — a per-node min
    aggregate joined back to the edge list (NO per-node neighbor-list
    collection, so a high-degree node never materializes its
    neighborhood in one task):

        large-star: for every node u with m = min(N(u) ∪ {u}),
                    rewire each neighbor v > u to m
        small-star: rewire each neighbor v <= u (and u itself) to m

    Terminates when the edge multiset stops changing (checksum action,
    one job per round); at fixpoint every edge is (node, root).  Output
    matches duplicate_clusters exactly: (doc_id, cluster_id,
    cluster_size) with cluster_id = min member."""
    # undirected edge list, deduped; u is the "center" endpoint.
    # r06: one-explode symmetrization (see duplicate_clusters) — the old
    # union re-evaluated the pair-producing plan twice.
    ckpt = _checkpointer(pairs, reliable_checkpoint)
    base = ckpt(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
                    ),
                    F.struct(
                        F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = ckpt(base.select(F.col("u").alias("node")).distinct())

    def _min_map(edges: DataFrame) -> DataFrame:
        # m(u) = min over N(u) ∪ {u}
        return edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        m = _min_map(edges)
        joined = edges.join(m, "u")
        if large:
            rewired = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            rewired = (
                joined.filter(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .union(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
            )
        # back to symmetric undirected form, self-loops dropped.  One
        # explode (r06): the union form re-ran the edges⋈min-map join
        # per direction every half-round.
        sym = rewired.filter(F.col("a") != F.col("b"))
        return (
            sym.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("u"), F.col("b").alias("v")
                        ),
                        F.struct(
                            F.col("b").alias("u"), F.col("a").alias("v")
                        ),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .distinct()
        )

    edges = base
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        edges = ckpt(_star(_star(edges, large=True), large=False))
        chk = edges.agg(
            F.count("*").alias("n"),
            # XOR, not SUM: order-independent and overflow-free under
            # ANSI mode (a 64-bit hash SUM overflows LongType)
            F.bit_xor(F.xxhash64("u", "v")).alias("s"),
        ).collect()[0]
        cur = (chk["n"], chk["s"])
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # star alternation converges in O(log n) rounds on ANY graph;
        # exhausting max_iter means the edge multiset never stabilized —
        # labels from it would be silently wrong, so fail loudly.
        raise RuntimeError(
            f"duplicate_clusters_star: edge multiset not stable after "
            f"{max_iter} rounds — raise max_iter (graph has ~>2^{max_iter} "
            "diameter, which should be impossible for star rounds)"
        )
    # at fixpoint each non-root points at its root; roots have no
    # outgoing u>v edge — label = min neighbor (or self for roots)
    labels = (
        nodes.join(edges, nodes["node"] == edges["u"], "left")
        .groupBy("node")
        .agg(F.least(F.min("v"), F.first("node")).alias("label"))
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def simhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over tokens: per-bit majority vote of token hashes,
    expressed with explode + bitwise built-ins (no Python in the loop)."""
    from pyspark.sql.types import LongType

    toks = df.select(
        "doc_id", F.explode(tokens_col(normalized_text(F.col(text_col)))).alias("tok")
    )
    hashed = toks.withColumn("h", F.xxhash64("tok"))

    @F.pandas_udf(LongType())
    def simhash_agg(hs: pd.Series) -> int:
        # vectorized per-bit majority vote (Arrow grouped-agg UDF):
        # a 64-wide CASE/SUM aggregate is a codegen blowup; numpy is ~50x
        u = hs.to_numpy(dtype=np.int64).view(np.uint64)
        bits = (u[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        # signed! 2*sum-n underflows in uint64 when a bit is mostly 0
        votes = 2 * bits.sum(axis=0).astype(np.int64) - len(u)
        sig = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            sig |= np.uint64(1) << np.uint64(b)
        return int(sig.astype(np.int64))

    return hashed.groupBy("doc_id").agg(simhash_agg("h").alias("simhash"))


def simhash_verify(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """The blocking + verification stage of SimHash near-dup detection,
    factored over any (doc_id, simhash:long) relation: block on 16-bit
    quarters (a pair within hamming<=3 shares at least one exact
    quarter — pigeonhole), then verify by popcount of the XOR.

    Composed as ``simhash_verify(simhash_signatures(df))``; factored out,
    the stage is independently oracle-able: given a deterministic
    signature fixture both engines can compute, the quarter-join +
    hamming math is plain SQL in DuckDB too (the only engine-specific
    piece of the full op is the xxhash64 signature generation)."""
    quarters = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned("simhash", q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("qv"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("qq"),
    ).select("doc_id", "simhash", "qq.q", "qq.qv")
    cand = (
        quarters.alias("a")
        .join(quarters.alias("b"), on=["q", "qv"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 30,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans — the span-level sibling of
    :func:`exact_duplicates`, after Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499):
    a k-char gram of the normalized text is *duplicated* when its hash
    occurs >= ``min_count`` times anywhere in the corpus (cross- or
    within-doc — both matter for training data); per doc, duplicated
    gram starts closer than k chars merge into maximal spans
    (gaps-and-islands).  Returns (doc_id, span_start, span_end,
    span_len, n_grams), positions 1-based over the normalized text.

    The paper builds one corpus-wide suffix array — a single-machine
    construction.  The Spark-native equivalent is this fixed-k gram
    relation: hashes are computed row-local (``transform`` over
    ``sequence``, so ``posexplode`` emits only (doc_id, pos, h) and the
    document string never rides through the explode), duplication is a
    count aggregate with map-side partials, and the join back is an
    equi-join on h that AQE can skew-split when one boilerplate gram
    (license header, site template) occurs millions of times.  That is
    why this is agg+join rather than ``COUNT() OVER (PARTITION BY h)``:
    the window shuffles the same gram rows once but concentrates each
    hot h in a single task with no skew mitigation.  The gram relation
    is deliberately recomputed for the join side (scan + md5 twice)
    instead of cached — at corpus scale the gram relation is ~the
    corpus itself and pinning it evicts everything else.  The island
    merge reuses the window's hashpartitioning(doc_id): groupBy(doc_id,
    island) satisfies its clustering requirement, so no further
    gram-relation shuffle.
    """
    normed = df.select(
        "doc_id", normalized_text(F.col(text_col)).alias("_norm")
    ).filter(F.length("_norm") >= k)
    # The explode amplifies each input row ~len(text)-fold, so upstream
    # partitioning decides the gram stage's parallelism.  A big corpus
    # scan already yields >= defaultParallelism splits and this branch
    # never fires; a small/single-file input would otherwise hash every
    # gram on ONE core (measured 5.0s -> 0.3s at sf0.1, local[32]).
    sc = df.sparkSession.sparkContext
    if normed.rdd.getNumPartitions() < sc.defaultParallelism:
        normed = normed.repartition(sc.defaultParallelism)
    s = F.col("_norm")
    # xxhash64, NOT md5: one 8-byte long per gram instead of a 32-char
    # digest string.  The gram stage materializes len(text) hashes per
    # doc, so digest strings make it allocation/GC/bandwidth-bound —
    # measured on the 8x sf0.1 corpus (40k docs) the md5 variant scaled
    # 1.37x from 8 to 32 cores (memory-wall, not CPU) and the long
    # variant both runs faster and shuffles 4x narrower keys.  The
    # DuckDB oracle keeps md5: engines only need ANY consistent gram
    # hash because the compared output is the spans; a cross-doc 64-bit
    # collision (expected colliding pairs ~ n_grams^2 / 2^65, ~1e-6 at
    # 10M grams) could at worst mint one spurious k-char span.
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.length(s) - k + 1),
        lambda i: F.xxhash64(s.substr(i, F.lit(k))),
    )
    grams = normed.select(
        "doc_id", F.posexplode(gram_hashes).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    dup_h = (
        grams.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    dup_pos = grams.join(dup_h, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # first row of a doc: lag is NULL -> comparison NULL -> otherwise(1)
    new_island = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    islands = dup_pos.withColumn(
        "island",
        F.sum(new_island).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - 1).alias("span_end"),
            (F.max("pos") - F.min("pos") + k).alias("span_len"),
            F.count("*").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "span_len", "n_grams")
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 30,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Excise the :func:`duplicate_spans` ranges from every document —
    the actual cleanup step of Lee et al. 2022 (their ExactSubstr dedup
    deletes the duplicated character ranges and keeps the remainder).
    Returns (doc_id, text_clean, n_spans, n_chars_removed) with one row
    per input doc; text_clean is over the NORMALIZED text (the dedup
    family's canonical form — positions from duplicate_spans only make
    sense there), docs with no duplicated spans pass through with
    n_spans = 0.

    Span surgery is pure built-ins: the per-doc span list (spans are
    disjoint with >=1 char gap by construction — islands merge anything
    closer than k) is collected, sorted, and folded with ``F.aggregate``
    whose accumulator is (kept-so-far, prev_end); each step appends the
    inter-span segment, the finisher appends the tail.  Whole-stage
    codegen, no UDF.  Scale shape: the spans relation is small (only
    duplicated regions survive), so the join back to the corpus is a
    doc_id equi-join that AQE broadcasts when spans fit, and the span
    collect_list reuses the island aggregate's hashpartitioning(doc_id)
    — no extra corpus shuffle beyond the one join.

    Input contract (same as paragraph_dedup / jobs/dedup.py): doc_id is
    UNIQUE and NON-NULL.  A repeated doc_id would pool both rows' gram
    positions into one island stream (nonsense spans) and cross-multiply
    on the join back; NULL doc_ids never match the join key and pass
    through unexcised."""
    spans_by_doc = (
        duplicate_spans(df, k=k, min_count=min_count, text_col=text_col)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("_spans"),
            F.count("*").alias("n_spans"),
        )
    )
    normed = df.select(
        "doc_id", normalized_text(F.col(text_col)).alias("_s")
    )
    s = F.col("_s")
    folded = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit("").alias("txt"), F.lit(0).alias("prev")),
        lambda acc, sp: F.struct(
            F.concat(
                acc["txt"],
                s.substr(
                    acc["prev"] + F.lit(1),
                    sp["span_start"] - acc["prev"] - F.lit(1),
                ),
            ).alias("txt"),
            sp["span_end"].alias("prev"),
        ),
        lambda acc: F.concat(
            acc["txt"], s.substr(acc["prev"] + F.lit(1), F.length(s))
        ),
    )
    return (
        normed.join(spans_by_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_spans").isNull(), s)
            .otherwise(folded)
            .alias("text_clean"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            "_s",
        )
        .select(
            "doc_id",
            "text_clean",
            "n_spans",
            (
                F.coalesce(F.length("_s"), F.lit(0))
                - F.coalesce(F.length("text_clean"), F.lit(0))
            ).alias("n_chars_removed"),
        )
    )


def incremental_minhash(
    batch: DataFrame,
    index_sig: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    n: int = 3,
    batch_sig: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy incremental dedup: match a NEW crawl batch against a
    HISTORICAL minhash-signature index — the near-dup counterpart of
    :func:`incremental_exact`, and the shape continuous ingestion
    actually runs (the historical text is gone; only the model-sized
    ``(doc_id, sig)`` index from :func:`minhash_signatures` persists,
    appended batch over batch).

    The batch's signatures band exactly like the index's; candidates are
    the band-bucket equi-join of batch x index, and each candidate is
    verified by the ESTIMATED Jaccard — the fraction of agreeing
    signature components (the standard estimator: E[match fraction] =
    true Jaccard; with the historical shingle sets discarded, exact
    verification is impossible by design).  Emits ``(doc_id, hist_id,
    est_jaccard)`` for pairs with ``est_jaccard >= threshold``.

    Scale shape (100 TB): the index never rebuilds — each batch appends
    its signatures.  Every shuffle carries (id, band, bucket) or
    (id, sig) rows — 16 longs per doc, never text; the band join is an
    equi-join (no broadcast of the index needed — it range-partitions by
    bucket and batches probe it), and verification joins only the
    candidate pairs' signatures.  Estimator granularity is 1/num_hashes,
    so thresholds should sit strictly between representable fractions
    (0.6 with 16 hashes ≡ >= 10/16).

    ``batch_sig`` lets a caller that has ALREADY computed (and typically
    persisted) the batch's signatures pass them in instead of paying the
    corpus scan + shingle explode + minhash aggregate again — the batch
    signature relation feeds two consumers here (banding + the agreement
    verify), so an unpersisted recompute costs two extra corpus passes.
    Must be exactly ``minhash_signatures(batch, num_hashes, text_col,
    n)``; equality of both paths is pytest-pinned."""
    bsig = (
        batch_sig
        if batch_sig is not None
        else minhash_signatures(batch, num_hashes, text_col, n)
    )
    bb = _banded_signatures(bsig, num_hashes, bands)
    ib = _banded_signatures(index_sig, num_hashes, bands)
    cand = (
        bb.alias("a")
        .join(ib.alias("b"), on=["band", "bucket"])
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("hist_id"),
        )
        .distinct()
    )
    agree = F.zip_with(
        F.col("bs"), F.col("hs"), lambda x, y: (x == y).cast("int")
    )
    est = (
        F.aggregate(agree, F.lit(0), lambda acc, x: acc + x).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(bsig.withColumnRenamed("sig", "bs"), "doc_id")
        .join(
            index_sig.select(
                F.col("doc_id").alias("hist_id"), F.col("sig").alias("hs")
            ),
            "hist_id",
        )
        .select(
            "doc_id",
            "hist_id",
            F.round(est, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def _bloom_hashes(fp_col, m_bits: int):
    """(h1, h2) double-hashing bases from an md5 fingerprint column:
    two 60-bit integers parsed from disjoint 15-hex-char slices of the
    digest.  60 bits keeps ``h1 + (k-1) * h2`` far below 2^63, so the
    bit-index arithmetic ``(h1 + i*h2) % m`` is overflow-free in any
    signed-64 engine — the same expression is replayable verbatim in
    SQL, which is what makes the Bloom verdicts hard-oracleable."""
    return (
        F.conv(F.substring(fp_col, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(fp_col, 17, 15), 16, 10).cast("long"),
    )


def bloom_build(
    hist: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 7,
    text_col: str = "text",
) -> bytes:
    """Build a Bloom filter over a historical corpus' normalized-text
    fingerprints — the BFF-shape membership index (a fixed-size byte
    artifact) that replaces the ever-growing fingerprint JOIN of
    :func:`incremental_exact` with a CONSTANT-size broadcast.

    Each partition ORs its documents' k bit positions into a local
    numpy bitset (``mapInPandas`` — Arrow-batched, one m/8-byte row per
    partition); the driver ORs the partial bitsets (a bitset OR is
    associative+commutative, i.e. fully mergeable — at 10^5 partitions
    you'd add one tree level by pre-ORing per executor group, same
    algebra).  Deterministic: bit positions are ``(h1 + i*h2) % m``
    double hashing (Kirsch & Mitzenmacher 2006) from md5 slices, no RNG.
    """
    import numpy as np

    fp = F.md5(normalized_text(F.coalesce(F.col(text_col), F.lit(""))))
    h1, h2 = _bloom_hashes(fp, m_bits)
    hashes = hist.select(h1.alias("h1"), h2.alias("h2"))
    n_bytes = m_bits // 8

    def _partial(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf_ in batches:
            if not len(pdf_):
                continue
            seen = True
            a1 = pdf_["h1"].to_numpy(dtype=np.int64)
            a2 = pdf_["h2"].to_numpy(dtype=np.int64)
            for i in range(k):
                idx = (a1 + i * a2) % m_bits
                np.bitwise_or.at(bits, idx // 8, 1 << (idx % 8).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    partials = hashes.mapInPandas(_partial, "bits binary").collect()
    out = np.zeros(n_bytes, dtype=np.uint8)
    for row in partials:
        out |= np.frombuffer(row["bits"], dtype=np.uint8)
    return out.tobytes()


def bloom_filter_batch(
    batch: DataFrame,
    bloom: bytes,
    m_bits: int = 1 << 20,
    k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a new crawl batch against a Bloom filter built by
    :func:`bloom_build`: adds ``maybe_seen`` (true = all k bits set =
    probably in history, false = DEFINITELY new).  One-sided error is
    the Bloom contract: a ``maybe_seen`` row may be a false positive
    (rate ~ (1 - e^{-kn/m})^k), a ``false`` row is never wrong — so
    dropping ``maybe_seen`` rows trades a bounded sliver of fresh data
    for never re-admitting a duplicate, the standard crawl-dedup choice.

    Scale shape: the filter ships ONCE per executor as a broadcast
    (m/8 bytes — constant, unlike the fingerprint index it replaces);
    the probe is a vectorized Arrow-batched numpy lookup over
    JVM-computed (h1, h2) columns — no join, no shuffle, the batch text
    never moves."""
    import numpy as np

    spark = batch.sparkSession
    bc = spark.sparkContext.broadcast(bloom)
    fp = F.md5(normalized_text(F.coalesce(F.col(text_col), F.lit(""))))
    h1, h2 = _bloom_hashes(fp, m_bits)

    @F.pandas_udf("boolean")
    def _probe(a1: pd.Series, a2: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        v1 = a1.to_numpy(dtype=np.int64)
        v2 = a2.to_numpy(dtype=np.int64)
        hit = np.ones(len(v1), dtype=bool)
        for i in range(k):
            idx = (v1 + i * v2) % m_bits
            hit &= (bits[idx // 8] & (1 << (idx % 8)).astype(np.uint8)) != 0
        return pd.Series(hit)

    return batch.withColumn(
        "maybe_seen", _probe(h1.alias("_h1"), h2.alias("_h2"))
    )

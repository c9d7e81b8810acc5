"""Text-analysis operators over the ``documents`` table (driver brief):
token counting, quality scoring, language ID, fingerprinting.

All hot-path logic uses JVM-side built-ins (``pyspark.sql.functions``) —
no Python UDFs — so Catalyst keeps whole-stage codegen and the plans scale
linearly with input splits.  One documented exception: subword_tokenize
runs an Arrow-batched encoder over the DISTINCT-word relation only (the
Zipf cache), never over corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny multi-language stopword sets for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "que", "pour", "dans", "une"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para", "es"],
}

TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
PUNCT_RE = "[.,;:!?]"


def tokens_col(col):
    """Non-empty whitespace tokens of a string column."""
    return F.filter(F.split(col, "\\s+"), lambda x: x != "")


def normalized_text(col):
    """Whitespace-collapsed lowercased text (shared by fingerprints and
    the dedup family; dedup.py re-exports it)."""
    return F.lower(F.regexp_replace(F.trim(col), "\\s+", " "))


def rebalance_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a scan whose source parallelism is below
    the cluster's cores — ONLY then (the pipeline.py rebalance
    precedent).  Compute-heavy scan-local ops (repetition signals and
    friends: thousands of per-row array ops, trivial bytes) are
    single-core-bound when the input is one unsplittable row group (the
    test parquet's shape); a 100 TB corpus has thousands of splits, so
    this is a no-op there — the check costs one listing-level
    getNumPartitions, no job.  Result rows are unchanged (per-row ops
    commute with repartitioning)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens (whitespace), n_bpe_tokens (BPE-ish regex), n_punct,
    avg token length — all JVM-side."""
    toks = tokens_col(F.col(text_col))
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn(
            "n_bpe_tokens",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)),
        )
        .withColumn(
            "n_punct",
            F.length(F.col(text_col))
            - F.length(F.regexp_replace(F.col(text_col), PUNCT_RE, "")),
        )
        .withColumn(
            "avg_token_len",
            F.when(
                F.size(toks) > 0,
                F.round(
                    F.aggregate(
                        F.transform(toks, lambda t: F.length(t).cast("double")),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / F.size(toks),
                    4,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punct/stopword-ratio quality heuristic in [0,1].

    No decimal ROUND anywhere: the weighted sum lands on exact .xxxx5
    decimal ties for a large fraction of real inputs, where Spark's
    HALF_UP (on the shortest decimal repr) and an oracle's binary
    rounding disagree.  Plain IEEE double arithmetic evaluated in the
    same order is bit-identical across engines — rounding is the only
    source of divergence, so it's omitted by design."""
    stats = with_token_stats(df, text_col)
    lower_toks = F.transform(tokens_col(F.col(text_col)), lambda t: F.lower(t))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stats = stats.withColumn(
        "stopword_ratio",
        F.when(
            F.col("n_tokens") > 0,
            F.size(F.filter(lower_toks, lambda t: F.array_contains(en_stop, t)))
            / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
    )
    return stats.withColumn(
        "quality",
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3
        + F.when(F.col("n_tokens") > 0, 1.0 - F.least(
            F.col("n_punct") / F.col("n_tokens"), F.lit(1.0))
        ).otherwise(F.lit(0.0)) * 0.2,
    )


def language_vote_expr(toks_col) -> "F.Column":
    """The stopword-vote argmax as ONE Column over a lowercased token
    ARRAY column (callers project the tokenization once — see
    language_id — so the regexp split is never re-evaluated per
    language).  score per language = #tokens in that language's stopword
    list; ties break lexicographically."""
    langs = sorted(STOPWORDS)
    pairs = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(
                        toks_col,
                        lambda t: F.array_contains(
                            F.array(*[F.lit(w) for w in STOPWORDS[lang]]), t
                        ),
                    )
                ).alias("s"),
                F.lit(lang).alias("l"),
            )
            for lang in langs
        ]
    )
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("s"), F.lit("").alias("l")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )
    return best["l"]


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID (n-gram heuristic family). Deterministic:
    score per language = #tokens in that language's stopword list;
    ties break lexicographically."""
    lower_toks = F.transform(tokens_col(F.col(text_col)), lambda t: F.lower(t))
    scored = df.withColumn("_toks", lower_toks)
    return scored.withColumn(
        "pred_lang", language_vote_expr(F.col("_toks"))
    ).drop("_toks")


def gopher_quality_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style document filter rules — the heuristic battery a
    corpus build applies before training: token-count bounds, duplicate
    2-gram ratio (intra-document repetition), mean word length band, and
    symbol-to-character ratio, combined into one ``keep`` verdict.

    Every signal is integer counting plus a single double division in a
    fixed order, so the thresholds compare bit-identical values on Spark
    and the DuckDB oracle — the keep flag is exactly reproducible.  Pure
    JVM built-ins, per-row local (no shuffle): at 100 TB this runs at
    scan speed and the filter predicate pushes into the next stage."""
    toks = tokens_col(normalized_text(F.col(text_col)))
    n = F.size(toks)
    # 2-grams via zip_with of shifted slices, NOT transform(sequence,
    # i -> slice(toks, ...)): a lambda referencing the unprojected
    # tokenization re-runs the regexp split per element (the same
    # pathology measured 8x on dedup.shingles); zip_with evaluates each
    # slice once per row
    n1 = F.greatest(n - 1, F.lit(0))
    grams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n1),
            F.slice(toks, 2, n1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_ratio = F.when(
        F.size(grams) > 0,
        1.0 - F.size(F.array_distinct(grams)) / F.size(grams),
    ).otherwise(F.lit(0.0))
    mean_wlen = F.when(
        n > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        * 1.0
        / n,
    ).otherwise(F.lit(0.0))
    n_chars = F.length(F.col(text_col))
    n_symbols = F.length(
        F.regexp_replace(F.col(text_col), "[A-Za-z0-9\\s]", "")
    )
    symbol_ratio = F.when(n_chars > 0, n_symbols * 1.0 / n_chars).otherwise(
        F.lit(0.0)
    )
    out = (
        df.withColumn("n_tokens", n)
        .withColumn("dup_2gram_ratio", dup_ratio)
        .withColumn("mean_word_len", mean_wlen)
        .withColumn("symbol_ratio", symbol_ratio)
    )
    return out.withColumn(
        "keep",
        (F.col("n_tokens") >= 5)
        & (F.col("n_tokens") <= 1000)
        & (F.col("dup_2gram_ratio") < 0.4)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 12.0)
        & (F.col("symbol_ratio") < 0.1),
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic corpus-statistics
    join a training pipeline runs for keyword/quality signals.

    Shape at scale: explode to (doc, term) [no shuffle], term-frequency
    aggregate [shuffle on (doc, term), map-side partial], document
    frequency per term [shuffle on term], idf join back [shuffle on term,
    skew-safe: df per term is one row], corpus size N joined in via a
    broadcast of a 1-row aggregate (never a driver-side count), then a
    per-doc top-k window.  idf = ln((1+N)/(1+df)) computed as plain IEEE
    double math in the same order on Spark and the DuckDB oracle —
    bit-identical without any rounding.

    Ties (same tfidf within a doc) break lexicographically by term so the
    output is deterministic.  Returns (doc_id, term, tf, tfidf)."""
    from pyspark.sql import Window

    terms = df.select(
        "doc_id",
        F.explode(tokens_col(normalized_text(F.col(text_col)))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # document frequency from the tf relation, which is already distinct
    # per (doc_id, term) — not terms.distinct(), which would re-shuffle
    # every raw term occurrence a second time (interleaved best-of A/B at
    # sf0.1: 1.59/0.97 s -> 1.23/0.82 s across two rounds, output identical)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("term_df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("term_df"))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "tfidf")
    )


def top_terms_sketch(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    sketch_k: int = 64,
    max_tracked: int = 65536,
) -> DataFrame:
    """Corpus heavy hitters via Spark's ``approx_top_k`` sketch — the
    mergeable-sketch sibling of the exact term-count aggregate, same
    family as the GK quantile and HLL distinct sketches already in the
    registry.  At 100 TB the exact groupBy('term') shuffles the full
    vocabulary; the sketch is a bounded-size state merged map-side, so
    the corpus scan is the only full pass and the shuffle carries one
    sketch per partition.

    Determinism/oracle contract: the sketch's own top-k boundary breaks
    count ties arbitrarily, so we over-fetch (``sketch_k`` > the
    boundary region), re-rank deterministically (count desc, term asc)
    and cut to ``k`` AFTER the sketch.  When the tracked capacity
    (``max_tracked``) exceeds the corpus vocabulary the sketch counts
    are exact — true for the test tables, which is what lets the DuckDB
    oracle assert exact equality; at real scale the same plan degrades
    gracefully to approximate heavy hitters.  Returns (term, cnt, rank),
    rank 1..k."""
    from pyspark.sql import Window

    toks = df.select(
        F.explode(tokens_col(normalized_text(F.col(text_col)))).alias(
            "term"
        )
    )
    sk = toks.agg(
        F.expr(
            f"approx_top_k(term, {int(sketch_k)}, {int(max_tracked)})"
        ).alias("tk")
    )
    exploded = sk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("term"),
        F.col("e.count").alias("cnt"),
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("term", "cnt", "rank")
    )


def hll_distinct_shingles(
    df: DataFrame,
    text_col: str = "text",
    ns: tuple = (1, 2, 3),
    p: int = 10,
) -> DataFrame:
    """Distinct-n-gram cardinality via a from-scratch HyperLogLog sketch
    (Flajolet et al. 2007) built on an ORACLE-REPRODUCIBLE hash — the
    hard-verifiable sibling of ``approx_distinct_users`` (which uses
    Spark's engine-internal HLL++ and can only be checked rows-only).
    Every register value both engines compare is an exact BIGINT:

    - hash: the low 60 bits of md5 (15 hex chars -> BIGINT), identical
      in Spark (``conv(substring(md5, 1, 15), 16, 10)``) and DuckDB
      (``('0x' || substr(md5, 1, 15))::UBIGINT``);
    - register index = low ``p`` bits (``h & (m-1)``), suffix
      ``w = h >> p`` (60-p bits);
    - rank = 1 + leading zeros of ``w``, computed WITHOUT float log2 as
      ``1 + |{{j : w < 2^(rank_bits - j)}}|`` over a literal threshold
      array — pure integer comparisons, bit-identical everywhere;
    - registers: ``groupBy(idx).max(rank)`` — the whole sketch is a
      map-side-combinable aggregate with at most ``m = 2^p`` groups, so
      at 100 TB the corpus scan is the only full pass and the shuffle
      carries <= m (reg, max) pairs per partition.  Registers merge by
      max, the HLL mergeability law;
    - indicator sum scaled integer-exact: ``S = sum 2^(R - M_j)`` with
      ``R = rank_bits + 1`` (absent register => 2^R), so the only float
      ops are the final ``alpha * m^2 * 2^R / S`` (alpha * powers of two
      is rounding-free; one IEEE division both engines perform on
      identical operands) and the linear-counting branch's
      ``m * ln(m / V)`` (the ln-equality precedent of the LM scorers).

    ``exact_distinct`` counts distinct HASHES via a per-register
    countDistinct that rides the same m-group aggregate (no second
    grouping, no 1-row crossJoin) — the audit column.  Shingle
    semantics (normalize, per-doc array_distinct, short-doc whole-text
    gram) are ``dedup.shingles``'s.  Returns one row per ``n``: (n,
    m_registers, v_zeros, s_scaled, exact_distinct, hll_estimate,
    rel_err)."""
    m = 1 << p
    rank_bits = 60 - p
    r_scale = rank_bits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    pow2 = F.array(
        *[F.lit(1 << k).cast("long") for k in range(0, r_scale + 1)]
    )

    # r06: ONE corpus scan for all ns, not one per n.  The old
    # union-of-branches shape re-ran the normalize + tokenize + n-gram
    # explode once per n (3 corpus scans in the before-plan); here the
    # token array is projected once and each n's distinct-gram array is
    # tagged with its n and concatenated BEFORE the explode, so the
    # whole sketch is scan -> explode -> one (n, reg) aggregate -> one
    # per-n rollup.  Gram semantics per n are dedup.shingles' verbatim
    # (array_distinct inside the row, short-doc whole-text gram, ''
    # filtered); register/rank/indicator arithmetic is unchanged, so
    # rows equal the old union's.  Best-of-3 A/B at sf0.1 local[32]
    # (with the scan rebalance below): 2.92 -> 1.55 s.
    # rebalance (the repetition_signals precedent): the gram hashing +
    # register partials are scan-local work amplified ~3 x tokens-per-doc
    # fold, and the one post-explode aggregate collapses map-side to
    # <= 3*m register partials per task — so an under-split local input
    # (1-2 parquet row groups) would otherwise hash every gram on one
    # core.  No-op on a many-split 100 TB corpus.
    base = rebalance_for_compute(df.select(F.col(text_col))).select(
        tokens_col(normalized_text(F.col(text_col))).alias("_toks")
    )
    t = F.col("_toks")

    def _tagged_grams(n: int):
        mlen = F.greatest(F.size(t) - (n - 1), F.lit(0))
        arrs = [F.slice(t, i + 1, mlen) for i in range(n)]
        grams_zip = arrs[0]
        for arr in arrs[1:]:
            grams_zip = F.zip_with(
                grams_zip, arr, lambda a, b: F.concat_ws(" ", a, b)
            )
        grams = F.when(F.size(t) >= n, grams_zip).otherwise(
            F.array(F.concat_ws(" ", t))
        )
        return F.transform(
            F.array_distinct(grams),
            lambda s: F.struct(F.lit(n).alias("n"), s.alias("shingle")),
        )

    tagged = F.concat(*[_tagged_grams(n) for n in ns])
    sh = (
        base.select(F.explode(tagged).alias("g"))
        .select("g.n", "g.shingle")
        .filter(F.col("shingle") != "")
    )
    w_hash = (
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("_h")
    )
    thresholds = F.array(
        *[
            F.lit(1 << (rank_bits - j)).cast("long")
            for j in range(1, rank_bits + 1)
        ]
    )
    g = sh.select("n", w_hash)
    w_suffix = F.shiftright(F.col("_h"), p)
    rank = F.lit(1) + F.size(F.filter(thresholds, lambda th: w_suffix < th))
    regs = g.groupBy(
        "n", F.col("_h").bitwiseAND(F.lit(m - 1)).alias("reg")
    ).agg(F.max(rank).alias("r"), F.countDistinct("_h").alias("nd"))

    contrib = F.element_at(pow2, (F.lit(r_scale) - F.col("r")) + 1)
    summary = regs.groupBy("n").agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum(contrib).alias("_sp"),
        F.sum("nd").alias("_nd"),
    )
    v = F.lit(m) - F.col("_np")
    s = F.col("_sp") + v * F.lit(1 << r_scale)
    raw = F.lit(alpha * m * m * float(1 << r_scale)) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return summary.select(
        F.col("n").cast("long").alias("n"),
        F.lit(m).cast("long").alias("m_registers"),
        v.cast("long").alias("v_zeros"),
        s.cast("long").alias("s_scaled"),
        F.col("_nd").alias("exact_distinct"),
        F.round(est, 4).alias("hll_estimate"),
        F.round(est / F.col("_nd").cast("double") - 1.0, 4).alias("rel_err"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text
    (md5 so the DuckDB oracle can reproduce it bit-for-bit)."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    return df.withColumn("fp", F.md5(normalized))


def rolling_fingerprints(
    df: DataFrame, k: int = 16, text_col: str = "text"
) -> DataFrame:
    """Rolling-hash document fingerprints (Manber's classic '0 mod p'
    scheme, the MOSS/winnowing predecessor): hash every k-char gram of
    the normalized text — the rolling-hash pass — and keep the ~1/16
    whose hash falls in the selection class.  Two documents sharing any
    selected k-char substring share a fingerprint, position-independent,
    unlike the whole-text hash.

    Pure JVM built-ins: substr k-grams via transform(sequence), md5 per
    gram (md5 so the DuckDB oracle reproduces it bit-for-bit — the
    selection rule, not the hash polynomial, is what defines the scheme;
    selection = first hex nibble '0', i.e. hash ≡ 0 mod 16), distinct.

    Returns (doc_id, fps array<string>); docs shorter than k normalized
    chars produce no row.  Scale: per-doc local work only — no shuffle
    until a consumer aggregates or joins."""
    # materialize the normalized string as a real column FIRST: a lambda
    # that references the normalization EXPRESSION would inline the whole
    # regexp chain per k-gram (measured 3.2s -> the fix takes it to ~0.3s
    # at sf0.01); referencing the attribute evaluates it once per row
    normed = df.select(
        "doc_id", normalized_text(F.col(text_col)).alias("_norm")
    ).filter(F.length("_norm") >= k)
    s = F.col("_norm")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(s) - k + 1),
        lambda i: F.md5(s.substr(i, F.lit(k))),
    )
    fps = F.array_distinct(
        F.filter(grams, lambda h: h.substr(1, 1) == "0")
    )
    return normed.select("doc_id", fps.alias("fps"))


def fingerprint_candidates(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 16,
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by shared rolling fingerprints — the
    third bucketed similarity family next to MinHash-LSH and SimHash
    quarters: explode fingerprints, equi-join on fp (the only shuffle),
    count shared per pair.  A pair sharing s fingerprints shares ~s
    distinct k-char substrings — strong evidence of textual overlap,
    robust to reordering unlike the whole-text hash.

    ``max_df`` is the same document-frequency skew guard as
    dedup.jaccard_pairs: a boilerplate substring shared by d documents
    (site templates, licenses) creates ~d²/2 join rows through its
    fingerprint; dropping fingerprints with DF > max_df before the
    self-join bounds the fan-out."""
    fps = rolling_fingerprints(df, k, text_col).select(
        "doc_id", F.explode("fps").alias("fp")
    )
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    return (
        fps.alias("a")
        .join(fps.alias("b"), on="fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    weights: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Linear quality classifier over hashed token features — the
    fasttext-style learned-filter stage of a corpus build (tokenize ->
    per-token weight lookup -> mean -> verdict), with the weight table
    standing in for a trained model.

    Two paths, same output columns (``n_tokens``, ``clf_score`` — the
    mean token weight rounded to 6 — and ``clf_keep``):

    * ``weights=None`` (default, the ORACLED path): the weight of a token
      is derived from its md5 — ``int(md5(tok)[:8], 16) / 2^32 - 0.5``,
      uniform in [-0.5, 0.5).  A deterministic stand-in for learned
      weights (same sanctioned-fake discipline as the multimodal stub):
      every arithmetic step is exact in float64 and the fold runs in
      document token order, so Spark and DuckDB produce bit-identical
      scores.  Scan-local projection — zero shuffles, no Python.

    * ``weights`` given as a ``(token, weight)`` relation (the PRODUCTION
      path for a real trained model): explode tokens, broadcast-join the
      vocabulary (OOV weight 0), map-side-combinable per-doc sum.  One
      shuffle on ``id_col``; the vocab broadcasts (fasttext vocabularies
      are MBs).  Join-order summation is not bit-deterministic, hence the
      shared 6-decimal rounding on the emitted score.

    ``clf_keep`` compares the UNROUNDED mean to 0 (never a rounded value
    on a boundary); empty docs score 0.0 and are dropped.
    """
    toks = tokens_col(normalized_text(F.col(text_col)))
    n = F.size(toks)
    if weights is None:
        w = lambda t: (  # noqa: E731
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("double")
            / F.lit(float(2**32))
            - 0.5
        )
        w_sum = F.aggregate(
            F.transform(toks, w), F.lit(0.0), lambda acc, x: acc + x
        )
        avg = F.when(n > 0, w_sum / n).otherwise(F.lit(0.0))
        return df.withColumns(
            {
                "n_tokens": n,
                "clf_score": F.round(avg, 6),
                "clf_keep": (n > 0) & (avg > 0),
            }
        )
    exploded = df.select(
        id_col, F.explode_outer(toks).alias("token")
    ).join(F.broadcast(weights), "token", "left")
    scored = exploded.groupBy(id_col).agg(
        F.count("token").alias("n_tokens"),
        F.sum(F.coalesce("weight", F.lit(0.0))).alias("_wsum"),
    )
    avg = F.when(
        F.col("n_tokens") > 0, F.col("_wsum") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    return (
        df.join(scored, id_col)
        .withColumns(
            {
                "clf_score": F.round(avg, 6),
                "clf_keep": (F.col("n_tokens") > 0) & (avg > 0),
            }
        )
        .drop("_wsum")
    )


def distill_linear_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    n_iters: int = 24,
    k_scale: int = 2**20,
    beta: tuple = (29, 32),
    weights_out: list | None = None,
) -> DataFrame:
    """TRAIN the compact quality filter in-engine by DISTILLATION: a
    hashed linear model (``n_buckets`` token-count features + bias)
    learns to imitate the exact per-token md5 scorer that
    ``quality_classifier``'s oracled path evaluates — the
    CCNet/fasttext pattern of distilling an expensive scorer into a
    model-sized filter, with the whole optimizer hard-oracle-able.

    Teacher label (integer-exact): ``y = +1`` iff the doc's summed
    integer token weight ``sum(int(md5(tok)[:8], 16) - 2^31) > 0`` —
    exactly ``quality_classifier``'s ``clf_keep`` (same md5 weights
    scaled by 2^32; empty docs are −1).  Student: least-squares on
    ``y * k_scale`` via full-batch gradient descent with Polyak
    heavy-ball momentum, ALL IN FIXED-POINT INTEGERS (the
    ``kmeans_fixed_point``/``bpe_train`` discipline — this is what
    makes a 24-iteration optimizer bit-reproducible in both engines):

    - step size 1/L with ``L = max_j sum_d x_dj * s_d`` (s_d = the
      doc's feature row-sum): the infinity-norm row-sum bound on
      ``lambda_max(X'X)`` — Gershgorin on a nonnegative Gram matrix —
      so convergence needs no eigensolve, just one more integer
      aggregate;
    - update ``w -= FLOOR(g / L) - FLOOR(beta * (w - w_prev))`` with
      ``beta = 29/32``; every FLOOR divides a < 2^42 BIGINT by a
      denominator far below the 9e11 boundary-crossing limit (the
      kmeans FLOOR argument), so Spark, DuckDB, and the driver's exact
      Python ints all agree bit-for-bit;
    - gradient ``g_j = sum_d x_dj * (w . x_d - y_d * k_scale)`` — a
      BIGINT sum, order-free under partial aggregation.

    Measured on the synthetic corpus: the exact least-squares solution
    scores 92% training accuracy and this 24-step integer optimizer
    reaches ~91.8% (vs a 66% majority baseline) — the plain batch
    perceptron was tried first and REJECTED: with lr=1 it enters a
    period-2 weight cycle on this target and never beats majority.

    Scale (100 TB): the feature projection is scan-local whole-stage
    codegen (histogram over a PROJECTED bucket array — not a filter
    over the raw tokenization, per the documented O(tokens^2)
    re-evaluation pathology); each iteration scores against a LITERAL
    weight array (no join, no broadcast exchange) and reduces to a
    ``posexplode -> groupBy(pos)`` aggregate with exactly
    ``n_buckets + 1`` groups — map-side-combinable, skew-immune — plus
    a model-sized driver collect per iteration (the sanctioned
    kmeans/bpe pattern; pyspark.ml's linear models do the same via
    treeAggregate).  The feature relation is persisted for the loop
    and unpersisted after the final update; the returned scoring plan
    recomputes it once.

    Returns per-doc training-set scores under the FINAL weights:
    (id_col, label ±1, margin, pred_pos, correct).  ``weights_out``
    receives the final ``n_buckets + 1`` integer weights (bias last) —
    the model artifact, ready to persist or to feed
    ``quality_classifier(weights=...)``-style scoring."""
    toks = tokens_col(normalized_text(F.col(text_col)))
    h32 = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t), 1, 8), 16, 10
    ).cast("long")
    teacher = F.aggregate(
        F.transform(toks, lambda t: h32(t) - F.lit(2**31)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    y = F.when(teacher > 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")
    base = df.select(
        F.col(id_col).alias("_pid"),
        y.alias("_y"),
        F.transform(toks, lambda t: h32(t) % n_buckets).alias("_bk"),
    )
    vec = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_buckets - 1)),
            lambda i: F.size(
                F.filter(F.col("_bk"), lambda b: b == i.cast("long"))
            ).cast("long"),
        ),
        F.array(F.lit(1).cast("long")),
    )
    X = base.select("_pid", "_y", vec.alias("_x"))

    def _margin(weights):
        w_lit = F.array(*[F.lit(int(v)).cast("long") for v in weights])
        return F.aggregate(
            F.zip_with(F.col("_x"), w_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    row_sum = F.aggregate(
        F.col("_x"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    bn, bd = beta
    w = [0] * (n_buckets + 1)
    w_prev = list(w)
    X.persist()
    try:
        cap = (
            X.select(row_sum.alias("_s"), F.posexplode("_x"))
            .groupBy("pos")
            .agg(F.sum(F.col("col") * F.col("_s")).alias("rs"))
            .agg(F.max("rs").alias("L"))
            .collect()
        )
        big_l = int(cap[0]["L"])
        for _ in range(n_iters):
            resid = _margin(w) - F.col("_y") * F.lit(int(k_scale))
            grads = (
                X.select(resid.alias("_r"), F.posexplode("_x"))
                .groupBy("pos")
                .agg(F.sum(F.col("col") * F.col("_r")).alias("g"))
                .collect()
            )
            g = [0] * (n_buckets + 1)
            for r in grads:
                g[r["pos"]] = int(r["g"])
            w_new = [
                w[j] - g[j] // big_l + (bn * (w[j] - w_prev[j])) // bd
                for j in range(n_buckets + 1)
            ]
            w_prev, w = w, w_new
    finally:
        X.unpersist()
    if weights_out is not None:
        weights_out.extend(int(v) for v in w)
    margin = _margin(w)
    return X.select(
        F.col("_pid").alias(id_col),
        F.col("_y").alias("label"),
        margin.alias("margin"),
        (margin > 0).alias("pred_pos"),
        ((margin > 0) == (F.col("_y") == 1)).alias("correct"),
    )


def vocab_oov(
    df: DataFrame,
    v: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-vocabulary induction + per-document OOV rate.

    The vocabulary is the top-``v`` tokens by corpus frequency
    (deterministic boundary: count desc, then token asc) — the planning
    number a tokenizer build needs ("what does a v-entry vocab cover?").
    Emits per document: ``n_tokens``, ``n_oov`` (occurrences outside the
    vocab) and ``oov_rate`` (rounded to the shared 6 decimals).
    Token-less documents have no defined rate and drop out (the explode
    is inner, same contract as ngram_lm_scores).

    Scale shape: one (token) count aggregation with map-side partials;
    the top-v cut is ``orderBy().limit()`` which compiles to
    TakeOrderedAndProject (distributed partial top-k, never a single-task
    global sort); the vocab — v rows — broadcasts back onto the exploded
    corpus, so the corpus shuffles only once, on ``id_col``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens_col(normalized_text(F.col(text_col)))).alias(
            "token"
        ),
    )
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        tf.orderBy(F.col("c").desc(), "token")
        .limit(v)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    per = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per.select(
        id_col,
        "n_tokens",
        F.col("n_oov").cast("long").alias("n_oov"),
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens"), 6
        ).alias("oov_rate"),
    )


def corpus_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source corpus card: doc/token counts, corpus-wide exact-dup
    membership, Gopher keep-rate and majority language, one row per
    ``source``.  A composition of three scan-local projections
    (language_id, gopher_quality_rules, fingerprint) + one fp window (the
    only extra shuffle) + one source aggregate — the whole report is ONE
    lazy plan over ONE corpus scan.  keep_rate is an integer-sum ratio
    (order-independent).  NULL text is treated as the empty string (the
    clean.py convention): such rows count toward n_docs, fail every keep
    band, and share one fingerprint."""
    from pyspark.sql import Window

    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    enriched = fingerprint(
        gopher_quality_rules(language_id(df, text_col), text_col), text_col
    )
    is_dup = (
        F.count(F.lit(1)).over(Window.partitionBy("fp")) > 1
    ).cast("int")
    per_doc = enriched.select(
        "source",
        "pred_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("keep").cast("int").alias("keep_i"),
        is_dup.alias("is_dup"),
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("is_dup").cast("long").alias("dup_docs"),
        F.round(
            F.sum("keep_i").cast("double") / F.count(F.lit(1)), 6
        ).alias("keep_rate"),
    )
    lang_rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("c").desc(), F.col("pred_lang")
        )
    )
    top_lang = (
        per_doc.groupBy("source", "pred_lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", lang_rn)
        .filter(F.col("rn") == 1)
        .select("source", F.col("pred_lang").alias("top_lang"))
    )
    return per_source.join(top_lang, "source")


def winnow_fingerprints(
    df: DataFrame, k: int = 16, w: int = 8, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): hash every k-char gram of the normalized text,
    slide a w-gram window, and select each window's MINIMUM hash.  The
    selected set has a guaranteed density (every w consecutive grams
    contribute at least one fingerprint — the coverage guarantee the
    0-mod-p scheme in :func:`rolling_fingerprints` lacks) and any shared
    substring of length >= k+w-1 is always detected.

    Entirely in-row (transform over the gram array + array_min per
    window + array_distinct), zero shuffle — at 100 TB this runs at scan
    speed like the other fingerprint ops.  The gram hash is the md5-hex
    prefix cast to a long, identically computable in DuckDB, because
    unlike the substring-dedup spans the fingerprint VALUES are the
    output here and must match the oracle bit-for-bit.

    Returns (doc_id, fp) exploded-distinct; docs shorter than k
    normalized chars produce no rows."""
    normed = df.select(
        "doc_id", normalized_text(F.col(text_col)).alias("_norm")
    ).filter(F.length("_norm") >= k)
    s = F.col("_norm")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(s) - k + 1),
        lambda i: F.conv(
            F.substring(F.md5(s.substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("long"),
    )
    base = normed.select("doc_id", grams.alias("_g"))
    g = F.col("_g")
    n = F.size(g)
    # window j covers grams j-w+1 .. j (1-based), full windows only; a
    # doc with fewer than w grams contributes its single all-gram min
    mins = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(w), n),
            lambda j: F.array_min(F.slice(g, j - w + 1, w)),
        ),
    ).otherwise(F.array(F.array_min(g)))
    return base.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


# Gopher repetition-filter thresholds (Rae et al. 2021, Table A1): a
# document is `repetitive` when ANY signal exceeds its cutoff.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top": {2: 0.20, 3: 0.18, 4: 0.16},
    "dup": {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10},
}


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher repetition signals (Rae et al. 2021 §A1.1): per-document
    duplicate-line fractions plus n-gram character-coverage fractions —
    the repetition half of the Gopher quality filter
    (:func:`gopher_quality_rules` covers the length/symbol half).

    Emitted per doc: ``n_lines``, ``dup_line_frac`` (fraction of
    non-empty lines that are repeats), ``dup_line_char_frac`` (fraction
    of line characters inside lines occurring more than once),
    ``top{n}_char_frac`` for each n in ``top_ns`` (largest character
    coverage of any single REPEATED word n-gram — count x gram length
    over the normalized text length; grams occurring once are excluded,
    else every short document's longest unique n-gram trivially exceeds
    the Gopher cutoffs that were calibrated on long pages),
    ``dup{n}_char_frac`` for each n in
    ``dup_ns`` (character coverage of ALL n-grams occurring more than
    once — the standard overlap-naive approximation), and the combined
    ``repetitive`` verdict against the Gopher Table A1 cutoffs.

    Scale design: the WHOLE op is one scan-local projection — zero
    shuffles, zero joins.  Line stats are array ops inside the row
    (O(lines^2) string equality on a PROJECTED array — never
    re-evaluated per element).  Per-n gram counts come from sorted
    run-length aggregation INSIDE the row: grams map to
    (xxhash64, length) pairs, array_sort groups equal grams into runs,
    and one F.aggregate pass accumulates max-repeated-run coverage and
    total duplicated coverage — O(G log G) per row instead of exploding
    ~sum(n)x the corpus tokens into a (id, n, gh, glen) shuffle (the
    first implementation; same-session A/B at sf0.1: 6.6 -> 5.4 s
    best-of-3, byte-identical output — the sf0.1 documents file is ONE
    input split, so the remaining wall is a single core's per-row
    compute; at real input-split counts the removed corpus-tokens-x-5
    shuffle is the entire difference).  Run keys include the gram
    LENGTH, so a 64-bit hash collision can merge counts only for
    equal-length grams (documented ~n_grams^2/2^65 residual risk, the
    duplicate_spans precedent).  Fractions are single int/int divisions
    in a fixed order — the same IEEE double both engines produce
    bit-identically (no rounding; see _sql_quality's discipline note).
    """
    all_ns = sorted(set(top_ns) | set(dup_ns))
    # per-row compute dominates this op (thousands of array ops per doc):
    # spread an under-parallel scan across the cores before computing
    # (no-op whenever the source already has >= cores splits)
    df = rebalance_for_compute(df.select(id_col, text_col))
    text = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(
        F.col(id_col),
        normalized_text(text).alias("_norm"),
        F.filter(
            F.split(text, "\n"), lambda l: F.trim(l) != ""
        ).alias("_lines"),
    ).select(
        id_col,
        F.length("_norm").alias("_norm_len"),
        "_lines",
        tokens_col(F.col("_norm")).alias("_toks"),
    )

    lines = F.col("_lines")
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    dup_line_chars = F.aggregate(
        lines,
        F.lit(0).cast("long"),
        lambda acc, l: acc
        + F.when(
            F.size(F.filter(lines, lambda y: y == l)) > 1, F.length(l)
        ).otherwise(F.lit(0)),
    )
    line_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )

    t = F.col("_toks")

    def _gram_cover(n: int):
        """struct(top, dup): char coverage of repeated n-grams, computed
        inside the row by sorted run-length aggregation."""
        m = F.greatest(F.size(t) - (n - 1), F.lit(0))
        arrs = [F.slice(t, i + 1, m) for i in range(n)]
        grams = arrs[0]
        for arr in arrs[1:]:
            grams = F.zip_with(grams, arr, lambda a, b: F.concat_ws(" ", a, b))
        grams = F.when(F.size(t) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )
        runs = F.array_sort(
            F.transform(
                grams,
                lambda g: F.struct(
                    F.xxhash64(g).alias("gh"), F.length(g).alias("glen")
                ),
            )
        )
        zero = F.struct(
            F.lit(0).cast("long").alias("gh"),
            F.lit(0).alias("glen"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("top"),
            F.lit(0).cast("long").alias("dup"),
        )

        def closed(acc):
            # coverage of the run being closed; runs of 1 contribute 0
            return F.when(
                acc["run"] > 1, acc["run"] * acc["glen"].cast("long")
            ).otherwise(F.lit(0).cast("long"))

        def step(acc, x):
            same = (
                (acc["run"] > 0)
                & (x["gh"] == acc["gh"])
                & (x["glen"] == acc["glen"])
            )
            fin = closed(acc)
            return F.when(
                same,
                F.struct(
                    acc["gh"].alias("gh"),
                    acc["glen"].alias("glen"),
                    (acc["run"] + 1).alias("run"),
                    acc["top"].alias("top"),
                    acc["dup"].alias("dup"),
                ),
            ).otherwise(
                F.struct(
                    x["gh"].alias("gh"),
                    x["glen"].alias("glen"),
                    F.lit(1).cast("long").alias("run"),
                    F.greatest(acc["top"], fin).alias("top"),
                    (acc["dup"] + fin).alias("dup"),
                )
            )

        def finish(acc):
            fin = closed(acc)
            return F.struct(
                F.greatest(acc["top"], fin).alias("top"),
                (acc["dup"] + fin).alias("dup"),
            )

        return F.aggregate(runs, zero, step, finish)

    joined = base.select(
        "*", *[_gram_cover(n).alias(f"_cov{n}") for n in all_ns]
    )
    denom = F.col("_norm_len").cast("double")
    frac_cols = {}
    for n in top_ns:
        frac_cols[f"top{n}_char_frac"] = F.when(
            F.col("_norm_len") > 0,
            F.col(f"_cov{n}.top").cast("double") / denom,
        ).otherwise(F.lit(0.0))
    for n in dup_ns:
        frac_cols[f"dup{n}_char_frac"] = F.when(
            F.col("_norm_len") > 0,
            F.col(f"_cov{n}.dup").cast("double") / denom,
        ).otherwise(F.lit(0.0))
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - n_distinct).cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    dup_line_char_frac = F.when(
        line_chars > 0,
        dup_line_chars.cast("double") / line_chars.cast("double"),
    ).otherwise(F.lit(0.0))

    th = GOPHER_REPETITION_THRESHOLDS
    out = joined.select(
        id_col,
        n_lines.cast("int").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
        *[frac_cols[f"top{n}_char_frac"].alias(f"top{n}_char_frac")
          for n in top_ns],
        *[frac_cols[f"dup{n}_char_frac"].alias(f"dup{n}_char_frac")
          for n in dup_ns],
    )
    verdict = (
        (F.col("dup_line_frac") > th["dup_line_frac"])
        | (F.col("dup_line_char_frac") > th["dup_line_char_frac"])
    )
    for n in top_ns:
        verdict = verdict | (F.col(f"top{n}_char_frac") > th["top"][n])
    for n in dup_ns:
        verdict = verdict | (F.col(f"dup{n}_char_frac") > th["dup"][n])
    return out.withColumn("repetitive", verdict)


def bpe_pair_stats(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding merge statistics (Sennrich et al. 2016 — the
    counting step of one BPE iteration): frequency of every adjacent
    CHARACTER pair across the corpus, each word's pairs weighted by the
    word's corpus frequency.  Emits the top-k pairs as
    ``(left, right, pair_count, merged)`` — the candidates the first
    merge would pick; iterating merge+recount induces a full tokenizer.

    Scale design: the corpus collapses to its WORD FREQUENCY table first
    (one shuffle, map-side combinable — the universal trick that makes
    BPE training corpus-size-independent: pair counting then runs over
    distinct words x their weights, typically 10^5-10^6 rows no matter
    how many TB the corpus is).  Pair positions explode from a projected
    word column (sequence + substr — per-row local), the pair count is a
    second small aggregation, and top-k is a TakeOrderedAndProject
    (never a global sort).  All counts are exact integers with a total
    deterministic order (count desc, left, right) — no float discipline
    needed."""
    toks = tokens_col(normalized_text(F.col(text_col)))
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    w = F.col("w")
    # filter BEFORE the explode: sequence(1, 0) would step BACKWARD for
    # 1-char words instead of producing an empty list
    pairs = words.filter(F.length(w) >= 2).select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(w) - 1),
                lambda i: F.struct(
                    w.substr(i, F.lit(1)).alias("left"),
                    w.substr(i + 1, F.lit(1)).alias("right"),
                ),
            )
        ).alias("p"),
    )
    counts = pairs.groupBy("p.left", "p.right").agg(
        F.sum("wc").alias("pair_count")
    )
    return (
        counts.orderBy(
            F.col("pair_count").desc(), F.col("left"), F.col("right")
        )
        .limit(k)
        .select(
            "left",
            "right",
            "pair_count",
            F.concat("left", "right").alias("merged"),
        )
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 12,
    text_col: str = "text",
    min_pair_count: int = 1,
) -> DataFrame:
    """Full BPE tokenizer INDUCTION loop (Sennrich et al. 2016 §3.2) —
    the iterative counterpart of :func:`bpe_pair_stats` (one counting
    step) and the producer of the vocab :func:`subword_tokenize`
    applies: repeat ``n_merges`` times { count adjacent piece pairs over
    the word-frequency table, merge the most frequent pair everywhere }.
    Emits the learned merge table ``(merge_idx, left, right, merged,
    pair_count)`` in learned order — the merge list IS the tokenizer.

    Greedy within-word application uses a left-fold that replaces the
    accumulator's tail when it equals ``left`` and the next piece equals
    ``right``.  For a single merge rule this is exactly the scan-and-skip
    semantics of the reference implementation: a just-merged element is
    ``left||right`` and can never equal ``left`` again (``right`` is
    non-empty), so the fold never re-consumes its own output within a
    pass.

    Scale design (the trick that makes BPE training corpus-size
    independent): the corpus collapses to its WORD FREQUENCY table in
    ONE scan + one map-side-combinable shuffle; every one of the
    ``n_merges`` iterations then touches only that model-sized relation
    (10^5-10^8 distinct words regardless of corpus TB).  The per-
    iteration argmax is a 1-row driver collect — the sanctioned
    convergence pattern (dedup_clusters precedent); each iteration
    re-persists the k-row-wider pieces table and unpersists its
    predecessor, so memory stays O(words) and the physical plan stays
    one InMemoryRelation deep.  At real vocab sizes (30k merges) you
    would batch merges per round and checkpoint every ~100 iterations;
    the loop structure is unchanged.
    """
    spark = df.sparkSession
    toks = tokens_col(normalized_text(F.col(text_col)))
    words = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select("wc", F.split("w", "").alias("pieces"))
        .persist()
    )
    words.count()
    merges = []
    for i in range(n_merges):
        p = F.col("pieces")
        counts = (
            words.filter(F.size(p) >= 2)
            .select(
                "wc",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(p) - 1),
                        lambda j: F.struct(
                            F.element_at(p, j).alias("l"),
                            F.element_at(p, j + 1).alias("r"),
                        ),
                    )
                ).alias("pr"),
            )
            .groupBy("pr.l", "pr.r")
            .agg(F.sum("wc").alias("c"))
        )
        best = (
            counts.orderBy(F.col("c").desc(), "l", "r").limit(1).collect()
        )
        if not best or best[0]["c"] < min_pair_count:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merged = left + right
        merges.append((i, left, right, merged, cnt))
        nxt = words.select(
            "wc",
            F.aggregate(
                p,
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (x == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("pieces"),
        ).persist()
        nxt.count()
        words.unpersist()
        words = nxt
    words.unpersist()
    return spark.createDataFrame(
        merges,
        "merge_idx INT, left STRING, right STRING, merged STRING, "
        "pair_count BIGINT",
    )


def source_kl_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    counts_handle: list | None = None,
) -> DataFrame:
    """Distribution drift per source: KL(p_source || p_corpus) over
    add-one-smoothed unigram distributions — the corpus-card diagnostic
    that surfaces a source whose token distribution departs from the
    corpus (a scraping bug, a language shift, boilerplate flooding).

    Smoothing is over the full union vocabulary, so the divergence is an
    exact KL between two proper distributions: p_s(t) = (cs+1)/(Ts+V),
    p_c(t) = (c+1)/(T+V), summed over EVERY vocab token for every source
    (absent tokens contribute their smoothed mass).  The dense term
    relation is #sources x V rows of pure arithmetic — with the handful
    of sources a corpus mix has, that is one extra vocab scan per
    source and embarrassingly parallel; for a pathological #sources,
    restrict to each source's support and bound the remainder instead.

    Scale shape: one shuffle builds (source, tok) counts, the vocab
    relation derives from it, sources (few rows: Ts per source) ride a
    broadcast, scalars (T, V) ride a 1-row broadcast.  Emits
    ``(source, n_tokens, kl)``; kl rounds to 6 decimals (order-dependent
    log sum, the ngram_lm discipline)."""
    toks = tokens_col(normalized_text(F.col(text_col)))
    st = df.select(F.col(group_col).alias("src"), F.explode(toks).alias("t"))
    cs = st.groupBy("src", "t").agg(F.count(F.lit(1)).alias("cs"))
    # cs feeds FOUR consumers (vocab, per-source totals, scalars, the
    # dense term join) whose pruned subtrees don't ReuseExchange —
    # unpersisted the corpus text is scanned 4x (measured in the plan).
    # The persisted table is (sources x vocab)-sized, not corpus-sized
    # (ngram_lm_scores precedent; unpersist via ``counts_handle``).
    cs = cs.persist()
    if counts_handle is not None:
        counts_handle.append(cs)
    vocab = cs.groupBy("t").agg(F.sum("cs").alias("c"))
    sources = cs.groupBy("src").agg(F.sum("cs").alias("ts"))
    scalars = vocab.agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("v")
    )
    dense = (
        vocab.crossJoin(F.broadcast(sources))
        .join(cs, ["src", "t"], "left")
        .crossJoin(F.broadcast(scalars))
    )
    ps = (F.coalesce(F.col("cs"), F.lit(0)).cast("double") + 1.0) / (
        F.col("ts").cast("double") + F.col("v")
    )
    pc = (F.col("c").cast("double") + 1.0) / (
        F.col("tot").cast("double") + F.col("v")
    )
    terms = dense.select(
        "src", "ts", (ps * (F.log(ps) - F.log(pc))).alias("term")
    )
    return (
        terms.groupBy("src", "ts")
        .agg(F.round(F.sum("term"), 6).alias("kl"))
        .select(
            F.col("src").alias(group_col),
            F.col("ts").alias("n_tokens"),
            "kl",
        )
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams that appear in no other document — the inverse
    of the memorization/overlap metrics of the ExactSubstr dedup line of
    work (Lee et al. 2022): novelty 1.0 = nothing shared, 0.0 = every
    n-gram also lives elsewhere.

    Shares dedup.shingles' construction (zip_with slices, per-doc
    distinct inside the row), so the cross-doc frequency is one
    map-side-combinable aggregation over (shingle) and the per-doc
    verdict one more over (doc_id).  Emits ``(id_col, n_grams,
    n_novel, novelty)``; the fraction is a single int/int division
    (no rounding needed).  Documents with no n-grams (shorter than n
    tokens yields the whole-text gram, so only empty docs) drop out."""
    from pdfminer_six_spark.ops.dedup import shingles

    sh = shingles(df, text_col=text_col, n=n)
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    per_doc = (
        sh.join(dfreq, "shingle")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        F.col("n_novel").cast("long").alias("n_novel"),
        (F.col("n_novel").cast("double") / F.col("n_grams").cast("double"))
        .alias("novelty"),
    )


def _subword_encoded_words(
    df: DataFrame,
    vocab,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "<unk>",
):
    """Shared core of the subword family: the corpus word-position
    relation ``(id, pos, word)`` and the DISTINCT-word encode relation
    ``(word, pieces)`` (the Zipf trick — the Python encoder runs once
    per distinct word, never per occurrence).  ``subword_tokenize``
    reassembles documents from these; ``tokenizer_fertility``-style
    consumers aggregate per-word piece counts without ever building the
    per-doc pieces string."""
    from pyspark.sql.types import StringType

    vset = frozenset(vocab)
    if not vset or any(not p for p in vset):
        raise ValueError("vocab must be non-empty pieces")
    maxlen = max(len(p) for p in vset)

    @F.pandas_udf(StringType())
    def encode(words):
        def enc(w):
            out, i, n = [], 0, len(w)
            while i < n:
                for L in range(min(maxlen, n - i), 0, -1):
                    if w[i : i + L] in vset:
                        out.append(w[i : i + L])
                        i += L
                        break
                else:
                    out.append(unk)
                    i += 1
            return " ".join(out)

        return words.map(enc)

    words = df.select(
        F.col(id_col),
        F.posexplode(tokens_col(normalized_text(F.col(text_col)))).alias(
            "pos", "word"
        ),
    )
    encoded = words.select("word").distinct().withColumn(
        "pieces", encode(F.col("word"))
    )
    return words, encoded


def subword_tokenize(
    df: DataFrame,
    vocab,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk: str = "<unk>",
) -> DataFrame:
    """Apply a subword vocabulary (BPE/WordPiece-style greedy
    longest-match encode, Sennrich et al. 2016 / Wu et al. 2016): each
    whitespace word of the normalized text is segmented left-to-right,
    always taking the LONGEST vocab piece that prefixes the remainder;
    a position no piece matches emits ``unk`` and advances one
    character.  Deterministic pure function of (word, vocab).

    Emits one row per non-empty document: ``(id, n_words, n_pieces,
    n_unk, pieces)`` where ``pieces`` is the space-joined encoded
    stream in document order.  Token-less documents drop out (inner
    explode — the vocab_oov contract).

    Scale shape (the Zipf trick): the corpus is NEVER tokenized row by
    row.  Words explode to (id, pos, word) — the only corpus shuffle is
    the final groupBy(id) reassembly — and the Python encoder runs ONLY
    over the DISTINCT-word relation, which Zipf makes orders of
    magnitude smaller than the corpus (a hot word is encoded once, not
    once per occurrence).  The vocab itself is model-sized and ships in
    the UDF closure; the encoded distinct-word table joins back on
    ``word`` (AQE's skew-join case for hot words — at web scale the
    distinct-word side is too large to broadcast wholesale).  This is
    the ONE sanctioned Python hot path in this module, and it is
    Arrow-batched over distinct words, never per corpus row.
    """
    words, encoded = _subword_encoded_words(df, vocab, text_col, id_col, unk)
    per = (
        words.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                ),
            ).alias("pieces"),
        )
    )
    ptoks = F.split(F.col("pieces"), " ")
    return per.select(
        id_col,
        "n_words",
        F.size(ptoks).cast("long").alias("n_pieces"),
        F.size(F.filter(ptoks, lambda x: x == unk)).cast("long").alias(
            "n_unk"
        ),
        "pieces",
    )

def shannon_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy quality signals: character-level and
    word-level entropy (bits) over the normalized text — the low-entropy
    tail is machine-generated boilerplate / keyword stuffing / padding,
    the very-high-entropy char tail is binary-ish garbage or encoded
    blobs; both are standard web-corpus quality cuts alongside the
    Gopher rules (:func:`gopher_quality_rules` covers the length/symbol
    half, :func:`repetition_signals` the repetition half — this op adds
    the distributional half).

    Emits ``(doc_id, n_chars, char_entropy, n_words, word_entropy)``
    with ``H = log2(n) - (sum_c c*log2(c)) / n`` over the within-row
    frequency table (algebraically -sum p*log2(p)); empty docs emit 0.0
    and zero counts.

    Scale design: the whole op is ONE scan-local projection — zero
    shuffles, zero joins.  The within-row frequency table is never
    materialized: units (chars / tokens) map to xxhash64 longs,
    ``array_sort`` groups equal units into runs, and one ``F.aggregate``
    pass folds sum(c*log2 c) over the run lengths (the
    repetition_signals run-length pattern, O(n log n) per row) — the
    naive alternative explodes corpus_chars rows into a (doc, unit)
    shuffle, which at 100 TB is the whole job.  A 64-bit hash collision
    merges two units' counts (~n^2/2^65 per row, the duplicate_spans
    precedent).  The fold accumulates in ascending-hash order — a
    deterministic order, but a DIFFERENT one than an oracle's GROUP BY
    would use, so the order-dependent float sum rounds to 6 decimals
    (the ngram_lm / source_kl discipline).
    """
    df = rebalance_for_compute(df.select(id_col, text_col))
    text = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col), text.alias("_norm")).select(
        id_col, "_norm", tokens_col(F.col("_norm")).alias("_toks")
    )

    def _entropy(units):
        """sum(c*log2 c) + n via one sorted run-length fold; returns
        struct(n long, h double) with h the entropy in bits."""
        runs = F.array_sort(F.transform(units, lambda u: F.xxhash64(u)))
        zero = F.struct(
            F.lit(0).cast("long").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("acc"),
            F.lit(0).cast("long").alias("n"),
        )

        def closed(acc):
            return F.when(
                acc["run"] > 0,
                acc["run"].cast("double")
                * F.log2(acc["run"].cast("double")),
            ).otherwise(F.lit(0.0))

        def step(acc, x):
            same = (acc["run"] > 0) & (x == acc["prev"])
            return F.when(
                same,
                F.struct(
                    acc["prev"].alias("prev"),
                    (acc["run"] + 1).alias("run"),
                    acc["acc"].alias("acc"),
                    (acc["n"] + 1).alias("n"),
                ),
            ).otherwise(
                F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    (acc["acc"] + closed(acc)).alias("acc"),
                    (acc["n"] + 1).alias("n"),
                )
            )

        def finish(acc):
            total = acc["acc"] + closed(acc)
            n = acc["n"]
            return F.struct(
                n.alias("n"),
                F.when(
                    n > 0,
                    F.log2(n.cast("double")) - total / n.cast("double"),
                ).otherwise(F.lit(0.0)).alias("h"),
            )

        return F.aggregate(runs, zero, step, finish)

    out = base.select(
        id_col,
        _entropy(
            F.when(
                F.length("_norm") > 0,
                F.transform(
                    F.sequence(F.lit(1), F.length("_norm")),
                    lambda i: F.substring(F.col("_norm"), i, F.lit(1)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_ce"),
        _entropy(F.col("_toks")).alias("_we"),
    )
    return out.select(
        id_col,
        F.col("_ce.n").alias("n_chars"),
        F.round(F.greatest(F.col("_ce.h"), F.lit(0.0)), 6).alias(
            "char_entropy"
        ),
        F.col("_we.n").alias("n_words"),
        F.round(F.greatest(F.col("_we.h"), F.lit(0.0)), 6).alias(
            "word_entropy"
        ),
    )

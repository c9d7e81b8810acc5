"""Corpus-scale retrieval and statistical-LM scoring operators.

Two first-class LLM-data-pipeline stages the reference has no analog for
(they exist here because a training-corpus build needs them, per the
driver brief):

* The n-gram LM family — CCNet-shape quality scoring (Wenzek et al.
  2020 use a KenLM 5-gram for exactly this filter stage): train a word
  n-gram model on a deterministic slice of the corpus, score every
  document by average negative log-likelihood (and perplexity).  The
  family is ONE core plus three log-probability projections:

  - the core (:func:`_lm_scores`): the n-gram expression
    (:func:`_ngrams`), the count table over the
    ``pmod(id, train_mod) < train_keep`` slice (:func:`_ngram_counts`;
    :func:`bigram_lm_model` / :func:`trigram_lm_model` are its
    ``(w1, w2, cb)`` / ``(w1, w2, w3, c3)`` artifacts), the model
    prologue (``model=`` / ``persist_model`` / ``model_handle``), the
    per-position relation ``(id, *carry, w1..wn)`` and the per-doc
    ``avg_nll`` / ``ppl`` tail;
  - :func:`ngram_lm_scores` — add-one-smoothed bigram;
  - :func:`trigram_lm_scores` — stupid-backoff trigram;
  - :func:`kn_lm_scores` — interpolated Kneser-Ney bigram.

  Every model is a relational count table, so the whole operator stays
  declarative DataFrame ops — no Python in the hot path, and the
  "model" is itself a distributed relation rather than a driver-side
  artifact.

* :func:`bm25_topk` — inverted-index BM25 retrieval (Robertson/Walker
  Okapi weighting): posting lists are the ``(term, doc, tf)`` relation,
  the query set broadcasts, and only the posting lists of query terms
  survive past the first join — the corpus itself never shuffles on
  anything but the one ``(doc_id, term)`` tf aggregation.  This is the
  shape used for contamination lookup / eval-set search over a corpus.

Scale notes (100 TB): the LM's count tables are keyed by term — vocab is
O(10^7..10^8) rows even web-scale, so the score-side joins are plain
shuffle hash joins on the exploded n-gram relation with map-side partial
aggregation back onto ``doc_id``; nothing is collected to the driver (the
scalar model stats ride a 1-row broadcast crossJoin, the same
sanctioned pattern as TF-IDF's doc count).  BM25's per-query work is
proportional to the matched posting lists, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pdfminer_six_spark.ops.textstats import (
    normalized_text,
    rebalance_for_compute,
    tokens_col,
)

# n-gram order -> (model count column, per-doc n-gram count column)
_ORDERS = {2: ("cb", "n_bigrams"), 3: ("c3", "n_trigrams")}


def _ngrams(toks, n: int):
    """Adjacent word n-grams of a token array as ``(w1..wn)`` structs,
    JVM-side: zip_with of the array against its own shifted slices,
    nested n-2 times because zip_with is binary.  Deliberately NOT
    transform+element_at(toks, i+k): an element_at over the unbound
    ``toks`` expression re-evaluates the whole regexp split per ELEMENT
    (O(tokens^2 * len) per row — measured 23.9 s vs 3.4 s on the sf0.1
    scoring pass), while zip_with evaluates each slice argument once per
    ROW and pairs elements positionally."""
    w = [f"w{i}" for i in range(1, n + 1)]
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.zip_with(
        F.slice(toks, n - 1, m),
        F.slice(toks, n, m),
        lambda a, b: F.struct(a.alias(w[-2]), b.alias(w[-1])),
    )
    for k in range(n - 2, 0, -1):
        grams = F.zip_with(
            F.slice(toks, k, m),
            grams,
            lambda a, p: F.struct(
                a.alias(w[k - 1]), *[p[x].alias(x) for x in w[k:]]
            ),
        )
    return grams


def _ngram_rows(df: DataFrame, toks, n: int, keys: list, carry: dict):
    """The position relation: one ``(*keys, *carry, w1..wn)`` row per
    n-gram of ``toks`` (``carry`` maps names to per-row expressions).
    Rows with fewer than n tokens have no n-grams and drop out (the
    explode is inner by design)."""
    names = [*keys, *carry]
    return (
        df.select(
            *[F.col(k) for k in keys],
            *[c.alias(nm) for nm, c in carry.items()],
            _ngrams(toks, n).alias("bg"),
        )
        .select(*names, F.explode("bg").alias("b"))
        .select(*names, *[f"b.w{i}" for i in range(1, n + 1)])
    )


def _ngram_counts(df, n, text_col, id_col, train_mod, train_keep):
    """n-gram count table ``(w1..wn, count)`` over the deterministic
    ``pmod(id, train_mod) < train_keep`` slice — RNG-free, stable under
    retries/speculation (same discipline as ``deterministic_split``)."""
    df = rebalance_for_compute(df)  # r06: see _lm_scores
    toks = tokens_col(normalized_text(F.col(text_col)))
    train = df.filter(F.pmod(F.col(id_col), F.lit(train_mod)) < train_keep)
    return (
        _ngram_rows(train, toks, n, [], {})
        .groupBy(*[f"w{i}" for i in range(1, n + 1)])
        .agg(F.count(F.lit(1)).alias(_ORDERS[n][0]))
    )


def _lm_model(model, build, persist_model, model_handle):
    """The model prologue: an external ``model`` is used as is;
    otherwise ``build()`` runs and, with ``persist_model``, its table is
    persisted and appended to ``model_handle`` (when given) so the
    caller can ``unpersist()`` it after its action.

    Why persist: the count table feeds several consumers (the score
    join plus the marginals and scalars derived from it) whose pruned
    subtrees do NOT ReuseExchange (measured: 4 corpus scans
    unpersisted for the add-one scorer).  Persisted, an operator reads
    the corpus text exactly twice (one model-build pass, one scoring
    pass), and the cached table is bounded by model size, not corpus
    size (MEMORY_AND_DISK spills if not).  Interleaved A/B at sf0.1
    local[32] (3 runs each): nopersist 24.0/23.1 s vs persist
    25.1/27.1 s — a wash where the corpus is 24 MB, kept ON for the
    scan count at 100 TB.  Without a handle the table stays cached for
    the session, one entry per distinct input plan."""
    if model is not None:
        return model
    built = build()
    if persist_model:
        built = built.persist()
        if model_handle is not None:
            model_handle.append(built)
    return built


def _lm_scores(df, n, project, text_col, id_col, train_mod, train_keep,
               persist_model, model, model_handle, carry=None):
    """The shared LM core: positions, model and per-doc tail around one
    projection.  ``project(counts)`` returns ``(lookups, scalars,
    logp)``: model-sized ``(table, keys)`` pairs that left-join the
    position relation in order (a miss leaves nulls for ``logp`` to
    coalesce), a 1-row scalar relation that rides a broadcast crossJoin,
    and the ``logp`` Column over the joined row.  Output: ``(id, *carry,
    n_bigrams | n_trigrams, avg_nll, ppl)`` with ``avg_nll =
    -sum(logp)/count`` and ``ppl = exp(avg_nll)``, both rounded to 6
    decimals: the per-doc sum of logs is shuffle-order-dependent in the
    last ulp (the driver's float canonicalization width)."""
    # r06: rebalance the scan — both passes (model build, scoring) do
    # their heavy work (tokenize + n-gram explode + partial agg) BEFORE
    # the first exchange, so an under-split local input runs them on
    # 1-2 cores.  No-op on a many-split corpus (the repetition_signals /
    # hll precedent).  A/B best-of-3 at sf0.1 local[32]: 2.47 -> 1.72 s.
    df = rebalance_for_compute(df)
    toks = tokens_col(normalized_text(F.col(text_col)))
    carry = carry or {}
    pos = _ngram_rows(df, toks, n, [id_col], carry)
    counts = _lm_model(
        model,
        lambda: _ngram_counts(df, n, text_col, id_col, train_mod, train_keep),
        persist_model,
        model_handle,
    )
    lookups, scalars, logp = project(counts)
    for table, keys in lookups:
        pos = pos.join(table, keys, "left")
    n_col = _ORDERS[n][1]
    agg = (
        pos.crossJoin(F.broadcast(scalars))
        .select(id_col, *carry, logp.alias("logp"))
        .groupBy(id_col, *carry)
        .agg(
            F.count(F.lit(1)).alias(n_col),
            (-F.sum("logp") / F.count(F.lit(1))).alias("_nll"),
        )
    )
    return agg.select(
        id_col, *carry, n_col,
        F.round(F.col("_nll"), 6).alias("avg_nll"),
        F.round(F.exp(F.col("_nll")), 6).alias("ppl"),
    )


def bigram_lm_model(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_mod: int = 10,
    train_keep: int = 8,
) -> DataFrame:
    """Build the bigram-LM model table: ``(w1, w2, cb)`` counts over the
    deterministic ``pmod(id, train_mod) < train_keep`` slice.  The model
    IS a relation — write it to parquet as the training artifact and
    feed it back to :func:`ngram_lm_scores` or :func:`kn_lm_scores` via
    ``model=`` for the train-once/score-many production path (scoring
    then reads the corpus text exactly once)."""
    return _ngram_counts(df, 2, text_col, id_col, train_mod, train_keep)


def trigram_lm_model(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_mod: int = 10,
    train_keep: int = 8,
) -> DataFrame:
    """Trigram count table ``(w1, w2, w3, c3)`` over the deterministic
    ``pmod(id, train_mod) < train_keep`` slice — the ONLY artifact the
    stupid-backoff scorer needs: every lower-order count it backs off to
    (bigram, unigram, totals, vocabulary) is a marginal SUM of this one
    relation, so the model stays a single parquet table exactly like
    :func:`bigram_lm_model`."""
    return _ngram_counts(df, 3, text_col, id_col, train_mod, train_keep)


def ngram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_mod: int = 10,
    train_keep: int = 8,
    persist_model: bool = True,
    model: DataFrame | None = None,
    model_handle: list | None = None,
    carry: dict | None = None,
) -> DataFrame:
    """Add-one-smoothed bigram-LM scoring of every document.

    Per document: every adjacent token pair contributes
    ``ln(cb+1) - ln(cu+V)`` (add-one smoothing; unseen bigrams/prefixes
    coalesce to 0) where ``cb(w1,w2)`` counts bigrams over the train
    slice, ``cu(w1)`` is the prefix marginal of ``cb`` and ``V`` the
    distinct words of ``cb``'s pairs.  Output ``(id, *carry,
    n_bigrams, avg_nll, ppl)``; documents with fewer than two tokens
    have no bigrams and drop out (a <2-token doc has no defined LM
    score).

    ``carry`` is an optional ``{name: Column}`` mapping of per-document
    expressions over ``df`` to thread through the scoring pipeline and
    emit alongside the score columns.  A carried column rides the bigram
    explode and the per-doc aggregation as an extra grouping key, which
    costs a few bytes per exploded row — but saves the consumer a SECOND
    corpus scan plus a doc_id join to attach the same value (the
    ccnet_buckets pred_lang case: one scan computes score inputs AND the
    language vote).  Each carried expression must be functionally
    determined by the document row (it becomes part of the groupBy key).

    Model lifetime (see :func:`_lm_model`): with ``persist_model=True``
    and no external ``model`` the count table is persisted; pass a list
    as ``model_handle`` to receive it and ``unpersist()`` it once the
    scoring action has run (jobs/score.py does exactly this after its
    write).  ``model=`` takes a :func:`bigram_lm_model` relation
    (typically read back from parquet) and skips the train slice; the
    round trip is pytest-pinned equal to the inline path.
    """

    def add_one(cb):
        # cu(w1) = sum of cb over w2 (the conditional denominator —
        # prefix-position counts, not raw unigram counts); V is a
        # scalar: 1-row broadcast crossJoin (see tfidf_top_terms).
        cu = cb.groupBy("w1").agg(F.sum("cb").alias("cu"))
        v = cb.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
            F.count_distinct("w").alias("v")
        )
        return [(cb, ["w1", "w2"]), (cu, ["w1"])], v, (
            F.log(F.coalesce(F.col("cb"), F.lit(0)).cast("double") + 1.0)
            - F.log(
                F.coalesce(F.col("cu"), F.lit(0)).cast("double")
                + F.col("v").cast("double")
            )
        )

    return _lm_scores(df, 2, add_one, text_col, id_col, train_mod,
                      train_keep, persist_model, model, model_handle, carry)


def trigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_mod: int = 10,
    train_keep: int = 8,
    alpha: float = 0.4,
    persist_model: bool = True,
    model: DataFrame | None = None,
    model_handle: list | None = None,
) -> DataFrame:
    """Trigram LM scoring with STUPID BACKOFF (Brants et al. 2007 §4 —
    the web-scale scheme: no discounting to normalize, a fixed backoff
    penalty ``alpha``), one order up from :func:`ngram_lm_scores` toward
    the 5-gram KenLM CCNet actually runs:

        score(w3 | w1 w2) = c3/c2p                   if the trigram is in
                                                     the model (c2p = the
                                                     prefix marginal)
                          = a * c2l/c1m              else if (w2,w3) seen
                          = a^2 * (c1l(w3)+1)/(T+V)  else (add-one floor,
                                                     so unseen words score
                                                     finitely)

    Every count is a marginal of the single c3 table (c2l misses the
    first bigram of each train doc — a self-consistent, documented
    approximation that keeps the model ONE relation).  All log-prob
    arithmetic is spelled ``ln(count) - ln(denom)`` in BOTH engines (a
    quotient-then-log disagrees in the last ulp), counts are exact ints,
    and the per-doc mean rounds to 6 decimals.  Output ``(id,
    n_trigrams, avg_nll, ppl)``.

    Scale shape: the three backoff levels join the corpus POSITION
    relation largest-key-first, each level only touching the previous
    level's misses via coalesce on left joins; all enrichment
    (marginals, log-probs) happens on the MODEL-sized table before any
    corpus join.  ``persist_model`` / ``model`` (a
    :func:`trigram_lm_model` relation) / ``model_handle`` follow
    :func:`ngram_lm_scores`."""

    def backoff(c3):
        ln = F.log
        la = F.log(F.lit(float(alpha)))
        ltv = ln(F.col("t_total").cast("double") + F.col("v").cast("double"))
        c2p = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c2p"))
        p3 = c3.join(c2p, ["w1", "w2"]).select(
            "w1", "w2", "w3",
            (ln(F.col("c3").cast("double")) - ln(F.col("c2p").cast("double"))
             ).alias("logp3"),
        )
        c2l = c3.groupBy("w2", "w3").agg(F.sum("c3").alias("c2l"))
        c1m = c3.groupBy("w2").agg(F.sum("c3").alias("c1m"))
        p2 = c2l.join(c1m, ["w2"]).select(
            "w2", "w3",
            (la + ln(F.col("c2l").cast("double"))
             - ln(F.col("c1m").cast("double"))).alias("logp2"),
        )
        c1l = c3.groupBy("w3").agg(F.sum("c3").alias("c1l"))
        tv = c3.agg(
            F.sum("c3").alias("t_total"),
            F.count_distinct("w3").alias("v"),
        )
        p1 = c1l.crossJoin(F.broadcast(tv)).select(
            "w3",
            (la + la + ln(F.col("c1l").cast("double") + 1.0) - ltv).alias("logp1"),
        )
        lookups = [(p3, ["w1", "w2", "w3"]), (p2, ["w2", "w3"]), (p1, ["w3"])]
        return lookups, tv, F.coalesce(
            F.col("logp3"),
            F.col("logp2"),
            F.col("logp1"),
            # w3 never seen at all: the add-one floor with c1l = 0
            la + la + ln(F.lit(1.0)) - ltv,
        )

    return _lm_scores(df, 3, backoff, text_col, id_col, train_mod,
                      train_keep, persist_model, model, model_handle)


def kn_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    train_mod: int = 10,
    train_keep: int = 8,
    persist_model: bool = True,
    model: DataFrame | None = None,
    model_handle: list | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram-LM scoring (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.26) — the smoothing family CCNet's KenLM
    actually uses, completing the scorer ladder next to the add-one
    bigram (:func:`ngram_lm_scores`) and stupid-backoff trigram
    (:func:`trigram_lm_scores`):

        P(w2|w1) = max(cb - d, 0)/cu + (d * n1f(w1)/cu) * Pc(w2)

    with absolute discount ``d``, ``n1f(w1)`` the number of distinct
    continuations of ``w1``, and the CONTINUATION distribution
    ``Pc(w2) = (cont(w2) + 1)/(B + V + 1)`` where ``cont(w2)`` counts
    distinct predecessors, ``B`` distinct bigrams and ``V`` vocabulary
    types — add-one-floored over V+1 outcomes (the +1 is the OOV
    bucket) so unseen words score finite instead of -inf.  An unseen
    PREFIX (cu = 0) backs off to ``Pc(w2)`` alone.

    Every model relation (cu, n1f, cont, B, V) derives from the ONE
    bigram count table ``cb`` of :func:`bigram_lm_model` — same
    train/score contract, model-table persistence rules
    (``persist_model`` / ``model_handle`` / external ``model``) and
    output shape ``(doc_id, n_bigrams, avg_nll, ppl)`` as
    ngram_lm_scores.

    Float determinism: P is one fixed-shape arithmetic expression over
    exact integer-derived doubles — spelled identically in the oracle so
    both engines run the same IEEE ops — and the per-doc mean of lns is
    the only order-dependent sum, rounded to 6."""

    def kneser_ney(cb):
        cu = cb.groupBy("w1").agg(
            F.sum("cb").alias("cu"), F.count(F.lit(1)).alias("n1f")
        )
        cont = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("cont"))
        # scalars B (distinct bigrams) and V (vocab types) in ONE 1-row
        # broadcast (r06): the exploded pair relation has exactly 2 rows
        # per cb row, so B = count/2 — merging the two scalar aggregates
        # halves the broadcast sub-jobs and the crossJoins.
        bv = cb.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("b"),
            F.count_distinct("w").alias("v"),
        )
        d = F.lit(float(discount))
        pc = (F.coalesce(F.col("cont"), F.lit(0)).cast("double") + 1.0) / (
            F.col("b").cast("double") + F.col("v").cast("double") + 1.0
        )
        cud = F.col("cu").cast("double")
        seen = (
            F.greatest(
                F.coalesce(F.col("cb"), F.lit(0)).cast("double") - d,
                F.lit(0.0),
            )
            / cud
            + d * F.col("n1f").cast("double") / cud * pc
        )
        lookups = [(cb, ["w1", "w2"]), (cu, ["w1"]), (cont, ["w2"])]
        return lookups, bv, F.log(F.when(F.col("cu").isNull(), pc).otherwise(seen))

    return _lm_scores(df, 2, kneser_ney, text_col, id_col, train_mod,
                      train_keep, persist_model, model, model_handle)


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k retrieval over the corpus.

    ``queries`` is a ``(query_id, term)`` relation with distinct terms
    per query (the caller's contract); it is broadcast, so the expensive
    side — the ``(doc, term, tf)`` posting relation — is immediately
    semi-restricted to query terms and everything downstream is
    proportional to the matched posting lists.  The one corpus-sized
    relation that does join after the restriction is ``dl`` (document
    length): one row of two longs per document, so that equi-join
    shuffles id+length pairs, never text — and AQE broadcasts the
    matched side instead when it is small enough.

    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``;
    ``w(t,d) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``;
    a document's score for a query is the sum over matched terms.

    Ranking determinism: ties (and last-ulp float divergence between
    engines) are neutralized by ranking on the 6-decimal-rounded score
    with ``doc_id`` as the final tiebreak; the emitted ``score`` is the
    same rounded value.
    """
    # r06 note: rebalance_for_compute(corpus) was A/B-measured here and
    # REJECTED (1.52 -> 2.12 s): unlike the LM scorers, this op reads
    # the corpus relation three times (tf twice, dl once, n_docs count)
    # and an input repartition repeats the full-text shuffle per
    # consumer, swamping the map-side parallelism gain.
    toks = corpus.select(
        F.col(id_col),
        F.explode(tokens_col(normalized_text(F.col(text_col)))).alias("term"),
    )
    # r06 note: two candidate rewrites were A/B-measured and REJECTED —
    # persisting tf (the postings index) regressed 1.82 -> 3.05 s at
    # sf0.1 (cache materialization + broadcast sub-job serialization
    # beat the saved recomputes at bench scale), and deriving dl from tf
    # (sum(tf) per doc) regressed 1.82 -> 2.35 s (it turns dl's one
    # map-side-combining shuffle into two chained aggregations).  The
    # original shape stands.
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    # document frequency only matters for query terms — restrict FIRST
    dfreq = (
        tf.join(F.broadcast(queries.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("dfq"))
    )
    stats = corpus.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(dl.agg(F.avg("dl").alias("avgdl")))
    )
    matched = (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5)
    )
    w = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    per_doc = matched.groupBy("query_id", id_col).agg(
        F.round(F.sum(w), 6).alias("score")
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col(id_col)
        )
    )
    return (
        per_doc.withColumn("rank", rn.cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def ccnet_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: DataFrame | None = None,
    cutoffs: str = "exact",
    sketch_accuracy: int = 10000,
    model_handle: list | None = None,
) -> DataFrame:
    """CCNet corpus partitioning (Wenzek et al. 2020 §4.4): bucket every
    document into perplexity terciles WITHIN its predicted language —
    bucket 1 = head (lowest perplexity, highest quality), 2 = middle,
    3 = tail.  CCNet trains on head/middle and drops or down-weights the
    tail; the bucket column is exactly that dial.

    Composition of two existing operators (bigram-LM scoring + stopword
    language ID) plus the bucket assignment, which has two paths:

    * ``cutoffs='exact'`` — equal-count NTILE over
      ``Window.partitionBy(pred_lang).orderBy(ppl, id)``.  Exact and
      deterministic (rounded ppl, ``id_col`` tiebreak), and the oracle /
      audit path — but the window funnels every document of a language
      through ONE task's sort.  Fine at bench scale; at 100 TB the
      English partition is billions of rows and this window IS the job.

    * ``cutoffs='sketch'`` — the 100× plan (the length-quantiles-sketch
      pattern): per-language boundary perplexities come from
      ``percentile_approx`` — a mergeable partial-aggregating sketch, no
      per-language sort anywhere — and each document's bucket is assigned
      by comparing its ppl against its language's (n_buckets-1)-element
      cutoff array via a tiny broadcast join on ``pred_lang``.  Boundary
      ties: every document with ppl == a cutoff lands in the LOWER
      bucket (``ppl > cutoff`` strictly advances), so equal scores can
      never straddle buckets — unlike NTILE, which splits ties to
      equalize counts.  Consequently sketch bucket counts can deviate
      from exact by the tie mass at each boundary (plus sketch error
      ~1/sketch_accuracy relative rank); the exact-vs-sketch differential
      is pytest-pinned at test scale.

    ``model`` and ``model_handle`` pass through to the scorer (see
    :func:`ngram_lm_scores` for the model's cache lifetime).
    """
    from pdfminer_six_spark.ops.textstats import language_vote_expr

    # r06: the language vote is CARRIED through the scoring pipeline
    # (ngram_lm_scores carry=) instead of computed by a second
    # language_id corpus scan and attached with a doc_id join — one
    # corpus read fewer and one join fewer for identical rows (the vote
    # is a pure per-row function of text).  The lowercased token array
    # is projected once (`_lang_toks`) so the split never re-evaluates
    # per language (the _ngrams O(tokens^2) lesson).
    from pdfminer_six_spark.ops.textstats import tokens_col as _tc

    base = df.withColumn(
        "_lang_toks",
        F.transform(_tc(F.col(text_col)), lambda t: F.lower(t)),
    )
    joined = ngram_lm_scores(
        base,
        text_col=text_col,
        id_col=id_col,
        model=model,
        model_handle=model_handle,
        carry={"pred_lang": language_vote_expr(F.col("_lang_toks"))},
    )
    if cutoffs == "exact":
        from pyspark.sql.window import Window

        bucket = F.ntile(n_buckets).over(
            Window.partitionBy("pred_lang").orderBy(
                F.col("ppl"), F.col(id_col)
            )
        )
    elif cutoffs == "sketch":
        qs = [i / n_buckets for i in range(1, n_buckets)]
        # One extra pass over the (id, ppl, lang) relation — NOT the
        # corpus text — aggregated map-side into per-language sketches:
        # a few-row table, broadcast back onto the scored relation.
        bounds = joined.groupBy("pred_lang").agg(
            F.percentile_approx("ppl", qs, sketch_accuracy).alias("cuts")
        )
        joined = joined.join(F.broadcast(bounds), "pred_lang")
        bucket = F.lit(1) + F.size(
            F.filter("cuts", lambda c: F.col("ppl") > c)
        )
    else:  # pragma: no cover - guarded API
        raise ValueError(f"cutoffs must be 'exact' or 'sketch': {cutoffs}")
    return joined.select(
        id_col, "pred_lang", "ppl", bucket.cast("long").alias("bucket")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed_buckets: int | None = None,
    persist_model: bool = True,
    model_handle: list | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023): score every raw document by how much more likely its n-gram
    features are under the TARGET distribution than under the raw
    corpus's own distribution —

        log w(x) = sum_f c_x(f) * (ln p_t(f) - ln q_r(f))

    with add-one smoothing over the union feature vocabulary:
    ``p_t(f) = (ct+1)/(Tt+V)``, ``q_r(f) = (cr+1)/(Tr+V)``.  Features
    are word unigrams plus bigrams of the normalized text.

    Exact path (``hashed_buckets=None``): features are the n-gram
    strings themselves — fully SQL-expressible, the oracle path.
    Scale path (``hashed_buckets=k``): the paper's hashed estimator —
    features map to ``pmod(xxhash64(feat), k)`` BEFORE any aggregation,
    bounding the model table at k rows regardless of vocabulary (k=10^4
    in the paper).  With k far above the vocabulary size the hashed
    weights equal the exact ones except for rare collisions
    (pytest-pinned differential); V is always the count of DISTINCT
    OBSERVED features, so both paths smooth over the same support.

    Scale design: one shuffle builds the model (union of both corpora's
    features, conditionally counted per side), one 1-row scalar
    aggregate (Tt, Tr, V) rides a broadcast crossJoin onto the PER-DOC
    aggregate (never the feature relation), and scoring is an equi-join
    of per-doc feature counts against the model.  Per-doc counts
    collapse map-side (a row's explosion stays in its partition).

    Returns ``(id_col, n_feats, log_w)``; documents with zero features
    drop out (no defined weight — the ngram_lm <2-token precedent).
    ``persist_model``/``model_handle`` follow the ngram_lm_scores cache
    contract (the persisted feature-count table is model-sized; a
    long-lived session scoring many inputs should unpersist via the
    handle after its action).
    ``log_w`` rounds to 6 decimals: the per-doc sum of logs is
    shuffle-order-dependent in the last ulp (same discipline as
    ngram_lm_scores).
    """

    def feats(df: DataFrame):
        df = rebalance_for_compute(df)  # r06: see ngram_lm_scores
        toks = tokens_col(normalized_text(F.col(text_col)))
        bg = F.transform(
            _ngrams(toks, 2), lambda b: F.concat_ws(" ", b["w1"], b["w2"])
        )
        out = df.select(
            F.col(id_col), F.explode(F.concat(toks, bg)).alias("feat")
        )
        if hashed_buckets is not None:
            out = out.select(
                id_col,
                F.pmod(F.xxhash64("feat"), F.lit(hashed_buckets)).alias(
                    "feat"
                ),
            )
        return out

    tagged = feats(target).select(
        "feat", F.lit(1).alias("is_t"), F.lit(0).alias("is_r")
    ).unionAll(
        feats(raw).select(
            "feat", F.lit(0).alias("is_t"), F.lit(1).alias("is_r")
        )
    )
    # the model relation feeds THREE consumers (llr, scalars) whose
    # pruned subtrees don't ReuseExchange — unpersisted, each re-scans
    # both corpora's text (measured 5 parquet scans in the plan).  The
    # persisted table is vocab-sized (or k buckets), not corpus-sized.
    # With it the op reads target text once and raw text twice (model
    # build + scoring).
    model = _lm_model(
        None,
        lambda: tagged.groupBy("feat").agg(
            F.sum("is_t").alias("ct"), F.sum("is_r").alias("cr")
        ),
        persist_model,
        model_handle,
    )
    scalars = model.agg(
        F.sum("ct").alias("tt"),
        F.sum("cr").alias("tr"),
        F.count(F.lit(1)).alias("v"),
    )
    llr = model.select(
        "feat",
        (
            F.log(F.col("ct").cast("double") + 1.0)
            - F.log(F.col("cr").cast("double") + 1.0)
        ).alias("llr"),
    )
    doc_feats = feats(raw).groupBy(id_col, "feat").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = (
        doc_feats.join(llr, "feat")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("llr")).alias("_core"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(scalars))
        .select(
            id_col,
            "n_feats",
            F.round(
                F.col("_core")
                - F.col("n_feats").cast("double")
                * (
                    F.log(F.col("tt").cast("double") + F.col("v"))
                    - F.log(F.col("tr").cast("double") + F.col("v"))
                ),
                6,
            ).alias("log_w"),
        )
    )

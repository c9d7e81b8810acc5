"""Corpus-cleaning operators a large-scale training-data pipeline needs:
PII redaction and paragraph-level (CCNet-style) deduplication.

Scale notes (100 TB): redaction is a pure per-row projection — zero
shuffles, whole-stage codegen end to end.  Paragraph dedup explodes docs
into paragraphs (row multiplier ~ paragraphs/doc, same class as the
shingle explosion in ops/dedup.py); the global first-occurrence choice is
a map-side-combinable min-aggregate per paragraph fingerprint, NOT a
window over the fingerprint — a window would funnel every copy of a hot
boilerplate paragraph (billions of rows for "subscribe to our
newsletter") through one task, while the min-agg reduces them to one row
per fingerprint before the join back, and the join's residual skew is
AQE's skew-join case.  Reassembly groups by doc_id: per-task state is one
document's own paragraphs, which any parser task already holds.
"""

from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "PII_PATTERNS",
    "redact_pii",
    "paragraph_dedup",
    "pack_sequences",
    "chunk_documents",
    "blocklist_filter",
    "c4_line_clean",
    "source_upsample",
    "funnel_report",
    "token_budget_select",
    "train_order",
    "temperature_mix",
    "FORMATTING_RULES",
    "normalize_formatting",
]


# (name, regex, replacement) — patterns restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): no lookaround, no
# backreferences, \b and non-capturing groups only.
PII_PATTERNS: Tuple[Tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: Sequence[Tuple[str, str, str]] = PII_PATTERNS,
) -> DataFrame:
    """Replace PII spans with typed tokens and count them per row.

    Adds ``redacted`` plus one ``n_<name>`` count column per pattern.
    NULL text is treated as the empty string (counts 0, redacted ''), so
    a corpus with missing payloads never propagates nulls into the
    cleaning stats.
    Counts are taken on the ORIGINAL text (before any replacement) so
    pattern order cannot hide matches; replacements then apply in the
    given order (email before ip/phone, so an address is consumed as a
    whole before its digit runs could partially match anything else).
    Pure built-in projection: no Python, no shuffle, fully codegen'd.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    for name, pat, _repl in patterns:
        out = out.withColumn(f"n_{name}", F.regexp_count(text, F.lit(pat)))
    red = text
    for _name, pat, repl in patterns:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn("redacted", red)


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-global paragraph dedup: every paragraph survives only at its
    first occurrence (ordered by (doc_id, position)); later copies — the
    classic boilerplate paragraphs repeated across millions of pages — are
    dropped and each doc is reassembled from its surviving paragraphs.

    Returns (id_col, clean_text, n_paras, n_kept); docs whose every
    paragraph appeared earlier elsewhere come back with clean_text = ''.

    The first-occurrence winner per fingerprint is ``min(struct(doc_id,
    pos))`` — an algebraic aggregate with map-side partials, deliberately
    not ``row_number() OVER (PARTITION BY fp)`` (see module docstring for
    the hot-paragraph skew argument).

    Input contract (same as jobs/dedup.py): ``id_col`` is UNIQUE and
    NON-NULL per row.  Callers join this relation back to the source on
    ``id_col`` (jobs/clean.py does), so a NULL id silently drops the row
    and a repeated id cross-multiplies/merges documents.
    """
    import re

    # sep is a LITERAL separator (jobs/clean.py --para-sep), but F.split
    # takes a Java regex — escape it so e.g. '||' or '(' can't explode
    # the text at every character or throw a pattern error.  re.escape
    # (3.7+) escapes only regex-special ASCII, all of which Java accepts.
    sep_re = re.escape(sep)
    text = F.coalesce(F.col(text_col), F.lit(""))  # null-safe like redact_pii
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(text, sep_re)).alias("pos", "para"),
    ).withColumn("fp", F.xxhash64("para"))
    firsts = paras.groupBy("fp").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "first"
        )
    )
    kept = (
        paras.join(firsts, "fp")
        .filter(
            (F.col(id_col) == F.col("first.i")) & (F.col("pos") == F.col("first.p"))
        )
        .select(id_col, "pos", "para")
    )
    clean = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(F.split(text, sep_re)).alias("n_paras")
    )
    return totals.join(clean, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 256,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy contiguous sequence packing — the corpus-assembly step that
    turns cleaned documents into fixed-capacity training sequences
    (sample packing): documents are laid end-to-end in stable id order
    and cut into ``capacity``-token bins, so a document starts at the
    offset where the previous one ended and may straddle a bin boundary.

    Emits one row per document: ``(doc_id, shard, seq_idx, tok_offset,
    n_tokens, straddles)`` where ``seq_idx`` is the bin the document
    STARTS in (shard-local), ``tok_offset`` its token offset in that bin,
    and ``straddles`` whether it crosses into the next bin.  Token counts
    use the shared whitespace tokenizer (ops/textstats.tokens_col), so
    the numbers line up with every other oracled text op.

    Scale (100 TB): a single global running sum would serialize the
    corpus through one task, so packing is SHARDED — ``shard =
    doc_id % n_shards``, and the running sum is a window partitioned by
    shard, ordered by doc_id.  Each shard sorts and scans only its slice
    (one shuffle on shard), shards pack independently, and n_shards
    scales with the cluster; the emitted sequences are identical across
    cluster sizes because shard assignment and intra-shard order are
    pure functions of doc_id.  All arithmetic is integer (cumulative
    sums, DIV, MOD) — bit-identical on any engine, no float discipline
    needed.
    """
    from .textstats import tokens_col

    toks = F.size(tokens_col(F.col(text_col))).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cap = F.lit(capacity).cast("long")
    return (
        df.select(
            id_col,
            F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
            toks.alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("start", F.col("cum") - F.col("n_tokens"))
        .select(
            id_col,
            "shard",
            F.expr(f"start DIV {capacity}").alias("seq_idx"),
            F.pmod(F.col("start"), cap).alias("tok_offset"),
            "n_tokens",
            (
                (F.col("n_tokens") > 0)
                & (
                    F.expr(f"(cum - 1) DIV {capacity}")
                    > F.expr(f"start DIV {capacity}")
                )
            ).alias("straddles"),
        )
    )


def pack_sequences_nosplit(
    df: DataFrame,
    capacity: int = 256,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Next-fit NO-SPLIT sequence packing — the other standard packing
    mode (:func:`pack_sequences` lays documents end-to-end and lets them
    straddle bin boundaries; here a document NEVER straddles): walk the
    shard's documents in ascending id order, place each at the current
    bin's write offset if it fits in the remaining capacity, otherwise
    close the bin (leaving padding waste) and start a new one.  A
    document longer than ``capacity`` gets a bin of its own, flagged
    ``oversize`` (the consumer truncates or re-chunks those).  This is
    the mode training stacks use when cross-document attention
    contamination at bin boundaries matters more than padding waste.

    Emits ``(doc_id, shard, seq_idx, tok_offset, n_tokens, oversize)``
    — all integers + a boolean, bit-identical on any engine.

    Scale design: next-fit is a sequential recurrence with a RESET (the
    running offset snaps to 0 whenever a document does not fit), which
    no window/prefix-sum expresses — so packing is SHARDED exactly like
    :func:`pack_sequences` (``shard = doc_id % n_shards``) and each
    shard runs one Arrow-batched ``applyInPandas`` group: one shuffle
    on shard, a per-DOCUMENT (not per-token) numpy walk inside the
    group, shards pack independently and n_shards scales with the
    cluster.  Output is identical across cluster sizes because shard
    assignment and intra-shard order are pure functions of doc_id.  The
    oracle replays the identical recurrence as a recursive CTE.
    """
    from .textstats import tokens_col

    spark_schema = (
        f"{id_col} long, shard long, seq_idx long, tok_offset long, "
        "n_tokens long, oversize boolean"
    )

    def _pack(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col, kind="mergesort")
        n = pdf["n_tokens"].to_numpy()
        seq = np.zeros(len(n), dtype=np.int64)
        off = np.zeros(len(n), dtype=np.int64)
        bin_idx, used = 0, 0
        for i, ni in enumerate(n):
            # an empty bin always accepts (an oversize doc occupies the
            # CURRENT empty bin rather than skipping an index)
            if used + ni <= capacity or used == 0:
                seq[i], off[i] = bin_idx, used
                used += ni
            else:
                bin_idx += 1
                seq[i], off[i] = bin_idx, 0
                used = ni
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "shard": pdf["shard"].to_numpy(),
                "seq_idx": seq,
                "tok_offset": off,
                "n_tokens": n,
                "oversize": n > capacity,
            }
        )

    toks = F.size(tokens_col(F.col(text_col))).cast("long")
    return (
        df.select(
            F.col(id_col),
            F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
            toks.alias("n_tokens"),
        )
        .groupBy("shard")
        .applyInPandas(_pack, spark_schema)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    between cleaning and embedding/training: each document explodes into
    windows of ``chunk_tokens`` whitespace tokens starting every
    ``stride`` tokens (stride < chunk_tokens overlaps consecutive chunks,
    the usual RAG/long-doc recipe; the last window is allowed short).
    A start whose window would be FULLY CONTAINED in the previous one
    (previous window already reaches the document end, i.e.
    ``start - stride + chunk_tokens >= n_tokens``) is not emitted —
    otherwise e.g. n=60/chunk=64/stride=48 would emit a second chunk
    entirely inside the first and downstream embedding/training
    consumers would see duplicate coverage.

    Emits ``(doc_id, chunk_idx, start_tok, end_tok, n_chunk_tokens,
    chunk_text)`` — token offsets are half-open [start_tok, end_tok) over
    the shared whitespace tokenizer, so chunks line up with every other
    oracled text op; empty documents emit no chunks.  ``chunk_text``
    re-joins the window's tokens with single spaces (chunking operates on
    the token stream, not raw bytes).

    Scale (100 TB): pure per-row explode — zero shuffles, row multiplier
    ~ n_tokens/stride, everything whole-stage codegen; the chunk relation
    partitions exactly like its source, so a downstream embed/dedup stage
    starts from scan-local data.
    """
    from .textstats import tokens_col

    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    # last useful start: s == 0, or s + chunk_tokens - stride < n (the
    # previous window does NOT already reach the end) — and never past
    # the last token (covers stride > chunk_tokens gap layouts too).
    last = F.greatest(
        F.lit(0), F.least(n - 1, n - chunk_tokens + stride - 1)
    )
    starts = F.when(
        n > 0, F.sequence(F.lit(0), last, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(id_col, toks.alias("_toks"), n.alias("_n"), starts.alias("_starts"))
        .select(
            id_col,
            "_toks",
            "_n",
            F.posexplode("_starts").alias("chunk_idx", "start_tok"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.col("start_tok").cast("long").alias("start_tok"),
            F.least(
                F.col("start_tok") + F.lit(chunk_tokens), F.col("_n")
            ).cast("long").alias("end_tok"),
            (
                F.least(F.col("start_tok") + F.lit(chunk_tokens), F.col("_n"))
                - F.col("start_tok")
            ).cast("long").alias("n_chunk_tokens"),
            F.concat_ws(
                " ", F.slice("_toks", F.col("start_tok") + 1, F.lit(chunk_tokens))
            ).alias("chunk_text"),
        )
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: Sequence[str] = ("slow", "dup"),
    text_col: str = "text",
) -> DataFrame:
    """C4-style blocklist (dirty-word) document filter: count occurrences
    of blocklisted tokens (case-insensitive whole tokens, not substrings
    — 'class' never matches a 3-letter entry) and flag any document with
    at least one.  The default list is a deterministic stand-in wired to
    the synthetic vocabulary; production passes the real list.

    Scan-local projection, zero shuffle: the blocklist is a literal array
    in the plan (real lists are a few hundred entries — for very large
    lists switch to a broadcast join on exploded tokens).  NULL text is
    treated as the empty string."""
    from pdfminer_six_spark.ops.textstats import normalized_text, tokens_col

    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens_col(normalized_text(text))
    bl = F.array(*[F.lit(w.lower()) for w in blocklist])
    n_blocked = F.size(F.filter(toks, lambda t: F.array_contains(bl, t)))
    return df.withColumns(
        {"n_blocked": n_blocked, "blocked": n_blocked > 0}
    )


def c4_line_clean(
    df: DataFrame,
    min_words: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """C4 line-level cleaning rules (Raffel et al. 2020 §2.2): keep only
    lines that end in terminal punctuation (. ! ? or a closing quote
    after one) and contain at least ``min_words`` words; emit the
    surviving text plus per-doc line counts.

    Scan-local projection, zero shuffle — lines never leave their row
    (split -> filter -> array_join), so at 100 TB this runs at scan
    speed.  NULL text is treated as the empty string; a document whose
    every line is dropped emits ``clean_text = ''``."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, "\n")
    word_ok = lambda l: (  # noqa: E731
        F.size(F.filter(F.split(F.trim(l), "\\s+"), lambda w: w != ""))
        >= min_words
    )
    punct_ok = lambda l: F.rtrim(l).rlike('[.!?]["\']?$')  # noqa: E731
    kept = F.filter(lines, lambda l: word_ok(l) & punct_ok(l))
    return df.withColumns(
        {
            "n_lines": F.size(lines),
            "n_lines_kept": F.size(kept),
            "clean_text": F.array_join(kept, "\n"),
        }
    )


def source_upsample(
    df: DataFrame,
    rates: dict,
    id_col: str = "doc_id",
    source_col: str = "source",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic source UP-sampling — the mixture-building
    counterpart of the down-sampling ``corpus_mix``: a source with rate
    r contributes floor(r) full copies of every document plus one more
    copy for a deterministic frac(r) Bernoulli of documents ("2.5 epochs
    of wiki").  Emits one row per (document, epoch) with ``epoch`` in
    1..n_copies; rate 0 drops the source entirely.

    Determinism: the fractional-copy membership is the md5-prefix
    threshold on the doc id (the deterministic_split/corpus_mix
    technique) — a pure function of the id, RNG-free, identical under
    retries/speculation, and reproducible in the DuckDB oracle via the
    same hex-prefix arithmetic.

    Scale shape: scan-local explode (rows never leave their split; the
    blow-up factor is the mixture spec, exactly the cost the caller
    asked for).  Downstream writers see the epoch column and can salt
    shard assignment with it so replicas don't co-locate."""
    rate = None
    for src, r in sorted(rates.items()):
        cond = F.col(source_col) == src
        rate = (
            F.when(cond, float(r))
            if rate is None
            else rate.when(cond, float(r))
        )
    rate = (
        rate.otherwise(float(default_rate))
        if rate is not None
        else F.lit(float(default_rate))
    )
    n_base = F.floor(rate).cast("int")
    frac = rate - F.floor(rate)
    h4 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    in_frac = (
        F.conv(h4, 16, 10).cast("double") / F.lit(65536.0) < frac
    ).cast("int")
    n_copies = n_base + in_frac
    epochs = F.when(
        n_copies >= 1, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        id_col, source_col, F.explode(epochs).alias("epoch")
    )


def funnel_report(
    df: DataFrame,
    text_col: str = "text",
    blocklist: Sequence[str] = ("slow", "dup"),
    min_words: int = 3,
) -> DataFrame:
    """Filter-funnel accounting: how many documents (and tokens) survive
    each stage of the standard heuristic battery, computed in ONE corpus
    scan.  Stages, in pipeline order: Gopher quality rules -> blocklist
    -> C4 line cleaning (a doc survives stage 3 if at least one line
    survives).  Output: one row per stage with docs/tokens entering and
    surviving.

    The 100 TB point of this operator is its shape: a naive funnel runs
    k filters SEQUENTIALLY and counts after each — k scans (or a cached
    intermediate per stage).  Here every stage's flag is a scan-local
    projection over the same row (Catalyst collapses the composed
    withColumns into one projection), cumulative survival is
    flag-conjunction, and the whole report is one map-side-combinable
    aggregate producing a single wide row reshaped to per-stage rows by
    ``inline`` on a 1-row relation — one scan, one 6-column reduction,
    no shuffle of any text."""
    from pdfminer_six_spark.ops.textstats import gopher_quality_rules
    from pdfminer_six_spark.spark.partitions import spread

    # r06: rebalance the scan (repetition_signals precedent) — every
    # stage flag is heavy scan-local per-row work (dup-2gram ratio, line
    # battery) and the one aggregate collapses map-side to a single wide
    # row, so an under-split local input would otherwise compute the
    # whole funnel on one core.  No-op on a many-split corpus.
    feats = c4_line_clean(
        blocklist_filter(
            gopher_quality_rules(spread(df), text_col),
            blocklist,
            text_col,
        ),
        min_words,
        text_col,
    )
    f1 = F.col("keep")
    f2 = f1 & ~F.col("blocked")
    f3 = f2 & (F.col("n_lines_kept") >= 1)
    nt = F.col("n_tokens").cast("long")

    def _kept(flag):
        return F.sum(F.when(flag, nt).otherwise(F.lit(0)))

    agg = feats.agg(
        F.count("*").alias("n0"),
        F.sum(nt).alias("t0"),
        F.sum(f1.cast("long")).alias("n1"),
        _kept(f1).alias("t1"),
        F.sum(f2.cast("long")).alias("n2"),
        _kept(f2).alias("t2"),
        F.sum(f3.cast("long")).alias("n3"),
        _kept(f3).alias("t3"),
    )
    names = ("gopher_keep", "blocklist", "c4_line")
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(names[i]).alias("stage"),
                F.col(f"n{i}").alias("docs_in"),
                F.col(f"t{i}").alias("tokens_in"),
                F.col(f"n{i + 1}").alias("docs_kept"),
                F.col(f"t{i + 1}").alias("tokens_kept"),
            )
            for i in range(3)
        ]
    )
    return agg.select(F.inline(stages))


def token_budget_select(
    df: DataFrame,
    budget_tokens: int,
    score_col: str = "score",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Token-budget curation (the FineWeb / RefinedWeb "keep the best N
    tokens" step): order documents by ``score_col`` descending, NULL
    scores last (``id_col`` ascending breaks ties) and keep the prefix
    whose cumulative whitespace-token count stays <= ``budget_tokens``.
    The first document that would overflow the budget is dropped, as is
    everything after it.  Returns the selected input rows plus an
    ``n_tokens`` column.

    Plan: score range -> ``n_buckets`` fixed-width buckets (monotone in
    score, so bucket order IS score order and score ties always land in
    ONE bucket; NULL scores form bucket -1, below every other); per-bucket
    token masses are a map-side-combinable aggregate collected to the
    driver (O(n_buckets) rows — the sanctioned convergence-summary
    pattern).  The driver walks buckets top-down to find the single
    boundary bucket; every higher bucket is kept by a scan-local filter
    (wide rows never shuffle), and only the boundary bucket — expected
    corpus/n_buckets of the data — pays an exact in-bucket running-sum
    window over its (id, score, n_tokens) PROJECTION, whose keep-ids come
    back as a broadcast semi-join.  Because buckets are monotone and ties
    can't straddle them, the rows equal one global running-sum window
    over ``orderBy(score desc, id)`` (the DuckDB oracle), unlike ccnet's
    sketch cutoffs which trade tie placement for scale.  Degenerate case:
    if every score is equal (score range is a single point) all rows
    share one bucket and the boundary window IS the global sort — same
    honest caveat as equal-perplexity mass in ccnet_buckets.

    Scale notes: two extra passes over the (id, score, n_tokens)
    projection (range agg + bucket-mass agg), never over text; the
    boundary keep-id broadcast is bounded by the budget remainder (one
    id per surviving doc).
    """
    from pdfminer_six_spark.ops.textstats import tokens_col

    base = df.withColumn(
        "n_tokens",
        F.size(tokens_col(F.coalesce(F.col(text_col), F.lit("")))).cast(
            "long"
        ),
    )
    proj = base.select(id_col, score_col, "n_tokens")
    lo, hi = proj.agg(
        F.min(score_col), F.max(score_col)
    ).first()
    span = 0.0 if lo is None else float(hi) - float(lo)
    if span == 0.0:
        idx = F.lit(0)
    else:
        idx = F.least(
            F.floor(
                (F.col(score_col).cast("double") - F.lit(float(lo)))
                / F.lit(span)
                * F.lit(n_buckets)
            ),
            F.lit(n_buckets - 1),
        )
    bucket = (
        F.when(F.col(score_col).isNull(), F.lit(-1)).otherwise(idx).cast("int")
    )
    masses = {
        r["_b"]: r["_m"]
        for r in proj.withColumn("_b", bucket)
        .groupBy("_b")
        .agg(F.sum("n_tokens").alias("_m"))
        .collect()
    }
    cum, boundary, remaining = 0, None, budget_tokens
    for b in sorted(masses, reverse=True):
        if cum + masses[b] > budget_tokens:
            boundary, remaining = b, budget_tokens - cum
            break
        cum += masses[b]
    base = base.withColumn("_b", bucket)
    if boundary is None:  # whole corpus fits the budget
        return base.drop("_b")
    high = base.filter(F.col("_b") > boundary).drop("_b")
    bw = (
        Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keep_ids = (
        proj.withColumn("_b", bucket)
        .filter(F.col("_b") == boundary)
        .withColumn("_cum", F.sum("n_tokens").over(bw))
        .filter(F.col("_cum") <= remaining)
        .select(F.col(id_col).alias("_kid"))
    )
    # null-safe: a NULL id the window keeps must survive the semi-join
    border = (
        base.filter(F.col("_b") == boundary)
        .drop("_b")
        .join(
            F.broadcast(keep_ids),
            F.col(id_col).eqNullSafe(F.col("_kid")),
            "left_semi",
        )
    )
    return high.unionByName(border)


def train_order(
    df: DataFrame,
    seed: str = "shuf-0",
    n_shards: int = 8,
    id_col: str = "doc_id",
    handle: list | None = None,
) -> DataFrame:
    """Deterministic training-order shuffle — the final "global shuffle"
    a training-data pipeline runs before writing shards, made
    reproducible and retry-safe by deriving the order from a hash
    instead of an RNG: documents are globally ordered by
    ``md5(seed || ':' || id)`` (a fixed pseudo-random permutation per
    seed; changing the seed reshuffles) and assigned ``(pos, shard)``
    where ``pos`` is the contiguous global position and
    ``shard = pos % n_shards`` round-robin-interleaves the stream
    across data-parallel readers so every shard sees the same
    pseudo-random mix.

    Plan: ``repartitionByRange`` on the shuffle key (a distributed range
    sort — Spark samples boundaries, every partition sorts locally),
    then the classic two-phase global index: per-partition row counts
    collect to the driver (O(partitions) rows — sanctioned summary
    collect), cumulative offsets broadcast back joined on partition id,
    and ``pos = offset[pid] + local_rank - 1`` where ``local_rank`` is a
    per-partition window (no global sort cliff).  Range partitions are
    ordered by key, so cumulative offsets in pid order equal the global
    rank (the DuckDB ``ROW_NUMBER`` oracle) even though sampled
    boundaries vary run to run — the OUTPUT is deterministic, only the
    internal split points float.  The range-partitioned relation is
    persisted so the sample is not redrawn between the counts and the
    join; pass a list as ``handle`` to receive it and ``unpersist()`` it
    once the caller's action has run (jobs/build.py does this after the
    pack write).

    md5 keeps both engines' orders identical (DuckDB computes the same
    digest; xxhash64 would be Spark-only).  Ties are impossible for
    distinct ids, but ``id_col`` is appended to the sort for absolute
    total order anyway.
    """
    key = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    ).alias("_k")
    keyed = df.select(F.col(id_col), key)
    spark = keyed.sparkSession
    n_parts = max(spark.sparkContext.defaultParallelism, 2)
    parts = (
        keyed.repartitionByRange(n_parts, "_k", id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if handle is not None:
        handle.append(parts)
    counts = {
        r["_pid"]: r["c"]
        for r in parts.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.broadcast(
        spark.createDataFrame(
            list(offsets.items()), "_pid INT, _off BIGINT"
        )
    )
    lw = Window.partitionBy("_pid").orderBy("_k", id_col)
    ordered = (
        parts.join(off, "_pid")
        .select(
            id_col,
            (F.col("_off") + F.row_number().over(lw) - 1).alias("pos"),
        )
    )
    return ordered.select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.pmod(F.col("pos"), F.lit(n_shards)).cast("int").alias("shard"),
    )


def temperature_mix(
    df: DataFrame,
    budget_docs: int | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "tmix-0",
) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual/multi-source
    rebalancing of XLM-R / mT5, temperature alpha = 0.5): a corpus whose
    sources have sizes ``n_i`` is downsampled to ``budget_docs`` total
    with per-source targets proportional to ``n_i^0.5`` — big sources
    are flattened, small sources keep proportionally more.  Returns the
    selected ``(id, source)`` rows.

    Everything that decides WHICH rows survive is integer arithmetic,
    deliberately: weights are ``floor(sqrt(n_i))`` (IEEE sqrt is
    correctly rounded, so the floor is exact for any count < 2^52 in
    every engine) and targets are ``budget * w_i DIV sum(w)`` capped at
    ``n_i`` — no float sum whose association order could flip a
    boundary row between engines.  Within a source, survivors are the
    first ``target_i`` docs ordered by ``(md5(seed:id), id)`` — the
    same deterministic permutation as train_order, so re-runs and
    retries select identical rows.  A NULL id has a NULL key and ranks
    first in its source (ascending order puts NULLs first).  Per-source
    counts collect to the driver (O(sources) — sanctioned summary
    collect).

    Plan: a per-source ``row_number`` window would funnel a web-scale
    source through one task's sort (the ccnet_buckets cliff), so the
    selection key's first 4 hex chars split each source into 65,536
    hash buckets (a NULL key forms bucket ``''``, below every other);
    per-(source, bucket) counts aggregate map-side and collect
    (O(sources x 65536) summary rows — MBs, not data), the driver finds
    each source's boundary bucket by cumulative count, whole buckets
    below it survive by comparison (scan-local filter), and only the
    boundary bucket — ~1/65536 of the source — pays a window sort for
    its exact intra-bucket ranks.
    """
    from math import isqrt

    spark = df.sparkSession
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    if budget_docs is None:
        budget_docs = total * 3 // 5
    weights = {s: isqrt(n) for s, n in counts.items()}
    wsum = sum(weights.values()) or 1
    targets = {
        s: min(counts[s], budget_docs * weights[s] // wsum) for s in counts
    }
    key = F.md5(
        F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    ).alias("_k")
    bucketed = df.select(F.col(id_col), F.col(source_col), key).withColumn(
        "_b", F.coalesce(F.substring("_k", 1, 4), F.lit(""))
    )
    bcounts = (
        bucketed.groupBy(source_col, "_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    per_src: dict = {}
    for r in bcounts:
        per_src.setdefault(r[source_col], []).append((r["_b"], r["c"]))
    last_full: dict = {}    # source -> last whole-surviving bucket
    boundary: dict = {}     # source -> (bucket, remaining quota)
    for s, bl in per_src.items():
        bl.sort()
        acc, t = 0, targets[s]
        last_full[s] = None  # NULL bound: no bucket survives whole
        boundary[s] = None
        for b, c in bl:
            if acc + c <= t:
                acc += c
                last_full[s] = b
                if acc == t:
                    break
            else:
                boundary[s] = (b, t - acc)
                break
    lf = F.create_map(
        *[
            x
            for s, v in sorted(last_full.items())
            for x in (F.lit(s), F.lit(v).cast("string"))
        ]
    )
    kept_full = bucketed.filter(
        F.col("_b") <= lf[F.col(source_col)]
    ).select(id_col, source_col)
    bnd = [(s, b, q) for s, v in boundary.items() if v for (b, q) in [v]]
    if not bnd:
        return kept_full
    bnd_df = F.broadcast(
        spark.createDataFrame(bnd, f"{source_col} string, _b string, _q long")
    )
    bw = Window.partitionBy(source_col).orderBy("_k", id_col)
    kept_boundary = (
        bucketed.join(bnd_df, [source_col, "_b"])
        .withColumn("_rk", F.row_number().over(bw))
        .filter(F.col("_rk") <= F.col("_q"))
        .select(id_col, source_col)
    )
    return kept_full.unionByName(kept_boundary)


# (name, java/RE2-compatible regex, replacement) applied IN ORDER — each
# rule's semantics must be identical in Java regex (Spark) and RE2/DuckDB
# (no lookaround, no backreferences).  Character classes are built from
# \\u escapes at import time so the source stays printable.
FORMATTING_RULES: Tuple[Tuple[str, str, str], ...] = (
    # zero-width chars + BOM + soft hyphen: delete
    ("zero_width", "[\u200b\u200c\u200d\u2060\ufeff\u00ad]", ""),
    # unicode double quotes -> ascii
    ("quotes_double", "[\u201c\u201d\u201e\u00ab\u00bb]", '"'),
    # unicode single quotes/apostrophes -> ascii
    ("quotes_single", "[\u2018\u2019\u201a\u2039\u203a]", "'"),
    # dashes (en/em/horizontal bar/minus sign) -> hyphen
    ("dashes", "[\u2013\u2014\u2015\u2212]", "-"),
    # ellipsis char -> three dots
    ("ellipsis", "\u2026", "..."),
    # nbsp / figure+punctuation spaces / narrow nbsp / ideographic -> space
    ("spaces", "[\u00a0\u2000-\u200a\u202f\u205f\u3000]", " "),
    # C0 controls except \t and \n (and \r handled as a control): delete
    ("controls", "[\u0000-\u0008\u000b-\u001f\u007f]", ""),
    # runs of 3+ newlines -> exactly two (one paragraph break)
    ("newline_runs", "\n{3,}", "\n\n"),
    # trailing whitespace before a newline
    ("trailing_ws", "[ \t]+\n", "\n"),
)


def normalize_formatting(
    df: DataFrame,
    text_col: str = "text",
    rules: Tuple[Tuple[str, str, str], ...] = FORMATTING_RULES,
) -> DataFrame:
    """Text-formatting normalizer (the FineWeb/C4 'formatters' pass that
    runs before any hashing or filtering): fold typographic unicode to
    ASCII equivalents (curly quotes, long dashes, ellipsis, exotic
    spaces), strip zero-width characters and C0 controls, collapse
    3+ newline runs to paragraph breaks, and trim trailing whitespace.
    Emits ``formatted`` plus ``n_changed`` — the length delta after all
    deletions/collapses plus the count of 1:1 rewrites (quotes, dashes,
    spaces), cheap provenance for a corpus card.

    Running this FIRST makes every downstream fingerprint/dedup stage
    see through typographic variation (curly vs straight quotes would
    otherwise defeat exact dedup on visually identical documents).

    Scan-local regexp projection — zero shuffles, whole-stage codegen;
    patterns are the same RE2-safe dialect as PII_PATTERNS, so the
    DuckDB oracle replays them verbatim (rules applied in the same
    order)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    out = text
    for _name, pat, repl in rules:
        out = F.regexp_replace(out, pat, repl)
    rewrites = (
        "[\u201c\u201d\u201e\u00ab\u00bb"
        "\u2018\u2019\u201a\u2039\u203a"
        "\u2013\u2014\u2015\u2212"
        "\u00a0\u2000-\u200a\u202f\u205f\u3000]"
    )
    return df.withColumns(
        {
            "formatted": out,
            "n_changed": (
                F.length(text)
                - F.length(out)
                + F.regexp_count(text, F.lit(rewrites))
            ).cast("long"),
        }
    )

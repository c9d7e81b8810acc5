"""Property tests for the distributed training-data ops: the blocked /
cut / bucketed scale paths must equal their exact counterparts on
randomized inputs, not just on the fixture corpus."""

import math
import random

import pandas as pd
import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pdfminer_six_spark.spark.session import build_session

    s = build_session(app_name="ops-prop-test", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


def _rand_embeddings(rng, n, dim=6):
    # cluster some vectors so near-threshold pairs exist
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(max(n // 4, 1))]
    rows = []
    for i in range(n):
        if rng.random() < 0.5:
            b = rng.choice(base)
            v = [x + rng.gauss(0, 0.3) for x in b]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
    return rows


def _exact_pairs(rows, threshold):
    out = set()
    for i, (ida, va) in enumerate(rows):
        na = math.sqrt(sum(x * x for x in va))
        for idb, vb in rows[i + 1:]:
            nb = math.sqrt(sum(x * x for x in vb))
            cos = sum(x * y for x, y in zip(va, vb)) / (na * nb)
            if round(cos, 5) >= threshold:
                out.add((ida, idb))
    return out


@pytest.mark.parametrize("seed,n_blocks", [(1, 3), (2, 8), (3, 1), (4, 17)])
def test_blocked_pairs_equal_bruteforce_random(spark, seed, n_blocks):
    """Block count must never change the result — including n_blocks=1
    (single group) and n_blocks > n_vectors (mostly-empty groups)."""
    from pdfminer_six_spark.ops.ann import embedding_near_duplicates_blocked

    rng = random.Random(seed)
    rows = _rand_embeddings(rng, 14 if n_blocks == 17 else 40)
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]})
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_duplicates_blocked(
            emb, threshold=0.8, n_blocks=n_blocks
        ).collect()
    }
    want = _exact_pairs(rows, 0.8)
    assert got == want
    assert want, "fixture should produce at least one pair"


def _py_jaccard_pairs(texts, threshold, max_df=None, n=3):
    def sh(t):
        toks = [w for w in " ".join(t.lower().split()).split(" ") if w]
        if len(toks) >= n:
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        joined = " ".join(toks)
        return {joined} if joined else set()

    sets = {i: sh(t) for i, t in texts.items()}
    if max_df is not None:
        from collections import Counter

        df_counts = Counter(s for ss in sets.values() for s in ss)
        sets = {
            i: {s for s in ss if df_counts[s] <= max_df}
            for i, ss in sets.items()
        }
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and round(inter / union, 6) >= threshold:
                out[(a, b)] = round(inter / union, 6)
    return out


@pytest.mark.parametrize("seed,max_df", [(11, None), (12, 2), (13, 3)])
def test_jaccard_cut_equals_python_model_random(spark, seed, max_df):
    """jaccard_pairs (with and without the DF cut) must equal a direct
    python set model of the same semantics on random near-dup corpora."""
    from pdfminer_six_spark.ops.dedup import jaccard_pairs

    rng = random.Random(seed)
    vocab = [f"w{k}" for k in range(12)]
    texts = {}
    for i in range(18):
        n_words = rng.randint(3, 10)
        words = [rng.choice(vocab) for _ in range(n_words)]
        if rng.random() < 0.4 and texts:
            # near-dup of an earlier doc: copy + small mutation
            src = texts[rng.choice(list(texts))].split()
            if len(src) > 3:
                src[rng.randrange(len(src))] = rng.choice(vocab)
            words = src
        texts[i] = " ".join(words)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.3, max_df=max_df).collect()
    }
    want = _py_jaccard_pairs(texts, 0.3, max_df=max_df)
    assert got == want


def test_asof_join_equals_pandas_merge_asof(spark):
    """Differential oracle on random data: the union+window as-of join
    must equal pandas.merge_asof(direction='backward',
    allow_exact_matches=True) for every key, including duplicate left
    timestamps and keys with no match (pandas keeps them with NaN; our
    inner form drops them)."""
    rng = random.Random(42)
    n_keys = 8
    left_rows = []
    for i in range(200):
        left_rows.append(
            (rng.randrange(n_keys), rng.randrange(1000), i)
        )
    right_rows = []
    for j in range(120):
        # duplicate (key, ts) on the right are pre-aggregated away, as
        # the operator contract requires
        right_rows.append((rng.randrange(n_keys), rng.randrange(1000), j))
    rdf = (
        pd.DataFrame(right_rows, columns=["k", "rt", "rid"])
        .sort_values(["k", "rt", "rid"])
        .groupby(["k", "rt"], as_index=False)
        .last()  # max rid per (k, rt): deterministic tie rule
    )
    ldf = pd.DataFrame(left_rows, columns=["k", "lt", "lid"])

    expected = pd.merge_asof(
        ldf.sort_values(["lt", "lid"]),
        rdf.sort_values("rt"),
        left_on="lt",
        right_on="rt",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    )
    expected = expected.dropna(subset=["rid"])
    want = {
        (int(r.k), int(r.lid)): int(r.rid) for r in expected.itertuples()
    }

    from pdfminer_six_spark.ops.joins import asof_join

    got_rows = asof_join(
        spark.createDataFrame(ldf),
        spark.createDataFrame(rdf),
        on=["k"],
        left_ts="lt",
        right_ts="rt",
        value_cols=["rid"],
    ).collect()
    got = {(r["k"], r["lid"]): r["rid_asof"] for r in got_rows}
    assert got == want


def test_stable_row_ids_equals_pandas_rank(spark):
    """Differential oracle: two-phase numbering == pandas argsort rank
    on random gapped keys, across several partition counts."""
    from pdfminer_six_spark.ops.ids import stable_row_ids

    rng = random.Random(9)
    keys = rng.sample(range(100000), 500)
    pdf = pd.DataFrame({"k": keys})
    want = {
        k: i for i, k in enumerate(sorted(keys))
    }
    for parts in (1, 3, 16):
        got = {
            r["k"]: r["row_id"]
            for r in stable_row_ids(
                spark.createDataFrame(pdf).repartition(5),
                ["k"],
                num_partitions=parts,
            ).collect()
        }
        assert got == want, f"num_partitions={parts}"


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_simhash_verify_pigeonhole_complete_random(spark, seed):
    """Quarter blocking is COMPLETE for max_hamming <= 3 on ANY signature
    set (3 flipped bits cannot touch all 4 quarters, so at least one
    quarter matches exactly) — simhash_verify must equal the brute-force
    all-pairs hamming filter on random signatures, including crafted
    near-pairs."""
    from pdfminer_six_spark.ops.dedup import simhash_verify

    rng = random.Random(seed)
    sigs = {}
    for i in range(40):
        sigs[i] = rng.getrandbits(63)
    # inject guaranteed near-pairs: clones with 0-3 random bit flips
    for j, base in enumerate((3, 7, 11)):
        s = sigs[base]
        for b in rng.sample(range(63), j):
            s ^= 1 << b
        sigs[100 + j] = s
    want = set()
    ids = sorted(sigs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin(sigs[ids[x]] ^ sigs[ids[y]]).count("1")
            if h <= 3:
                want.add((ids[x], ids[y], h))
    assert want  # the crafted clones guarantee a non-trivial expectation
    sig_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(sigs), "simhash": list(sigs.values())})
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_verify(sig_df, max_hamming=3).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed,k", [(11, 12), (12, 12), (13, 20)])
def test_duplicate_spans_equal_python_model_random(spark, seed, k):
    """duplicate_spans must equal a brute-force python model (count every
    k-gram, keep positions whose gram occurs >= 2x corpus-wide, merge
    starts closer than k) on random docs with planted shared sentences,
    within-doc repetition, and sub-k shorties."""
    from pdfminer_six_spark.ops.dedup import duplicate_spans

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    shared = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))
        for _ in range(4)
    ]
    texts = {}
    for d in range(30):
        parts = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if rng.random() < 0.7:
            parts.insert(rng.randrange(len(parts) + 1), rng.choice(shared))
        if rng.random() < 0.2 and parts:  # within-doc repeat
            parts = parts + parts
        texts[d] = "  ".join(parts) + ("   " if rng.random() < 0.3 else "")

    # python model over the same normalization (ASCII input by
    # construction, so python \s == java \s here)
    import re
    from collections import Counter

    norm = {
        d: re.sub(r"\s+", " ", t.strip()).lower() for d, t in texts.items()
    }
    cnt = Counter()
    grams = {}
    for d, s in norm.items():
        if len(s) < k:
            continue
        gs = [s[i:i + k] for i in range(len(s) - k + 1)]
        grams[d] = gs
        cnt.update(gs)
    want = set()
    for d, gs in grams.items():
        spans = []
        for p in (i + 1 for i, g in enumerate(gs) if cnt[g] >= 2):
            if spans and p - spans[-1][1] <= k:
                spans[-1][1] = p
                spans[-1][2] += 1
            else:
                spans.append([p, p, 1])
        for st, en, ng in spans:
            want.add((d, st, en + k - 1, en - st + k, ng))

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"],
         r["n_grams"])
        for r in duplicate_spans(df, k=k).collect()
    }
    assert got == want

    # excision over the SAME corpus: remove every spanned char range
    # from the normalized text, keep the rest, docs without spans pass
    # through untouched
    from pdfminer_six_spark.ops.dedup import remove_duplicate_spans

    by_doc = {}
    for d, st, en, _sl, _ng in want:
        by_doc.setdefault(d, []).append((st, en))
    want_clean = {}
    for d, s in norm.items():
        kept, prev = [], 0
        for st, en in sorted(by_doc.get(d, [])):
            kept.append(s[prev:st - 1])
            prev = en
        kept.append(s[prev:])
        clean = "".join(kept)
        want_clean[d] = (
            clean, len(by_doc.get(d, [])), len(s) - len(clean)
        )
    got_clean = {
        r["doc_id"]: (r["text_clean"], r["n_spans"], r["n_chars_removed"])
        for r in remove_duplicate_spans(df, k=k).collect()
    }
    assert got_clean == want_clean


@pytest.mark.parametrize("seed", [7, 23])
def test_bm25_invariants_random(spark, seed):
    """BM25 invariants on random corpora: ranks are 1..<=k per query with
    scores non-increasing, every hit contains >=1 query term, and scores
    equal an independent pure-Python BM25."""
    from pdfminer_six_spark.ops.retrieval import bm25_topk

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for d in range(1, 41)
    }
    qterms = [(1, "alpha"), (1, "zeta"), (2, "gamma")]
    corpus = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    queries = spark.createDataFrame(qterms, "query_id long, term string")
    got = bm25_topk(corpus, queries, k=7).collect()

    toks = {d: t.split() for d, t in texts.items()}
    n = len(texts)
    avgdl = sum(map(len, toks.values())) / n
    k1, b = 1.2, 0.75

    def score(qid, d):
        s = 0.0
        for q, term in qterms:
            if q != qid or term not in toks[d]:
                continue
            dfq = sum(1 for t in toks.values() if term in t)
            idf = math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
            tf = toks[d].count(term)
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks[d]) / avgdl)
            )
        return s

    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
        assert any(
            term in toks[r["doc_id"]]
            for q, term in qterms if q == r["query_id"]
        )
        assert abs(r["score"] - round(score(r["query_id"], r["doc_id"]), 6)) < 2e-6
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i]["score"] >= rows[i + 1]["score"]
            for i in range(len(rows) - 1)
        )
        assert len(rows) <= 7


@pytest.mark.parametrize("seed", [11])
def test_ngram_lm_random_matches_python(spark, seed):
    """Random-corpus differential for the bigram LM: Spark avg_nll equals
    an independent pure-Python model (incl. train/held-out split and
    add-one smoothing on unseen bigrams/prefixes)."""
    from collections import Counter

    from pdfminer_six_spark.ops.retrieval import ngram_lm_scores

    rng = random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd"]
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        for d in range(40)
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    cb, cu, vs = Counter(), Counter(), set()
    for d, s in texts.items():
        t = s.split()
        if d % 10 < 8:
            for w1, w2 in zip(t, t[1:]):
                cb[(w1, w2)] += 1
                cu[w1] += 1
                vs.update((w1, w2))
    expected = {}
    for d, s in texts.items():
        t = s.split()
        bg = list(zip(t, t[1:]))
        if not bg:
            continue
        nll = -sum(
            math.log(cb[p] + 1.0) - math.log(cu[p[0]] + float(len(vs)))
            for p in bg
        ) / len(bg)
        expected[d] = round(nll, 6)
    got = {r["doc_id"]: r["avg_nll"] for r in ngram_lm_scores(df).collect()}
    assert set(got) == set(expected)
    for d in expected:
        assert abs(got[d] - expected[d]) < 2e-6

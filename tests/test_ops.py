"""Tests for the training-data ops (dedup / textstats / ann / multimodal)."""

import math
import os

import pandas as pd
import pytest

from tests.conftest import requires_reference

pyspark = pytest.importorskip("pyspark")

SF_DIR = "/root/testdata/sf0.01"
ORACLE_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def spark():
    from pdfminer_six_spark.spark.session import build_session

    s = build_session(app_name="ops-test", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_exact_duplicates_synthetic(spark):
    from pdfminer_six_spark.ops.dedup import exact_duplicates

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["Hello  world", "hello world", "unique", "HELLO WORLD "],
            }
        )
    )
    out = exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["canonical_doc_id"] == 1
    assert out[0]["n_docs"] == 3


def test_minhash_lsh_recall_equals_exact(docs):
    """At this banding the LSH candidates must cover every true pair."""
    from pdfminer_six_spark.ops.dedup import jaccard_pairs, minhash_near_duplicates

    exact = {
        (r.doc_a, r.doc_b) for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_duplicates(docs, threshold=0.6).collect()
    }
    assert exact, "fixture should contain near-dups"
    assert lsh == exact


def test_jaccard_df_cut_bounds_hot_shingle_fanout(spark):
    """Document-frequency cut: a shingle shared by every doc (the d² join
    fan-out skew case) is dropped before the self-join, so pairs that only
    overlap on the ubiquitous shingle disappear while true near-dups keep
    jaccard 1.0 (scores over the kept universe)."""
    from pdfminer_six_spark.ops.dedup import jaccard_pairs

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "aaa bbb ccc xxx yyy zzz www",
                    "aaa bbb ccc xxx yyy zzz www",
                    "aaa bbb ccc ppp qqq rrr sss",
                    "aaa bbb ccc ttt uuu vvv",
                ],
            }
        )
    )
    # uncut: the hot shingle 'aaa bbb ccc' (DF=4) links every pair
    uncut = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.1).collect()
    }
    assert len(uncut) == 6
    # max_df=3 drops it; only the true duplicate pair survives, at 1.0
    cut = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.1, max_df=3).collect()
    }
    assert cut == {(1, 2): 1.0}


def test_jaccard_df_cut_nonbinding_is_exact(docs):
    """A cut above the corpus's max DF must not change any pair or score."""
    from pdfminer_six_spark.ops.dedup import jaccard_pairs

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    with_cut = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.6, max_df=100).collect()
    }
    assert exact and with_cut == exact


def test_hll_accuracy_vs_exact(spark):
    """approx_count_distinct at rsd=0.02 lands within 3 rsd of the exact
    per-group cardinality on the events table."""
    from pdfminer_six_spark.queries import q_approx_distinct

    rows = q_approx_distinct(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        exact = r["exact_users"]
        assert exact > 0
        assert abs(r["approx_users"] - exact) <= max(3, 0.06 * exact), r


def test_session_window_gap_boundary(spark):
    """F.session_window boundary semantics (probed, load-bearing for the
    session_window_agg oracle): a gap EXACTLY equal to the timeout still
    merges — the split rule is gap > timeout, same as sessionize_events —
    and a gap one second past it splits."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "uid": [1, 1, 1, 1],
                "ts": [
                    t0,
                    t0 + dt.timedelta(seconds=599),   # gap 599: merge
                    t0 + dt.timedelta(seconds=1199),  # gap 600 == 600: merge
                    t0 + dt.timedelta(seconds=1800),  # gap 601: NEW session
                ],
            }
        )
    )
    out = (
        df.groupBy(F.session_window("ts", "600 seconds"), "uid")
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in out) == [1, 3]


def test_contamination_pairs_counts(spark):
    """n-gram collisions between train and eval: shared 3-grams counted
    per (train, eval) pair; disjoint docs produce no row; the join plan
    broadcasts the eval side."""
    from pdfminer_six_spark.ops.dedup import contamination_pairs

    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta epsilon",  # shares 3-grams w/ eval
                    "one two three four five",          # disjoint
                    "alpha beta gamma nothing else",    # shares 1 3-gram
                ],
            }
        )
    )
    evals = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [100], "text": ["alpha beta gamma delta epsilon zeta"]}
        )
    )
    out = {
        (r["train_doc"], r["eval_doc"]): r["n_shared"]
        for r in contamination_pairs(train, evals, n=3).collect()
    }
    # doc 1: 3-grams {abg, bgd, gde} all in eval -> 3; doc 3: {abg} -> 1
    assert out == {(1, 100): 3, (3, 100): 1}

    plan = (
        contamination_pairs(train, evals, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_duplicate_clusters_chain_and_islands(spark):
    """Hash-min label propagation: a 4-node chain (needs >1 round to
    converge), a disjoint pair, and an isolated pair-free doc (excluded)."""
    from pdfminer_six_spark.ops.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # chain 10-11-12-13 (diameter 3) + island {20, 21}
                "doc_a": [10, 11, 12, 20],
                "doc_b": [11, 12, 13, 21],
                "jaccard": [0.9, 0.9, 0.9, 0.9],
            }
        )
    )
    out = {r["doc_id"]: r for r in duplicate_clusters(pairs).collect()}
    assert set(out) == {10, 11, 12, 13, 20, 21}
    assert all(out[d]["cluster_id"] == 10 for d in (10, 11, 12, 13))
    assert all(out[d]["cluster_size"] == 4 for d in (10, 11, 12, 13))
    assert all(out[d]["cluster_id"] == 20 for d in (20, 21))
    assert all(out[d]["cluster_size"] == 2 for d in (20, 21))


def test_duplicate_clusters_reliable_checkpoint_mode(spark, tmp_path):
    """reliable_checkpoint=True routes the per-round lineage cuts through
    the fault-tolerant checkpoint dir (identical labels), and raises
    loudly when no dir is configured instead of failing rounds in."""
    import pytest

    from pdfminer_six_spark.ops.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
    )

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_a": [10, 11, 12, 20],
                "doc_b": [11, 12, 13, 21],
                "jaccard": [0.9] * 4,
            }
        )
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with pytest.raises(RuntimeError, match="setCheckpointDir"):
        duplicate_clusters(pairs, reliable_checkpoint=True)
    # setting a dir is sticky on the shared session, but harmless: every
    # other caller keeps reliable_checkpoint=False (localCheckpoint)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    want = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs).collect()
    }
    got = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs, reliable_checkpoint=True).collect()
    }
    got_star = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters_star(
            pairs, reliable_checkpoint=True
        ).collect()
    }
    assert got == want and got_star == want
    import os

    assert os.listdir(str(tmp_path / "ckpt"))  # actually wrote there


def test_duplicate_clusters_matches_bruteforce_on_random_graph(spark):
    """Propagation fixpoint == union-find ground truth on a random graph."""
    import random

    from pdfminer_six_spark.ops.dedup import duplicate_clusters

    rng = random.Random(7)
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(60), 2)))
            for _ in range(45)
        }
    )
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    truth = {}
    for a, b in edges:
        for n in (a, b):
            truth[n] = find(n)
    # canonical label = min member of each component
    roots = {}
    for n, r in truth.items():
        roots.setdefault(r, []).append(n)
    want = {n: min(m) for r, m in roots.items() for n in m}

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_a": [a for a, _ in edges],
                "doc_b": [b for _, b in edges],
                "jaccard": [1.0] * len(edges),
            }
        )
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == want


def test_duplicate_clusters_star_matches_hashmin(spark):
    """Large-star/small-star fixpoint == hash-min propagation == union-find
    on a random graph AND on a long path (the adversarial diameter case
    the star alternation exists for)."""
    import random

    from pdfminer_six_spark.ops.dedup import (
        duplicate_clusters,
        duplicate_clusters_star,
    )

    rng = random.Random(11)
    random_edges = sorted(
        {tuple(sorted(rng.sample(range(40), 2))) for _ in range(30)}
    )
    path_edges = [(100 + i, 101 + i) for i in range(25)]  # one long chain
    edges = random_edges + path_edges
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_a": [a for a, _ in edges],
                "doc_b": [b for _, b in edges],
                "jaccard": [1.0] * len(edges),
            }
        )
    )
    # max_iter=30 > chain diameter 25 so hash-min itself converges (at
    # exactly max_iter it would trip the non-convergence fallback and the
    # comparison would degenerate to star == star)
    hashmin = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters(pairs, max_iter=30).collect()
    }
    star = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in duplicate_clusters_star(pairs).collect()
    }
    assert star == hashmin
    # the chain collapses to one cluster rooted at its min node
    assert (125, 100, 26) in star


def test_duplicate_clusters_nonconvergence_fallback(spark):
    """A component with diameter > max_iter must NOT yield silently-wrong
    labels (ADVICE r02): hash-min warns and falls back to the star
    algorithm, which still produces the correct clustering."""
    import pandas as pd
    import pytest

    from pdfminer_six_spark.ops.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(12)]  # diameter 12 > max_iter 5
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_a": [a for a, _ in chain],
                "doc_b": [b for _, b in chain],
                "jaccard": [1.0] * len(chain),
            }
        )
    )
    with pytest.warns(RuntimeWarning, match="not converged"):
        out = {
            (r["doc_id"], r["cluster_id"], r["cluster_size"])
            for r in duplicate_clusters(pairs, max_iter=5).collect()
        }
    assert out == {(i, 0, 13) for i in range(13)}


def test_simhash_identical_docs(spark):
    from pdfminer_six_spark.ops.dedup import simhash_signatures, simhash_verify

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog",
                    "the quick brown fox jumps over the lazy dog",
                    "completely different words entirely here now",
                ],
            }
        )
    )
    pairs = simhash_verify(simhash_signatures(df), max_hamming=3).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}
    assert pairs[0]["hamming"] == 0


def test_token_stats_against_python(docs):
    from pdfminer_six_spark.ops.textstats import with_token_stats

    sample = docs.limit(20).toPandas()
    out = with_token_stats(
        docs.limit(20)
    ).select("doc_id", "n_tokens", "n_punct").toPandas().set_index("doc_id")
    for row in sample.itertuples():
        toks = [t for t in row.text.split() if t]
        assert out.loc[row.doc_id, "n_tokens"] == len(toks)
        assert out.loc[row.doc_id, "n_punct"] == sum(
            row.text.count(c) for c in ".,;:!?"
        )


def test_rolling_fingerprints_detect_shared_substrings(spark):
    """0-mod-p rolling fingerprints: docs sharing a long substring share
    fingerprints regardless of its position; disjoint docs share none;
    short docs produce no row."""
    from pdfminer_six_spark.ops.textstats import (
        fingerprint_candidates,
        rolling_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "PREFIX ONE " + shared + " tail one",
                    "totally different opening here " + shared,
                    "no overlap with anything else in this corpus at all",
                    "tiny",
                ],
            }
        )
    )
    fps = {r.doc_id: set(r.fps) for r in rolling_fingerprints(df).collect()}
    assert 4 not in fps  # shorter than k
    assert fps[1] & fps[2], "shared substring must share fingerprints"
    assert not (fps[3] & (fps[1] | fps[2]))
    cands = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in fingerprint_candidates(df, min_shared=2).collect()
    }
    assert set(cands) == {(1, 2)}
    assert cands[(1, 2)] >= 2
    # DF guard: with max_df=1 every shared fingerprint is "hot" (DF=2),
    # so no candidate pair survives — the d² fan-out bound in the limit
    assert fingerprint_candidates(df, min_shared=1, max_df=1).count() == 0
    # non-binding guard changes nothing
    cands_guarded = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in fingerprint_candidates(df, min_shared=2, max_df=50).collect()
    }
    assert cands_guarded == cands


def test_stable_row_ids_consecutive_in_key_order(spark):
    """Two-phase global numbering == the single-window ground truth:
    consecutive 0-based ids following the sort key, no dups, no gaps."""
    import random

    from pdfminer_six_spark.ops.ids import stable_row_ids

    keys = list(range(0, 4000, 3))  # gapped keys, unsorted arrival
    random.Random(3).shuffle(keys)
    df = spark.createDataFrame(
        pd.DataFrame({"k": keys, "payload": [k % 7 for k in keys]})
    ).repartition(8)
    out = (
        stable_row_ids(df, ["k"], num_partitions=6)
        .orderBy("k")
        .collect()
    )
    assert [r["row_id"] for r in out] == list(range(len(keys)))
    assert [r["k"] for r in out] == sorted(keys)


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left ts wins;
    exact-timestamp right rows match; keys with no prior right row drop."""
    from pdfminer_six_spark.ops.joins import asof_join

    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 2, 3],
                "lt": [5, 10, 20, 7, 4],
                "lid": ["a", "b", "c", "d", "e"],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 1, 1, 2, 3],
                "rt": [3, 10, 15, 8, 9],
                "val": [30.0, 100.0, 150.0, 80.0, 90.0],
            }
        )
    )
    out = {
        r["lid"]: r["val_asof"]
        for r in asof_join(
            left, right, on=["k"], left_ts="lt", right_ts="rt"
        ).collect()
    }
    # a: rt=3 <= 5; b: rt=10 == 10 (exact ts matches); c: rt=15 latest;
    # d (lt=7 < first rt=8) and e (lt=4 < rt=9) have no match -> dropped
    assert out == {"a": 30.0, "b": 100.0, "c": 150.0}


def test_asof_join_null_value_in_latest_right_row(spark):
    """A matched right row whose value is NULL must yield NULL (not fall
    back to an older row's value, not be dropped as unmatched)."""
    from pdfminer_six_spark.ops.joins import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1], "lt": [20], "lid": ["a"]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1], "rt": [5, 10], "val": [50.0, None]})
    )
    rows = asof_join(
        left, right, on=["k"], left_ts="lt", right_ts="rt"
    ).collect()
    assert len(rows) == 1  # matched (rt=10 <= 20), not dropped
    assert rows[0]["val_asof"] is None  # latest row's NULL, not 50.0


def test_gopher_rules_verdicts(spark):
    """Repetitive, symbol-heavy, and too-short docs rejected; plain prose
    kept; signal values match hand computation."""
    from pdfminer_six_spark.ops.textstats import gopher_quality_rules

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "the quick brown fox jumps over the lazy dog today",
                    "spam spam spam spam spam spam spam spam spam spam",
                    "a $$ b %% c @@ d !! e ## f ^^ g && h ** i (( j ))",
                    "too short",
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in gopher_quality_rules(df).collect()}
    assert out[1]["keep"] is True
    assert out[1]["n_tokens"] == 10
    # "spam spam" repeated: 9 bigrams, 1 distinct -> dup ratio 8/9
    assert out[2]["keep"] is False
    assert abs(out[2]["dup_2gram_ratio"] - 8.0 / 9.0) < 1e-12
    assert out[3]["keep"] is False  # symbol_ratio 20/49 > 0.1
    assert out[3]["symbol_ratio"] > 0.1
    assert out[4]["keep"] is False  # 2 tokens < 5
    assert out[4]["n_tokens"] == 2


def test_language_id_deterministic(spark):
    from pdfminer_six_spark.ops.textstats import language_id

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the cat and the dog of the house",
                    "der Hund und die Katze ist nicht da",
                    "le chat et les chiens est que pour",
                ],
            }
        )
    )
    out = {r.doc_id: r.pred_lang for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr"}


def test_ann_brute_force_vs_numpy(spark):
    import numpy as np

    from pdfminer_six_spark.ops.ann import brute_force_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter("vec_id = 0").selectExpr(
        "vec_id as query_id", "embedding as qvec"
    )
    got = brute_force_topk(emb, queries, k=5).collect()
    pdf = emb.toPandas()
    mat = np.vstack(pdf.embedding.to_numpy())
    q = mat[pdf.vec_id.to_numpy().tolist().index(0)]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        zip(np.round(cos, 5), -pdf.vec_id.to_numpy()), reverse=True
    )[:5]
    want_ids = {int(-v) for _, v in order}
    assert {r.vec_id for r in got} == want_ids
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]


def test_media_features_shapes(spark):
    from pdfminer_six_spark.ops.multimodal import extract_features, synth_media

    out = extract_features(synth_media(spark, 32)).toPandas()
    assert len(out) == 32
    decoded = out[out.kind.isin(["image", "audio", "video"])]
    assert decoded.feature.map(lambda v: len(list(v)) == 8).all()
    assert out[out.kind == "blob"].feature.map(lambda v: v is None).all()
    assert (out[out.kind == "video"].frames_sampled == 4).all()
    # determinism
    out2 = extract_features(synth_media(spark, 32)).toPandas()
    a = out.sort_values("media_id").feature.map(
        lambda v: None if v is None else list(v)
    ).tolist()
    b = out2.sort_values("media_id").feature.map(
        lambda v: None if v is None else list(v)
    ).tolist()
    assert a == b


def test_redact_pii_tokens_and_counts(spark):
    import pandas as pd

    from pdfminer_six_spark.ops.clean import redact_pii

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "mail a.b-c@x.io or b@y.co, call 555-123-4567 from 10.0.0.7",
                    "nothing sensitive here, just 1.2 and 12-34",
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["redacted"] == (
        "mail <EMAIL> or <EMAIL>, call <PHONE> from <IP>"
    )
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ip"]) == (2, 1, 1)
    assert out[2]["redacted"] == out[2]["text"] if "text" in out[2] else True
    assert (out[2]["n_email"], out[2]["n_phone"], out[2]["n_ip"]) == (0, 0, 0)


def test_clean_ops_null_text_is_empty(spark):
    """NULL payloads act as empty strings: no null counts, no null
    reassembled text — a corpus with missing docs cleans without
    propagating nulls into downstream stats."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import paragraph_dedup, redact_pii

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["x@y.io", None]})
    )
    r = {x["doc_id"]: x for x in redact_pii(df).collect()}
    assert (r[2]["redacted"], r[2]["n_email"]) == ("", 0)
    p = {x["doc_id"]: x for x in paragraph_dedup(df).collect()}
    assert (p[2]["clean_text"], p[2]["n_paras"], p[2]["n_kept"]) == ("", 1, 1)


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    """Shared paragraphs survive only at the globally-first (doc_id, pos);
    docs reassemble in original order; a doc made entirely of previously
    seen paragraphs comes back empty (not missing)."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import paragraph_dedup

    boiler = "subscribe to our newsletter"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    f"alpha\n\n{boiler}\n\nbeta",
                    f"{boiler}\n\ngamma",
                    f"{boiler}\n\nalpha",  # every para already seen
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert out[1]["clean_text"] == f"alpha\n\n{boiler}\n\nbeta"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["clean_text"] == "gamma"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 1)
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_paras"], out[3]["n_kept"]) == (2, 0)


def test_decode_payload_stub_fallback_is_codec_independent():
    """Fake (non-image) payload bytes must hit the deterministic stub
    whether or not PIL is installed — synthetic corpora produce identical
    features on codec-less and codec-equipped boxes."""
    import numpy as np

    from pdfminer_six_spark.ops.multimodal import _decode_stub, decode_payload_ex

    junk = b"\x00not-an-image" * 20
    got = decode_payload_ex(junk, "image")[0]
    assert np.array_equal(got, _decode_stub(junk, "image"))
    # non-image kinds never consult the codec path
    assert np.array_equal(
        decode_payload_ex(junk, "audio")[0], _decode_stub(junk, "audio")
    )


def _make_bmp24(pixels_rgb):
    """Build an uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up)
    from a list of rows of (r, g, b) tuples — pure struct, no codec lib."""
    import struct as _s

    h = len(pixels_rgb)
    w = len(pixels_rgb[0])
    row_bytes = (w * 3 + 3) & ~3
    body = b""
    for row in reversed(pixels_rgb):  # bottom-up storage
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)
        body += line + b"\x00" * (row_bytes - len(line))
    data_off = 14 + 40
    header = _s.pack("<2sIHHI", b"BM", data_off + len(body), 0, 0, data_off)
    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def test_bmp_decode_real_pixels_dependency_free():
    """The pure-python BMP decoder exercises the real-pixel path with no
    codec library: exact PIL-formula grayscale, top-down row order."""
    import numpy as np

    from pdfminer_six_spark.ops.multimodal import (
        _bmp_decode,
        decode_payload_ex,
    )

    # 2x2: red, green / blue, white — distinct luma per corner
    bmp = _make_bmp24([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    got = _bmp_decode(bmp)
    lum = lambda r, g, b: (19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16
    want = np.array(
        [lum(255, 0, 0), lum(0, 255, 0), lum(0, 0, 255), lum(255, 255, 255)],
        dtype=np.float32,
    )
    assert np.array_equal(got, want)
    samples, codec = decode_payload_ex(bmp, "image")
    assert codec == "bmp" and np.array_equal(samples, want)
    # non-BMP bytes fall through to the stub
    _, codec2 = decode_payload_ex(b"\x00junk" * 30, "image")
    assert codec2 == "stub"
    # hostile 8-bit BMP: pixel bytes beyond the declared 2-color palette
    # must fall back to the stub (never-fail contract), not IndexError
    import struct as _s

    hdr = _s.pack("<2sIHHI", b"BM", 14 + 40 + 8 + 4, 0, 0, 14 + 40 + 8)
    info = _s.pack("<IiiHHIIiiII", 40, 4, 1, 1, 8, 0, 4, 0, 0, 2, 0)
    evil = hdr + info + b"\x00\x00\x00\x00\xff\xff\xff\x00" + bytes(
        [200, 201, 202, 203]
    )
    _, codec3 = decode_payload_ex(evil, "image")
    assert codec3 == "stub"


def test_bmp_decode_matches_pil_differentially():
    """When PIL is importable, the dependency-free BMP path must be
    bit-identical to PIL's convert('L') on the same bytes."""
    import pytest

    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from pdfminer_six_spark.ops.multimodal import _bmp_decode

    rows = [
        [((r * 37) % 256, (r * 91 + c * 13) % 256, (c * 201) % 256) for c in range(7)]
        for r in range(5)
    ]
    bmp = _make_bmp24(rows)
    with Image.open(io.BytesIO(bmp)) as img:
        want = np.asarray(img.convert("L"), dtype=np.float32).ravel()
    assert np.array_equal(_bmp_decode(bmp), want)


def test_extract_features_codec_column(spark):
    """Every feature row carries its decode provenance: synthetic fake
    payloads are 'stub', undecodable kinds are 'none', and a real BMP
    payload reports 'bmp' (the dependency-free real-pixel path)."""
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        synth_media,
    )

    out = extract_features(synth_media(spark, 16)).toPandas()
    assert set(out[out.kind == "blob"].codec) == {"none"}
    assert set(out[out.kind != "blob"].codec) == {"stub"}
    bmp = _make_bmp24([[(9, 9, 9), (200, 10, 30)]])
    media = spark.createDataFrame(
        [(99, "image", bytearray(bmp), "image/bmp", 2, 1, 0)],
        schema=MEDIA_SCHEMA,
    )
    row = extract_features(media).collect()[0]
    assert row.codec == "bmp" and row.feature is not None


def test_decode_payload_real_codec_when_available():
    """With PIL installed, real image bytes decode to actual pixels (the
    swap-in path); skipped in containers without codec libs."""
    import pytest

    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from pdfminer_six_spark.ops.multimodal import decode_payload_ex

    buf = io.BytesIO()
    Image.new("L", (4, 4), color=200).save(buf, format="PNG")
    got = decode_payload_ex(buf.getvalue(), "image")[0]
    assert got.shape == (16,)
    assert np.all(got == 200.0)


def test_media_features_finite_when_samples_shorter_than_dim(spark):
    """A decoder returning fewer samples than feature_dim (a 1x1 tracking
    pixel through a real codec) must not emit NaN features — short sample
    arrays are tiled before chunking.  Driven codec-free by asking for
    more feature dims than the stub's 256 samples."""
    import math

    from pdfminer_six_spark.ops.multimodal import extract_features, synth_media

    out = extract_features(synth_media(spark, 8), feature_dim=300).toPandas()
    feats = out[out.feature.notna()].feature
    assert len(feats) > 0
    assert all(math.isfinite(v) for vec in feats for v in vec)


def test_media_resize_and_frame_sampling(spark):
    """resize: images get the new dims + deterministically resampled
    payload, non-images pass through untouched; frame sampling explodes
    each video into duration/every_ms frames with monotone timestamps."""
    from pdfminer_six_spark.ops.multimodal import (
        extract_features,
        resize_media,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 32)
    resized = resize_media(media, width=16, height=16).toPandas()
    assert len(resized) == 32
    imgs = resized[resized.kind == "image"]
    assert (imgs.width == 16).all() and (imgs.height == 16).all()
    assert imgs.payload.map(lambda p: len(bytes(p)) == 16 * 16).all()
    others = resized[resized.kind != "image"]
    orig = media.toPandas().set_index("media_id")
    for row in others.itertuples(index=False):
        assert bytes(row.payload) == bytes(orig.loc[row.media_id, "payload"])
    # resize composes with feature extraction (same schema contract)
    feats = extract_features(
        resize_media(media.filter("kind = 'image'"), width=16, height=16)
    ).toPandas()
    assert (feats.n_bytes == 16 * 16).all()
    # determinism of the resampled payloads
    resized2 = resize_media(media, width=16, height=16).toPandas()
    assert (
        resized.sort_values("media_id").payload.map(bytes).tolist()
        == resized2.sort_values("media_id").payload.map(bytes).tolist()
    )

    frames = sample_frames(media, every_ms=250).toPandas()
    n_videos = (orig.kind == "video").sum()
    assert set(frames.media_id) == set(orig[orig.kind == "video"].index)
    # 1000ms / 250ms = 4 frames per video, timestamps 0,250,500,750
    assert len(frames) == 4 * n_videos
    per = frames[frames.media_id == frames.media_id.iloc[0]].sort_values(
        "frame_idx"
    )
    assert per.ts_ms.tolist() == [0, 250, 500, 750]
    assert per.frame.map(lambda f: len(bytes(f)) > 0).all()


# the mix repeats payloads only with the reference samples mixed in
# (datagen.transcripts.reference_sample_payloads)
@requires_reference("samples")
def test_training_pipeline_composes(spark):
    """The end-to-end pipeline query (extract -> dedup -> quality filter
    -> summary) returns one row per source kind, with dedup verifiably
    dropping the synthetic mix's repeated turns."""
    import base64

    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas
    from pdfminer_six_spark.queries import q_training_pipeline

    out = {r.source_kind: r for r in q_training_pipeline(spark, SF_DIR).collect()}
    assert set(out) == {"pdf", "plain"}
    assert all(r.n_docs > 0 and r.total_tokens > 0 for r in out.values())
    assert all(0.3 <= r.avg_quality <= 1.0 for r in out.values())
    # dedup must bite: the mix re-embeds payloads across conversations, so
    # unique extracted PDF texts are far fewer than PDF turns
    pdf = transcripts_pandas(n_convs=30)
    n_pdf_turns = int((pdf.tool == "pdf").sum())
    # 86 unique of 160 pdf turns at n_convs=30: re-embedded payloads gone
    assert out["pdf"].n_docs < n_pdf_turns * 0.9, (out["pdf"].n_docs, n_pdf_turns)


def test_streaming_extract_resume(spark, tmp_path):
    """Streaming variant: incremental batches + checkpoint resume."""
    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas
    from pdfminer_six_spark.spark.streaming import streaming_extract

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    all_rows = transcripts_pandas(n_convs=8)
    half = len(all_rows) // 2
    spark.createDataFrame(all_rows.iloc[:half]).write.mode("overwrite").parquet(
        str(src / "batch1")
    )
    q = streaming_extract(spark, str(src) + "/*", str(out), str(ckpt))
    q.awaitTermination(120)
    n1 = spark.read.parquet(str(out)).count()
    assert n1 == half
    # new data arrives; restart picks up ONLY the new files
    spark.createDataFrame(all_rows.iloc[half:]).write.mode("overwrite").parquet(
        str(src / "batch2")
    )
    q2 = streaming_extract(spark, str(src) + "/*", str(out), str(ckpt))
    q2.awaitTermination(120)
    n2 = spark.read.parquet(str(out)).count()
    assert n2 == len(all_rows)


def test_quantile_sketch_accuracy(spark):
    """The GK sketch (percentile_approx, accuracy 10000) must land within
    one observed-value step of the exact interpolated percentiles."""
    from pdfminer_six_spark.queries import (
        q_length_quantiles,
        q_length_quantiles_sketch,
    )

    from pdfminer_six_spark.queries import _QUANTILE_COLS

    sf = "/root/testdata/sf0.01"
    cols = [a for _p, a in _QUANTILE_COLS]
    exact = {
        r.lang: [r[c] for c in cols]
        for r in q_length_quantiles(spark, sf).collect()
    }
    approx = {
        r.lang: [r[f"{c}_approx"] for c in cols]
        for r in q_length_quantiles_sketch(spark, sf).collect()
    }
    assert set(exact) == set(approx)
    for lang in exact:
        for e, a in zip(exact[lang], approx[lang]):
            assert abs(e - a) <= max(0.05 * e, 50.0), (lang, e, a)


def test_top_terms_sketch_exact_at_test_scale(spark):
    """approx_top_k with tracked capacity > corpus vocabulary is exact,
    so the sketch query must equal the exact term-count top-20 under the
    same deterministic tie-break (count desc, term asc)."""
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.textstats import (
        normalized_text,
        tokens_col,
        top_terms_sketch,
    )

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    exact = (
        docs.select(
            F.explode(
                tokens_col(normalized_text(F.col("text")))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(20)
        .collect()
    )
    want = [(r["term"], r["cnt"]) for r in exact]
    got = [
        (r["term"], r["cnt"])
        for r in top_terms_sketch(docs, k=20)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


def test_blocked_embedding_pairs_equal_exact(spark):
    from pdfminer_six_spark.ops.ann import (
        embedding_near_duplicates,
        embedding_near_duplicates_blocked,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r.vec_a, r.vec_b, r.cos)
        for r in embedding_near_duplicates(emb, 0.4).collect()
    }
    blocked = {
        (r.vec_a, r.vec_b, r.cos)
        for r in embedding_near_duplicates_blocked(emb, 0.4).collect()
    }
    assert exact == blocked and len(exact) > 0


def test_tag_extractor():
    import os

    from pdfminer_six_spark.core.converters import extract_tags
    from tests.conftest import SAMPLES, reference_available

    if not reference_available():
        pytest.skip("corpus absent")
    out = extract_tags(
        open(os.path.join(SAMPLES, "simple1.pdf"), "rb").read()
    )
    assert out.startswith('<page id="0"') and out.rstrip().endswith("</page>")
    assert "Hello" in out


def test_ivf_topk_recall(spark):
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.ann import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=5).collect()}
    ivf = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, k=5, n_clusters=8, n_probe=4).collect()
    }
    assert len(ivf) == len(exact)
    # approximate by design: require decent recall, deterministic via seed
    assert len(exact & ivf) / len(exact) >= 0.6


def test_streaming_dedup_drops_redelivered_turns(spark, tmp_path):
    """Watermark-bounded streaming dedup: a turn re-delivered in a later
    batch (same conv/turn/normalized text) is dropped; distinct turns and
    same-position-different-content turns pass through.  State is keyed
    on the fingerprint and expires with the watermark — bounded no matter
    how long the stream runs."""
    import datetime as dt

    import pandas as pd

    from pdfminer_six_spark.spark.pipeline import TRANSCRIPTS_SCHEMA
    from pdfminer_six_spark.spark.streaming import streaming_dedup

    src = tmp_path / "dd_in"
    src.mkdir()
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def write(name, rows):
        df = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        df["turn_idx"] = df["turn_idx"].astype("int32")
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(str(src / name))

    write("f1.parquet", [
        ("c1", 0, "user", "hello world", "", t0),
        ("c1", 1, "assistant", "reply", "", t0 + dt.timedelta(minutes=1)),
    ])
    # batch 2: a retry re-delivers turn 0 (whitespace-variant text ->
    # same normalized fingerprint), plus one genuinely new turn and one
    # same-position turn with different content (must survive)
    write("f2.parquet", [
        ("c1", 0, "user", "hello   WORLD", "", t0 + dt.timedelta(minutes=2)),
        ("c1", 2, "user", "new turn", "", t0 + dt.timedelta(minutes=3)),
        ("c1", 1, "assistant", "edited reply", "", t0 + dt.timedelta(minutes=4)),
    ])
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_dedup(stream, watermark="1 hour")
        .writeStream.format("memory").queryName("dd_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    out = spark.sql("select conv_id, turn_idx, text from dd_test").collect()
    texts = sorted(r.text for r in out)
    assert texts == ["edited reply", "hello world", "new turn", "reply"]


def test_streaming_dedup_equals_batch_dedup(spark, tmp_path):
    """stream == batch for dedup (r04 VERDICT item 6): watermark-bounded
    ``dropDuplicatesWithinWatermark`` over content fingerprints produces
    the SAME unique-turn set as the batch fingerprint dedup on the same
    duplicated corpus.  Survivor identity within a duplicate group is
    compared on the fingerprint columns (which are equal for all group
    members by definition), not on arrival metadata — the stream keeps
    the first ARRIVAL, the batch keeps an arbitrary member."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas
    from pdfminer_six_spark.ops.dedup import normalized_text
    from pdfminer_six_spark.spark.pipeline import TRANSCRIPTS_SCHEMA
    from pdfminer_six_spark.spark.streaming import streaming_dedup

    pdf = transcripts_pandas(n_convs=12)
    # every 4th turn is re-delivered 90s later (inside the watermark),
    # with a whitespace variant that normalizes to the same fingerprint
    dup = pdf.iloc[::4].copy()
    dup["ts"] = dup["ts"] + pd.Timedelta(seconds=90)
    dup["text"] = dup["text"].map(
        lambda t: t.replace(" ", "  ") if isinstance(t, str) else t
    )
    dpdf = pd.concat([pdf, dup], ignore_index=True)
    src = tmp_path / "sb_in"
    spark.createDataFrame(dpdf).repartition(6).write.mode(
        "overwrite"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(src))
    )
    q = (
        streaming_dedup(stream, watermark="48 hours")
        .writeStream.format("memory").queryName("sb_dedup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    fp = F.md5(F.concat_ws(
        "|", F.col("conv_id"), F.col("turn_idx").cast("string"),
        normalized_text(F.col("text")),
    ))
    stream_keys = {
        (r.conv_id, r.turn_idx, r.fpv)
        for r in spark.table("sb_dedup")
        .select("conv_id", "turn_idx", fp.alias("fpv")).collect()
    }
    batch_keys = {
        (r.conv_id, r.turn_idx, r.fpv)
        for r in spark.read.parquet(str(src))
        .withColumn("fpv", fp).dropDuplicates(["fpv"])
        .select("conv_id", "turn_idx", "fpv").collect()
    }
    assert stream_keys == batch_keys
    assert len(stream_keys) == len(pdf)  # exactly the originals survive
    assert spark.table("sb_dedup").count() == len(pdf)


def test_streaming_session_window_with_watermark(spark, tmp_path):
    """Built-in session windows on a STREAM: watermarked per-conversation
    sessions close after the gap and emit once (append mode) — the
    native counterpart to the applyInPandasWithState sessionizer."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from pdfminer_six_spark.spark.pipeline import TRANSCRIPTS_SCHEMA

    src = tmp_path / "sw_in"
    src.mkdir()
    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)

    def write(name, rows):
        df = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        df["turn_idx"] = df["turn_idx"].astype("int32")
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(str(src / name))

    # session 1: two turns 5 min apart; then 2h silence; a late turn
    # far past the watermark horizon closes session 1
    write("f1.parquet", [
        ("c1", 0, "user", "a", "", t0),
        ("c1", 1, "assistant", "b", "", t0 + dt.timedelta(minutes=5)),
    ])
    write("f2.parquet", [
        ("c1", 2, "user", "c", "", t0 + dt.timedelta(hours=4)),
    ])
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sessions = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
    )
    q = (
        sessions.writeStream.format("memory").queryName("sw_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    closed = spark.sql(
        "select conv_id, n_turns from sw_test"
    ).collect()
    # the first session (2 turns) must have closed and emitted; the
    # 4h-later session is still open (only emitted on a later watermark
    # advance), so exactly one closed row is visible
    assert [(r.conv_id, r.n_turns) for r in closed] == [("c1", 2)]


def test_pack_sequences_contiguous_fill(spark):
    """Single shard, capacity 10: documents laid end-to-end in id order,
    seq_idx/tok_offset follow the running sum exactly, straddles flags
    precisely the docs that cross a bin boundary (and never a 0-token
    doc sitting on one)."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": ["w " * 4, "w " * 8, "w " * 10, "   "],
            }
        )
    )
    rows = {
        r["doc_id"]: r
        for r in pack_sequences(df, capacity=10, n_shards=1).collect()
    }
    # cum: 4, 12, 22, 22 -> start: 0, 4, 12, 22
    assert (rows[0]["seq_idx"], rows[0]["tok_offset"], rows[0]["straddles"]) \
        == (0, 0, False)
    assert (rows[1]["seq_idx"], rows[1]["tok_offset"], rows[1]["straddles"]) \
        == (0, 4, True)  # occupies tokens 4..11, crosses the bin edge at 10
    assert (rows[2]["seq_idx"], rows[2]["tok_offset"], rows[2]["straddles"]) \
        == (1, 2, True)  # occupies 12..21, crosses the edge at 20
    assert (rows[3]["seq_idx"], rows[3]["tok_offset"], rows[3]["straddles"]) \
        == (2, 2, False)  # empty doc at a boundary never straddles
    assert all(r["shard"] == 0 for r in rows.values())


def test_pack_sequences_stable_under_partitioning(spark):
    """Packing is a pure function of (doc_id, n_tokens): repartitioning
    the input arbitrarily changes nothing — the property that makes the
    emitted sequences identical across cluster sizes."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import pack_sequences

    pdf = pd.DataFrame(
        {"doc_id": list(range(40)), "text": ["tok " * (i % 7) for i in range(40)]}
    )
    df = spark.createDataFrame(pdf)
    a = sorted(map(tuple, pack_sequences(df, 16, 4).collect()))
    b = sorted(
        map(tuple, pack_sequences(df.repartition(13).sortWithinPartitions(
            "text"), 16, 4).collect())
    )
    assert a == b
    # within a shard, each doc starts where the previous one ended
    per_shard = {}
    for doc_id, shard, seq_idx, off, n, _ in a:
        per_shard.setdefault(shard, []).append((doc_id, seq_idx * 16 + off, n))
    for docs in per_shard.values():
        pos = 0
        for _doc, start, n in sorted(docs):
            assert start == pos
            pos += n


def test_semdedup_fixture_keep_min_id_rule(spark):
    """Hand-built 2-cluster corpus: near-identical vectors collapse to the
    smallest id in their cell; cross-cell similarity never drops anything;
    assignment follows argmax cosine with ties toward the smaller cell."""
    from pdfminer_six_spark.ops.ann import semdedup

    emb = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),
            (11, [0.9, 0.1]),   # cos to 10 ~ 0.994 -> dropped
            (12, [0.0, 1.0]),
            (13, [0.05, 1.0]),  # cos to 12 ~ 0.999 -> dropped
            (14, [-1.0, 0.0]),  # cell 1 (cos 0 beats -1), no near neighbour
        ],
        "vec_id int, embedding array<float>",
    )
    centers = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, center array<double>"
    )
    out = {r["vec_id"]: r for r in semdedup(emb, centers, 0.95).collect()}
    assert {v for v, r in out.items() if r["kept"]} == {10, 12, 14}
    assert out[11]["cell"] == 0 and out[13]["cell"] == 1
    assert out[14]["cell"] == 1


def test_semdedup_kmeans_matches_numpy_rule(spark):
    """Production path (seeded KMeans quantizer): every vector appears
    exactly once, and the keep verdict matches an independent numpy
    recomputation of the cluster-local smaller-id-neighbour rule on the
    cells the op itself assigned."""
    import numpy as np

    from pdfminer_six_spark.ops.ann import semdedup_kmeans

    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 8))
    vecs = np.vstack([base, base + rng.normal(scale=0.01, size=(30, 8))])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    out = semdedup_kmeans(emb, n_clusters=4, threshold=0.95).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(60))
    cells = {r["vec_id"]: r["cell"] for r in out}
    f32 = vecs.astype(np.float32).astype(np.float64)  # float cast like Spark
    unit = f32 / np.linalg.norm(f32, axis=1, keepdims=True)
    cos = np.round(unit @ unit.T, 5)
    for r in out:
        v = r["vec_id"]
        has_smaller = any(
            u < v and cells[u] == cells[v] and cos[u, v] >= 0.95
            for u in range(60)
        )
        assert r["kept"] == (not has_smaller), (v, r["kept"])


def test_chunk_documents_windows_and_offsets(spark):
    """64/48 token windows: offsets half-open over the whitespace token
    stream, overlap = chunk_tokens - stride, short final window kept,
    empty docs emit nothing — and a tail start whose window is fully
    contained in the previous chunk is NOT emitted (no duplicate
    coverage for downstream embedding/training consumers)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.clean import chunk_documents

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [" ".join(toks), "  "]})
    )
    rows = sorted(
        chunk_documents(df, chunk_tokens=4, stride=3).collect(),
        key=lambda r: (r["doc_id"], r["chunk_idx"]),
    )
    assert all(r["doc_id"] == 1 for r in rows)  # empty doc -> no chunks
    got = [
        (r["chunk_idx"], r["start_tok"], r["end_tok"], r["chunk_text"])
        for r in rows
    ]
    assert got == [
        (0, 0, 4, "t0 t1 t2 t3"),
        (1, 3, 7, "t3 t4 t5 t6"),
        (2, 6, 10, "t6 t7 t8 t9"),
        # start 9 ([9,10)) is fully inside chunk 2's [6,10) -> dropped
    ]
    assert all(
        r["n_chunk_tokens"] == r["end_tok"] - r["start_tok"] for r in rows
    )

    # the ADVICE example: n=60, chunk=64, stride=48 -> exactly ONE chunk
    # (the old behavior emitted a second chunk fully inside the first);
    # n=65 keeps its 2nd chunk (adds token 64, not redundant)
    df2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    " ".join(f"w{i}" for i in range(60)),
                    " ".join(f"w{i}" for i in range(65)),
                ],
            }
        )
    )
    counts = {
        r["doc_id"]: r["n"]
        for r in chunk_documents(df2, chunk_tokens=64, stride=48)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {1: 1, 2: 2}


def test_quality_classifier_paths_agree(spark):
    """The broadcast-vocabulary production path must reproduce the
    hash-weight path when the vocab carries exactly the hash-derived
    weights for every corpus token (OOV-free corpus): same verdicts, same
    scores to the shared 6-decimal rounding."""
    import hashlib

    import pandas as pd

    from pdfminer_six_spark.ops.textstats import quality_classifier

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox JUMPS  over",
                "lorem ipsum dolor",
                "   ",
            ],
        }
    )
    df = spark.createDataFrame(docs)
    vocab = sorted(
        {t for s in docs.text for t in s.lower().split() if t}
    )
    wrows = [
        (t, int(hashlib.md5(t.encode()).hexdigest()[:8], 16) / 2**32 - 0.5)
        for t in vocab
    ]
    weights = spark.createDataFrame(wrows, "token string, weight double")
    hash_path = {
        r["doc_id"]: r
        for r in quality_classifier(df).select(
            "doc_id", "n_tokens", "clf_score", "clf_keep"
        ).collect()
    }
    vocab_path = {
        r["doc_id"]: r
        for r in quality_classifier(df, weights=weights).select(
            "doc_id", "n_tokens", "clf_score", "clf_keep"
        ).collect()
    }
    assert set(hash_path) == set(vocab_path) == {1, 2, 3}
    for d in (1, 2):
        assert hash_path[d]["n_tokens"] == vocab_path[d]["n_tokens"] > 0
        assert hash_path[d]["clf_keep"] == vocab_path[d]["clf_keep"]
        assert abs(hash_path[d]["clf_score"] - vocab_path[d]["clf_score"]) < 2e-6
    # empty doc: scores 0, dropped, present in both paths
    assert hash_path[3]["clf_score"] == 0.0 and not hash_path[3]["clf_keep"]
    assert vocab_path[3]["n_tokens"] == 0 and not vocab_path[3]["clf_keep"]


def test_ngram_lm_scores_matches_reference(spark):
    """ops.retrieval.ngram_lm_scores reproduces a pure-Python add-one
    bigram LM: train slice is doc_id%10<8, scores cover held-out docs,
    <2-token docs drop."""
    from collections import Counter

    from pdfminer_six_spark.ops.retrieval import ngram_lm_scores

    texts = {
        0: "the cat sat on the mat",
        1: "the cat ran",
        7: "the dog sat",          # train slice too
        8: "the cat sat",          # held out
        9: "unseen words entirely",  # held out, all-OOV bigrams
        18: "one",                 # 1 token -> no bigrams -> dropped
        19: "   ",                 # empty -> dropped
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )

    def toks(s):
        return [t for t in s.lower().split() if t]

    def bigrams(s):
        t = toks(s)
        return list(zip(t, t[1:]))

    cb, cu, vocab = Counter(), Counter(), set()
    for d, s in texts.items():
        if d % 10 < 8:
            for w1, w2 in bigrams(s):
                cb[(w1, w2)] += 1
                cu[w1] += 1
                vocab.update((w1, w2))
    v = len(vocab)

    expected = {}
    for d, s in texts.items():
        bg = bigrams(s)
        if not bg:
            continue
        nll = -sum(
            math.log(cb[(w1, w2)] + 1.0) - math.log(cu[w1] + float(v))
            for w1, w2 in bg
        ) / len(bg)
        expected[d] = (len(bg), round(nll, 6), round(math.exp(nll), 6))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in ngram_lm_scores(df).collect()
    }
    assert set(got) == set(expected)  # 18 and 19 dropped
    for d in expected:
        assert got[d][0] == expected[d][0]
        assert abs(got[d][1] - expected[d][1]) < 2e-6, (d, got[d], expected[d])
        assert abs(got[d][2] - expected[d][2]) < 2e-5, (d, got[d], expected[d])
    # held-out all-OOV doc must score strictly worse than an in-vocab doc
    assert got[9][1] > got[8][1]


def test_bm25_topk_matches_reference(spark):
    """ops.retrieval.bm25_topk reproduces pure-Python Okapi BM25
    (k1=1.2, b=0.75) including rank order and the k cut."""
    from pdfminer_six_spark.ops.retrieval import bm25_topk

    texts = {
        1: "hash join hash scan",
        2: "scan scan scan",
        3: "dup merge",
        4: "vector stream filter vector",
        5: "the table",
    }
    qterms = [(1, "hash"), (1, "join"), (2, "dup"), (2, "scan")]
    corpus = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    queries = spark.createDataFrame(qterms, "query_id long, term string")

    toks = {d: s.split() for d, s in texts.items()}
    n = len(texts)
    avgdl = sum(len(t) for t in toks.values()) / n
    k1, b = 1.2, 0.75

    def dfq(term):
        return sum(1 for t in toks.values() if term in t)

    expected = {}
    for qid in {q for q, _ in qterms}:
        scores = {}
        for d, t in toks.items():
            s = 0.0
            for q, term in qterms:
                if q != qid or term not in t:
                    continue
                tf = t.count(term)
                idf = math.log(1.0 + (n - dfq(term) + 0.5) / (dfq(term) + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            if s > 0:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        expected[qid] = [(d, sc, i + 1) for i, (d, sc) in enumerate(ranked)]

    got = {}
    for r in bm25_topk(corpus, queries, k=2).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"])
        )
    for qid in got:
        got[qid].sort(key=lambda x: x[2])
    assert set(got) == set(expected)
    for qid in expected:
        assert len(got[qid]) == len(expected[qid])
        for (gd, gs, gr), (ed, es, er) in zip(got[qid], expected[qid]):
            assert (gd, gr) == (ed, er)
            assert abs(gs - es) < 2e-6


def test_vocab_oov_matches_reference(spark):
    """ops.textstats.vocab_oov: top-v vocab with count-desc/token-asc
    boundary tiebreak; per-doc OOV occurrence counts; token-less docs
    drop."""
    from collections import Counter

    from pdfminer_six_spark.ops.textstats import vocab_oov

    texts = {
        1: "a a a b b c d",
        2: "b c c e",
        3: "E e  A",   # normalization: lowercased
        4: "   ",      # token-less -> dropped
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    toks = {d: s.lower().split() for d, s in texts.items()}
    cnt = Counter(t for ts in toks.values() for t in ts)
    # v=3: counts a=4 b=3 c=3 e=3 d=1 -> boundary tie among b/c/e broken
    # by token asc -> vocab = {a, b, c}
    vocab = {t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]}
    assert vocab == {"a", "b", "c"}
    expected = {}
    for d, ts in toks.items():
        if not ts:
            continue
        oov = sum(1 for t in ts if t not in vocab)
        expected[d] = (len(ts), oov, round(oov / len(ts), 6))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in vocab_oov(df, v=3).collect()
    }
    assert got == expected


def test_corpus_report_aggregates(spark):
    """q_corpus_report composition: per-source doc/token counts,
    corpus-wide dup membership, Gopher keep-rate, majority language."""
    import pandas as pd

    from pdfminer_six_spark.queries import q_corpus_report

    keep_en = "the cat and the dog sat with it for now"   # 10 toks, keeps
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [keep_en, keep_en, "x", "le la et les des est pour ok"],
            "lang": ["en"] * 4,
            "source": ["a", "a", "a", "b"],
            "n_chars": [0] * 4,
        }
    )
    path = "/tmp/corpus_report_test"
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        path + "/documents.parquet"
    )
    rows = {r["source"]: r for r in q_corpus_report(spark, path).collect()}
    a, b = rows["a"], rows["b"]
    assert (a["n_docs"], a["n_tokens"]) == (3, 21)
    assert a["dup_docs"] == 2          # docs 1+2 share a fingerprint
    assert abs(a["keep_rate"] - round(2 / 3, 6)) < 1e-9  # "x" fails gopher
    assert a["top_lang"] == "en"
    assert (b["n_docs"], b["dup_docs"], b["top_lang"]) == (1, 0, "fr")


def test_corpus_report_null_text_oracle_differential(spark, tmp_path):
    """corpus_report vs its DuckDB oracle on a corpus WITH null/empty
    text rows (the sf tables have none): NULL coalesces to '' on both
    engines — such docs count toward n_docs, fail every keep band, and
    share one fingerprint."""
    import duckdb
    import pandas as pd

    from pdfminer_six_spark.queries import _corpus_report_sql, q_corpus_report

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "the cat and the dog sat with it for now",
                None, "", "le la et les des est pour ok", None,
            ],
            "lang": ["en"] * 5,
            "source": ["a", "a", "b", "b", "a"],
            "n_chars": [0] * 5,
        }
    )
    d = str(tmp_path)
    docs.to_parquet(f"{d}/documents.parquet")
    sp = (
        q_corpus_report(spark, d)
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    du = (
        con.execute(_corpus_report_sql())
        .fetchdf()
        .sort_values("source")
        .reset_index(drop=True)
    )
    assert sp.astype(str).equals(du[sp.columns].astype(str))
    a = sp[sp.source == "a"].iloc[0]
    assert (a.n_docs, a.dup_docs) == (3, 2)  # two NULL docs share md5('')


def test_contamination_rates_matches_reference(spark):
    """ops.dedup.contamination_rates: per-eval-doc distinct-5-gram hit
    fraction vs a pure-Python model; zero-hit docs emit rate 0.0 and
    contaminated=False."""
    from pdfminer_six_spark.ops.dedup import contamination_rates

    train_texts = {
        1: "a b c d e f g",           # grams: abcde bcdef cdefg
        2: "q r s t u",
    }
    eval_texts = {
        100: "a b c d e x y z w",     # 5 grams, 1 hit (abcde) -> 0.2
        101: "q r s t u",             # 1 gram, 1 hit -> 1.0
        102: "zz yy xx ww vv",        # 1 gram, 0 hits -> 0.0
    }
    train = spark.createDataFrame(
        list(train_texts.items()), "doc_id long, text string"
    )
    evals = spark.createDataFrame(
        list(eval_texts.items()), "doc_id long, text string"
    )
    got = {
        r["eval_doc"]: (r["n_grams"], r["n_hit"], r["rate"], r["contaminated"])
        for r in contamination_rates(train, evals, n=5, threshold=0.5).collect()
    }
    assert got == {
        100: (5, 1, 0.2, False),
        101: (1, 1, 1.0, True),
        102: (1, 0, 0.0, False),
    }


def test_blocklist_filter_whole_tokens(spark):
    """blocklist_filter counts whole-token case-insensitive occurrences;
    substrings never match; NULL text counts zero."""
    from pdfminer_six_spark.ops.clean import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "Bad word BAD here"),
            (2, "badge embaddening"),   # substrings only -> clean
            (3, None),
            (4, "ok text"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_blocked"], r["blocked"])
        for r in blocklist_filter(df, blocklist=("bad",)).collect()
    }
    assert got == {1: (2, True), 2: (0, False), 3: (0, False), 4: (0, False)}


def test_c4_line_clean_rules(spark):
    """c4_line_clean keeps only >=3-word lines with terminal punctuation
    (closing quote allowed); counts and joined text match the C4 rule."""
    from pdfminer_six_spark.ops.clean import c4_line_clean

    text = "\n".join([
        "This line is kept.",          # keep
        "Too short.",                  # 2 words -> drop
        "no terminal punctuation",     # drop
        'He said "stop it now!"',      # keep (quote after !)
        "trailing spaces kept too.   ",  # keep (rtrim before the check)
        "",                            # drop
    ])
    df = spark.createDataFrame(
        [(1, text), (2, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in c4_line_clean(df).collect()}
    assert got[1]["n_lines"] == 6
    assert got[1]["n_lines_kept"] == 3
    assert got[1]["clean_text"] == "\n".join([
        "This line is kept.",
        'He said "stop it now!"',
        "trailing spaces kept too.   ",
    ])
    assert (got[2]["n_lines"], got[2]["n_lines_kept"], got[2]["clean_text"]) == (1, 0, "")


@pytest.mark.parametrize(
    "scorer", ["add_one", "stupid_backoff", "kneser_ney"]
)
def test_bigram_lm_model_roundtrip(spark, tmp_path, scorer):
    """Train-once/score-many for every LM scorer: building the model,
    writing it to parquet, reading it back and scoring via model= equals
    the inline path exactly."""
    from pdfminer_six_spark.ops import retrieval as r

    build, score = {
        "add_one": (r.bigram_lm_model, r.ngram_lm_scores),
        "stupid_backoff": (r.trigram_lm_model, r.trigram_lm_scores),
        "kneser_ney": (r.bigram_lm_model, r.kn_lm_scores),
    }[scorer]
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    mpath = str(tmp_path / "lm_model.parquet")
    build(docs).write.parquet(mpath)
    via_model = score(
        docs, model=spark.read.parquet(mpath), persist_model=False
    )
    inline = score(docs, persist_model=False)
    assert via_model.exceptAll(inline).count() == 0
    assert inline.exceptAll(via_model).count() == 0


def test_ccnet_buckets_terciles_per_language(spark):
    """ccnet_buckets: NTILE terciles are assigned within each predicted
    language in ascending-perplexity order (bucket 1 = head = most
    fluent under the corpus LM)."""
    from pdfminer_six_spark.ops.retrieval import ccnet_buckets

    # 6 English-ish docs (contain 'the'/'and') with varying fluency vs
    # the train slice, 3 French-ish docs; ids chosen so all train
    fluent = "the cat and the dog and the cat and the dog"
    rows = [(i, fluent) for i in range(3)]                       # en, low ppl
    rows += [(3, "the zz qq and ww rr"), (4, "the aa bb and cc dd"),
             (5, "the ee ff and gg hh")]                         # en, high ppl
    rows += [(10, "le chat et le chien"), (11, "le aa et le bb"),
             (12, "le cc et le dd")]                             # fr
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in ccnet_buckets(df).collect()}
    en = sorted(
        (r["ppl"], r["doc_id"], r["bucket"])
        for r in got.values() if r["pred_lang"] == "en"
    )
    fr = [r for r in got.values() if r["pred_lang"] == "fr"]
    assert len(en) == 6 and len(fr) == 3
    # ascending ppl maps to non-decreasing buckets, 2 docs per en tercile
    assert [b for _, _, b in en] == [1, 1, 2, 2, 3, 3]
    # each fr doc lands in its own tercile (3 docs, 3 buckets)
    assert sorted(r["bucket"] for r in fr) == [1, 2, 3]
    # the verbatim-fluent docs are the English head
    assert {d for _, d, b in en if b == 1} <= {0, 1, 2}


def test_ccnet_buckets_sketch_matches_exact(spark):
    """cutoffs='sketch' (per-language percentile_approx boundaries +
    comparison assignment — the 100 TB path, no per-language NTILE sort)
    must agree with cutoffs='exact' everywhere except documented boundary
    ties, on real sf0.01 documents.

    At this scale (rows << sketch_accuracy) the GK sketch is exact, so
    any disagreement is purely the tie semantics: NTILE splits equal
    ppl values across adjacent buckets to equalize counts, the cutoff
    path sends the whole tie group to the lower bucket.  Assertions:
    (1) the sketch plan contains no ntile window; (2) buckets are
    monotone in (ppl, doc_id) within each language; (3) every
    disagreeing doc sits exactly AT a cutoff boundary ppl; (4) overall
    agreement >= 95%."""
    from pdfminer_six_spark.ops.retrieval import ccnet_buckets

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = ccnet_buckets(docs, cutoffs="exact")
    sketch = ccnet_buckets(docs, cutoffs="sketch")

    plan = sketch._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" not in plan.lower()  # ('ntile' alone hits perceNTILE)
    assert "percentile_approx" in plan.lower()

    e = {r["doc_id"]: r for r in exact.collect()}
    s = {r["doc_id"]: r for r in sketch.collect()}
    assert set(e) == set(s) and len(e) > 100

    # (2) monotone within language under the sketch assignment
    bylang = {}
    for r in s.values():
        bylang.setdefault(r["pred_lang"], []).append(r)
    for lang, rows in bylang.items():
        rows.sort(key=lambda r: (r["ppl"], r["doc_id"]))
        buckets = [r["bucket"] for r in rows]
        assert buckets == sorted(buckets), lang

    # (3)+(4) disagreements only at tie boundaries, and rare
    # boundary ppls per language = the max ppl of each sketch bucket
    boundary = {
        (r["pred_lang"], r["bucket"]): None for r in s.values()
    }
    for r in s.values():
        k = (r["pred_lang"], r["bucket"])
        if boundary[k] is None or r["ppl"] > boundary[k]:
            boundary[k] = r["ppl"]
    boundary_ppls = {
        (lang, boundary[(lang, b)])
        for (lang, b) in boundary
        if b < max(bb for (ll, bb) in boundary if ll == lang)
    }
    n_disagree = 0
    for d in e:
        if e[d]["bucket"] != s[d]["bucket"]:
            n_disagree += 1
            assert (s[d]["pred_lang"], s[d]["ppl"]) in boundary_ppls, e[d]
    assert n_disagree <= 0.05 * len(e), n_disagree


def test_streaming_quality_filter_composes(spark, tmp_path):
    """The scan-local quality operators compose directly onto a
    STREAMING DataFrame (no new code needed): readStream -> gopher +
    blocklist -> exactly-once foreachBatch sink; restarting the stream
    over the same checkpoint adds nothing, and the streamed verdicts
    equal the batch path row-for-row."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import blocklist_filter
    from pdfminer_six_spark.ops.textstats import gopher_quality_rules

    src_dir = tmp_path / "docs_in"
    src_dir.mkdir()
    good = "the cat and the dog sat with it for now and then some more words"
    docs = pd.DataFrame(
        {
            "doc_id": list(range(8)),
            "text": [good if i % 2 == 0 else f"bad doc {i}" for i in range(8)],
        }
    )
    docs.to_parquet(src_dir / "part0.parquet")

    batch_df = spark.read.parquet(str(src_dir))
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )

    def enrich(df):
        return blocklist_filter(gopher_quality_rules(df), blocklist=("bad",)
        ).select("doc_id", "n_tokens", "keep", "n_blocked", "blocked")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def sink(df):
        # batch-id-keyed overwrite: a replayed batch rewrites its own
        # partition instead of appending a duplicate
        def write_batch(batch, batch_id):
            batch.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

        df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start().awaitTermination(120)

    sink(enrich(stream_df))
    first = spark.read.parquet(out).drop("batch_id")
    assert first.count() == 8
    # restart over the same checkpoint: no new data -> nothing added
    sink(enrich(stream_df))
    again = spark.read.parquet(out).drop("batch_id")
    assert again.count() == 8
    batch = enrich(batch_df)
    assert batch.exceptAll(again).count() == 0
    assert again.exceptAll(batch).count() == 0


def test_source_upsample_epochs(spark):
    """source_upsample: floor(rate) copies for everyone, +1 for the
    deterministic fractional slice; rate 0 drops the source; rate 1 is
    the identity; epoch numbering is 1..n."""
    import hashlib

    from pdfminer_six_spark.ops.clean import source_upsample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"a": 2.5, "b": 1.0, "c": 0.0}
    got = {}
    for r in source_upsample(df, rates=rates).collect():
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    for d, src in rows:
        if src == "c":
            assert d not in got
            continue
        u = int(hashlib.md5(str(d).encode()).hexdigest()[:4], 16) / 65536.0
        rate = rates[src]
        n = int(rate) + (1 if u < rate - int(rate) else 0)
        assert sorted(got.get(d, [])) == list(range(1, n + 1)), (d, src)
    # the fractional slice is non-trivial on 10 'a' docs at 0.5
    n_a3 = sum(1 for d, s in rows if s == "a" and len(got.get(d, [])) == 3)
    assert 0 < n_a3 < 10


def test_winnow_fingerprints_guarantees(spark):
    """Winnowing guarantees: (a) any shared substring of length >=
    k+w-1 produces a shared fingerprint; (b) matches a pure-Python
    reference (window-min over md5-prefix gram hashes); (c) short docs
    (< k chars) emit nothing, docs with < w grams emit their single
    global min."""
    import hashlib

    from pdfminer_six_spark.ops.textstats import winnow_fingerprints

    k, w = 16, 8
    shared = "this exact phrase is long enough to be caught"  # 46 chars
    texts = {
        1: f"prefix one {shared} suffix alpha",
        2: f"completely different head {shared} and tail",
        3: "totally unrelated content with no overlap at all here",
        4: "tiny",                      # < k -> no rows
        5: "exactly twenty chr x",      # 20 chars -> 5 grams < w
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )

    def py_fps(s):
        s = " ".join(s.lower().split())
        if len(s) < k:
            return set()
        g = [
            int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(s) - k + 1)
        ]
        if len(g) < w:
            return {min(g)}
        return {min(g[j:j + w]) for j in range(len(g) - w + 1)}

    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for d, s in texts.items():
        assert got.get(d, set()) == py_fps(s), d
    assert 4 not in got and len(got[5]) == 1
    # shared >= k+w-1 substring -> guaranteed common fingerprint
    assert got[1] & got[2]
    assert not (got[3] & got[1])


def test_repetition_signals_hand_computed(spark):
    """Gopher repetition signals against hand-computed fixtures: dup-line
    fractions, top/dup n-gram character coverage, verdicts, and the
    empty/short-doc edges."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import repetition_signals

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            # d1: 'same line' x3 + one unique line -> dup_line_frac 2/4,
            # dup_line_char_frac 27/(27+10)
            "same line\nsame line\nsame line\nunique one",
            # d2: 'spam spam spam spam' -> norm len 19; top2 gram
            # 'spam spam' occurs 3x, covers 27/19 (>1: overlap-naive) ->
            # repetitive
            "spam spam spam spam",
            # d3: clean prose, all lines and grams unique
            "alpha beta gamma\ndelta epsilon zeta eta",
            # d4: NULL text -> all zeros
            None,
        ],
    }))
    rows = {r["doc_id"]: r.asDict()
            for r in repetition_signals(docs).collect()}

    d1 = rows[1]
    assert d1["n_lines"] == 4
    assert d1["dup_line_frac"] == pytest.approx(2 / 4)
    assert d1["dup_line_char_frac"] == pytest.approx(27 / 37)
    assert d1["repetitive"] is True  # dup_line_frac 0.5 > 0.30

    d2 = rows[2]
    assert d2["top2_char_frac"] == pytest.approx(3 * 9 / 19)
    # every 2-gram is 'spam spam' (cnt 3 > 1): dup coverage == top
    assert d2["repetitive"] is True

    d3 = rows[3]
    assert d3["dup_line_frac"] == 0.0
    assert d3["dup5_char_frac"] == 0.0
    assert d3["repetitive"] is False
    # unique grams never count toward top coverage (cnt > 1 required)
    assert d3["top2_char_frac"] == 0.0

    d4 = rows[4]
    assert d4["n_lines"] == 0 and d4["repetitive"] is False
    assert all(
        d4[k] == 0.0 for k in d4 if k.endswith("_frac")
    )


def test_dsir_hashed_estimator_matches_exact_and_discriminates(spark):
    """DSIR (Xie et al. 2023): with a bucket count far above the
    vocabulary, the hashed estimator equals the exact path to float
    precision (no collisions, same observed support); and on a corpus
    with a distinct target dialect, target-like raw docs score strictly
    above off-target docs under both paths."""
    import pandas as pd

    from pdfminer_six_spark.ops.retrieval import dsir_weights

    target_texts = [f"law court judge ruling appeal case{i % 3}"
                    for i in range(8)]
    lawish = [f"court ruling appeal {i}" for i in range(4)]
    sporty = [f"goal match striker season {i}" for i in range(4)]
    raw = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(8), "text": lawish + sporty,
    }))
    target = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(100, 108), "text": target_texts,
    }))

    exact = {r["doc_id"]: r["log_w"]
             for r in dsir_weights(raw, target).collect()}
    hashed = {r["doc_id"]: r["log_w"]
              for r in dsir_weights(
                  raw, target, hashed_buckets=1 << 40).collect()}
    assert set(exact) == set(hashed) == set(range(8))
    for d in exact:
        assert hashed[d] == pytest.approx(exact[d], abs=2e-6)
    # discrimination: every law-ish doc outscores every sporty doc
    assert min(exact[d] for d in range(4)) > max(exact[d] for d in range(4, 8))
    # small bucket count still runs and keeps the doc set (collisions
    # merge features, they don't drop documents)
    small = dsir_weights(raw, target, hashed_buckets=16)
    assert small.count() == 8


def test_bpe_pair_stats_hand_computed(spark):
    """BPE pair counting on a tiny corpus with hand-counted pair
    frequencies, word-frequency weighting, and the deterministic
    (count desc, left, right) top-k order."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import bpe_pair_stats

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        # words: 'abab' x3, 'ab' x2, 'ba' x1, 'x' x1 (1-char: no pairs)
        "text": ["abab abab ab", "abab ab ba x"],
    }))
    rows = [(r["left"], r["right"], r["pair_count"], r["merged"])
            for r in bpe_pair_stats(docs, k=10).collect()]
    # 'abab': pairs ab,ba,ab -> per word (ab:2, ba:1), x3
    # 'ab': ab x1, x2 ; 'ba': ba x1
    # totals: ab = 2*3 + 2 = 8, ba = 1*3 + 1 = 4
    assert rows == [("a", "b", 8, "ab"), ("b", "a", 4, "ba")]


def test_source_kl_divergence_properties(spark):
    """KL drift diagnostic: a source whose token distribution matches the
    corpus scores near zero; an off-distribution source scores clearly
    higher; KL is always >= 0 (within the 6-decimal round)."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import source_kl_divergence

    common = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(12),
        "source": ["a"] * 5 + ["b"] * 5 + ["weird"] * 2,
        "text": [common] * 10 + ["zzz qqq xxx vvv kkk zzz qqq"] * 2,
    }))
    kl = {r["source"]: r["kl"] for r in source_kl_divergence(docs).collect()}
    assert set(kl) == {"a", "b", "weird"}
    assert all(v >= -1e-6 for v in kl.values())
    assert kl["a"] == kl["b"]  # identical distributions, identical drift
    assert kl["weird"] > 10 * max(kl["a"], 1e-9)


def test_ngram_novelty_hand_computed(spark):
    """Novelty: a doc sharing every 8-gram with a twin scores 0; a fully
    unique doc scores 1; short docs collapse to the whole-text gram."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import ngram_novelty

    long_a = " ".join(f"w{i}" for i in range(12))
    long_b = " ".join(f"u{i}" for i in range(12))
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [long_a, long_a, long_b, "tiny doc", "tiny doc"],
    }))
    rows = {r["doc_id"]: r for r in ngram_novelty(docs, n=8).collect()}
    assert rows[1]["n_grams"] == 5  # 12 - 8 + 1
    assert rows[1]["novelty"] == 0.0 and rows[2]["novelty"] == 0.0
    assert rows[3]["novelty"] == 1.0
    # <8-token docs fall back to the single whole-text gram
    assert rows[4]["n_grams"] == 1 and rows[4]["novelty"] == 0.0
    assert rows[5]["novelty"] == 0.0


def test_incremental_exact_drop_paths_and_null(spark):
    """Both drop paths: fps hitting the historical index are dropped; new
    in-batch duplicates keep only the min id; NULL text hashes as ''
    (one group with the empty doc)."""
    import pandas as pd

    from pdfminer_six_spark.ops.dedup import incremental_exact

    seen_src = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["known page"]})
    )
    from pdfminer_six_spark.ops.dedup import normalized_text
    from pyspark.sql import functions as F

    seen = seen_src.select(
        F.md5(normalized_text(F.coalesce(F.col("text"), F.lit("")))).alias(
            "fp"
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13, 14, 15],
                "text": [
                    "Known  Page ",   # hits the index (normalized)
                    "fresh one",
                    "fresh one",      # in-batch dup of 11
                    "fresh two",
                    None,             # NULL == '' group
                    "",               # loses to 14 (min id)
                ],
            }
        )
    )
    out = incremental_exact(batch, seen)
    rows = {r["doc_id"]: r["fp"] for r in out.collect()}
    assert set(rows) == {11, 13, 14}
    assert len(set(rows.values())) == 3
    # surviving fp column appends straight back onto the index: a second
    # identical batch dedups to nothing against seen + out.fp
    seen2 = seen.unionByName(out.select("fp"))
    again = incremental_exact(batch, seen2)
    assert again.count() == 0


def test_funnel_report_arithmetic(spark):
    """Stage chaining: docs_in/tokens_in of stage k+1 equal
    docs_kept/tokens_kept of stage k; flags verified against a
    hand-computed corpus."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import funnel_report

    good = "alpha beta gamma delta epsilon zeta."   # passes everything
    blocked = "alpha beta gamma slow delta epsilon."  # gopher ok, blocklisted
    no_line = "alpha beta gamma delta epsilon zeta"   # no terminal punct
    short = "tiny"                                    # fails gopher (<5 toks)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [good, blocked, no_line, short],
            }
        )
    )
    rows = {r["stage"]: r for r in funnel_report(df).collect()}
    assert [rows[s]["stage_idx"] for s in ("gopher_keep", "blocklist", "c4_line")] == [1, 2, 3]
    g, b, c = rows["gopher_keep"], rows["blocklist"], rows["c4_line"]
    assert (g["docs_in"], g["docs_kept"]) == (4, 3)
    assert (b["docs_in"], b["docs_kept"]) == (3, 2)
    assert (c["docs_in"], c["docs_kept"]) == (2, 1)
    assert b["docs_in"] == g["docs_kept"] and b["tokens_in"] == g["tokens_kept"]
    assert c["docs_in"] == b["docs_kept"] and c["tokens_in"] == b["tokens_kept"]
    assert g["tokens_in"] == 6 + 6 + 6 + 1
    assert c["tokens_kept"] == 6  # only `good` survives all three


def test_token_budget_select_exact_semantics(spark):
    """Budget prefix semantics: docs ordered by (score desc, id), kept
    while cumulative tokens <= budget; the overflowing doc and everything
    after it are dropped."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import token_budget_select

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "a b c",        # 3 toks
                    "d e",          # 2 toks
                    "f g h i",      # 4 toks
                    "j",            # 1 tok
                    None,           # 0 toks
                ],
                "score": [10, 30, 20, 30, 5],
            }
        )
    )
    # order: id2(s30,2), id4(s30,1), id3(s20,4), id1(s10,3), id5(s5,0)
    # cum:   2, 3, 7, 10, 10 — budget 7 keeps {2,4,3}; budget 6 keeps {2,4}
    out = token_budget_select(df, 7)
    assert {r["doc_id"] for r in out.collect()} == {2, 4, 3}
    out6 = token_budget_select(df, 6)
    assert {r["doc_id"] for r in out6.collect()} == {2, 4}
    # n_tokens column attached; original columns preserved
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[3]["n_tokens"] == 4 and rows[3]["text"] == "f g h i"


def _token_budget_reference(rows, budget):
    """Pure-python token budget over (doc_id, text, score) rows: order by
    score descending with NULL scores last, doc_id ascending, then keep
    the running-sum prefix that stays <= budget.  Returns
    {(doc_id, n_tokens)}."""
    order = sorted(rows, key=lambda r: (r[2] is None, -(r[2] or 0), r[0]))
    kept, cum = set(), 0
    for doc_id, text, _score in order:
        n = len((text or "").split())
        cum += n
        if cum > budget:
            break
        kept.add((doc_id, n))
    return kept


def test_token_budget_select_bucketed_equals_exact(spark):
    """The bucketed plan returns the rows of the exact global running-sum
    window, computed here in python — with tie-heavy scores, a tiny
    bucket count that forces a boundary bucket holding score ties, NULL
    scores, and the degenerate all-equal-scores case."""
    from pdfminer_six_spark.ops.clean import token_budget_select

    schema = "doc_id long, text string, score double"
    rows = [
        (i, ("tok " * ((i % 7) + 1)).strip(), float((i * 13) % 11))
        for i in range(40)
    ]
    with_nulls = [(i, t, None if i % 9 == 0 else sc) for i, t, sc in rows]
    for data in (rows, with_nulls):
        df = spark.createDataFrame(data, schema)
        for budget in (0, 17, 40, 10_000):
            want = _token_budget_reference(data, budget)
            for nb in (4, 1024):
                got = {
                    (r["doc_id"], r["n_tokens"])
                    for r in token_budget_select(
                        df, budget, n_buckets=nb
                    ).collect()
                }
                assert got == want, (budget, nb)
    # degenerate: every score equal -> one bucket == global window
    flat = [(i, t, 7.0) for i, t, _ in rows]
    got = {
        (r["doc_id"], r["n_tokens"])
        for r in token_budget_select(
            spark.createDataFrame(flat, schema), 23
        ).collect()
    }
    assert got == _token_budget_reference(flat, 23) and got


def test_token_budget_select_null_scores_rank_last(spark):
    """NULL scores rank after every scored doc (Spark's desc() order), in
    their own bucket: they neither join the top bucket nor empty the
    result when every score is NULL.  A NULL id ranks first among equal
    scores (ascending order) and is kept like any other id."""
    from pdfminer_six_spark.ops.clean import token_budget_select

    schema = "doc_id long, text string, score double"
    texts = ["a b", "c", "d e f", "g"]  # 2, 1, 3, 1 tokens
    mixed = list(zip([1, 2, 3, 4], texts, [3.0, None, 1.0, 2.0]))
    got = token_budget_select(spark.createDataFrame(mixed, schema), 5)
    assert {r["doc_id"] for r in got.collect()} == {1, 4}
    all_null = [(i, t, None) for i, t, _ in mixed]
    got = token_budget_select(spark.createDataFrame(all_null, schema), 5)
    assert {r["doc_id"] for r in got.collect()} == {1, 2}
    # a NULL id ranks first among tied scores and survives the boundary
    # bucket's keep-id join
    tied = [(1, "a b", 3.0), (None, "c", 3.0), (3, "d e f", 3.0)]
    got = token_budget_select(spark.createDataFrame(tied, schema), 3)
    assert sorted(
        (r["doc_id"] is not None, r["doc_id"] or 0) for r in got.collect()
    ) == [(False, 0), (True, 1)]


def test_subword_tokenize_greedy_longest_match(spark):
    """Hand-computed greedy segmentation: longest piece wins at every
    position, unmatched characters emit <unk> and advance one char;
    ordering across words is document order."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import subword_tokenize

    vocab = ["low", "lower", "er", "l", "o", "w", "e", "r", "n"]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "Lower  low",   # normalize -> "lower low"
                    "newer",
                    "   ",          # token-less: drops out
                ],
            }
        )
    )
    rows = {r["doc_id"]: r for r in subword_tokenize(df, vocab).collect()}
    assert set(rows) == {1, 2}
    # "lower" -> greedy takes the 5-char piece, NOT low+er
    assert rows[1]["pieces"] == "lower low"
    assert (rows[1]["n_words"], rows[1]["n_pieces"], rows[1]["n_unk"]) == (2, 2, 0)
    # "newer": n,e,w,er (no 'ne'/'new' pieces); '<unk>' never triggered
    assert rows[2]["pieces"] == "n e w er"
    # unk fallback: '!' not in vocab
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "text": ["low!er"]})
    )
    r9 = subword_tokenize(df2, vocab).collect()[0]
    assert r9["pieces"] == "low <unk> er" and r9["n_unk"] == 1


def test_bpe_train_hand_computed_merge_sequence(spark):
    """Full BPE induction on the classic Sennrich-style corpus checked
    two ways: the FIRST merge hand-derived (five pairs tie at count 5 —
    (e,s),(l,o),(o,w),(s,t),(w,e) — and the (count desc, left, right)
    total order picks (e,s)), and the whole 6-merge sequence against an
    independent pure-Python reference BPE trainer written here."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import bpe_train

    freqs = {"low": 3, "lower": 2, "newest": 3, "widest": 2}

    def reference_bpe(freqs, n):
        words = {tuple(w): c for w, c in freqs.items()}
        merges = []
        for i in range(n):
            counts = {}
            for w, c in words.items():
                for a, b in zip(w, w[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + c
            if not counts:
                break
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((i, l, r, l + r, c))
            nxt = {}
            for w, cnt in words.items():
                out, j = [], 0
                while j < len(w):
                    if j + 1 < len(w) and w[j] == l and w[j + 1] == r:
                        out.append(l + r)
                        j += 2
                    else:
                        out.append(w[j])
                        j += 1
                nxt[tuple(out)] = nxt.get(tuple(out), 0) + cnt
            words = nxt
        return merges

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        # word freqs: low x3, lower x2, newest x3, widest x2
        "text": ["low low lower newest newest", "low lower newest widest widest"],
    }))
    rows = [
        (r["merge_idx"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, n_merges=6).orderBy("merge_idx").collect()
    ]
    assert rows[0] == (0, "e", "s", "es", 5)  # hand-derived tie-break
    assert rows == reference_bpe(freqs, 6)


def test_bpe_train_overlap_fold_is_greedy_scan(spark):
    """The fold-based within-word merge application must equal greedy
    left-to-right scan-and-skip on overlapping runs: 'aaa' under merge
    (a,a) becomes [aa, a] (NOT [a, aa] and NOT [aaa])."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import bpe_train

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": ["aaa aaa"],  # 'aaa' x2
    }))
    rows = [
        (r["merge_idx"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train(docs, n_merges=2).orderBy("merge_idx").collect()
    ]
    # iter 0: (a,a) count = 2 pairs/word * 2 = 4 -> 'aa'; words = [aa,a] x2
    # iter 1: (aa,a) count = 2 -> 'aaa'
    assert rows == [(0, "a", "a", "aa", 4), (1, "aa", "a", "aaa", 2)]


def test_bpe_train_min_pair_count_stops_early(spark):
    """min_pair_count terminates induction when the best pair is rarer
    than the floor; the merge table simply ends (no padding rows)."""
    import pandas as pd

    from pdfminer_six_spark.ops.textstats import bpe_train

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": ["ab ab cd"],
    }))
    out = bpe_train(docs, n_merges=5, min_pair_count=2).collect()
    # (a,b)=2 merges; then best remaining (c,d)=1 < floor -> stop
    assert [(r["merged"], r["pair_count"]) for r in out] == [("ab", 2)]


def test_train_order_sharded_equals_exact_and_is_permutation(spark):
    """The two-phase sharded global index must return the (id, pos,
    shard) rows of the exact order — ids sorted by md5(seed:id), computed
    here in python — regardless of input partitioning; pos must be a
    contiguous 0..n-1 permutation and shard the round-robin of pos."""
    import hashlib

    import pandas as pd

    from pdfminer_six_spark.ops.clean import train_order

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(101)),
        "text": ["t"] * 101,
    })).repartition(13)  # deliberately odd partitioning

    def reference(seed):
        ids = sorted(
            range(101),
            key=lambda i: (hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), i),
        )
        return {i: (p, p % 5) for p, i in enumerate(ids)}

    got = {
        r["doc_id"]: (r["pos"], r["shard"])
        for r in train_order(docs, seed="s1", n_shards=5).collect()
    }
    assert got == reference("s1")
    poss = sorted(p for p, _ in got.values())
    assert poss == list(range(101))
    # a different seed produces a different permutation
    other = {
        r["doc_id"]: (r["pos"], r["shard"])
        for r in train_order(docs, seed="s2", n_shards=5).collect()
    }
    assert other == reference("s2") and other != got


def test_incremental_minhash_exact_copy_near_dup_and_disjoint(spark):
    """Fuzzy incremental dedup against a historical signature index: an
    exact copy of a historical doc estimates Jaccard 1.0; a disjoint doc
    matches nothing; the estimator is the agreement fraction in
    1/16 granularity."""
    import pandas as pd

    from pdfminer_six_spark.ops.dedup import (
        incremental_minhash,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    hist = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 3],
        "text": [base, "completely different historical content about spark"],
    }))
    batch = spark.createDataFrame(pd.DataFrame({
        "doc_id": [2, 4, 6],
        "text": [
            base,                                   # exact copy of hist 1
            base + " with a small extra tail here", # near-dup of hist 1
            "unrelated new crawl text entirely",    # disjoint
        ],
    }))
    isig = minhash_signatures(hist)
    out = {
        (r["doc_id"], r["hist_id"]): r["est_jaccard"]
        for r in incremental_minhash(batch, isig, threshold=0.5).collect()
    }
    assert out[(2, 1)] == 1.0
    assert (4, 1) in out and 0.5 <= out[(4, 1)] < 1.0
    assert all(d != 6 for d, _ in out)
    # estimator granularity: multiples of 1/16
    assert all(abs(v * 16 - round(v * 16)) < 1e-9 for v in out.values())
    # the precomputed-signature fast path (batch_sig=) must be
    # row-identical to letting the op derive the batch signatures itself
    pre = {
        (r["doc_id"], r["hist_id"]): r["est_jaccard"]
        for r in incremental_minhash(
            batch, isig, threshold=0.5,
            batch_sig=minhash_signatures(batch),
        ).collect()
    }
    assert pre == out


def test_incremental_minhash_band_join_is_equi_join(spark):
    """The candidate stage must plan as an equi-join on (band, bucket) —
    never a broadcast nested loop / cartesian."""
    import pandas as pd

    from pdfminer_six_spark.ops.dedup import (
        incremental_minhash,
        minhash_signatures,
    )

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(20)),
        "text": [f"some text body number {i} with shared tokens" for i in range(20)],
    }))
    isig = minhash_signatures(docs.filter("doc_id % 2 = 1"))
    out = incremental_minhash(docs.filter("doc_id % 2 = 0"), isig)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_filter_no_false_negatives_and_reference_equal(spark):
    """Bloom incremental dedup: (1) one-sided error — every batch doc
    whose normalized text appeared in history MUST be maybe_seen (false
    negatives are impossible by construction); (2) the engine's verdicts
    equal an independent pure-Python Bloom built here from scratch."""
    import hashlib

    import pandas as pd

    from pdfminer_six_spark.ops.dedup import bloom_build, bloom_filter_batch

    M, K = 1 << 12, 5
    hist_texts = [f"historical document number {i} body" for i in range(40)]
    batch_texts = (
        hist_texts[:10]                       # exact repeats -> must hit
        + [f"Fresh  Crawl   {i} text" for i in range(30)]  # new
    )
    hist = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40), "text": hist_texts,
    }))
    batch = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(100, 140), "text": batch_texts,
    }))
    bloom = bloom_build(hist, m_bits=M, k=K)
    got = {
        r["doc_id"]: r["maybe_seen"]
        for r in bloom_filter_batch(batch, bloom, m_bits=M, k=K).collect()
    }

    # independent reference bloom (python ints, same md5 double hashing)
    def bits_of(text):
        norm = " ".join(text.strip().split()).lower()
        d = hashlib.md5(norm.encode()).hexdigest()
        h1, h2 = int(d[0:15], 16), int(d[16:31], 16)
        return {(h1 + i * h2) % M for i in range(K)}

    ref_bits = set()
    for t in hist_texts:
        ref_bits |= bits_of(t)
    ref = {
        100 + j: bits_of(t) <= ref_bits for j, t in enumerate(batch_texts)
    }
    assert got == ref
    assert all(got[100 + j] for j in range(10))  # no false negatives
    assert not all(got.values())  # fresh docs exist that pass through


def _temperature_mix_reference(rows, budget, seed="tmix-0"):
    """Pure-python temperature mix over (doc_id, source) rows: isqrt
    weights, integer targets capped at the source size, and per source
    the prefix in (md5(seed:id), id) order — a NULL id has a NULL key and
    ranks first.  Returns the survivors sorted."""
    import hashlib
    from math import isqrt

    by_src = {}
    for i, s in rows:
        by_src.setdefault(s, []).append(i)
    weights = {s: isqrt(len(ids)) for s, ids in by_src.items()}
    wsum = sum(weights.values()) or 1
    out = []
    for s, ids in by_src.items():
        target = min(len(ids), budget * weights[s] // wsum)
        ranked = sorted(
            ids,
            key=lambda i: (
                i is not None,
                "" if i is None else hashlib.md5(
                    f"{seed}:{i}".encode()
                ).hexdigest(),
                i or 0,
            ),
        )
        out += [(i, s) for i in ranked[:target]]
    return sorted(out, key=_mix_row_key)


def _mix_row_key(row):
    return (row[1], row[0] is not None, row[0] or 0)


def test_temperature_mix_targets_and_path_equality(spark):
    """Temperature mixing: sqrt-weighted integer targets flatten the
    big source (its share of the mix drops below its corpus share, the
    small source's share rises); survivors within each source are the
    md5-permutation prefix, computed here in python."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import temperature_mix

    rows = (
        [(i, "web") for i in range(400)]
        + [(1000 + i, "books") for i in range(25)]
    )
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source"])
    ).repartition(7)
    budget = 200
    got = sorted(
        ((r["doc_id"], r["source"])
         for r in temperature_mix(docs, budget_docs=budget).collect()),
        key=_mix_row_key,
    )
    assert got == _temperature_mix_reference(rows, budget)
    # integer targets: w = isqrt(400)=20, isqrt(25)=5; wsum=25
    # web: 200*20//25 = 160, books: 200*5//25 = 40 -> capped at 25
    n_web = sum(1 for _, s in got if s == "web")
    n_books = sum(1 for _, s in got if s == "books")
    assert (n_web, n_books) == (160, 25)
    # flattening: web is 94% of the corpus but only 86.5% of the mix
    assert n_web / (n_web + n_books) < 400 / 425


def test_temperature_mix_null_ids_rank_first(spark):
    """A NULL id has a NULL md5 key and ranks first in its source: kept
    whole, cut at the boundary, or dropped with a zero target."""
    from pdfminer_six_spark.ops.clean import temperature_mix

    rows = (
        [(i, "web") for i in range(400)] + [(None, "web")]
        + [(1000 + i, "books") for i in range(25)] + [(None, "books")]
        + [(5000 + i, "code") for i in range(4)] + [(None, "code")] * 2
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    for budget in (200, 30, 20, 3):
        got = sorted(
            ((r["doc_id"], r["source"])
             for r in temperature_mix(docs, budget_docs=budget).collect()),
            key=_mix_row_key,
        )
        assert got == _temperature_mix_reference(rows, budget), budget


@pytest.mark.skipif(
    not os.path.isdir(ORACLE_SF_DIR), reason=f"{ORACLE_SF_DIR} absent"
)
@pytest.mark.parametrize(
    "name", ["token_budget", "train_order", "temperature_mix"]
)
def test_clean_queries_match_duckdb_oracle(spark, name):
    """The registry entry of each bucketed/sharded clean op equals its
    DuckDB oracle SQL under scripts/check_oracles.py's canonical hash."""
    import importlib.util

    import duckdb

    from pdfminer_six_spark.queries import QUERIES

    spec = importlib.util.spec_from_file_location(
        "check_oracles",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts", "check_oracles.py",
        ),
    )
    oracles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracles)

    fn, sql = QUERIES[name]
    got = fn(spark, ORACLE_SF_DIR).toPandas()
    con = duckdb.connect()
    for t in oracles.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{ORACLE_SF_DIR}/{t}.parquet')"
        )
    want = con.sql(sql).df()
    assert len(got) == len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert oracles.table_hash(got) == oracles.table_hash(want)


def test_normalize_formatting_rules(spark):
    """Formatting normalizer on a hand-built string exercising every
    rule class: zero-widths deleted, curly quotes/dashes/ellipsis/nbsp
    folded to ASCII, C0 controls stripped, newline runs collapsed,
    trailing whitespace trimmed; n_changed counts deletions + rewrites;
    NULL text normalizes to ''."""
    import pandas as pd

    from pdfminer_six_spark.ops.clean import normalize_formatting

    noisy = (
        "\u200bsaid \u201chello\u2019s\u201d \u2014 fine\u2026"
        "\u00a0end \n\n\n\nnext line \t\n\x07done"
    )
    expect = (
        'said "hello\'s" - fine... end\n\nnext line\ndone'
    )
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": [noisy, None],
    }))
    rows = {r["doc_id"]: r for r in normalize_formatting(docs).collect()}
    assert rows[1]["formatted"] == expect
    # length delta covers deletions AND the ellipsis expansion; the
    # rewrite count covers the five 1:1 folds (ldquo rsquo rdquo emdash nbsp)
    assert rows[1]["n_changed"] == (len(noisy) - len(expect)) + 5
    assert rows[2]["formatted"] == "" and rows[2]["n_changed"] == 0


def test_kmeans_fixed_point_equals_numpy_replica(spark):
    """The integer-exact Lloyd's loop (ops.ann.kmeans_fixed_point) against
    a from-scratch numpy replica of the same fixed-point contract — a
    third independent implementation (the DuckDB unrolled-CTE oracle is
    the second): quantize once, exact integer distances, ties to the
    smallest cell, floor-division centroid means, emptied cells keep
    their previous centroid."""
    import numpy as np

    from pdfminer_six_spark.ops.ann import kmeans_fixed_point

    rng = np.random.RandomState(7)
    n, dim, k, iters, scale = 120, 6, 4, 3, 10**4
    vecs = rng.uniform(-0.5, 0.5, size=(n, dim)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cell"], r["dist_sq"])
        for r in kmeans_fixed_point(df, k=k, n_iters=iters).collect()
    }

    q = np.rint(vecs.astype("float64") * scale).astype("int64")
    cents = [q[i].copy() for i in range(k)]  # k smallest ids

    def assign(c):
        d = ((q[:, None, :] - np.stack(c)[None, :, :]) ** 2).sum(axis=2)
        cell = d.argmin(axis=1)  # argmin takes the first (smallest) index
        return cell, d[np.arange(n), cell]

    for _ in range(iters):
        cell, _d = assign(cents)
        for j in range(k):
            members = q[cell == j]
            if len(members):
                cents[j] = np.floor(
                    members.sum(axis=0) / len(members)
                ).astype("int64")
    cell, d = assign(cents)
    want = {i: (int(cell[i]), int(d[i])) for i in range(n)}
    assert got == want


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """Duplicate init vectors force an emptied cell (ties go to the
    smaller cell id, so the duplicate's cell gets no members): the loop
    must keep its previous centroid rather than NaN/drop it, and the
    final assignment still never uses the dead cell."""
    from pdfminer_six_spark.ops.ann import kmeans_fixed_point

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0])] + [
        (i, [1.0 + (i % 3) * 0.001, 1.0]) for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = kmeans_fixed_point(df, k=2, n_iters=3).collect()
    cells = {r["vec_id"]: r["cell"] for r in out}
    # iter 1: both centroids identical -> every vector ties to cell 0,
    # cell 1 empties and KEEPS [0,0]; iter 2: the origin points defect to
    # the kept [0,0] centroid — the dead cell revives instead of NaN-ing.
    assert cells[0] == cells[1] == 1
    assert {cells[i] for i in range(2, 12)} == {0}
    assert len(out) == 12


def test_kmeans_balanced_select_caps_and_determinism(spark):
    """Per-cell cap honored exactly; selection is a deterministic set
    (same rows on a second run)."""
    from pdfminer_six_spark.ops.ann import kmeans_balanced_select

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = kmeans_balanced_select(emb, k=8, n_iters=2, per_cell=7)
    got = sorted((r["vec_id"], r["cell"]) for r in a.collect())
    import collections

    per = collections.Counter(c for _, c in got)
    assert max(per.values()) <= 7
    again = sorted(
        (r["vec_id"], r["cell"])
        for r in kmeans_balanced_select(
            emb, k=8, n_iters=2, per_cell=7
        ).collect()
    )
    assert got == again


def test_trigram_lm_model_roundtrip_and_backoff_floor(spark):
    """trigram_lm_scores: a doc of entirely unseen words hits the add-one
    unigram floor at every position: avg_nll == 2*ln(1/0.4... spelled
    exactly as the op does.  (The c3 model's parquet round trip is
    test_bigram_lm_model_roundtrip[stupid_backoff].)"""
    import math

    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.retrieval import (
        trigram_lm_model,
        trigram_lm_scores,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    # floor: append one doc of never-seen tokens; every trigram position
    # takes the default coalesce branch
    unseen = spark.createDataFrame(
        [(999999, "zzqx1 zzqx2 zzqx3 zzqx4")], "doc_id long, text string"
    )
    scored = trigram_lm_scores(
        docs.unionByName(unseen), persist_model=False
    )
    row = scored.filter(F.col("doc_id") == 999999).collect()[0]
    c3 = trigram_lm_model(docs)
    t_total = c3.agg(F.sum("c3")).collect()[0][0]
    v = c3.select("w3").distinct().count()
    floor = -(
        math.log(0.4) + math.log(0.4) + math.log(1.0)
        - math.log(float(t_total) + float(v))
    )
    assert row["n_trigrams"] == 2
    assert abs(row["avg_nll"] - round(floor, 6)) < 2e-6


def test_pq_encode_topk_invariants(spark):
    """Product quantization: codes bounded by k; every query (itself in
    the corpus) retrieves itself among the rank-ties of its own code
    word (ADC distance to its own codeword is minimal); output is
    deterministic across runs."""
    from pdfminer_six_spark.ops.ann import pq_encode, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = []
    codes = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(emb, m=2, k=8, n_iters=2, centroids_out=cb).collect()
    }
    assert len(cb) == 2 and all(len(c) == 8 for c in cb)
    assert all(
        0 <= cj < 8 for code in codes.values() for cj in code
    ) and len(codes) == emb.count()

    top = pq_topk(emb, n_queries=3, topk=5, m=2, k=8, n_iters=2).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        # the query's own codeword achieves the minimum ADC distance, so
        # rank-1's code equals the query's code
        assert codes[rows[0]["vec_id"]] == codes[qid]
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]

    again = sorted(
        (r["query_id"], r["vec_id"], r["adist"], r["rank"])
        for r in pq_topk(emb, n_queries=3, topk=5, m=2, k=8, n_iters=2).collect()
    )
    assert again == sorted(
        (r["query_id"], r["vec_id"], r["adist"], r["rank"]) for r in top
    )


def test_distill_linear_filter_learns_and_is_reproducible(spark):
    """The 24-step fixed-point heavy-ball optimizer must (a) beat the
    majority baseline by a wide margin (the exact least-squares ceiling
    on this teacher is ~92%), (b) produce bit-identical weights across
    runs (the integer-exact contract), (c) agree between its driver-side
    margin arithmetic and the emitted BIGINT margins."""
    from pdfminer_six_spark.ops.textstats import distill_linear_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w1, w2 = [], []
    rows = distill_linear_filter(docs, weights_out=w1).collect()
    distill_linear_filter(docs, weights_out=w2)
    assert w1 == w2 and len(w1) == 65
    assert all(isinstance(v, int) for v in w1)

    n = len(rows)
    acc = sum(1 for r in rows if r["correct"]) / n
    majority = max(
        sum(1 for r in rows if r["label"] == 1),
        sum(1 for r in rows if r["label"] == -1),
    ) / n
    assert n == docs.count()
    assert acc > majority + 0.2, (acc, majority)
    assert acc > 0.85, acc
    # pred/correct are pure functions of the emitted margin
    for r in rows:
        assert r["pred_pos"] == (r["margin"] > 0)
        assert r["correct"] == (r["pred_pos"] == (r["label"] == 1))


def test_hll_distinct_shingles_estimate_accuracy(spark, docs):
    """The estimate lands within theoretical error (~3.3% rsd at p=10;
    generous 4-sigma bound) of the exact distinct count the same
    relation carries."""
    from pdfminer_six_spark.ops.textstats import hll_distinct_shingles

    # sort: since the r06 single-scan rewrite the per-n rows come out of
    # one groupBy (unordered, like any aggregate; the driver canonicalizes)
    out = sorted(hll_distinct_shingles(docs).collect(), key=lambda r: r["n"])
    assert [r["n"] for r in out] == [1, 2, 3]
    for r in out:
        assert r["v_zeros"] >= 0 and r["s_scaled"] > 0
        assert r["exact_distinct"] > 0
        assert abs(r["rel_err"]) < 0.14, (r["n"], r["rel_err"])
        assert (
            abs(r["hll_estimate"] / r["exact_distinct"] - 1) - 1e-9
            <= abs(r["rel_err"]) + 1e-4
        )


def test_shannon_entropy_hand_computed(spark):
    """char/word entropies equal the by-hand frequency-table values
    (bits, round-6); empty/null docs emit zero counts and 0.0."""
    import math

    from pdfminer_six_spark.ops.textstats import shannon_entropy

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, ""), (3, None), (4, "abc"), (5, "x X  x")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in shannon_entropy(df).collect()}

    def h(counts):
        n = sum(counts)
        return round(
            math.log2(n) - sum(c * math.log2(c) for c in counts) / n, 6
        )

    # doc 1 norm "aa bb aa": chars a:4 b:2 space:2; words aa:2 bb:1
    assert (got[1]["n_chars"], got[1]["char_entropy"]) == (8, h([4, 2, 2]))
    assert (got[1]["n_words"], got[1]["word_entropy"]) == (3, h([2, 1]))
    # empty and NULL text: zero counts, zero entropy
    for d in (2, 3):
        assert tuple(got[d])[1:] == (0, 0.0, 0, 0.0)
    # doc 4 "abc": 3 distinct chars -> log2(3); 1 word -> 0.0
    assert (got[4]["n_chars"], got[4]["char_entropy"]) == (3, h([1, 1, 1]))
    assert got[4]["word_entropy"] == 0.0
    # doc 5 norm "x x x": chars x:3 space:2; words x:3 (entropy 0)
    assert (got[5]["n_chars"], got[5]["char_entropy"]) == (5, h([3, 2]))
    assert (got[5]["n_words"], got[5]["word_entropy"]) == (3, 0.0)


def test_hash_embed_hand_computed_and_composes(spark):
    """Buckets/signs equal a hashlib replica, emb is L2-normalized (the
    .5-tie reason the driver row carries the integer vec instead), and
    the output composes with the embedding near-dup kernel."""
    import hashlib
    import math

    from pdfminer_six_spark.ops.ann import (
        embedding_near_duplicates,
        hash_embed,
    )

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, None), (4, "A  a B"), (5, "zz yy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in hash_embed(df, dims=16).collect()}

    def expect(tokens, dims=16):
        v = [0] * dims
        for t in tokens:
            h = hashlib.md5(t.encode()).hexdigest()
            v[int(h[:8], 16) % dims] += 1 if int(h[8], 16) % 2 == 0 else -1
        return v

    assert got[1]["vec"] == expect(["a", "a", "b"])
    # normalization: "a a b" has disjoint buckets -> counts 2 and 1
    nrm = math.sqrt(5.0)
    assert got[1]["emb"] == [x / nrm for x in got[1]["vec"]]
    assert abs(sum(x * x for x in got[1]["emb"]) - 1.0) < 1e-12
    # empty/null docs: zero tokens, all-zero vec AND emb (no NaN/div-0)
    for d in (2, 3):
        assert got[d]["n_tokens"] == 0
        assert got[d]["vec"] == [0] * 16 and got[d]["emb"] == [0.0] * 16
    # normalization is over the NORMALIZED text (case-folded, ws-collapsed)
    assert got[4]["vec"] == expect(["a", "a", "b"])
    # identical hashed vectors are cosine-1 near-dups via the standard kernel
    from pyspark.sql import functions as F

    emb = (
        hash_embed(df, dims=16)
        # zero vectors (empty docs) must be filtered before cosine ops:
        # ANSI mode makes the 0-norm division throw (op docstring)
        .filter(F.col("n_tokens") > 0)
        .select(F.col("doc_id").alias("vec_id"), F.col("emb").alias("embedding"))
    )
    pairs = embedding_near_duplicates(emb, threshold=0.99).collect()
    assert [(p["vec_a"], p["vec_b"]) for p in pairs] == [(1, 4)]


def test_pack_nosplit_hand_computed_and_invariants(spark):
    """Next-fit no-split packing: hand-checked walk incl. an oversize
    lead doc (occupies bin 0, no skipped index), empty docs, and the
    no-straddle invariant tok_offset + n_tokens <= capacity for every
    non-oversize doc."""
    from pdfminer_six_spark.ops.clean import pack_sequences_nosplit

    def words(k):
        return " ".join(["w"] * k)

    # one shard (n_shards=1): docs in id order with token counts
    # 12, 0, 3, 5, 9, 20 at capacity 10
    df = spark.createDataFrame(
        [
            (0, words(12)),  # oversize -> bin 0, offset 0
            (1, ""),         # 0 tokens -> bin 0 is full (12>10): new bin?
            (2, words(3)),
            (3, words(5)),
            (4, words(9)),
            (5, words(20)),  # oversize again
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences_nosplit(
            df, capacity=10, n_shards=1
        ).collect()
    }
    # walk: d0 used=0 -> place bin0 off0, used=12 (oversize)
    # d1 n=0: 12+0>10 and used!=0 -> bin1 off0, used=0
    # d2 n=3: used==0 -> place bin1 off0, used=3
    # d3 n=5: 3+5<=10 -> bin1 off3, used=8
    # d4 n=9: 8+9>10 -> bin2 off0, used=9
    # d5 n=20: 9+20>10 -> bin3 off0, used=20 (oversize)
    expect = {
        0: (0, 0, 12, True),
        1: (1, 0, 0, False),
        2: (1, 0, 3, False),
        3: (1, 3, 5, False),
        4: (2, 0, 9, False),
        5: (3, 0, 20, True),
    }
    for d, (seq, off, n, over) in expect.items():
        r = out[d]
        assert (
            r["seq_idx"],
            r["tok_offset"],
            r["n_tokens"],
            r["oversize"],
        ) == (seq, off, n, over), (d, r)
        if not over:
            assert r["tok_offset"] + r["n_tokens"] <= 10
    # sharding: results are a pure function of doc_id order within shard
    two = pack_sequences_nosplit(df, capacity=10, n_shards=2)
    assert {r["shard"] for r in two.collect()} == {0, 1}


def test_kn_lm_scores_equals_python_replica(spark):
    """Interpolated Kneser-Ney bigram scoring equals an independent
    dict-based replica (same discount, same add-one-floored
    continuation distribution, same train slice doc_id%10<8) —
    including an unseen-prefix backoff and an unseen bigram."""
    import math
    from collections import Counter

    from pdfminer_six_spark.ops.retrieval import kn_lm_scores

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the rug"),
        (2, "a cat and a dog"),
        (3, "the cat and the dog sat"),
        # doc 8 is OUT of the train slice (8 % 10 >= 8): its bigrams
        # include unseen pairs and the unseen prefix "bird"
        (8, "the bird sat on a mat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in kn_lm_scores(df).collect()}

    toks = {i: t.split() for i, t in rows}
    train = [i for i in toks if i % 10 < 8]
    cb = Counter(
        (w1, w2)
        for i in train
        for w1, w2 in zip(toks[i], toks[i][1:])
    )
    cu = Counter()
    n1f = Counter()
    cont = Counter()
    for (w1, w2), c in cb.items():
        cu[w1] += c
        n1f[w1] += 1
        cont[w2] += 1
    B = len(cb)
    V = len({w for p in cb for w in p})
    d = 0.75

    def prob(w1, w2):
        pc = (cont.get(w2, 0) + 1.0) / (B + V + 1.0)
        if w1 not in cu:
            return pc
        return (
            max(cb.get((w1, w2), 0) - d, 0.0) / cu[w1]
            + d * n1f[w1] / cu[w1] * pc
        )

    for i, t in toks.items():
        lps = [math.log(prob(w1, w2)) for w1, w2 in zip(t, t[1:])]
        nll = -sum(lps) / len(lps)
        assert got[i]["n_bigrams"] == len(lps)
        assert abs(got[i]["avg_nll"] - round(nll, 6)) < 2e-6, (i, nll)
        assert abs(got[i]["ppl"] - round(math.exp(nll), 6)) < 2e-5
    # sanity: the in-model docs score lower perplexity than the held-out
    assert got[8]["ppl"] > max(got[i]["ppl"] for i in train)

"""spark-submit job against catalog TABLES (the Iceberg deployment shape):
--tables switches all I/O to `spark.read.table` / `writeTo().append()` —
the DataSourceV2 API an Iceberg catalog plugs into.  The sandbox ships no
Iceberg jar, so the test drives the identical code path through Spark's
built-in session catalog (same read/write API, different catalog impl)."""

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pdfminer_six_spark.spark.session import build_session

    wh = tmp_path_factory.mktemp("warehouse")
    s = build_session(
        app_name="jobs-tables-test", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


def _args(**kw):
    """The extract job's parsed defaults (with ``--tables``), then ``kw``."""
    args = _load_extract_job().build_arg_parser().parse_args(
        ["--input", "", "--output", "", "--tables"]
    )
    vars(args).update(kw)
    return args


def test_job_reads_and_writes_catalog_tables(spark):
    import importlib.util, os

    spec = importlib.util.spec_from_file_location(
        "jobs_extract",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "extract.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas

    pdf = transcripts_pandas(n_convs=6)
    spark.createDataFrame(pdf).write.mode("overwrite").saveAsTable(
        "transcripts_in"
    )

    job.run(spark, _args(input="transcripts_in", output="extracted_out",
                         lineage="lineage_out"))
    out = spark.read.table("extracted_out")
    assert out.count() == len(pdf)
    assert set(out.select("status").distinct().toPandas().status) == {"ok"}
    assert spark.read.table("lineage_out").count() > 0

    # resume against the committed table: nothing left to do, 0 new rows
    job.run(spark, _args(input="transcripts_in", output="extracted_out",
                         lineage="lineage_out", resume=True))
    assert spark.read.table("extracted_out").count() == len(pdf)

    # resume with a missing output table falls back to a full run
    job.run(spark, _args(input="transcripts_in", output="extracted_fresh",
                         resume=True))
    assert spark.read.table("extracted_fresh").count() == len(pdf)


def test_bucketed_tables_join_without_shuffle(spark):
    """Bucketing — the co-located-join strategy for repeated big joins at
    100 TB: both sides written bucketed on the join key land their
    matching buckets in the same task, so the join plans with ZERO
    exchanges (only per-bucket sorts).  The same declaration shape is
    what Iceberg bucket-partitioning provides on a real cluster."""
    sf = "/root/testdata/sf0.01"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    customer = spark.read.parquet(f"{sf}/customer.parquet")
    (orders.write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("orders_b"))
    (customer.write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("customer_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("orders_b")
            .join(
                spark.table("customer_b"),
                spark.table("orders_b").o_custkey
                == spark.table("customer_b").c_custkey,
            )
            .groupBy("c_mktsegment")
            .count()
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("SortMergeJoin")[-1]
        # no shuffle feeds the join: the only Exchange allowed is the
        # one ABOVE it for the final segment aggregation
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part
        rows = {r["c_mktsegment"]: r["count"] for r in joined.collect()}
        assert sum(rows.values()) == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dedup_job_end_to_end(spark, tmp_path):
    """jobs/dedup.py: LSH pairs -> clusters -> survivors; survivors keep
    exactly one doc (the min id) per duplicate cluster and every
    pair-free doc."""
    import importlib.util, os

    spec = importlib.util.spec_from_file_location(
        "jobs_dedup",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "dedup.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    out = tmp_path / "dd_survivors"
    pairs_out = tmp_path / "dd_pairs"
    clusters_out = tmp_path / "dd_clusters"
    args = job.build_args([
        "--input", "/root/testdata/sf0.01/documents.parquet",
        "--output", str(out),
        "--pairs-output", str(pairs_out),
        "--clusters-output", str(clusters_out),
        "--method", "lsh",
        "--threshold", "0.6",
    ])
    stats = job.run(spark, args)
    assert stats["n_docs"] == 500
    assert stats["n_pairs"] == 25  # known near-dup pairs at sf0.01
    assert stats["n_survivors"] == stats["n_docs"] - stats["n_dropped"]
    surv = spark.read.parquet(str(out))
    clus = spark.read.parquet(str(clusters_out))
    # every cluster keeps exactly its min member
    kept = {r["doc_id"] for r in surv.select("doc_id").collect()}
    for row in clus.collect():
        if row["doc_id"] == row["cluster_id"]:
            assert row["doc_id"] in kept
        else:
            assert row["doc_id"] not in kept
    assert surv.count() == stats["n_survivors"]

    # --checkpoint-dir: identical stats via the fault-tolerant checkpoint
    # path (pairs AND the cluster loop's per-round cuts), and the dir is
    # actually written to
    ck = tmp_path / "dd_ckpt"
    args2 = job.build_args([
        "--input", "/root/testdata/sf0.01/documents.parquet",
        "--output", str(tmp_path / "dd_survivors2"),
        "--method", "lsh", "--threshold", "0.6",
        "--checkpoint-dir", str(ck),
    ])
    stats2 = job.run(spark, args2)
    assert stats2 == stats
    assert os.listdir(str(ck))


def test_clean_job_end_to_end(spark, tmp_path):
    """jobs/clean.py: PII redaction + paragraph dedup over a corpus with
    injected boilerplate; the boilerplate paragraph survives exactly once
    corpus-wide and PII tokens replace every address/number."""
    import importlib.util, os

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "jobs_clean",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "clean.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    boiler = "unsubscribe at any time"
    src = pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "text": [
                f"doc {i} body mail-me at user{i}@mail.example\n\n{boiler}"
                for i in range(6)
            ],
        }
    )
    inp = tmp_path / "clean_in.parquet"
    src.to_parquet(inp)
    out = tmp_path / "clean_out"
    stats_out = tmp_path / "clean_stats"
    args = job.build_args([
        "--input", str(inp),
        "--output", str(out),
        "--stats-output", str(stats_out),
    ])
    stats = job.run(spark, args)
    assert stats["n_docs"] == 6
    assert stats["total_n_email"] == 6
    assert stats["total_n_paras"] == 12
    assert stats["total_n_kept"] == 7  # 6 bodies + 1 surviving boilerplate
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got[0] == f"doc 0 body mail-me at <EMAIL>\n\n{boiler}"
    for i in range(1, 6):
        assert got[i] == f"doc {i} body mail-me at <EMAIL>"
    st = spark.read.parquet(str(stats_out)).collect()[0]
    assert st["n_docs"] == 6 and st["total_n_email"] == 6


def _load_extract_job():
    import importlib.util, os

    spec = importlib.util.spec_from_file_location(
        "jobs_extract",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "extract.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_split_pages_job_and_flag_conflicts(spark):
    """--split-pages through the job surface: oversized payloads take the
    page-group path end to end (table I/O), and the flag refuses to
    combine with --dedup-payloads/--images/--streaming."""
    import base64

    import pandas as pd
    import pytest

    from pdfminer_six_spark.datagen.transcripts import synth_pdf, transcripts_pandas

    job = _load_extract_job()
    p = transcripts_pandas(n_convs=4)
    big = base64.b85encode(
        synth_pdf([[f"p{i}"] for i in range(40)])
    ).decode()
    extra = pd.DataFrame(
        {
            "conv_id": ["conv_split_big"], "turn_idx": [0], "role": ["tool"],
            "text": [big], "tool": ["pdf"], "ts": [p["ts"].iloc[0]],
        }
    )
    spark.createDataFrame(
        pd.concat([p, extra], ignore_index=True)
    ).write.mode("overwrite").saveAsTable("split_in")

    job.run(spark, _args(input="split_in", output="split_out",
                         split_pages=len(big) // 2, pages_per_group=4))
    out = spark.read.table("split_out")
    assert out.count() == len(p) + 1
    brow = out.filter("conv_id = 'conv_split_big'").collect()[0]
    assert brow.status == "ok" and brow.n_pages == 40

    ap = job.build_arg_parser()
    for bad in (
        ["--dedup-payloads"], ["--images"],
        ["--streaming", "--checkpoint", "/tmp/x"],
        ["--pages-per-group", "0"],   # DIVIDE_BY_ZERO deep in the job
        ["--pages-per-group", "-3"],
    ):
        with pytest.raises(SystemExit):
            args = ap.parse_args(
                ["--input", "i", "--output", "o", "--split-pages", "1000"] + bad
            )
            job.run(spark, args, ap)


def test_resume_after_simulated_crash_recovers_exactly(spark):
    """Failure-injection for the resume contract (r03 VERDICT #5): commit
    output for only half the input (the simulated mid-job crash), re-run
    with --resume, and the final table must equal a clean single run
    row-for-row — the missing half computed exactly once, nothing
    duplicated."""
    from pyspark.sql import functions as F

    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas
    from pdfminer_six_spark.spark.pipeline import extract_transcripts

    job = _load_extract_job()
    pdf = transcripts_pandas(n_convs=10)
    src = spark.createDataFrame(pdf)
    src.write.mode("overwrite").saveAsTable("crash_in")

    convs = sorted(pdf["conv_id"].unique())
    half = set(convs[: len(convs) // 2])
    # the "crashed" run: only half the conversations were committed
    extract_transcripts(src.filter(F.col("conv_id").isin(half))).write.mode(
        "overwrite"
    ).saveAsTable("crash_out")
    committed = spark.read.table("crash_out").count()
    assert 0 < committed < len(pdf)

    job.run(spark, _args(input="crash_in", output="crash_out", resume=True))

    out = spark.read.table("crash_out")
    assert out.count() == len(pdf)
    # nothing ran twice
    assert (
        out.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        == 0
    )
    # row-level equality with a clean single run (wall_ms is timing noise)
    cols = ["conv_id", "turn_idx", "text", "n_pages", "n_chars", "status",
            "error"]
    clean = extract_transcripts(src).select(cols)
    got = out.select(cols)
    assert clean.exceptAll(got).count() == 0
    assert got.exceptAll(clean).count() == 0


def test_score_job_end_to_end(spark, tmp_path):
    """jobs/score.py: per-doc quality signals + combined keep verdict;
    --lm-scores joins bigram-LM columns (NULL for <2-token docs);
    --keep-only writes only survivors; --report-output emits the
    per-source corpus card."""
    import importlib.util, os

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "jobs_score",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "score.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    good = ("the cat and the dog sat with it for now and then some more "
            "words to pass every gopher band easily")
    src = pd.DataFrame(
        {
            "doc_id": list(range(4)),
            "text": [good, good + " again", "x", "!!! ??? ***"],
            "source": ["a", "a", "b", "b"],
        }
    )
    inp = tmp_path / "score_in.parquet"
    src.to_parquet(inp)
    out = tmp_path / "score_out"
    rep = tmp_path / "score_report"
    args = job.build_args([
        "--input", str(inp),
        "--output", str(out),
        "--report-output", str(rep),
        "--lm-scores",
    ])
    stats = job.run(spark, args)
    assert stats["n_docs"] == 4
    rows = {r["doc_id"]: r for r in spark.read.parquet(str(out)).collect()}
    # the two long docs pass gopher; the verdict column combines clf_keep
    for d in (0, 1):
        assert rows[d]["keep"] is True
        assert rows[d]["keep_doc"] == (rows[d]["keep"] and rows[d]["clf_keep"])
        assert rows[d]["avg_nll"] is not None and rows[d]["ppl"] > 0
    assert rows[2]["keep"] is False          # 1 token: fails token floor
    assert rows[2]["avg_nll"] is None        # no bigrams -> NULL LM score
    assert rows[3]["keep"] is False          # symbol ratio
    report = {r["source"]: r for r in spark.read.parquet(str(rep)).collect()}
    assert report["a"]["n_docs"] == 2 and report["b"]["n_docs"] == 2
    assert report["a"]["keep_rate"] > 0 and report["b"]["keep_rate"] == 0.0

    # --keep-only writes exactly the survivors
    out2 = tmp_path / "score_keep_only"
    args2 = job.build_args([
        "--input", str(inp), "--output", str(out2), "--keep-only",
    ])
    stats2 = job.run(spark, args2)
    kept = spark.read.parquet(str(out2)).count()
    assert stats2["n_docs"] == stats2["n_keep"] == kept
    assert kept == int(stats["n_keep"])


def test_score_job_lm_model_artifact(spark, tmp_path):
    """jobs/score.py --save-lm-model then --lm-model: the artifact run
    produces identical LM columns to the inline --lm-scores run."""
    import importlib.util, os

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "jobs_score2",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "score.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src = pd.DataFrame(
        {
            "doc_id": list(range(12)),
            "text": [f"alpha beta tok{i % 3} gamma delta" for i in range(12)],
            "source": ["s"] * 12,
        }
    )
    inp = tmp_path / "lm_in.parquet"
    src.to_parquet(inp)
    out1, out2 = tmp_path / "inline_out", tmp_path / "artifact_out"
    mdl = tmp_path / "lm_model"
    job.run(spark, job.build_args([
        "--input", str(inp), "--output", str(out1),
        "--lm-scores", "--save-lm-model", str(mdl),
    ]))
    job.run(spark, job.build_args([
        "--input", str(inp), "--output", str(out2), "--lm-model", str(mdl),
    ]))
    a = {r["doc_id"]: (r["avg_nll"], r["ppl"])
         for r in spark.read.parquet(str(out1)).collect()}
    b = {r["doc_id"]: (r["avg_nll"], r["ppl"])
         for r in spark.read.parquet(str(out2)).collect()}
    assert a == b and len(a) == 12 and all(v[0] is not None for v in a.values())


def _build_job():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "jobs_build",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "build.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def _check_lineage(spark, workdir, stats, stages):
    """The lineage holds one row per computed stage, with the stage's
    stats, in the build's four typed columns."""
    lineage = spark.read.parquet(str(workdir / "lineage"))
    assert lineage.dtypes == [("stage", "string"), ("n_rows", "bigint"),
                              ("wall_s", "double"),
                              ("committed_at", "timestamp")]
    rows = {r.stage: r for r in lineage.collect()}
    assert lineage.count() == len(rows) and sorted(rows) == sorted(stages)
    for s in stages:
        assert rows[s].n_rows == stats[s]["rows"]
        assert rows[s].committed_at is not None


def test_build_job_end_to_end_and_failure_injection_resume(
    spark, tmp_path, monkeypatch
):
    """jobs/build.py — the composed corpus build (extract -> clean ->
    dedup -> score -> pack) as one resumable artifact:

    1. uninterrupted run produces packed sequences with sane invariants
    2. a run crashed via --fail-after dedup, resumed with --resume,
       SKIPS the committed stages (same _SUCCESS mtime — nothing was
       recomputed or rewritten) and its final output is IDENTICAL to
       the uninterrupted run's
    3. the score stage releases the LM model it caches: every table
       ccnet_buckets hands back through ``model_handle`` is uncached once
       the run returns
    4. a run leaves no persisted RDD behind (the --shuffle-seed pack
       stage releases train_order's range partitions after its write)
    """
    import os

    from pyspark import StorageLevel

    from pdfminer_six_spark.ops import retrieval

    job = _build_job()
    handles = []
    ccnet_buckets = retrieval.ccnet_buckets

    def recording_ccnet_buckets(*a, **kw):
        handles.append(kw.get("model_handle"))
        return ccnet_buckets(*a, **kw)

    monkeypatch.setattr(retrieval, "ccnet_buckets", recording_ccnet_buckets)

    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas

    pdf = transcripts_pandas(n_convs=20)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    inp = tmp_path / "build_in.parquet"
    pdf.to_parquet(inp)

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    persisted0 = n_persisted()
    wd1, out1 = tmp_path / "wd1", tmp_path / "out1"
    stats1 = job.run(spark, job.build_args([
        "--input", str(inp), "--workdir", str(wd1), "--output", str(out1),
        "--seq-len", "128", "--mix-budget", "500",
        "--shuffle-seed", "bshuf",
    ]))
    assert len(handles) == 1 and handles[0]
    assert all(m.storageLevel == StorageLevel.NONE for m in handles[0])
    assert n_persisted() == persisted0
    assert all(stats1[s]["action"] == "computed" for s in job.STAGES)
    final = spark.read.parquet(str(out1)).toPandas()
    assert len(final) == stats1["final"]["rows"] > 0
    # packing invariants: offsets inside the bin, counted tokens positive
    assert (final.tok_offset >= 0).all() and (final.tok_offset < 128).all()
    # lineage carries one row per computed stage
    lineage = spark.read.parquet(str(wd1 / "lineage"))
    assert lineage.count() == len(job.STAGES)
    _check_lineage(spark, wd1, stats1, job.STAGES)
    # each stage's count comes from its write: it equals what it wrote
    for i, s in enumerate(job.STAGES, 1):
        written = spark.read.parquet(str(wd1 / f"{i:02d}_{s}")).count()
        assert stats1[s]["rows"] == written
        assert stats1[s]["jobs"] > 0
    assert stats1["final"]["jobs"] > 0

    # ---- crash after stage 3, then resume ----
    wd2, out2 = tmp_path / "wd2", tmp_path / "out2"
    argv = ["--input", str(inp), "--workdir", str(wd2),
            "--output", str(out2), "--seq-len", "128",
            "--mix-budget", "500", "--shuffle-seed", "bshuf"]
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(spark, job.build_args(argv + ["--fail-after", "dedup"]))
    committed = {p: os.path.getmtime(os.path.join(wd2, p, "_SUCCESS"))
                 for p in ("01_extract", "02_clean", "03_dedup")}
    assert not os.path.exists(out2)
    crashed = {s: {"rows": spark.read.parquet(
                   str(wd2 / f"{i:02d}_{s}")).count()}
               for i, s in enumerate(("extract", "clean", "dedup"), 1)}
    _check_lineage(spark, wd2, crashed, crashed)

    stats2 = job.run(spark, job.build_args(argv + ["--resume"]))
    assert n_persisted() == persisted0
    assert [stats2[s]["action"] for s in job.STAGES] == (
        ["skipped"] * 3 + ["computed"] * 3
    )
    for p, mtime in committed.items():
        assert os.path.getmtime(os.path.join(wd2, p, "_SUCCESS")) == mtime
    resumed = spark.read.parquet(str(out2)).toPandas()
    cols = sorted(final.columns)
    a = final[cols].sort_values(cols).reset_index(drop=True)
    b = resumed[cols].sort_values(cols).reset_index(drop=True)
    import pandas.testing as pdt

    pdt.assert_frame_equal(a, b)
    assert stats2["final"]["rows"] == len(resumed)


def test_build_stage_bookkeeping_runs_no_spark_job(spark, tmp_path):
    """A build stage runs exactly the jobs of a plain write of its
    DataFrame: its row count, lineage row and read-back take none."""
    from pyspark.sql import functions as F

    job = _build_job()
    sc = spark.sparkContext
    df = spark.range(500).groupBy((F.col("id") % 7).alias("k")).count()

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    b = job._Build(spark, job.build_args([
        "--input", "unused", "--workdir", str(tmp_path / "wd"),
        "--output", "unused",
    ]))
    staged = jobs_of("bookkeeping-stage", lambda: b.run_stage(1, "extract",
                                                              lambda: df))
    plain = str(tmp_path / "plain")
    plain_jobs = jobs_of("bookkeeping-plain", lambda: df.write.parquet(plain))
    assert staged == plain_jobs
    assert b.stats["extract"]["rows"] == 7
    assert b.stats["extract"]["jobs"] == staged


def test_group_jobs_makes_a_fixed_number_of_py4j_calls(spark):
    """Listing a job group's ids costs the same few py4j round trips
    whether the group ran two jobs or twenty."""
    job = _build_job()
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command

    def calls_for(n_jobs):
        group = f"group-jobs-{n_jobs}"
        sc.setJobGroup(group, group)
        try:
            for _ in range(n_jobs):
                spark.range(3).count()
            n = [0]

            def counting(*args, **kwargs):
                n[0] += 1
                return send(*args, **kwargs)

            client.send_command = counting
            try:
                ids = job._group_jobs(sc)
            finally:
                del client.send_command
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert ids == set(sc.statusTracker().getJobIdsForGroup(group))
        assert len(ids) >= n_jobs
        return n[0]

    assert calls_for(20) == calls_for(2)


def test_build_read_backs_carry_the_inferred_schema(spark, tmp_path,
                                                   monkeypatch):
    """Every stage of a build, and its final output, is read back with
    the schema ``spark.read.parquet`` would infer from what it wrote."""
    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas

    job = _build_job()
    read_back = job._read_back
    read_backs = {}

    def recording_read_back(spark_, path, df):
        out = read_back(spark_, path, df)
        read_backs[path] = out.schema
        return out

    monkeypatch.setattr(job, "_read_back", recording_read_back)
    pdf = transcripts_pandas(n_convs=8)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    inp = tmp_path / "in.parquet"
    pdf.to_parquet(inp)
    wd, out = tmp_path / "wd", tmp_path / "out"
    job.run(spark, job.build_args([
        "--input", str(inp), "--workdir", str(wd), "--output", str(out),
        "--seq-len", "128", "--mix-budget", "500",
    ]))
    stage_dirs = [str(wd / f"{i:02d}_{s}") for i, s in enumerate(job.STAGES, 1)]
    assert sorted(read_backs) == sorted(stage_dirs + [str(out)])
    for path, schema in read_backs.items():
        assert schema == spark.read.parquet(path).schema, path


def test_codegen_cache_holds_a_build_pass(tmp_path):
    """A second build pass in one session reuses the generated classes of
    the first instead of compiling them again.

    Runs ``scripts/profile_build.py`` in a fresh JVM, so the first pass
    compiles every class the build needs whatever this process's JVM has
    cached.  Under Spark's default 100-entry codegen cache the second
    pass recompiled about 230 classes, all of the first pass's.  What a
    steady pass still compiles is the few plan variants adaptive
    execution picks by stage completion order (a join planned broadcast
    in one pass and shuffled in the next)."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="2g")
    run = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "profile_build.py"),
         "--passes", "2", "--convs", "30"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    first, second = (json.loads(line) for line in run.stdout.splitlines())
    assert first["compiles"] > 100
    # ten two-pass sessions of 30 conversations compiled 0-22 classes in
    # the second pass (median 9) against 230 in the first; under the old
    # 100-entry cache the second pass compiled all 230 again
    assert second["compiles"] <= 0.2 * first["compiles"], (first, second)
    assert second["jobs"] == first["jobs"]


def test_every_test_session_builds_through_build_session():
    """The codegen cache is sized once per JVM, by the first session that
    generates code, and every test module shares this process's JVM: one
    session built some other way could leave the whole run on Spark's
    100-entry default."""
    import glob
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "*.py")):
        with open(path) as f:
            src = f.read()
        for other_way in ("SparkSession" ".builder", "SparkContext" "("):
            assert other_way not in src, path


def test_dedup_job_incremental_two_batches(spark, tmp_path):
    """jobs/dedup.py --method incremental: batch 1 seeds the index from
    empty history; batch 2 (half repeats of batch 1, half fresh) drops
    exactly the repeats against the written index; the updated index
    accumulates across batches."""
    import importlib.util, os

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "jobs_dedup_incr",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "dedup.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    b1 = tmp_path / "batch1_in"
    b2 = tmp_path / "batch2_in"
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["alpha one", "beta two", "alpha  ONE", "gamma three"],
    })).write.parquet(str(b1))  # 3 = normalized dup of 1 in-batch
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [10, 11, 12],
        "text": ["beta two", "delta four", "ALPHA one"],
    })).write.parquet(str(b2))  # 10, 12 repeat history; 11 fresh

    out1, idx1 = tmp_path / "surv1", tmp_path / "idx1"
    stats1 = job.run(spark, job.build_args([
        "--input", str(b1), "--output", str(out1),
        "--method", "incremental", "--index-output", str(idx1),
    ]))
    assert stats1 == {"n_docs": 4, "n_dropped": 1, "n_survivors": 3}

    out2, idx2 = tmp_path / "surv2", tmp_path / "idx2"
    stats2 = job.run(spark, job.build_args([
        "--input", str(b2), "--output", str(out2),
        "--method", "incremental",
        "--index", str(idx1), "--index-output", str(idx2),
    ]))
    assert stats2 == {"n_docs": 3, "n_dropped": 2, "n_survivors": 1}
    surv2 = {r["doc_id"] for r in spark.read.parquet(str(out2)).collect()}
    assert surv2 == {11}
    # index accumulates: 3 batch-1 fps + delta's fp
    assert spark.read.parquet(str(idx2)).count() == 4


def _load_job(name):
    import importlib.util, os

    spec = importlib.util.spec_from_file_location(
        f"jobs_{name}",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", f"{name}.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_index_job_artifacts_consumable_and_resume(spark, tmp_path):
    """jobs/index.py materializes every index/model artifact; each one
    must be CONSUMABLE — feeding it through the op that reads it equals
    the inline computation — and the failure-injection resume must skip
    committed stages."""
    import os

    from pyspark.sql import functions as F

    job = _load_job("index")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inp = tmp_path / "docs_in"
    docs.select("doc_id", "text").write.parquet(str(inp))
    wd = tmp_path / "idx"

    stats = job.run(spark, job.build_args([
        "--input", str(inp), "--workdir", str(wd),
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
    ]))
    assert all(stats[s]["action"] == "computed" for s in job.STAGES)

    from pdfminer_six_spark.ops.ann import kmeans_fixed_point
    from pdfminer_six_spark.ops.dedup import (
        incremental_exact,
        incremental_minhash,
        minhash_signatures,
    )
    from pdfminer_six_spark.ops.retrieval import ngram_lm_scores

    # artifact 1: fingerprint index drives incremental exact dedup
    batch = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    via_idx = incremental_exact(
        batch, spark.read.parquet(str(wd / "01_fingerprints"))
    )
    assert via_idx.count() == 0  # every batch doc is a known fingerprint

    # artifact 2: minhash signature index drives incremental fuzzy dedup
    sig_idx = spark.read.parquet(str(wd / "02_minhash"))
    inline_sig = minhash_signatures(docs)
    got = {
        (r["doc_id"], tuple(r["sig"])) for r in sig_idx.collect()
    }
    want = {
        (r["doc_id"], tuple(r["sig"])) for r in inline_sig.collect()
    }
    assert got == want
    hits = incremental_minhash(
        docs.filter(F.col("doc_id") < 50), sig_idx, threshold=0.99
    )
    assert hits.filter(F.col("doc_id") == F.col("hist_id")).count() == \
        docs.filter(F.col("doc_id") < 50).count()  # self-match at 0.99

    # artifact 3: LM model table scores identically to the inline path
    model = spark.read.parquet(str(wd / "04_lm"))
    via_model = ngram_lm_scores(docs, model=model)
    handle = []
    inline = ngram_lm_scores(docs, model_handle=handle)
    assert via_model.exceptAll(inline).count() == 0
    assert inline.exceptAll(via_model).count() == 0
    for cached in handle:
        cached.unpersist()

    # artifact 4: k-means assignment equals a fresh fixed-point run
    km_idx = {
        (r["vec_id"], r["cell"], r["dist_sq"])
        for r in spark.read.parquet(str(wd / "07_kmeans")).collect()
    }
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    km_fresh = {
        (r["vec_id"], r["cell"], r["dist_sq"])
        for r in kmeans_fixed_point(emb, k=8, n_iters=4).collect()
    }
    assert km_idx == km_fresh

    # failure-injection resume: crash after stage 3, resume skips 1-3
    wd2 = tmp_path / "idx2"
    argv = ["--input", str(inp), "--workdir", str(wd2),
            "--embeddings", "/root/testdata/sf0.001/embeddings.parquet"]
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(spark, job.build_args(argv + ["--fail-after", "bands"]))
    committed = {p: os.path.getmtime(os.path.join(wd2, p, "_SUCCESS"))
                 for p in ("01_fingerprints", "02_minhash", "03_bands")}
    stats2 = job.run(spark, job.build_args(argv + ["--resume"]))
    assert [stats2[s]["action"] for s in job.STAGES] == (
        ["skipped"] * 3 + ["computed"] * 4
    )
    for p, mtime in committed.items():
        assert os.path.getmtime(os.path.join(wd2, p, "_SUCCESS")) == mtime

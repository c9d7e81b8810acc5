"""Golden digests of the corpus build (jobs/build.py): every stage's rows,
pinned, at two core counts.

The resume test compares two runs of the build with each other and
perfbench's ``check_build`` checks invariants; this pins the rows
themselves.  ``run`` gets the job's default arguments on the synthetic
30-conversation mix (no reference samples, so the input is the same on
every host).  Each digest is a sha256 over a stage's rows, sorted, with
the columns in name order; the build is partition-invariant, so one
table holds at ``local[2]`` and ``local[4]``."""

import hashlib
import importlib.util
import os

import pytest

pyspark = pytest.importorskip("pyspark")

# stage directory -> (rows, sha256 of the sorted rows).  The dedup stage
# drops nothing on this mix, so its rows are the clean stage's; the final
# output is the pack stage's rows.
GOLDEN = {
    "01_extract": (283, "538da6969ff8bc845e1368bb6509ddced06b866f2d0ae5ebac84c582c3718370"),
    "02_clean": (283, "d1573f8a688d39a02589fd15915440c0bfc3c0dd8ff001ac42587a650c90d701"),
    "03_dedup": (283, "d1573f8a688d39a02589fd15915440c0bfc3c0dd8ff001ac42587a650c90d701"),
    "04_score": (189, "d2c7437edf8e42028b5eeb55bc9a5393e7d5fd85f0c80db1704f7d4c8f883709"),
    "06_pack": (189, "029eae21f9a66696018edd36611fbe8c53966b9e250965b39d9ef3a3cb87fada"),
    "final": (189, "029eae21f9a66696018edd36611fbe8c53966b9e250965b39d9ef3a3cb87fada"),
}


@pytest.fixture(scope="module", params=["local[2]", "local[4]"])
def spark(request):
    from pdfminer_six_spark.spark.session import build_session

    s = build_session(app_name="build-golden-test", master=request.param)
    yield s
    s.stop()


def _build_job():
    spec = importlib.util.spec_from_file_location(
        "jobs_build_golden",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "build.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def stage_digests(workdir: str) -> dict:
    """``(rows, sha256)`` of every stage directory under ``workdir``."""
    import pyarrow.parquet as pq

    out = {}
    for stage in sorted(os.listdir(workdir)):
        if stage[:2].isdigit() or stage == "final":
            t = pq.read_table(os.path.join(workdir, stage))
            cols = sorted(t.column_names)
            rows = sorted(
                map(repr, zip(*(t.column(c).to_pylist() for c in cols)))
            )
            h = hashlib.sha256(repr(cols).encode())
            for r in rows:
                h.update(r.encode())
            out[stage] = (len(rows), h.hexdigest())
    return out


def run_build(spark, tmp_path) -> dict:
    from pdfminer_six_spark.datagen.transcripts import transcripts_pandas

    pdf = transcripts_pandas(n_convs=30, use_reference_samples=False)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    inp = tmp_path / "build_in.parquet"
    pdf.to_parquet(inp)
    wd = tmp_path / "wd"
    job = _build_job()
    job.run(spark, job.build_args([
        "--input", str(inp), "--workdir", str(wd),
        "--output", str(wd / "final"),
    ]))
    return stage_digests(str(wd))


def test_build_stages_match_golden(spark, tmp_path):
    assert run_build(spark, tmp_path) == GOLDEN

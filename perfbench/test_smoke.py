"""Smoke test of the benchmark at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

For every workload, traced and untraced: the last stdout line is the
result object, every metric BENCHMARK.json names prints with its unit,
no turn fails and no process is left behind; traced runs report non-zero
event-log, replay and build-stage figures.  corpus_build's packed output
digest must repeat across runs of one seed, and without the program next
to it the benchmark must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402  (every workload run.py accepts)
SEED = 7
_results: dict = {}


def _session_pids() -> set:
    """Every process, exited but not yet reaped too, in this session."""
    sid, out = os.getsid(0), set()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid:  # field 6 of stat: the session id
                out.add(int(name))
    return out


def _run(cwd: str, workload: str, trace: int):
    """One benchmark run, which must leave no process behind it."""
    before = _session_pids()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    left = _session_pids() - before
    assert not left, f"processes left after the run: {sorted(left)}"
    return p


def _result(workload: str, trace: int):
    if (workload, trace) not in _results:
        p = _run(ROOT, workload, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        _results[workload, trace] = (
            json.loads(lines[-2])["record"], json.loads(lines[-1])
        )
    return _results[workload, trace]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    record, result = _result(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert record["failed_frac"] == 0
    want = BENCH["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in got.items()
    }
    assert all(isinstance(v["value"], (int, float)) for v in got.values())
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in want)
        return
    # the event log and the replay were read: their names still match
    value = {k: v["value"] for k, v in got.items()}
    kernel = ("core.pages", "core.parse_s") if workload == "pdf_scan" else ("core.html_s",)
    for name in ("pipeline.tasks", "pipeline.python_total_s",
                 "pipeline.rows_from_python", "scan.bytes_read") + kernel:
        assert value[name] > 0, name
    assert 0 < value["core.kernel_share"] <= 1.25
    if workload == "corpus_build":
        for stage in ("extract", "clean", "dedup", "score", "pack"):
            assert value[f"build.{stage}_s"] > 0, stage
            assert value[f"build.{stage}.rows"] > 0, stage


def test_corpus_build_digest_repeats_for_one_seed():
    digests = {
        p["digest"]
        for trace in (0, 1)
        for p in _result("corpus_build", trace)[0]["passes"]
    }
    assert len(digests) == 1


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_smoke")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, BENCH["workloads"][0]["name"], 0)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)

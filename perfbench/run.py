#!/usr/bin/env python3
"""The repo's benchmark: one workload per invocation, end to end.

    python3 perfbench/run.py --workload pdf_scan --seed 1 --seconds 10 --trace 0

Run it inside a repo checkout.  It generates the workload's inputs from the seed,
pins itself to K cores (the JVM and its Python workers inherit the mask),
starts a Spark session on ``local[K]``, stages the inputs as parquet,
warms up, then runs the workload's job back to back (a closed loop, one
job at a time from this one driver process) until ``--seconds`` have
passed and at least ``MIN_PASSES`` passes have run, checks every pass's
output, and prints one JSON result line last.  A ``{"record": ...}`` line
before it describes the run: the input mix, the staged layout, k, the
cores, nproc, load average, a host speed probe, versions and each pass.
Work files go to ``.perfbench_work/`` in the checkout and are removed at
the end.

Workloads (inputs in ``workloads.py``): ``pdf_scan`` runs
``extract_transcripts`` into parquet, ``corpus_build`` runs
``jobs/build.run``.

``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: JVM launch, session start, input staging and one warm-up
  pass, once per run;
* ``wall_s``: median pass time, input table to a completed parquet sink;
* ``turns_per_s``: input turns / ``wall_s``;
* ``cpu_s``: median CPU seconds per pass of the Spark JVM and its Python
  worker tree, read from /proc;
* ``peak_worker_rss_mb``: the largest Python worker high-water RSS.

Failed turns (see ``checks.py``) are reported as ``failed`` out of
``attempted`` turns, summed over passes; a pass whose job raises fails
every turn it held.

``--trace 1`` reports the per-layer metrics instead.  It measures half of
``--seconds`` untraced (at least one pass), then restarts the session with
the Spark event log on and measures the other half, replaying the
workload's payloads through the kernel in this process (``replay.py``)
after each traced pass.  ``trace.overhead`` is traced over untraced
``wall_s``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# local[K], and the number of cores the run is pinned to: fixed, not read
# from the host.  A build pass keeps about three cores busy.
K = 4
SHUFFLE_PARTITIONS = 8  # build_session's default on hosts of up to 8 cores
# Timed passes per untraced run, however long a pass takes.  At
# --seconds 10 a pdf_scan pass (3 to 5 s) still runs 3 times; a corpus_build
# pass (12 to 17 s) runs twice, which keeps a run near 65 to 85 s so that the
# whole set of runs fits its time limit when the host is slow.
MIN_PASSES = 2
BUILD_STAGES = ("extract", "clean", "dedup", "score", "pack")

WORKLOADS = ("pdf_scan", "corpus_build")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --- the workload's job -------------------------------------------------------


def _load_build_job():
    spec = importlib.util.spec_from_file_location(
        "perfbench_build_job", os.path.join(ROOT, "jobs", "build.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Job:
    """Runs one pass of a workload and checks its output."""

    def __init__(self, name: str, src: str) -> None:
        self.name = name
        self.src = src
        self.build = _load_build_job() if name == "corpus_build" else None
        self.expected: dict = {}

    def run(self, spark, out: str):
        """One pass into ``out``; returns jobs/build's stats or None."""
        from pdfminer_six_spark.spark.pipeline import extract_transcripts

        df = spark.read.parquet(self.src)
        if self.name == "pdf_scan":
            extract_transcripts(df).write.mode("overwrite").parquet(out)
            return None
        args = self.build.build_args([
            "--input", self.src, "--workdir", out,
            "--output", os.path.join(out, "final"),
        ])
        return self.build.run(spark, args)

    def oracle(self, rows) -> None:
        """Computes, on this host, what :meth:`failed` compares with."""
        import checks

        self.expected = checks.oracle(rows, K)

    def failed(self, out: str, stats) -> int:
        from checks import check_build, check_extract

        if self.name == "corpus_build":
            return check_build(out, self.expected, stats)
        return check_extract(out, self.expected)


# --- session ----------------------------------------------------------------


def start_session(event_log: str | None = None):
    from pdfminer_six_spark.spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # keep the JVM's temporary and perf-data files out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(
        app_name="perfbench", master=f"local[{K}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Bench:
    def __init__(self, workload: str, seed: int, size: str) -> None:
        import workloads

        self.workload = workload
        self.wl = workloads.GENERATORS[workload](seed, size)
        self.src = os.path.join(WORK, "input")
        self.job = Job(workload, self.src)
        self.spark = None
        self.n_pass = 0
        self.layout = {}

    # set-up: session start, staging, one warm-up pass
    def setup_once(self, event_log: str | None = None) -> dict:
        import workloads

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(event_log)
        t1 = time.perf_counter()
        self.layout.update(workloads.stage(self.wl, self.src))
        t2 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("warmup", "warmup")
        self.job.run(self.spark, os.path.join(WORK, "warmup"))
        t3 = time.perf_counter()
        shutil.rmtree(os.path.join(WORK, "warmup"), ignore_errors=True)
        return {"setup_s": t3 - t0, "session_s": t1 - t0,
                "stage_s": t2 - t1, "warmup_s": t3 - t2}

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def timed(self, seconds: float, min_passes: int,
              replay_kernel: bool = False) -> list:
        """Passes back to back until ``seconds`` have passed and at least
        ``min_passes`` have run.
        With ``replay_kernel``, the kernel replay follows each pass, outside
        the measured time, so both see the host at the same speed."""
        from procstat import TreeSampler, host_steal_s

        sampler = TreeSampler(self.jvm_pid()).start()
        passes = []
        t_end = time.perf_counter() + seconds
        try:
            while True:
                group = f"pass-{self.n_pass}"
                out = os.path.join(WORK, group)
                self.spark.sparkContext.setJobGroup(group, group)
                cpu0, steal0 = sampler.cpu_s(), host_steal_s()
                t0 = time.perf_counter()
                try:
                    stats, error = self.job.run(self.spark, out), None
                except Exception as e:  # the pass fails; every turn counts
                    stats, error = None, f"{type(e).__name__}: {e}"
                wall = time.perf_counter() - t0
                cpu = sampler.cpu_s() - cpu0
                passes.append({"group": group, "out": out, "wall_s": wall,
                               "cpu_s": cpu, "steal_s": host_steal_s() - steal0,
                               "stats": stats, "error": error})
                self.n_pass += 1
                if replay_kernel:
                    from replay import replay

                    t0 = time.perf_counter()
                    passes[-1]["replay"] = replay(self.wl.rows)
                    t_end += time.perf_counter() - t0
                if len(passes) >= min_passes and time.perf_counter() >= t_end:
                    break
            peak = sampler.peak_worker_rss_mb()
        finally:
            sampler.stop()
        for p in passes:
            p["peak_worker_rss_mb"] = peak
        return passes

    def check(self, passes: list) -> int:
        """Fills each pass's ``failed``; returns the total."""
        from checks import digest

        per_pass = len(self.wl.rows)
        first_digest = None
        for p in passes:
            if p["error"] is not None:
                p["failed"] = per_pass
            else:
                try:
                    p["failed"] = self.job.failed(p["out"], p["stats"])
                    if self.workload == "corpus_build":
                        p["digest"] = digest(os.path.join(p["out"], "final"))
                        first_digest = first_digest or p["digest"]
                        if p["digest"] != first_digest:
                            p["failed"] = per_pass
                except Exception as e:  # unreadable output: the pass failed
                    p["error"] = f"check: {type(e).__name__}: {e}"
                    p["failed"] = per_pass
            shutil.rmtree(p["out"], ignore_errors=True)
        return sum(p["failed"] for p in passes)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, end the JVM, and wait for it and for every
        process below this one: the Python daemon and its workers, which
        ``become_subreaper`` has made this process's children."""
        from procstat import end_children
        from pyspark import SparkContext

        try:
            self.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                SparkContext._gateway = SparkContext._jvm = None
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=60)
        finally:
            end_children()  # kills what is left after a grace period


# --- metrics ------------------------------------------------------------------


def end_to_end(setup: dict, passes: list, turns: int) -> dict:
    wall = _median([p["wall_s"] for p in passes])
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "turns_per_s": (turns / wall, "1/s"),
        "cpu_s": (_median([p["cpu_s"] for p in passes]), "s"),
        "peak_worker_rss_mb": (max(p["peak_worker_rss_mb"] for p in passes), "MB"),
    }


def per_layer(bench: Bench, setup, untraced, traced, log) -> dict:
    """Per-layer metrics; each timed quantity is a median over the traced
    passes.  Layers a workload does not run report 0."""
    import eventlog as ev
    import replay

    m = {
        "session.start_s": (setup["session_s"], "s"),
        "stage.write_s": (setup["stage_s"], "s"),
        "scan.input_files": (bench.layout["files"], "count"),
        "scan.input_partitions": (bench.layout["input_partitions"], "count"),
    }
    per_pass = []
    for p in traced:
        jobs = log.job_ids(p["group"])
        tasks = log.tasks_of(jobs)
        b = ev.boundary(log, tasks)
        tot = ev.task_totals(tasks)
        b.update(
            bytes_read=log.scan_bytes(jobs),
            executor_cpu_s=tot["executor_cpu_s"],
            gc_s=tot["gc_s"],
            cpu_util=p["cpu_s"] / (p["wall_s"] * K),
        )
        per_pass.append(b)

    def med(key):
        return _median([b[key] for b in per_pass])

    # workers start once per session, in its warm-up pass, and are reused
    boot_s = sum(t.python.get("boot_ms", 0) for t in log.tasks) / 1e3
    m.update({
        "scan.bytes_read": (med("bytes_read"), "bytes"),
        "pipeline.tasks": (med("tasks"), "count"),
        "pipeline.task_skew": (med("task_skew"), "ratio"),
        "pipeline.cpu_util": (med("cpu_util"), "ratio"),
        "pipeline.executor_cpu_s": (med("executor_cpu_s"), "s"),
        "pipeline.gc_s": (med("gc_s"), "s"),
        "pipeline.python_boot_s": (boot_s, "s"),
        "pipeline.python_init_s": (med("python_init_s"), "s"),
        "pipeline.python_total_s": (med("python_total_s"), "s"),
        "pipeline.bytes_to_python": (med("bytes_to_python"), "bytes"),
        "pipeline.bytes_from_python": (med("bytes_from_python"), "bytes"),
        "pipeline.rows_from_python": (med("rows_from_python"), "count"),
    })

    k = {key: _median([p["replay"][key] for p in traced]) for key in traced[0]["replay"]}
    for s in replay.STAGES + ("font",):
        m[f"core.{s}_s"] = (k[s], "s")
    m.update({
        "core.pages": (k["pages"], "count"),
        "core.chars": (k["chars"], "count"),
        "core.errors": (k["errors"], "count"),
        "core.kernel_share": (
            replay.kernel_self_s(k) / max(med("python_total_s"), 1e-9), "ratio"
        ),
    })

    m.update(build_layer(log, traced))

    t_wall = _median([p["wall_s"] for p in traced])
    u_wall = _median([p["wall_s"] for p in untraced])
    m["trace.wall_s"] = (t_wall, "s")
    m["trace.overhead"] = (t_wall / u_wall, "ratio")
    return m


def build_layer(log, traced) -> dict:
    """jobs/build per-stage numbers: times and rows from run()'s stats,
    shuffle, spill and skew from the event log, with each stage's jobs
    ending at its lineage append."""
    import eventlog as ev

    per_stage = {s: [] for s in BUILD_STAGES}
    for p in traced:
        stats = p["stats"] or {}
        pieces = []
        if stats:
            marker = os.path.join(p["out"], "lineage")
            pieces = log.split_after(log.job_ids(p["group"]), marker)
        # stats lists the stages in the order they ran
        computed = [s for s, st in stats.items() if st.get("action") == "computed"]
        by_stage = dict(zip(computed, pieces))
        for s in BUILD_STAGES:
            st = stats.get(s, {})
            tot = ev.task_totals(log.tasks_of(by_stage.get(s, [])))
            per_stage[s].append({
                "s": st.get("wall_s", 0.0), "rows": st.get("rows", 0),
                "shuffle_mb": tot["shuffle_mb"], "spill_mb": tot["spill_mb"],
                "task_skew": tot["task_skew"] if by_stage.get(s) else 0.0,
            })
    m = {}
    for s, vals in per_stage.items():
        m[f"build.{s}_s"] = (_median([v["s"] for v in vals]), "s")
        for key, unit in (("rows", "count"), ("shuffle_mb", "MB"),
                          ("spill_mb", "MB"), ("task_skew", "ratio")):
            m[f"build.{s}.{key}"] = (_median([v[key] for v in vals]), unit)
    clean_rows = m["build.clean.rows"][0]
    m["build.dedup.drop_frac"] = (
        1 - m["build.dedup.rows"][0] / clean_rows if clean_rows else 0.0, "ratio"
    )
    return m


# --- provenance -----------------------------------------------------------------


def _host_probe() -> float:
    """Seconds for a fixed in-process kernel job.  Compared across runs, it
    tells a slow host (other tenants, lower clock) from a slow program."""
    from pdfminer_six_spark.core.extract import extract_text
    from pdfminer_six_spark.datagen.transcripts import synth_pdf

    pdf = synth_pdf([[f"probe line {i} alpha bravo charlie" for i in range(30)]] * 2)
    extract_text(pdf)  # imports and resource loading stay outside the timing
    t0 = time.perf_counter()
    for _ in range(5):
        extract_text(pdf)
    return time.perf_counter() - t0


def _git_sha():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None  # a plain source checkout
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref[5:]):
                    return line.split()[0]
    return None


def _source_sha256() -> str:
    """Digest of the program's sources, for checkouts without git."""
    import hashlib

    h = hashlib.sha256()
    for base in ("pdfminer_six_spark", "jobs"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


# --- main -----------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdfminer_six_spark")):
        _fail(f"no pdfminer_six_spark package next to {HERE}; run from a repo checkout")
    sys.path[:0] = [HERE, ROOT]
    from procstat import become_subreaper

    become_subreaper()
    # a SIGTERM unwinds through the finally below, which ends every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    import pyspark

    # the driver, the JVM and its Python workers all run on K cores
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < K:
        _fail(f"local[{K}] needs {K} cores, this process may use {len(cpus)}")
    os.sched_setaffinity(0, cpus[:K])

    load_start = os.getloadavg()
    probe_start = _host_probe()
    bench = Bench(args.workload, args.seed, args.size)
    rows = bench.wl.rows
    # the traced run splits --seconds between untraced and traced passes
    half, min_passes = (args.seconds / 2, 1) if args.trace else (args.seconds, MIN_PASSES)
    try:
        bench.job.oracle(rows)  # before the session, so it is in no timing
        bench.wl.mix["pdf_pages"] = sum(
            bench.job.expected[r[0], r[1]][1].count("\f") for r in rows if r[4] == "pdf"
        )
        setup = bench.setup_once()
        bench.layout["input_partitions"] = (
            bench.spark.read.parquet(bench.src).rdd.getNumPartitions()
        )
        passes = bench.timed(half, min_passes)
        traced = []
        metrics = None
        if args.trace:
            log_dir = os.path.join(WORK, "eventlog")
            os.makedirs(log_dir)
            bench.setup_once(event_log=log_dir)
            traced = bench.timed(half, min_passes, replay_kernel=True)
            bench.stop()  # flushes the event log
            from eventlog import EventLog

            (log_file,) = os.listdir(log_dir)
            log = EventLog.read(os.path.join(log_dir, log_file))
            metrics = per_layer(bench, setup, passes, traced, log)
        else:
            metrics = end_to_end(setup, passes, len(rows))
        failed = bench.check(passes + traced)
    finally:
        bench.shutdown()
    attempted = len(rows) * len(passes + traced)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "k": K, "cpus": cpus[:K], "nproc": len(cpus),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "host_probe_s": [probe_start, _host_probe()],
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "git_sha": _git_sha(), "source_sha256": _source_sha256(),
        "mix": bench.wl.mix, "staged": bench.layout,
        "failed_frac": failed / attempted,
        "setup": setup,
        "passes": [{k: v for k, v in p.items() if k not in ("out", "group")}
                   for p in passes + traced],
    }
    print(json.dumps({"record": record}, default=str))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Where a corpus-build pass spends its time, pass by pass, in one session.

    python3 scripts/profile_build.py [--passes 3] [--seed 1] [--convs 100] [--cores 4]

Stages the benchmark's ``corpus_build`` chat mix (``perfbench/workloads.py``,
``--convs`` conversations, about ten turns each) as parquet in a temporary
directory, starts one ``build_session`` on ``local[--cores]`` and runs
``jobs/build.run`` ``--passes`` times back to back.  After each pass it
prints one JSON line:

* ``wall_s`` and ``jobs``: the pass's, and per stage (``stages``) as
  ``jobs/build.py``'s stats line reports them;
* ``compiles`` and ``compile_s``: the classes the JVM's code generator
  compiled during the pass (``CodegenMetrics``' compile counter) and the
  Janino time it spent on them;
* ``idle_s``: pass time during which no Spark job was running: driver-side
  analysis, planning and Python between jobs.

The first pass compiles the build's classes; a steady pass should compile
few or none.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def _load_build_job():
    spec = importlib.util.spec_from_file_location(
        "profile_build_job", os.path.join(ROOT, "jobs", "build.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _codegen(jvm) -> tuple:
    """(classes compiled, compile seconds) since the JVM started."""
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return (compiles.METRIC_COMPILATION_TIME().getCount(),
            gen.compileTime() / 1e9)


def _busy_s(sc, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] (epoch seconds) during which a job ran."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().jobsList(None)
    )
    spans = []
    for j in jobs:
        start, end = j.submissionTime(), j.completionTime()
        if start.isEmpty() or end.isEmpty():
            continue
        a = max(start.get().getTime() / 1e3, t0)
        b = min(end.get().getTime() / 1e3, t1)
        if a < b:
            spans.append((a, b))
    busy, reach = 0.0, t0
    for a, b in sorted(spans):
        if b > reach:
            busy += b - max(a, reach)
            reach = b
    return busy


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--convs", type=int, default=100)
    p.add_argument("--cores", type=int, default=4)
    args = p.parse_args(argv)

    import workloads

    from pdfminer_six_spark.spark.session import build_session

    build = _load_build_job()
    with tempfile.TemporaryDirectory(prefix="profile_build-") as work:
        src = os.path.join(work, "input")
        workloads.stage(workloads.chat_mix(args.seed, args.convs), src)
        spark = build_session(
            app_name="profile-build", master=f"local[{args.cores}]",
            # the workers import the package too, whatever the cwd
            extra_conf={"spark.executorEnv.PYTHONPATH": ROOT,
                        "spark.ui.showConsoleProgress": "false"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        try:
            for i in range(args.passes):
                out = os.path.join(work, f"pass{i}")
                sc.setJobGroup(f"profile-{i}", f"build pass {i}")
                c0, s0 = _codegen(sc._jvm)
                t0 = time.time()
                stats = build.run(spark, build.build_args([
                    "--input", src, "--workdir", out,
                    "--output", os.path.join(out, "final"),
                ]))
                t1 = time.time()
                c1, s1 = _codegen(sc._jvm)
                stages = {
                    k: {"wall_s": v.get("wall_s"), "jobs": v["jobs"]}
                    for k, v in stats.items() if "jobs" in v
                }
                print(json.dumps({
                    "pass": i,
                    "wall_s": round(t1 - t0, 3),
                    "jobs": sum(v["jobs"] for v in stages.values()),
                    "stages": stages,
                    "compiles": c1 - c0,
                    "compile_s": round(s1 - s0, 3),
                    "idle_s": round((t1 - t0) - _busy_s(sc, t0, t1), 3),
                }), flush=True)
        finally:
            spark.stop()


if __name__ == "__main__":
    main()

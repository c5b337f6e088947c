"""Benchmark entry point.

    python3 perfbench/run.py --workload reprocess_batch --seed 1 --seconds 5 --trace 0

Builds its inputs from the seed under ``.perfbench_work/`` in the
repository root (the directory above this file), drives the engine on
``local[<cpus>]`` with one session, checks every output, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see README.md). A detail line with workload-specific names
precedes it.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the script's own directory must not shadow top-level modules (trace, ...)
if sys.path and os.path.abspath(sys.path[0]) == os.path.join(ROOT, "perfbench"):
    sys.path.pop(0)
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

DRIVER_MEM = "2g"


def _environment(work: str, traced: bool) -> None:
    """Point every scratch location inside ``work`` and size the session
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files: every JVM (the launcher's too) would write
    # them under /tmp whatever its tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    args = [
        "--driver-memory", DRIVER_MEM,
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and its workers."""
    from pyspark import SparkContext

    from perfbench.measure import descendants, reap

    pids = descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
    reap(pids, timeout_s=20.0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[n for n, _ in metrics.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "meerpipe_spark", "plans", "pipeline.py")):
        print(f"the engine (meerpipe_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, bool(args.trace))

    from perfbench import workloads
    from perfbench.measure import RssSampler, cpu_ticks, loadavg

    ctx = workloads.Context(ROOT, work, args.seed, args.seconds, bool(args.trace), T0)
    ticks0, stolen0 = cpu_ticks()
    try:
        with RssSampler() as rss:
            e2e, layers, detail = getattr(workloads, args.workload)(ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    ticks1, stolen1 = cpu_ticks()

    e2e.update(setup_s=ctx.setup_s, peak_rss_mb=rss.peak_mb)
    detail.update(
        workload=args.workload, seed=args.seed, setup_s=ctx.setup_s,
        input_generation_s=ctx.gen_s, peak_rss_mb=rss.peak_mb,
        failed_frac=ctx.failed / max(ctx.attempted, 1),
        loadavg_start=ctx.load_start, loadavg_end=loadavg(),
        cpu_stolen_frac=(stolen1 - stolen0) / max(ticks1 - ticks0, 1),
    )
    if args.trace:
        catalogue = metrics.PER_LAYER
        values = {name: float(layers.get(name, 0.0)) for name, _, _ in catalogue}
    else:
        catalogue = [(n, u, b) for n, u, b, _ in metrics.END_TO_END]
        values = {name: e2e.get(name) for name, _, _ in catalogue}
    bad = [k for k, v in values.items() if v is None or not math.isfinite(v)]
    if bad:
        print(f"no value measured for {bad}", file=sys.stderr)
        return 1
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in catalogue},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

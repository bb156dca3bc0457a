#!/usr/bin/env python3
"""Benchmark of the cashflow lifecycle on a local Spark application.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads: serve and query_mix (see perfbench/README.md).
Each invocation is one Spark application on ``local[<cores>]`` in a fresh
JVM. It makes its inputs from ``--seed``, runs untimed warm-up rounds
(charged to ``setup_s``), then timed rounds until ``--seconds`` have
passed, checking every output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The exit code is 1 when an output check failed.

All files go under ``.perfbench/`` at the root of the checkout; the spans
of a traced run are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "time_series_prediction_spark"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be a non-negative integer")
    return args


def _isolate(work: Path) -> None:
    """Keep every file this run and its children write inside ``work``,
    and put the checkout on the Python workers' path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVMs' perf-data files go to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _start_session(work: Path, cores: int, name: str):
    from time_series_prediction_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # keep every job, stage and SQL execution for the status API
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for every process this run started."""
    from pyspark import SparkContext

    from perfbench.sparkstats import descendants

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := descendants()) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, 15)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
    for pid in left:
        os.kill(pid, 9)


class Runner:
    def __init__(self, workload, ctx, tracer) -> None:
        from perfbench.tracing import NullTracer

        self.w, self.ctx, self.tracer = workload, ctx, tracer
        self.null = NullTracer()
        self.rounds = 0
        self.units = 0

    def phase(self, label: str, seconds: float, traced: bool, min_rounds: int = 1) -> list:
        """Rounds until ``seconds`` have passed and ``min_rounds`` ran."""
        from perfbench.sparkstats import python_cpu_s
        from perfbench.workloads import Unit

        ctx, sc = self.ctx, self.ctx.spark.sparkContext
        ctx.tracer = self.tracer if traced else self.null
        units = []
        t_end = time.perf_counter() + seconds
        for k in itertools.count(1):
            r = self.rounds
            self.rounds += 1
            for name, run_unit in self.w.round(ctx, r):
                group = f"{label}{self.units}"
                self.units += 1
                sc.setJobGroup(group, name)
                ctx.tracer.unit = group
                cpu0 = python_cpu_s() if self.tracer.enabled else 0.0
                try:
                    with ctx.tracer.span("unit"):
                        u = run_unit()
                except Exception:
                    traceback.print_exc()
                    ctx.release()
                    u = Unit(name, float("nan"), 0, False)
                if self.tracer.enabled:
                    u.counters["python.cpu_s"] = python_cpu_s() - cpu0
                u.group, u.round = group, r
                units.append(u)
            if k >= min_rounds and time.perf_counter() >= t_end:
                return units


def _end_to_end(units, setup_s: float, peak_rss_mb: float) -> dict:
    good = [u for u in units if u.ok]
    if not good:
        return {}
    lat = [u.seconds for u in good]
    by_round: dict[int, list] = {}
    for u in good:
        by_round.setdefault(u.round, []).append(u)
    throughput = statistics.median(
        sum(u.items for u in us) / sum(u.seconds for u in us)
        for us in by_round.values()
    )
    return {
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


def run(args) -> dict:
    from perfbench.sparkstats import descendants_peak_rss_mb
    from perfbench.tracing import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS, Context

    state = ROOT / ".perfbench"
    for old in state.glob("run-*"):  # left by runs that were killed
        if not Path("/proc", old.name[4:]).exists():
            shutil.rmtree(old, ignore_errors=True)
    work = state / f"run-{os.getpid()}"
    _isolate(work)
    cores = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload]()
    tracer = Tracer() if args.trace else NullTracer()
    ctx = Context(None, work, state / "cache", args.seed, tracer)

    with tracer.span("session.start"):
        ctx.spark = _start_session(work, cores, workload.name)
    try:
        runner = Runner(workload, ctx, tracer)
        ctx.spark.sparkContext.setJobGroup("setup", "setup")
        workload.setup(ctx)
        warm = runner.phase("w", 0, traced=False, min_rounds=workload.warmup_rounds)
        setup_s = time.perf_counter() - T_START - ctx.check_s

        units = runner.phase("u", args.seconds, traced=False)
        timed = list(units)
        if args.trace:
            # traced pipeline units run other plans (cached stages)
            warm += runner.phase("v", 0, traced=True)
            traced = runner.phase("t", args.seconds, traced=True)
            timed += traced

        if args.trace:
            from perfbench.report import per_layer, summary
            from perfbench.sparkstats import SparkStatus

            metrics = per_layer(
                tracer, units, traced, SparkStatus(ctx.spark).by_group(), cores
            )
            print(summary(tracer, units, traced), file=sys.stderr)
            traces = state / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.write(str(traces / f"{workload.name}-seed{args.seed}.json"))
        else:
            metrics = _end_to_end(units, setup_s, descendants_peak_rss_mb())
    finally:
        _stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not u.ok for u in warm + timed)
    return {
        "correct": failed == 0,
        "attempted": len(warm) + len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of a traced run.

A traced run has an untraced timed phase followed by a traced one, both
over the same workload. Span self times come from the traced units; engine
counters and latencies come from the untraced units, which run exactly the
plans a ``--trace 0`` run times. Every value is a mean per unit (pipeline
iteration or query) unless its name says p50. A layer that does no work in
the timed units but does during set-up (the table a ``serve`` run writes
before it starts, for instance) reports its set-up value instead.
"""

from __future__ import annotations

import statistics

from perfbench.sparkstats import GroupStats
from perfbench.workloads import FAMILIES

# span names; the metric is "<name>_s"
SPAN_LAYERS = (
    "session.start",
    "generate.gen",
    "io.write",
    "io.read",
    "preprocess.clean",
    "preprocess.pre_processing",
    "preprocess.post_metrics",
    "scoring.score",
    "train.feed",
    "cnn.step",
    "plans.build",
    "plans.exec",
)


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _durations(tracer, name: str, groups: list[str]) -> list[list[float]]:
    """Durations of the ``name`` spans per unit of ``groups``, or of the
    set-up when no unit has any."""
    by_unit: dict[str, list[float]] = {g: [] for g in groups}
    for s in tracer.spans:
        if s.name == name and s.unit in by_unit:
            by_unit[s.unit].append(s.end - s.start)
    if any(by_unit.values()):
        return list(by_unit.values())
    return [[s.end - s.start for s in tracer.spans if s.name == name and s.unit == "setup"]]


def per_layer(tracer, untraced: list, traced: list, stats: dict, cores: int) -> dict:
    self_times = tracer.self_times()
    setup_self = self_times.get("setup", {})
    traced_groups = [u.group for u in traced]
    m: dict[str, tuple[float, str]] = {}

    for layer in SPAN_LAYERS:
        per_unit = [self_times.get(g, {}).get(layer, 0.0) for g in traced_groups]
        value = _mean(per_unit) if any(per_unit) else setup_self.get(layer, 0.0)
        m[f"{layer}_s"] = (value, "s")

    m["cnn.forward_s"] = (_mean(u.counters.get("cnn.forward_s", 0.0) for u in traced), "s")
    steps = _durations(tracer, "cnn.step", traced_groups)
    flat = [d for unit in steps for d in unit]
    m["cnn.step_p50_ms"] = (statistics.median(flat) * 1e3 if flat else 0.0, "ms")
    m["train.batches"] = (_mean(len(unit) for unit in steps), "count")

    unit_stats = [stats.get(u.group, GroupStats()) for u in untraced]
    setup_stats = stats.get("setup", GroupStats())

    def engine(fn) -> float:
        return _mean(fn(s) for s in unit_stats)

    def layer_engine(fn) -> float:
        return engine(fn) or fn(setup_stats)

    def py_bytes(node: str, direction: str):
        return lambda s: s.py_bytes.get(f"{node}.{direction}", 0.0)

    m["io.bytes_read"] = (layer_engine(lambda s: s.bytes_read), "bytes")
    m["io.bytes_written"] = (layer_engine(lambda s: s.bytes_written), "bytes")
    m["scoring.py_bytes_sent"] = (layer_engine(py_bytes("ArrowEvalPython", "sent")), "bytes")
    m["scoring.py_bytes_returned"] = (
        layer_engine(py_bytes("ArrowEvalPython", "returned")), "bytes",
    )
    m["generate.py_bytes_returned"] = (
        layer_engine(py_bytes("MapInPandas", "returned")), "bytes",
    )

    for family in FAMILIES:
        lat = [u.seconds for u in untraced if u.family == family and u.ok]
        m[f"{family}.p50_s"] = (statistics.median(lat) if lat else 0.0, "s")

    m["spark.jobs"] = (engine(lambda s: s.jobs), "count")
    m["spark.stages"] = (engine(lambda s: s.stages), "count")
    m["spark.tasks"] = (engine(lambda s: s.tasks), "count")
    m["spark.failed_tasks"] = (engine(lambda s: s.failed_tasks), "count")
    m["spark.run_s"] = (engine(lambda s: s.run_s), "s")
    m["spark.cpu_s"] = (engine(lambda s: s.cpu_s), "s")
    m["spark.gc_s"] = (engine(lambda s: s.gc_s), "s")
    m["spark.shuffle_write_bytes"] = (engine(lambda s: s.shuffle_write_bytes), "bytes")
    m["spark.shuffle_read_bytes"] = (engine(lambda s: s.shuffle_read_bytes), "bytes")
    m["spark.spill_bytes"] = (engine(lambda s: s.spill_bytes), "bytes")
    m["spark.driver_gap_s"] = (
        _mean(u.seconds - s.stage_busy_s for u, s in zip(untraced, unit_stats)), "s",
    )
    python_cpu = [u.counters.get("python.cpu_s", 0.0) for u in untraced]
    m["python.cpu_s"] = (_mean(python_cpu), "s")
    wall = sum(u.seconds for u in untraced)
    cpu = sum(s.cpu_s for s in unit_stats) + sum(python_cpu)
    m["spark.cpu_util"] = (cpu / (wall * cores) if wall else 0.0, "ratio")
    m["trace.overhead_s"] = (
        statistics.median(u.seconds for u in traced)
        - statistics.median(u.seconds for u in untraced),
        "s",
    )
    return m


def summary(tracer, untraced: list, traced: list) -> str:
    """Human-readable self-time table for standard error."""
    self_times = tracer.self_times()
    lines = ["layer self time (s): set-up | mean per traced unit"]
    layers = sorted({name for unit in self_times.values() for name in unit})
    for layer in layers:
        per_unit = _mean(self_times.get(u.group, {}).get(layer, 0.0) for u in traced)
        lines.append(
            f"  {layer:28s} {self_times.get('setup', {}).get(layer, 0.0):9.4f} | {per_unit:9.4f}"
        )
    wall_u = statistics.median(u.seconds for u in untraced)
    wall_t = statistics.median(u.seconds for u in traced)
    lines.append(
        f"unit wall median: untraced {wall_u:.4f} s, traced {wall_t:.4f} s,"
        f" tracing overhead {wall_t - wall_u:+.4f} s ({(wall_t - wall_u) / wall_u:+.1%})"
    )
    return "\n".join(lines)

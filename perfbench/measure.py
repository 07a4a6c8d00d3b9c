"""One run of one workload: inputs, set-up, warm-up, the timed window
and its metrics. A traced run also alternates traced and untraced ops
in its window and then runs the per-layer sweep (layers.py)."""

from __future__ import annotations

import os
import time
import traceback

from procstat import RssSampler, steal_s, tree_cpu
from stats import median, tail
from workloads import WORKLOADS, OpResult


def _kernels_built() -> None:
    """Compile the optional C kernels into the native cache now, so the
    one-time build lands in input generation, not in set-up."""
    from perl_data_validate_sanctions_spark.sources import (
        jpeg_scan_c, mse_c, png_unfilter_c,
    )

    jpeg_scan_c.available()
    png_unfilter_c.available()
    mse_c.available()


class Samples:
    def __init__(self):
        self.walls: list[float] = []
        self.cpu: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, wall, cpu, res) -> None:
        self.attempted += 1
        self.walls.append(wall)
        self.cpu.append(cpu)
        if res.ok:
            self.items += res.items
        else:
            self.failed += 1
            self.notes.append(res.note)


def _one_op(wl, pid: int, samples: Samples) -> None:
    c0 = tree_cpu(pid)["total"]
    t0 = time.perf_counter()
    try:
        wall, res = wl.op()
    except Exception:  # a failed op is counted, and the run goes on
        wall, res = time.perf_counter() - t0, OpResult(0, False, traceback.format_exc(limit=3))
    samples.add(wall, tree_cpu(pid)["total"] - c0, res)


def warm_up(wl, pid: int) -> Samples:
    """The workload's fixed number of warm-up ops. The count comes from
    measured wall series; a fixed count starts every window at the same
    point of warm-up, so runs compare like with like."""
    s = Samples()
    while s.attempted < wl.warm:
        _one_op(wl, pid, s)
    return s


def run(ctx, workload: str, t_start: float, session_start_s: float):
    wl = WORKLOADS[workload](ctx)
    pid = os.getpid()
    art: dict = {"workload": workload, "seed": ctx.seed, "seconds": ctx.seconds,
                 "trace": ctx.trace, "session_start_s": session_start_s}
    with RssSampler(pid) as rss:
        t = time.perf_counter()
        wl.inputs()
        _kernels_built()
        art["inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.open()
        art["open_s"] = time.perf_counter() - t
        warm = warm_up(wl, pid)
        setup_s = time.perf_counter() - t_start - art["inputs_s"]
        setup_peak = rss.peak
        rss.reset()
        steal0, t_window = steal_s(), time.perf_counter()
        if ctx.trace:
            window, traced, tracer, pools = _traced_window(ctx, wl, pid)
        else:
            window = Samples()
            t0 = time.perf_counter()
            while window.attempted == 0 or time.perf_counter() - t0 < ctx.seconds:
                _one_op(wl, pid, window)
        peak = rss.peak
    # share of the machine's vCPU time the hypervisor took away during
    # the window: a noisy-neighbour reading, recorded and never used
    art["window_steal_frac"] = (steal_s() - steal0) / (
        ctx.cores * (time.perf_counter() - t_window))
    art["whole_run_peak_rss_mb"] = max(setup_peak, peak) / 1e6

    art.update(ctx.record)
    art["warm_up_walls_s"] = warm.walls
    art["op_walls_s"] = window.walls
    art["op_cpu_s"] = window.cpu
    art["op_tail"] = tail(window.walls)
    art["failures"] = warm.notes + window.notes
    correct = warm.failed == 0 and window.failed == 0
    if ctx.trace:
        import layers

        art["traced_op_walls_s"] = traced.walls
        art["spans"] = tracer.dump()
        art["span_totals"] = tracer.by_name()
        art["suite_pools"] = pools
        metrics, art["sweep"], sweep_failures = layers.sweep(ctx, wl)
        art["failures"] += sweep_failures
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["trace.overhead_pct"] = (
            100.0 * (median(traced.walls) / median(window.walls) - 1.0), "%")
        attempted = window.attempted + traced.attempted
        failed = window.failed + traced.failed
        correct = correct and traced.failed == 0 and not sweep_failures
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (1e3 * median(window.walls), "ms"),
            "items_per_s": (window.items / sum(window.walls), "1/s"),
            "cpu_ms_per_item": (1e3 * sum(window.cpu) / max(window.items, 1), "ms"),
            "peak_rss_mb": (peak / 1e6, "MB"),
        }
        attempted, failed = window.attempted, window.failed
    art["environment"] = environment(ctx, wl)
    art["readiness_mpxs_after"] = readiness_mpxs()
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    art["result"] = result
    return result, art


def environment(ctx, wl) -> dict:
    import platform

    import pyspark

    from perl_data_validate_sanctions_spark.plans.runner import resolve_match_strategy
    from perl_data_validate_sanctions_spark.sources import (
        jpeg_scan_c, mse_c, png_unfilter_c, webp_sys,
    )

    return {
        "rows": getattr(wl, "n_rows", None),
        "dimension_entries": wl.n_entries,
        "match_strategy": resolve_match_strategy(wl.n_entries),
        "kernels": {
            "jpeg_scan_c": jpeg_scan_c.available(),
            "png_unfilter_c": png_unfilter_c.available(),
            "mse_c": mse_c.available(),
            "webp_sys": webp_sys.available(),
        },
        "cores": ctx.cores,
        "heap": ctx.heap,
        "spark_version": pyspark.__version__,
        "python": platform.python_version(),
        "session_conf": ctx.conf,
    }


def readiness_mpxs(seconds: float = 0.5) -> float:
    """Single-thread render-kernel Mpx/s: shows a throttled machine
    window in the artifact. Recorded only, never used as a gate."""
    import numpy as np

    from perl_data_validate_sanctions_spark.sources import codec

    seeds = np.arange(64, dtype=np.uint64)
    wh = 640 * 480
    codec.render_batch(seeds, wh, slot="probe")
    t0 = time.perf_counter()
    it = 0
    while time.perf_counter() - t0 < seconds:
        codec.render_batch(seeds, wh, slot="probe")
        it += 1
    return it * 64 * wh / (time.perf_counter() - t0) / 1e6


def _traced_window(ctx, wl, pid):
    """Alternate untraced and traced ops for the window; a traced op
    records spans at every wrapped layer boundary and the Spark stage
    metrics of its jobs, grouped by scheduler pool (the runner runs each
    check in a pool named after it)."""
    import layers
    from spans import StageReader, Tracer

    reader = StageReader(ctx.spark.sparkContext)
    tracer = Tracer()
    plain, traced = Samples(), Samples()
    pools: list[dict] = []
    t0 = time.perf_counter()
    while traced.attempted == 0 or time.perf_counter() - t0 < ctx.seconds:
        _one_op(wl, pid, plain)
        layers.wrap_layers(tracer)
        lo = reader.last_job_id() + 1
        tracer.op = traced.attempted
        try:
            with tracer.span("op"):
                _one_op(wl, pid, traced)
        finally:
            tracer.unwrap_all()
        pools.append(reader.by_pool(reader.stages(range(lo, reader.last_job_id() + 1))))
    return plain, traced, tracer, pools

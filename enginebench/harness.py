"""One benchmark run: set up, warm up, measure, check, report.

Closed loop: one process, one job at a time, ``local[<cores>]``.
Set-up is repeated on the warm JVM and reported as a median; warm-up runs
passes for a minimum time and then until pass time levels off (or a
time cap); the measured window runs whole passes, with the JVM and
Python collectors and a cache clear between passes, and reports medians
over its passes and units.
"""

from __future__ import annotations

import gc
import os
import sys
import time
import traceback

from . import host
from .spans import STAGE_KEYS, Tracer
from .stats import hd_median, median, percentile, reportable
from .workloads import ANALYTICS_QUERIES, WORKLOADS, Unit, Workload

SETUPS = 7
WARM_MIN_S = 8.0
WARM_CAP_S = 12.0
LEVEL_SHARE = 0.05

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "latency_p50_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.corrupt_lines": "count",
    "job.templates.render_us": "us",
    "job.backend.chat_ms": "ms",
    "job.backend.requests": "count",
    "job.backend.retries": "count",
    "job.backend.rejected_429": "count",
    "job.backend.connections": "count",
    "job.backend.inflight_mean": "count",
    "job.backend.idle_share": "share",
    "job.backend.requests_per_record": "1",
    "stub.cpu_s": "s",
    "job.pipeline.infer_s": "s",
    "job.pipeline.sink_s": "s",
    "job.pipeline.dead_letter_share": "share",
    "functions.text.think_strip_s": "s",
    "functions.text.lang_id_s": "s",
    "functions.text.quality_s": "s",
    "functions.text.tokens_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_pairs_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.recall": "share",
    "operators.similarity.brute_force_topk_s": "s",
    "operators.similarity.lsh_topk_s": "s",
    "operators.similarity.topk_recall": "share",
    **{f"queries.relational.{q}_s": "s" for q in ANALYTICS_QUERIES},
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.slot_idle_share": "share",
    "bench.units": "count",
    "bench.latency_p90_s": "s",
    "bench.stage_s": "s",
    "bench.warm_s": "s",
    "mem.peak_rss_mb": "MB",
    "host.steal_share": "share",
    "host.spin_s": "s",
    "trace.overhead_s": "s",
}


def start_session(work: str, cores: int):
    from llm_batch_processor_spark.session import get_spark

    spark = get_spark(
        app_name="enginebench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # temp files inside the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def collect(spark) -> None:
    """Between passes: drop cached blocks, run both collectors."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _safe_unit(wl: Workload, tr: Tracer, i: int) -> Unit:
    tr.unit = i
    try:
        return wl.unit(tr, i)
    except Exception as e:  # a failed unit is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        return Unit(0, 0.0, [], [f"unit raised {type(e).__name__}: {e}"])


def run_passes(wl: Workload, tr: Tracer, seconds: float, start: int):
    """Whole passes until ``seconds`` have elapsed (at least one)."""
    units: list[Unit] = []
    walls: list[float] = []
    i = start
    t_end = time.perf_counter() + seconds
    while True:
        batch = [_safe_unit(wl, tr, i + k) for k in range(wl.pass_units)]
        i += wl.pass_units
        units += batch
        walls.append(sum(u.wall for u in batch))
        collect(wl.spark)
        if time.perf_counter() >= t_end:
            return units, walls, i


def warm_up(wl: Workload, tr: Tracer, units: list[Unit]) -> int:
    """Passes after the first until ``WARM_MIN_S`` have gone and the last
    pass is within ``LEVEL_SHARE`` of the one before, or until another
    pass would end past ``WARM_CAP_S``; returns the next unit index."""
    i, prev = wl.pass_units, None
    t0 = time.perf_counter()
    while True:
        us, walls, i = run_passes(wl, tr, 0, i)
        units += us
        took = time.perf_counter() - t0
        level = prev is not None and abs(walls[-1] - prev) <= LEVEL_SHARE * prev
        if took + walls[-1] > WARM_CAP_S or (took >= WARM_MIN_S and level):
            return i
        prev = walls[-1]


def _pass_rates(units: list[Unit], pass_units: int) -> list[float]:
    """Items per second of each whole pass."""
    passes = [units[k : k + pass_units] for k in range(0, len(units), pass_units)]
    return [sum(u.items for u in p) / max(sum(u.wall for u in p), 1e-9) for p in passes]


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """One run in the scratch directory ``work``, which the caller owns."""
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[name](seed, work, cores)
    ticks0 = host.cpu_ticks()
    spin = [host.spin_s()]
    spark = None
    units: list[Unit] = []
    try:
        wl.prepare()
        setups: list[float] = []  # the warm ones; the cold one is session.start_s
        for k in range(1 + SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            t1 = time.perf_counter()
            wl.bind(spark)
            wl.stage()
            if k == 0:
                session_start, stage_s = t1 - t0, time.perf_counter() - t1
            else:
                setups.append(time.perf_counter() - t0)

        off = Tracer()
        t0 = time.perf_counter()
        try:
            warm = wl.first_pass(off)
        except Exception as e:  # counted as a failed unit, as in _safe_unit
            traceback.print_exc(file=sys.stderr)
            warm = [Unit(0, 0.0, [], [f"first pass raised {type(e).__name__}: {e}"])]
        units += warm
        collect(spark)
        i = warm_up(wl, off, units)
        warm_s = time.perf_counter() - t0

        window = seconds / 2 if trace else seconds
        timed, walls, i = run_passes(wl, off, window, i)
        units += timed
        metrics = {
            "setup_s": hd_median(setups),
            "items_per_s": median(_pass_rates(timed, wl.pass_units)),
            "latency_p50_s": hd_median([x for u in timed for x in u.latencies]),
        }
        if trace:
            tr = Tracer(spark, enabled=True)
            traced, twalls, i = run_passes(wl, tr, window, i)
            units += traced
            tr.rollup()
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(_spark_metrics(tr, traced, wl.pass_units, cores))
            metrics.update(wl.layer_metrics(tr, traced))
            try:
                metrics.update(wl.probes())
            except Exception as e:  # counted as a failed unit of the run
                traceback.print_exc(file=sys.stderr)
                units.append(Unit(0, 0.0, [], [f"probe raised {type(e).__name__}: {e}"]))
            spin.append(host.spin_s())
            metrics.update({
                "session.start_s": session_start,
                "bench.units": len(traced),
                "bench.latency_p90_s": _p90([x for u in timed + traced for x in u.latencies]),
                "bench.stage_s": stage_s,
                "bench.warm_s": warm_s,
                "mem.peak_rss_mb": host.peak_rss_mb(jvm_pid() or os.getpid()),
                "host.steal_share": host.steal_share(ticks0, host.cpu_ticks()),
                "host.spin_s": median(spin),
                "trace.overhead_s": median(twalls) - median(walls),
            })
        units_out = PER_LAYER if trace else END_TO_END
    finally:
        try:
            shutdown(spark)
        finally:
            wl.close()

    failed = [u for u in units if u.failures]
    for u in failed[:5]:
        print("check failed: " + "; ".join(u.failures), file=sys.stderr)
    return {
        "correct": not failed and bool(units),
        "attempted": len(units),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units_out.items()},
    }


def _p90(latencies: list[float]) -> float:
    """p90 of the run's units, or 0 when fewer than ten lie beyond it."""
    return percentile(latencies, 90) if reportable(len(latencies), 90) else 0.0


def _spark_metrics(tr: Tracer, units: list[Unit], pass_units: int, cores: int) -> dict:
    """Stage metrics summed per pass, median over passes."""
    per_unit = tr.stage_by_unit()
    first = min(per_unit) if per_unit else 0
    passes: dict[int, dict[str, float]] = {}
    for k, u in enumerate(units):
        p = passes.setdefault(k // pass_units, dict.fromkeys(STAGE_KEYS, 0.0) | {"wall": 0.0})
        for key, v in per_unit.get(first + k, {}).items():
            p[key] += v
        p["wall"] += u.wall
    out = {f"spark.{k}": median([p[k] for p in passes.values()]) for k in STAGE_KEYS}
    out["spark.slot_idle_share"] = median([
        1.0 - p["executor_run_s"] / max(p["wall"] * cores, 1e-9) for p in passes.values()
    ])
    return out

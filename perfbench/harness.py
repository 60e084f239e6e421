"""Run skeleton shared by the workloads: session lifecycle, set-up,
warm-up, the timed closed loop, answer accounting and the
traced re-run.

A workload supplies ``setup``, ``warmup``, ``pass_ops``, ``final_checks``
and ``layer_metrics``; the harness decides what is timed and how often.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer

class CheckFailed(Exception):
    """An answer broke its contract (order, size, NaN, oracle mismatch)."""


@dataclass
class Op:
    """One timed call into the engine. ``fn`` returns the answer;
    ``check`` raises CheckFailed when the answer is wrong."""

    key: str
    layer: str
    fn: object
    check: object = None
    tags: dict = field(default_factory=dict)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    final_ok: bool = True
    errors: list[str] = field(default_factory=list)
    op_seconds: dict[str, list[float]] = field(default_factory=dict)
    pass_seconds: list[float] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


class Session:
    """Owns the SparkSession of a run; restarts it on request."""

    def __init__(self, cores: int, run_dir: str):
        self.cores = cores
        self.run_dir = run_dir
        self.spark = None
        self.parallelism = 0

    def start(self, event_log_dir: str | None = None):
        from search_engine_spark.session import get_spark

        extra = {}
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        self.spark = get_spark(
            app_name="perfbench", cores=self.cores, extra_conf=extra
        )
        self.parallelism = max(self.parallelism,
                               self.spark.sparkContext.defaultParallelism)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers)."""
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_ops(ops: list[Op], tracer: Tracer, out: Outcome) -> float:
    """Run one pass closed-loop, one client; returns its wall seconds."""
    t0 = time.perf_counter()
    for op in ops:
        out.attempted += 1
        with tracer.span(op.layer, op.key, **op.tags) as sp:
            try:
                answer = op.fn()
            except Exception as ex:  # a raise counts as a failed op
                answer = ex
        out.op_seconds.setdefault(op.key, []).append(sp.seconds)
        if isinstance(answer, Exception):
            out.fail(f"{op.key}: raised {type(answer).__name__}: "
                     f"{str(answer)[:200]}")
            continue
        if isinstance(answer, list):
            sp.tags["rows"] = len(answer)
        if op.check is not None:
            try:
                op.check(answer)
            except CheckFailed as ex:
                out.fail(f"{op.key}: {ex}")
    return time.perf_counter() - t0


def timed_loop(workload, tracer: Tracer, out: Outcome, seconds: float) -> None:
    """Passes until ``seconds`` have elapsed (at least one)."""
    t_end = time.perf_counter() + seconds
    while True:
        out.pass_seconds.append(run_ops(workload.pass_ops(), tracer, out))
        if time.perf_counter() >= t_end:
            break


def median_ms(values: list[float]) -> float:
    return statistics.median(values) * 1000.0


def run_untraced(workload, session: Session, seconds: float) -> dict:
    """End-to-end run: set up, warm up, time passes."""
    t0 = time.perf_counter()
    workload.setup(session.start(), Tracer(), 0)
    t1 = time.perf_counter()
    out = Outcome()
    workload.warmup()
    t2 = time.perf_counter()
    timed_loop(workload, Tracer(), out, seconds)
    t3 = time.perf_counter()
    _final(workload, out)
    phases = {"setup": t1 - t0, "warmup": t2 - t1, "timed": t3 - t2,
              "final": time.perf_counter() - t3}
    all_ops = [s for v in out.op_seconds.values() for s in v]
    kind_s: dict[str, float] = {}
    for k, v in out.op_seconds.items():
        kind = k.split(".")[0]
        kind_s[kind] = kind_s.get(kind, 0.0) + sum(v)
    return {
        "outcome": out,
        "metrics": {
            "setup_s": phases["setup"],
            "pass_s": statistics.median(out.pass_seconds),
            # every op counts, unlike a median that sits on one op of
            # the commonest kind
            "op_gmean_ms": math.exp(statistics.fmean(
                math.log(s * 1000.0) for s in all_ops)),
        },
        "detail": {
            "phase_s": phases,
            "pass_s_all": out.pass_seconds,
            # share of the timed ops' time taken by each kind of op
            "kind_share": {k: v / sum(kind_s.values())
                           for k, v in sorted(kind_s.items())},
            "ops": {k: {"n": len(v), "p50_ms": median_ms(v)}
                    for k, v in sorted(out.op_seconds.items())},
        },
    }


def run_traced(workload, session: Session, seconds: float) -> dict:
    """Per-layer run. Half the window runs untraced as the baseline, then
    the session restarts with the event log on, set-up runs again under
    spans, the warm-up runs again (its jobs fall outside every span) and
    the other half runs traced, so both halves are timed warm. Returns
    the spans, the event log dir and the tracing overhead. The JVM, with
    its JIT and Spark's generated-code cache, outlives the restart, so
    the traced half starts ahead and the overhead reads low."""
    base = Outcome()
    t0 = time.perf_counter()
    spark = session.start()
    session_start_s = time.perf_counter() - t0
    workload.setup(spark, Tracer(), 0)
    workload.warmup()
    timed_loop(workload, Tracer(), base, seconds / 2)
    session.stop()

    log_dir = os.path.join(session.run_dir, "eventlog")
    spark = session.start(log_dir)
    tracer = Tracer(spark.sparkContext)
    workload.setup(spark, tracer, 1)
    workload.warmup()
    traced = Outcome()
    timed_loop(workload, tracer, traced, seconds / 2)
    _final(workload, traced)
    session.stop()  # flushes the event log

    ratios = [
        statistics.median(traced.op_seconds[k])
        / statistics.median(base.op_seconds[k])
        for k in traced.op_seconds
        if k in base.op_seconds
    ]
    outcome = Outcome(
        attempted=base.attempted + traced.attempted,
        failed=base.failed + traced.failed,
        final_ok=base.final_ok and traced.final_ok,
        errors=base.errors + traced.errors,
    )
    return {
        "outcome": outcome,
        "tracer": tracer,
        "log_dir": log_dir,
        "session_start_s": session_start_s,
        "overhead_pct": (statistics.median(ratios) - 1.0) * 100.0,
    }


def _final(workload, out: Outcome) -> None:
    try:
        workload.final_checks()
    except CheckFailed as ex:
        out.final_ok = False
        out.errors.append(f"final: {ex}")
    except Exception as ex:
        out.final_ok = False
        out.errors.append(
            f"final raised: {''.join(traceback.format_exception_only(ex))}"
        )

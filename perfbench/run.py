"""Benchmark entry point.

    python3 perfbench/run.py --workload search|operators \
        --seed N --seconds S --trace 0|1

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics named in BENCHMARK.json, ``--trace 1`` the per-layer ones. The
last stdout line is the result object; the line before it carries the
details (host stamp, per-op timings, errors).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def source_digest() -> str:
    """Digest of the engine's sources; the benchmark's checkout has no
    git metadata, so this stands in for the commit."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, _dirs, files in os.walk(
            os.path.join(ROOT, "search_engine_spark")):
        paths += [os.path.join(dirpath, f) for f in files
                  if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def host_stamp(session, seed: int, nproc: int) -> dict:
    import pyspark
    from pyspark import SparkContext

    return {
        "nproc": nproc,
        "spark_cores": session.parallelism,
        "cores_exceed_nproc": session.parallelism > nproc,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": SparkContext._jvm.System.getProperty("java.version"),
        "source_sha256": source_digest(),
        "seed": seed,
    }


def cpu_ticks() -> list[int]:
    """Aggregate CPU ticks (user ... steal) from /proc/stat, or []."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return []


def steal_pct(t0: list[int], t1: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests."""
    if not t0 or not t1:
        return None
    delta = [b - a for a, b in zip(t0, t1)]
    return 100.0 * delta[7] / max(1, sum(delta))


def isolate(run_dir: str) -> None:
    """Point every scratch location of the run at ``run_dir``: temp files
    of Python (the engine's on-disk index caches live there) and of the
    JVMs, Spark's local dirs, and the executors' Python path."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no /tmp/hsperfdata_* files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tempfile.tempdir = None


def emit(spec_metrics: list[dict], values: dict) -> dict:
    names = [m["name"] for m in spec_metrics]
    missing = [n for n in names if n not in values]
    extra = [n for n in values if n not in names]
    if missing or extra:
        raise RuntimeError(f"metric mismatch: missing {missing} extra {extra}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec_metrics}


def main() -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "search_engine_spark",
                                       "__init__.py")):
        print("perfbench: search_engine_spark not found next to perfbench/",
              file=sys.stderr)
        return 2

    from perfbench import harness
    from perfbench.trace import EventLog
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    session = harness.Session(nproc, run_dir)
    try:
        t0 = time.perf_counter()
        workload = WORKLOADS[args.workload](run_dir, args.seed)
        inputs_s = time.perf_counter() - t0
        if args.trace:
            res = harness.run_traced(workload, session, args.seconds)
            values = {m["name"]: 0.0 for m in spec["per_layer"]}
            values["session.start_s"] = res["session_start_s"]
            values["trace.overhead_pct"] = res["overhead_pct"]
            values.update(workload.layer_metrics(
                EventLog(res["log_dir"]), res["tracer"]))
            metrics = emit(spec["per_layer"], values)
            detail = {"spans": len(res["tracer"].spans)}
        else:
            res = harness.run_untraced(workload, session, args.seconds)
            metrics = emit(spec["end_to_end"], res["metrics"])
            detail = res["detail"]
        out = res["outcome"]
        detail["host"] = host_stamp(session, args.seed, nproc)
        detail["host"]["loadavg_start"] = load_start
        detail["host"]["loadavg_end"] = os.getloadavg()
        detail["host"]["cpu_steal_pct"] = steal_pct(ticks_start, cpu_ticks())
        detail["inputs_s"] = inputs_s
        detail["errors"] = out.errors
    finally:
        session.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": out.failed == 0 and out.final_ok,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

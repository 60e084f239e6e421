"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. Checks BENCHMARK.json against the benchmark contract: key sets,
   name and unit syntax, bounds, and a setup_s metric.
2. Runs every workload at tiny scale, untraced and traced. Each run must
   end with a result line whose metric names and units are exactly those
   of BENCHMARK.json, with finite values and every answer correct. A
   traced run must also give non-zero Spark job counts for the layers
   its workload drives, so a broken event-log join fails the test.
3. Runs the benchmark in a directory that holds only BENCHMARK.json and
   perfbench/. It must fail with a non-zero exit and print no result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def check_spec(spec: dict) -> None:
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(spec) != keys:
        fail(f"BENCHMARK.json keys {sorted(spec)}")
    names = [w["name"] for w in spec["workloads"]]
    if not 2 <= len(names) <= 8:
        fail("2 to 8 workloads")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 \
                or "\n" in w["why"]:
            fail(f"workload {w}")
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    if not 1 <= len(e2e) <= 16 or not 1 <= len(layer) <= 128:
        fail("metric counts")
    for m in e2e:
        if set(m) != {"name", "unit", "better", "bound"} or \
                not 0 < m["bound"] <= 0.25:
            fail(f"end_to_end {m}")
    for m in layer:
        if set(m) != {"name", "unit", "better"}:
            fail(f"per_layer {m}")
    for m in e2e + layer:
        if not NAME.match(m["name"]) or not UNIT.match(m["unit"]) or \
                m["better"] not in ("lower", "higher"):
            fail(f"metric {m}")
    names += [m["name"] for m in e2e + layer]
    if len(set(names)) != len(names):
        fail("names are not unique")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or \
            setup[0]["better"] != "lower" or \
            setup[0]["bound"] != max(m["bound"] for m in e2e):
        fail("setup_s must be in s, lower, with the largest bound")
    if not isinstance(spec["run_seconds"], int) or \
            not 1 <= spec["run_seconds"] <= 60:
        fail("run_seconds")
    print("ok   BENCHMARK.json")


# Per-layer metrics that read 0 only when the spans and the event log
# fail to join.
JOINED = {
    "search": ["indexer.spark_jobs", "merge.spark_jobs",
               "query.ranked_head.spark_jobs_per_op",
               "query.phrase.spark_jobs_per_op", "batch.spark_jobs"],
    "operators": ["operators.pagerank.jobs", "operators.bm25_multi.jobs"],
}


def check_result(stdout: str, want: list[dict], what: str,
                 nonzero: list[str] = ()) -> None:
    try:
        res = json.loads(stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        fail(f"{what}: no result line")
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{what}: result keys {sorted(res)}")
    got = [(n, v["unit"]) for n, v in res["metrics"].items()]
    if got != [(m["name"], m["unit"]) for m in want]:
        fail(f"{what}: metric names or units differ from BENCHMARK.json")
    for n, v in res["metrics"].items():
        if set(v) != {"value", "unit"} or not math.isfinite(v["value"]):
            fail(f"{what}: metric {n} = {v}")
    for n in nonzero:
        if not res["metrics"][n]["value"] > 0:
            fail(f"{what}: {n} is 0; the event log did not join the spans")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        fail(f"{what}: correct={res['correct']} attempted="
             f"{res['attempted']} failed={res['failed']}")
    print(f"ok   {what}: {len(got)} metrics, {res['attempted']} ops")


def run_tiny(argv: list[str]) -> None:
    """Child process: shrink the workloads, then run the benchmark."""
    sys.path.insert(0, ROOT)
    from perfbench import inputs, run, workloads

    workloads.Search.PAGES = 100
    workloads.Search.RANKED_PER_BAND = 1
    workloads.Search.PHRASES = 1
    workloads.Search.BATCH = 8
    inputs.N_DOCUMENTS = 100
    inputs.N_EMBEDDINGS = 100
    inputs.N_CUSTOMERS = 150
    inputs.N_ORDERS = 1500
    sys.argv = [run.__file__] + argv
    sys.exit(run.main())


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_spec(spec)

    for w in spec["workloads"]:
        for trace, want in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            args = ["--workload", w["name"], "--seed", "1",
                    "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(
                [sys.executable, __file__, "--tiny"] + args, cwd=ROOT,
                capture_output=True, text=True, timeout=300)
            if p.returncode:
                fail(f"{w['name']} trace={trace}: exit {p.returncode}\n"
                     f"{p.stderr[-2000:]}")
            check_result(p.stdout, want, f"{w['name']} trace={trace}",
                         JOINED[w["name"]] if trace else ())

    bare = os.path.join(ROOT, ".perfbench_run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            spec["command"] + ["--workload", spec["workloads"][0]["name"],
                               "--seed", "1", "--seconds", "1",
                               "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        fail("benchmark without the engine must fail and print nothing")
    print("ok   fails without the engine")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--tiny"]:
        run_tiny(sys.argv[2:])
    else:
        main()

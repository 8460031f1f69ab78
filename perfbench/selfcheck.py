"""Quick self-check of the benchmark on sf0.001-sized inputs.

``python3 perfbench/run.py --selfcheck`` asserts that

- the same seed writes byte-identical inputs and another seed writes
  different keys, intervals, variants, documents and vectors;
- a traced run of each workload emits every end-to-end metric (report
  line) with its unit and sample count, and every per-layer metric (result
  line) with its unit.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

from gen import TABLES, generate

#: Tables whose content does not depend on the seed.
FIXED = {"region", "nation"}

#: The end-to-end metrics every run reports, with their units.
REPORTED = {
    "setup_s": "s", "pass_s": "s", "input_rows_per_s": "rows/s", "query_p50_s": "s",
    "query_p90_s": "s", "peak_rss_mb": "MB", "fail_ratio": "fraction",
}


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def check_inputs(work: str) -> None:
    dirs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[tag] = os.path.join(work, f"selfcheck-{tag}")
        shutil.rmtree(dirs[tag], ignore_errors=True)
        generate(dirs[tag], seed, "sf0.001")
    for t in TABLES:
        a, b, c = (_digest(os.path.join(dirs[k], f"{t}.parquet")) for k in "abc")
        assert a == b, f"{t}: same seed gave different bytes"
        assert (a == c) == (t in FIXED), f"{t}: a new seed {'kept' if a == c else 'changed'} it"
    for d in dirs.values():
        shutil.rmtree(d)
    print("selfcheck: inputs are deterministic per seed and differ across seeds")


def check_workload(run_py: str, name: str, metrics: dict) -> None:
    cmd = [sys.executable, run_py, "--workload", name, "--seed", "3", "--seconds", "0",
           "--trace", "1", "--size", "sf0.001"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and lines, f"{name}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(lines[-1])
    report = json.loads(next(ln for ln in lines if ln.startswith("# report "))[len("# report "):])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert all(REPORTED.get(m["name"]) == m["unit"] for m in metrics["end_to_end"])
    want = {m["name"]: m["unit"] for m in metrics["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{name}: per-layer metrics differ: {set(got) ^ set(want)}"
    got = {k: v["unit"] for k, v in report["metrics"].items() if v["samples"] >= 1}
    assert got == REPORTED, f"{name}: reported metrics differ: {set(got) ^ set(REPORTED)}"
    print(f"selfcheck: {name} emitted all metrics; correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']} {report['failures']}")


def selfcheck(run_py: str) -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)
    check_inputs(os.path.join(root, ".perfbench_work"))
    for w in metrics["workloads"]:
        check_workload(run_py, w["name"], metrics)
    print("selfcheck: ok")
    return 0

#!/usr/bin/env python3
"""Benchmark runner for the query builders in ``__spark_entry__.queries()``.

    python3 perfbench/run.py --workload genomics --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload
    python3 perfbench/run.py --selfcheck                  # quick mode

Run it from the repository root.  One run of one workload:

1. writes the workload's input tables for ``--seed`` (``perfbench/gen.py``)
   under ``.perfbench_work/``, twice, and checks the copies are identical;
2. starts one session on ``local[nproc]`` with the driver heap named in
   ``perfbench/spec.json``;
3. warms up: one pass that collects every query and checks it against its
   DuckDB oracle (``perfbench/oracle.py``), then ``WARMUP_PASSES`` untimed
   passes so the JIT has settled before timing starts;
4. runs timed passes over the query list for ``--seconds`` seconds (at
   least two).  Each query is one operation: build, then execute to the
   noop sink, construction inside the timed region as in ``bench.py``.

``cold_fresh`` writes a new input set in a new directory before every pass,
warm-up passes included, so every probe memo misses; writing it is timed
apart from the pass.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before it
(``# report ...``) carries every end-to-end metric with its unit and sample
count, plus per-query detail.  With ``--trace 1`` the session also writes
Spark's event log, every other timed pass is traced at the layer boundaries
(``perfbench/layers.py``), and the per-query rows go to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: Untimed passes after the oracle pass.  On a 4-core host pass times fall
#: for about three passes after the first before they level off.
WARMUP_PASSES = 3
sys.path.insert(0, HERE)

from gen import SIZES, generate  # noqa: E402

with open(os.path.join(HERE, "spec.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    METRICS = json.load(_fh)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _digests(data_dir: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, pgid, state) for every process in ``/proc``."""
    table = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                table[int(pid)] = (int(fields[1]), int(fields[2]), fields[0])
            except (OSError, IndexError, ValueError):
                pass
    return table


def _rss_peak_mb() -> float:
    """Peak RSS of this process plus its direct children (the driver JVM)."""
    me = os.getpid()
    pids = [me] + [pid for pid, (ppid, _, _) in _proc_table().items() if ppid == me]
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _descendants(root: int) -> set[int]:
    table = _proc_table()
    found, frontier = set(), {root}
    while frontier:
        frontier = {pid for pid, (ppid, _, _) in table.items() if ppid in frontier} - found
        found |= frontier
    return found


def _stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the driver JVM and every process under it, and
    wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running: it exits on its own only
    once this process has closed its stdin, and its shutdown hooks (deleting
    the local dirs) and the Python worker daemon it started outlive this
    process unless they are waited for here.  The worker daemon runs in a
    process group of its own, which the JVM's exit does not end at once, so
    every process in the groups seen under this process is waited for too.
    """
    from pyspark import SparkContext

    me = os.getpid()
    tree = _descendants(me)
    table = _proc_table()
    own_group = os.getpgid(0)
    groups = {table[p][1] for p in tree if p in table} - {own_group}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may be gone already
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        while True:
            table = _proc_table()
            left = [
                pid for pid, (_, pgid, state) in table.items()
                if pid != me and state != "Z" and (pid in tree or pgid in groups)
            ]
            if not left:
                break
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def _cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from ``/proc/stat`` (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by other guests (steal) between two
    ``_cpu_ticks`` readings: when it is high, every time in the run is
    inflated by load outside this container."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _environment(root: str, work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work``."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(_cores())
    env["SPARK_DRIVER_MEMORY"] = SPEC["host"]["driver_heap"]
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    # The driver heap is committed and touched at start, so the JVM's share
    # of peak RSS is the configured heap rather than however far GC let it
    # grow before the run ended; peak RSS then moves with driver-side and
    # off-heap memory.
    args = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"'-Xms{SPEC['host']['driver_heap']} -XX:+AlwaysPreTouch'",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'events')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _reason(exc: Exception) -> str:
    return f"raised {type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:160]}"


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = SPEC["workloads"][args.workload]
        self.work = work
        self.sizes = SIZES[args.size]
        # a fresh workload draws every input set from its own seed stream
        self.fresh_seeds = itertools.count(args.seed * 1000)
        self.gen_s: list[float] = []
        self.samples: list[float] = []
        self.per_query: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.out_rows: dict[str, int] = {}
        self.query_tables: dict[str, list[str]] = {}
        self.oracle_s = 0.0
        self.spark = None

    def close(self) -> None:
        """Stop the session and every process it started; safe to repeat."""
        spark, self.spark = self.spark, None
        # the JVM may have been launched before the session was assigned
        if spark is not None or "pyspark" in sys.modules:
            _stop_spark(spark)

    def fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, reason)

    # -- inputs ------------------------------------------------------------
    def generate(self, seed: int, tag: str = "") -> str:
        out = os.path.join(self.work, f"{self.args.workload}-s{seed}{tag}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        generate(out, seed, self.args.size, threads=_cores(), tables=self.wl["tables"])
        self.gen_s.append(time.perf_counter() - t0)
        return out

    def next_inputs(self, warm_dir: str) -> str:
        return self.generate(next(self.fresh_seeds)) if self.wl["fresh"] else warm_dir

    def done_with(self, data_dir: str, warm_dir: str) -> None:
        if data_dir != warm_dir:
            shutil.rmtree(data_dir, ignore_errors=True)

    # -- passes --------------------------------------------------------------
    def op(self, name: str, data_dir: str, pass_no: int, tracer) -> float:
        """One operation: build, then execute to the noop sink."""
        from layers import plan_exchanges

        build = self.queries[name]
        t0 = time.perf_counter()
        if tracer is None:
            build(self.spark, data_dir).write.mode("overwrite").format("noop").save()
        else:
            # the traced op also plans on its own, to time Catalyst apart;
            # the write plans again, which is part of the tracing overhead
            tracer.begin(pass_no, name, "build")
            df = build(self.spark, data_dir)
            tracer.end()
            tracer.begin(pass_no, name, "plan")
            tracer.end(exchanges=plan_exchanges(df))
            tracer.begin(pass_no, name, "exec")
            df.write.mode("overwrite").format("noop").save()
            tracer.end()
        return time.perf_counter() - t0

    def run_pass(self, data_dir: str, pass_no: int, tracer=None, timed: bool = True) -> float:
        wall = 0.0
        for name in self.wl["queries"]:
            self.attempted += 1
            try:
                dt = self.op(name, data_dir, pass_no, tracer)
            except Exception as exc:  # noqa: BLE001
                self.fail(name, _reason(exc))
                continue
            finally:
                if tracer is not None:
                    tracer.key = None
            wall += dt
            if timed:
                self.samples.append(dt)
                self.per_query.setdefault(name, []).append(dt)
        # collect garbage between passes, outside the timed region, so a
        # full-GC pause is not billed to whichever query runs into it
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        return wall

    def oracle_pass(self, data_dir: str) -> None:
        """Collect every query once and compare it with its oracle."""
        from oracle import Oracle

        oracle = Oracle(self.oracle_sql, threads=_cores(), work=os.path.join(self.work, "tmp"))
        try:
            for name in self.wl["queries"]:
                self.attempted += 1
                try:
                    df = self.queries[name](self.spark, data_dir)
                    files = df.inputFiles()
                    pdf = df.toPandas()
                except Exception as exc:  # noqa: BLE001
                    self.fail(name, _reason(exc))
                    continue
                self.out_rows[name] = len(pdf)
                self.query_tables[name] = sorted(
                    {os.path.basename(f.rstrip("/")).split(".parquet")[0] for f in files}
                )
                t0 = time.perf_counter()
                reason = oracle.check(name, pdf, data_dir)
                self.oracle_s += time.perf_counter() - t0
                if reason is not None:
                    self.fail(name, f"oracle mismatch: {reason}")
        finally:
            oracle.close()

    # -- the run -------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        setup_ticks = _cpu_ticks()
        seed = next(self.fresh_seeds) if self.wl["fresh"] else args.seed
        warm_dir = self.generate(seed)
        copy = self.generate(seed, "-copy")
        if _digests(warm_dir) != _digests(copy):
            raise SystemExit("input generation is not deterministic")
        shutil.rmtree(copy)
        gen_setup_s = statistics.median(self.gen_s)

        t0 = time.perf_counter()
        from datafusion_bio_functions_spark.session import get_or_create_session

        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.spark = get_or_create_session(app_name=f"perfbench-{args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_gen = len(self.gen_s)
        self.oracle_pass(warm_dir)
        for _ in range(WARMUP_PASSES):
            data_dir = self.next_inputs(warm_dir)
            self.run_pass(data_dir, 0, timed=False)
            self.done_with(data_dir, warm_dir)
        warmup_gen_s = sum(self.gen_s[n_gen:])
        warmup_s = time.perf_counter() - t0 - self.oracle_s - warmup_gen_s
        # set-up: session, one input set and the warm-up, without the
        # oracle's DuckDB time and the determinism copy
        setup_s = session_start_s + gen_setup_s + warmup_s + warmup_gen_s

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(self.spark, args.workload)
        pass_gen_s: list[float] = []
        untraced: list[float] = []
        traced: dict[int, float] = {}
        # a traced run alternates untraced and traced passes, starting and
        # ending untraced, so drift over the run does not bias the
        # traced-minus-untraced overhead
        min_passes = 3 if tracer is not None else 2
        ticks = _cpu_ticks()
        setup_steal = _steal_share(setup_ticks, ticks)
        t_start = time.perf_counter()
        pass_no = 0
        while (pass_no < min_passes or time.perf_counter() - t_start < args.seconds
               or (tracer is not None and pass_no % 2 == 0)):
            pass_no += 1
            n_gen = len(self.gen_s)
            data_dir = self.next_inputs(warm_dir)
            pass_gen_s += self.gen_s[n_gen:]
            if tracer is not None and pass_no % 2 == 0:
                tracer.install()
                traced[pass_no] = self.run_pass(data_dir, pass_no, tracer)
                tracer.uninstall()
            else:
                untraced.append(self.run_pass(data_dir, pass_no))
            self.done_with(data_dir, warm_dir)

        steal = _steal_share(ticks, _cpu_ticks())
        rss = _rss_peak_mb()
        app_id = self.spark.sparkContext.applicationId
        self.close()
        shutil.rmtree(warm_dir, ignore_errors=True)

        pass_s = statistics.median(untraced)
        rows_per_pass = sum(
            self.sizes[t] for q in self.wl["queries"] for t in self.query_tables.get(q, [])
        )
        n = len(self.samples)
        report = {
            "setup_s": (setup_s, "s", 1),
            "pass_s": (pass_s, "s", len(untraced)),
            "input_rows_per_s": (rows_per_pass / pass_s, "rows/s", len(untraced)),
            "query_p50_s": (statistics.median(self.samples), "s", n),
            "query_p90_s": (_quantile(self.samples, 0.9), "s", n),
            "peak_rss_mb": (rss, "MB", 1),
            "fail_ratio": (self.failed / self.attempted, "fraction", self.attempted),
        }
        detail = {
            "session_start_s": session_start_s,
            "warmup_s": warmup_s,
            "oracle_s": self.oracle_s,
            "gen_setup_s": gen_setup_s,
            "fresh_gen_s": statistics.median(pass_gen_s) if pass_gen_s else None,
            # p90 needs at least 10 samples beyond it
            "query_p90_valid": n >= 100,
            "rows_per_pass": rows_per_pass,
            "passes_s": untraced,
            "host_steal_share": {"setup": setup_steal, "passes": steal},
            "query_s": {q: statistics.median(v) for q, v in self.per_query.items()},
            "out_rows": self.out_rows,
            "query_tables": self.query_tables,
            "failures": self.failures,
        }
        result = {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed}
        if tracer is not None:
            from layers import layer_metrics, take_event_log

            events = take_event_log(os.path.join(self.work, "events"), app_id)
            layers, rows = layer_metrics(tracer, events, _cores(), self.out_rows, traced)
            layers["session.start_s"] = session_start_s
            layers["session.warmup_s"] = warmup_s
            layers["inputs.gen_s"] = detail["fresh_gen_s"] or gen_setup_s
            layers["trace.untraced_pass_s"] = pass_s
            layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s
            trace_file = os.path.join(self.work, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_file, "w") as fh:
                json.dump({"summary": layers, "rows": rows}, fh, indent=1)
            result["metrics"] = {
                m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in METRICS["per_layer"]
            }
        else:
            result["metrics"] = {
                m["name"]: {"value": float(report[m["name"]][0]), "unit": m["unit"]}
                for m in METRICS["end_to_end"]
            }
        print("# report " + json.dumps({
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "metrics": {k: {"value": v, "unit": u, "samples": s}
                        for k, (v, u, s) in report.items()},
            **detail,
        }))
        return result


def _run_all(args) -> int:
    """Each workload in its own process, one after another."""
    results = {}
    for name in SPEC["workloads"]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        results[name] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[*SPEC["workloads"], "all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=METRICS["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=list(SIZES), default=SPEC["size"])
    ap.add_argument("--selfcheck", action="store_true", help="quick mode on sf0.001 inputs")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        sys.stderr.write("run from the repository root: __spark_entry__.py not found\n")
        return 2
    if args.selfcheck:
        from selfcheck import selfcheck

        return selfcheck(os.path.abspath(__file__))
    if args.workload == "all":
        return _run_all(args)
    sys.path.insert(1, root)
    work = os.path.join(root, ".perfbench_work")
    _environment(root, work, bool(args.trace))
    # a run stopped by SIGTERM still stops the processes it started
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""One benchmark run of the engine, in a fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The run

1. makes (or reuses) the seed's inputs and oracle answers in a child
   process (``perfbench/inputs.py``), outside the set-up time;
2. sets up: imports the op registry, starts the Spark session (local[4])
   and runs the untimed warm-up pass (one round, four calls in flight, on
   the catalog tree or on a small flush of the same seed);
3. calls whole rounds of the workload's ops through
   ``REGISTRY[name].fn(spark, tree)`` and collects each result; the
   number of rounds is ``--seconds`` over the workload's nominal round
   length, so every run of a workload makes the same calls;
4. checks every collected result against its DuckDB oracle and the bridge
   properties, and prints one JSON line: the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run interleaves untraced and traced rounds; its per-layer numbers
come from the traced rounds and its ``trace_overhead_share`` compares the
two kinds. Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import workloads  # noqa: E402
from inputs import fingerprint, seed_dir  # noqa: E402

CORES = 4
DRIVER_MEMORY = "3g"
# A round during which the host's hypervisor took more than this share of
# the CPUs (steal) measured the neighbours as much as the engine. When every
# planned round of an untraced run is such a round, up to EXTRA_ROUNDS more
# are run, and the best-of statistics pick the faster one. One extra round
# keeps a run inside the harness's time budget.
STEAL_LIMIT = 0.08
EXTRA_ROUNDS = 1
MODULE_GROUPS = ("operators", "llmops", "functions", "sources", "streaming")
# Bridge calls whose file-source queries read exactly the lines the
# generator wrote: the slice's events, or pipeline_bridge_e2e's requests
# that pass the shared-key filter the JSON reader applies while it scans.
FILE_SOURCE_LINES = {
    "stream_http_ingest": "events",
    "sink_pubsub_emulated": "events",
    "sink_exactly_once_manifest": "events",
    "pipeline_bridge_e2e": "admitted_requests",
}
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s"}
# Per-layer metrics: set-up phases per run, everything else per traced round.
PER_LAYER_UNITS = {
    "import_s": "s",
    "session_start_s": "s",
    "warmup_s": "s",
    "scan_load_calls": "count",
    "scan_load_s": "s",
    "finalize_cached_calls": "count",
    "finalize_cached_s": "s",
    **{f"{k}{g}": u for g in ("", *(f".{m}" for m in MODULE_GROUPS))
       for k, u in (("fn_s", "s"), ("collect_s", "s"), ("result_rows", "count"))},
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "jvm_gc_s": "s",
    "executor_busy_share": "share",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "stream_queries": "count",
    "stream_batches": "count",
    "stream_input_rows": "count",
    "stream_start_s": "s",
    "stream_trigger_s": "s",
    "stream_add_batch_s": "s",
    "stream_query_planning_s": "s",
    "stream_wal_commit_s": "s",
    "stream_commit_offsets_s": "s",
    "stream_state_rows": "count",
    "stream_state_memory_bytes": "bytes",
    "traced_wall_s": "s",
    "trace_overhead_share": "share",
    "xcheck_jobs_unmatched": "count",
    "xcheck_rows_unmatched": "count",
}


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) summed over this process and every
    descendant: the session's JVM and its Python workers."""
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while we walked the tree
    return total_kb / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks so far, from /proc/stat. Steal is the time
    this virtual machine's CPUs waited for the hypervisor."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    steal, total = cpu_steal()
    return (steal - since[0]) / max(1, total - since[1])


def ensure_inputs(root: str, workload: str, seed: int) -> dict:
    path = os.path.join(seed_dir(root, workload, seed), "manifest.json")
    try:
        with open(path) as f:
            manifest = json.load(f)
        if manifest["fingerprint"] == fingerprint(workload):
            return manifest
    except (FileNotFoundError, KeyError, ValueError):
        pass
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", workload, "--seed", str(seed)],
        cwd=root,
        check=True,
        stdout=sys.stderr,
    )
    with open(path) as f:
        return json.load(f)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99), interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, args, root: str, manifest: dict) -> None:
        self.args = args
        self.workload = args.workload
        self.wl = workloads.WORKLOADS[args.workload]
        self.dir = seed_dir(root, args.workload, args.seed)
        self.manifest = manifest
        self.calls: list[dict] = []
        self.rounds: list[dict] = []
        self.tracer = None
        self.status = None
        self.call_ids = itertools.count()

    # --- set-up ----------------------------------------------------------

    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        if self.args.trace:
            import cdc_pubsub_spark.tables as tables
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install_table_wrappers(tables)
        import cdc_pubsub_spark.all_queries  # noqa: F401  (populates REGISTRY)
        from cdc_pubsub_spark.registry import REGISTRY

        self.registry = REGISTRY
        t1 = time.perf_counter()
        from cdc_pubsub_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CORES)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t2 = time.perf_counter()
        warm = os.path.join(self.dir, workloads.warm_key(self.workload))

        def warm_call(op: str) -> None:
            try:
                self.registry[op].fn(self.spark, warm).toPandas()
            except Exception as e:  # the timed calls count the failure
                print(f"perfbench: warm-up {op} failed: {e!r}", file=sys.stderr)

        # One round, four calls in flight: the first calls in a fresh JVM
        # pay for class loading and JIT compilation.
        with ThreadPoolExecutor(max_workers=CORES) as pool:
            list(pool.map(warm_call, self.wl.ops))
        t3 = time.perf_counter()
        self.settle_jvm()
        t4 = time.perf_counter()
        if self.tracer is not None:
            from tracing import StatusReader

            self.status = StatusReader(self.sc)
            self.listener = self.tracer.listener()
        return {"import_s": t1 - t0, "session_start_s": t2 - t1, "warmup_s": t4 - t2, "settle_s": t4 - t3}

    def settle_jvm(self, quiet_ms: float = 20.0, cap_s: float = 5.0) -> None:
        """Let the warm-up's lazy work finish before timing: wait until the
        JIT compilers have been idle for a second (at most ``cap_s``), then
        collect the heap, so timed rounds do not share the CPU with
        compilations queued by the warm-up."""
        jvm = self.sc._jvm
        bean = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        deadline = time.perf_counter() + cap_s
        last = bean.getTotalCompilationTime()
        while time.perf_counter() < deadline:
            time.sleep(1.0)
            now = bean.getTotalCompilationTime()
            if now - last < quiet_ms:
                break
            last = now
        jvm.System.gc()

    # --- measurement -----------------------------------------------------

    def call(self, round_no: int, pos: int, op: str, traced: bool) -> dict:
        key = workloads.input_key(self.workload, round_no, pos)
        spec = self.registry[op]
        rec = {"op": op, "round": round_no, "input": key, "traced": traced,
               "module": spec.fn.__module__.split(".")[1]}
        cid = rec["id"] = next(self.call_ids)
        group = f"perfbench-{cid}"
        if traced:
            self.sc.setJobGroup(group, op)
            self.tracer.begin_call(cid, op)
        t0 = time.perf_counter()
        try:
            df = spec.fn(self.spark, os.path.join(self.dir, key))
            t1 = time.perf_counter()
            rec["result"] = df.toPandas()
            t2 = time.perf_counter()
        except Exception as e:
            t1 = t2 = time.perf_counter()
            rec["error"] = repr(e)
            print(f"perfbench: {op} on {key} failed: {e!r}", file=sys.stderr)
        rec.update(t0=t0, fn_s=t1 - t0, collect_s=t2 - t1, latency_s=t2 - t0, t_end=t2)
        if traced:
            self.tracer.end_call(cid)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tspan = self.tracer.calls[cid]["span"]
            self.tracer.span("fn", cid, tspan, t0, t1)
            self.tracer.span("collect", cid, tspan, t1, t2)
            # Read per call: the status store's retention drops stage data
            # in long runs.
            self.status.drain()
            jobs = self.status.group_jobs(group)
            stream_jobs = [j for run_id in self.tracer.calls[cid]["runs"]
                           for j in self.status.group_jobs(run_id)]
            rec["jobs"] = sorted(jobs + stream_jobs)
            rec["stream_jobs"] = len(stream_jobs)
            rec["layers"] = dict(self.status.job_counters(rec["jobs"]))
        return rec

    def run_round(self, round_no: int, traced: bool) -> None:
        ops = list(enumerate(self.wl.ops))
        if traced:
            self.status.drain()
            first_job = self.status.max_job_id() + 1
            self.spark.streams.addListener(self.listener)
        steal0 = cpu_steal()
        t0 = time.perf_counter()
        if self.wl.in_flight == 1:
            recs = [self.call(round_no, pos, op, traced) for pos, op in ops]
        else:
            with ThreadPoolExecutor(max_workers=self.wl.in_flight) as pool:
                recs = list(pool.map(lambda a: self.call(round_no, a[0], a[1], traced), ops))
        wall = max(r["t_end"] for r in recs) - t0
        rnd = {"round": round_no, "traced": traced, "wall_s": wall, "steal_share": steal_share(steal0)}
        if traced:
            self.status.drain()
            self.spark.streams.removeListener(self.listener)
            last_job = self.status.max_job_id()
            window = set(range(first_job, last_job + 1))
            attributed = set()
            for r in recs:
                attributed.update(self.status.group_jobs(f"perfbench-{r['id']}"))
                for run_id in self.tracer.calls[r["id"]]["runs"]:
                    attributed.update(self.status.group_jobs(run_id))
            rnd["window_jobs"] = len(window)
            rnd["jobs_unmatched"] = len(window ^ attributed)
        self.calls.extend(recs)
        self.rounds.append(rnd)

    def measure(self) -> None:
        rounds = self.wl.rounds(self.args.seconds)
        if self.args.trace:
            # Untraced, traced, traced, untraced (repeated): a drift over
            # the run cancels out of the overhead estimate.
            rounds = 4 * -(-rounds // 4)
        for round_no in range(rounds):
            self.run_round(round_no, traced=bool(self.args.trace) and round_no % 4 in (1, 2))
        while (not self.args.trace and len(self.rounds) < rounds + EXTRA_ROUNDS
               and min(r["steal_share"] for r in self.rounds) > STEAL_LIMIT):
            self.run_round(len(self.rounds), traced=False)

    # --- checks ----------------------------------------------------------

    def check_outputs(self) -> list[str]:
        problems = []
        try:
            check.self_test()
        except RuntimeError as e:
            problems.append(str(e))
        oracle_rows: dict[str, tuple] = {}
        for rec in self.calls:
            if "result" not in rec:
                continue
            okey = f"{rec['op']}@{rec['input']}"
            if okey not in oracle_rows:
                with open(os.path.join(self.dir, "oracle", f"{okey}.json")) as f:
                    o = json.load(f)
                oracle_rows[okey] = (o["columns"], [tuple(r) for r in o["rows"]])
            why = check.compare_rows(rec["result"], *oracle_rows[okey])
            if why is None and self.workload == "bridge":
                why = check.bridge_property(rec["op"], rec["result"], self.manifest["inputs"][rec["input"]])
            if why is not None:
                problems.append(f"{rec['op']} on {rec['input']}: {why}")
        return problems

    # --- metrics ---------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        """Best of the run's rounds: the fastest round, and each op's
        fastest call. A shared host's load spikes and the JIT's late
        compilations then move the numbers less."""
        best: dict[str, float] = {}
        for r in self.calls:
            if "error" not in r:
                best[r["op"]] = min(best.get(r["op"], r["latency_s"]), r["latency_s"])
        lat = list(best.values()) or [0.0]
        return {
            "setup_s": setup_s,
            "wall_s": min(r["wall_s"] for r in self.rounds),
            "op_p50_s": quantile(lat, 50),
            "op_p90_s": quantile(lat, 90),
        }

    def per_layer(self, setup: dict[str, float]) -> tuple[dict[str, float], list[str]]:
        """Per-layer totals per traced round (mean over traced rounds)."""
        self.tracer.wait_streams()
        traced = [r for r in self.rounds if r["traced"]]
        untraced = [r for r in self.rounds if not r["traced"]]
        n = len(traced)
        tot: dict[str, float] = defaultdict(float)
        problems = []
        for rec in (r for r in self.calls if r["traced"]):
            trec = self.tracer.calls[rec["id"]]
            grp = rec["module"]
            for k in ("scan_load_calls", "scan_load_s", "finalize_cached_calls", "finalize_cached_s"):
                tot[k] += trec[k]
            rows = len(rec.get("result", ()))
            for k, v in (("fn_s", rec["fn_s"]), ("collect_s", rec["collect_s"]), ("result_rows", rows)):
                tot[k] += v
                tot[f"{k}.{grp}"] += v
            for k, v in rec.get("layers", {}).items():
                tot[k] += v
            stream = self.tracer.stream_totals(rec["id"])
            for k, v in stream.items():
                tot[k] += v
            src = FILE_SOURCE_LINES.get(rec["op"])
            if src is not None:
                want = self.manifest["inputs"][rec["input"]][src]
                if stream.get("stream_input_rows", 0) != want:
                    tot["xcheck_rows_unmatched"] += 1
                    problems.append(
                        f"cross-check: {rec['op']} on {rec['input']} streamed "
                        f"{stream.get('stream_input_rows', 0)} rows, generator wrote {want}"
                    )
        for r in traced:
            tot["xcheck_jobs_unmatched"] += r["jobs_unmatched"]
            if r["jobs_unmatched"]:
                problems.append(
                    f"cross-check: round {r['round']} has {r['jobs_unmatched']} jobs "
                    f"outside the attributed set ({r['window_jobs']} in the window)"
                )
        out = {k: v / n for k, v in tot.items()}
        traced_wall = statistics.median(r["wall_s"] for r in traced)
        out["traced_wall_s"] = traced_wall
        out["trace_overhead_share"] = traced_wall / statistics.median(r["wall_s"] for r in untraced) - 1.0
        out["executor_busy_share"] = out.get("executor_run_s", 0.0) / (traced_wall * CORES)
        out.update(setup)
        metrics = {}
        for name, unit in PER_LAYER_UNITS.items():
            metrics[name] = {"value": float(out.get(name, 0.0)), "unit": unit}
        return metrics, problems

    def write_trace(self, path: str, extra: dict) -> None:
        calls = [{k: v for k, v in r.items() if k != "result"} for r in self.calls]
        doc = {"rounds": self.rounds, "calls": calls, **extra}
        if self.tracer is not None:
            doc["spans"] = self.tracer.spans
            doc["queries"] = self.tracer.queries
        with open(path, "w") as f:
            json.dump(doc, f, default=str)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description="One benchmark run of the cdc_pubsub_spark engine.")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # A terminated run still stops its JVM and removes its scratch space.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("cdc_pubsub_spark") is None:
        print(f"perfbench: the engine package cdc_pubsub_spark is not under {root}", file=sys.stderr)
        return 2

    # Keep every file the engine, Spark and the JVM write inside the checkout;
    # drop what runs that were killed left behind.
    tmp_root = os.path.join(root, ".perfbench_work", "tmp")
    if os.path.isdir(tmp_root):
        for pid in os.listdir(tmp_root):
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(tmp_root, pid), ignore_errors=True)
    tmp = os.path.join(tmp_root, str(os.getpid()))
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'

    run = None
    try:
        t = time.perf_counter()
        manifest = ensure_inputs(root, args.workload, args.seed)
        inputs_s = time.perf_counter() - t
        run = Run(args, root, manifest)
        setup = run.setup()
        setup_s = process_age() - inputs_s
        steal0 = cpu_steal()
        run.measure()
        timed_steal = steal_share(steal0)
        rss_mb = peak_rss_mb()
        problems = run.check_outputs()
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "gen_s": manifest["gen_s"],
            "oracle_s": manifest["oracle_s"],
            "inputs_wait_s": inputs_s,
            "rounds": len(run.rounds),
            "calls": len(run.calls),
            "peak_rss_mb": rss_mb,
            "cpu_steal_share": timed_steal,
            **setup,
        }
        if args.trace:
            metrics, xproblems = run.per_layer(setup)
            problems += xproblems
        else:
            metrics = {
                name: {"value": value, "unit": END_TO_END_UNITS[name]}
                for name, value in run.end_to_end(setup_s).items()
            }
        info["problems"] = problems
        out_dir = os.path.dirname(run.dir)
        run.write_trace(
            os.path.join(out_dir, f"run-seed-{args.seed}-trace-{args.trace}.json"),
            {"info": info, "metrics": metrics},
        )
    finally:
        if run is not None and hasattr(run, "spark"):
            run.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    attempted = len(run.calls)
    failed = sum(1 for r in run.calls if "error" in r)
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

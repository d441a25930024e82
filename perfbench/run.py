"""Payroll-engine benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload payroll_small --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One process, one closed-loop client,
on local[<cpu count>].  Inputs are generated from --seed (untimed, cached
under .perfbench/inputs), the expected outputs come from an independent
DuckDB oracle over the same files (untimed), and every output is checked.

--trace 0 prints the end-to-end metrics; --trace 1 runs untraced and then
traced iterations and prints the per-layer metrics, the tracing overhead
and writes the spans to .perfbench/traces/.  The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, HERE]

# Importing the engine fails fast (nonzero exit, no result) in a tree
# that holds only the benchmark.
import uofi_payroll_etl_main_spark.io as sio  # noqa: E402
import uofi_payroll_etl_main_spark.pipelines as spipes  # noqa: E402
import uofi_payroll_etl_main_spark.pipelines.pua as spua  # noqa: E402

import oracle  # noqa: E402
from gen import CERT_HEADER, DIM_HEADERS, FY_END_YEAR, REGISTRY_MIX  # noqa: E402

# name -> (generator kind, size argument, untimed warm-up iterations).
# The JVM keeps getting faster (JIT) for about a minute of either
# workload, longer than a run can wait, so the timed loop starts on that
# slope.  A fixed count of warm-up iterations, rather than a fixed time,
# starts it at the same point of the slope on a busy host as on an idle
# one; a time limit would warm less when the host is slow and so amplify
# host noise.
WORKLOADS = {
    "payroll_small": ("payroll", "2000x1000", 2),
    "registry_mix": ("registry", "5000", 4),
}

MIN_TIMED = 2
END_TO_END = {"setup_s": "s", "run_s_p50": "s", "rows_per_s": "rows/s"}
PER_LAYER = (
    ["pipelines.run_pua_s", "pipelines.run_pua_jobs", "pipelines.run_cpa_s", "pipelines.run_cpa_jobs",
     "joins.safe_merge_left_s", "joins.safe_merge_left_jobs",
     "io.read_s", "io.read_jobs", "io.write_csv_s", "io.write_excel_s", "io.write_jobs",
     "io.output_rows", "io.output_bytes",
     "spark.plan_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
     "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.executor_cpu_s",
     "spark.single_task_stage_s", "spark.no_stage_s"]
    + [f"registry.{q}_{m}" for q in REGISTRY_MIX for m in ("s", "jobs")]
    + [f"{mod}_s" for mod in dict.fromkeys(REGISTRY_MIX.values())]
    + ["pyworker_s", "trace.run_s_p50", "trace.untraced_run_s_p50", "trace.overhead_s"]
)
UNITS = {"_s": "s", "_s_p50": "s", "_bytes": "bytes", "_rows": "rows"}


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def host_reading() -> dict:
    return {"monotonic_s": time.monotonic(), "loadavg": list(os.getloadavg())}


# --------------------------------------------------------------------------
# Inputs (untimed)
# --------------------------------------------------------------------------

def prepare(workload: str, seed: int) -> str:
    """Build (or reuse) the inputs and expected outputs for (workload,
    seed, size) in a child process, which keeps the generator's and the
    oracle's memory out of the benchmark process."""
    kind, size, _ = WORKLOADS[workload]
    d = os.path.join(CACHE, "inputs", f"{workload}-s{seed}-{size}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"), kind, str(seed), size, d],
                       check=True, timeout=170)
    return d


def input_paths(d: str) -> dict:
    return {os.path.splitext(f)[0]: os.path.join(d, f) for f in os.listdir(d)
            if f.endswith((".csv", ".xlsx", ".parquet")) and not f.startswith("expected_")}


def input_rows(paths: dict) -> int:
    """Rows across every input file the workload reads."""
    import pyarrow.parquet as pq

    n = 0
    for p in paths.values():
        n += pq.read_metadata(p).num_rows if p.endswith(".parquet") else len(oracle.read_rows(p)[1])
    return n


# --------------------------------------------------------------------------
# Spark session (set-up)
# --------------------------------------------------------------------------

def spark_env() -> None:
    local = os.path.join(CACHE, "tmp")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["TMPDIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    # no JVM writes outside the checkout (hsperfdata would go to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "--conf spark.sql.ui.retainedExecutions=100 pyspark-shell"
    )


def setup_once():
    """Session build + JVM launch + first Python-worker round trip."""
    from uofi_payroll_etl_main_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# Workload iterations
# --------------------------------------------------------------------------

def _ddl(cols) -> str:
    return ", ".join(f"`{c}` string" for c in cols)


def _read_dims(spark, paths):
    return [sio.read_csv(spark, paths[n], schema=_ddl(DIM_HEADERS[n]))
            for n in ("ts_org", "ts_dept", "overtime", "te_m", "feeder")]


def payroll_small_iteration(spark, paths, out):
    pua = sio.read_excel(spark, paths["pua"])
    bw = sio.read_csv(spark, paths["cert_bw"], schema=_ddl(CERT_HEADER))
    mn = sio.read_csv(spark, paths["cert_mn"], schema=_ddl(CERT_HEADER))
    ts_org, ts_dept, overtime, te_m, _feeder = _read_dims(spark, paths)
    pua_out, _ = spipes.run_pua(pua, ts_org, ts_dept, overtime, te_m)
    sio.write_csv_single(pua_out, os.path.join(out, "pua.csv"))
    sio.write_excel(pua_out, os.path.join(out, "pua.xlsx"))
    cpa_out, _ = spipes.run_cpa(bw, mn, ts_org, ts_dept, overtime, te_m, fy_end_year=FY_END_YEAR)
    sio.write_csv_single(cpa_out, os.path.join(out, "cpa.csv"))
    sio.write_excel(cpa_out, os.path.join(out, "cpa.xlsx"))


class Registry:
    """One pass over the registry mix into the noop sink; the first
    warm-up pass collects instead, for the oracle check."""

    def __init__(self, table_dir: str):
        self.dir = table_dir
        self.tracer = None
        self.collected: dict | None = None
        from uofi_payroll_etl_main_spark.registry_core import CORE_QUERIES
        from uofi_payroll_etl_main_spark.registry_llm import LLM_QUERIES

        queries = {**CORE_QUERIES, **LLM_QUERIES}
        self.queries = {q: queries[q] for q in REGISTRY_MIX}

    def iteration(self, spark, paths, out):
        for name, fn in self.queries.items():
            if self.tracer is None:
                self._one(spark, name, fn)
            else:
                with self.tracer.span(f"registry.{name}"):
                    self._one(spark, name, fn)

    def _one(self, spark, name, fn):
        df = fn(spark, self.dir)
        if self.collected is not None:
            self.collected[name] = df.toPandas()
            return
        if self.tracer is not None:
            self.tracer.plan_seconds(df)
        df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# Output checks (untimed)
# --------------------------------------------------------------------------

class Checker:
    def __init__(self, d: str):
        self.expected = {}
        for name in ("pua", "cpa"):
            p = os.path.join(d, f"expected_{name}.csv")
            if os.path.exists(p):
                self.expected[name] = oracle.read_expected(p)
        # pickled by prepare.py, this benchmark's own child process
        p = os.path.join(d, "expected_registry.pkl")
        if os.path.exists(p):
            import pickle

            with open(p, "rb") as f:
                self.registry_expected = pickle.load(f)

    def payroll(self, out: str) -> list[str]:
        errors = []
        for name, (header, rows) in self.expected.items():
            ts = oracle.PUA_TS_COLS if name == "pua" else frozenset()
            for ext in ("csv", "xlsx"):
                p = os.path.join(out, f"{name}.{ext}")
                why = oracle.compare(header, rows, p, ts) if os.path.exists(p) else f"{p}: missing"
                if why:
                    errors.append(why)
        return errors

    def registry(self, collected: dict) -> list[str]:
        errors = []
        for name, exp in self.registry_expected.items():
            why = oracle.registry_compare(name, collected[name], exp)
            if why:
                errors.append(why)
        return errors


def output_counts(out: str) -> tuple[int, int]:
    rows = size = 0
    for f in os.listdir(out):
        p = os.path.join(out, f)
        size += os.path.getsize(p)
        rows += len(oracle.read_rows(p)[1])
    return rows, size


# --------------------------------------------------------------------------
# Driver
# --------------------------------------------------------------------------

class Bench:
    """One workload on one session: iterations, failure counts, output
    checks and, once a tracer is installed, per-layer records."""

    def __init__(self, workload: str, seed: int):
        self.dir = prepare(workload, seed)
        self.paths = input_paths(self.dir)
        self.checker = Checker(self.dir)
        self.registry = Registry(self.dir) if workload == "registry_mix" else None
        self.iterate = self.registry.iteration if self.registry else payroll_small_iteration
        self.out_root = os.path.join(CACHE, "out", f"{workload}-s{seed}-{os.getpid()}")
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None
        self.layer_records: list[dict] = []

    def once(self, k: int) -> float | None:
        """Run iteration k; returns its wall seconds, or None if it
        raised or its output failed the oracle.  Checks and trace
        collection are untimed.  Iteration 0 of the registry collects for
        the oracle."""
        out = os.path.join(self.out_root, f"it{k}")
        os.makedirs(out, exist_ok=True)
        self.attempted += 1
        collect = self.registry is not None and k == 0
        if self.registry:
            self.registry.collected = {} if collect else None
        rec = None
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                self.iterate(self.spark, self.paths, out)
            else:
                with self.tracer.iteration_scope(k) as rec:
                    self.iterate(self.spark, self.paths, out)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return None
        elapsed = time.perf_counter() - t0
        if self.registry:
            bad = self.checker.registry(self.registry.collected) if collect else []
        else:
            bad = self.checker.payroll(out)
        if rec is not None:
            self.tracer.collect(rec)
            if not self.registry:
                rec["io.output_rows"], rec["io.output_bytes"] = output_counts(out)
            self.layer_records.append(rec)
        shutil.rmtree(out, ignore_errors=True)
        if bad:
            self.failed += 1
            self.errors.extend(bad)
            return None
        return elapsed

    def loop(self, k: int, seconds: float, min_iters: int) -> tuple[list[float], int]:
        """Closed loop: iterations until `seconds` have passed and at
        least `min_iters` ran.  Returns (wall seconds per good iteration,
        next k)."""
        times, n = [], 0
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or n < min_iters:
            t = self.once(k)
            if t is not None:
                times.append(t)
            k, n = k + 1, n + 1
        return times, k


def run(args) -> dict:
    spark_env()
    bench = Bench(args.workload, args.seed)
    bench.spark, setup_s = setup_once()
    try:
        # untimed warm-up (JIT, codegen, class loading); its first
        # registry pass collects for the oracle
        warm, k = bench.loop(0, 0, WORKLOADS[args.workload][2])
        if args.trace:
            untraced, k = bench.loop(k, args.seconds / 2, 1)
            install_tracer(bench)
            traced_runs, _ = bench.loop(k, args.seconds / 2, 1)
            metrics = layer_metrics(bench, traced_runs, untraced)
            timed = untraced + traced_runs
        else:
            timed, _ = bench.loop(k, args.seconds, MIN_TIMED)
            wall = _median(timed)
            metrics = {
                "setup_s": setup_s,
                "run_s_p50": wall,
                "rows_per_s": input_rows(bench.paths) / wall,
            }
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(bench.out_root, ignore_errors=True)

    for e in bench.errors[:5]:
        print(e, file=sys.stderr)
    if not timed:
        raise SystemExit(f"{args.workload}: no timed iteration succeeded")
    print(f"# {args.workload}: set-up {setup_s:.3f}s, warm-up (wall s) {[round(t, 3) for t in warm]}, "
          f"{len(timed)} timed iterations (wall s) {[round(t, 3) for t in timed]}")
    return {"correct": bench.failed == 0, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": {m: {"value": v, "unit": unit_of(m)} for m, v in metrics.items()}}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def install_tracer(bench: Bench) -> None:
    """Wrap each layer's public functions, from the outside, in spans."""
    from tracer import Tracer

    tracer = bench.tracer = Tracer(bench.spark)
    if bench.registry:
        bench.registry.tracer = tracer
    for attr in ("read_excel", "read_csv"):
        tracer.wrap(sio, attr, "io.read")
    for attr, name in (("write_csv_single", "io.write_csv"), ("write_excel", "io.write_excel")):
        def sink(df, path, _fn=getattr(sio, attr)):
            tracer.plan_seconds(df)
            return _fn(df, path)

        setattr(sio, attr, sink)
        tracer.wrap(sio, attr, name)
    for attr in ("run_pua", "run_cpa"):
        tracer.wrap(spipes, attr, f"pipelines.{attr}")
    # run_pua calls the guard through its own module's name
    tracer.wrap(spua, "safe_merge_left", "joins.safe_merge_left")


def layer_metrics(bench: Bench, traced_times: list[float], untraced: list[float]) -> dict:
    """Per-layer medians over the traced iterations, plus the tracing
    overhead; writes the spans to .perfbench/traces/."""
    recs = bench.layer_records
    for rec in recs:
        rec["io.write_jobs"] = rec.get("io.write_csv_jobs", 0) + rec.get("io.write_excel_jobs", 0)
        for q, mod in REGISTRY_MIX.items():
            rec[f"{mod}_s"] = rec.get(f"{mod}_s", 0.0) + rec.get(f"registry.{q}_s", 0.0)
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    bench.tracer.dump(
        os.path.join(CACHE, "traces", f"{os.path.basename(bench.dir)}-{os.getpid()}.json"),
        {"iterations": recs, "traced_s": traced_times, "untraced_s": untraced})
    out = {m: statistics.median(r.get(m, 0.0) for r in recs) if recs else 0.0 for m in PER_LAYER}
    out["trace.run_s_p50"] = _median(traced_times)
    out["trace.untraced_run_s_p50"] = _median(untraced)
    out["trace.overhead_s"] = out["trace.run_s_p50"] - out["trace.untraced_run_s_p50"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = host_reading()
    result = run(args)
    end = host_reading()
    print("# host " + json.dumps({"start": start, "end": end}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Layer-attributed benchmark of the engine's registry entries.

    python3 perfbench/run.py --workload headline_overhead --seed 7 --seconds 5 --trace 0

Run from the root of a source checkout. One process and one closed-loop
client on ``local[N]``, N = the CPUs this process may use: the client
builds a registry entry, fetches its whole result to the driver with
``collect()`` (not ``count()``, which lets Catalyst prune the columns that
get checked), and only then starts the next entry.

A run is: generate the seeded inputs; set up a session ``SETUPS`` times
(``get_spark`` plus a warm-up query ladder; the first includes the JVM
launch); one first pass over the workload's entries in the fresh session;
steady passes until ``--seconds`` have elapsed; stop Spark; compute every
entry's DuckDB oracle answer on the same generated files and check every
fetched result against it. A raised entry or a mismatch is a failed
operation; entries are never dropped.

``--trace 0`` installs no wrappers and reports the end-to-end metrics.
``--trace 1`` installs the layer probes (probes.py), traces the first pass
and every odd steady pass, leaves the even ones untraced to measure the
tracing overhead, and reports the per-layer metrics as medians over the
traced steady passes. Its spans go to ``.perfbench/traces/``.

The last stdout line is the result object; the line before it holds the
run's details (machine, input sizes, sample counts, failures).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import platform
import shlex
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probes  # noqa: E402

# bench.py's HEADLINE set, in its order; bench.py itself stays frozen.
HEADLINE = (
    "tpch_q1_pricing_summary", "join_revenue_by_nation", "join_region_rollup",
    "q5_top_month_per_year", "events_tumbling_10min", "events_sessionization",
    "rdd_top5_days", "text_stats", "dedup_exact_groups", "sim_topk_bruteforce",
    "tpch_q3_shipping_priority", "tpch_q6_forecast_revenue", "decon_ngram_overlap",
)
WORKLOADS = {
    # Fixed per-query cost dominates at this scale: build-time jobs,
    # schema inference, Catalyst.
    "headline_overhead": HEADLINE,
    # k-core peel: driver-side iteration that fires jobs at build time and
    # leaves localCheckpoint blocks in executor storage. The other three
    # write files and read them back; household_e2e is the source paper's
    # own CSV -> clean -> reduce -> transform flow.
    "iterative_write": (
        "graph_kcore_peel", "pipeline_household_e2e", "export_orc_roundtrip",
        "retention_prune_days",
    ),
}
SETUPS = 3
ACCUMULATOR_ERROR = "non-existent accumulator"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nearest_rank(values: list[float], q: float) -> tuple[float, int]:
    """The q-quantile by nearest rank, and how many samples lie above it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


def warm_up(spark, data_dir: str) -> None:
    """Touch the expression families the entries use (parquet scan,
    regex, hash, explode, higher-order functions, window, join, time
    window), so first-use class loading and code generation are part of
    set-up rather than of whichever entry first needs them."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.read.parquet(os.path.join(data_dir, "region.parquet")).collect()
    one = spark.range(2).select(
        "id", F.lit("a b  c").alias("s"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("v"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    one.select(
        F.md5(F.regexp_replace(F.lower("s"), r"\s+", " ")).alias("fp"),
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x).alias("dot"),
        F.explode(F.split("s", " ")).alias("tok"),
    ).groupBy("fp").count().collect()
    one.withColumn("rn", F.row_number().over(Window.partitionBy("s").orderBy("id"))).join(
        one.select(F.col("id").alias("jid")), F.col("id") == F.col("jid")
    ).groupBy(F.window("ts", "10 minutes")).count().collect()


class Client:
    """Closed-loop client: one entry at a time, build then fetch."""

    def __init__(self, spark, registry, entries, data_dir, tracer, confs):
        self.spark = spark
        self.registry = registry
        self.entries = entries
        self.data_dir = data_dir
        self.tracer = tracer
        self.confs = confs
        self.stats = probes.SparkStats(spark)
        tracer.next_job = self.stats.next_job

    def run_pass(self, index: int, traced: bool) -> dict:
        self.tracer.enabled = traced
        out = {"index": index, "traced": traced, "latency": {}, "outcome": {}, "stats": {}}
        for name in self.entries:
            self.tracer.iteration = f"{index}:{name}"
            self.tracer.handed_dirs = []
            if traced:
                job0, stage0 = self.stats.next_job(), self.stats.next_stage()
            t0 = time.perf_counter()
            try:
                with self.tracer.span("entry", "client"):
                    with self.tracer.span("build", "plans"):
                        df = self.registry[name].fn(self.spark, self.data_dir)
                    with self.tracer.span("fetch", "spark"):
                        rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - a failed operation, counted
                out["latency"][name] = time.perf_counter() - t0
                out["outcome"][name] = ("error", f"{type(exc).__name__}: {exc}"[:400])
                continue
            out["latency"][name] = time.perf_counter() - t0
            out["outcome"][name] = (df.columns, [tuple(r) for r in rows])
            if traced:
                out["stats"][name] = self._entry_stats(df, rows, job0, stage0)
        self.tracer.enabled = False
        out["wall"] = sum(out["latency"].values())
        return out

    def _entry_stats(self, df, rows, job0: int, stage0: int) -> dict:
        st = self.stats.stages(stage0, self.stats.next_stage())
        rdds, held = self.stats.retained_storage()
        files, written = probes.dir_usage(self.tracer.handed_dirs)
        return dict(
            st, jobs=self.stats.next_job() - job0, result_rows=len(rows),
            retained_rdds=rdds, retained_storage_bytes=held,
            confs_unapplied=self.stats.confs_unapplied(self.confs),
            files_written=files, bytes_written=written,
            catalyst_ms=self.stats.catalyst_ms(df),
        )


def _ancestor(spans: list[dict], i: int, pred) -> bool:
    j = spans[i]["parent"]
    while j is not None:
        if pred(spans[j]):
            return True
        j = spans[j]["parent"]
    return False


def layer_metrics(spans: list[dict], p: dict, cores: int) -> dict[str, float]:
    """Per-layer sums for one traced pass."""
    mine = [i for i, s in enumerate(spans) if s["iteration"].split(":")[0] == str(p["index"])]

    def dur(i):
        return spans[i]["end"] - spans[i]["start"]

    def named(n):
        return [i for i in mine if spans[i]["name"] == n]

    io_layers = ("sources", "sinks")
    loads = [i for i in named("load_table") if not _ancestor(spans, i, lambda s: s["name"] == "load_table")]
    io_in_build = [
        i for i in mine
        if spans[i]["layer"] in io_layers
        and not _ancestor(spans, i, lambda s: s["layer"] in io_layers)
        and _ancestor(spans, i, lambda s: s["name"] == "build")
    ]
    writes = [
        i for i in mine
        if spans[i]["layer"] == "sinks" and spans[i]["name"] != "run_dir"
        and not _ancestor(spans, i, lambda s: s["layer"] == "sinks")
    ]
    build_s = sum(dur(i) for i in named("build"))
    st = p["stats"].values()

    def total(key):
        return sum(s[key] for s in st)

    def phase(name):
        return sum(s["catalyst_ms"].get(name, 0) for s in st)

    return {
        "session.configure_calls": len(named("configure")),
        "session.configure_s": sum(dur(i) for i in named("configure")),
        "session.confs_unapplied": max((s["confs_unapplied"] for s in st), default=0),
        "sources.load_table_calls": len(loads),
        "sources.load_table_s": sum(dur(i) for i in loads),
        "sources.load_table_jobs": sum(spans[i]["jobs"] for i in loads),
        "plans.build_s": build_s,
        "plans.build_self_s": build_s - sum(dur(i) for i in io_in_build),
        "plans.build_jobs": sum(spans[i]["jobs"] for i in named("build")),
        "spark.analysis_ms": phase("analysis"),
        "spark.optimization_ms": phase("optimization"),
        "spark.planning_ms": phase("planning"),
        "spark.fetch_s": sum(dur(i) for i in named("fetch")),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": total("executor_run_s"),
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.failed_tasks": total("failed_tasks"),
        "spark.result_rows": total("result_rows"),
        "spark.slot_idle_frac": 1 - total("executor_run_s") / (cores * p["wall"]),
        "operators.retained_storage_bytes": max((s["retained_storage_bytes"] for s in st), default=0),
        "operators.retained_rdds": max((s["retained_rdds"] for s in st), default=0),
        "sinks.write_calls": len(writes),
        "sinks.write_s": sum(dur(i) for i in writes),
        "sinks.bytes_written": total("bytes_written"),
        "sinks.files_written": total("files_written"),
    }


def unit_of(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process Spark
    started (JVM, Python worker daemon, workers) to end."""
    started = set(probes.process_tree(os.getpid())) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(probes.alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                if probes.alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def load_parity():
    spec = importlib.util.spec_from_file_location("parity", os.path.join(ROOT, "tools", "parity.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def check(parity, outcome, expected) -> str | None:
    """compare_one's test, on a result fetched earlier; None = match."""
    if outcome[0] == "error":
        return outcome[1]
    sc, sr = parity._norm_rows(*outcome)
    dc, dr = expected
    if sc != dc:
        return f"columns differ spark={sc} duck={dc}"
    if len(sr) != len(dr):
        return f"rowcount spark={len(sr)} duck={len(dr)}"
    if sr != dr:
        return f"values differ; first diffs: {[(a, b) for a, b in zip(sr, dr) if a != b][:2]}"
    return None


def measure(args: argparse.Namespace, work: str, log_path: str) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    load_1m = os.getloadavg()[0]
    tracer = probes.Tracer()
    probes.install(tracer, os.path.join(work, "warehouse"), bool(args.trace))
    import pyspark

    from bigdata_electricity_spark.plans import REGISTRY
    from bigdata_electricity_spark.session import RUNTIME_CONFS, get_spark
    from bigdata_electricity_spark.sources.loaders import TESTDATA_TABLES

    parity = load_parity()
    entries = WORKLOADS[args.workload]
    data_dir = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    manifest = inputs.generate(args.seed, data_dir, TESTDATA_TABLES)
    generate_s = time.perf_counter() - t0

    steal0, ticks0 = probes.cpu_ticks()
    rss = probes.PeakRss()
    rss.start()
    setups, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
        warm_up(spark, data_dir)
        setups.append(time.perf_counter() - t0)
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    client = Client(spark, REGISTRY, entries, data_dir, tracer, RUNTIME_CONFS)
    first = client.run_pass(0, traced=bool(args.trace))
    steady = []
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or (args.trace and len(steady) < 2):
        n = len(steady) + 1
        steady.append(client.run_pass(n, traced=bool(args.trace) and n % 2 == 1))
    stop_spark(spark)
    peak_rss = rss.stop()
    steal1, ticks1 = probes.cpu_ticks()
    steal_frac = (steal1 - steal0) / max(1, ticks1 - ticks0)

    t0 = time.perf_counter()
    con = parity.oracle_connection(data_dir)
    con.execute(f"SET threads TO {cores}")
    expected = {}
    for name in entries:
        res = con.execute(REGISTRY[name].oracle)
        expected[name] = parity._norm_rows([d[0] for d in res.description], res.fetchall())
    con.close()
    oracle_s = time.perf_counter() - t0

    failures = []
    passes = [first, *steady]
    for p in passes:
        for name in entries:
            problem = check(parity, p["outcome"][name], expected[name])
            if problem:
                failures.append(f"pass {p['index']} {name}: {problem}")
    attempted = len(passes) * len(entries)
    with open(log_path, errors="replace") as fh:
        accumulator_errors = sum(ACCUMULATOR_ERROR in line for line in fh)

    latencies = [v for p in steady for v in p["latency"].values()]
    p90, above = nearest_rank(latencies, 0.9)
    untraced = [p["wall"] for p in steady if not p["traced"]]
    if args.trace:
        traced = [p for p in steady if p["traced"]]
        per_pass = [layer_metrics(tracer.spans, p, cores) for p in traced]
        metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        traced_pass_s = statistics.median(p["wall"] for p in traced)
        first_stats = first["stats"].values()
        for phase in ("analysis", "optimization", "planning"):
            metrics[f"spark.first_{phase}_ms"] = sum(s["catalyst_ms"].get(phase, 0) for s in first_stats)
        metrics.update({
            "spark.accumulator_error_lines": accumulator_errors,
            "trace.pass_s": traced_pass_s,
            "trace.overhead_s": traced_pass_s - statistics.median(untraced),
            "trace.attributed_frac": (metrics["plans.build_s"] + metrics["spark.fetch_s"]) / traced_pass_s,
            "client.failed_ops_frac": len(failures) / attempted,
            "client.query_p50_s": statistics.median(latencies),
            "client.query_p90_s": p90,
            "process.peak_rss_mb": peak_rss / 2**20,
        })
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        spans_file = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
        with open(spans_file, "w") as fh:
            json.dump(tracer.spans, fh)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "first_pass_s": first["wall"],
            "pass_s": statistics.median(untraced),
        }
        spans_file = None
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "machine": {
            "nproc": os.cpu_count(), "cores": cores, "load_1m_at_start": load_1m, "steal_frac": steal_frac,
            "pyspark": pyspark.__version__, "java": java, "python": platform.python_version(),
        },
        "inputs": manifest, "generate_s": generate_s, "oracle_s": oracle_s,
        "setup_samples_s": setups, "steady_passes": len(steady),
        "pass_wall_s": [p["wall"] for p in passes],
        "pass_latency_s": [p["latency"] for p in passes],
        "latency_samples": len(latencies), "samples_above_p90": above,
        "accumulator_error_lines": accumulator_errors,
        "failures": failures, "spans_file": spans_file,
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Keep Spark's local files, the JVM's temp files and the workers' inside
    # the checkout, where the finally below removes them; no JVM perf-data
    # files in the system temp directory either.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") + " pyspark-shell"
    )
    sys.path.insert(0, ROOT)
    # The JVM and the Python workers inherit fd 2; capture it to count
    # scheduler error lines, and replay it when the run ends.
    log_path = os.path.join(work, "stderr.log")
    saved = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        result, detail = measure(args, work, log_path)
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)
        with open(log_path, errors="replace") as fh:
            shutil.copyfileobj(fh, sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

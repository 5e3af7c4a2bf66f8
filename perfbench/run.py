"""The repository's benchmark: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 1 --trace 0

The run generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts one Spark session at ``local[<cores>]``, runs an untimed warm-up
pass that also checks every output against DuckDB and ``WARMUP_PASSES``
more untimed passes, then runs timed passes until ``--seconds`` have
passed (at least one). With ``--trace 1`` it
then runs one more pass with spans and stage counters on and reports the
per-layer metrics instead of the end-to-end ones. The last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

End-to-end metrics (``--trace 0``):

- ``setup_s``: process start until the first pass can start: interpreter
  and engine imports, ``get_spark``, the registry import and one warm-up
  job. Input generation is not counted.
- ``cpu_s``: median CPU seconds per timed pass of the whole process tree
  (driver Python, JVM, Python workers).
- ``peak_rss_mb``: sum of the peak resident set size over that tree.

Wall-clock figures (``pass_s``, the median pass time, and ``op_s_p50``, the
median op latency) are printed on the diagnostics line only: on a VM that
shares its host they follow the host's load (``timed_steal_s``) more than
the engine.

The warm-up passes are excluded from every metric. The DuckDB oracle
queries run in a background thread during the first one.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
# The JVM keeps compiling hot code for several passes: the pass after the
# checked one costs about 1.6x the CPU of the pass after it, and that one
# 1.3x the steady figure. One more untimed pass keeps the steepest part of
# that out of cpu_s.
WARMUP_PASSES = 1
WORKLOADS = ("star_etl", "curation_warm")
ETL_JOBS = (
    "dim_staff",
    "dim_film",
    "dim_store",
    "dim_date",
    "dim_rental",
    "fact_monthly_payment",
    "fact_daily_inventory",
)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_env(work: str, cores: int) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python into
    ``work`` and return the session's extra configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.driver.extraJavaOptions": (
            # the heap is committed and touched up front, so resident
            # memory does not depend on when the collector grows the heap
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (Python daemon and workers included) has ended."""
    from pyspark import SparkContext

    from tracing import alive, tree_pids

    # taken first: once the JVM exits, its children leave this process tree
    children = tree_pids()[1:]
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while alive(children) and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive(children):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while alive(children) and time.time() < deadline:
        time.sleep(0.1)


def per_layer(bench, tracer, pass_no: int, wall: dict, cores: int, session_s: float):
    """Per-layer totals of the traced pass ``pass_no``."""
    tag = f"p{pass_no}:"
    spans = [s for s in tracer.spans if (s["op"] or "").startswith(tag)]
    stages = [s for s in tracer.stages if s["op"].startswith(tag)]

    def dur(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def stage_sum(key: str, phase: str | None = "exec") -> float:
        return sum(s.get(key, 0) for s in stages if phase in (None, s["phase"]))

    spreads = [s for s in spans if s["name"] == "io.sources.spread"]
    persists = [s for s in spans if s["name"] == "operators.cache.persist"]
    exec_s = sum(dur("operators.exec"))
    run_s = stage_sum("task_run_s")
    cpu_s = stage_sum("task_cpu_s")
    jobs = {s["op"][len(tag):]: s["end"] - s["start"] for s in spans if s["name"] == "runner.job"}
    runs = [op for op in bench.ops if op["pass"] == pass_no]
    m = {
        "session.start_s": (session_s, "s"),
        "queries.build_s": (sum(dur("queries.build")), "s"),
        "queries.build_jobs": (stage_sum("jobs", "build"), "count"),
        "io.sources.probe_calls": (len(dur("io.sources.probe")), "count"),
        "io.sources.probe_s": (sum(dur("io.sources.probe")), "s"),
        "io.sources.spread_calls": (len(spreads), "count"),
        "io.sources.spread_fired_ratio": (
            sum(s["fired"] for s in spreads) / len(spreads) if spreads else 0.0, "ratio"),
        "io.sources.scan_mb": (stage_sum("input_mb", None), "MB"),
        "io.sources.scan_rows": (stage_sum("input_rows", None), "count"),
        "operators.exec_s": (exec_s, "s"),
        "operators.jobs": (stage_sum("jobs"), "count"),
        "operators.stages": (stage_sum("stages"), "count"),
        "operators.tasks": (stage_sum("tasks"), "count"),
        "operators.single_task_stages": (stage_sum("single_task_stages"), "count"),
        "operators.task_run_s": (run_s, "s"),
        "operators.task_cpu_s": (cpu_s, "s"),
        "operators.task_wait_s": (run_s - cpu_s, "s"),
        "operators.slot_busy_ratio": (run_s / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "operators.shuffle_write_mb": (stage_sum("shuffle_write_mb"), "MB"),
        "operators.shuffle_read_mb": (stage_sum("shuffle_read_mb"), "MB"),
        "operators.spill_mb": (stage_sum("spill_mb"), "MB"),
        "operators.gc_s": (stage_sum("gc_s"), "s"),
        "operators.cache.persist_calls": (len(persists), "count"),
        "operators.cache.hit_ratio": (
            sum(s["hit"] for s in persists) / len(persists) if persists else 0.0, "ratio"),
        "operators.cache.cached_mb": (bench.cached_mb, "MB"),
        "operators.cache.release_s": (sum(dur("operators.cache.release")), "s"),
        "io.sinks.write_s": (sum(dur("io.sinks.write")), "s"),
        "io.sinks.files_written": (bench.sink_files, "count"),
        "io.sinks.mb_written": (stage_sum("output_mb"), "MB"),
        "io.sinks.partitions_written": (bench.sink_partitions, "count"),
        "runner.overhead_s": (sum(dur("runner.run")) - sum(jobs.values()), "s"),
        "runner.retries": (len(runs) - len({op["name"] for op in runs}) if jobs else 0, "count"),
        "trace.overhead_s": (wall["traced"] - wall["untraced"], "s"),
    }
    for job in ETL_JOBS:
        m[f"runner.job_s.{job}"] = (jobs.get(job, 0.0), "s")
    return m


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "filmdatawarehouse_spark", "session.py")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    extra_conf = prepare_env(work, cores)
    sys.path.insert(0, ROOT)
    import filmdatawarehouse_spark  # noqa: F401  (bind the engine under ROOT first)

    import datagen

    t = time.perf_counter()
    tables = datagen.write_tables(data_dir, args.seed)
    datagen_s = time.perf_counter() - t

    from tracing import Tracer, host_steal_s, tree_cpu_s, tree_hwm_mb
    from workloads import CURATION_OPS, ETL_ORACLES, Bench, Oracle

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    from filmdatawarehouse_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from filmdatawarehouse_spark.operators import cache
        from filmdatawarehouse_spark.queries.registry import all_queries

        all_queries()
        spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
        setup_s = time.perf_counter() - T_START - datagen_s

        etl = args.workload == "star_etl"
        bench = Bench(spark, data_dir, os.path.join(work, "target"), args.seed, tracer)
        if etl:
            queries = ETL_ORACLES
        else:
            registry = all_queries()
            queries = {name: registry[name][1] for name in CURATION_OPS}
        oracle = Oracle(data_dir, tables, queries, os.path.join(work, "duckdb"))

        def one_pass(pass_no: int) -> tuple[float, float]:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            if etl:
                bench.etl_pass(pass_no)
            else:
                bench.curation_pass(pass_no)
            return time.perf_counter() - t0, tree_cpu_s() - c0

        # untimed checked pass: creates the target, collects every output
        t = time.perf_counter()
        if etl:
            bench.etl_pass(0)
        else:
            bench.curation_pass(0, collect=True)
        phases = {"warmup_s": time.perf_counter() - t}
        t = time.perf_counter()
        if etl:
            counts_once = bench.etl_readback(oracle)
        else:
            bench.check(oracle)
        phases["check_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for pass_no in range(1, 1 + WARMUP_PASSES):
            one_pass(pass_no)
        phases["warmup_passes_s"] = time.perf_counter() - t

        timed: list[tuple[int, float, float]] = []
        next_pass = 1 + WARMUP_PASSES
        steal0 = host_steal_s()
        t_loop = time.perf_counter()
        while not timed or time.perf_counter() - t_loop < args.seconds:
            timed.append((next_pass, *one_pass(next_pass)))
            next_pass += 1
        phases["timed_steal_s"] = host_steal_s() - steal0
        traced_pass = next_pass
        if tracer is not None:
            tracer.enabled = True
            traced_wall, _ = one_pass(traced_pass)
            tracer.op = f"p{traced_pass}:release"
        # the session's cached frames are released once, at the end
        cache.release_managed()
        if tracer is not None:
            tracer.enabled = False
        if etl:
            counts = bench.etl_readback(oracle)
            for name, n in counts.items():
                if n != counts_once[name]:
                    bench.check_failures.append(f"{name} rows {counts_once[name]} -> {n}")
        peak_rss_mb = tree_hwm_mb()
    finally:
        t = time.perf_counter()
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["shutdown_s"] = time.perf_counter() - t

    timed_passes = {p for p, _, _ in timed}
    samples = [op["s"] for op in bench.ops if op["pass"] in timed_passes]
    failed_ops = sum(not op["ok"] for op in bench.ops)
    failed = failed_ops + len(bench.check_failures)
    attempted = len(bench.ops)
    pass_s = statistics.median(w for _, w, _ in timed)
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (statistics.median(c for _, _, c in timed), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    else:
        wall = {"traced": traced_wall, "untraced": pass_s}
        metrics = per_layer(bench, tracer, traced_pass, wall, cores, session_s)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))
    op_s: dict[str, list[float]] = {}
    for op in bench.ops:
        if op["pass"] in timed_passes:
            op_s.setdefault(op["name"], []).append(round(op["s"], 4))
    print("perfbench " + json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cores}]",
        "loop": "closed, 1 client",
        "timed_passes": len(timed),
        "pass_s": pass_s,
        "op_samples": len(samples),
        "op_s_p50": statistics.median(samples),
        "error_rate": failed / attempted if attempted else 1.0,
        "op_s": op_s,
        "check_failures": bench.check_failures,
        "session_start_s": session_s,
        "datagen_s": datagen_s,
        **phases,
        "total_s": time.perf_counter() - T_START,
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's workloads and their output checks.

Each workload is a closed loop with one client: every op starts when the
previous one ends. A pass runs every op of the workload once, in an order
drawn from the workload seed.

- ``star_etl``: the reference's seven-job nightly DAG
  (``warehouse.jobs.wire_reference_dag`` run by a ``runner.JobRunner``)
  over the generated Sakila source tables. Dims are written with
  ``io.sinks.write_table`` and facts with ``io.sinks.write_fact`` into
  one target that each pass reloads. One op is one DAG job.
- ``curation_warm``: ten curation queries from the registry, each built
  and run to the ``noop`` sink. Persisted frames are kept across passes,
  as in a long-lived session, and released once at the end of the run.

Output checks compare an order-insensitive value digest of the engine's
result (rows canonicalised by ``tools.driver_sim.canon``) with the same
digest of a DuckDB oracle over the generated parquet files.
"""

from __future__ import annotations

import hashlib
import os
import random
import threading
import time
from contextlib import nullcontext

import duckdb
import pandas as pd

from tools.driver_sim import canon
from tracing import cached_mb

CURATION_OPS = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_triangles",
    "text_prefix_filter_pairs",
    "text_containment_prefix_pairs",
    "graph_bfs_hops",
    "pipeline_curate_documents",
    "similarity_topk",
    "text_tfidf",
    "basket_part_pairs",
)
ETL_SOURCES = ("staff", "film", "store", "rental", "inventory", "payment")
ETL_FACTS = ("fact_daily_inventory", "fact_monthly_payment")


def _clean(cols: str, table: str) -> str:
    """DuckDB twin of ``operators.cleaning.clean`` over a projection."""
    not_null = " AND ".join(f"{c.strip()} IS NOT NULL" for c in cols.split(","))
    return f"SELECT DISTINCT {cols} FROM {table} WHERE {not_null}"


ETL_ORACLES = {
    "dim_staff": _clean("staff_id, first_name, last_name, store_id", "staff"),
    "dim_film": _clean("film_id, title, release_year, language_id", "film"),
    "dim_store": _clean("store_id, manager_staff_id, address_id", "store"),
    "dim_rental": _clean("rental_id, rental_date, inventory_id, customer_id", "rental"),
    "dim_date": """
        SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_id,
               CAST(d AS TIMESTAMP) AS full_date,
               CAST(month(d) AS INTEGER) AS month,
               CAST(year(d) AS INTEGER) AS year
        FROM (SELECT CAST(unnest(generate_series(
                  TIMESTAMP '2005-01-01', TIMESTAMP '2006-12-31',
                  INTERVAL 1 DAY)) AS DATE) AS d)""",
    "fact_daily_inventory": f"""
        SELECT CAST(strftime(r.rental_date, '%Y%m%d') AS INTEGER) AS date_id,
               i.film_id, i.store_id, count(*) AS inventory_count
        FROM ({_clean("rental_id, rental_date, inventory_id", "rental")}) r
        JOIN ({_clean("inventory_id, film_id, store_id", "inventory")}) i
          USING (inventory_id)
        GROUP BY ALL""",
    "fact_monthly_payment": f"""
        SELECT staff_id, rental_id,
               CAST(year(payment_date) * 10000 + month(payment_date) * 100 + 1
                    AS INTEGER) AS date_id,
               CAST(sum(amount) AS DECIMAL(18, 2)) AS monthly_payment_total
        FROM ({_clean("staff_id, rental_id, payment_date, amount", "payment")})
        GROUP BY ALL""",
}


def _sig12(x: float) -> float:
    # Spark and DuckDB may round a double differently in its last bit
    # (pipeline_curate_documents' avg_quality on some seeds), so numbers
    # are compared at 12 significant digits
    return float(f"{x:.12g}")


def value_digest(df: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(columns, rows, digest) of ``df``, independent of row and column
    order and of how each engine types equal values. Numbers are compared
    as doubles at 12 significant digits, timestamps as UTC."""
    frame = canon(df)
    norm = {}
    for c in frame.columns:
        s = frame[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            s = s.astype("float64").map(_sig12)
        else:
            s = s.where(s.notna(), None).astype(str)
        norm[c] = s.reset_index(drop=True)
    hashed = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False)
    digest = hashlib.blake2b(hashed.to_numpy().tobytes(), digest_size=16).hexdigest()
    return tuple(frame.columns), len(frame), digest


class Oracle:
    """Expected digests from DuckDB over the generated parquet files.

    The oracle queries run in a background thread (DuckDB releases the
    interpreter lock) while the untimed warm-up pass runs, so their cost
    stays out of the run's wall time; ``expected`` waits for them."""

    def __init__(self, data_dir: str, tables: list[str], queries: dict[str, str],
                 temp_dir: str) -> None:
        self._digests: dict[str, tuple] = {}
        self._error: BaseException | None = None
        self._thread = threading.Thread(
            target=self._run, args=(data_dir, tables, queries, temp_dir), daemon=True
        )
        self._thread.start()

    def _run(self, data_dir, tables, queries, temp_dir) -> None:
        try:
            con = duckdb.connect()
            try:
                con.execute("SET TimeZone = 'UTC'")
                con.execute("SET threads = 2")
                con.execute(f"SET temp_directory = '{temp_dir}'")
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
                for name, sql in queries.items():
                    self._digests[name] = value_digest(con.execute(sql).df())
            finally:
                con.close()
        except Exception as err:  # re-raised by expected()
            self._error = err

    def expected(self, name: str) -> tuple:
        self._thread.join()
        if self._error is not None:
            raise RuntimeError("oracle query failed") from self._error
        return self._digests[name]


class Bench:
    """State of one benchmark run: the session, its inputs and its records."""

    def __init__(self, spark, data_dir: str, target_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.target_dir = target_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.ops: list[dict] = []  # one record per op run: pass, name, s, ok
        self.check_failures: list[str] = []
        self.results: dict[str, tuple] = {}
        self.cached_mb = 0.0
        self.sink_files = 0
        self.sink_partitions = 0

    # ------------------------------------------------------------ helpers

    def _group(self, op: str, phase: str) -> None:
        group = f"{op}:{phase}"
        self.spark.sparkContext.setJobGroup(group, group)

    def _stages(self, op: str, phase: str) -> None:
        if self.tracer is not None and self.tracer.enabled:
            self.tracer.read_stages(self.spark, op, phase)

    def _record(self, pass_no: int, name: str, seconds: float, ok: bool, err=None) -> None:
        self.ops.append({"pass": pass_no, "name": name, "s": seconds, "ok": ok})
        if err is not None:
            print(f"op {name} (pass {pass_no}) failed: {type(err).__name__}: {err}")

    # ------------------------------------------------------------ curation

    def curation_pass(self, pass_no: int, collect: bool = False) -> None:
        """One pass over ``CURATION_OPS`` in seeded order; with ``collect``,
        each result is collected and digested instead of run to the noop
        sink."""
        from filmdatawarehouse_spark.queries.registry import all_queries

        registry = all_queries()
        order = list(CURATION_OPS)
        self.rng.shuffle(order)
        tr = self.tracer
        for name in order:
            op = f"p{pass_no}:{name}"
            if tr is not None:
                tr.op = op
            fn = registry[name][0]
            result = None
            t0 = time.perf_counter()
            try:
                self._group(op, "build")
                with _span(tr, "queries.build"):
                    df = fn(self.spark, self.data_dir)
                self._group(op, "exec")
                with _span(tr, "operators.exec"):
                    if not collect:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        result = df.toPandas()
                if tr is not None and tr.enabled:
                    self.cached_mb = max(self.cached_mb, cached_mb(self.spark))
            except Exception as err:  # an op failure is a measured outcome
                self._record(pass_no, name, time.perf_counter() - t0, False, err)
                continue
            self._record(pass_no, name, time.perf_counter() - t0, True)
            self._stages(op, "build")
            self._stages(op, "exec")
            if collect:
                self.results[name] = value_digest(result)

    def check(self, oracle: Oracle) -> None:
        """Compare every collected result with its oracle digest."""
        for name, got in self.results.items():
            if got != oracle.expected(name):
                self.check_failures.append(name)

    # ------------------------------------------------------------ star ETL

    def etl_pass(self, pass_no: int) -> None:
        """One nightly reload of the seven-job DAG into the target."""
        from filmdatawarehouse_spark.io import sinks
        from filmdatawarehouse_spark.warehouse.jobs import wire_reference_dag

        spark = self.spark
        sources = {
            n: spark.read.parquet(f"{self.data_dir}/{n}.parquet") for n in ETL_SOURCES
        }

        def write(name: str, df) -> None:
            path = os.path.join(self.target_dir, name)
            self._group(f"p{pass_no}:{name}", "exec")
            with _span(self.tracer, "operators.exec"):
                if name in ETL_FACTS:
                    sinks.write_fact(df, path, partition_by="date_id")
                else:
                    sinks.write_table(df, path)
            if self.tracer is not None and self.tracer.enabled:
                files, parts = _tree_counts(path)
                self.sink_files += files
                self.sink_partitions += parts

        runner = _seeded_runner(self, pass_no)
        wire_reference_dag(spark, sources, write, runner=runner)
        if self.tracer is not None:
            self.tracer.op = f"p{pass_no}:dag"
        try:
            with _span(self.tracer, "runner.run"):
                runner.run()
        except Exception as err:  # the failing job was recorded by the runner
            print(f"DAG pass {pass_no} stopped: {type(err).__name__}: {err}")
        # read after the DAG, so reading stays out of runner.overhead_s
        for op in runner.ops:
            self._stages(op, "build")
            self._stages(op, "exec")

    def etl_readback(self, oracle: Oracle) -> dict[str, int]:
        """Read every target table back with DuckDB (not Spark, so the
        check adds no jobs to the session) and compare it with the oracle;
        returns row counts."""
        counts = {}
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone = 'UTC'")
            for name in ETL_ORACLES:
                fact = name in ETL_FACTS
                files = os.path.join(self.target_dir, name, "**" if fact else "", "*.parquet")
                got = value_digest(con.execute(
                    f"SELECT * FROM read_parquet('{files}', hive_partitioning = {fact})"
                ).df())
                counts[name] = got[1]
                if got != oracle.expected(name):
                    self.check_failures.append(name)
        finally:
            con.close()
        return counts


def _span(tracer, name: str):
    return nullcontext() if tracer is None else tracer.span(name)


def _tree_counts(path: str) -> tuple[int, int]:
    """(data files, partition directories) under a written table."""
    files = parts = 0
    for root, dirs, names in os.walk(path):
        parts += sum("=" in d for d in dirs)
        files += sum(n.endswith(".parquet") for n in names)
    return files, parts


def _seeded_runner(bench: Bench, pass_no: int):
    """A JobRunner that runs its jobs in a seeded dependency-respecting
    order and records each job as one op."""
    from filmdatawarehouse_spark.runner import JobRunner

    class SeededRunner(JobRunner):
        def __init__(self) -> None:
            super().__init__()
            self.deps: dict[str, list[str]] = {}
            self.ops: list[str] = []  # op ids of the jobs that ran

        def add(self, name, fn, depends_on=None, retries=1, retry_delay_s=0.0):
            self.deps[name] = list(depends_on or [])
            return super().add(name, _timed(name, fn), depends_on, retries, retry_delay_s)

        def topo_order(self) -> list[str]:
            super().topo_order()  # keeps the base class's cycle checks
            done: list[str] = []
            while len(done) < len(self.deps):
                ready = sorted(
                    n for n, d in self.deps.items()
                    if n not in done and all(x in done for x in d)
                )
                done.append(bench.rng.choice(ready))
            return done

    def _timed(name: str, fn):
        tr = bench.tracer

        def job() -> None:
            op = f"p{pass_no}:{name}"
            if tr is not None:
                tr.op = op
            bench._group(op, "build")
            t0 = time.perf_counter()
            try:
                with _span(tr, "runner.job"):
                    fn()
            except Exception as err:
                bench._record(pass_no, name, time.perf_counter() - t0, False, err)
                raise
            bench._record(pass_no, name, time.perf_counter() - t0, True)
            runner.ops.append(op)

        return job

    runner = SeededRunner()
    return runner

"""Same-harness A/B timer for a few queries (bench.py cold protocol).

Optimization-round instrument (guide §1): times the named queries with
EXACTLY the bench cold semantics — noop sink (full materialization),
``release_managed()`` after every timed run, min over N interleaved
passes of the whole list — inside ONE session, so an A/B pair run
back-to-back shares JVM/codegen/page-cache state and the delta is the
code (or conf) under test, not the environment. The r16 builder ran
this protocol from /tmp; committed so A/B claims are reproducible.

    python tools/mini_bench.py dedup_clusters pipeline_curate_documents
    python tools/mini_bench.py --conf spark.sql.optimizer.\
canChangeCachedPlanOutputPartitioning=false text_prefix_filter_pairs

Prints one JSON line: {"queries": {name: min_cold_sec}, "passes": N,
"cpus": ..., "conf": {...}}. Also optional --warm (keep caches across
runs, like the bench warm axis).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--warm", action="store_true",
                    help="keep managed caches across runs (warm axis)")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra session conf k=v (repeatable)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from filmdatawarehouse_spark.io.sources import read_table
    from filmdatawarehouse_spark.operators.cache import release_managed
    from filmdatawarehouse_spark.queries.registry import all_queries
    from filmdatawarehouse_spark.session import get_spark

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark("mini-bench", extra_conf=extra)
    registry = all_queries()

    # same warm-up as bench.py: JVM, parquet footers, codegen paths
    read_table(spark, args.sf_dir, "lineitem").limit(1000).write.format(
        "noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for _p in range(args.passes):
        for name in args.names:
            fn = registry[name][0]
            spark.sparkContext.setJobDescription(f"mini:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite").save()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            timings[name] = min(timings.get(name, dt), dt)
            if not args.warm:
                release_managed()
    release_managed()
    print(json.dumps({
        "queries": {n: round(t, 4) for n, t in timings.items()},
        "passes": args.passes,
        "warm": args.warm,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "conf": extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

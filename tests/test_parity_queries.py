"""Every declared (query, oracle) pair must hash-match — the driver's t2 gate,
run locally at sf0.001 (set SPARK_GRAFT_TEST_SF_DIR to test other SFs)."""

from __future__ import annotations

import pytest

from filmdatawarehouse_spark.queries.registry import all_queries
from tests.conftest import assert_matches_oracle

REGISTRY = all_queries()
ORACLE_CASES = sorted(n for n, (_f, sql) in REGISTRY.items() if sql is not None)
ROWS_ONLY_CASES = sorted(n for n, (_f, sql) in REGISTRY.items() if sql is None)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn, sql = REGISTRY[name]
    assert_matches_oracle(fn(spark, sf_dir), duck, sql)


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_query_runs(spark, sf_dir, name):
    fn, _ = REGISTRY[name]
    df = fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# one query behind each spread call site (io.sources spread policy)
SPREAD_CASES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "text_containment_pairs",
    "text_prefix_filter_pairs",
    "text_containment_prefix_pairs",
    "multimodal_byte_stats_native",
]


@pytest.fixture
def narrow_spread_target(monkeypatch):
    """A 1 KiB spread target pushes the sf0.001 width to
    ``defaultParallelism``, so the scan-spread and compaction paths that
    only fire at larger SFs run here. Shared memo frames built at
    another width are released before and after."""
    from filmdatawarehouse_spark.io import sources
    from filmdatawarehouse_spark.operators.cache import release_managed

    release_managed()
    monkeypatch.setattr(sources, "SPREAD_TARGET_BYTES", 1024)
    yield
    release_managed()


@pytest.mark.parametrize("name", SPREAD_CASES)
def test_spread_paths_match_oracle(spark, duck, sf_dir, narrow_spread_target, name):
    fn, sql = REGISTRY[name]
    assert_matches_oracle(fn(spark, sf_dir), duck, sql)


def test_spread_heavy_stage_output_compacted(spark, sf_dir, narrow_spread_target):
    from filmdatawarehouse_spark.io.sources import read_table
    from filmdatawarehouse_spark.operators.dedup import simhash_values

    out = simhash_values(read_table(spark, sf_dir, "documents"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    dp = spark.sparkContext.defaultParallelism
    assert "RepartitionByExpression [doc_id" in plan and f"], {dp}" in plan
    assert out.rdd.getNumPartitions() == 1


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    # driver checks a stable schema
    assert [f.name for f in df.schema.fields] == ["p_name", "total_quantity"]


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 13

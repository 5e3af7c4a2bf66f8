"""The two spread rules of ``io.sources`` differ on purpose: on the
sf0.001 documents scan (1 planned partition, ~28 KB estimated, so width
1 at the default 32 KiB target) the scan rule leaves the scan alone
while the mid-plan rule still key-partitions its frame. A change that
merges the rules changes three pair-query plans and fails here."""

from __future__ import annotations

import re

import pytest

from filmdatawarehouse_spark.io import sources
from filmdatawarehouse_spark.io.sources import (
    read_table,
    spread_mid_plan,
    spread_unsplittable_scan,
)


@pytest.fixture
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select("doc_id", "text")


def _hash_width(df) -> int | None:
    """Width of ``df``'s top-level repartition on ``doc_id``, or None."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    m = re.match(r"RepartitionByExpression \[doc_id#\d+L?\], (\d+)", plan)
    return int(m.group(1)) if m else None


def test_default_target_only_mid_plan_rule_fires(docs):
    assert sources.planned_partitions(docs) == 1
    assert sources.plan_size_bytes(docs) < sources.SPREAD_TARGET_BYTES
    assert sources.adaptive_spread_width(docs) == 1

    assert spread_unsplittable_scan(docs, "doc_id") is docs

    frame = docs.select("doc_id")
    out = spread_mid_plan(frame, "doc_id", scan=docs)
    assert out is not frame
    assert _hash_width(out) == 1
    assert out.rdd.getNumPartitions() == 1


def test_small_target_both_rules_fire_at_default_parallelism(
    spark, docs, monkeypatch
):
    monkeypatch.setattr(sources, "SPREAD_TARGET_BYTES", 1024)
    dp = spark.sparkContext.defaultParallelism
    assert dp > 1

    spread = spread_unsplittable_scan(docs, "doc_id")
    assert _hash_width(spread) == dp
    assert spread.rdd.getNumPartitions() == dp

    mid = spread_mid_plan(docs.select("doc_id"), "doc_id", scan=docs)
    assert _hash_width(mid) == dp
    assert mid.rdd.getNumPartitions() == dp

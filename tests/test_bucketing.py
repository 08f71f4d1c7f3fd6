"""Bucketed-table audits: the self-join over a bucketed key table
produces identical pairs with the join-side shuffles GONE from the
physical plan, and bucket-column lookups prune to a single bucket."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from el import blocking
from el.bucketing import bucket_lookup, bucketed_block_keys
from el.fixtures import gen_web_pages
from el.pipeline import PipelineConfig, mentions_stage

N_BUCKETS = 8


@pytest.fixture(scope="module")
def keys(spark):
    pages = gen_web_pages(spark, 250)
    m = mentions_stage(pages, PipelineConfig(use_lsh=False, use_topics=False))
    k, _ = blocking.cap_blocks(blocking.name_token_keys(m))
    return k.localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def bucketed(spark, keys, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bkt") / "block_keys")
    return bucketed_block_keys(keys, path, n_buckets=N_BUCKETS)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    """explain("formatted") as a string — the only mode that prints
    scan metadata (Bucketed / SelectedBucketsCount) untruncated."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_pairs_equal_plain_pairs(spark, keys, bucketed):
    plain = sorted(
        map(tuple, blocking.candidate_pairs(keys).collect())
    )
    bkt = sorted(
        map(tuple, blocking.candidate_pairs(bucketed).collect())
    )
    assert bkt == plain and len(bkt) > 0


def test_bucketed_selfjoin_has_no_join_exchange(spark, keys, bucketed):
    """The join keys (strategy, block_key, salt) are a superset of the
    bucket key, so the scan's HashPartitioning satisfies the join's
    distribution: both join-side Exchanges disappear; the ONLY
    remaining Exchange is the final pair-dedup groupBy (different
    key). Auto-broadcast is disabled so small fixture tables can't
    sidestep the comparison."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_b = _plan(blocking.candidate_pairs(bucketed))
        plan_p = _plan(blocking.candidate_pairs(keys))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan_b
    # plain: 2 join-side exchanges + 1 aggregation exchange
    assert plan_p.count("Exchange") == 3, plan_p
    # bucketed: aggregation exchange only
    assert plan_b.count("Exchange") == 1, plan_b


def test_bucket_lookup_prunes_to_one_bucket(spark, keys, tmp_path_factory):
    """Bucket pruning needs a SINGLE bucket column: a block_key-
    bucketed layout turns point lookups into a 1/N-bucket scan."""
    from el.bucketing import write_bucketed

    path = str(tmp_path_factory.mktemp("bkt1") / "block_keys_1col")
    t = write_bucketed(
        keys, "block_keys_1col", path,
        bucket_cols=["block_key"], n_buckets=N_BUCKETS,
    )
    some_key = t.select("block_key").first()[0]
    from el.bucketing import _AUTO_BUCKETED_SCAN, bucket_lookup_scope

    prev = spark.conf.get(_AUTO_BUCKETED_SCAN)
    with bucket_lookup_scope(spark):
        df = bucket_lookup(spark, "block_keys_1col", "block_key", some_key)
        plan = _formatted(df)
        assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in plan, plan
        # the pruned-scan assertion helper agrees
        from el.bucketing import assert_single_bucket_scan

        assert_single_bucket_scan(df)
        # and the lookup still returns the right rows
        n = df.count()
    assert n == keys.where(F.col("block_key") == F.lit(some_key)).count() > 0
    # the scope restores the planner flag — no session leak
    assert spark.conf.get(_AUTO_BUCKETED_SCAN) == prev
    # outside the scope the lookup warns about lost pruning
    # and the helper rejects the unpruned plan
    import warnings

    import pytest

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df_out = bucket_lookup(
            spark, "block_keys_1col", "block_key", some_key
        )
        assert any("bucket_lookup_scope" in str(w.message) for w in caught)
    with pytest.raises(AssertionError):
        from el.bucketing import assert_single_bucket_scan

        assert_single_bucket_scan(df_out)


def test_bucketed_scan_is_deterministic_input(spark, keys, bucketed):
    """Bucket assignment is a pure function of the key — rewriting the
    same rows yields the same per-bucket row multiset (the property
    that makes bucketed joins co-located across INDEPENDENTLY written
    tables of the same key domain)."""
    counts = (
        bucketed.groupBy(F.spark_partition_id().alias("b"))
        .count()
        .collect()
    )
    assert sum(r["count"] for r in counts) == keys.count()

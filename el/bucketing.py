"""Bucketed storage: pay the corpus-sized shuffle ONCE at write time,
then join shuffle-free forever after (SURVEY.md §2 scale posture;
Iceberg expresses the identical layout as a ``bucket(N, col)``
partition transform).

Why this matters at 100 TB: the candidate-pair self-join shuffles the
entire block-key table on every run, and the scoring feature attach
shuffles the corpus-sized vector table whenever the broadcast knob is
off (`el/scoring.py`, ``broadcast_features=False``). Both shuffles are
on a STABLE key. A table written with ``bucketBy(N, keys...)`` is
hash-partitioned into N bucket files per write partition at write
time; Spark's scan then reports ``HashPartitioning(keys, N)`` as its
output partitioning, which satisfies the join's required clustered
distribution — the planner drops the Exchange on that side entirely.
A self-join of one bucketed table shuffles NEITHER side. ``sortBy``
additionally persists within-bucket order so the sort-merge join's
Sort node reads pre-sorted runs.

Spark 4 caveat (empirically pinned in tests/test_bucketing.py): the
co-partition check demands the bucket columns equal the FULL join-key
set (``spark.sql.requireAllClusterKeysForCoPartition``, default
true) — a subset-bucketed table still shuffles. So the pair-join
table buckets on exactly (strategy, block_key, salt), and bucket
PRUNING (which only supports a single bucket column) gets its own
single-column layout when point lookups matter.

Equality filters on the (single) bucket column also prune buckets at
scan time (``SelectedBucketsCount: 1 out of N`` — a 1/N scan for key
lookups, the same pruning an Iceberg bucket-partitioned table gives).

Sandbox note: bucketing metadata lives in the Spark session catalog
(``saveAsTable``); this sandbox has no Hive metastore, so tables are
registered in the in-memory catalog and the parquet files live at an
explicit external ``path``. On a production cluster the same code
runs against a persistent metastore (or the Iceberg catalog's bucket
transform) unchanged. All audited in tests/test_bucketing.py.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Write ``df`` as an external bucketed+sorted parquet table and
    return the registered table's DataFrame.

    ``n_buckets`` is the amortized-shuffle fan-out: at 100 TB pick it
    so one bucket of the LARGEST co-bucketed table fits an executor's
    task comfortably (buckets are the task granularity of every
    subsequent shuffle-free join; they cannot be split further by
    AQE). Bucket-prunable lookups need a single bucket column."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    writer.saveAsTable(name)
    return spark.table(name)


def bucketed_block_keys(
    keys: DataFrame, path: str, n_buckets: int = 32, name: str = "block_keys_b"
) -> DataFrame:
    """Persist a block-key table bucketed on exactly the pair-join key
    (strategy, block_key, salt) — `blocking.candidate_pairs` over the
    returned table then runs with NO exchange on either side (the
    corpus-sized shuffle happened once, at this write)."""
    return write_bucketed(
        keys,
        name,
        path,
        bucket_cols=["strategy", "block_key", "salt"],
        n_buckets=n_buckets,
    )


_AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


@contextmanager
def bucket_lookup_scope(spark: SparkSession):
    """Turn ``autoBucketedScan`` OFF for the duration of the block and
    restore the prior value on exit.

    Spark's ``autoBucketedScan`` optimization disables bucketed
    reading for plans with no distribution-interested operator — a
    bare point-lookup filter qualifies, which silently forfeits bucket
    pruning ("Bucketed: false (disabled by query planner)"). The flag
    is read lazily at plan-compile time, so a helper that flips it and
    returns a lazy DataFrame either leaks the setting session-wide
    or restores it too early for the plan to see. This scope makes the
    toggle explicit: compile AND execute lookups inside it. Joins are
    unaffected either way (their distribution interest keeps the
    bucketed scan on).

    Thread-safety caveat: the toggle is a SESSION-global
    conf, so concurrent queries compiled on the same SparkSession while
    a scope is open also see autoBucketedScan=false — correct results,
    possibly unpruned-or-differently-planned scans. Don't hold the
    scope around unrelated concurrent work; for isolation, plan
    lookups on ``spark.newSession()`` (separate conf, shared catalog/
    warehouse), which is what a multi-tenant lookup service should do
    anyway."""
    prev = spark.conf.get(_AUTO_BUCKETED_SCAN)
    spark.conf.set(_AUTO_BUCKETED_SCAN, "false")
    try:
        yield
    finally:
        spark.conf.set(_AUTO_BUCKETED_SCAN, prev)


def bucket_lookup(spark: SparkSession, name: str, col: str, value) -> DataFrame:
    """Point lookup on the bucket column — scans exactly one bucket
    (``SelectedBucketsCount: 1 out of N`` in the physical scan) when
    planned and executed inside :func:`bucket_lookup_scope`. Outside
    the scope the lookup is still correct, just unpruned — and warns
    (silent perf forfeiture is the failure mode here; use
    :func:`assert_single_bucket_scan` in tests to make pruning a hard
    invariant)."""
    import warnings

    from pyspark.sql import functions as F

    if spark.conf.get(_AUTO_BUCKETED_SCAN, "true") != "false":
        warnings.warn(
            "bucket_lookup planned outside bucket_lookup_scope: "
            "autoBucketedScan will disable bucket pruning for this "
            "point lookup (correct results, full scan). Wrap the "
            "lookup's plan AND action in bucket_lookup_scope(spark).",
            stacklevel=2,
        )
    return spark.table(name).where(F.col(col) == F.lit(value))


def assert_single_bucket_scan(df: DataFrame) -> None:
    """Raise unless ``df``'s physical scan prunes to exactly one
    bucket. A pruned-scan assertion helper for tests and jobs that
    treat lookup pruning as a correctness-of-plan invariant."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    if not m:
        raise AssertionError(
            "no bucket pruning in plan (SelectedBucketsCount absent) — "
            "was the lookup planned inside bucket_lookup_scope?"
        )
    if int(m.group(1)) != 1:
        raise AssertionError(
            f"scan reads {m.group(1)} of {m.group(2)} buckets, want 1"
        )

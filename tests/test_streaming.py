"""Structured Streaming: the stream plan over a file source must agree
with the batch twin on the same rows; stateful dedup and the
foreachBatch catalog sink are exercised for real (availableNow)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from el.catalog import HadoopParquetCatalog
from el.streaming import (
    dedup_stream,
    read_catalog_stream,
    session_counts,
    sink_to_catalog,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_src"))
    spark.read.parquet(f"{SF}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _run_stream_to_memory(spark, sdf, name, tmp):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{tmp}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_window_counts_equal_batch(spark, events_dir, tmp_path):
    batch = spark.read.parquet(events_dir)
    schema = batch.schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    got = _run_stream_to_memory(
        spark, windowed_counts(stream, window="1 hour"), "win_counts",
        str(tmp_path),
    )
    want = windowed_counts(batch, window="1 hour")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_session_counts_equal_batch(spark, events_dir, tmp_path):
    batch = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    got = _run_stream_to_memory(
        spark, session_counts(stream), "sess_counts", str(tmp_path)
    )
    want = session_counts(batch)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_by_url(spark, tmp_path):
    from el.fixtures import gen_web_pages

    d = str(tmp_path / "pages_src")
    pages = gen_web_pages(spark, 300)  # ~2% re-crawled urls
    pages.write.mode("overwrite").parquet(d)
    n_urls = pages.select("url").distinct().count()
    assert pages.count() > n_urls, "fixture should contain re-crawls"

    stream = spark.readStream.schema(pages.schema).parquet(d)
    deduped = dedup_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_pages")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_pages")
    assert got.count() == n_urls
    assert got.groupBy("url").count().where("count > 1").count() == 0


def test_stateful_user_stats_across_microbatches(spark, events_dir, tmp_path):
    """ST6: applyInPandasWithState must carry per-key state across
    REAL micro-batches (maxFilesPerTrigger=1 over a 4-file source)
    and its final per-key emission must equal the batch twin."""
    from el.streaming import user_event_stats

    batch = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = (
        user_event_stats(stream)
        .writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_stats"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("user_stats")
    # update mode appends one emission per (key, micro-batch); with 4
    # files there must be keys emitted more than once (state carried)
    re_emitted = emitted.groupBy("user_id").count().where("count > 1").count()
    assert re_emitted > 0, "expected multiple micro-batches per key"
    # final state per key = emission with the largest n_events
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        emitted.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    want = user_event_stats(batch)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_sink_to_catalog_commits_batches(spark, events_dir, tmp_path):
    cat = HadoopParquetCatalog(str(tmp_path / "cat"))
    batch = spark.read.parquet(events_dir)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
    )
    q = sink_to_catalog(stream, cat, "events_ingest", str(tmp_path / "ckpt_sink"))
    q.awaitTermination(120)
    back = read_catalog_stream(spark, cat, "events_ingest")
    assert back.count() == batch.count()
    # every micro-batch has a manifest with per-file lineage
    m = cat.metrics(spark)
    assert m.where(F.col("stage") == "events_ingest").count() >= 1


def test_read_catalog_stream_reads_replayed_batch_once(spark, tmp_path):
    """A replayed epoch commits its micro-batch table again, as a new
    version beside the first; neither that retained version nor a
    crashed in-flight write is read as another batch."""
    cat = HadoopParquetCatalog(str(tmp_path / "cat"))
    batch = spark.range(5).select(F.col("id").alias("event_id"))
    for _ in range(2):
        cat.write(batch, "events_ingest__batch_000000", run_id="epoch0",
                  stage="events_ingest")
    assert cat.versions("events_ingest__batch_000000") == [0, 1]
    batch.write.parquet(cat._dir("events_ingest__batch_000001", 0))
    back = read_catalog_stream(spark, cat, "events_ingest")
    assert sorted(r.event_id for r in back.collect()) == list(range(5))


def test_read_catalog_stream_with_no_committed_batch_raises(spark, tmp_path):
    """A sink prefix with no committed micro-batch yet is a missing
    table, not an index error."""
    cat = HadoopParquetCatalog(str(tmp_path / "cat"))
    cat.write(spark.range(3), "other", run_id="r1")
    with pytest.raises(FileNotFoundError):
        read_catalog_stream(spark, cat, "events_ingest")


def test_streaming_extraction_matches_batch(spark, tmp_path):
    """The streaming ingest commits exactly the mentions the batch
    stage computes on the same pages (same kernels, same dedup)."""
    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, mentions_stage
    from el.streaming import ingest_pages_stream

    pages = gen_web_pages(spark, 300).localCheckpoint()
    src = str(tmp_path / "pages_in")
    pages.write.mode("overwrite").parquet(src)

    cat = HadoopParquetCatalog(str(tmp_path / "cat"))
    q = ingest_pages_stream(spark, src, cat, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    got = read_catalog_stream(spark, cat, "mentions_stream")

    want = mentions_stage(pages, PipelineConfig())
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows


def test_stateful_value_rollup_new_api_across_microbatches(
    spark, events_dir, tmp_path
):
    """ST7: transformWithStateInPandas (Spark 4's handle-based
    arbitrary-state API) must carry typed ValueState across REAL
    micro-batches and the final per-key emission must equal the batch
    twin EXACTLY (int64-quantized sums — no float drift).

    The TWS runtime needs google.protobuf (its state-server protocol);
    absent in this container, so the streaming half is importorskip-
    gated (same policy as the Iceberg jar). The batch twin and the
    clear-error gate are tested unconditionally below."""
    from el.streaming import user_value_rollup

    batch = spark.read.parquet(events_dir)
    # batch twin always works; exact decimal-quantized sums
    twin = user_value_rollup(batch)
    assert twin.count() > 0
    assert twin.columns == ["user_id", "n_events", "total_value"]

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        stream0 = spark.readStream.schema(batch.schema).parquet(events_dir)
        with pytest.raises(RuntimeError, match="google.protobuf"):
            user_value_rollup(stream0)
        pytest.skip("google.protobuf absent: TWS runtime env-blocked")

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = (
        user_value_rollup(stream)
        .writeStream.format("memory")
        .queryName("value_rollup")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rollup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("value_rollup")
    re_emitted = emitted.groupBy("user_id").count().where("count > 1").count()
    assert re_emitted > 0, "expected multiple micro-batches per key"
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        emitted.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    want = user_value_rollup(batch)
    assert sorted(map(tuple, final.collect())) == sorted(
        map(tuple, want.collect())
    )

"""Structured Streaming ingestion surface (SURVEY.md §2.10).

The batch pipeline is the north rule; streaming is the ingestion edge:
new crawl batches appended to ``web_pages`` and event streams rolled
up with event-time semantics. Batch-first rule: every op here is
written against a plain DataFrame, so the SAME function serves the
batch twin (testable vs the DuckDB oracle) and the streaming plan
(``spark.readStream`` + watermark); pytest runs both and asserts they
agree.

Operators:
- ST1 watermarking: ``with_watermark`` (late rows beyond the horizon
  are dropped from state, not silently kept unbounded)
- ST2 tumbling/sliding windows: ``windowed_counts``
- ST3 session windows: ``session_counts`` (gap-merged)
- ST4 stateful stream dedup: ``dedup_stream`` via
  ``dropDuplicatesWithinWatermark`` on url (late/duplicate re-crawls)
- ST5 streaming sink: ``sink_to_catalog`` — ``foreachBatch`` committing
  each micro-batch atomically through the el.catalog manifest path
  (exactly-once per micro-batch re-delivery: batch id in table name,
  overwrite-idempotent)
- ST6 custom stateful operator: ``user_event_stats`` — per-key
  incremental state via ``applyInPandasWithState`` (count/first/last
  per user, state carried across micro-batches; the batch twin is a
  plain groupBy with a DuckDB oracle, and the stream's final state
  must equal it — asserted in tests)
- ST7 custom stateful operator on the NEW API: ``user_value_rollup``
  via ``transformWithStateInPandas`` (handle-based typed ValueState;
  int64-quantized exact sums so stream state == batch twin bit-for-
  bit across micro-batches)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from el.catalog import HadoopParquetCatalog


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "1 hour"):
    """ST1: event-time watermark (no-op marker on a batch DataFrame).

    The event-time column is cast TIMESTAMP_NTZ -> TIMESTAMP first
    (watermarks require LTZ; the session TZ is pinned UTC in el.conf,
    so values are unchanged) — applied to batch too, so the batch twin
    evaluates the identical expression."""
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, delay) if df.isStreaming else df


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """ST2: tumbling (or sliding) event-time counts + exact value sum.
    Same expression for batch and stream; epoch-aligned windows."""
    src = with_watermark(df, ts_col, watermark)
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        src.groupBy(win.alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
            "total_value",
        )
    )


def session_counts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """ST3: gap-merged session windows per key: a new session starts
    when the inter-event gap is >= ``gap`` (session end is exclusive
    ``last_ts + gap``)."""
    src = with_watermark(df, ts_col, watermark)
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def dedup_stream(
    pages: DataFrame, key: str = "url", watermark: str = "1 hour",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """ST4: stateful dedup by url within the watermark horizon (state
    is bounded: entries older than the watermark are evicted)."""
    pages = pages.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if pages.isStreaming:
        return pages.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [key]
        )
    return pages.dropDuplicates([key])


def user_event_stats(
    df: DataFrame, key_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """ST6: per-key event stats (n_events, first_ts, last_ts) as a
    CUSTOM stateful operator.

    Batch twin: plain groupBy (count/min/max — order-independent and
    exact, so the DuckDB oracle applies). Streaming: per-key state
    (n, first_us, last_us) maintained with ``applyInPandasWithState``
    — each micro-batch folds its rows into the key's state and emits
    the updated stats row, so the LAST emission per key equals the
    batch answer over the full input (asserted in
    tests/test_streaming.py across multiple real micro-batches).
    State is three scalars per key — bounded by key cardinality, not
    event count; timestamps are held as int64 epoch-micros (exact).
    """
    fmt = "yyyy-MM-dd HH:mm:ss"
    if not df.isStreaming:
        return df.groupBy(key_col).agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min(ts_col), fmt).alias("first_ts"),
            F.date_format(F.max(ts_col), fmt).alias("last_ts"),
        )

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key_col} long, n_events long, first_ts string, last_ts string"
    )
    state_schema = "n long, first_us long, last_us long"

    def fold(key, pdfs, state):
        n, first_us, last_us = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            us = pd.to_datetime(pdf[ts_col]).astype("datetime64[us]").astype(
                "int64"
            )
            if len(us) == 0:
                continue
            n += len(us)
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, first_us, last_us))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "first_ts": [
                    pd.Timestamp(first_us, unit="us").strftime(
                        "%Y-%m-%d %H:%M:%S"
                    )
                ],
                "last_ts": [
                    pd.Timestamp(last_us, unit="us").strftime(
                        "%Y-%m-%d %H:%M:%S"
                    )
                ],
            }
        )

    src = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return src.groupBy(key_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_value_rollup(
    df: DataFrame, key_col: str = "user_id", val_col: str = "value"
) -> DataFrame:
    """ST7: per-key exact value rollup (n_events, total_value) as a
    CUSTOM stateful operator on the ``transformWithStateInPandas`` API
    (Spark 4's arbitrary-state successor to applyInPandasWithState —
    handle-based typed state, timers, TTL).

    Exactness across both twins: the value is quantized JVM-side to
    int64 micro-units via a decimal(28,6) cast BEFORE the stateful op,
    so the streaming state accumulates integers (order-independent,
    exact) and the final emission per key equals the batch twin's
    decimal-sum answer bit-for-bit. State is two int64s per key:
    bounded by key cardinality, not event count.

    ENVIRONMENT GATE: the transformWithStateInPandas runtime requires
    the ``google.protobuf`` Python package (its state-server protocol
    is protobuf-framed), which is absent in this container — verified:
    the driver worker crashes with ImportError in
    StateMessage_pb2. The streaming branch therefore raises a clear
    RuntimeError here when protobuf is missing; the batch twin always
    works, and the streaming path is exercised by
    tests/test_streaming.py whenever protobuf is available
    (pytest.importorskip)."""
    us = (F.col(val_col).cast("decimal(28,6)") * 1_000_000).cast("long")
    quantized = df.withColumn("_value_us", us)
    if not df.isStreaming:
        return quantized.groupBy(key_col).agg(
            F.count("*").alias("n_events"),
            (F.sum("_value_us") / 1_000_000.0).alias("total_value"),
        )

    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "transformWithStateInPandas requires the google.protobuf "
            "package (absent in this environment); use the batch twin "
            "or el.streaming.user_event_stats (applyInPandasWithState)"
        ) from e

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = f"{key_col} long, n_events long, total_value double"

    class _Rollup(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n long, total_us long")

        def handleInputRows(self, key, rows, timerValues):
            got = self._agg.get()
            n, total_us = got if got is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                total_us += int(pdf["_value_us"].sum())
            self._agg.update((n, total_us))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "total_value": [total_us / 1_000_000.0],
                }
            )

        def close(self) -> None:
            pass

    return quantized.groupBy(key_col).transformWithStateInPandas(
        _Rollup(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def sink_to_catalog(
    stream: DataFrame,
    catalog: HadoopParquetCatalog,
    table: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """ST5: commit each micro-batch atomically via the catalog (one
    manifest per batch; replays of the same epoch overwrite the same
    table name, so re-delivery is idempotent)."""

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        catalog.write(
            batch_df,
            f"{table}__batch_{epoch_id:06d}",
            run_id=f"epoch{epoch_id}",
            stage=table,
        )

    writer = (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_catalog_stream(
    spark, catalog: HadoopParquetCatalog, table_prefix: str
) -> DataFrame:
    """Union of the live versions of every committed micro-batch table
    for a sink prefix (each once: a replayed epoch commits a new
    version of its batch table, and an in-flight write is not live)."""
    return catalog.read_all(spark, catalog.tables(f"{table_prefix}__batch_"))


def ingest_pages_stream(
    spark,
    src_dir: str,
    catalog: HadoopParquetCatalog,
    checkpoint_dir: str,
    langs: tuple[str, ...] = ("en",),
    watermark: str = "1 hour",
):
    """Streaming twin of the extraction stage: readStream(web_pages)
    -> stateful url dedup within the watermark -> lang gate ->
    EXTRACT_SPEC v1 -> mention rows -> per-micro-batch catalog commit.

    The transformation chain is the SAME code the batch pipeline runs
    (el.extract), applied to a streaming DataFrame — Structured
    Streaming's incrementalization handles the rest. Late re-crawls
    beyond the watermark are dropped from dedup state (bounded state);
    the catalog sink gives each micro-batch an atomic manifest commit,
    so a crashed stream restarts from the Spark checkpoint and
    re-commits idempotently.
    """
    from el.extract import extract_mentions
    from el.schemas import WEB_PAGES

    pages = spark.readStream.schema(WEB_PAGES).parquet(src_dir)
    deduped = dedup_stream(pages, key="url", watermark=watermark,
                           ts_col="warc_ts")
    gated = deduped.where(F.col("lang").isin(*langs))
    mentions = extract_mentions(gated)
    return sink_to_catalog(
        mentions, catalog, "mentions_stream", checkpoint_dir
    )


def stream_incremental_er(
    spark,
    src_dir: str,
    catalog: HadoopParquetCatalog,
    checkpoint_dir: str,
    rc=None,
    max_files_per_trigger: int | None = None,
):
    """Continuous crawl ingestion: readStream(web_pages) ->
    foreachBatch -> el.incremental.incremental_update. Each
    micro-batch of crawled pages is absorbed with delta-touched-block
    scoring and marker-gated atomic commits — the streaming twin of
    the batch absorb job.

    Effectively-once without a transactional sink: a replayed
    micro-batch's urls are already in the committed mentions set, so
    the ingest anti-join absorbs the replay as a no-op (new_mentions
    = 0; only an empty, unmarked mentions delta commits). The stream
    checkpoint only decides WHEN a file is offered; the catalog's
    batch markers decide what is committed. Returns (StreamingQuery, reports list) — one report
    dict per non-empty micro-batch, appended as epochs complete."""
    from el.incremental import incremental_update
    from el.schemas import WEB_PAGES

    reader = spark.readStream.schema(WEB_PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(src_dir)
    reports: list[dict] = []

    def absorb(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = incremental_update(
            batch_df.sparkSession, batch_df, catalog, rc
        )
        reports.append({"epoch": int(epoch_id), **out["report"]})

    q = (
        pages.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return q, reports

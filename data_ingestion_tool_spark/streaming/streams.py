"""Streaming sources, stateful transforms, and sinks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from data_ingestion_tool_spark.functions import dec_sum

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events_from_directory(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str = EVENTS_SCHEMA,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: new files under ``path`` become micro-batch
    input. Streaming requires an explicit schema (no inference)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_counts_stream(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time windows per event type with a watermark —
    the streaming twin of operators.events.tumbling_hourly. The
    watermark bounds state: windows older than (max event time -
    watermark) finalize and evict."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_counts_stream(
    events: DataFrame,
    *,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming session windows — same ``session_window`` expression
    as the batch operator, plus the state-bounding watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def purchases_after_clicks_stream(
    events: DataFrame,
    *,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each click paired with the same
    user's purchases inside ``within`` after it.

    Both sides carry watermarks and the join condition bounds event
    time in both directions, so the state store can evict rows once
    they can no longer match — the unbounded-state trap of a plain
    stream-stream equi-join is avoided.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + interval {within}"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def enriched_events_stream(
    events: DataFrame,
    user_dim: DataFrame,
    *,
    on: str = "user_id",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins against a static dimension (user/customer attributes).

    Unlike stream-stream joins this is stateless — no watermark, no
    join state store: the static side is (re)read every micro-batch,
    so a dimension table that updates between batches is picked up
    automatically. The dimension is explicitly broadcast: at 100 TB/day
    stream volume the dim side is the small side by orders of
    magnitude, and a shuffle of the stream inside a micro-batch would
    dominate the trigger interval."""
    return events.join(F.broadcast(user_dim), on, "left")


def dedup_events_stream(
    events: DataFrame,
    *,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins, duplicates
    arriving within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes the first sighting — bounded state, unlike an
    unbounded ``dropDuplicates`` which must remember every key forever.
    The streaming twin of dedup.dedup_exact_docs/dedup_first_event.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value total) maintained across micro-batches.

    State is one small fixed-width tuple per user_id — partitioned by
    key across executors, checkpointed with the query, no driver
    involvement. Emits the updated running row for every user seen in
    the current batch (update semantics).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def high_watermark_alerts_stream(events: DataFrame) -> DataFrame:
    """Per-user high-water-mark alerts via ``transformWithStateInPandas``
    (the Spark-4 arbitrary-state API): emit a row only when a user's
    ``value`` exceeds every value previously seen for that user.

    Demonstrates the typed-state surface that supersedes
    ``applyInPandasWithState``: named ``ValueState`` registered in
    ``init`` against a schema, per-key isolation, checkpoint recovery.
    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` →
    ``...state.RocksDBStateStoreProvider``) — the store transformWithState
    is built on; HDFS-backed state is not supported for this operator.
    Also requires ``google.protobuf`` (the TWS state-server wire
    protocol); in environments without it the query fails at start
    with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE and the
    pytest is skip-gated on the same import.
    State per user is one double — size is O(distinct keys), spread
    across executors by the grouping.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class HighWater(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._hwm = handle.getValueState("hwm", "m double")

        def handleInputRows(self, key, rows, timerValues):
            prev = self._hwm.get()
            prev_m = prev[0] if prev is not None else float("-inf")
            best = prev_m
            for pdf in rows:
                vals = pdf["value"].dropna()
                if len(vals):
                    best = max(best, float(vals.max()))
            if best > prev_m:
                self._hwm.update((best,))
                yield pd.DataFrame(
                    {"user_id": [key[0]], "high_value": [best]}
                )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=HighWater(),
        outputStructType="user_id long, high_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_ingest(
    spark: SparkSession,
    path: str,
    table_name: str,
    metadata: dict,
    *,
    checkpoint_dir: str,
    schema: StructType | str | None = None,
    fmt: str = "csv",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming ingestion: files landing under ``path`` stream through
    the compiled validation split into ``table`` / ``table_error`` —
    the streaming twin of pipeline.execute_ingest.

    The validation expressions are the SAME compiled plan as batch
    (validate_and_split); foreachBatch applies it per micro-batch so
    both sides of the split write in one pass each. Checkpointing makes
    delivery exactly-once per input file; a continuously-landing 100 TB
    feed ingests incrementally instead of via full-directory rescans.
    """
    from data_ingestion_tool_spark.sinks.tables import write_split
    from data_ingestion_tool_spark.validate import validate_and_split

    reader = spark.readStream.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    stream = reader.load(path)

    defining_session = spark

    def sink(batch_df, batch_id: int) -> None:
        write_split([validate_and_split(batch_df, metadata)], table_name)
        for t in (table_name, f"{table_name}_error"):
            try:
                defining_session.catalog.refreshTable(t)
            except Exception:
                pass  # error table may not exist yet (no invalid rows)

    writer = stream.writeStream.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.foreachBatch(sink).start()


def write_stream_append(
    df: DataFrame,
    *,
    checkpoint_dir: str,
    table_name: str | None = None,
    memory_name: str | None = None,
    available_now: bool = True,
    output_mode: str = "append",
) -> StreamingQuery:
    """Run a stream into a managed table (via foreachBatch → the
    engine's batched sink) or a named in-memory sink for tests.

    ``available_now`` processes everything pending then stops —
    the batch-backfill trigger.
    """
    writer = df.writeStream.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    writer = writer.outputMode(output_mode)
    if memory_name:
        return writer.format("memory").queryName(memory_name).start()
    if table_name is None:
        raise ValueError("need table_name or memory_name")

    from data_ingestion_tool_spark.sinks.tables import append_table

    # foreachBatch runs in a cloned session; the caller's session caches
    # the table's file listing on first read and won't see the clone's
    # appends (parquet tables need REFRESH TABLE after an external
    # write). Capture the defining session and refresh it per batch.
    defining_session = df.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_table(batch_df, table_name, add_process_dt=True)
        defining_session.catalog.refreshTable(table_name)

    return writer.foreachBatch(sink).start()


def incremental_reach_stream(
    events: DataFrame,
    *,
    checkpoint_dir: str,
    state_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental distinct-user reach via MERGEABLE SKETCH STATE: each
    micro-batch computes per-event-type HLL sketches of its users and
    MERGES them into a persisted sketch table (``hll_union``) — the
    streaming twin of the batch ``sketch_user_reach`` rollup.

    Why sketches and not streaming dropDuplicates at 100 TB: exact
    streaming distinct keeps every user id in the state store forever
    (unbounded); the sketch table holds one KB-scale row per event
    type REGARDLESS of cardinality, survives restarts as plain
    parquet, and any later rollup (weekly, all-time, cross-type) is a
    cheap sketch union instead of a history re-scan.

    The merge is idempotent per micro-batch id via write-ahead
    semantics: state is re-read and fully rewritten each batch (tiny —
    |event_types| rows), so checkpoint replays converge. The swap
    renames the old state ASIDE before renaming the new state into
    place (rename → rename, each atomic on a POSIX filesystem), so a
    crash never leaves a moment with no state on disk: on recovery
    either the new dir, or the old dir at ``__old``, survives and the
    replayed micro-batch rebuilds from it.

    Scale boundary: the rename-based snapshot swap assumes POSIX/HDFS
    atomic rename; on an object store the publish step becomes a
    manifest/metastore commit (see ``sinks.layout``'s module-docstring
    staged-swap contract — the same boundary, stated once).
    """
    import os

    from pyspark.sql import functions as F

    defining_session = events.sparkSession

    def merge(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        old = state_dir.rstrip("/") + "__old"
        # recover a swap interrupted between the two renames below:
        # the accumulated state survives at __old
        if not os.path.exists(state_dir) and os.path.exists(old):
            os.rename(old, state_dir)
        if os.path.exists(state_dir):
            prev = spark.read.parquet(state_dir)
            merged = (
                prev.unionByName(delta)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        else:
            merged = delta
        tmp = state_dir.rstrip("/") + "__tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil

        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        if os.path.exists(old):
            shutil.rmtree(old)

    writer = events.writeStream.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.foreachBatch(merge).start()


def read_reach_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The queryable face of the sketch state: per-type estimates."""
    from pyspark.sql import functions as F

    return spark.read.parquet(state_dir).select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("long").alias("est_users"),
    )


def vector_index_stream(
    vectors: DataFrame,
    *,
    index_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously-maintained ANN index: a stream of (vec_id,
    embedding) rows appends into the partitioned IVF index via
    :func:`~data_ingestion_tool_spark.operators.similarity.ivf_index_upsert`
    each micro-batch — the "vectors land, index stays fresh" loop of a
    retrieval/RAG ingestion pipeline, without ever rebuilding.

    Scale/consistency shape: assignment uses the index's PERSISTED
    quantizer (centroids are the index's contract — a micro-batch
    never retrains), each batch appends new part files only under the
    list_id partitions it touches, and exactly-once lands on the
    checkpoint + append pairing: a replayed batch re-appends, so the
    checkpoint guards delivery while the (vec_id-keyed) reader side
    dedups if at-least-once is ever observed across a crash — the
    standard parquet-sink contract, stated rather than hidden.

    The index must exist (``build_ivf_index``) before the stream
    starts; the first batch fails fast otherwise.
    """
    from data_ingestion_tool_spark.operators.similarity import (
        ivf_index_upsert,
    )

    def upsert(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_upsert(batch_df.sparkSession, index_path, batch_df)

    writer = vectors.writeStream.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.foreachBatch(upsert).start()

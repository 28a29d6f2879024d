"""Structured Streaming over the events table (N6-N8).

Design (100 TB posture):
- ``readStream`` over a parquet directory: each file is an input split; the
  same code ingests a Kafka topic by swapping the reader, since everything
  downstream is event-time-based, not source-based.
- Watermarks bound state: every aggregation here carries
  ``withWatermark`` so state for closed windows is dropped — without it a
  30-day stream of 15M users would accumulate unbounded window state.
- The custom stateful operator uses ``applyInPandasWithState`` (Arrow-batched,
  grouped state) — the Spark-native form of a per-key streaming accumulator.

Batch equivalence: every aggregation has a batch twin (SURVEY.md §2.7 Q12/
Q15/Q22) checked in tests, which is how the DuckDB oracle can gate a surface
it cannot execute natively.
"""

from __future__ import annotations

import os

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_meshify_spark.sources import lakehouse
from dbt_meshify_spark.streaming.sinks import drain

EVENT_SCHEMA_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw nanos (nanosAsLong)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

EVENT_SCHEMA_MICROS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _stored_ts_unit(path: str) -> str:
    """Sniff the stored ``ts`` unit ('ns'/'us'/'ms'/'s') from one parquet
    footer, driver-side (an O(KB) metadata read — no data scan).

    A file stream is given an *explicit* schema, so unlike the batch loader
    (sources/registry.py, which branches on the materialized type) the read
    itself cannot tell us whether the raw long is nanoseconds or
    microseconds. The footer is authoritative and checking it once per
    stream start is free even on a 100 TB directory: only the first file's
    metadata is touched.
    """
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        candidates = sorted(_glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    elif any(ch in path for ch in "*?["):
        candidates = sorted(_glob.glob(path))
    else:
        candidates = [path]
    for f in candidates:
        try:
            t = str(pq.read_schema(f).field("ts").type)
        except Exception:
            continue
        if t.startswith("timestamp["):
            return t[len("timestamp[") :].split(",")[0].rstrip("]")
        if t == "int64":
            return "ns"  # raw-long convention used by the round-1 testdata
    return "us"


def read_events_stream(
    spark: SparkSession,
    path: str,
    nanos: bool | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based event stream with a proper event-time ``ts`` column.

    ``nanos=None`` (default) sniffs the stored unit from the parquet footer
    and converts raw longs to microsecond timestamps JVM-side — the same
    truncation as the batch loader (sources/registry.py), but made explicit
    because a stream's user-supplied schema hides the stored logical type.
    ``nanos=False`` forces the TimestampType schema (caller-written µs
    parquet); ``nanos=True`` forces the raw-long ns interpretation.
    """
    from dbt_meshify_spark.session import prepare

    prepare(spark)
    if path.endswith(".parquet"):
        # FileStreamSource refuses a bare file (its inferred basePath must be
        # a directory); a glob sidesteps the check and keeps basePath at the
        # parent dir, so a single-file table streams like a directory would
        import os

        d, base = os.path.split(path)
        glob_path = f"{d}/{os.path.splitext(base)[0]}.*"
    else:
        glob_path = path
    if nanos is None:
        unit = _stored_ts_unit(path)
    else:
        unit = "ns" if nanos else "tstype"
    reader = spark.readStream.schema(
        EVENT_SCHEMA_MICROS if unit == "tstype" else EVENT_SCHEMA_NANOS
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(glob_path)
    # Raw long -> µs timestamp. Division happens JVM-side per-split; the
    # stream stays fully distributed regardless of unit.
    if unit == "ns":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif unit == "us":
        df = df.withColumn("ts", F.timestamp_micros(F.col("ts")))
    elif unit == "ms":
        df = df.withColumn("ts", F.timestamp_millis(F.col("ts")))
    elif unit == "s":
        df = df.withColumn("ts", F.timestamp_seconds(F.col("ts")))
    return df


from contextlib import contextmanager


def sized_state_partitions(
    spark: SparkSession,
    *paths: str,
    bytes_per_store: int = 32 * 1024 * 1024,
    floor: int = 4,
) -> int:
    """State-store count sized to the DRAINED VOLUME (r13): one store per
    ~``bytes_per_store`` of source input, floored at ``floor``, capped at
    the session's shuffle width.

    Rationale: every micro-batch pays a fixed open/commit/maintenance cost
    PER STORE (see :func:`stream_state_partitions` — even a zero-row
    watermark-advance batch scans all of them), so the count must track
    volume, not a constant. The r12 constant 16 was itself measured down
    from 32 (7.1 s -> 3.9 s on the stream-stream join); sizing from input
    bytes takes the next step — the bench's ~2 MB events drain sizes to
    the floor (measured 4.1 s -> 2.1 s warm on the stream-stream join at
    sf0.1), while a production topic at GB/batch volumes sizes UP toward
    the session width with no code change. Unstattable (remote) paths fall
    back to the r12 constant 16.
    """
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        width = 32
    total = 0
    for p in paths:
        p = p.rstrip("/*")
        try:
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            else:
                total += os.path.getsize(p)
        except OSError:
            return min(16, width)
    need = max(floor, (total + bytes_per_store - 1) // bytes_per_store)
    return int(min(need, max(width, floor)))


def sized_batch_width(
    spark: SparkSession,
    *paths: str,
    bytes_per_task: int = 4 * 1024 * 1024,
    floor: int = 8,
) -> int:
    """Shuffle width for the BATCH jobs a foreachBatch drain runs per
    micro-batch (optimization r14): one task per ~``bytes_per_task`` of
    source input, floored at ``floor``, capped at the session width.

    Distinct trade from :func:`sized_state_partitions` (whose floor-4
    tracks fixed PER-STORE open/commit cost): batch tasks pay only
    scheduling overhead (~10-20 ms each), so the floor stays at 8 for
    local parallelism and the per-task byte target is smaller. Measured
    at sf0.1 (interleaved min-of-3, width 32 -> 8):
    ext_stream_incremental_neardup 3.52 -> 2.34 s,
    ext_stream_self_repetition 2.52 -> 1.82 s, cms/psi ~1.1x; width
    sweep {4, 8, 16} put 8-16 ahead of 4 (batch plans want parallelism
    back sooner than state stores do). A GB-per-batch topic sizes to the
    session width with no code change. Unstattable paths fall back to
    the session width (no pin effect).
    """
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        width = 32
    total = 0
    for p in paths:
        p = p.rstrip("/*")
        try:
            if os.path.isdir(p):
                for root, _dirs, files in os.walk(p):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            else:
                total += os.path.getsize(p)
        except OSError:
            return width
    need = max(floor, (total + bytes_per_task - 1) // bytes_per_task)
    return int(min(need, max(width, floor)))


@contextmanager
def stream_state_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query starts
    AND drains (micro-batch planning reads it per batch; restored on exit).

    A stateful streaming query bakes its state-store count from this conf
    at FIRST start (it persists in the checkpoint), and every micro-batch
    pays a fixed open/commit/maintenance cost PER STORE — even a zero-row
    watermark-advance batch scans all of them. So the store count must
    track stream volume, not the session's batch-shuffle width: at the
    bench's ~200k-event drains, 16 stores halve the stream-stream join's
    wall time vs 32 (measured 7.1s -> 3.9s warm); a production topic at
    1000x the volume sizes UP instead. Batch queries are unaffected — the
    conf is restored as soon as the query has started.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def with_watermark(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """N8: late-data policy — events older than max(ts)-delay are dropped
    from stateful operators downstream; batch oracle = a ts filter."""
    return events.withWatermark("ts", delay)


def tumbling_window_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """N7 tumbling: batch twin is Q22 (date_trunc day when window='1 day')."""
    return (
        with_watermark(events, watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """N7 sliding: each event lands in window/slide overlapping windows."""
    return (
        with_watermark(events, watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )


def session_window_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """N7 session windows: gap-based per-user sessions; batch twin is the
    lag/cumsum sessionization of Q12."""
    return (
        with_watermark(events, watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def stream_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """N6/N1: streaming exact deduplication via
    ``dropDuplicatesWithinWatermark`` — the streaming twin of
    ``operators.dedup.exact_dedup``.

    Per-key state lives only within the watermark horizon, so dedup state is
    O(events per horizon), not O(stream lifetime) — the property that makes
    exact dedup feasible on an unbounded ingest feed (duplicate deliveries
    from at-least-once sources arrive close together in event time). Not an
    aggregation: rows emit in append mode as soon as they are first seen.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals across micro-batches
    (applyInPandasWithState; Arrow-batched per group).

    Emits the updated running total for each user touched by a micro-batch —
    the streaming form of ``groupBy(user_id).agg(count, sum)`` with state
    persisted in the state store, not in executor memory.
    """
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def stream_stream_join_clicks_to_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """N6/N8 stream-stream inner join: (purchase, click) pairs where the same
    user clicked within ``horizon`` before the purchase.

    Both sides are watermarked and the join carries a time-range condition —
    the two things Spark needs to bound join state: a click's state row is
    evicted once the watermark passes ``click.ts + horizon``, so state is
    O(events within the horizon), not O(stream). Inner-join matches emit
    eagerly (append mode); the watermark governs state cleanup, not emission.

    Batch twin: a plain self-join of events with the same predicate (the
    oracle SQL of ext_stream_click_attribution).
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        F.expr(
            f"c_user = p_user AND c_ts <= p_ts AND p_ts < c_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


def stream_to_incremental(
    stream_df: DataFrame,
    target_dir: str,
    unique_key: str | list[str],
    order_by: str = "ts",
) -> DataFrame:
    """Streaming incremental materialization: ``foreachBatch`` upsert with
    dbt-spark 'merge' semantics (same-key batch rows replace stored rows —
    the streaming twin of ``project/runner.py::_materialize_model``'s
    incremental path; reference analog: `unique_key` merge,
    /root/reference/test-projects/split/split_proj/models/marts/orders.sql:1-6).

    Per micro-batch: (1) within-batch dedup keeps the latest row per key by
    ``order_by`` (deterministic row_number, not dropDuplicates — whose pick
    is partition-order-dependent); (2) ``sources.lakehouse.upsert`` onto the
    table's current version; (3) ``lakehouse.commit`` as the next version.
    The table and the checkpoint both live under ``target_dir``, so a
    resumed query merges onto what earlier runs stored, and a replayed
    batch merges to the same table. Returns the final table.

    At scale the commit becomes a real lakehouse MERGE (Delta/Iceberg, not
    in this container); the micro-batch algebra is identical.
    """
    spark = stream_df.sparkSession
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*keys).orderBy(F.col(order_by).desc())
        b = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if lakehouse.current_version(target_dir):
            b = lakehouse.upsert(lakehouse.read_current(spark, target_dir), b, keys)
        lakehouse.commit(b, target_dir)

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", f"{target_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not lakehouse.current_version(target_dir):
        return spark.createDataFrame([], stream_df.schema)
    return lakehouse.read_current(spark, target_dir)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 16,
) -> DataFrame:
    """Drain all available input into an in-memory sink; returns the result
    table. Test harness — production sinks are parquet/Delta/Kafka writers.

    ``state_partitions`` sizes the query's state-store count to the drained
    volume (see ``stream_state_partitions``); pass None to keep the
    session's batch-shuffle width.
    """
    spark = stream_df.sparkSession

    def start():
        return (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )

    # the conf must stay pinned through the DRAIN, not just .start():
    # micro-batch planning happens asynchronously and reads it per batch
    if state_partitions is None:
        query = start()
        query.awaitTermination()
    else:
        with stream_state_partitions(spark, state_partitions):
            query = start()
            query.awaitTermination()
    return spark.table(name)


def read_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka twin of ``read_events_stream``: same downstream schema, so every
    windowed/stateful operator in this module runs unchanged on a live topic.

    The value payload is JSON with the events-table fields; event time comes
    from the payload ``ts`` (µs epoch), NOT Kafka's broker-side timestamp —
    watermarks must track event time or late data is silently on-time.
    Gated: the spark-sql-kafka connector is a separate deployment artifact;
    raises with deployment guidance when absent (this container has none).
    """
    from dbt_meshify_spark.session import prepare
    from dbt_meshify_spark.sources.text_formats import _gate_missing_datasource

    prepare(spark)
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:
        _gate_missing_datasource(
            "kafka", "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>", e
        )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), EVENT_SCHEMA_NANOS).alias("e")
    ).select("e.*")
    return parsed.withColumn("ts", F.timestamp_micros(F.col("ts")))


def stream_quantile_sketch(
    stream_events: DataFrame,
    corpus_df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    value_col: str,
    qs: list[float],
    lo: float,
    hi: float,
    width: int = 128,
) -> DataFrame:
    """Streaming value-distribution monitor on fixed-grid quantile state:
    every micro-batch reduces to its OWN grid cells (<= width rows per key
    committed per batch — operators/sketches.py::quantile_sketch_cells,
    batch-keyed OVERWRITE so an at-least-once foreachBatch replay lands on
    the same directory instead of double-counting) and the merged sketch is
    the cell-wise sum. State on disk grows with batches x width cells,
    never with rows — a live ingest keeps running percentiles at fixed
    memory, the same property as the CMS twin.

    Drained availableNow the merged cells equal the batch build over the
    same corpus (integer cell sums are order-insensitive), so the final
    report shares ext_quantile_sketch's DuckDB oracle. ``corpus_df`` is the
    batch view of the same data, used only for the exact rank-select audit
    columns.
    """
    from dbt_meshify_spark.operators.sketches import (
        quantile_report_from_cells,
        quantile_sketch_cells,
    )

    def build(batch_df: DataFrame) -> DataFrame:
        return quantile_sketch_cells(batch_df, key_cols, value_col, lo, hi, width)

    cells = (
        drain(stream_events, out_dir, "cells", build)
        .groupBy(*key_cols, "b")
        .agg(F.sum("c").alias("c"))
    )
    # same pre-filter contract as the batch wrapper: NULL AND NaN excluded
    # (quantile_report_from_cells requires it; the per-batch cells builder
    # already NaN-filters, so the audit frame must match)
    data = corpus_df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    return quantile_report_from_cells(
        cells, data, key_cols, value_col, qs, lo, hi, width
    )


def stream_l_diversity(
    stream_df: DataFrame,
    out_dir: str,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
    c: int = 2,
) -> DataFrame:
    """Streaming privacy monitor: per-micro-batch (QI, sensitive) count
    cells (batch-keyed overwrite — idempotent under foreachBatch replay),
    merged by integer cell sum, then the SAME l-diversity report tail as
    the batch audit (operators/privacy.py::l_diversity_from_counts) — so a
    live ingest can watch release-risk flags without a second corpus pass,
    and the drained result shares ext_l_diversity's DuckDB oracle exactly.

    State grows with batches x distinct (QI, sensitive) pairs touched per
    batch — Zipf-bounded like a token table, never the row count.
    """
    from dbt_meshify_spark.operators.privacy import l_diversity_from_counts

    def build(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(*quasi_cols, sensitive_col).agg(
            F.count("*").cast("bigint").alias("__cnt")
        )

    sv = (
        drain(stream_df, out_dir, "cells", build)
        .groupBy(*quasi_cols, sensitive_col)
        .agg(F.sum("__cnt").cast("bigint").alias("__cnt"))
    )
    return l_diversity_from_counts(sv, quasi_cols, sensitive_col, l, c)


def stream_dp_noisy_counts(
    stream_df: DataFrame,
    out_dir: str,
    group_cols: list[str],
    user_col: str = "user_id",
    eps: float = 0.5,
    bound: int = 40,
    salt: str = "dp0",
) -> DataFrame:
    """Streaming ε-DP count-release monitor: every micro-batch reduces to
    its OWN distinct (group, user) pairs (batch-keyed OVERWRITE —
    idempotent under foreachBatch replay), the merged state is the
    distinct union, and the drained release runs the SAME noise path as
    the batch mechanism (privacy.py::dp_noisy_user_counts semantics on
    the merged pairs), so it shares ext_dp_noisy_counts' DuckDB oracle.
    The noise is a pure function of the group key, so a live monitor's
    running release stays CONSISTENT as batches arrive — the same group
    always carries the same draw, only n_true moves.

    State on disk grows with distinct (group, user) pairs touched —
    bounded by the release's own support, never the event count.
    """
    from dbt_meshify_spark.operators.privacy import dp_noisy_user_counts

    def build(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(*group_cols, user_col).distinct()

    pairs = drain(stream_df, out_dir, "pairs", build)
    # the BATCH mechanism runs on the merged pairs — one release path, so
    # the streaming twin cannot drift from the oracle (countDistinct over
    # the pair union also skips NULL users exactly like the batch twin;
    # a hand-rolled count(*) here once counted the (group, NULL) pair)
    return dp_noisy_user_counts(
        pairs, group_cols, user_col=user_col, eps=eps, bound=bound, salt=salt
    )


def stream_weighted_quantile(
    stream_df: DataFrame,
    corpus_df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    value_col: str,
    weight_col: str,
    qs: list[float],
    lo: float,
    hi: float,
    width: int = 128,
) -> DataFrame:
    """Streaming WEIGHTED quantile monitor (the token-mass twin of
    stream_quantile_sketch): each micro-batch appends its own integer
    weight-sum grid cells (batch-keyed overwrite — idempotent under
    foreachBatch replay) and the merged state is the cell-wise sum, so a
    live ingest keeps running mass-percentiles at <= batches x width cells
    per key. Drained availableNow the merged cells equal the batch build
    (integer cell sums are order-insensitive) and the shared report tail
    (sketches.weighted_quantile_from_cells) makes the result equal the
    batch operator, sharing ext_weighted_quantile's oracle; ``corpus_df``
    is the batch view, used only for the exact crossing-value audit.
    """
    from dbt_meshify_spark.operators.sketches import (
        _grid_bucket,
        weighted_quantile_from_cells,
    )

    def normalized(frame: DataFrame) -> DataFrame:
        return frame.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        ).select(
            *key_cols,
            F.col(value_col).cast("double").alias("__v"),
            F.ceil(F.col(weight_col)).cast("bigint").alias("__w"),
        )

    def build(batch_df: DataFrame) -> DataFrame:
        b = _grid_bucket(F.col("__v"), lo, hi, width)
        return (
            normalized(batch_df)
            .groupBy(*key_cols, b.alias("b"))
            .agg(F.sum("__w").cast("bigint").alias("c"))
        )

    cells = (
        drain(stream_df, out_dir, "cells", build)
        .groupBy(*key_cols, "b")
        .agg(F.sum("c").alias("c"))
    )
    audit = normalized(corpus_df)
    return weighted_quantile_from_cells(
        cells, audit, key_cols, qs, lo, hi, width
    )

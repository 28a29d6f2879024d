"""Streaming semantics (N6-N8) checked batch-equivalently: every streaming
aggregation must reproduce its batch twin over the same events data."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dbt_meshify_spark.sources import load_table
from dbt_meshify_spark.streaming import (
    read_events_stream,
    run_to_memory,
    session_window_stats,
    sliding_window_counts,
    stateful_user_totals,
    tumbling_window_counts,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory) -> str:
    """The single events.parquet staged into a streaming source directory."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(Path(SF_SMOKE) / "events.parquet", d / "events.parquet")
    return str(d)


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_table(spark, SF_SMOKE, "events")


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_matches_batch(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    result = run_to_memory(
        tumbling_window_counts(stream, "1 day"), "t_tumbling", "complete"
    )
    expected = (
        events_batch.groupBy(
            F.date_trunc("day", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert _rows(result, "window_start", "event_type", "n", "total_value") == _rows(
        expected, "window_start", "event_type", "n", "total_value"
    )


def test_sliding_windows_cover_events(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    result = run_to_memory(
        sliding_window_counts(stream, "1 hour", "30 minutes"), "t_sliding", "complete"
    )
    # every event lands in exactly window/slide = 2 windows
    assert result.agg(F.sum("n")).collect()[0][0] == 2 * events_batch.count()
    # and each sliding bucket matches a direct batch computation
    expected = (
        events_batch.select(
            F.explode(
                F.array(
                    F.date_trunc("hour", "ts"),
                    F.to_timestamp(
                        F.unix_timestamp(F.date_trunc("hour", "ts"))
                        + F.when(F.minute("ts") >= 30, 1800).otherwise(-1800)
                    ),
                )
            ).alias("window_start")
        )
        .groupBy("window_start")
        .count()
    )
    assert _rows(result, "window_start", "n") == _rows(expected, "window_start", "count")


def test_session_windows_match_batch_sessionization(spark, events_dir, events_batch):
    stream = read_events_stream(spark, events_dir)
    result = run_to_memory(
        session_window_stats(stream, "30 minutes"), "t_session", "complete"
    )
    # batch twin: Q12-style gap sessionization
    events_batch.createOrReplaceTempView("events_batch_tmp")
    expected = spark.sql(
        """
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                              + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events_batch_tmp
        ),
        sessions AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
          FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
        """
    )
    assert _rows(result, "user_id", "session_start", "n_events") == _rows(
        expected, "user_id", "session_start", "n_events"
    )


def test_stateful_totals_across_microbatches(spark, events_batch, tmp_path_factory):
    """State must persist across micro-batches: two files, one per trigger."""
    d = tmp_path_factory.mktemp("events_two_batches")
    half1 = events_batch.filter(F.dayofmonth("ts") <= 15)
    half2 = events_batch.filter(F.dayofmonth("ts") > 15)
    half1.coalesce(1).write.parquet(str(d / "f1"))
    half2.coalesce(1).write.parquet(str(d / "f2"))

    stream = read_events_stream(
        spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
    )
    result = run_to_memory(stateful_user_totals(stream), "t_stateful", "update")
    # last emission per user = final running total
    final = (
        result.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    expected = events_batch.groupBy("user_id").agg(F.count("*").alias("n_events"))
    assert _rows(final, "user_id", "n_events") == _rows(expected, "user_id", "n_events")
    # with maxFilesPerTrigger=1 some users must have emitted twice
    assert result.count() > final.count()


def test_watermark_bounds_state(spark, events_dir):
    """Append mode + watermark: only windows the final watermark closed are
    emitted — the late-data policy in action."""
    stream = read_events_stream(spark, events_dir)
    appended = run_to_memory(
        tumbling_window_counts(stream, "1 day", watermark="1 hour"),
        "t_append",
        "append",
    )
    completed = spark.table("t_tumbling")
    # the final (unclosed) day is withheld in append mode
    assert appended.count() < completed.count()
    max_day = completed.agg(F.max("window_start")).collect()[0][0]
    assert appended.filter(F.col("window_start") == max_day).count() == 0


def test_stream_stream_join_matches_batch(spark, events_dir, events_batch):
    from dbt_meshify_spark.streaming import stream_stream_join_clicks_to_purchases

    clicks = read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "purchase"
    )
    joined = run_to_memory(
        stream_stream_join_clicks_to_purchases(clicks, purchases),
        "t_ssjoin",
        "append",
    )
    c = events_batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    batch = c.join(p, "user_id").filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    assert _rows(joined, "purchase_id", "click_id") == _rows(
        batch, "purchase_id", "click_id"
    )


def test_stream_stream_join_evicts_state_past_watermark(spark, tmp_path_factory):
    """N8: a click whose state was evicted (watermark passed click.ts +
    horizon) cannot match a purchase arriving in a later micro-batch — the
    bounded-state contract at 100 TB: join state is O(horizon), not O(stream).
    """
    import datetime as dt

    from dbt_meshify_spark.streaming import stream_stream_join_clicks_to_purchases

    d = tmp_path_factory.mktemp("ssjoin_evict")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def _write(rows, name):
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).coalesce(1).write.parquet(str(d / name))

    # The query watermark is the MIN over all inputs, so BOTH streams need
    # clock-pusher events (on users that never pair: clicks on 98, purchases
    # on 99, 2h+ apart) to advance it to t0+2h, past the click's t0+1h join
    # bound. Watermarks apply one batch late (computed at batch end, used
    # next batch) and join-state eviction runs at batch end — batch 2 exists
    # purely to let the t0+2h watermark evict the click's state row.
    push = dt.timedelta(hours=3)
    _write(
        [
            (1, t0, 7, "click", 1.0, ""),
            (2, t0 + push, 98, "click", 1.0, ""),
            (3, t0 + push, 99, "purchase", 1.0, ""),
        ],
        "f1",
    )
    _write(
        [
            (4, t0 + push + dt.timedelta(minutes=5), 98, "click", 1.0, ""),
            (5, t0 + push + dt.timedelta(minutes=5), 99, "purchase", 1.0, ""),
        ],
        "f2",
    )
    # batch 3: a purchase 30min after the click — predicate-matching, but the
    # click's state is gone and the purchase itself is below the watermark
    _write([(6, t0 + dt.timedelta(minutes=30), 7, "purchase", 5.0, "")], "f3")

    def _read(etype):
        return (
            read_events_stream(
                spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
            ).filter(F.col("event_type") == etype)
        )

    joined = run_to_memory(
        stream_stream_join_clicks_to_purchases(_read("click"), _read("purchase")),
        "t_ssjoin_evict",
        "append",
    )
    assert joined.count() == 0  # dropped-late, by design
    # positive control — same data in ONE file (single micro-batch, no
    # eviction between click and purchase) DOES join, so the zero above is
    # the watermark's doing, not a silent empty source
    d2 = tmp_path_factory.mktemp("ssjoin_onebatch")
    spark.createDataFrame(
        [
            (1, t0, 7, "click", 1.0, ""),
            (2, t0 + dt.timedelta(hours=3), 99, "click", 1.0, ""),
            (3, t0 + dt.timedelta(minutes=30), 7, "purchase", 5.0, ""),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(d2 / "f1"))

    def _read2(etype):
        return read_events_stream(spark, str(d2) + "/*/", nanos=False).filter(
            F.col("event_type") == etype
        )

    joined2 = run_to_memory(
        stream_stream_join_clicks_to_purchases(_read2("click"), _read2("purchase")),
        "t_ssjoin_onebatch",
        "append",
    )
    assert joined2.count() == 1


def test_stream_to_incremental_merges_like_batch_dedup(spark, tmp_path_factory):
    """Streaming foreachBatch upsert == batch keep-latest dedup when files
    arrive in event-time order (the dbt-spark 'merge' strategy, streamed)."""
    import datetime as dt

    from dbt_meshify_spark.streaming import stream_to_incremental

    src = tmp_path_factory.mktemp("inc_src")
    tgt = str(tmp_path_factory.mktemp("inc_tgt") / "tbl")
    t0 = dt.datetime(2024, 3, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = [
        (1, t0, 1, "click", 1.0, ""),
        (2, t0 + dt.timedelta(minutes=1), 2, "click", 2.0, ""),
    ]
    batch2 = [
        (3, t0 + dt.timedelta(minutes=5), 1, "click", 9.0, ""),  # upserts user 1
        (4, t0 + dt.timedelta(minutes=6), 3, "view", 4.0, ""),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = read_events_stream(
        spark, str(src) + "/*/", nanos=False, max_files_per_trigger=1
    )
    final = stream_to_incremental(
        stream, tgt, unique_key=["user_id", "event_type"], order_by="ts"
    )
    got = {(r.user_id, r.event_type): (r.event_id, r.value) for r in final.collect()}
    assert got == {
        (1, "click"): (3, 9.0),  # batch2 row replaced batch1's same-key row
        (2, "click"): (2, 2.0),
        (3, "view"): (4, 4.0),
    }
    # idempotent replay from scratch gives the same table
    tgt2 = tgt + "_replay"
    stream2 = read_events_stream(spark, str(src) + "/*/", nanos=False)
    final2 = stream_to_incremental(
        stream2, tgt2, unique_key=["user_id", "event_type"], order_by="ts"
    )
    assert {tuple(r) for r in final2.collect()} == {tuple(r) for r in final.collect()}


def _incremental_source(spark, src, name, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(src / name))


def _stream_to_incremental(spark, src, tgt):
    from dbt_meshify_spark.streaming import stream_to_incremental

    stream = read_events_stream(spark, str(src) + "/*/", nanos=False)
    final = stream_to_incremental(stream, tgt, unique_key="user_id")
    return {r.user_id: (r.event_id, r.value) for r in final.collect()}


def test_stream_to_incremental_noop_resume_returns_stored_table(spark, tmp_path):
    """Restarting on the same target and checkpoint with no new input
    returns the table earlier runs stored, not an empty frame."""
    import datetime as dt

    src, tgt = tmp_path / "src", str(tmp_path / "tbl")
    t0 = dt.datetime(2024, 3, 1)
    _incremental_source(
        spark, src, "f1", [(1, t0, 1, "click", 1.0, ""), (2, t0, 2, "click", 2.0, "")]
    )
    first = _stream_to_incremental(spark, src, tgt)
    assert first == {1: (1, 1.0), 2: (2, 2.0)}
    assert _stream_to_incremental(spark, src, tgt) == first


def test_stream_to_incremental_resume_merges_onto_stored_table(spark, tmp_path):
    """A resumed query merges its new batch onto the stored table and
    commits the next version; the first batch's version stays readable."""
    import datetime as dt

    from dbt_meshify_spark.sources.lakehouse import read_table_version

    src, tgt = tmp_path / "src", str(tmp_path / "tbl")
    t0 = dt.datetime(2024, 3, 1)
    _incremental_source(
        spark, src, "f1", [(1, t0, 1, "click", 1.0, ""), (2, t0, 2, "click", 2.0, "")]
    )
    _stream_to_incremental(spark, src, tgt)
    _incremental_source(
        spark, src, "f2", [(3, t0 + dt.timedelta(minutes=5), 1, "click", 9.0, "")]
    )
    assert _stream_to_incremental(spark, src, tgt) == {1: (3, 9.0), 2: (2, 2.0)}
    v1 = {(r.user_id, r.event_id) for r in read_table_version(spark, tgt, 1).collect()}
    assert v1 == {(1, 1), (2, 2)}


def test_stateful_totals_survive_restart(spark, tmp_path):
    """Exactly-once resume: kill the query, append new input, restart on the
    SAME checkpoint — per-user state must carry over (run 2 emits cumulative
    A+B totals, not B-only), and batch-A files must not be reprocessed."""
    import datetime as dt

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    out: list = []
    t0 = dt.datetime(2024, 1, 1)

    def _write(rows, name):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(src / name))

    def _drain():
        stream = read_events_stream(spark, str(src) + "/*/", nanos=False)
        q = (
            stateful_user_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: out.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write([(1, t0, 7, "click", 1.0, ""), (2, t0, 7, "click", 2.0, "")], "a")
    _drain()
    run1 = {(r.user_id, r.n_events, r.total_value) for r in out}
    assert (7, 2, 3.0) in run1

    out.clear()
    _write([(3, t0 + dt.timedelta(hours=1), 7, "click", 4.0, "")], "b")
    _drain()
    run2 = {(r.user_id, r.n_events, r.total_value) for r in out}
    # state recovered: 2 prior events + 1 new = 3, total 7.0 (not 1/4.0)
    assert run2 == {(7, 3, 7.0)}


def test_stream_psi_accumulates_across_microbatches(spark, tmp_path_factory):
    """The PSI monitor's bucket counts must accumulate across micro-batches
    (two files, one per trigger) and the drained relation must equal the
    batch score_psi over the same split."""
    from dbt_meshify_spark.operators.snapshots import score_psi
    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_quality_psi,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    baseline = quality_score(docs.filter(F.col("doc_id") % 2 == 0)).select(
        "doc_id", "quality"
    )
    newer = docs.filter(F.col("doc_id") % 2 == 1)

    d = tmp_path_factory.mktemp("docs_two_batches")
    newer.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(d / "f1"))
    newer.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(str(d / "f2"))

    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)
    out_dir = str(tmp_path_factory.mktemp("psi_out"))
    streamed = stream_quality_psi(feed, baseline, out_dir)

    expected = score_psi(baseline, quality_score(newer), "quality")
    cols = ["bucket", "n_old", "n_new", "p_old", "p_new", "psi_term", "psi_total"]
    got = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    want = sorted(tuple(r[c] for c in cols) for r in expected.collect())
    assert got == want
    # and more than one partial landed (state really accumulated)
    n_partials = spark.read.parquet(f"{out_dir}/partials").count()
    assert n_partials > 10  # two batches x up to 10 buckets each


def test_stream_decontaminate_matches_batch(spark, tmp_path_factory):
    """Two micro-batches of training docs against a static eval set must
    produce exactly the batch operator's verdicts."""
    from dbt_meshify_spark.operators.decontam import ngram_overlap
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_decontaminate,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)

    d = tmp_path_factory.mktemp("decontam_batches")
    train.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(d / "f1"))
    train.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)

    out_dir = str(tmp_path_factory.mktemp("decontam_out"))
    streamed = stream_decontaminate(feed, eval_df, out_dir)
    expected = ngram_overlap(train, eval_df)
    cols = ["doc_id", "n_grams", "matched", "overlap", "contaminated"]
    got = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    want = sorted(tuple(r[c] for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0


def test_stream_gram_novelty_matches_batch(spark, tmp_path_factory):
    """Two micro-batches of incoming docs scored against the standing
    reference must produce exactly the batch operator's novelty rows —
    per-doc verdicts, so the micro-batch split cannot change anything."""
    from dbt_meshify_spark.operators.snapshots import gram_novelty
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_gram_novelty,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    reference = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)

    d = tmp_path_factory.mktemp("novelty_batches")
    incoming.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(d / "f1"))
    incoming.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)

    out_dir = str(tmp_path_factory.mktemp("novelty_out"))
    streamed = stream_gram_novelty(feed, reference, out_dir)
    expected = gram_novelty(incoming, reference)
    cols = ["doc_id", "n_grams", "n_novel", "novelty"]
    got = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    want = sorted(tuple(r[c] for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0


def test_stream_late_drops_accounting(spark):
    """N8 late-data accounting as a checked query: planted late events
    (first three calendar days, arriving in the FINAL micro-batch after
    two on-time batches confirmed the watermark) must be dropped by the
    tumbling aggregation, so the drained result == batch counts WITHOUT
    the planted days — and the planted days must actually exist in the
    input (positive control that absence is the watermark's doing)."""
    from dbt_meshify_spark.queries.extensions import ext_stream_late_drops
    from dbt_meshify_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    out = ext_stream_late_drops(spark, SF_SMOKE)

    events = load_table(spark, SF_SMOKE, "events")
    cut = events.agg(
        F.date_add(F.to_date(F.date_trunc("day", F.min("ts"))), 3).alias("c")
    ).collect()[0]["c"]
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    n_planted = events.filter(day < F.lit(cut)).count()
    assert n_planted > 0  # the late file was non-empty
    # every planted-late day is absent from the drained stream result
    assert out.filter(F.col("day") < F.lit(cut)).count() == 0
    # and the kept days match the batch aggregation exactly
    batch = (
        events.filter(day >= F.lit(cut))
        .groupBy(day.alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    got = sorted((str(r.day), r.event_type, r.n) for r in out.collect())
    want = sorted((str(r.day), r.event_type, r.n) for r in batch.collect())
    assert got == want and len(got) > 0


def test_stream_cms_matches_batch_and_state_stays_bounded(spark, tmp_path_factory):
    """The CMS streaming monitor over two forced micro-batches must produce
    exactly the batch heavy-hitter report (cell sums are order-insensitive),
    and the on-disk state must be cells, not tokens: <= batches x depth x
    width rows."""
    from dbt_meshify_spark.operators.dedup import tokens_col
    from dbt_meshify_spark.operators.sketches import cms_heavy_hitters
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_cms_heavy_hitters,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    d = tmp_path_factory.mktemp("cms_batches")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)

    out_dir = str(tmp_path_factory.mktemp("cms_out"))
    streamed = stream_cms_heavy_hitters(feed, docs, out_dir)
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    expected = cms_heavy_hitters(toks, "token")
    cols = ["token", "cms_est", "true_count", "overcount"]
    got = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    want = sorted(tuple(r[c] for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    # state bound: two micro-batches, each appending <= depth*width cells
    state = spark.read.parquet(f"{out_dir}/cells")
    assert state.count() <= 2 * 4 * 1024


def test_stream_weighted_sample_matches_batch(spark, tmp_path_factory):
    """The ES key is row-intrinsic, so the union of per-batch top-k
    candidates always contains the global top-k: two forced micro-batches
    must yield exactly the batch weighted_sample_k rows and ranks, with
    on-disk state <= batches x k."""
    from dbt_meshify_spark.operators.sampling import weighted_sample_k
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_weighted_sample,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    d = tmp_path_factory.mktemp("es_batches")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)

    out_dir = str(tmp_path_factory.mktemp("es_out"))
    streamed = stream_weighted_sample(
        feed, out_dir, k=25, weight_col="n_chars", key_cols=["doc_id"]
    )
    expected = weighted_sample_k(docs, k=25, weight_col="n_chars", key_cols=["doc_id"])
    got = sorted((r.doc_id, r.draw_rank) for r in streamed.collect())
    want = sorted((r.doc_id, r.draw_rank) for r in expected.collect())
    assert got == want and len(got) == 25
    assert spark.read.parquet(f"{out_dir}/cands").count() <= 2 * 25


def test_stream_quantile_sketch_multibatch_equals_batch(spark, tmp_path_factory):
    """The quantile-grid streaming monitor over two forced micro-batches
    must produce exactly the batch report (integer cell sums are
    order-insensitive), with on-disk state <= batches x width cells per
    key — percentile state that never grows with rows."""
    from dbt_meshify_spark.operators.sketches import quantile_sketch_report
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_quantile_sketch,
    )
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d = tmp_path_factory.mktemp("qsk_batches")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_events_stream(
        spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
    )
    out_dir = str(tmp_path_factory.mktemp("qsk_out"))
    qs = [0.25, 0.5, 0.9]
    streamed = stream_quantile_sketch(
        feed, ev, out_dir, ["event_type"], "value", qs, lo=0.0, hi=512.0, width=128
    )
    expected = quantile_sketch_report(
        ev, ["event_type"], "value", qs, lo=0.0, hi=512.0, width=128
    )
    cols = ["event_type", "q", "n", "est_q", "true_q", "abs_err"]
    got = sorted(tuple(r[c] for c in cols) for r in streamed.collect())
    want = sorted(tuple(r[c] for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    n_keys = ev.select("event_type").distinct().count()
    assert spark.read.parquet(f"{out_dir}/cells").count() <= 2 * 128 * n_keys


def test_stream_l_diversity_multibatch_equals_batch(spark, tmp_path_factory):
    """The l-diversity streaming monitor over two forced micro-batches must
    equal the batch audit exactly — per-batch (QI, sensitive) count cells
    merge by integer sum, and the shared report tail sees the same table
    either way."""
    from dbt_meshify_spark.operators.privacy import l_diversity_report
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_l_diversity,
    )
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d = tmp_path_factory.mktemp("ldiv_batches")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))

    def proj(df):
        return df.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") / F.lit(100.0)).cast("bigint").alias("vbucket"),
        )

    feed = proj(
        read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        )
    )
    out_dir = str(tmp_path_factory.mktemp("ldiv_out"))
    streamed = stream_l_diversity(
        feed, out_dir, ["event_type", "day"], "vbucket", l=3, c=2
    )
    expected = l_diversity_report(
        proj(ev), ["event_type", "day"], "vbucket", l=3, c=2
    )
    cols = [
        "event_type", "day", "group_size", "n_sensitive", "top_count",
        "max_share", "at_risk_distinct", "at_risk_recursive",
    ]
    got = sorted(
        tuple(str(r[c]) for c in cols) for r in streamed.drop("entropy").collect()
    )
    want = sorted(
        tuple(str(r[c]) for c in cols) for r in expected.drop("entropy").collect()
    )
    assert got == want and len(got) > 0


def test_stream_classifier_multibatch_equals_batch(spark, tmp_path_factory):
    """Per-doc verdicts are batch-independent, so two forced micro-batches
    scored against the standing weight table must equal the batch scorer
    exactly — including under the batch-keyed idempotent sink layout."""
    from dbt_meshify_spark.operators.classifier import (
        classify_documents,
        train_nb_weights,
    )
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_classifier_filter,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    d = tmp_path_factory.mktemp("cls_batches")
    docs.filter(F.col("doc_id") % 2 == 0).drop("is_en").coalesce(1).write.parquet(
        str(d / "f1")
    )
    docs.filter(F.col("doc_id") % 2 == 1).drop("is_en").coalesce(1).write.parquet(
        str(d / "f2")
    )
    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)
    out_dir = str(tmp_path_factory.mktemp("cls_out"))
    streamed = stream_classifier_filter(feed, w, out_dir)
    expected = classify_documents(docs, w)
    cols = ["doc_id", "n_tokens", "n_known", "score", "label"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in streamed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    # two batch=N dirs exist (the idempotent keyed layout)
    import os

    batches = [
        x for x in os.listdir(f"{out_dir}/scored") if x.startswith("batch=")
    ]
    assert len(batches) == 2


def test_stream_dp_noisy_counts_multibatch_equals_batch(spark, tmp_path_factory):
    """Two forced micro-batches with OVERLAPPING users: the merged distinct
    (group, user) state must deduplicate across batches (a user seen in
    both batches counts once), the per-group noise draw is constant, and
    the drained release equals the batch mechanism exactly."""
    from dbt_meshify_spark.operators.privacy import dp_noisy_user_counts
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_dp_noisy_counts,
    )
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d = tmp_path_factory.mktemp("dpc_batches")
    # split by event_id so the same user appears in BOTH batches
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_events_stream(
        spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
    ).select("event_type", F.col("ts").cast("date").alias("day"), "user_id")
    out_dir = str(tmp_path_factory.mktemp("dpc_out"))
    streamed = stream_dp_noisy_counts(feed, out_dir, ["event_type", "day"])
    expected = dp_noisy_user_counts(
        ev.select("event_type", F.col("ts").cast("date").alias("day"), "user_id"),
        ["event_type", "day"],
    )
    cols = ["event_type", "day", "n_true", "noise", "n_released"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in streamed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0


def test_stream_dp_noisy_counts_skips_null_users_like_batch(spark, tmp_path_factory):
    """A NULL user_id must not count toward the released n_true on either
    path (COUNT(DISTINCT user) semantics): the streaming twin once
    counted the merged (group, NULL) pair — locked here with planted
    nulls split across batches."""
    import datetime as dt

    from dbt_meshify_spark.operators.privacy import dp_noisy_user_counts
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_dp_noisy_counts,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 7, "click", 1.0, ""),
        (2, t0, 8, "click", 1.0, ""),
        (3, t0, None, "click", 1.0, ""),
        (4, t0, None, "view", 1.0, ""),
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = tmp_path_factory.mktemp("dpnull_batches")
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_events_stream(
        spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
    ).select("event_type", "user_id")
    out_dir = str(tmp_path_factory.mktemp("dpnull_out"))
    streamed = {r.event_type: r for r in
                stream_dp_noisy_counts(feed, out_dir, ["event_type"]).collect()}
    batch_df = spark.createDataFrame(rows, schema).select("event_type", "user_id")
    batch = {r.event_type: r for r in
             dp_noisy_user_counts(batch_df, ["event_type"]).collect()}
    assert streamed.keys() == batch.keys()
    for k in batch:
        assert (streamed[k].n_true, streamed[k].noise, streamed[k].n_released) == (
            batch[k].n_true, batch[k].noise, batch[k].n_released
        ), k
    assert streamed["click"].n_true == 2  # NULL user skipped
    assert streamed["view"].n_true == 0  # all-null group released as zero


def test_stream_weighted_quantile_multibatch_equals_batch(spark, tmp_path_factory):
    """Two forced micro-batches of weighted grid cells must merge to the
    batch state exactly, and the shared report tail yields the batch
    operator's rows — including under the batch-keyed idempotent layout."""
    from dbt_meshify_spark.operators.sketches import weighted_quantile_report
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import read_documents_stream
    from dbt_meshify_spark.streaming.events import stream_weighted_quantile
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    d = tmp_path_factory.mktemp("wq_batches")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    feed = read_documents_stream(spark, str(d) + "/*/", max_files_per_trigger=1)
    out_dir = str(tmp_path_factory.mktemp("wq_out"))
    qs = [0.25, 0.5, 0.9]
    streamed = stream_weighted_quantile(
        feed, docs, out_dir, ["lang"], "n_chars", "n_chars", qs, 0.0, 1024.0, 128
    )
    expected = weighted_quantile_report(
        docs, ["lang"], "n_chars", "n_chars", qs, lo=0.0, hi=1024.0, width=128
    )
    cols = ["lang", "q", "total_w", "est_q", "true_q", "abs_err"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in streamed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Checkpoint restart-resume equivalence (round 11, verdict task 7): the 21
# drained-equals-batch runs prove a SINGLE drain; these prove recovery — a
# drain that stops mid-stream (first drain sees only part of the input),
# then a second drain resumed from the SAME checkpoint, must (a) process
# only the unseen files (exactly-once across the restart: one batch dir per
# drain, never a reprocess of committed input) and (b) leave the merged
# state equal to the batch build over the full corpus. A third drain with
# no new input must be a no-op (idempotent resume). One test per stateful
# monitor family: grid-cell (quantile; the weighted twin shares the tail),
# count-cell (l-diversity), distinct-pair (ε-DP release), CMS (documents).
# ---------------------------------------------------------------------------


def _batch_dirs(path):
    import os

    if not os.path.isdir(path):
        return []
    return sorted(x for x in os.listdir(path) if x.startswith("batch="))


def test_stream_quantile_sketch_resumes_from_checkpoint(spark, tmp_path_factory):
    from dbt_meshify_spark.operators.sketches import quantile_sketch_report
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_quantile_sketch,
    )
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d = tmp_path_factory.mktemp("qsk_resume")
    out_dir = str(tmp_path_factory.mktemp("qsk_resume_out"))
    qs = [0.25, 0.5, 0.9]

    def drain():
        feed = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        )
        return stream_quantile_sketch(
            feed, ev, out_dir, ["event_type"], "value", qs, 0.0, 512.0, 128
        )

    # drain 1 sees only half the input (the "killed mid-stream" prefix)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/cells")) == 1
    # resume: the rest of the input lands, SAME checkpoint
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    resumed = drain()
    expected = quantile_sketch_report(
        ev, ["event_type"], "value", qs, lo=0.0, hi=512.0, width=128
    )
    cols = ["event_type", "q", "n", "est_q", "true_q", "abs_err"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in resumed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    # exactly-once across the restart: one new batch dir, f1 NOT reprocessed
    assert len(_batch_dirs(f"{out_dir}/cells")) == 2
    # idempotent no-op resume: nothing new => same report, same state
    again = sorted(tuple(str(r[c]) for c in cols) for r in drain().collect())
    assert again == want
    assert len(_batch_dirs(f"{out_dir}/cells")) == 2


def test_stream_l_diversity_resumes_from_checkpoint(spark, tmp_path_factory):
    from dbt_meshify_spark.operators.privacy import l_diversity_report
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_l_diversity,
    )
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d = tmp_path_factory.mktemp("ldiv_resume")
    out_dir = str(tmp_path_factory.mktemp("ldiv_resume_out"))

    def proj(df):
        return df.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") / F.lit(100.0)).cast("bigint").alias("vbucket"),
        )

    def drain():
        feed = proj(
            read_events_stream(
                spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
            )
        )
        return stream_l_diversity(
            feed, out_dir, ["event_type", "day"], "vbucket", l=3, c=2
        )

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/cells")) == 1
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    resumed = drain()
    expected = l_diversity_report(proj(ev), ["event_type", "day"], "vbucket", l=3, c=2)
    cols = [
        "event_type", "day", "group_size", "n_sensitive", "top_count",
        "max_share", "at_risk_distinct", "at_risk_recursive",
    ]
    got = sorted(
        tuple(str(r[c]) for c in cols) for r in resumed.drop("entropy").collect()
    )
    want = sorted(
        tuple(str(r[c]) for c in cols) for r in expected.drop("entropy").collect()
    )
    assert got == want and len(got) > 0
    assert len(_batch_dirs(f"{out_dir}/cells")) == 2


def test_stream_dp_noisy_counts_resumes_from_checkpoint(spark, tmp_path_factory):
    from dbt_meshify_spark.operators.privacy import dp_noisy_user_counts
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_dp_noisy_counts,
    )
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    d = tmp_path_factory.mktemp("dpc_resume")
    out_dir = str(tmp_path_factory.mktemp("dpc_resume_out"))

    def drain():
        feed = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        ).select("event_type", F.col("ts").cast("date").alias("day"), "user_id")
        return stream_dp_noisy_counts(feed, out_dir, ["event_type", "day"])

    # event_id split => the same user can appear on both sides of the
    # restart; the merged distinct state must still count them once
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/pairs")) == 1
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    resumed = drain()
    expected = dp_noisy_user_counts(
        ev.select("event_type", F.col("ts").cast("date").alias("day"), "user_id"),
        ["event_type", "day"],
    )
    cols = ["event_type", "day", "n_true", "noise", "n_released"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in resumed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    assert len(_batch_dirs(f"{out_dir}/pairs")) == 2


def test_stream_cms_resumes_from_checkpoint(spark, tmp_path_factory):
    from dbt_meshify_spark.operators.dedup import tokens_col
    from dbt_meshify_spark.operators.sketches import cms_heavy_hitters
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_cms_heavy_hitters,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    d = tmp_path_factory.mktemp("cms_resume")
    out_dir = str(tmp_path_factory.mktemp("cms_resume_out"))

    def drain():
        feed = read_documents_stream(
            spark, str(d) + "/*/", max_files_per_trigger=1
        )
        return stream_cms_heavy_hitters(feed, docs, out_dir)

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/cells")) == 1
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    resumed = drain()
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    expected = cms_heavy_hitters(toks, "token")
    cols = ["token", "cms_est", "true_count", "overcount"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in resumed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    assert len(_batch_dirs(f"{out_dir}/cells")) == 2

def test_stream_neardup_index_probe_resumes_from_checkpoint(spark, tmp_path_factory):
    """Round-12 (verdict task 6): the foreachBatch index-probe twin's
    batch-keyed sink must survive a kill-resume — drain 1 sees only half
    the probe feed, drain 2 resumes from the SAME checkpoint with the rest,
    and the merged hits equal the batch probe over the full feed with
    exactly one batch dir per drain (a blind-append sink would instead
    duplicate any batch replayed across the restart)."""
    from dbt_meshify_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_index,
    )
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_neardup_against_index,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    probe_feed = docs.filter(F.col("doc_id") % 5 == 0)
    sigs, bands = minhash_index(corpus, num_hashes=16, bands=8, hash_fn="md5")
    d = tmp_path_factory.mktemp("nd_resume")
    out_dir = str(tmp_path_factory.mktemp("nd_resume_out"))

    def drain():
        feed = read_documents_stream(
            spark, str(d) + "/*/", max_files_per_trigger=1
        )
        return stream_neardup_against_index(
            feed, bands, sigs, out_dir,
            num_hashes=16, bands=8, hash_fn="md5", min_jaccard_est=0.5,
        )

    probe_feed.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "f1")
    )
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/hits")) == 1
    probe_feed.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "f2")
    )
    resumed = drain()
    expected = incremental_neardup_pairs(
        probe_feed, bands, sigs,
        num_hashes=16, bands=8, hash_fn="md5", min_jaccard_est=0.5,
    )
    cols = ["new_id", "dup_of", "jaccard_est"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in resumed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    # exactly-once across the restart: one new batch dir, f1 not reprocessed
    assert len(_batch_dirs(f"{out_dir}/hits")) == 2
    # idempotent no-op resume
    again = sorted(tuple(str(r[c]) for c in cols) for r in drain().collect())
    assert again == want
    assert len(_batch_dirs(f"{out_dir}/hits")) == 2


def test_stream_classifier_filter_resumes_from_checkpoint(spark, tmp_path_factory):
    """Round-12 (verdict task 6): kill-resume for the stored-model scoring
    twin — per-doc verdicts are batch-independent, so the restart only has
    to prove the sink's exactly-once layout (one batch dir per drain) and
    that the merged verdicts equal the batch scorer over the full corpus."""
    from dbt_meshify_spark.operators.classifier import (
        classify_documents,
        train_nb_weights,
    )
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_classifier_filter,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").withColumn(
        "is_en", F.col("lang") == F.lit("en")
    )
    w = train_nb_weights(docs, "is_en", max_vocab=20_000)
    d = tmp_path_factory.mktemp("cls_resume")
    out_dir = str(tmp_path_factory.mktemp("cls_resume_out"))

    def drain():
        feed = read_documents_stream(
            spark, str(d) + "/*/", max_files_per_trigger=1
        )
        return stream_classifier_filter(feed, w, out_dir)

    docs.filter(F.col("doc_id") % 2 == 0).drop("is_en").coalesce(1).write.parquet(
        str(d / "f1")
    )
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/scored")) == 1
    docs.filter(F.col("doc_id") % 2 == 1).drop("is_en").coalesce(1).write.parquet(
        str(d / "f2")
    )
    resumed = drain()
    expected = classify_documents(docs, w)
    cols = ["doc_id", "n_tokens", "n_known", "score", "label"]
    got = sorted(tuple(str(r[c]) for c in cols) for r in resumed.collect())
    want = sorted(tuple(str(r[c]) for c in cols) for r in expected.collect())
    assert got == want and len(got) > 0
    assert len(_batch_dirs(f"{out_dir}/scored")) == 2


def test_stream_weighted_sample_resumes_from_checkpoint(spark, tmp_path_factory):
    """Round-12 (verdict task 6): kill-resume for the live ES sampler — the
    row-intrinsic u^(1/w) key makes per-batch top-k candidates valid across
    a restart, so the resumed drain's re-ranked union must equal the batch
    weighted_sample_k over the full corpus, with one candidate dir per
    drain and a no-op third drain."""
    from dbt_meshify_spark.operators.sampling import weighted_sample_k
    from dbt_meshify_spark.sources import load_table
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_weighted_sample,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    d = tmp_path_factory.mktemp("es_resume")
    out_dir = str(tmp_path_factory.mktemp("es_resume_out"))

    def drain():
        feed = read_documents_stream(
            spark, str(d) + "/*/", max_files_per_trigger=1
        )
        return stream_weighted_sample(
            feed, out_dir, k=25, weight_col="n_chars", key_cols=["doc_id"]
        )

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(str(d / "f1"))
    drain().collect()
    assert len(_batch_dirs(f"{out_dir}/cands")) == 1
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(str(d / "f2"))
    resumed = drain()
    expected = weighted_sample_k(
        docs, k=25, weight_col="n_chars", key_cols=["doc_id"]
    )
    got = sorted((r.doc_id, r.draw_rank) for r in resumed.collect())
    want = sorted((r.doc_id, r.draw_rank) for r in expected.collect())
    assert got == want and len(got) == 25
    assert len(_batch_dirs(f"{out_dir}/cands")) == 2
    again = sorted((r.doc_id, r.draw_rank) for r in drain().collect())
    assert again == want
    assert len(_batch_dirs(f"{out_dir}/cands")) == 2

def test_stream_stream_join_resumes_from_checkpoint(spark, tmp_path_factory):
    """Round-12 extension of the resume matrix: the seven earlier
    kill-resume tests all cover foreachBatch batch-keyed recovery; this one
    proves the NATIVE state-store path recovers — a click ingested before
    the restart must join a purchase arriving after it, which only works if
    the join's state store rows survived the checkpoint. Files split in
    event-time order so the watermark never legitimately drops anything,
    making drained-across-restart == batch exact."""
    import datetime as dt

    from dbt_meshify_spark.streaming import stream_stream_join_clicks_to_purchases

    d = tmp_path_factory.mktemp("ssjoin_resume")
    sink = tmp_path_factory.mktemp("ssjoin_resume_out")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)

    def _write(rows, name):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(d / name))

    def drain():
        clicks = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        ).filter(F.col("event_type") == "click")
        purchases = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        ).filter(F.col("event_type") == "purchase")
        q = (
            stream_stream_join_clicks_to_purchases(clicks, purchases)
            .writeStream.format("parquet")
            .option("path", str(sink / "rows"))
            .option("checkpointLocation", str(sink / "_checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(str(sink / "rows"))
        except Exception:
            return spark.createDataFrame(
                [], "purchase_id long, click_id long, user_id long"
            )

    # drain 1: click A joins P1 immediately; click B's state row is
    # created but unmatched; click C waits for an out-of-horizon purchase
    _write(
        [
            (1, t0 + 10 * m, 1, "click", 1.0, ""),      # A
            (2, t0 + 20 * m, 2, "click", 1.0, ""),      # B
            (3, t0, 3, "click", 1.0, ""),               # C
            (4, t0 + 30 * m, 1, "purchase", 1.0, ""),   # P1 -> A
        ],
        "f1",
    )
    first = {(r.purchase_id, r.click_id) for r in drain().collect()}
    assert first == {(4, 1)}
    # resume from the SAME checkpoint: P2 (user 2, within 1h of B) must
    # pair with the click ingested BEFORE the restart — state-store
    # recovery, not reprocessing (f1 is committed); P3 is outside C's
    # horizon and must not pair
    _write(
        [
            (5, t0 + 40 * m, 2, "purchase", 1.0, ""),   # P2 -> B
            (6, t0 + 120 * m, 3, "purchase", 1.0, ""),  # P3: C + 2h, no pair
        ],
        "f2",
    )
    resumed = {(r.purchase_id, r.click_id) for r in drain().collect()}
    assert resumed == {(4, 1), (5, 2)}
    # idempotent no-op resume
    again = {(r.purchase_id, r.click_id) for r in drain().collect()}
    assert again == resumed

def test_stateful_totals_resume_from_checkpoint(spark, tmp_path_factory):
    """applyInPandasWithState kill-resume: the custom state tuple (n, total)
    must come back from the state store — the post-restart emission for a
    user seen before the restart carries the MERGED running total, not a
    fresh one, and committed input is not reprocessed."""
    import datetime as dt

    d = tmp_path_factory.mktemp("totals_resume")
    sink = str(tmp_path_factory.mktemp("totals_resume_out"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)

    def _write(rows, name):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(d / name))

    def drain():
        feed = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        )

        def save(df, batch_id):
            df.write.mode("overwrite").parquet(f"{sink}/totals/batch={batch_id}")

        q = (
            stateful_user_totals(feed)
            .writeStream.foreachBatch(save)
            .outputMode("update")
            .option("checkpointLocation", f"{sink}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(f"{sink}/totals")

    _write(
        [
            (1, t0, 1, "click", 1.0, ""),
            (2, t0 + m, 1, "click", 2.0, ""),
            (3, t0, 2, "click", 5.0, ""),
        ],
        "f1",
    )
    first = {(r.user_id, r.n_events, r.total_value) for r in drain().collect()}
    assert first == {(1, 2, 3.0), (2, 1, 5.0)}
    _write(
        [
            (4, t0 + 2 * m, 1, "click", 4.0, ""),
            (5, t0, 3, "click", 7.0, ""),
        ],
        "f2",
    )
    emitted = drain().collect()
    # the resumed drain's user-1 emission merges the recovered (2, 3.0)
    # state with the new event — (3, 7.0), never a fresh (1, 4.0)
    latest = {}
    for r in emitted:
        if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
            latest[r.user_id] = (r.n_events, r.total_value)
    assert latest == {1: (3, 7.0), 2: (1, 5.0), 3: (1, 7.0)}
    assert (1, 1, 4.0) not in {
        (r.user_id, r.n_events, r.total_value) for r in emitted
    }


def test_stream_dedup_resumes_from_checkpoint(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark kill-resume: a duplicate delivery
    arriving AFTER the restart of a row first seen before it must still be
    dropped — only possible if the dedup state store survived the
    checkpoint."""
    import datetime as dt

    from dbt_meshify_spark.streaming.events import stream_dedup

    d = tmp_path_factory.mktemp("dedup_resume")
    sink = tmp_path_factory.mktemp("dedup_resume_out")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)

    def _write(rows, name):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(d / name))

    def drain():
        feed = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        )
        q = (
            stream_dedup(feed, keys=["event_id"], watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", str(sink / "rows"))
            .option("checkpointLocation", str(sink / "_checkpoint"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(str(sink / "rows"))

    _write(
        [
            (1, t0 + 5 * m, 1, "click", 1.0, ""),
            (2, t0 + 10 * m, 2, "click", 1.0, ""),
        ],
        "f1",
    )
    assert sorted(r.event_id for r in drain().collect()) == [1, 2]
    # e1 redelivered after the restart (within the watermark) + a new e3
    _write(
        [
            (1, t0 + 12 * m, 1, "click", 1.0, ""),
            (3, t0 + 15 * m, 3, "click", 1.0, ""),
        ],
        "f2",
    )
    assert sorted(r.event_id for r in drain().collect()) == [1, 2, 3]
    # idempotent no-op resume
    assert sorted(r.event_id for r in drain().collect()) == [1, 2, 3]

def test_tumbling_window_resumes_from_checkpoint(spark, tmp_path_factory):
    """Native windowed-agg state kill-resume: a day window whose events
    SPLIT across the restart must emit the merged count after resume (the
    recovered agg state plus the new rows), never a fresh count — and the
    committed first file is not reprocessed."""
    import datetime as dt

    from dbt_meshify_spark.streaming.events import tumbling_window_counts

    d = tmp_path_factory.mktemp("tumble_resume")
    sink = str(tmp_path_factory.mktemp("tumble_resume_out"))
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)

    def _write(rows, name):
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(d / name))

    def drain():
        feed = read_events_stream(
            spark, str(d) + "/*/", nanos=False, max_files_per_trigger=1
        )

        def save(df, batch_id):
            df.write.mode("overwrite").parquet(f"{sink}/wins/batch={batch_id}")

        q = (
            tumbling_window_counts(feed)
            .writeStream.foreachBatch(save)
            .outputMode("update")
            .option("checkpointLocation", f"{sink}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(f"{sink}/wins")

    _write(
        [
            (1, t0 + 1 * h, 1, "click", 1.0, ""),
            (2, t0 + 2 * h, 2, "click", 2.0, ""),
        ],
        "f1",
    )
    first = {
        (str(r.window_start), r.event_type, r.n, r.total_value)
        for r in drain().collect()
    }
    assert first == {("2024-01-01 00:00:00", "click", 2, 3.0)}
    # day-1 gets one more event AFTER the restart + day-2 opens
    _write(
        [
            (3, t0 + 3 * h, 3, "click", 4.0, ""),
            (4, t0 + 25 * h, 4, "view", 9.0, ""),
        ],
        "f2",
    )
    emitted = drain().collect()
    latest = {}
    for r in emitted:
        key = (str(r.window_start), r.event_type)
        if key not in latest or r.n > latest[key][0]:
            latest[key] = (r.n, r.total_value)
    assert latest == {
        ("2024-01-01 00:00:00", "click"): (3, 7.0),
        ("2024-01-02 00:00:00", "view"): (1, 9.0),
    }
    # the resumed drain merged recovered state — a fresh day-1 (1, 4.0)
    # row must never have been emitted
    assert ("2024-01-01 00:00:00", "click", 1, 4.0) not in {
        (str(r.window_start), r.event_type, r.n, r.total_value)
        for r in emitted
    }


def test_file_sink_zero_batch_drain_returns_typed_empty(spark, tmp_path_factory):
    """Every drained monitor run over an EMPTY input directory must return
    its typed empty result, not raise: no micro-batch ever commits, so the
    sink directory is never created and the drain builds the result from
    the monitor's per-batch plan over an empty frame. Aggregate reports
    over the empty state come out typed as well (PSI keeps its fixed
    bucket spine)."""
    import os

    from dbt_meshify_spark.operators.classifier import train_nb_weights
    from dbt_meshify_spark.operators.dedup import minhash_index
    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.streaming.documents import (
        read_documents_stream,
        stream_classifier_filter,
        stream_cms_heavy_hitters,
        stream_conversation_filter,
        stream_decontaminate,
        stream_gopher_filter,
        stream_gram_novelty,
        stream_neardup_against_index,
        stream_quality_psi,
        stream_self_repetition,
        stream_weighted_sample,
    )
    from dbt_meshify_spark.streaming.events import (
        read_events_stream,
        stream_dp_noisy_counts,
        stream_l_diversity,
        stream_quantile_sketch,
        stream_weighted_quantile,
    )

    base = tmp_path_factory.mktemp("zerobatch")
    empty_in = base / "in"
    os.makedirs(empty_in)
    feed = read_documents_stream(spark, str(empty_in))
    out = stream_gopher_filter(feed, str(base / "g"))
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_words", "mean_word_len", "stop_hits"]

    from pyspark.sql import functions as F

    feed2 = read_documents_stream(spark, str(empty_in)).withColumn(
        "conversation", F.lit('[{"role":"user","content":"x"}]')
    )
    out2 = stream_conversation_filter(feed2, str(base / "c"))
    assert out2.count() == 0
    assert out2.columns == ["doc_id", "n_turns", "total_chars"]

    docs = load_table(spark, SF_SMOKE, "documents")
    sigs, bands = minhash_index(docs, num_hashes=16, bands=8, hash_fn="md5")
    weights = train_nb_weights(
        docs.withColumn("is_en", F.col("lang") == F.lit("en")), "is_en"
    )

    def dfeed():
        return read_documents_stream(spark, str(empty_in))

    def efeed():
        return read_events_stream(spark, str(empty_in), nanos=False)

    events = load_table(spark, SF_SMOKE, "events")
    cases = [
        (
            lambda o: stream_neardup_against_index(
                dfeed(), bands, sigs, o, num_hashes=16, bands=8, hash_fn="md5"
            ),
            ["new_id", "dup_of", "jaccard_est"],
            0,
        ),
        (
            lambda o: stream_quality_psi(
                dfeed(), quality_score(docs).select("doc_id", "quality"), o
            ),
            ["bucket", "n_old", "n_new", "p_old", "p_new", "psi_term", "psi_total"],
            10,
        ),
        (
            lambda o: stream_decontaminate(dfeed(), docs, o),
            ["doc_id", "n_grams", "matched", "overlap", "contaminated"],
            0,
        ),
        (
            lambda o: stream_self_repetition(dfeed(), o),
            ["doc_id", "clean_text", "n_tokens_kept", "n_tokens_removed"],
            0,
        ),
        (
            lambda o: stream_gram_novelty(dfeed(), docs, o),
            ["doc_id", "n_grams", "n_novel", "novelty"],
            0,
        ),
        (
            lambda o: stream_cms_heavy_hitters(dfeed(), docs.limit(0), o),
            ["token", "cms_est", "true_count", "overcount"],
            0,
        ),
        (
            lambda o: stream_weighted_sample(
                dfeed(), o, k=5, weight_col="n_chars", key_cols=["doc_id"]
            ),
            docs.columns + ["es_key", "draw_rank"],
            0,
        ),
        (
            lambda o: stream_classifier_filter(dfeed(), weights, o),
            ["doc_id", "n_tokens", "n_known", "score", "label"],
            0,
        ),
        (
            lambda o: stream_quantile_sketch(
                efeed(), events.limit(0), o, ["event_type"], "value",
                [0.5], 0.0, 512.0, 128,
            ),
            ["event_type", "q", "n", "est_q", "true_q", "abs_err"],
            0,
        ),
        (
            lambda o: stream_l_diversity(efeed(), o, ["event_type"], "user_id"),
            [
                "event_type", "group_size", "n_sensitive", "top_count",
                "max_share", "entropy", "at_risk_distinct", "at_risk_recursive",
            ],
            0,
        ),
        (
            lambda o: stream_dp_noisy_counts(
                efeed().select("event_type", "user_id"), o, ["event_type"]
            ),
            ["event_type", "n_true", "noise", "n_released"],
            0,
        ),
        (
            lambda o: stream_weighted_quantile(
                dfeed(), docs.limit(0), o, ["lang"], "n_chars", "n_chars",
                [0.5], 0.0, 1024.0, 128,
            ),
            ["lang", "q", "total_w", "est_q", "true_q", "abs_err"],
            0,
        ),
    ]
    for i, (monitor, columns, n_rows) in enumerate(cases):
        out = monitor(str(base / f"m{i}"))
        assert out.columns == columns, i
        assert out.count() == n_rows, i


def test_sized_batch_width_tracks_volume_with_floor_and_cap(spark, tmp_path):
    """r14: foreachBatch drains pin their batch-plan shuffle width to the
    source volume — floor 8 (batch tasks pay only scheduling overhead, so
    parallelism returns sooner than for state stores), one task per
    ~bytes_per_task, capped at the session width; unstattable paths fall
    back to the session width (no pin effect)."""
    from dbt_meshify_spark.streaming.events import sized_batch_width

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)
    # tiny source -> the floor
    assert sized_batch_width(spark, str(small)) == min(8, max(width, 8))
    # sub-floor volume still floors at 8; larger volumes scale linearly
    # (one task per 4 MB) and cap at the session width
    big = tmp_path / "big.bin"
    big.write_bytes(b"x" * (4 * 1024 * 1024 * 12))
    assert sized_batch_width(spark, str(big)) == min(12, max(width, 8))
    huge = tmp_path / "huge.bin"
    huge.write_bytes(b"x" * (4 * 1024 * 1024 * 100))
    assert sized_batch_width(spark, str(huge)) == max(width, 8)
    # missing path -> session width (no-op pin)
    assert sized_batch_width(spark, str(tmp_path / "nope")) == width


def _conversation_feed(feed):
    from dbt_meshify_spark.queries.extensions import _CONV_SYNTH

    return feed.filter(F.col("text").isNotNull()).withColumn(
        "conversation", F.expr(_CONV_SYNTH)
    )


@pytest.mark.parametrize(
    "monitor",
    [
        "stream_decontaminate",
        "stream_self_repetition",
        "stream_gram_novelty",
        "stream_quality_psi",
        "stream_gopher_filter",
        "stream_conversation_filter",
    ],
)
def test_stateless_monitor_noop_resume_returns_same_rows(
    spark, tmp_path_factory, monitor
):
    """A resumed drain that finds no new input must return everything the
    first drain committed: the monitor's result is read back from the sink,
    not from state held by the process that ran the batches."""
    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.streaming import documents

    docs = load_table(spark, SF_SMOKE, "documents")
    calls = {
        "stream_decontaminate": lambda feed, o: documents.stream_decontaminate(
            feed, docs.filter(F.col("doc_id") % 20 == 0), o
        ),
        "stream_self_repetition": documents.stream_self_repetition,
        "stream_gram_novelty": lambda feed, o: documents.stream_gram_novelty(
            feed, docs.filter(F.col("doc_id") % 2 == 0), o
        ),
        "stream_quality_psi": lambda feed, o: documents.stream_quality_psi(
            feed, quality_score(docs).select("doc_id", "quality"), o
        ),
        # the generated corpus has too few stopwords to pass the Gopher
        # rules; a stopword prefix makes most documents survive
        "stream_gopher_filter": lambda feed, o: documents.stream_gopher_filter(
            feed.withColumn(
                "text", F.concat(F.lit("the cat and the dog went to "), "text")
            ),
            o,
            min_words=30,
        ),
        "stream_conversation_filter": lambda feed, o: (
            documents.stream_conversation_filter(_conversation_feed(feed), o)
        ),
    }
    d = tmp_path_factory.mktemp(f"{monitor}_in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(d / "f1"))
    out_dir = str(tmp_path_factory.mktemp(f"{monitor}_out"))

    def drain():
        feed = documents.read_documents_stream(
            spark, str(d) + "/*/", max_files_per_trigger=1
        )
        out = calls[monitor](feed, out_dir)
        return sorted(tuple(str(v) for v in r) for r in out.collect())

    first = drain()
    assert len(first) > 0
    assert drain() == first

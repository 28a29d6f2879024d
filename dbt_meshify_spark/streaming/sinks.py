"""The one replay-safe drain every per-micro-batch streaming monitor runs on.

A monitor supplies ``per_batch``, a batch plan from one micro-batch frame to
the rows it commits; :func:`drain` runs it under ``foreachBatch`` with
``trigger(availableNow=True)`` and one sink discipline:

- **Commit** is batch-keyed OVERWRITE to ``{out_dir}/{sink}/batch={id}``.
  foreachBatch is at-least-once: a crash between the sink write and the
  checkpoint commit replays the batch, and the replay lands on the same
  directory instead of double-counting (a blind append would duplicate it).
- **Read back** is the union of committed batches. The state lives on disk,
  not in the process, so a resumed drain that finds no new input returns
  everything committed before it.
- **Zero batches** (nothing was ever committed) returns ``per_batch`` over an
  empty static frame with the stream's schema, so the typed empty result is
  built by the same code as the data.

The never-committed check asks Spark, not ``os.path.isdir``: a missing path
is the datasource's PATH_NOT_FOUND AnalysisException on any filesystem
(HDFS/S3 included), while any other read failure — a corrupted but existing
sink — still raises, so an unreadable sink cannot masquerade as an empty
corpus.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _read_sink_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a batch-keyed parquet sink, or None when it was never written.

    Only the never-written case (PATH_NOT_FOUND) maps to None; every other
    read failure propagates.
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def drain(
    stream_df: DataFrame,
    out_dir: str,
    sink: str,
    per_batch: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Drain ``stream_df`` availableNow, committing ``per_batch(batch)`` to
    ``{out_dir}/{sink}/batch={id}`` (checkpoint in ``{out_dir}/_checkpoint``),
    and return the committed rows without the ``batch`` column."""
    spark = stream_df.sparkSession

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        per_batch(batch_df).write.mode("overwrite").parquet(
            f"{out_dir}/{sink}/batch={batch_id}"
        )

    (
        stream_df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    committed = _read_sink_or_none(spark, f"{out_dir}/{sink}")
    if committed is None:
        return per_batch(spark.createDataFrame([], stream_df.schema))
    return committed.drop("batch")

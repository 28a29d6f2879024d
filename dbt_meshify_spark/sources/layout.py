"""Data-layout management: compaction and sort-clustered rewrite.

The two layout problems every standing 100 TB parquet corpus grows:

- **Small files.** Streaming foreachBatch sinks, per-batch incremental
  appends, and over-parallel writers leave thousands of KB-sized files;
  at read time each costs a task + a footer fetch, and the scheduler, not
  the scan, becomes the bottleneck. ``compact_parquet`` rewrites a
  directory to ~target-sized files.
- **No clustering.** Parquet row-group min/max stats only prune when rows
  are clustered on the filtered column. ``optimize_layout`` rewrites a
  table range-partitioned and sorted on the given columns, so every file
  owns a narrow, non-overlapping key range and a selective filter skips
  whole files (the open-format analog of Delta ``OPTIMIZE ... ZORDER BY``
  for the single-column-prefix case, which is what row-group stats can
  actually use).

Both are one-shuffle rewrites, safe to run as periodic maintenance jobs:
publishing the rewrite is the caller's policy (``lakehouse.commit``
writes a new version, then publishes it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a parquet directory into ``ceil(rows/target)`` files.

    One job: count from metadata-cheap scan, then a round-robin
    ``repartition(n)`` (no key — compaction must not skew on data values)
    and a single write. Returns the file count written. At 100 TB run it
    per-partition-directory, not corpus-wide, so each maintenance job stays
    executor-sized.
    """
    df = spark.read.parquet(path)
    rows = df.count()
    n = max(1, -(-rows // target_rows_per_file))
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n


def optimize_layout(
    df: DataFrame,
    out_path: str,
    cluster_by: list[str],
    target_files: int = 8,
) -> None:
    """Rewrite ``df`` clustered on ``cluster_by``: range-partitioned across
    files and sorted within each, so parquet row-group/file min-max stats
    become selective and a pushed-down filter on the cluster column prunes
    entire files instead of scanning them.

    ``repartitionByRange`` samples the key distribution, so files get
    near-equal ROW counts even on skewed keys (a hash layout would put a
    hot key's whole mass in one file); ``sortWithinPartitions`` orders
    rows inside each file so row-group stats are tight too. One shuffle
    total. Verified by reading back file-level parquet stats in
    tests/test_operators.py::test_optimize_layout_clusters_key_ranges.
    """
    cols = [F.col(c) for c in cluster_by]
    (
        df.repartitionByRange(target_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(out_path)
    )


def zorder_value(bucket_cols: list[Column], bits: int = 8) -> Column:
    """Morton (Z-order) interleave of already-bucketed dimension columns.

    ``bucket_cols`` must each be integer columns in ``[0, 2**bits)`` (see
    ``zorder_bucket``). Bit ``i`` of column ``j`` lands at position
    ``i*k + (k-1-j)`` so earlier columns take the more significant bit of
    each group — a fixed codegen integer expression (``2*bits*k`` shift/and
    terms), no UDF, no shuffle.
    """
    k = len(bucket_cols)
    terms = []
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            terms.append(
                F.shiftleft(
                    F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
                    i * k + (k - 1 - j),
                )
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zorder_bucket(col: Column, vmin: Column, vmax: Column, bits: int = 8) -> Column:
    """Rank a dimension into ``[0, 2**bits)`` by global min/max.

    ``floor((v - vmin) * 2**bits / (vmax - vmin + 1))`` — engine-portable:
    with sub-2^30 numerators the IEEE-division quotient is > 2^-31 away
    from any integer it doesn't equal, so ``floor`` agrees bit-for-bit
    across engines. Raw interleave without ranking is degenerate when one
    dimension's high bits are unpopulated (e.g. day-of-month in 8 bits).
    """
    span = (vmax - vmin + F.lit(1)).cast("double")
    return F.floor(
        (col - vmin).cast("double") * F.lit(float(2**bits)) / span
    ).cast("long")


def _staged_zorder_buckets(
    df: DataFrame, dims: list[str], bits: int
) -> tuple[DataFrame, list[Column]]:
    """Shared staging for the z-order writer and the grid report: one
    min/max stats pass over every dimension (single aggregate, 1-row
    broadcast join) + the per-dimension bucket expressions."""
    stats = df.agg(
        *[
            agg(dim).cast("long").alias(f"__{nm}_{dim}")
            for dim in dims
            for nm, agg in (("min", F.min), ("max", F.max))
        ]
    )
    out = df.crossJoin(F.broadcast(stats))
    buckets = [
        zorder_bucket(
            F.col(dim).cast("long"),
            F.col(f"__min_{dim}"),
            F.col(f"__max_{dim}"),
            bits,
        )
        for dim in dims
    ]
    return out, buckets


def zorder_file_stats(
    df: DataFrame,
    dims: list[str],
    bits: int = 8,
    target_files: int = 16,
) -> DataFrame:
    """Per-file min/max/span report for a STATIC-GRID Z-order layout —
    the deterministic (oracle-checkable) sibling of ``zorder_layout``.

    Files are fixed equal-width z-ranges (``file_id = z >> (k*bits -
    log2(target_files))``) rather than ``repartitionByRange``'s sampled
    quantiles, so the assignment is a pure projection: the plan is one
    stats pass (single aggregate, 1-row broadcast) + one projection +
    one ``target_files``-group aggregate. The output quantifies the
    Z-order guarantee — EVERY dimension's per-file span is ~range /
    target_files**(1/k), vs a 1-d sort where the second dimension spans
    the full range in every file.

    ``target_files`` must be a power of two no larger than the
    ``2**(len(dims)*bits)`` grid — the shift form cannot honor other
    values (and a negative shift would silently collapse the layout:
    the JVM masks shift counts to 6 bits instead of erroring).
    """
    k = len(dims)
    if target_files < 2 or target_files & (target_files - 1):
        raise ValueError(
            f"zorder_file_stats: target_files must be a power of two >= 2, "
            f"got {target_files}"
        )
    shift = k * bits - (target_files.bit_length() - 1)
    if shift < 0:
        raise ValueError(
            f"zorder_file_stats: target_files {target_files} exceeds the "
            f"2^({k}*{bits}) grid cell count"
        )
    out, buckets = _staged_zorder_buckets(df, dims, bits)
    out = out.withColumn("__fid", F.shiftright(zorder_value(buckets, bits), shift))
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for dim in dims:
        aggs += [
            F.min(F.col(dim).cast("long")).alias(f"{dim}_min"),
            F.max(F.col(dim).cast("long")).alias(f"{dim}_max"),
            (F.max(F.col(dim).cast("long")) - F.min(F.col(dim).cast("long")))
            .cast("bigint")
            .alias(f"{dim}_span"),
        ]
    return out.groupBy(F.col("__fid").cast("int").alias("file_id")).agg(*aggs)


def zorder_layout(
    df: DataFrame,
    out_path: str,
    cluster_by: list[str],
    bits: int = 8,
    target_files: int = 16,
) -> None:
    """Rewrite ``df`` Z-order-clustered on ``cluster_by`` (the multi-column
    extension of ``optimize_layout`` — Delta ``OPTIMIZE ... ZORDER BY``):
    every file owns a narrow range of EVERY cluster dimension, so parquet
    min/max stats prune files for filters on any of them, not just the
    sort prefix.

    One stats pass (min/max per dimension, 1-row broadcast), then ONE
    shuffle: ``repartitionByRange`` on the interleaved z-value (sampled
    quantiles keep file ROW counts balanced on skewed data — the static
    grid in ``zorder_file_stats`` is the deterministic variant) with an
    in-file sort on z so row-group stats are tight too.
    """
    out, buckets = _staged_zorder_buckets(df, cluster_by, bits)
    out = out.withColumn("__z", zorder_value(buckets, bits))
    (
        out.repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *[c for d in cluster_by for c in (f"__min_{d}", f"__max_{d}")])
        .write.mode("overwrite")
        .parquet(out_path)
    )

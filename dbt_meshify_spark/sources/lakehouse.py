"""Versioned tables on disk: the one owner of "which version of a table is
current" and "write version n+1", for the project runner (table, seed,
incremental, snapshot and ``store_failures`` writes),
``streaming.stream_to_incremental`` and ``merge_upsert``.

A table is a directory of immutable ``v{n}`` parquet snapshots plus a
``_VERSION`` marker naming the current one. ``commit`` writes ``v{n+1}``
and only then publishes the marker, so a failed write leaves the previous
version current and every process that opens the directory agrees on it.

``upsert`` is the incremental algebra everywhere in this engine: "same-key
new rows replace old". At cluster scale that is a transactional ``MERGE
INTO``, so ``merge_upsert`` runs ``DeltaTable.merge`` when Delta is
importable (dbt-spark's merge strategy verbatim) and ``upsert`` +
``commit`` otherwise (correct, but rewrites; the 100 TB upgrade path is
"install Delta", not "change callers").

Reference semantics: dbt incremental ``unique_key`` merge
(/root/reference/test-projects/split/split_proj/models/marts/orders.sql:1-6).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_MARKER = "_VERSION"


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version}")


def current_version(table_dir: str) -> int:
    """The published version at ``table_dir``; 0 when nothing was committed."""
    try:
        with open(os.path.join(table_dir, _MARKER)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def read_current(spark: SparkSession, table_dir: str) -> DataFrame:
    version = current_version(table_dir)
    if not version:
        raise FileNotFoundError(f"no table versions at {table_dir}")
    return spark.read.parquet(_version_dir(table_dir, version))


def commit(
    df: DataFrame, table_dir: str, partition_by: list[str] | None = None
) -> int:
    """Write ``df`` as version n+1 of ``table_dir``, then publish it; returns
    the new version. ``df`` may read the current version: it writes to a
    fresh directory. ``partition_by`` maps dbt-spark's model config to
    physical layout (filters on those columns prune at the scan)."""
    version = current_version(table_dir) + 1
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(_version_dir(table_dir, version))
    # publish by rename: a crash leaves the old marker or the new, never half
    tmp = os.path.join(table_dir, _MARKER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(table_dir, _MARKER))
    return version


def upsert(existing: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """``batch`` plus the ``existing`` rows whose ``keys`` it does not carry
    (left_anti on the key columns only, so payloads never shuffle)."""
    survivors = existing.join(batch.select(*keys).distinct(), on=keys, how="left_anti")
    return batch.unionByName(survivors)


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def merge_upsert(
    spark: SparkSession,
    target_dir: str,
    source: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Upsert ``source`` into the table at ``target_dir`` by ``keys``;
    creates the table on first call. Returns the post-merge table."""
    if delta_available():
        return _merge_delta(spark, target_dir, source, keys)
    if current_version(target_dir):
        source = upsert(read_current(spark, target_dir), source, keys)
    commit(source, target_dir)
    return read_current(spark, target_dir)


def _merge_delta(
    spark: SparkSession, target_dir: str, source: DataFrame, keys: list[str]
) -> DataFrame:
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, target_dir):
        source.write.format("delta").mode("overwrite").save(target_dir)
        return spark.read.format("delta").load(target_dir)
    target = DeltaTable.forPath(spark, target_dir)
    cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
    (
        target.alias("t")
        .merge(source.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    return spark.read.format("delta").load(target_dir)


def list_versions(target_dir: str) -> list[int]:
    """Published versions at ``target_dir`` (ascending). Every ``v{n}``
    directory is kept precisely so trainings can pin the exact snapshot
    they consumed; a directory past the marker is a write that never
    published and is not a version."""
    if not os.path.isdir(target_dir):
        return []
    current = current_version(target_dir)
    return sorted(
        v
        for d in os.listdir(target_dir)
        if (m := re.fullmatch(r"v(\d+)", d)) and (v := int(m.group(1))) <= current
    )


def read_table_version(
    spark: SparkSession, target_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read (time travel): the table at ``target_dir`` exactly as
    of ``version`` (default: current). A training run that records the
    version it read is exactly reproducible later, merges since
    notwithstanding — the dataset-lineage half of incremental curation.

    Delta path: native ``versionAsOf``. Parquet path: each commit wrote
    an immutable ``v{n}`` directory, so the snapshot is a plain read of
    that directory.
    """
    if delta_available():
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, target_dir):
            r = spark.read.format("delta")
            if version is not None:
                r = r.option("versionAsOf", version)
            return r.load(target_dir)
    if version is None:
        return read_current(spark, target_dir)
    versions = list_versions(target_dir)
    if version not in versions:
        raise ValueError(f"version {version} not in {versions} at {target_dir}")
    return spark.read.parquet(_version_dir(target_dir, version))


def expire_versions(
    spark: SparkSession, target_dir: str, keep_last: int = 2
) -> list[int]:
    """Retention maintenance for versioned tables (the VACUUM /
    ``delta.logRetentionDuration`` analog of the parquet path): delete
    every snapshot older than the newest ``keep_last``, NEVER touching the
    current version. Returns the versions removed.

    Each ``v{n}`` directory is immutable, so expiry is a pure directory
    delete — no data rewrite, no reader coordination beyond "don't pin a
    version you've expired" (the caller owns that policy; training runs
    that must stay reproducible keep their pinned versions out of the
    retention window). Delta tables manage their own retention and are
    left alone.
    """
    if keep_last < 1:
        raise ValueError("expire_versions: keep_last must be >= 1")
    if delta_available():
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, target_dir):
            return []  # Delta retention is the engine's job (VACUUM)
    removed = []
    # the newest published version is the current one: always kept
    for v in list_versions(target_dir)[:-keep_last]:
        path = _version_dir(target_dir, v)
        shutil.rmtree(path, ignore_errors=True)
        # report only what actually left the disk — a permission/NFS-busy
        # failure must not corrupt the caller's retention audit
        if not os.path.exists(path):
            removed.append(v)
    return removed

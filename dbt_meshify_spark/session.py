"""SparkSession factory + per-session preparation.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy demotion are the main levers that let one logical plan
  survive a 1000x scale-up without re-tuning.
- ``spark.sql.session.timeZone=UTC`` pinned so timestamp->date casts are
  deterministic regardless of host TZ (the DuckDB oracle is TZ-naive).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` because the driver testdata's
  ``events.parquet`` stores TIMESTAMP(NANOS), which Spark's vectorized parquet
  reader otherwise rejects (SURVEY.md §2.7 validation note). The loader
  converts the raw long nanoseconds to a proper timestamp JVM-side
  (``sources.registry``), keeping the read fully distributed.
- ``spark.sql.codegen.cache.maxEntries=4096``: Spark keeps compiled
  whole-stage and expression classes in an LRU keyed by the generated
  source, 100 entries by default. One first-execution pass of the 244
  queries in one session at sf0.01 generates 3,457 distinct classes: at
  100 entries it ran 5,803 Janino compiles, at 4096 (the next power of
  two) one per class. Metaspace ended at 227.0 MB against 236.6 MB, so
  keeping every class costs ~10 MB of a multi-GB driver. The
  bound stays finite so a long-lived session cannot grow without limit.
  Only compiled code is kept; every execution still analyzes, plans, reads
  and computes. The conf is static, so ``prepare`` cannot set it: an
  externally provided session (the correctness driver's) keeps Spark's
  default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf we need on every session that touches the driver testdata. Split into
# "must be set before first use of the parquet source" (runtime-settable) vs
# builder-time conf.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate turns every explode(f(x)) into a pushed-down
    # filter size(f(x))>0 AND isnotnull(f(x)) — duplicating f wholesale into
    # a Filter that sinks below repartitions onto the (often single-split)
    # scan. For computed arrays (shingles, LSH band keys) that re-evaluates
    # the heaviest expression in the job 2x single-threaded: measured 17s vs
    # 1.3s on the trigram stage at sf0.1. The rule only ever helps when the
    # exploded column is stored, which never happens in this engine.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime conf to an externally-provided session.

    The correctness driver hands us its own SparkSession; these configs are all
    runtime-settable and required for deterministic, scale-safe behavior.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Immutable in this deployment -> trust the existing value.
            pass
    try:
        # Right-size shuffles for externally-provided sessions, but only when
        # the conf is Spark's untouched 200 default: a deliberate setting
        # (ours or a cluster operator's) always wins. Matters doubly for
        # stateful streaming, where the value pins state-store partition
        # count and AQE cannot coalesce it afterwards.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 32)))
    except Exception:
        pass
    return spark


def builder_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """Every conf a session of ours starts with: the static confs, which only
    the builder can set, plus ``_RUNTIME_CONF``. ``get_spark`` and
    ``scripts/profile_query.py`` both build from it."""
    if shuffle_partitions is None:
        shuffle_partitions = max(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), 32)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # managed (bucketed) tables land here, not in ./spark-warehouse
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", f"/tmp/dbt-meshify-spark-warehouse-{os.getpid()}"
        ),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Dim tables (region/nation/supplier/part at test SF) broadcast freely;
        # at 100 TB the fact side never broadcasts because the threshold is
        # per-relation size, not per-job.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Compiled-class cache sized to the whole corpus (design notes).
        "spark.sql.codegen.cache.maxEntries": "4096",
        **_RUNTIME_CONF,
    }


def get_spark(
    app_name: str = "dbt-meshify-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized from the environment.

    On a real cluster the master/deploy conf comes from spark-submit; only the
    SQL-level conf of ``builder_conf`` travels with the app.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app_name)
    return prepare(builder.config(map=builder_conf(shuffle_partitions)).getOrCreate())

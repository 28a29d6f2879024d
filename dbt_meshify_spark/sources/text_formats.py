"""JSONL / CSV source formats for training-data corpora.

The reference's only file source is CSV seeds
(/root/reference/test-projects/split/split_proj/dbt_project.yml:17); web-scale
corpora additionally arrive as JSONL shards. Both are thin wrappers over
Spark's readers with two scale rules baked in:

- **Explicit schema always.** Schema inference is a full extra pass over the
  data (and for JSON, a driver-side merge of per-partition schemas) — at
  100 TB that is a second job before the first byte of real work. Callers
  pass a DDL string or StructType; ``infer=True`` exists for exploration
  only.
- **Writers emit one file per partition** — shard count is controlled by the
  upstream partitioning (``repartition``/``repartitionByRange``), not by the
  writer, so a write never introduces its own shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dbt_meshify_spark.session import prepare


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | T.StructType | None = None,
    infer: bool = False,
) -> DataFrame:
    """Read newline-delimited JSON. ``schema`` is required unless
    ``infer=True`` (exploration only — inference is an extra full scan)."""
    prepare(spark)
    if schema is None and not infer:
        raise ValueError(
            "read_jsonl requires an explicit schema at scale; pass infer=True "
            "only for exploration"
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write as JSONL, one file per partition (Spark's native json sink)."""
    df.write.mode(mode).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """Read CSV (the reference's seed format) with an explicit schema."""
    prepare(spark)
    if schema is None and not infer:
        raise ValueError(
            "read_csv requires an explicit schema at scale; pass infer=True "
            "only for exploration"
        )
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """Write CSV, one file per partition."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC (columnar, self-describing — schema travels with the file,
    so no explicit-schema rule applies). Spark's vectorized ORC reader gives
    the same pushdown/pruning surface as parquet; useful when the corpus
    arrives from a Hive/Trino estate that standardized on ORC."""
    prepare(spark)
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ORC, one file per partition (shard count owned upstream)."""
    df.write.mode(mode).orc(path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Read raw text. ``whole=False`` → one row per line (``value`` column,
    splittable, parallel). ``whole=True`` → one row per FILE — required when
    a document spans lines; not splittable, so pair it with many small-ish
    files, never one giant blob."""
    prepare(spark)
    return spark.read.text(path, wholetext=whole)


def read_binary(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Read opaque media blobs via Spark's ``binaryFile`` source:
    ``path, modificationTime, length, content(binary)`` — the ingest edge of
    the multimodal column pipeline (operators/multimodal.py consumes the
    ``content`` column). Non-splittable per file by design; the parallel unit
    is the file, so shard media into object-store-sized blobs (~100 MB)
    upstream."""
    prepare(spark)
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


class DataSourceUnavailable(ImportError):
    """A Spark datasource module is not deployed in this runtime."""


def _gate_missing_datasource(fmt: str, package: str, exc: Exception) -> None:
    """Re-raise a missing-datasource AnalysisException as a clear,
    deployment-actionable error; re-raise everything else untouched."""
    if "Failed to find data source" in str(exc):
        raise DataSourceUnavailable(
            f"Spark datasource '{fmt}' is not deployed in this runtime "
            f"(needs --packages {package}). The call path is the production "
            "code; deploy the connector to activate it."
        ) from exc
    raise exc


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro container files (row-oriented, schema-evolving ingest format).

    Gated: the spark-avro SQL module is a separate deployment artifact
    (core avro jars alone don't register the datasource). Raises
    DataSourceUnavailable with deployment guidance when absent.
    """
    prepare(spark)
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:
        _gate_missing_datasource(
            "avro", "org.apache.spark:spark-avro_2.13:<spark-version>", e
        )


"""Semantic-model measure compiler (M1) — YAML measure/dimension specs to
Spark aggregate plans.

Reference analog: the corpus declares semantic models with measures over the
orders grain and a day-granularity time dimension
(/root/reference/test-projects/split/split_proj/models/marts/__models.yml
``semantic_models`` block; SURVEY.md §2.3 M1/T2). The reference never
executes them (metricflow does, outside the repo); here the engine compiles
them directly: ``groupBy(date_trunc(grain, time_dim), *dims).agg(...)``.

Scale: the generated plan is a plain hash aggregate — partial aggregation
map-side, one shuffle on the grouping key. Nothing driver-side.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_meshify_spark.project.compiler import SemanticCompileError

_AGGS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "average": F.avg,
    "count": F.count,
    "count_distinct": F.countDistinct,
}

# grains that date_trunc accepts, narrowest-first
_GRAINS = ("day", "week", "month", "quarter", "year")


def model_name_of(spec: dict[str, Any]) -> str:
    """The model a semantic spec is bound to: ``model: ref('orders_mart')``."""
    m = re.search(r"ref\s*\(\s*['\"](\w+)['\"]\s*\)", str(spec.get("model", "")))
    if not m:
        raise SemanticCompileError(f"semantic model has no ref() binding: {spec}")
    return m.group(1)


def compile_measure_query(
    df: DataFrame,
    spec: dict[str, Any],
    grain: str | None = None,
    measures: list[str] | None = None,
    dimensions: list[str] | None = None,
) -> DataFrame:
    """Aggregate ``df`` (the bound model's frame) per the semantic spec.

    - ``grain`` overrides the time dimension's declared granularity; must be
      >= the declared grain (you can roll day up to month, not down).
    - ``measures``/``dimensions`` subset the declared names (default: all
      measures, the time dimension only).
    """
    dim_specs = {d["name"]: d for d in spec.get("dimensions", [])}
    measure_specs = {m["name"]: m for m in spec.get("measures", [])}
    want_measures = measures or list(measure_specs)

    group_cols = []
    time_dims = [d for d in dim_specs.values() if d.get("type") == "time"]
    if time_dims:
        td = time_dims[0]
        declared = td.get("time_granularity", "day")
        use = grain or declared
        if use not in _GRAINS:
            raise SemanticCompileError(f"unknown grain {use!r}")
        if _GRAINS.index(use) < _GRAINS.index(declared):
            raise SemanticCompileError(
                f"grain {use!r} is finer than declared {declared!r}"
            )
        group_cols.append(
            F.date_trunc(use, F.col(td["name"])).cast("date").alias(td["name"])
        )
    for name in dimensions or []:
        d = dim_specs.get(name)
        if d is None:
            raise SemanticCompileError(f"unknown dimension {name!r}")
        if d.get("type") != "time":
            group_cols.append(F.col(name))

    aggs = []
    for name in want_measures:
        m = measure_specs.get(name)
        if m is None:
            raise SemanticCompileError(f"unknown measure {name!r}")
        agg_fn = _AGGS.get(str(m.get("agg", "sum")).lower())
        if agg_fn is None:
            raise SemanticCompileError(f"unsupported agg {m.get('agg')!r}")
        aggs.append(agg_fn(F.expr(str(m.get("expr", name)))).alias(name))

    if not aggs:
        raise SemanticCompileError("no measures to aggregate")
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def metric_input_measures(metric: dict[str, Any]) -> list[str]:
    """Measure names a (non-derived) metric aggregates over."""
    mtype = metric.get("type", "simple")
    if mtype == "simple":
        return [metric["measure"]]
    if mtype == "ratio":
        return [metric["numerator"], metric["denominator"]]
    raise SemanticCompileError(f"unsupported metric type {mtype!r}")


def _metric_column(metric: dict[str, Any]):
    """Post-aggregation column expression for a simple/ratio metric, in
    terms of its already-aggregated measure columns."""
    if metric.get("type", "simple") == "simple":
        return F.col(metric["measure"])
    return F.col(metric["numerator"]) / F.col(metric["denominator"])


def compile_metric_query(
    df: DataFrame,
    metric: dict[str, Any],
    semantic_spec: dict[str, Any],
    grain: str | None = None,
) -> DataFrame:
    """Metric over a semantic model: ``simple`` (one measure, renamed) or
    ``ratio`` (numerator / denominator measure). Both reduce to one
    aggregate pass — the ratio divides the two aggregated columns, never
    row-level values, so partial aggregation still applies."""
    measures = metric_input_measures(metric)
    out = compile_measure_query(df, semantic_spec, grain=grain, measures=measures)
    keep = [c for c in out.columns if c not in measures]
    return out.select(*keep, _metric_column(metric).alias(metric["name"]))


def compile_derived_metric(
    df: DataFrame,
    metric: dict[str, Any],
    input_metrics: list[dict[str, Any]],
    semantic_spec: dict[str, Any],
    grain: str | None = None,
) -> DataFrame:
    """``derived`` metric: an expression over other metrics
    (``expr: "a - b"`` with ``metrics: [a, b]``). All inputs must bind the
    same semantic model; the plan is STILL one aggregate pass — the union
    of every input's measures aggregates once, each input metric becomes a
    post-aggregation column, and the expression evaluates over those.
    No joins, no second shuffle."""
    measures: list[str] = []
    for im in input_metrics:
        for m in metric_input_measures(im):
            if m not in measures:
                measures.append(m)
    out = compile_measure_query(df, semantic_spec, grain=grain, measures=measures)
    group_cols = [c for c in out.columns if c not in measures]
    for im in input_metrics:
        out = out.withColumn(im["name"], _metric_column(im))
    return out.select(
        *group_cols, F.expr(str(metric["expr"])).alias(metric["name"])
    )

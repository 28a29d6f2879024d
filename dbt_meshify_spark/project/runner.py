"""Topo-order project execution on Spark (SURVEY.md §3.1 stages 3-6 restated;
the reference shells into ``dbt run`` — /root/reference/dbt_meshify/dbt.py:36-65
— and the warehouse executes; here Spark IS the warehouse).

Materializations (§1.2):
- view/ephemeral -> temp view (no data movement; Catalyst inlines on use)
- table          -> parquet write under the warehouse dir + view over it
- incremental    -> first run like table; later runs compile with
  ``is_incremental()=true``, union the increment with existing rows
  (anti-join upsert on ``unique_key``), and write a NEW versioned directory
  (write-then-swap: never reads and overwrites the same files, and at scale
  maps onto Delta/Iceberg MERGE with no semantic change)
- seed           -> CSV load -> table

Enforcement at compile/materialize time:
- access: ref() to a ``private`` model from outside its group is a
  CompileError (mirrors dbt-core parse behavior; the reference only labels —
  grouper.py:41-55).
- contract: declared columns/types must match the produced schema before any
  write (plans.contracts.enforce_contract).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_meshify_spark.plans.contracts import enforce_contract
from dbt_meshify_spark.plans.graph import select_resources
from dbt_meshify_spark.plans.manifest import Resource
from dbt_meshify_spark.project.compiler import AccessViolation, CompileError
from dbt_meshify_spark.project.loader import SparkProject, TestSpec
from dbt_meshify_spark.project.testing import compile_test
from dbt_meshify_spark.sources import lakehouse


@dataclass
class RunResult:
    statuses: dict[str, str] = field(default_factory=dict)   # name -> ok|error:<msg>
    relations: dict[str, str] = field(default_factory=dict)  # name -> view name

    @property
    def ok(self) -> bool:
        return all(s == "ok" for s in self.statuses.values())


@dataclass
class TestResult:
    name: str
    passed: bool
    failures: int
    relation: str | None = None  # set when failures were stored (audit table)


def default_source_loader(
    spark: SparkSession, project: SparkProject, resource: Resource
) -> DataFrame:
    """Bind a source table to data. ``meta.path`` (vars-interpolated,
    project-relative or absolute) names a parquet/csv location; otherwise the
    identifier must already be a registered table/view."""
    meta_path = resource.meta.get("path")
    if meta_path:
        interpolated = re.sub(
            r"{{\s*var\s*\(\s*['\"](\w+)['\"]\s*\)\s*}}",
            lambda m: str(project.vars.get(m.group(1), "")),
            str(meta_path),
        )
        p = Path(interpolated)
        if not p.is_absolute():
            p = project.root / p
        if p.suffix == ".csv":
            return spark.read.csv(str(p), header=True, inferSchema=True)
        return spark.read.parquet(str(p))
    return spark.table(resource.relation_name or resource.name)


class ProjectRunner:
    def __init__(
        self,
        spark: SparkSession,
        project: SparkProject,
        warehouse_dir: str | Path | None = None,
        source_loader: Callable[..., DataFrame] | None = None,
    ) -> None:
        self.spark = spark
        self.project = project
        self.warehouse_dir = Path(warehouse_dir) if warehouse_dir else None
        self.source_loader = source_loader or default_source_loader
        self._registered: set[str] = set()
        self._run_started_at = None

    # -- naming ------------------------------------------------------------

    def relation_for(self, resource: Resource) -> str:
        return resource.name

    def _resolve_ref(
        self, *args: str, version: int | None = None, consumer: Resource | None = None
    ) -> str:
        name = args[-1]
        manifest = self.project.manifest
        target = (
            manifest.get(f"model.{self.project.name}.{name}")
            or manifest.get(f"seed.{self.project.name}.{name}")
            or manifest.get(f"snapshot.{self.project.name}.{name}")
        )
        if target is None and version is None:
            raise CompileError(f"ref to unknown model {name!r}")
        if version is not None:
            vname = f"{name}_v{version}"
            vtarget = manifest.get(f"model.{self.project.name}.{vname}")
            if vtarget is None:
                raise CompileError(f"ref to unknown version {name!r} v={version}")
            target = vtarget
        elif target is None:
            raise CompileError(f"ref to unknown model {name!r}")
        if (
            consumer is not None
            and target.access == "private"
            and (target.group or consumer.group)
            and target.group != consumer.group
        ):
            raise AccessViolation(
                f"{consumer.name} cannot ref private model {target.name} "
                f"(group {target.group!r})"
            )
        return self.relation_for(target)

    def _resolve_source(self, source_name: str, table_name: str) -> str:
        sid = f"source.{self.project.name}.{source_name}.{table_name}"
        r = self.project.manifest.get(sid)
        if r is None:
            raise CompileError(f"unknown source {source_name}.{table_name}")
        self._ensure_source(r)
        return self.relation_for(r)

    # -- materialization ---------------------------------------------------

    def _ensure_source(self, resource: Resource) -> None:
        rel = self.relation_for(resource)
        if rel in self._registered:
            return
        df = self.source_loader(self.spark, self.project, resource)
        df.createOrReplaceTempView(rel)
        self._registered.add(rel)

    def _table_dir(self, name: str) -> str:
        return str(self.warehouse_dir / name)

    def _write_table(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Commit ``df`` as the next version of ``name`` (``sources.lakehouse``)
        and point the view at it; returns the view name."""
        if self.warehouse_dir is None:
            # no warehouse: fall back to an eagerly-registered view
            df.createOrReplaceTempView(name)
            return name
        lakehouse.commit(df, self._table_dir(name), partition_by)
        self._current_table(name).createOrReplaceTempView(name)
        return name

    def _write_bucketed_table(
        self, name: str, df: DataFrame, cols: list[str], buckets: int
    ) -> str:
        """dbt-spark ``clustered_by``/``buckets`` materialization: a managed
        bucketed table. Two tables bucketed on the same key and count join
        WITHOUT an exchange — the co-located-join lever for fact-fact joins
        that would otherwise shuffle terabytes at every run.
        """
        # a temp view with the same name would shadow the catalog table
        self.spark.catalog.dropTempView(name)
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, *cols)
            .sortBy(*cols)
            .format("parquet")
            .saveAsTable(name)
        )
        return name

    @staticmethod
    def _partition_cols(r: Resource) -> list[str] | None:
        p = r.config.get("partition_by")
        if not p:
            return None
        return [p] if isinstance(p, str) else list(p)

    @staticmethod
    def _bucket_spec(r: Resource) -> tuple[list[str], int] | None:
        cols, n = r.config.get("clustered_by"), r.config.get("buckets")
        if not cols or not n:
            return None
        return ([cols] if isinstance(cols, str) else list(cols)), int(n)

    def _table_exists(self, name: str) -> bool:
        """Whether the warehouse holds a committed version of ``name`` — read
        from disk, so a new runner (or process) sees earlier runs' tables."""
        return self.warehouse_dir is not None and bool(
            lakehouse.current_version(self._table_dir(name))
        )

    def _current_table(self, name: str) -> DataFrame:
        return lakehouse.read_current(self.spark, self._table_dir(name))

    def _materialize_model(self, r: Resource, full_refresh: bool) -> None:
        name = self.relation_for(r)
        materialized = r.config.get("materialized", "view")
        incremental_run = (
            materialized == "incremental"
            and self._table_exists(name)
            and not full_refresh
        )
        if incremental_run:
            # {{ this }}: the committed table, which a new runner has no view of
            existing = self._current_table(name)
            existing.createOrReplaceTempView(name)
        if r.language == "python":
            df, cfg = self._run_python_model(r)
            materialized = cfg.get("materialized", materialized)
        else:
            compiled = self.project.compiler.compile(
                r.raw_code,
                r.name,
                resolve_ref=lambda *a, **k: self._resolve_ref(
                    *a, version=k.get("version"), consumer=r
                ),
                resolve_source=self._resolve_source,
                this_relation=name,
                is_incremental=incremental_run,
            )
            r.config = {**r.config, **compiled.config}
            materialized = r.config.get("materialized", "view")
            df = self.spark.sql(compiled.sql)

        contract = (r.config.get("contract") or {}).get("enforced")
        if contract and r.columns:
            enforce_contract(
                r.name,
                df,
                [{"name": c, "data_type": t} for c, t in r.columns.items()],
            )

        if materialized in ("view", "ephemeral"):
            df.createOrReplaceTempView(name)
        elif materialized == "incremental" and incremental_run:
            # dbt-spark incremental strategies:
            #   merge (default w/ unique_key): new rows win over same-key old
            #   insert_overwrite: replace whole partitions the batch touches
            #   append: blind union
            strategy = r.config.get("incremental_strategy") or (
                "merge" if r.config.get("unique_key") else "append"
            )
            existing, df = self._align_incremental_schemas(
                name, existing, df, r.config.get("on_schema_change", "ignore")
            )
            pcols = self._partition_cols(r)
            if strategy == "merge" and r.config.get("unique_key"):
                unique_key = r.config.get("unique_key")
                keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
                combined = lakehouse.upsert(existing, df, keys)
            elif strategy == "insert_overwrite" and pcols:
                combined = lakehouse.upsert(existing, df, pcols)
            else:  # append
                combined = existing.unionByName(df)
            self._write_table(name, combined, pcols)
        else:  # table, or first incremental run
            bucket_spec = self._bucket_spec(r)
            if bucket_spec and materialized == "table" and self.warehouse_dir is not None:
                self._write_bucketed_table(name, df, *bucket_spec)
            else:
                self._write_table(name, df, self._partition_cols(r))
        self._registered.add(name)

    def _align_incremental_schemas(
        self, name: str, existing: DataFrame, df: DataFrame, policy: str
    ) -> tuple[DataFrame, DataFrame]:
        """dbt ``on_schema_change`` for incremental models when the new
        batch's schema drifts from the target's:

        - ``ignore`` (default): target schema wins — new columns dropped,
          removed columns null-filled in the batch;
        - ``fail``: raise;
        - ``append_new_columns``: target gains the batch's new columns
          (null for historic rows); removed columns stay;
        - ``sync_all_columns``: batch schema wins — adds and removes.
        """
        if existing.columns == df.columns:
            return existing, df
        old, new = existing.columns, df.columns
        if set(old) == set(new):  # pure reorder: align to target order
            return existing, df.select(*old)
        if policy == "fail":
            raise CompileError(
                f"schema change on incremental model {name!r} "
                f"(on_schema_change=fail): target has {old}, batch has {new}"
            )
        if policy == "append_new_columns":
            target = old + [c for c in new if c not in old]
        elif policy == "sync_all_columns":
            target = new
        else:  # ignore
            target = old
        types = {f.name: f.dataType for f in df.schema.fields}
        for f in existing.schema.fields:
            types.setdefault(f.name, f.dataType)

        def _project(d: DataFrame) -> DataFrame:
            have = set(d.columns)
            return d.select(
                *[
                    F.col(c) if c in have
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in target
                ]
            )

        return _project(existing), _project(df)

    def _materialize_snapshot(self, r: Resource) -> None:
        """SCD2 snapshot (dbt `snapshot` semantics, Spark-native).

        timestamp strategy: a key's row is superseded when a new row with a
        later ``updated_at`` arrives — the open row closes at that instant.
        check strategy: superseded when any of ``check_cols`` changes; the
        transition timestamp is the (pinned) run start.

        Plan shape: one join of current-source vs open-rows on unique_key;
        closed history is untouched (append-only) — at scale pair this with
        partitioning on dbt_valid_to IS NULL so the open set stays a small
        scan.
        """
        name = self.relation_for(r)
        compiled = self.project.compiler.compile(
            r.raw_code,
            r.name,
            resolve_ref=lambda *a, **k: self._resolve_ref(
                *a, version=k.get("version"), consumer=r
            ),
            resolve_source=self._resolve_source,
            this_relation=name,
        )
        r.config = {**r.config, **compiled.config}
        src = self.spark.sql(compiled.sql)

        strategy = r.config.get("strategy", "timestamp")
        unique_key = r.config.get("unique_key")
        if not unique_key:
            raise CompileError(f"snapshot {r.name} needs a unique_key")
        keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
        if strategy == "timestamp":
            updated_at = r.config.get("updated_at")
            if not updated_at:
                raise CompileError(f"timestamp snapshot {r.name} needs updated_at")
            valid_from = F.col(updated_at).cast("timestamp")
        else:  # check strategy: pin one run timestamp for determinism (UD4)
            if self._run_started_at is None:
                self._run_started_at = self.spark.sql(
                    "select current_timestamp()"
                ).first()[0]
            valid_from = F.lit(self._run_started_at).cast("timestamp")

        def with_meta(df: DataFrame) -> DataFrame:
            scd_id = F.md5(
                F.concat_ws(
                    "|", *[F.col(k).cast("string") for k in keys],
                    valid_from.cast("string"),
                )
            )
            return df.withColumn("dbt_valid_from", valid_from).withColumn(
                "dbt_valid_to", F.lit(None).cast("timestamp")
            ).withColumn("dbt_scd_id", scd_id)

        if not self._table_exists(name):
            self._write_table(name, with_meta(src))
            self._registered.add(name)
            return

        existing = self._current_table(name)
        closed = existing.filter(F.col("dbt_valid_to").isNotNull())
        open_rows = existing.filter(F.col("dbt_valid_to").isNull())
        new = with_meta(src)

        if strategy == "timestamp":
            changed_pred = F.col("n.dbt_valid_from") > F.col("o.dbt_valid_from")
        else:
            check_cols = r.config.get("check_cols")
            cols = (
                [c for c in src.columns if c not in keys]
                if check_cols in (None, "all")
                else list(check_cols)
            )
            changed_pred = F.lit(False)
            for c in cols:
                changed_pred = changed_pred | ~F.col(f"n.{c}").eqNullSafe(
                    F.col(f"o.{c}")
                )

        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        j = open_rows.alias("o").join(new.alias("n"), on=cond, how="full_outer")
        # rows whose key vanished from the source stay open (dbt behavior
        # without invalidate_hard_deletes)
        still_open = j.filter(
            F.col("n.dbt_scd_id").isNull() | ~changed_pred
        ).select("o.*").filter(F.col("dbt_scd_id").isNotNull())
        newly_closed = (
            j.filter(F.col("o.dbt_scd_id").isNotNull() & changed_pred)
            .select("o.*", F.col("n.dbt_valid_from").alias("__close_at"))
            .withColumn("dbt_valid_to", F.col("__close_at"))
            .drop("__close_at")
        )
        inserts = j.filter(
            F.col("n.dbt_scd_id").isNotNull()
            & (F.col("o.dbt_scd_id").isNull() | changed_pred)
        ).select("n.*")
        combined = closed.unionByName(still_open).unionByName(
            newly_closed
        ).unionByName(inserts)
        self._write_table(name, combined)
        self._registered.add(name)

    def snapshot(self, select: str | list[str] | None = None) -> "RunResult":
        """Run all (or selected) snapshots — the `dbt snapshot` analog."""
        selected = (
            select_resources(self.project.manifest, select) if select else None
        )
        result = RunResult()
        for uid, r in sorted(self.project.manifest.resources.items()):
            if r.resource_type != "snapshot":
                continue
            if selected is not None and uid not in selected:
                continue
            try:
                self._materialize_snapshot(r)
                result.statuses[r.name] = "ok"
                result.relations[r.name] = self.relation_for(r)
            except Exception as e:
                result.statuses[r.name] = f"error: {e}"
        return result

    def _run_python_model(self, r: Resource) -> tuple[DataFrame, dict[str, Any]]:
        """UD1: ``def model(dbt, session)`` with dbt.ref/source/config.

        pandas return values convert via Arrow; at scale a Python model
        should use the session to stay distributed (applyInPandas et al.).
        """
        cfg: dict[str, Any] = {}
        runner = self

        class _Dbt:
            @staticmethod
            def ref(*args: str, **kw: Any) -> DataFrame:
                rel = runner._resolve_ref(
                    *args, version=kw.get("v", kw.get("version")), consumer=r
                )
                return runner.spark.table(rel)

            @staticmethod
            def source(s: str, t: str) -> DataFrame:
                return runner.spark.table(runner._resolve_source(s, t))

            @staticmethod
            def config(**kw: Any) -> None:
                cfg.update(kw)

        namespace: dict[str, Any] = {}
        exec(compile(r.raw_code, r.path or r.name, "exec"), namespace)
        fn = namespace.get("model")
        if fn is None:
            raise CompileError(f"python model {r.name} defines no model()")
        out = fn(_Dbt(), self.spark)
        if not isinstance(out, DataFrame):
            out = self.spark.createDataFrame(out)  # pandas -> Spark via Arrow
        return out, cfg

    # -- entry points ------------------------------------------------------

    def _execution_order(self, selected: set[str] | None) -> list[Resource]:
        manifest = self.project.manifest
        runnable = {
            uid
            for uid, r in manifest.resources.items()
            if r.resource_type in ("model", "seed")
        }
        want = runnable if selected is None else (selected & runnable)
        # materialize upstream models/seeds of the selection too — they are
        # execution prerequisites even when not selected
        parents = manifest.parent_map()
        closure = set(want)
        frontier = set(want)
        while frontier:
            frontier = {
                p
                for u in frontier
                for p in parents.get(u, [])
                if p in runnable and p not in closure
            }
            closure |= frontier
        import networkx as nx

        g = manifest.graph()
        order = [u for u in nx.topological_sort(g) if u in closure]
        return [manifest.get(u) for u in order]

    def run(
        self, select: str | list[str] | None = None, full_refresh: bool = False
    ) -> RunResult:
        selected = (
            select_resources(self.project.manifest, select) if select else None
        )
        result = RunResult()
        for r in self._execution_order(selected):
            try:
                self._materialize_resource(r, full_refresh)
                result.statuses[r.name] = "ok"
                result.relations[r.name] = self.relation_for(r)
            except Exception as e:  # keep going; report per-model
                result.statuses[r.name] = f"error: {e}"
        return result

    def _materialize_resource(self, r: Resource, full_refresh: bool) -> None:
        if r.resource_type == "seed":
            path = self.project.root / r.path
            df = self.spark.read.csv(str(path), header=True, inferSchema=True)
            # dbt seed config.column_types: declared physical types win over
            # CSV inference (dbt-core seeds docs; patched in from the
            # property file's seeds: block).
            for c, t in (r.config.get("column_types") or {}).items():
                if c in df.columns:
                    df = df.withColumn(c, F.col(c).cast(t))
            self._write_table(self.relation_for(r), df)
        else:
            self._materialize_model(r, full_refresh)

    def build(
        self,
        select: str | list[str] | None = None,
        full_refresh: bool = False,
        store_failures: bool = False,
    ) -> tuple[RunResult, list[TestResult]]:
        """dbt ``build``: materialize and test interleaved in DAG order. A
        model whose own tests fail poisons its descendants — they are
        skipped, not built on bad data (dbt build's core guarantee)."""
        selected = (
            select_resources(self.project.manifest, select) if select else None
        )
        tests_by_model: dict[str, list[TestSpec]] = {}
        for s in self.project.tests:
            tests_by_model.setdefault(s.model_name, []).append(s)
        result = RunResult()
        test_results: list[TestResult] = []
        bad: set[str] = set()
        manifest = self.project.manifest
        for r in self._execution_order(selected):
            dep_names = {
                manifest.get(d).name for d in r.depends_on if manifest.get(d)
            }
            if dep_names & bad:
                result.statuses[r.name] = "skipped (upstream failure)"
                bad.add(r.name)
                continue
            try:
                self._materialize_resource(r, full_refresh)
                result.statuses[r.name] = "ok"
                result.relations[r.name] = self.relation_for(r)
            except Exception as e:
                result.statuses[r.name] = f"error: {e}"
                bad.add(r.name)
                continue
            for spec in tests_by_model.get(r.name, []):
                res = self._run_test_spec(spec, store_failures)
                test_results.append(res)
                if not res.passed:
                    bad.add(r.name)
        return result, test_results

    def semantic_query(
        self,
        name: str,
        grain: str | None = None,
        measures: list[str] | None = None,
        dimensions: list[str] | None = None,
    ) -> DataFrame:
        """M1: compile + run a declared semantic model's measure query over
        the materialized bound model (project/semantic.py)."""
        from dbt_meshify_spark.project.semantic import (
            compile_measure_query,
            model_name_of,
        )

        r = self.project.manifest.get(f"semantic_model.{self.project.name}.{name}")
        if r is None:
            raise CompileError(f"unknown semantic model {name!r}")
        spec = r.meta.get("spec") or {}
        model = self.project.manifest.get(
            f"model.{self.project.name}.{model_name_of(spec)}"
        )
        if model is None:
            raise CompileError(f"semantic model {name!r} binds an unknown model")
        df = self.spark.table(self.relation_for(model))
        return compile_measure_query(
            df, spec, grain=grain, measures=measures, dimensions=dimensions
        )

    def _metric_spec(self, name: str) -> dict:
        m = self.project.manifest.get(f"metric.{self.project.name}.{name}")
        if m is None:
            raise CompileError(f"unknown metric {name!r}")
        return m.meta.get("spec") or {}

    def metric_query(self, name: str, grain: str | None = None) -> DataFrame:
        """Compile + run a declared metric (simple/ratio/derived) over its
        semantic model (project/semantic.py::compile_metric_query). A derived
        metric's inputs must all bind one semantic model so the whole thing
        stays a single aggregate pass."""
        from dbt_meshify_spark.project.semantic import (
            compile_derived_metric,
            compile_metric_query,
            model_name_of,
        )

        spec = self._metric_spec(name)
        inputs: list[dict] = []
        if spec.get("type") == "derived":
            inputs = [self._metric_spec(n) for n in spec.get("metrics", [])]
            if not inputs:
                raise CompileError(f"derived metric {name!r} lists no inputs")
            if any(i.get("type") == "derived" for i in inputs):
                raise CompileError(
                    f"derived metric {name!r} may not nest derived inputs"
                )
            sm_names = {i.get("semantic_model") for i in inputs}
            if len(sm_names) != 1:
                raise CompileError(
                    f"derived metric {name!r} spans semantic models {sm_names}"
                )
            sm_name = sm_names.pop()
        else:
            sm_name = spec.get("semantic_model")
        sm = self.project.manifest.get(
            f"semantic_model.{self.project.name}.{sm_name}"
        )
        if sm is None:
            raise CompileError(f"metric {name!r} names an unknown semantic model")
        sm_spec = sm.meta.get("spec") or {}
        model = self.project.manifest.get(
            f"model.{self.project.name}.{model_name_of(sm_spec)}"
        )
        df = self.spark.table(self.relation_for(model))
        if inputs:
            return compile_derived_metric(df, spec, inputs, sm_spec, grain=grain)
        return compile_metric_query(df, spec, sm_spec, grain=grain)

    def test(
        self,
        select: str | list[str] | None = None,
        store_failures: bool = False,
    ) -> list[TestResult]:
        """Run data tests (zero-row = pass). ``store_failures`` (global flag
        or per-test ``config: {store_failures: true}``) persists the failing
        rows as ``dbt_test__audit_<test>`` — dbt's audit-table behavior; the
        write is a normal distributed materialization, never a collect."""
        specs: list[TestSpec] = self.project.tests
        if select:
            selected = select_resources(self.project.manifest, select)
            names = {
                self.project.manifest.get(u).name
                for u in selected
                if self.project.manifest.get(u)
            }
            specs = [s for s in specs if s.model_name in names]
        return [self._run_test_spec(spec, store_failures) for spec in specs]

    def unit_test(self, select: str | list[str] | None = None) -> list[TestResult]:
        """dbt unit tests (``unit_tests:`` blocks): compile the model with
        its refs/sources swapped for fixture rows, run on Spark, compare to
        the expected rows (only the columns the expectation names, as a
        multiset — dbt's semantics). Incremental models compile their
        full-refresh branch, like dbt."""
        out: list[TestResult] = []
        wanted = None
        if select:
            sel = [select] if isinstance(select, str) else list(select)
            wanted = set(sel)
        for uid, r in self.project.manifest.resources.items():
            if r.resource_type != "unit_test":
                continue
            spec = r.meta.get("spec") or {}
            if wanted and r.name not in wanted and spec.get("model") not in wanted:
                continue
            out.append(self._run_unit_test(r.name, spec))
        return out

    def _fixture_frame(self, relation: str | None, rows: list[dict]) -> DataFrame:
        keys = list(rows[0].keys())
        df = self.spark.createDataFrame(
            [tuple(r.get(k) for k in keys) for r in rows], keys
        )
        if relation is None:
            return df
        try:
            target = self.spark.table(relation).schema
        except Exception:
            return df  # upstream not materialized: inferred types stand
        # dbt semantics: cast given columns to the relation's types and
        # null-fill every column the fixture omits
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in target.fields
            ]
        )

    def _run_unit_test(self, name: str, spec: dict) -> TestResult:
        model = self.project.manifest.get(
            f"model.{self.project.name}.{spec.get('model')}"
        )
        if model is None:
            return TestResult(name=name, passed=False, failures=-1)
        ref_over: dict[str, str] = {}
        src_over: dict[tuple[str, str], str] = {}
        for i, giv in enumerate(spec.get("given", []) or []):
            inp = str(giv.get("input", ""))
            rows = giv.get("rows") or []
            if not rows:
                continue
            view = f"_ut_{name}_{i}"
            m_ref = re.search(r"ref\s*\(\s*['\"](\w+)['\"]\s*\)", inp)
            m_src = re.search(
                r"source\s*\(\s*['\"](\w+)['\"]\s*,\s*['\"](\w+)['\"]\s*\)", inp
            )
            real = None
            if m_ref:
                try:
                    real = self._resolve_ref(m_ref.group(1))
                except Exception:
                    real = None
            self._fixture_frame(real, rows).createOrReplaceTempView(view)
            if m_ref:
                ref_over[m_ref.group(1)] = view
            elif m_src:
                src_over[(m_src.group(1), m_src.group(2))] = view
        compiled = self.project.compiler.compile(
            model.raw_code,
            model.name,
            resolve_ref=lambda *a, **k: ref_over.get(a[-1])
            or self._resolve_ref(*a, version=k.get("version")),
            resolve_source=lambda s, t: src_over.get((s, t))
            or self._resolve_source(s, t),
            this_relation=self.relation_for(model),
            is_incremental=False,
        )
        actual = self.spark.sql(compiled.sql)
        expect_rows = (spec.get("expect") or {}).get("rows") or []
        if not expect_rows:
            return TestResult(name=name, passed=actual.count() == 0, failures=0)
        cols = list(expect_rows[0].keys())
        got = actual.select(*cols)
        want = self._fixture_frame(None, expect_rows)
        want = want.select(
            *[
                F.col(c).cast(f.dataType).alias(c)
                for c, f in zip(cols, got.schema.fields)
            ]
        )
        diff = got.exceptAll(want).count() + want.exceptAll(got).count()
        return TestResult(name=name, passed=diff == 0, failures=diff)

    def _run_test_spec(
        self, spec: TestSpec, store_failures: bool = False
    ) -> TestResult:
        sql = compile_test(
            spec,
            spec.model_name,
            self.project.compiler,
            resolve_ref=lambda *a, **k: self._resolve_ref(
                *a, version=k.get("version")
            ),
            custom_sources=self.project.custom_test_sources,
        )
        test_name = spec.unique_id.split(".", 2)[2]
        cfg = spec.kwargs.get("config") or {}
        store = store_failures or bool(cfg.get("store_failures"))
        relation = None
        if store:
            relation = "dbt_test__audit_" + re.sub(
                r"[^A-Za-z0-9_]", "_", test_name
            )
            self._write_table(relation, self.spark.sql(sql))
            failures = self.spark.table(relation).count()
        else:
            failures = self.spark.sql(sql).limit(1000).count()
        return TestResult(
            name=test_name,
            passed=failures == 0,
            failures=failures,
            relation=relation,
        )

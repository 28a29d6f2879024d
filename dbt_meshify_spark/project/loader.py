"""Project loader: files on disk -> Manifest (SURVEY.md §3.1 stage 2,
without dbt-core; reference loads via dbtRunner at
/root/reference/dbt_meshify/dbt_projects.py:272-298).

Reads dbt_project.yml, model SQL/Python files, property YAML (models,
sources, exposures, groups, semantic models), macros, seeds, and custom
generic tests, and derives depends_on edges and in-file config from each
SQL model's ``ref``/``source``/``config`` calls. Those are read off the
model's Jinja tokens when the compiler can prove that equals a render
(``JinjaCompiler.static_calls``); any other model is compiled with
recording resolvers, and a model that fails to compile, or whose ``ref()``
names no model, fails the load with a ``CompileError`` naming it. Python
models' ``dbt.ref``/``dbt.source`` calls are matched by pattern. Pure
driver-side work over bounded metadata.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Iterator

from dbt_meshify_spark.plans.changes import load_yaml
from dbt_meshify_spark.plans.manifest import Manifest, Resource
from dbt_meshify_spark.project.compiler import CompileError, JinjaCompiler

_TEST_SHORTHAND = ("unique", "not_null")

# ref('model'), ref('package', 'model'), either with a v=/version= kwarg;
# groups are the positional args
_REF_CALL = (
    r"""ref\s*\(\s*['"](\w+)['"]\s*(?:,\s*['"](\w+)['"]\s*)?"""
    r"""(?:,\s*(?:v|version)\s*=\s*['"]?[\w.]+['"]?\s*)?\)"""
)
_YAML_REF = re.compile(r"\b" + _REF_CALL)
_PYTHON_REF = re.compile(r"\bdbt\." + _REF_CALL)


def _strings(value: Any) -> Iterator[str]:
    """Every string value nested in a parsed YAML entry."""
    if isinstance(value, str):
        yield value
    elif isinstance(value, dict):
        for v in value.values():
            yield from _strings(v)
    elif isinstance(value, list):
        for v in value:
            yield from _strings(v)


@dataclass
class TestSpec:
    """One generic data test bound to a model (or model column)."""

    unique_id: str
    test_type: str                  # unique | not_null | accepted_values | ...
    model_name: str
    column_name: str | None = None
    kwargs: dict[str, Any] = field(default_factory=dict)


class SparkProject:
    compiler: JinjaCompiler  # built by load() once the macros are read

    def __init__(self, root: Path, config: dict[str, Any]) -> None:
        self.root = Path(root)
        self.config = config
        self.name: str = config.get("name", self.root.name)
        self.manifest = Manifest()
        self.tests: list[TestSpec] = []
        self.macro_sources: list[str] = []
        self.custom_test_sources: dict[str, str] = {}
        self.vars: dict[str, Any] = dict(config.get("vars", {}))

    # -- loading -----------------------------------------------------------

    @classmethod
    def load(cls, root: str | Path, vars: dict[str, Any] | None = None) -> "SparkProject":
        root = Path(root)
        cfg_path = root / "dbt_project.yml"
        config = load_yaml(cfg_path.read_text()) if cfg_path.exists() else {}
        project = cls(root, config or {})
        if vars:
            project.vars.update(vars)
        project._load_macros()
        project._load_custom_tests()
        project.compiler = JinjaCompiler(project.name, project.macro_sources, project.vars)
        project._load_models()
        project._load_snapshots()
        project._load_seeds()
        project._load_property_files()
        project._derive_edges()
        return project

    def _paths(self, key: str, default: str) -> list[Path]:
        return [self.root / p for p in self.config.get(key, [default])]

    def _load_macros(self) -> None:
        for mdir in self._paths("macro-paths", "macros"):
            if not mdir.is_dir():
                continue
            for f in sorted(mdir.rglob("*.sql")):
                text = f.read_text()
                self.macro_sources.append(text)
                for m in re.finditer(r"{%-?\s*macro\s+(\w+)\s*\(", text):
                    self.manifest.add(
                        Resource(
                            unique_id=f"macro.{self.name}.{m.group(1)}",
                            name=m.group(1),
                            resource_type="macro",
                            package=self.name,
                            path=str(f.relative_to(self.root)),
                            raw_code=text,
                        )
                    )

    def _load_custom_tests(self) -> None:
        for tdir in self._paths("test-paths", "tests"):
            generic = tdir / "generic"
            if not generic.is_dir():
                continue
            for f in sorted(generic.glob("*.sql")):
                text = f.read_text()
                for m in re.finditer(r"{%-?\s*test\s+(\w+)\s*\(", text):
                    self.custom_test_sources[m.group(1)] = text

    def _load_models(self) -> None:
        for mdir in self._paths("model-paths", "models"):
            if not mdir.is_dir():
                continue
            for f in sorted(mdir.rglob("*")):
                if f.suffix not in (".sql", ".py") or not f.is_file():
                    continue
                name = f.stem
                self.manifest.add(
                    Resource(
                        unique_id=f"model.{self.name}.{name}",
                        name=name,
                        resource_type="model",
                        package=self.name,
                        path=str(f.relative_to(self.root)),
                        language="python" if f.suffix == ".py" else "sql",
                        raw_code=f.read_text(),
                        config=self._tree_config(f),
                        # physical identifier for source-hack detection (L1):
                        # in this engine a model materializes under its name
                        relation_name=name,
                    )
                )

    def _load_snapshots(self) -> None:
        """SCD2 snapshots: ``{% snapshot name %} select ... {% endsnapshot %}``
        blocks under snapshot-paths. The block body compiles like a model;
        snapshot config (strategy/unique_key/updated_at/check_cols) comes
        from the block's ``config()`` call at compile time."""
        block_re = re.compile(
            r"{%-?\s*snapshot\s+(\w+)\s*-?%}(.*?){%-?\s*endsnapshot\s*-?%}",
            re.DOTALL,
        )
        for sdir in self._paths("snapshot-paths", "snapshots"):
            if not sdir.is_dir():
                continue
            for f in sorted(sdir.rglob("*.sql")):
                for m in block_re.finditer(f.read_text()):
                    name, body = m.group(1), m.group(2).strip()
                    self.manifest.add(
                        Resource(
                            unique_id=f"snapshot.{self.name}.{name}",
                            name=name,
                            resource_type="snapshot",
                            package=self.name,
                            path=str(f.relative_to(self.root)),
                            raw_code=body,
                            relation_name=name,
                        )
                    )

    def _load_seeds(self) -> None:
        for sdir in self._paths("seed-paths", "seeds"):
            if not sdir.is_dir():
                continue
            for f in sorted(sdir.rglob("*.csv")):
                name = f.stem
                self.manifest.add(
                    Resource(
                        unique_id=f"seed.{self.name}.{name}",
                        name=name,
                        resource_type="seed",
                        package=self.name,
                        path=str(f.relative_to(self.root)),
                        config={"materialized": "seed"},
                    )
                )

    def _tree_config(self, model_file: Path) -> dict[str, Any]:
        """Directory-tree config from dbt_project.yml's ``models:`` block
        (``+materialized`` etc.), most-specific wins."""
        tree = (self.config.get("models") or {}).get(self.name) or {}
        out = {
            k.lstrip("+"): v for k, v in tree.items() if not isinstance(v, dict)
        }
        rel = model_file.relative_to(self.root)
        node = tree
        for part in rel.parts[1:-1]:  # skip the models/ root and the filename
            node = node.get(part) if isinstance(node, dict) else None
            if not isinstance(node, dict):
                break
            out.update(
                {k.lstrip("+"): v for k, v in node.items() if not isinstance(v, dict)}
            )
        return out

    def _load_property_files(self) -> None:
        for mdir in self._paths("model-paths", "models") + self._paths(
            "seed-paths", "seeds"
        ):
            if not mdir.is_dir():
                continue
            for f in sorted(mdir.rglob("*.yml")) + sorted(mdir.rglob("*.yaml")):
                doc = load_yaml(f.read_text()) or {}
                rel = str(f.relative_to(self.root))
                self._apply_model_patches(doc.get("models") or [], rel)
                self._apply_model_patches(
                    doc.get("seeds") or [], rel, prefix="seed"
                )
                self._load_sources(doc.get("sources") or [], rel)
                self._load_named(doc.get("exposures") or [], "exposure", rel)
                self._load_named(doc.get("groups") or [], "group", rel)
                self._load_named(
                    doc.get("semantic_models") or [], "semantic_model", rel
                )
                self._load_named(doc.get("metrics") or [], "metric", rel)
                self._load_named(doc.get("unit_tests") or [], "unit_test", rel)

    def _apply_model_patches(
        self, entries: list[dict], patch_path: str, prefix: str = "model"
    ) -> None:
        """Patch resources from property-file entries; ``prefix`` selects the
        resource family (``models:`` vs ``seeds:`` blocks share the schema —
        dbt seed properties carry config.column_types and tests too)."""
        for entry in entries:
            name = entry.get("name")
            r = self.manifest.get(f"{prefix}.{self.name}.{name}")
            if r is None and "versions" in entry:
                # versioned model: files live as name_v{n}.sql; synthesize
                # the logical resource from the latest version so plain
                # ref('name') and selection by name keep working (V5–V7;
                # reference versioner.py:79-134 moves the file on v1).
                versions = [v.get("v") for v in entry["versions"]]
                latest = entry.get("latest_version", max(versions))
                vr = self.manifest.get(f"model.{self.name}.{name}_v{latest}")
                if vr is not None:
                    r = Resource(
                        unique_id=f"model.{self.name}.{name}",
                        name=name,
                        resource_type="model",
                        package=self.name,
                        path=vr.path,
                        language=vr.language,
                        raw_code=vr.raw_code,
                        config=dict(vr.config),
                    )
                    r.version = latest
                    self.manifest.add(r)
                    for v in versions:
                        vres = self.manifest.get(f"model.{self.name}.{name}_v{v}")
                        if vres is not None:
                            vres.version = v
                            vres.latest_version = latest
            if r is None:
                continue
            r.patch_path = patch_path
            r.access = entry.get("access", r.access)
            r.group = entry.get("group", r.group)
            if "latest_version" in entry:
                r.latest_version = entry["latest_version"]
            if "versions" in entry:
                r.meta["versions"] = [v.get("v") for v in entry["versions"]]
            cfg = entry.get("config") or {}
            # property-file config loses to in-file config() (applied at
            # compile time by the runner) but beats the project tree.
            r.config = {**r.config, **{k.lstrip("+"): v for k, v in cfg.items()}}
            if "columns" in entry:
                columns = entry["columns"] or []
                r.columns = {c["name"]: str(c.get("data_type", "")) for c in columns}
                r.meta["column_docs"] = {
                    c["name"]: c.get("description", "") for c in columns
                }
            self._collect_tests(entry, name)

    def _collect_tests(self, entry: dict, model_name: str) -> None:
        def add(test: Any, column: str | None) -> None:
            if isinstance(test, str):
                ttype, kwargs = test, {}
            elif isinstance(test, dict):
                ttype, kwargs = next(iter(test.items()))
                kwargs = dict(kwargs or {})
            else:
                return
            ttype = ttype.replace("dbt_utils.", "")
            suffix = f"_{column}" if column else ""
            uid = f"test.{self.name}.{ttype}_{model_name}{suffix}"
            self.tests.append(
                TestSpec(
                    unique_id=uid,
                    test_type=ttype,
                    model_name=model_name,
                    column_name=column,
                    kwargs=kwargs,
                )
            )
            self.manifest.add(
                Resource(
                    unique_id=uid,
                    name=uid.split(".", 2)[2],
                    resource_type="test",
                    package=self.name,
                    depends_on=[f"model.{self.name}.{model_name}"],
                )
            )

        # a null list reads as empty, as for models:/sources:/config:
        for t in (entry.get("tests") or []) + (entry.get("data_tests") or []):
            add(t, None)
        for col in entry.get("columns") or []:
            for t in (col.get("tests") or []) + (col.get("data_tests") or []):
                add(t, col["name"])

    def _load_sources(self, entries: list[dict], patch_path: str) -> None:
        for src in entries:
            sname = src.get("name")
            for tbl in src.get("tables") or []:
                tname = tbl.get("name")
                uid = f"source.{self.name}.{sname}.{tname}"
                self.manifest.add(
                    Resource(
                        unique_id=uid,
                        name=tname,
                        resource_type="source",
                        package=self.name,
                        patch_path=patch_path,
                        relation_name=tbl.get("identifier", tname),
                        meta={
                            "source_name": sname,
                            **(src.get("meta") or {}),
                            **(tbl.get("meta") or {}),
                        },
                    )
                )

    def _load_named(self, entries: list[dict], rtype: str, patch_path: str) -> None:
        for entry in entries:
            name = entry.get("name")
            uid = f"{rtype}.{self.name}.{name}"
            deps = {
                self._ref_uid([a for a in m.groups() if a])
                for text in _strings(entry)
                for m in _YAML_REF.finditer(text)
            }
            self.manifest.add(
                Resource(
                    unique_id=uid,
                    name=name,
                    resource_type=rtype,
                    package=self.name,
                    patch_path=patch_path,
                    depends_on=sorted(deps),
                    meta={"spec": entry},
                )
            )

    # -- dependency edges --------------------------------------------------

    def _ref_uid(self, args: list[str]) -> str:
        """The model a ref's positional arguments name: a two-arg
        ref('project', 'model') resolves against the NAMED package
        (cross-project refs after connect/split), a one-arg ref locally;
        a version kwarg is not an argument here and is ignored."""
        pkg = args[0] if len(args) >= 2 else self.name
        return f"model.{pkg}.{args[-1]}"

    def _derive_edges(self) -> None:
        macro_ids = {
            r.name: uid
            for uid, r in self.manifest.resources.items()
            if r.resource_type == "macro"
        }
        source_ids = {
            (r.meta.get("source_name"), r.name): uid
            for uid, r in self.manifest.resources.items()
            if r.resource_type == "source"
        }
        for uid, r in list(self.manifest.resources.items()):
            if r.resource_type not in ("model", "snapshot"):
                continue
            deps: set[str] = set()
            if r.language == "python":
                for m in _PYTHON_REF.finditer(r.raw_code):
                    deps.add(self._ref_uid([a for a in m.groups() if a]))
                for m in re.finditer(
                    r"dbt\.source\s*\(\s*['\"](\w+)['\"]\s*,\s*['\"](\w+)['\"]\s*\)",
                    r.raw_code,
                ):
                    sid = source_ids.get((m.group(1), m.group(2)))
                    if sid:
                        deps.add(sid)
            else:
                calls = self.compiler.static_calls(r.raw_code)
                if calls is None:
                    calls = self.compiler.compile(
                        r.raw_code,
                        r.name,
                        resolve_ref=lambda *a, **k: a[-1],
                        resolve_source=lambda s, t: t,
                    )
                # in-file config() wins over property yml and the tree
                r.config = {**r.config, **calls.config}
                for ref in calls.refs:
                    names = [a for a in ref.args if isinstance(a, str)]
                    if not names:
                        raise CompileError(
                            f"compile failed for {r.name}: ref{ref.args!r} names "
                            "no model"
                        )
                    deps.add(self._ref_uid(names))
                for s, t in calls.sources:
                    sid = source_ids.get((s, t))
                    if sid:
                        deps.add(sid)
                    else:
                        deps.add(f"source.{self.name}.{s}.{t}")
                for mname, mid in macro_ids.items():
                    if re.search(
                        r"(^|[^\w.])" + re.escape(mname) + r"\s*\(", r.raw_code
                    ):
                        deps.add(mid)
            # seeds referenced by ref() shadow model ids
            fixed: set[str] = set()
            for d in deps:
                if d.startswith("model.") and self.manifest.get(d) is None:
                    seed_id = d.replace("model.", "seed.", 1)
                    fixed.add(seed_id if self.manifest.get(seed_id) else d)
                else:
                    fixed.add(d)
            r.depends_on = sorted(fixed)

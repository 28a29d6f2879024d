"""Subproject split planner — the flagship `split` composition (G7–G9 +
V1/V2 + R1–R5 + C1–C6 assembled into one ordered ChangeSet).

Reference behavior (not code): DbtSubProject construction at
dbt_projects.py:420-461 (selection + macro/doc/group closures + cycle
guard at main.py:250-255), plan generation at
storage/dbt_project_editors.py:171-290 (DbtSubprojectCreator.initialize):
scaffold, per-resource contract/access/ref-rewrite/move, closure copies,
project-file synthesis, dependencies.yml.

Everything here is driver-side metadata planning; no Spark job runs. The
physical weight lives in the ChangeSetProcessor (file ops) and, later, in
the runner that executes the now-split projects on Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from dbt_meshify_spark.plans.changes import (
    Change,
    ChangeSet,
    EntityType,
    Operation,
    dump_yaml,
    read_yaml,
)
from dbt_meshify_spark.plans.contracts import generate_contract
from dbt_meshify_spark.plans.graph import (
    docs_closure,
    drop_test_nodes,
    group_closure,
    interface_nodes,
    is_project_cycle,
    macro_closure,
    select_resources,
    xproj_children,
    xproj_parents,
)
from dbt_meshify_spark.plans.grouper import generate_access
from dbt_meshify_spark.plans.jinja_blocks import find_block_span
from dbt_meshify_spark.plans.manifest import Manifest, Resource, property_file
from dbt_meshify_spark.plans.references import (
    rewrite_ref_python,
    rewrite_ref_sql,
    rewrite_yaml_refs,
    stack_code_change,
)
from dbt_meshify_spark.project.loader import SparkProject

_ENTITY_BY_TYPE = {
    "model": EntityType.Model,
    "seed": EntityType.Seed,
    "snapshot": EntityType.Snapshot,
    "source": EntityType.Source,
    "exposure": EntityType.Exposure,
    "metric": EntityType.Metric,
    "semantic_model": EntityType.SemanticModel,
    "group": EntityType.Group,
}


class SplitError(Exception):
    pass


@dataclass
class SubProject:
    """A filtered view of a parent project: selection set + derived closures.

    Mirrors DbtSubProject (reference dbt_projects.py:420-461): nothing is
    materialized until the creator's ChangeSet executes.
    """

    parent: SparkProject
    name: str
    resources: set[str]
    path: Path
    custom_macros: set[str] = field(default_factory=set)
    referenced_docs: set[str] = field(default_factory=set)
    groups: set[str] = field(default_factory=set)
    boundary_models: set[str] = field(default_factory=set)
    xproj_parents_of_resources: set[str] = field(default_factory=set)
    xproj_children_of_resources: set[str] = field(default_factory=set)

    @property
    def is_parent_of_parent_project(self) -> bool:
        """True when the remainder project depends on this subproject
        (reference dbt_projects.py:70-74)."""
        return bool(self.xproj_children_of_resources)


def build_subproject(
    parent: SparkProject,
    name: str,
    select: str | list[str] | None,
    exclude: str | list[str] | None = None,
    create_path: str | Path | None = None,
    selector: str | list[str] | None = None,
) -> SubProject:
    """Select resources and derive every closure the creator needs.

    ``selector`` resolves named selectors from the parent project's
    selectors.yml (reference forwards --selector to dbt ls,
    dbt_projects.py:351-376). Raises SplitError on an empty selection or a
    project cycle (the subproject being both parent and child of the
    remainder — reference dbt_projects.py:97-108, enforced main.py:250-255).
    """
    manifest = parent.manifest
    if selector:
        from dbt_meshify_spark.plans.selectors import resolve_selection

        selected = resolve_selection(
            manifest,
            parent.root,
            select=[select] if isinstance(select, str) else select,
            exclude=[exclude] if isinstance(exclude, str) else exclude,
            selector=[selector] if isinstance(selector, str) else selector,
        )
    else:
        selected = select_resources(manifest, select or ["*"], exclude=exclude)
    if not selected:
        raise SplitError(f"selection {select or selector!r} matched no resources")
    if is_project_cycle(manifest, selected):
        raise SplitError(
            "subproject would be both a parent and child of the remaining "
            "project — resolve the cycle before splitting"
        )
    path = Path(create_path) if create_path else parent.root / name
    sub = SubProject(parent=parent, name=name, resources=set(selected), path=path)
    sub.custom_macros = macro_closure(manifest, selected, parent.name)
    sub.referenced_docs = docs_closure(manifest, selected)
    sub.groups = group_closure(manifest, selected)
    nodes = drop_test_nodes(manifest, {u for u in selected if not u.startswith("source")})
    sub.boundary_models = {
        u
        for u in interface_nodes(manifest, nodes)
        if u.startswith("model.") and u.split(".")[1] == parent.name
    }
    sub.xproj_parents_of_resources = xproj_parents(manifest, selected)
    sub.xproj_children_of_resources = xproj_children(manifest, selected)
    return sub


class SubprojectCreator:
    """Turns a SubProject into an ordered ChangeSet (reference
    dbt_project_editors.py:171-290)."""

    def __init__(
        self,
        subproject: SubProject,
        catalog: dict[str, list[dict]] | None = None,
    ) -> None:
        self.sub = subproject
        self.parent = subproject.parent
        self.manifest: Manifest = subproject.parent.manifest
        # model name -> [{name, data_type}] for contract generation; falls
        # back to property-file columns when the warehouse schema is absent.
        self.catalog = catalog or {}
        # parent property files parsed so far by this plan, by path
        self._yml_docs: dict[Path, dict] = {}

    # -- path helpers --------------------------------------------------------

    def _sub_path(self, resource: Resource) -> Path:
        return self.sub.path / resource.path

    def _parent_path(self, resource: Resource) -> Path:
        return self.parent.root / resource.path

    def _columns(self, resource: Resource) -> list[dict]:
        """The model's contract columns: the catalog's, else its
        property-file columns."""
        if resource.name in self.catalog:
            return self.catalog[resource.name]
        return [
            {"name": c, "data_type": t} if t else {"name": c}
            for c, t in resource.columns.items()
        ]

    # -- change builders -----------------------------------------------------

    def _move_resource(self, resource: Resource) -> Change:
        return Change(
            operation=Operation.Move,
            entity_type=EntityType.Code,
            identifier=resource.name,
            path=self._sub_path(resource),
            source=self._parent_path(resource),
        )

    def _yml_entry(self, resource: Resource) -> dict | None:
        """Read the resource's current property-file entry from disk
        (reference dbt_project_editors.py:66-90 load_resource_yml); each
        file is parsed once per plan."""
        if not resource.patch_path:
            return None
        path = self.parent.root / resource.patch_path
        if path not in self._yml_docs:
            if not path.exists():
                return None
            self._yml_docs[path] = read_yaml(path)
        doc = self._yml_docs[path]
        section = _ENTITY_BY_TYPE.get(
            resource.resource_type, EntityType.Model
        ).pluralized
        if resource.resource_type == "source":
            sname = resource.meta.get("source_name")
            for src in doc.get("sources") or []:
                if src.get("name") != sname:
                    continue
                tables = [
                    t for t in (src.get("tables") or []) if t.get("name") == resource.name
                ]
                if tables:
                    return {**src, "tables": tables}
            return None
        for entry in doc.get(section) or []:
            if entry.get("name") == resource.name:
                return entry
        return None

    def _move_yml_entry(self, resource: Resource) -> ChangeSet:
        """Add the entry to the subproject's property file, remove it from
        the parent's (C3; reference dbt_project_editors.py:354-389)."""
        changes = ChangeSet()
        entry = self._yml_entry(resource)
        entity = _ENTITY_BY_TYPE.get(resource.resource_type, EntityType.Model)
        if entry is not None:
            if resource.resource_type == "source":
                sname = resource.meta.get("source_name")
                src_level = {k: v for k, v in entry.items() if k != "tables"}
                if len(src_level) > 1:  # more than just the name
                    changes.add(
                        Change(
                            operation=Operation.Add,
                            entity_type=entity,
                            identifier=sname,
                            path=self.sub.path / resource.patch_path,
                            data=src_level,
                        )
                    )
                changes.add(
                    Change(
                        operation=Operation.Add,
                        entity_type=entity,
                        identifier=f"{sname}.{resource.name}",
                        path=self.sub.path / resource.patch_path,
                        data=(entry.get("tables") or [{}])[0],
                    )
                )
            else:
                changes.add(
                    Change(
                        operation=Operation.Add,
                        entity_type=entity,
                        identifier=resource.name,
                        path=self.sub.path / resource.patch_path,
                        data=entry,
                    )
                )
            changes.add(
                Change(
                    operation=Operation.Remove,
                    entity_type=entity,
                    identifier=(
                        f"{resource.meta.get('source_name')}.{resource.name}"
                        if resource.resource_type == "source"
                        else resource.name
                    ),
                    path=self.parent.root / resource.patch_path,
                )
            )
        return changes

    def _update_child_refs(self, moved: Resource, changes: ChangeSet) -> ChangeSet:
        """Children remaining in the parent get project-qualified refs to the
        moved boundary model (R1/R2/R4; reference references.py:215-299)."""
        out = ChangeSet()
        for child_id in self.manifest.child_map().get(moved.unique_id, []):
            if child_id in self.sub.resources:
                continue
            child = self.manifest.get(child_id)
            if child is None:
                continue
            if child.resource_type in ("exposure", "semantic_model", "metric"):
                spec = child.meta.get("spec")
                if spec and child.patch_path:
                    out.add(
                        Change(
                            operation=Operation.Update,
                            entity_type=_ENTITY_BY_TYPE[child.resource_type],
                            identifier=child.name,
                            path=self.parent.root / child.patch_path,
                            data=rewrite_yaml_refs(spec, moved.name, self.sub.name),
                        )
                    )
                continue
            if not child.path or child.resource_type not in ("model", "snapshot"):
                continue
            child_path = self.parent.root / child.path
            code = stack_code_change(changes, child_path, child.raw_code)
            rewrite = (
                rewrite_ref_python if child.language == "python" else rewrite_ref_sql
            )
            out.add(
                Change(
                    operation=Operation.Update,
                    entity_type=EntityType.Code,
                    identifier=child.name,
                    path=child_path,
                    data=rewrite(code, moved.name, self.sub.name),
                )
            )
        return out

    def _update_parent_refs(self, moved: Resource, changes: ChangeSet) -> ChangeSet:
        """The moved file's refs to models staying behind become
        project-qualified (reference references.py:300-360)."""
        out = ChangeSet()
        staying = [
            self.manifest.get(dep)
            for dep in moved.depends_on
            if dep in self.sub.xproj_parents_of_resources and dep.startswith("model.")
        ]
        if not staying:
            return out
        new_path = self._sub_path(moved)
        code = stack_code_change(changes, new_path, moved.raw_code)
        rewrite = rewrite_ref_python if moved.language == "python" else rewrite_ref_sql
        for parent_model in staying:
            if parent_model is None:
                continue
            code = rewrite(code, parent_model.name, self.parent.name)
        out.add(
            Change(
                operation=Operation.Update,
                entity_type=EntityType.Code,
                identifier=moved.name,
                path=new_path,
                data=code,
            )
        )
        return out

    def _copy_jinja_block(self, resource: Resource, block_type: str) -> Change | None:
        """Append just the named block into the subproject (C5)."""
        src = self._parent_path(resource)
        if not src.exists():
            return None
        text = src.read_text()
        span = find_block_span(text, block_type, resource.name)
        content = text[span[0] : span[1]] if span else text
        return Change(
            operation=Operation.Append,
            entity_type=EntityType.Code,
            identifier=resource.name,
            path=self._sub_path(resource),
            data=content,
        )

    def _write_project_file(self) -> Change:
        """Subproject dbt_project.yml from the parent's, renamed, with the
        models config subtree carried over (C6; reference
        dbt_project_editors.py:118-157, dbt_projects.py:452-461)."""
        cfg = dict(self.parent.config)
        cfg["name"] = self.sub.name
        models_cfg = cfg.get("models") or {}
        if self.parent.name in models_cfg:
            models_cfg = dict(models_cfg)
            models_cfg[self.sub.name] = models_cfg.pop(self.parent.name)
            cfg["models"] = models_cfg
        cfg = {k: v for k, v in cfg.items() if v not in (None, {}, [])}
        return Change(
            operation=Operation.Add,
            entity_type=EntityType.Code,
            identifier="dbt_project.yml",
            path=self.sub.path / "dbt_project.yml",
            data=dump_yaml(cfg, sort_keys=False),
        )

    def _dependencies_yml(self) -> Change:
        """dependencies.yml in the downstream project naming the upstream
        (reference dependencies.py:8-31; direction flips when the subproject
        is strictly upstream of the remainder)."""
        if self.sub.is_parent_of_parent_project:
            downstream_root, upstream_name = self.parent.root, self.sub.name
        else:
            downstream_root, upstream_name = self.sub.path, self.parent.name
        return Change(
            operation=Operation.Append,
            entity_type=EntityType.Project,
            identifier=upstream_name,
            path=downstream_root / "dependencies.yml",
            data={"name": upstream_name},
        )

    # -- the composition -----------------------------------------------------

    def initialize(self) -> ChangeSet:
        """The full ordered split plan (reference
        dbt_project_editors.py:171-290)."""
        changes = ChangeSet()
        sub = self.sub
        changes.add(
            Change(
                operation=Operation.Add,
                entity_type=EntityType.Directory,
                identifier=sub.name,
                path=sub.path,
            )
        )

        everything = (
            sub.resources | sub.custom_macros | sub.groups | sub.referenced_docs
        )
        for uid in sorted(everything):
            r = self.manifest.get(uid)
            if r is None:
                raise SplitError(f"resource {uid} not found in manifest")
            if r.resource_type in ("model", "test", "snapshot", "seed"):
                # generic tests move with their yml entry
                if r.resource_type == "test" and len(uid.split(".")) >= 4:
                    continue
                if uid in sub.boundary_models:
                    patch = sub.path / property_file(r)
                    changes.add(generate_contract(r.name, self._columns(r), patch))
                    changes.add(generate_access(r.name, "public", patch))
                    changes.extend(self._update_child_refs(r, changes))
                if r.path:
                    changes.add(self._move_resource(r))
                changes.extend(self._move_yml_entry(r))
                if any(
                    dep in sub.xproj_parents_of_resources for dep in r.depends_on
                ):
                    changes.extend(self._update_parent_refs(r, changes))
            elif r.resource_type in ("macro", "doc", "group"):
                if r.resource_type == "group":
                    entry = self._yml_entry(r)
                    changes.add(
                        Change(
                            operation=Operation.Add,
                            entity_type=EntityType.Group,
                            identifier=r.name,
                            path=self.sub.path / (r.patch_path or "models/_groups.yml"),
                            data=entry or {"name": r.name},
                        )
                    )
                    continue
                block_type = "macro" if r.resource_type == "macro" else "docs"
                block = self._copy_jinja_block(r, block_type)
                if block is not None:
                    changes.add(block)
            else:
                # sources, exposures, semantic models, metrics: yml entry only
                changes.extend(self._move_yml_entry(r))

        # contracts + public access for parents the subproject still reads
        for uid in sorted(sub.xproj_parents_of_resources):
            r = self.manifest.get(uid)
            if r is None or r.resource_type != "model":
                continue
            patch = self.parent.root / property_file(r)
            changes.add(generate_contract(r.name, self._columns(r), patch))
            changes.add(generate_access(r.name, "public", patch))

        changes.add(self._write_project_file())
        if (self.parent.root / "packages.yml").exists():
            changes.add(
                Change(
                    operation=Operation.Copy,
                    entity_type=EntityType.Code,
                    identifier="packages.yml",
                    path=sub.path / "packages.yml",
                    source=self.parent.root / "packages.yml",
                )
            )
        changes.add(self._dependencies_yml())
        return changes

"""Cross-project dependency detection + resolution (L1–L3).

Reference behavior:
- L1 source-hack detection: case-insensitive relation-name intersection
  between A's models and B's sources, both directions (linker.py:53-122;
  test tests/integration/test_dependency_detection.py:54-84).
- L2 package detection: md5 project-id membership test then shared relation
  names, expanding to children of the shared model in the downstream
  manifest (linker.py:124-198; dbt_projects.py:150-170).
- L3 resolution: make the upstream model public, rewrite downstream
  source()/ref() usages to cross-project refs, delete the source YAML
  entry, and record the dependency in dependencies.yml (linker.py:233-349).
  The reference also contracts the upstream model; ``connect`` never has,
  since it reads no schema.

Spark-native: "relation" is a catalog table name; deleting a source entry
means dropping the external-table alias from our registry, not touching data.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from pathlib import Path

from dbt_meshify_spark.plans.changes import Change, ChangeSet, EntityType, Operation
from dbt_meshify_spark.plans.graph import project_id
from dbt_meshify_spark.plans.grouper import generate_access
from dbt_meshify_spark.plans.manifest import Manifest, Resource
from dbt_meshify_spark.plans.references import (
    rewrite_ref_python,
    rewrite_ref_sql,
    rewrite_source_to_ref_python,
    rewrite_source_to_ref_sql,
    stack_code_change,
)


class DependencyType(str, Enum):
    Source = "source"
    Package = "package"


@dataclass(frozen=True)
class ProjectDependency:
    upstream_resource: str
    upstream_project_name: str
    downstream_resource: str
    downstream_project_name: str
    type: DependencyType


def _relation_map(resources: dict[str, Resource]) -> dict[str, str]:
    return {
        r.relation_name.lower(): uid
        for uid, r in resources.items()
        if r.relation_name
    }


def source_dependencies(
    upstream: Manifest, upstream_name: str, downstream: Manifest, downstream_name: str
) -> set[ProjectDependency]:
    """L1: models of ``upstream`` consumed as sources by ``downstream``."""
    model_rels = _relation_map(upstream.models)
    source_rels = _relation_map(downstream.sources)
    deps = set()
    for rel, src_uid in source_rels.items():
        model_uid = model_rels.get(rel)
        if model_uid:
            deps.add(
                ProjectDependency(
                    upstream_resource=model_uid,
                    upstream_project_name=upstream_name,
                    downstream_resource=src_uid,
                    downstream_project_name=downstream_name,
                    type=DependencyType.Source,
                )
            )
    return deps


def package_dependencies(
    upstream: Manifest, upstream_name: str, downstream: Manifest, downstream_name: str
) -> set[ProjectDependency]:
    """L2: upstream installed as a package in downstream, shared models
    found by case-insensitive relation-name intersection, the dependency
    attaching to the downstream CHILDREN of the shared model — keyed by
    the UPSTREAM unique_id, which is the id an installed package's nodes
    keep in the downstream manifest (reference linker.py:124-198).

    The installed-package gate mirrors dbt_projects.py:150-170 exactly:
    the md5 of every package name appearing in the downstream manifest,
    minus downstream's own project id, must contain upstream's project
    id. Shared detection is the same relation-name intersection the
    source-hack path uses (reference _find_relation_dependencies) — NOT
    package ownership, so an aliased downstream copy still matches and a
    non-matching relation never does. Relation names are assumed unique
    per manifest (dbt's one-relation-one-model invariant): like the
    reference's model_relation_names dict, _relation_map collapses any
    duplicate case-folded relation last-wins, whereas the q_l2 SQL's join
    would emit every match — the oracle fixture keeps relations unique so
    the twin-agreement test pins the shared semantics, not the
    degenerate-duplicate edge. The q_l2 oracle replays these semantics
    verbatim in SQL; the twin-agreement test pins both."""
    down_pid = project_id(downstream_name)
    installed = {
        project_id(r.package)
        for r in downstream.resources.values()
        if r.package and project_id(r.package) != down_pid
    }
    if project_id(upstream_name) not in installed:
        return set()
    up_rels = _relation_map(upstream.models)
    dn_rels = _relation_map(downstream.models)
    child_map = downstream.child_map()
    deps = set()
    for rel in up_rels.keys() & dn_rels.keys():
        up_uid = up_rels[rel]
        for child in child_map.get(up_uid, []):
            deps.add(
                ProjectDependency(
                    upstream_resource=up_uid,
                    upstream_project_name=upstream_name,
                    downstream_resource=child,
                    downstream_project_name=downstream_name,
                    type=DependencyType.Package,
                )
            )
    return deps


def dependencies(
    a: Manifest, a_name: str, b: Manifest, b_name: str
) -> set[ProjectDependency]:
    """All dependencies between a pair of projects, both directions
    (reference linker.py:200-217)."""
    return (
        source_dependencies(a, a_name, b, b_name)
        | source_dependencies(b, b_name, a, a_name)
        | package_dependencies(a, a_name, b, b_name)
        | package_dependencies(b, b_name, a, a_name)
    )


def resolve_dependency(
    dep: ProjectDependency,
    upstream: Manifest,
    downstream: Manifest,
    downstream_root: Path,
    upstream_patch_path: Path | None = None,
) -> ChangeSet:
    """L3: plan the changes that convert an implicit dependency into an
    explicit cross-project ref (reference linker.py:233-349). The upstream
    model is made public when ``upstream_patch_path`` is given."""
    changes = ChangeSet()
    up_model = upstream.get(dep.upstream_resource)
    if up_model is None:
        raise KeyError(f"unknown upstream resource {dep.upstream_resource}")

    # 1. upstream model becomes public
    if upstream_patch_path is not None:
        changes.add(generate_access(up_model.name, "public", upstream_patch_path))

    if dep.type == DependencyType.Source:
        src = downstream.get(dep.downstream_resource)
        if src is None:
            raise KeyError(f"unknown source {dep.downstream_resource}")
        # 2. rewrite every downstream consumer of the source to an x-proj ref
        src_parts = dep.downstream_resource.split(".")
        source_name, table_name = src_parts[-2], src_parts[-1]
        child_map = downstream.child_map()
        for child_id in child_map.get(dep.downstream_resource, []):
            child = downstream.get(child_id)
            if not child or not child.path:
                continue
            child_path = downstream_root / child.path
            code = stack_code_change(changes, child_path, child.raw_code)
            rewrite = (
                rewrite_source_to_ref_python
                if child.language == "python"
                else rewrite_source_to_ref_sql
            )
            changes.add(
                Change(
                    operation=Operation.Update,
                    entity_type=EntityType.Code,
                    identifier=child.name,
                    path=child_path,
                    data=rewrite(
                        code, source_name, table_name,
                        dep.upstream_project_name, up_model.name,
                    ),
                )
            )
        # 3. delete the source's YAML entry
        if src.patch_path:
            changes.add(
                Change(
                    operation=Operation.Remove,
                    entity_type=EntityType.Source,
                    identifier=f"{source_name}.{table_name}",
                    path=downstream_root / src.patch_path,
                )
            )
    else:  # Package: rewrite plain refs to x-proj refs
        child = downstream.get(dep.downstream_resource)
        if child and child.path:
            child_path = downstream_root / child.path
            code = stack_code_change(changes, child_path, child.raw_code)
            rewrite = (
                rewrite_ref_python if child.language == "python" else rewrite_ref_sql
            )
            changes.add(
                Change(
                    operation=Operation.Update,
                    entity_type=EntityType.Code,
                    identifier=child.name,
                    path=child_path,
                    data=rewrite(code, up_model.name, dep.upstream_project_name),
                )
            )

    # 4. dependencies.yml entry (reference linker.py:343-347,
    #    dependencies.py:8-31)
    changes.add(
        Change(
            operation=Operation.Append,
            entity_type=EntityType.Project,
            identifier=dep.upstream_project_name,
            path=downstream_root / "dependencies.yml",
            data={"name": dep.upstream_project_name},
        )
    )
    return changes

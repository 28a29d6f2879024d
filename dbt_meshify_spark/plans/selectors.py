"""Named YAML selectors (``selectors.yml``) — the `--selector` surface.

Reference parity: every dbt-meshify command forwards ``--selector`` to
``dbt ls`` (reference cli.py:74-80, dbt_projects.py:351-376, dbt.py:40-57),
which resolves names against the project's ``selectors.yml``. This module
reimplements dbt's published selector-definition grammar against our own
G1 selection engine (plans/graph.py::select_resources):

- string definitions are full selection syntax (``"tag:nightly+ @seed_x"``);
- dict atoms: ``{method, value, parents, children, parents_depth,
  children_depth, childrens_parents}`` plus the ``{tag: x}``-style
  method-shorthand;
- composites: ``union`` / ``intersection`` lists, with ``exclude`` elements
  subtracted from their enclosing composite (dbt semantics: exclusion binds
  to the composite it appears in).

Metadata plane: manifests are bounded (driver-side), like the rest of §2.1.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any

from dbt_meshify_spark.plans.changes import load_yaml
from dbt_meshify_spark.plans.graph import select_resources
from dbt_meshify_spark.plans.manifest import Manifest

_METHOD_SHORTHANDS = (
    "tag",
    "path",
    "package",
    "config.materialized",
    "resource_type",
    "fqn",
    "method",
)


class SelectorError(ValueError):
    """Unknown selector name or malformed definition."""


def load_selectors(project_root: str | Path) -> dict[str, Any]:
    """Parse ``selectors.yml`` at the project root: name -> definition.

    The special key ``__default__`` holds the name of the selector marked
    ``default: true`` (dbt applies it when no --select/--selector given).
    """
    path = Path(project_root) / "selectors.yml"
    if not path.exists():
        return {}
    doc = load_yaml(path.read_text()) or {}
    out: dict[str, Any] = {}
    for entry in doc.get("selectors", []) or []:
        name = entry.get("name")
        if not name or "definition" not in entry:
            raise SelectorError(f"selectors.yml entry missing name/definition: {entry}")
        out[name] = entry["definition"]
        if entry.get("default"):
            out["__default__"] = name
    return out


def _atom_token(atom: dict[str, Any]) -> str:
    """Render a dict atom to a G1 selection token."""
    method = atom.get("method")
    value = atom.get("value")
    if method is None:
        # {tag: nightly} shorthand
        for key in _METHOD_SHORTHANDS:
            if key in atom and key != "method":
                method, value = key, atom[key]
                break
    if method is None or value is None:
        raise SelectorError(f"selector atom needs method+value: {atom}")
    body = str(value) if method == "fqn" else f"{method}:{value}"
    if atom.get("childrens_parents"):
        return f"@{body}"
    prefix = ""
    if atom.get("parents"):
        depth = atom.get("parents_depth")
        prefix = f"{depth}+" if depth else "+"
    suffix = ""
    if atom.get("children"):
        depth = atom.get("children_depth")
        suffix = f"+{depth}" if depth else "+"
    return f"{prefix}{body}{suffix}"


def _eval_definition(manifest: Manifest, defn: Any, state=None) -> set[str]:
    if isinstance(defn, str):
        return select_resources(manifest, defn, state_artifact=state)
    if not isinstance(defn, dict):
        raise SelectorError(f"unsupported selector definition: {defn!r}")
    if "union" in defn or "intersection" in defn:
        op = "union" if "union" in defn else "intersection"
        include: set[str] | None = None
        excluded: set[str] = set()
        for item in defn[op]:
            if isinstance(item, dict) and "exclude" in item:
                for ex in item["exclude"]:
                    excluded |= _eval_definition(manifest, ex, state)
                continue
            sub = _eval_definition(manifest, item, state)
            if include is None:
                include = sub
            elif op == "union":
                include |= sub
            else:
                include &= sub
        return (include or set()) - excluded
    if "exclude" in defn:
        raise SelectorError("exclude is only valid inside union/intersection")
    return select_resources(manifest, _atom_token(defn))


def evaluate_selector(
    manifest: Manifest,
    names: str | list[str],
    selectors: dict[str, Any],
    state=None,
) -> set[str]:
    """Union of the named selectors' resolved resource sets."""
    out: set[str] = set()
    for name in [names] if isinstance(names, str) else list(names):
        if name not in selectors:
            known = sorted(k for k in selectors if k != "__default__")
            raise SelectorError(f"unknown selector {name!r}; defined: {known}")
        out |= _eval_definition(manifest, selectors[name], state)
    return out


def resolve_selection(
    manifest: Manifest,
    project_root: str | Path,
    select: list[str] | None = None,
    exclude: list[str] | None = None,
    selector: list[str] | None = None,
    state=None,
) -> set[str]:
    """CLI entrypoint: --select tokens unioned with --selector names, minus
    --exclude — matching how the reference forwards all three to dbt ls."""
    if select and not selector:
        return select_resources(
            manifest, list(select), exclude=exclude, state_artifact=state
        )
    selected: set[str] = set()
    if select:
        selected |= select_resources(
            manifest, list(select), state_artifact=state
        )
    if selector:
        selectors = load_selectors(project_root)
        selected |= evaluate_selector(manifest, list(selector), selectors, state)
    if not select and not selector:
        selectors = load_selectors(project_root)
        default = selectors.get("__default__")
        if default:
            selected = evaluate_selector(manifest, default, selectors, state)
        else:
            return select_resources(
                manifest, ["*"], exclude=exclude, state_artifact=state
            )
    if exclude:
        selected -= select_resources(manifest, list(exclude), state_artifact=state)
    return selected

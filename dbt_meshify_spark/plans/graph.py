"""Graph / selection operators G1–G12 (SURVEY.md §2.1).

Behavioral parity targets in the reference (cited per function); all code
here is original, driver-side for bounded manifests with DataFrame twins
(``reachable_frame``) for graphs that outgrow the driver.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass
from typing import TYPE_CHECKING

from dbt_meshify_spark.plans.manifest import Manifest

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# --------------------------------------------------------------------------
# G1: selection grammar
# --------------------------------------------------------------------------

_SELECTOR_RE = re.compile(
    r"^(?P<ancestors>(?P<adepth>\d*)\+)?(?P<body>[^+]+?)(?P<descendants>\+(?P<ddepth>\d*))?$"
)


@dataclass
class _Sel:
    body: str
    ancestors: bool
    adepth: int | None
    descendants: bool
    ddepth: int | None


def _parse_one(token: str) -> _Sel:
    m = _SELECTOR_RE.match(token.strip())
    if not m:
        raise ValueError(f"unparseable selector {token!r}")
    return _Sel(
        body=m.group("body"),
        ancestors=m.group("ancestors") is not None,
        adepth=int(m.group("adepth")) if m.group("adepth") else None,
        descendants=m.group("descendants") is not None,
        ddepth=int(m.group("ddepth")) if m.group("ddepth") else None,
    )


def _match_body(
    manifest: Manifest, body: str, state: set[str] | None = None
) -> set[str]:
    """Resolve the selector body to node ids.

    Methods: bare name, ``tag:``, ``path:``, ``package:``,
    ``config.materialized:``, ``resource_type:``. (The reference delegates
    to ``dbt ls`` — dbt_meshify/dbt.py:40-57; tests exercise ``+name``,
    ``name+``, ``+name+`` — tests/integration/test_split_command.py:69-289.)
    """
    if ":" in body:
        method, _, value = body.partition(":")
        if method == "state":
            if state is None:
                raise ValueError(
                    "state:* selection needs a prior manifest artifact "
                    "(pass state_artifact / --state)"
                )
            if value in ("modified", "new"):
                return set(state)
            raise ValueError(f"unsupported state selector {value!r}")
        if method == "tag":
            return {u for u, r in manifest.resources.items() if value in r.tags}
        if method == "path":
            return {
                u
                for u, r in manifest.resources.items()
                if r.path and (r.path == value or r.path.startswith(value.rstrip("/") + "/"))
            }
        if method == "package":
            return {u for u, r in manifest.resources.items() if r.package == value}
        if method == "resource_type":
            return {u for u, r in manifest.resources.items() if r.resource_type == value}
        if method.startswith("config."):
            key = method.split(".", 1)[1]
            return {
                u
                for u, r in manifest.resources.items()
                if str(r.config.get(key)) == value
            }
        raise ValueError(f"unsupported selector method {method!r}")
    if "*" in body:
        pat = re.compile("^" + re.escape(body).replace(r"\*", ".*") + "$")
        return {u for u, r in manifest.resources.items() if pat.match(r.name)}
    return {u for u, r in manifest.resources.items() if r.name == body or u == body}


def _walk(adj: dict[str, list[str]], seeds: set[str], depth: int | None) -> set[str]:
    """BFS closure over an adjacency map, optionally depth-bounded."""
    seen = set(seeds)
    frontier = set(seeds)
    level = 0
    while frontier and (depth is None or level < depth):
        frontier = {n for f in frontier for n in adj.get(f, []) if n not in seen}
        seen |= frontier
        level += 1
    return seen


def select_resources(
    manifest: Manifest,
    select: str | list[str],
    exclude: str | list[str] | None = None,
    state_artifact=None,
) -> set[str]:
    """G1: evaluate dbt graph-selection syntax to a set of unique_ids.

    Multiple args/space-separated = union; ``,`` within a token =
    intersection; ``+``/``n+`` prefixes/suffixes = ancestor/descendant
    closure (union of selected per reference dbt_projects.py:362, exclusion
    at :363-366).
    """
    tokens: list[str] = []
    for part in [select] if isinstance(select, str) else list(select):
        tokens.extend(part.split())
    parents = manifest.parent_map()
    children = manifest.child_map()
    state = manifest.modified_since(state_artifact) if state_artifact else None

    def eval_token(token: str) -> set[str]:
        subsets = []
        for piece in token.split(","):
            # @node: the node, its descendants, and all ancestors of those
            # descendants (dbt's at-operator — needed to relocate a model
            # with everything its consumers also read)
            if piece.startswith("@"):
                base = _match_body(manifest, piece[1:], state)
                down = _walk(children, base, None)
                subsets.append(down | _walk(parents, down, None))
                continue
            sel = _parse_one(piece)
            base = _match_body(manifest, sel.body, state)
            out = set(base)
            if sel.ancestors:
                out |= _walk(parents, base, sel.adepth)
            if sel.descendants:
                out |= _walk(children, base, sel.ddepth)
            subsets.append(out)
        result = subsets[0]
        for s in subsets[1:]:
            result &= s
        return result

    selected: set[str] = set()
    for t in tokens:
        selected |= eval_token(t)
    if exclude:
        ex_tokens: list[str] = []
        for part in [exclude] if isinstance(exclude, str) else list(exclude):
            ex_tokens.extend(part.split())
        for t in ex_tokens:
            selected -= eval_token(t)
    # dbt-style eager indirect selection: a test rides along when any of its
    # parents is selected (the `dbt ls` default the reference free-rides on
    # at dbt.py:40-57) — without this, a model's own tests read as
    # cross-project children and fake split cycles.
    for uid, r in manifest.resources.items():
        if r.resource_type == "test" and any(d in selected for d in r.depends_on):
            selected.add(uid)
    return selected


# --------------------------------------------------------------------------
# G4–G6: boundary / access classification
# --------------------------------------------------------------------------


def drop_test_nodes(manifest: Manifest, selected: set[str]) -> set[str]:
    """G6: tests never participate in boundary analysis
    (reference grouper.py:57-61)."""
    return {u for u in selected if not u.startswith("test.")}


def interface_nodes(manifest: Manifest, selected: set[str]) -> set[str]:
    """G4: interface = nodes with an edge leaving the selection, plus leaf
    nodes (out-degree 0) — reference grouper.py:30-38."""
    selected = drop_test_nodes(manifest, selected)
    children = manifest.child_map()
    boundary = {
        u
        for u in selected
        if any(c not in selected for c in children.get(u, []) if not c.startswith("test."))
    }
    leaves = {u for u in selected if not [c for c in children.get(u, []) if not c.startswith("test.")]}
    return boundary | leaves


def classify_access(manifest: Manifest, selected: set[str]) -> dict[str, str]:
    """G5: interface/leaf => 'protected', else 'private'
    (reference grouper.py:41-55; golden
    tests/unit/test_resource_grouper_classification.py:28-37)."""
    selected = drop_test_nodes(manifest, selected)
    interface = interface_nodes(manifest, selected)
    return {u: ("protected" if u in interface else "private") for u in sorted(selected)}


# --------------------------------------------------------------------------
# G7–G8: cross-selection structure
# --------------------------------------------------------------------------


def _is_test_node(manifest: Manifest, uid: str) -> bool:
    r = manifest.get(uid)
    return bool(r and r.resource_type == "test")


def xproj_children(manifest: Manifest, selected: set[str]) -> set[str]:
    """G7: dependents outside the selection (dbt_projects.py:76-81).

    Test nodes are skipped as ITERATION SOURCES only — the reference's
    ``if resource.startswith("test"): continue`` — but non-selected test
    dependents DO count as cross-boundary children, and the FULL selection
    (tests included) is what gets subtracted."""
    children = manifest.child_map()
    return {
        c
        for u in selected
        if not _is_test_node(manifest, u)
        for c in children.get(u, [])
        if c not in selected
    }


def xproj_parents(manifest: Manifest, selected: set[str]) -> set[str]:
    """G7: dependencies outside the selection (dbt_projects.py:83-90).
    Same test-node discipline as :func:`xproj_children`: tests skipped as
    iteration sources, kept in the result set."""
    parents = manifest.parent_map()
    return {
        p
        for u in selected
        if not _is_test_node(manifest, u)
        for p in parents.get(u, [])
        if p not in selected
    }


def is_project_cycle(manifest: Manifest, selected: set[str]) -> bool:
    """G8: a split creates a cycle iff the subproject is both upstream and
    downstream of the remainder (dbt_projects.py:97-108, enforced
    main.py:250-255). The cross-boundary sets are NOT test-filtered — a
    split whose only cross-boundary edge is a test node is still a cycle
    per the reference (its is_project_cycle counts the raw xproj sets)."""
    return bool(xproj_children(manifest, selected)) and bool(
        xproj_parents(manifest, selected)
    )


# --------------------------------------------------------------------------
# G10–G12: closures
# --------------------------------------------------------------------------


def project_id(project_name: str) -> str:
    """md5 project identity used for ownership tests
    (reference dbt_projects.py:150-170)."""
    return hashlib.md5(project_name.encode()).hexdigest()


def macro_closure(manifest: Manifest, selected: set[str], project_name: str) -> set[str]:
    """G10: project-owned macros used by the selection, two levels deep
    (macros of resources, then macros of those macros) —
    reference dbt_projects.py:463-486."""
    pid = project_id(project_name)

    def owned(macro_id: str) -> bool:
        parts = macro_id.split(".")
        return len(parts) > 1 and hashlib.md5(parts[1].encode()).hexdigest() == pid

    def macros_of(ids: set[str]) -> set[str]:
        out = set()
        for uid in ids:
            r = manifest.get(uid)
            if not r:
                continue
            out |= {d for d in r.depends_on if d.startswith("macro.") and owned(d)}
        return out

    level1 = macros_of(selected)
    level2 = macros_of(level1)
    return level1 | level2


_DOC_RE = re.compile(r"{{\s*doc\s*\(\s*['\"]([a-zA-Z0-9_\-\.]+)['\"]\s*\)\s*}}")


def docs_closure(manifest: Manifest, selected: set[str]) -> set[str]:
    """G11: docs referenced via ``{{ doc('name') }}`` in raw code of the
    selection (reference dbt_projects.py:488-519, jinja_blocks.py:75-79)."""
    doc_names: set[str] = set()
    for uid in selected:
        r = manifest.get(uid)
        if r:
            doc_names |= set(_DOC_RE.findall(r.raw_code or ""))
            for col_desc in (r.meta.get("column_descriptions") or {}).values():
                doc_names |= set(_DOC_RE.findall(col_desc))
    return {
        uid
        for uid, r in manifest.resources.items()
        if r.resource_type == "doc" and r.name in doc_names
    }


def group_closure(manifest: Manifest, selected: set[str]) -> set[str]:
    """G12: groups referenced by selected resources' group attribute
    (reference dbt_projects.py:521-537)."""
    names = {
        manifest.get(u).group
        for u in selected
        if manifest.get(u) and manifest.get(u).group
    }
    return {
        uid
        for uid, r in manifest.resources.items()
        if r.resource_type == "group" and r.name in names
    }


# --------------------------------------------------------------------------
# Scale path: reachability as iterative DataFrame joins
# --------------------------------------------------------------------------


def reachable_frame(
    edges: DataFrame,
    seeds: DataFrame,
    direction: str = "downstream",
    max_iters: int = 100,
) -> DataFrame:
    """Transitive closure from ``seeds`` over an edges frame (src feeds dst).

    Frontier-expansion BFS: each iteration is one broadcast-or-shuffle join;
    AQE picks the strategy from the frontier's actual size. Terminates when
    the frontier is empty — for governance DAGs depth is tiny (<100).
    ``seeds`` must have column ``unique_id``.
    """
    from pyspark.sql import functions as F

    key, next_key = ("src", "dst") if direction == "downstream" else ("dst", "src")
    seen = seeds.select(F.col("unique_id")).distinct()
    frontier = seen
    for _ in range(max_iters):
        step = (
            edges.join(frontier, edges[key] == frontier.unique_id, "left_semi")
            .select(F.col(next_key).alias("unique_id"))
            .distinct()
            .join(seen, "unique_id", "left_anti")
        )
        if not step.take(1):
            break
        seen = seen.union(step).distinct()
        frontier = step
    return seen


def boundary_frame(edges: DataFrame, selected: DataFrame) -> DataFrame:
    """G4/G5 scale path: classify a selection entirely as DataFrame joins.

    interface = nodes with an out-edge leaving the selection (semi-join on
    src, anti-join on dst) ∪ selection leaves (no out-edge at all); access =
    'protected' for interface nodes else 'private' — the same truth table as
    ``classify_access`` (reference grouper.py:30-55), but it never collects
    the graph to the driver, so it holds at manifest sizes where networkx
    can't. ``selected`` must have column ``unique_id``.

    Two hash joins + one union; both join keys are unique_id (high
    cardinality, no skew). Returns (unique_id, access).
    """
    from pyspark.sql import functions as F

    sel = selected.select("unique_id").distinct()
    crossing = (
        edges.join(sel, edges.src == sel.unique_id, "left_semi")
        .join(sel, edges.dst == sel.unique_id, "left_anti")
        .select(F.col("src").alias("unique_id"))
        .distinct()
    )
    leaves = sel.join(edges, sel.unique_id == edges.src, "left_anti").select(
        "unique_id"
    )
    interface = crossing.union(leaves).distinct().withColumn(
        "access", F.lit("protected")
    )
    return sel.join(interface.select("unique_id"), "unique_id", "left_anti").withColumn(
        "access", F.lit("private")
    ).union(interface)

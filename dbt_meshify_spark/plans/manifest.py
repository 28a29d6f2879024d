"""Manifest: the typed resource registry + DAG that every governance
operation reads.

Parity notes (behavior, not code, from the reference):
- unique_id scheme ``type.package.name[.vN]`` with positional splitting
  (reference: dbt_meshify/dbt_projects.py:211-222, linker.py:82-95).
- parent/child adjacency derived from each node's depends_on
  (dbt_projects.py:92-95); graph built from the same edges
  (dbt_projects.py:110-126).
- generic accessor resolves the registry from the id's type prefix
  (dbt_projects.py:209-222).

Scale: the dataclass registry is driver-side (bounded metadata); ``to_frames``
emits nodes/edges DataFrames so reachability and boundary queries can run as
joins when the graph outgrows the driver (SURVEY.md §1.1).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Resource:
    """One manifest entry (model, source, seed, test, macro, doc, group,
    exposure, semantic model...)."""

    unique_id: str
    name: str
    resource_type: str = ""
    package: str = ""
    path: str = ""
    language: str = "sql"
    raw_code: str = ""
    depends_on: list[str] = field(default_factory=list)
    config: dict[str, Any] = field(default_factory=dict)
    tags: list[str] = field(default_factory=list)
    access: str | None = None
    group: str | None = None
    version: int | None = None
    latest_version: int | None = None
    patch_path: str | None = None
    relation_name: str | None = None
    columns: dict[str, str] = field(default_factory=dict)
    meta: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if not self.resource_type:
            self.resource_type = self.unique_id.split(".", 1)[0]
        if not self.package:
            parts = self.unique_id.split(".")
            self.package = parts[1] if len(parts) > 1 else ""


def property_file(resource: Resource) -> Path:
    """The resource's property file relative to its project root: its
    ``patch_path``, else ``_<type>s.yml`` synthesized next to the resource's
    file (reference dbt_projects.py:237-254)."""
    if resource.patch_path:
        return Path(resource.patch_path)
    parent_dir = Path(resource.path).parent if resource.path else Path("models")
    return parent_dir / f"_{resource.resource_type}s.yml"


def _resource_fingerprint(r: "Resource") -> str:
    """Stable content hash for state comparison (state:modified): raw code +
    config + contract-relevant properties. Excludes paths so a pure file
    move doesn't read as modified."""
    import hashlib
    import json

    payload = json.dumps(
        {
            "raw_code": r.raw_code,
            "config": r.config,
            "columns": r.columns,
            "access": r.access,
            "group": r.group,
            "version": r.version,
            "depends_on": sorted(r.depends_on),
        },
        sort_keys=True,
        default=str,
    )
    return hashlib.md5(payload.encode()).hexdigest()


class Manifest:
    """Registry of resources keyed by unique_id, with derived adjacency."""

    def __init__(self, resources: Iterable[Resource] = ()) -> None:
        self.resources: dict[str, Resource] = {}
        for r in resources:
            self.resources[r.unique_id] = r

    # -- registry ----------------------------------------------------------

    def add(self, resource: Resource) -> None:
        self.resources[resource.unique_id] = resource

    def get(self, unique_id: str) -> Resource | None:
        return self.resources.get(unique_id)

    def by_type(self, resource_type: str) -> dict[str, Resource]:
        return {
            uid: r
            for uid, r in self.resources.items()
            if r.resource_type == resource_type
        }

    @property
    def models(self) -> dict[str, Resource]:
        return self.by_type("model")

    @property
    def sources(self) -> dict[str, Resource]:
        return self.by_type("source")

    # -- state artifact (slim-CI) ------------------------------------------

    def write_artifact(self, path) -> None:
        """Persist unique_id -> content fingerprint as manifest.json — the
        state artifact `state:modified` selection compares against (the
        dbt `--state` slim-CI workflow)."""
        import json
        from pathlib import Path

        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(
            json.dumps(
                {
                    "fingerprints": {
                        uid: _resource_fingerprint(r)
                        for uid, r in self.resources.items()
                    }
                },
                indent=1,
                sort_keys=True,
            )
        )

    def modified_since(self, artifact_path) -> set[str]:
        """unique_ids that are new or content-changed vs a prior artifact."""
        import json
        from pathlib import Path

        old = json.loads(Path(artifact_path).read_text()).get("fingerprints", {})
        return {
            uid
            for uid, r in self.resources.items()
            if old.get(uid) != _resource_fingerprint(r)
        }

    # -- graph -------------------------------------------------------------

    def edges(self) -> list[tuple[str, str]]:
        """(src, dst) = (dependency, dependent): src feeds dst."""
        out = []
        for uid, r in self.resources.items():
            for dep in r.depends_on:
                out.append((dep, uid))
        return out

    def parent_map(self) -> dict[str, list[str]]:
        return {uid: sorted(r.depends_on) for uid, r in self.resources.items()}

    def child_map(self) -> dict[str, list[str]]:
        children: dict[str, list[str]] = {uid: [] for uid in self.resources}
        for uid, r in self.resources.items():
            for dep in r.depends_on:
                children.setdefault(dep, []).append(uid)
        return {k: sorted(v) for k, v in children.items()}

    def graph(self):
        """networkx.DiGraph over all resources (driver-scale graphs)."""
        import networkx as nx

        g = nx.DiGraph()
        g.add_nodes_from(self.resources)
        g.add_edges_from(self.edges())
        return g

    def to_frames(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        """nodes/edges DataFrames — the scale path for graph queries."""
        from pyspark.sql import types as T

        node_schema = T.StructType(
            [
                T.StructField("unique_id", T.StringType()),
                T.StructField("resource_type", T.StringType()),
                T.StructField("name", T.StringType()),
                T.StructField("package", T.StringType()),
                T.StructField("path", T.StringType()),
                T.StructField("language", T.StringType()),
                T.StructField("access", T.StringType()),
                T.StructField("group", T.StringType()),
                T.StructField("version", T.IntegerType()),
            ]
        )
        nodes = spark.createDataFrame(
            [
                (
                    r.unique_id,
                    r.resource_type,
                    r.name,
                    r.package,
                    r.path,
                    r.language,
                    r.access,
                    r.group,
                    r.version,
                )
                for r in self.resources.values()
            ],
            node_schema,
        )
        edge_schema = T.StructType(
            [T.StructField("src", T.StringType()), T.StructField("dst", T.StringType())]
        )
        edges = spark.createDataFrame(self.edges(), edge_schema)
        return nodes, edges

"""Contract generation + enforcement (V1).

Reference behavior (contractor.py:14-47): look up the relation's physical
columns from the warehouse catalog, emit a YAML patch
``{config: {contract: {enforced: true}}, columns: [{name, data_type}]}``
preserving the original column-name case, merging with any existing entry.

Columns come in already listed: the CLI reads them from
target/catalog.json under ``--read-catalog``, or from live Spark schemas
(``cli._catalog_columns``); ``split`` falls back to property-file columns
for a model neither knows. ``generate_contract`` is the only contract
builder. Enforcement is a StructType comparison before write (SURVEY.md
§4.2 'contract enforcement').
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

from dbt_meshify_spark.plans.changes import Change, EntityType, Operation

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# Normalization: contracts compare logical types, not physical spellings
# (reference contractor.py:26-30 lowercases; we also collapse synonyms).
_TYPE_SYNONYMS = {
    "integer": "int",
    "long": "bigint",
    "string": "varchar",
    "character varying": "varchar",
    "double precision": "double",
    "float8": "double",
    "numeric": "decimal",
    "timestamp_ntz": "timestamp",
}


def normalize_type(t: str) -> str:
    t = t.strip().lower()
    base = t.split("(")[0].strip()
    mapped = _TYPE_SYNONYMS.get(base, base)
    suffix = t[len(base):]
    return mapped + suffix


def generate_contract(
    model_name: str, columns: list[dict], patch_path: Path
) -> Change:
    """V1: the contract patch for a model with ``columns``
    ([{name, data_type}]), from target/catalog.json or a live schema."""
    return Change(
        operation=Operation.Update,
        entity_type=EntityType.Model,
        identifier=model_name,
        path=patch_path,
        data={
            "config": {"contract": {"enforced": True}},
            "columns": columns,
        },
    )


class ContractViolation(Exception):
    pass


def enforce_contract(model_name: str, df: DataFrame, contracted: list[dict]) -> None:
    """Assert df's schema satisfies the contract (name-keyed,
    order-insensitive, type-normalized). Raises ContractViolation."""
    actual = {f.name.lower(): normalize_type(f.dataType.simpleString()) for f in df.schema.fields}
    problems = []
    for col in contracted:
        name = col["name"].lower()
        want = normalize_type(str(col.get("data_type", "")))
        if name not in actual:
            problems.append(f"missing column {col['name']!r}")
        elif want and actual[name] != want:
            problems.append(
                f"column {col['name']!r}: expected {want}, got {actual[name]}"
            )
    extras = set(actual) - {c["name"].lower() for c in contracted}
    if extras:
        problems.append(f"uncontracted columns present: {sorted(extras)}")
    if problems:
        raise ContractViolation(f"model {model_name}: " + "; ".join(problems))

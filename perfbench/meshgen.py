"""Seeded generator for the ``mesh_governance`` input: a dbt monolith of
domain directories plus a source-hack consumer project.

Each domain directory holds SQL models that ref 1-3 earlier models of the
domain (every third model also refs a model of the previous domain) and
call project macros, one property YAML (columns with data types and tests,
group, access) and its own sources YAML. Refs only point to earlier
domains, so the first domain is upstream of everything and splits off
without a project cycle. Only names, types and ref targets are random:
model, column, ref and test counts are fixed, so every seed asks for the
same amount of work. The generator also writes ``target/catalog.json``, so
``--read-catalog`` commands never need Spark. The same seed gives a
byte-identical tree.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import yaml

_TYPES = ["string", "bigint", "double", "date", "decimal(16,2)"]
_WORDS = (
    "account balance channel cohort device event invoice ledger margin order "
    "payment plan region revenue session signup status ticket usage visit"
).split()

MACROS = """\
{% macro cents_to_dollars(column_name, scale=2) %}
cast({{ column_name }} / 100.0 as decimal(16, {{ scale }}))
{% endmacro %}

{% macro safe_divide(num, den) %}
case when {{ den }} = 0 then null else {{ num }} / {{ den }} end
{% endmacro %}
"""


def domain_name(d: int) -> str:
    return f"dom{d:02d}"


def model_name(d: int, i: int) -> str:
    return f"{domain_name(d)}_m{i:03d}"


def _columns(rng: random.Random) -> list[tuple[str, str]]:
    names = rng.sample(_WORDS, 4)
    return [("id", "bigint")] + [(n, rng.choice(_TYPES)) for n in names]


def _model_sql(d: int, i: int, refs: list[str], cols, rng: random.Random) -> str:
    if not refs:
        body = ", ".join(c for c, _ in cols)
        return (
            f"select {body}\n"
            f"from {{{{ source('{domain_name(d)}_src', 'raw_{model_name(d, i)}') }}}}\n"
        )
    lines = ["select", "    r0.id"]
    for c, t in cols[1:]:
        if t == "double" and rng.random() < 0.5:
            lines.append(f"    , {{{{ cents_to_dollars('r0.id') }}}} as {c}")
        elif t == "decimal(16,2)" and rng.random() < 0.5:
            lines.append(f"    , {{{{ safe_divide('r0.id', 100) }}}} as {c}")
        else:
            lines.append(f"    , cast(null as {t}) as {c}")
    lines.append(f"from {{{{ ref('{refs[0]}') }}}} r0")
    for k, r in enumerate(refs[1:], start=1):
        lines.append(f"left join {{{{ ref('{r}') }}}} r{k} on r{k}.id = r0.id")
    return "\n".join(lines) + "\n"


def _dump(path: Path, doc) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(yaml.safe_dump(doc, sort_keys=False, width=100))


def generate(root: str | Path, seed: int, domains: int, models_per_domain: int) -> dict:
    """Write ``<root>/monolith`` and ``<root>/consumer``; returns a summary
    (project paths, split/contract/version targets, model names)."""
    rng = random.Random(seed)
    root = Path(root)
    mono = root / "monolith"
    (mono / "macros").mkdir(parents=True, exist_ok=True)
    (mono / "target").mkdir(parents=True, exist_ok=True)
    (mono / "dbt_project.yml").write_text(
        "name: monolith\nversion: '1.0'\nmodel-paths: ['models']\n"
        "macro-paths: ['macros']\nmodels:\n  monolith:\n    +materialized: view\n"
    )
    (mono / "macros" / "project_macros.sql").write_text(MACROS)
    catalog: dict[str, dict] = {}
    groups = []
    all_models: list[str] = []
    for d in range(domains):
        dom = domain_name(d)
        groups.append(
            {"name": dom, "owner": {"name": f"{dom} team", "email": f"{dom}@example.com"}}
        )
        entries, tables = [], []
        for i in range(models_per_domain):
            name = model_name(d, i)
            cols = _columns(rng)
            refs: list[str] = []
            if i >= 2:
                local = rng.sample(range(i), min(i, 1 + i % 3))
                refs = [model_name(d, j) for j in sorted(local)]
                if d > 0 and i % 3 == 0:
                    refs.append(model_name(d - 1, rng.randrange(models_per_domain)))
            else:
                tables.append({"name": f"raw_{name}", "identifier": f"raw_{name}"})
            (mono / "models" / dom).mkdir(parents=True, exist_ok=True)
            (mono / "models" / dom / f"{name}.sql").write_text(
                _model_sql(d, i, refs, cols, rng)
            )
            columns = []
            for c, t in cols:
                col = {"name": c, "data_type": t, "description": f"{c} of {name}"}
                if c == "id":
                    col["tests"] = ["not_null", "unique"]
                elif c == cols[1][0]:
                    col["tests"] = ["not_null"]
                columns.append(col)
            entries.append(
                {
                    "name": name,
                    "description": f"{dom} model {i}",
                    "group": dom,
                    "access": "protected",
                    "config": {"materialized": rng.choice(["view", "table"])},
                    "columns": columns,
                }
            )
            catalog[name] = {"columns": {c: t for c, t in cols}}
            all_models.append(name)
        _dump(mono / "models" / dom / f"_{dom}__models.yml", {"version": 2, "models": entries})
        _dump(
            mono / "models" / dom / f"_{dom}__sources.yml",
            {"version": 2, "sources": [{"name": f"{dom}_src", "tables": tables}]},
        )
    _dump(mono / "models" / "_groups.yml", {"version": 2, "groups": groups})
    (mono / "target" / "catalog.json").write_text(
        json.dumps({"nodes": catalog}, sort_keys=True, indent=1)
    )

    consumer = root / "consumer"
    (consumer / "models").mkdir(parents=True, exist_ok=True)
    (consumer / "dbt_project.yml").write_text(
        "name: consumer\nversion: '1.0'\nmodel-paths: ['models']\n"
    )
    last = domain_name(domains - 1)
    hacked = [m for m in all_models if m.startswith(last)][-5:]
    _dump(
        consumer / "models" / "_sources.yml",
        {
            "version": 2,
            "sources": [
                {
                    "name": "monolith",
                    "tables": [{"name": m, "identifier": m.upper()} for m in hacked],
                }
            ],
        },
    )
    for k, m in enumerate(hacked):
        (consumer / "models" / f"report_{k}.sql").write_text(
            f"select * from {{{{ source('monolith', '{m}') }}}} where id > {k}\n"
        )
    return {
        "monolith": str(mono),
        "consumer": str(consumer),
        "models": all_models,
        "split_domain": domain_name(0),
        "contract_domain": domain_name(1 % domains),
        "version_model": model_name(2 % domains, models_per_domain - 1),
        "hacked_sources": hacked,
    }

"""Ref/source rewriting (R1–R5).

Reference behavior (references.py:58-171): regex rewrites of
``{{ ref('m'[, v=N]) }}`` -> ``{{ ref('proj', 'm'[, v=N]) }}``, of
``dbt.ref(...)`` in Python models, of ``{{ source('s','t') }}`` -> cross-
project ref, and of YAML ``depends_on``/``model`` ref strings in exposures
and semantic models. Change stacking on already-edited files goes through
ChangeSet.latest_for (references.py:24-42).
"""

from __future__ import annotations

import re
from pathlib import Path

from dbt_meshify_spark.plans.changes import ChangeSet


def _ref_pattern(name: str) -> re.Pattern:
    # matches {{ ref('name') }} / {{ ref("name", v=2) }} with arbitrary spacing;
    # captures an optional version kwarg (reference references.py:64-78).
    return re.compile(
        r"{{\s*ref\s*\(\s*['\"]" + re.escape(name) + r"['\"]"
        r"(?P<version>\s*,\s*(?:v|version)\s*=\s*(?P<vnum>\d+))?\s*\)\s*}}"
    )


def _py_ref_pattern(name: str) -> re.Pattern:
    return re.compile(
        r"dbt\.ref\s*\(\s*['\"]" + re.escape(name) + r"['\"]\s*\)"
    )


def _source_pattern(source_name: str, table_name: str) -> re.Pattern:
    return re.compile(
        r"{{\s*source\s*\(\s*['\"]" + re.escape(source_name) + r"['\"]\s*,\s*['\"]"
        + re.escape(table_name) + r"['\"]\s*\)\s*}}"
    )


def _py_source_pattern(source_name: str, table_name: str) -> re.Pattern:
    return re.compile(
        r"dbt\.source\s*\(\s*['\"]" + re.escape(source_name) + r"['\"]\s*,\s*['\"]"
        + re.escape(table_name) + r"['\"]\s*\)"
    )


def rewrite_ref_sql(code: str, model_name: str, project_name: str) -> str:
    """R1: qualify ``ref('m')`` with the owning project, preserving any
    version kwarg (reference references.py:58-78)."""

    def sub(m: re.Match) -> str:
        version = m.group("version") or ""
        return "{{ ref('" + project_name + "', '" + model_name + "'" + version + ") }}"

    return _ref_pattern(model_name).sub(sub, code)


def rewrite_ref_python(code: str, model_name: str, project_name: str) -> str:
    """R2: ``dbt.ref('m')`` -> ``dbt.ref('proj', 'm')``
    (reference references.py:102-122)."""
    return _py_ref_pattern(model_name).sub(
        f'dbt.ref("{project_name}", "{model_name}")', code
    )


def rewrite_source_to_ref_sql(
    code: str, source_name: str, table_name: str, project_name: str, model_name: str
) -> str:
    """R3 (SQL): ``{{ source('s','t') }}`` -> cross-project ref
    (reference references.py:80-100)."""
    return _source_pattern(source_name, table_name).sub(
        "{{ ref('" + project_name + "', '" + model_name + "') }}", code
    )


def rewrite_source_to_ref_python(
    code: str, source_name: str, table_name: str, project_name: str, model_name: str
) -> str:
    """R3 (Python): ``dbt.source('s','t')`` -> ``dbt.ref('proj','model')``
    (reference references.py:124-148)."""
    return _py_source_pattern(source_name, table_name).sub(
        f'dbt.ref("{project_name}", "{model_name}")', code
    )


def rewrite_yaml_refs(doc: dict, model_name: str, project_name: str) -> dict:
    """R4: rewrite ref strings in exposure ``depends_on`` / semantic-model
    ``model`` fields (reference references.py:150-171)."""
    pat = _ref_pattern(model_name)

    def fix(value):
        if isinstance(value, str):
            return pat.sub(
                lambda m: "{{ ref('" + project_name + "', '" + model_name + "'"
                + (m.group("version") or "") + ") }}",
                value,
            )
        if isinstance(value, list):
            return [fix(v) for v in value]
        if isinstance(value, dict):
            return {k: fix(v) for k, v in value.items()}
        return value

    return fix(doc)


def stack_code_change(
    change_set: ChangeSet, path: Path, fallback_code: str
) -> str:
    """Start a rewrite from the latest pending edit of ``path`` if one
    exists, else from ``fallback_code`` (reference references.py:24-42 /
    linker.py:318-329 'get_latest_file_change')."""
    latest = change_set.latest_for(path)
    return latest.data if latest and isinstance(latest.data, str) else fallback_code

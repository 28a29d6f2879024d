"""Output checks. Every failed check marks its op failed (``fail_ratio``);
nothing is excluded."""

from __future__ import annotations

import functools
import os
import re
from pathlib import Path

from perfbench import datagen
from perfbench.harness import ROOT


@functools.lru_cache(maxsize=None)
def _canon():
    """The pandas-faithful canonicalizer of ``tests/oracle_utils.py``."""
    import importlib.util

    path = os.path.join(ROOT, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon_pdf


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in datagen.TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _compare(name: str, got, want) -> str | None:
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if g_cols != w_cols:
        return f"{name}: columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"{name}: {len(g_rows)} rows != {len(w_rows)}"
    for i, (a, b) in enumerate(zip(g_rows, w_rows)):
        if a != b:
            return f"{name}: row {i} differs: {a} != {b}"
    return None


# -- pipeline ---------------------------------------------------------------------


def check_minhash(pdf) -> str | None:
    """No oracle: non-empty, the declared (id_a, id_b, jaccard_est) schema,
    id_a < id_b and estimates within [0.5, 1]."""
    if list(pdf.columns) != ["id_a", "id_b", "jaccard_est"]:
        return f"ext_minhash_neardup: schema {list(pdf.columns)}"
    if pdf.empty:
        return "ext_minhash_neardup: no candidate pairs"
    if not (pdf.id_a < pdf.id_b).all():
        return "ext_minhash_neardup: id_a >= id_b"
    if not pdf.jaccard_est.between(0.5, 1.0).all():
        return "ext_minhash_neardup: jaccard_est outside [0.5, 1]"
    return None


def check_bpe_encode(pdf, docs) -> str | None:
    """No oracle: one row per document, (doc_id, n_bpe_tokens, head), and
    between 1 and n_chars tokens per document."""
    if list(pdf.columns) != ["doc_id", "n_bpe_tokens", "head"]:
        return f"ext_bpe_encode: schema {list(pdf.columns)}"
    if sorted(pdf.doc_id) != sorted(docs.doc_id):
        return "ext_bpe_encode: not exactly one row per document"
    n_chars = docs.set_index("doc_id").n_chars.reindex(pdf.doc_id).to_numpy()
    if not ((pdf.n_bpe_tokens >= 1) & (pdf.n_bpe_tokens.to_numpy() <= n_chars)).all():
        return "ext_bpe_encode: token count outside [1, n_chars]"
    return None


def check_pipeline(run, outputs: list[tuple[str, object]], sf_dir: str) -> None:
    """``outputs``: (query name, output) pairs, one per execution checked.
    An output is a collected pandas frame, a Spark DataFrame (collected
    here) or the exception the query raised. A wrong output fails every
    execution of the query."""
    from dbt_meshify_spark.queries import ORACLES

    canon = _canon()
    con = duck(sf_dir)
    want = {}
    for name, out in outputs:
        try:
            if isinstance(out, Exception):
                raise out
            pdf = out.toPandas() if hasattr(out, "toPandas") else out
            if name in ORACLES:
                if name not in want:
                    want[name] = canon(con.execute(ORACLES[name]).df())
                err = _compare(name, canon(pdf), want[name])
            elif name == "ext_bpe_encode":
                err = check_bpe_encode(pdf, con.execute("SELECT doc_id, n_chars FROM documents").df())
            else:
                err = check_minhash(pdf)
        except Exception as e:
            err = f"{name}: {type(e).__name__}: {e}"
        if err:
            run.fail(name, err)
    con.close()


# -- mesh_governance --------------------------------------------------------------


def _model_names(project) -> set[str]:
    return {r.name for r in project.manifest.models.values()}


def check_mesh(run, info: dict, done: list[dict]) -> None:
    import yaml
    from pyspark import SparkContext

    from dbt_meshify_spark.project.loader import SparkProject

    if SparkContext._active_spark_context is not None:
        for op in ("add-contract", "version", "split", "connect"):
            run.fail(op, "a --read-catalog command started Spark")
    original = set(info["models"])
    split_dom = info["split_domain"]
    for d in done:
        parent_root = Path(d["b"], "monolith")
        sub_root = parent_root / d["split_name"]
        try:
            parent = SparkProject.load(parent_root)
            sub = SparkProject.load(sub_root)
        except Exception as e:
            run.fail("split", f"split projects do not reload: {e}")
            continue
        p_names, s_names = _model_names(parent), _model_names(sub)
        if p_names & s_names or (p_names | s_names) != original:
            run.fail("split", "split projects do not hold exactly the original models")
        moved = {m for m in original if m.startswith(split_dom)}
        if s_names != moved:
            run.fail("split", "subproject does not hold exactly the split domain")
        single = re.compile(r"ref\(\s*'(%s_m\d+)'\s*\)" % re.escape(split_dom))
        for sql in (parent_root / "models").rglob("*.sql"):
            if single.search(sql.read_text()):
                run.fail("split", f"{sql.name} still refs a moved model by one argument")
                break
        cons = Path(d["a"], "consumer", "models")
        for sql in cons.rglob("*.sql"):
            if "source('monolith'" in sql.read_text():
                run.fail("connect", f"{sql.name} still reads a monolith source")
                break
        dom = info["contract_domain"]
        props = yaml.safe_load(
            Path(d["a"], "monolith", "models", dom, f"_{dom}__models.yml").read_text()
        )
        for m in props.get("models", []):
            if not ((m.get("config") or {}).get("contract") or {}).get("enforced"):
                run.fail("add-contract", f"{m['name']} has no enforced contract")
                break
        vm = info["version_model"]
        vdom = vm.split("_")[0]
        vprops = yaml.safe_load(
            Path(d["a"], "monolith", "models", vdom, f"_{vdom}__models.yml").read_text()
        )
        entry = {m["name"]: m for m in vprops.get("models", [])}.get(vm, {})
        if not entry.get("versions"):
            run.fail("version", f"{vm} has no versions")

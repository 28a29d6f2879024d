"""The four Spark-free governance commands write pinned bytes.

``operation add-contract -r``, ``version`` and ``connect`` run on one copy
of a generated monolith and its source-hack consumer, ``split
--read-catalog`` on another, in the order the ``mesh_governance`` benchmark
runs them. Each copy's tree (relative paths and file bytes) must hash to
a recorded digest, so a change to how models or property files are read,
edited or written cannot change a byte of output unnoticed.
``add-contract`` and ``connect`` must also be idempotent: a second run
leaves the tree as the first left it."""

from __future__ import annotations

import contextlib
import hashlib
import io
import shutil
from pathlib import Path

import pytest

from dbt_meshify_spark.cli import cli
from perfbench import meshgen

# seed -> (add-contract + version + connect tree, split tree)
PINNED = {
    1: (
        "0c2b0fc7f7f999c418795d33e0caa7181e5f7dc126de91a8d3308dd6f596ad72",
        "72a989d95c21421777386821e0ba2b8355c52eca20dbba8b5f506d32a7069333",
    ),
    2: (
        "5331f95ea2834cc87837f30473c520883c276d8687129be5f51b83fa94a35a5e",
        "0a4b414b0ef5dbaa40dc1be3fac79d248d9720dbc7d541e07e8c5a9b1a6bdde1",
    ),
    3: (
        "64e6ac317cf233b76d76b2a564cb88b19b4e53c3f439dfddbd835854f6976e91",
        "23299c58c2b4bb701c2ebd9982ad40647716660471f7f211812ff515acef8e30",
    ),
}


def _digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def _run(*args: str) -> None:
    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(args=list(args), prog_name="dbt-meshify-spark", standalone_mode=False)


def _add_contract(info: dict, root: Path) -> None:
    _run("operation", "add-contract", "-r", "-s", f"path:models/{info['contract_domain']}",
         "--project-path", str(root / "monolith"))


def _connect(root: Path) -> None:
    _run("connect", "--project-paths", str(root / "monolith"),
         "--project-paths", str(root / "consumer"))


@pytest.mark.parametrize("seed", sorted(PINNED))
def test_governance_output_trees_are_pinned(tmp_path, seed):
    src, a, b = tmp_path / "src", tmp_path / "a", tmp_path / "b"
    info = meshgen.generate(src, seed, 8, 15)
    shutil.copytree(src, a)
    shutil.copytree(src, b)
    _add_contract(info, a)
    _run("version", "-s", info["version_model"], "--project-path", str(a / "monolith"))
    _run("split", f"{info['split_domain']}_proj", "-s", f"+path:models/{info['split_domain']}",
         "--read-catalog", "--project-path", str(b / "monolith"))
    _connect(a)
    assert (_digest(a), _digest(b)) == PINNED[seed]


@pytest.mark.parametrize("seed", sorted(PINNED))
def test_add_contract_and_connect_are_idempotent(tmp_path, seed):
    src, once, twice = tmp_path / "src", tmp_path / "once", tmp_path / "twice"
    info = meshgen.generate(src, seed, 8, 15)
    shutil.copytree(src, once)
    shutil.copytree(src, twice)
    for step in (lambda root: _add_contract(info, root), _connect):
        step(once)
        step(twice)
        step(twice)
        assert _digest(once) == _digest(twice)

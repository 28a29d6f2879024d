"""Governance-plane tests (SURVEY.md §2.1–§2.2).

Golden expectations mirror the reference's unit tests:
- grouper classification: tests/unit/test_resource_grouper_classification.py:9-41
- ref rewrites: tests/unit/test_update_ref_functions.py
- dependency detection: tests/integration/test_dependency_detection.py:54-114
- YAML editing: tests/unit/test_resource_file_editor.py + sql_and_yml_fixtures.py
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

import pytest

from dbt_meshify_spark.plans import (
    Change,
    ChangeSet,
    ChangeSetProcessor,
    EntityType,
    Manifest,
    Operation,
    Resource,
)
from dbt_meshify_spark.plans import graph as G
from dbt_meshify_spark.plans import linker as L
from dbt_meshify_spark.plans import references as R
from dbt_meshify_spark.plans import versions as V
from dbt_meshify_spark.plans.changes import (
    ResourceFileEditor,
    merged,
    named_list_to_dict,
    read_yaml,
    write_yaml,
)
from dbt_meshify_spark.plans.contracts import (
    ContractViolation,
    enforce_contract,
    normalize_type,
)
from dbt_meshify_spark.plans.grouper import GroupingError, create_group
from dbt_meshify_spark.plans.jinja_blocks import find_block_span, find_doc_references


def _mk(uid: str, deps: list[str] | None = None, **kw) -> Resource:
    return Resource(
        unique_id=uid, name=uid.split(".")[-1], depends_on=deps or [], **kw
    )


@pytest.fixture()
def chain_manifest() -> Manifest:
    """a -> b -> {c, d}; d -> e (the reference classification fixture,
    test_resource_grouper_classification.py:9-27)."""
    return Manifest(
        [
            _mk("model.proj.a"),
            _mk("model.proj.b", ["model.proj.a"]),
            _mk("model.proj.c", ["model.proj.b"]),
            _mk("model.proj.d", ["model.proj.b"]),
            _mk("model.proj.e", ["model.proj.d"]),
        ]
    )


# ---------------------------------------------------------------------------
# Manifest basics
# ---------------------------------------------------------------------------


def test_unique_id_parsing():
    r = Resource(unique_id="model.jaffle.orders", name="orders")
    assert r.resource_type == "model"
    assert r.package == "jaffle"


def test_adjacency_maps(chain_manifest):
    assert chain_manifest.parent_map()["model.proj.b"] == ["model.proj.a"]
    assert chain_manifest.child_map()["model.proj.b"] == [
        "model.proj.c",
        "model.proj.d",
    ]
    assert ("model.proj.a", "model.proj.b") in chain_manifest.edges()


# ---------------------------------------------------------------------------
# G1 selection grammar
# ---------------------------------------------------------------------------


def test_select_bare_name(chain_manifest):
    assert G.select_resources(chain_manifest, "b") == {"model.proj.b"}


def test_select_ancestors_descendants(chain_manifest):
    assert G.select_resources(chain_manifest, "+b") == {
        "model.proj.a",
        "model.proj.b",
    }
    assert G.select_resources(chain_manifest, "b+") == {
        "model.proj.b",
        "model.proj.c",
        "model.proj.d",
        "model.proj.e",
    }
    assert G.select_resources(chain_manifest, "+b+") == {
        "model.proj.a",
        "model.proj.b",
        "model.proj.c",
        "model.proj.d",
        "model.proj.e",
    }


def test_select_depth_bounded(chain_manifest):
    assert G.select_resources(chain_manifest, "b+") != G.select_resources(
        chain_manifest, "b"
    )
    assert G.select_resources(chain_manifest, "1+e") == {
        "model.proj.d",
        "model.proj.e",
    }


def test_select_union_exclude_intersection(chain_manifest):
    assert G.select_resources(chain_manifest, ["a", "c"]) == {
        "model.proj.a",
        "model.proj.c",
    }
    assert G.select_resources(chain_manifest, "b+", exclude="e") == {
        "model.proj.b",
        "model.proj.c",
        "model.proj.d",
    }
    # intersection: descendants-of-b AND ancestors-of-e
    assert G.select_resources(chain_manifest, "b+,+e") == {
        "model.proj.b",
        "model.proj.d",
        "model.proj.e",
    }


def test_select_methods():
    m = Manifest(
        [
            _mk("model.proj.x", tags=["nightly"], path="models/staging/x.sql"),
            _mk("model.proj.y", config={"materialized": "table"}),
            _mk("source.proj.raw.t"),
        ]
    )
    assert G.select_resources(m, "tag:nightly") == {"model.proj.x"}
    assert G.select_resources(m, "path:models/staging") == {"model.proj.x"}
    assert G.select_resources(m, "config.materialized:table") == {"model.proj.y"}
    assert G.select_resources(m, "resource_type:source") == {"source.proj.raw.t"}


# ---------------------------------------------------------------------------
# G4–G8 boundary, access, cycles (reference golden:
# test_resource_grouper_classification.py:28-41)
# ---------------------------------------------------------------------------


def test_classification_golden(chain_manifest):
    selected = {"model.proj.a", "model.proj.b", "model.proj.c", "model.proj.d"}
    access = G.classify_access(chain_manifest, selected)
    # b feeds nothing outside? c is in set (leaf), d feeds e outside -> protected;
    # c is a leaf -> protected; a interior -> private; b interior -> private.
    assert access == {
        "model.proj.a": "private",
        "model.proj.b": "private",
        "model.proj.c": "protected",
        "model.proj.d": "protected",
    }


def test_test_nodes_excluded(chain_manifest):
    chain_manifest.add(_mk("test.proj.t_on_c", ["model.proj.c"]))
    selected = {"model.proj.a", "model.proj.b", "model.proj.c", "model.proj.d"}
    access = G.classify_access(chain_manifest, selected | {"test.proj.t_on_c"})
    assert "test.proj.t_on_c" not in access
    assert access["model.proj.c"] == "protected"


def test_project_cycle(chain_manifest):
    # {b} has parent a outside and children c,d outside => cycle
    assert G.is_project_cycle(chain_manifest, {"model.proj.b"})
    # {a, b} has no outside parents => no cycle
    assert not G.is_project_cycle(chain_manifest, {"model.proj.a", "model.proj.b"})


def test_closures():
    m = Manifest(
        [
            _mk("macro.proj.cents", []),
            _mk("macro.proj.helper", []),
            _mk("doc.proj.orders_doc"),
            _mk("group.proj.finance"),
            _mk(
                "model.proj.orders",
                ["macro.proj.cents"],
                raw_code="select {{ doc('orders_doc') }}",
                group="finance",
            ),
        ]
    )
    m.get("macro.proj.cents").depends_on = ["macro.proj.helper"]
    sel = {"model.proj.orders"}
    macros = G.macro_closure(m, sel, "proj")
    assert macros == {"macro.proj.cents", "macro.proj.helper"}
    assert G.docs_closure(m, sel) == {"doc.proj.orders_doc"}
    assert G.group_closure(m, sel) == {"group.proj.finance"}


# ---------------------------------------------------------------------------
# C1–C4: ChangeSet + YAML editing
# ---------------------------------------------------------------------------


def test_safe_update_none_deletes():
    doc = {"a": 1, "b": {"c": 2, "d": 3}}
    out = merged(doc, {"b": {"c": None, "e": 4}, "f": 5})
    assert out == {"a": 1, "b": {"d": 3, "e": 4}, "f": 5}


def test_named_list_round_trip():
    items = [
        {"name": "m1", "columns": [{"name": "id", "tests": ["unique"]}]},
        {"name": "m2"},
    ]
    d = named_list_to_dict(items)
    assert d["m1"]["columns"]["id"]["tests"] == ["unique"]


def test_resource_editor_contract_merge(tmp_path: Path):
    """Mirrors the reference contract golden (sql_and_yml_fixtures.py:71-195):
    merging a contract patch preserves other entries + existing keys."""
    p = tmp_path / "_models.yml"
    p.write_text(
        "version: 2\nmodels:\n  - name: shared_model\n    description: a model\n"
        "  - name: other\n"
    )
    editor = ResourceFileEditor(EntityType.Model)
    before = read_yaml(p)
    doc = editor.update(
        before,
        "shared_model",
        {
            "config": {"contract": {"enforced": True}},
            "columns": [{"name": "id", "data_type": "integer"}],
        },
    )
    assert before == read_yaml(p)  # a pure transform: input left as parsed
    write_yaml(p, doc)
    doc = read_yaml(p)
    entries = {e["name"]: e for e in doc["models"]}
    assert entries["shared_model"]["config"]["contract"]["enforced"] is True
    assert entries["shared_model"]["columns"] == [
        {"name": "id", "data_type": "integer"}
    ]
    assert entries["shared_model"]["description"] == "a model"
    assert "other" in entries
    # canonical ordering: name first, description before config
    keys = list(entries["shared_model"].keys())
    assert keys.index("name") == 0
    assert keys.index("description") < keys.index("config")


def test_resource_editor_source_table_nesting(tmp_path: Path):
    p = tmp_path / "_sources.yml"
    p.write_text(
        "version: 2\nsources:\n  - name: raw\n    tables:\n      - name: orders\n"
        "      - name: items\n"
    )
    editor = ResourceFileEditor(EntityType.Source)
    write_yaml(p, editor.remove(read_yaml(p), "raw.orders"))
    doc = read_yaml(p)
    assert doc["sources"][0]["tables"] == [{"name": "items"}]
    assert editor.remove(doc, "raw.items") is None
    cs = ChangeSet([Change(Operation.Remove, EntityType.Source, "raw.items", p)])
    ChangeSetProcessor(log=lambda _s: None).process([cs])
    assert not p.exists()  # delete-file-when-empty (file_content_editors.py:226-231)


def test_changeset_processor_dry_run(tmp_path: Path):
    logs: list[str] = []
    cs = ChangeSet()
    target = tmp_path / "new.sql"
    cs.add(
        Change(
            operation=Operation.Add,
            entity_type=EntityType.Code,
            identifier="new",
            path=target,
            data="select 1",
        )
    )
    ChangeSetProcessor(dry_run=True, log=logs.append).process([cs])
    assert not target.exists() and len(logs) == 1
    ChangeSetProcessor(log=logs.append).process([cs])
    assert target.read_text() == "select 1"


def test_changeset_move_and_latest_for(tmp_path: Path):
    src = tmp_path / "m.sql"
    src.write_text("select * from {{ ref('upstream') }}")
    cs = ChangeSet()
    cs.add(
        Change(
            operation=Operation.Update,
            entity_type=EntityType.Code,
            identifier="m",
            path=src,
            data="select * from {{ ref('other', 'upstream') }}",
        )
    )
    # stacking starts from the pending edit, not disk
    assert "other" in R.stack_code_change(cs, src, src.read_text())
    moved = tmp_path / "sub" / "m.sql"
    cs.add(
        Change(
            operation=Operation.Move,
            entity_type=EntityType.Code,
            identifier="m",
            path=moved,
            source=src,
        )
    )
    # apply only the move (second change) to check file ops work
    ChangeSetProcessor(log=lambda _s: None).process([cs])
    assert moved.exists() and not src.exists()


def _model_yml(path: Path, *names: str) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(
        "version: 2\nmodels:\n" + "".join(f"  - name: {n}\n" for n in names)
    )


def _access(path: Path, name: str, access: str = "public") -> Change:
    return Change(Operation.Update, EntityType.Model, name, path, {"access": access})


def _models_in(path: Path) -> dict:
    return {e["name"]: e for e in read_yaml(path)["models"]}


@pytest.mark.parametrize("op", ["move", "copy", "remove", "dir_copy"])
def test_processor_raw_change_sees_pending_resource_edit(tmp_path: Path, op: str):
    """A raw file or directory change that reads or replaces a property file
    runs after the in-memory edits of that file reach disk."""
    src = tmp_path / "models" / "_models.yml"
    _model_yml(src, "a", "b")
    dst = tmp_path / "out" / "_models.yml"
    raw = {
        "move": Change(Operation.Move, EntityType.Code, "_models", dst, source=src),
        "copy": Change(Operation.Copy, EntityType.Code, "_models", dst, source=src),
        "remove": Change(Operation.Remove, EntityType.Code, "_models", src),
        "dir_copy": Change(
            Operation.Copy, EntityType.Directory, "models", tmp_path / "out",
            source=tmp_path / "models",
        ),
    }[op]
    cs = ChangeSet([_access(src, "a"), raw])
    ChangeSetProcessor(log=lambda _s: None).process([cs])
    if op == "remove":
        assert not src.exists()  # not brought back by the final write
        return
    assert _models_in(dst)["a"]["access"] == "public"
    assert src.exists() == (op != "move")
    # a resource edit after the raw change starts from the file on disk
    cs = ChangeSet([_access(dst, "b", "private"), _access(dst, "a", "protected")])
    ChangeSetProcessor(log=lambda _s: None).process([cs])
    assert _models_in(dst)["a"]["access"] == "protected"
    assert _models_in(dst)["b"]["access"] == "private"


def test_processor_failure_leaves_earlier_changes_on_disk(tmp_path: Path):
    """A change that raises keeps every earlier change, in memory or not,
    and applies neither itself nor anything after it."""
    from dbt_meshify_spark.plans.changes import ChangeSetProcessorException

    one = tmp_path / "one.yml"
    two = tmp_path / "two.yml"
    one.write_text("models:\n  - name: a\n  - name: b\n  - name: c\n")
    _model_yml(two, "x")
    # the failing patch's column name is unhashable: the editor raises
    # after it has started on its copy of the document
    bad = Change(
        Operation.Update, EntityType.Model, "b", one,
        {"description": "never", "columns": [{"name": {"not": "hashable"}}]},
    )
    cs = ChangeSet([
        Change(Operation.Remove, EntityType.Model, "a", one),
        _access(two, "x"),
        _access(one, "c"),
        bad,
        _access(one, "b"),
        _access(two, "x", "private"),
    ])
    with pytest.raises(ChangeSetProcessorException) as exc:
        ChangeSetProcessor(log=lambda _s: None).process([cs])
    assert exc.value.change is bad
    assert one.read_text() == (
        "models:\n- name: b\n- name: c\n  access: public\nversion: 2\n"
    )
    assert _models_in(two) == {"x": {"name": "x", "access": "public"}}

    # a raw change that raises after in-memory edits: same rule
    ok = tmp_path / "ok.yml"
    _model_yml(ok, "m")
    cs = ChangeSet([
        _access(ok, "m"),
        Change(Operation.Copy, EntityType.Code, "missing", tmp_path / "x.sql",
               source=tmp_path / "missing.sql"),
        _access(ok, "m", "private"),
    ])
    with pytest.raises(ChangeSetProcessorException):
        ChangeSetProcessor(log=lambda _s: None).process([cs])
    assert _models_in(ok)["m"]["access"] == "public"


def _chain_and_reread(tmp_path: Path, text: str, changes: list) -> tuple[str, str]:
    """The file after processing ``changes`` in one call that starts from
    the loaded document, and after one call per change (re-reading the
    file each time)."""
    from dbt_meshify_spark.plans.changes import load_yaml

    out = []
    for run in ("chain", "reread"):
        path = tmp_path / run / "_models.yml"
        path.parent.mkdir(parents=True)
        path.write_text(text)
        moved = [
            Change(c.operation, c.entity_type, c.identifier, path, c.data) for c in changes
        ]
        processor = ChangeSetProcessor(log=lambda _s: None)
        if run == "chain":
            loaded = {path.resolve(): load_yaml(text)}
            processor.process([ChangeSet(moved)], loaded=loaded)
            assert loaded == {path.resolve(): load_yaml(text)}  # never mutated
        else:
            for c in moved:
                processor.process([ChangeSet([c])])
        out.append(path.read_text())
    return out[0], out[1]


def test_processor_renormalizes_what_a_reread_would_change(tmp_path: Path):
    """An entry a write and re-read would change again (a mapping that
    reads as a named list only once pruned) keeps changing between edits of
    its section, as re-reading the file between them makes it do."""
    meta = {"meta": {"x": {"name": "o"}, "e": {}}}
    patch = {"meta": {"o": {"email": "e"}}}
    text = "models:\n- name: a\n  meta: {x: {name: o}, e: {}}\n- name: b\n"
    chain, reread = _chain_and_reread(tmp_path / "keyed", text, [
        _access(Path(), "b"), _access(Path(), "b", "private"),
        Change(Operation.Update, EntityType.Model, "a", Path(), patch),
    ])
    assert chain == reread
    assert read_yaml(tmp_path / "keyed" / "chain" / "_models.yml")["models"][0]["meta"] == [
        {"name": "o", "email": "e"}
    ]
    chain, reread = _chain_and_reread(tmp_path / "edited", "models:\n- name: b\n", [
        _access(Path(), "b"), Change(Operation.Update, EntityType.Model, "a", Path(), meta),
        _access(Path(), "b", "private"), _access(Path(), "b"),
        Change(Operation.Update, EntityType.Model, "a", Path(), patch),
    ])
    assert chain == reread


def test_processor_never_mutates_a_loaded_source_table(tmp_path: Path):
    """A table patch merges into a copy, also when the loaded document
    keeps the source's tables as a mapping."""
    text = "sources:\n- name: s\n  tables: {t: {name: t, meta: {k: 1}}}\n"
    change = Change(Operation.Update, EntityType.Source, "s.t", Path(), {"meta": {"j": 2}})
    chain, reread = _chain_and_reread(tmp_path, text, [change, change])
    assert chain == reread


def test_patch_changes_only_its_entry_through_yaml_aliases(tmp_path: Path):
    """A contract patch on one model leaves another model whose config is
    an alias of the same anchored mapping as it was (it leaked into both
    while edits mutated a copy that kept the alias shared)."""
    p = tmp_path / "_models.yml"
    p.write_text(
        "version: 2\nmodels:\n- name: a\n  config: &base {materialized: view}\n"
        "- name: b\n  config: *base\n"
    )
    contract = {"config": {"contract": {"enforced": True}}}
    ChangeSetProcessor(log=lambda _s: None).process(
        [ChangeSet([Change(Operation.Update, EntityType.Model, "a", p, contract)])]
    )
    assert _models_in(p) == {
        "a": {"name": "a", "config": {"materialized": "view", "contract": {"enforced": True}}},
        "b": {"name": "b", "config": {"materialized": "view"}},
    }


def test_add_contract_parses_and_writes_property_file_once(tmp_path: Path, monkeypatch):
    """One command parses each of the project's YAML files exactly once,
    across the loader and the change-set processor, and writes the edited
    property file once."""
    import json

    from click.testing import CliRunner

    from dbt_meshify_spark.cli import cli
    from dbt_meshify_spark.plans import changes as C
    from dbt_meshify_spark.project import loader

    names = [f"m{i:02d}" for i in range(15)]
    (tmp_path / "dbt_project.yml").write_text("name: counted\nversion: '1.0'\n")
    for n in names:
        (tmp_path / "models").mkdir(exist_ok=True)
        (tmp_path / "models" / f"{n}.sql").write_text("select 1 as id")
    props = tmp_path / "models" / "_models.yml"
    _model_yml(props, *names)
    (tmp_path / "target").mkdir()
    (tmp_path / "target" / "catalog.json").write_text(json.dumps(
        {"nodes": {n: {"columns": {"id": "int"}} for n in names}}
    ))
    texts = [(tmp_path / "dbt_project.yml").read_text(), props.read_text()]
    parsed: list[str] = []
    writes: list[Path] = []
    load, write = C.load_yaml, C.write_yaml

    def counted_load(text):
        parsed.append(text)
        return load(text)

    monkeypatch.setattr(C, "load_yaml", counted_load)
    monkeypatch.setattr(loader, "load_yaml", counted_load)
    monkeypatch.setattr(C, "write_yaml", lambda p, d: writes.append(p) or write(p, d))
    res = CliRunner().invoke(cli, [
        "operation", "add-contract", "-r", "-s", "path:models",
        "--project-path", str(tmp_path),
    ])
    assert res.exit_code == 0, res.output
    assert sorted(parsed) == sorted(texts)
    assert [p.resolve() for p in writes] == [props.resolve()]
    models = _models_in(props)
    assert sorted(models) == names
    assert all(m["config"]["contract"]["enforced"] is True for m in models.values())


def _fixture_yamls() -> list[Path]:
    root = Path(__file__).parent / "fixtures"
    return sorted(list(root.rglob("*.yml")) + list(root.rglob("*.yaml")))


@pytest.mark.parametrize(
    "path", _fixture_yamls(), ids=lambda p: str(p.relative_to(Path(__file__).parent))
)
def test_yaml_codec_libyaml_matches_pure_python(path: Path):
    """The C classes the codec prefers and the pure-Python fallback load
    every fixture to equal objects and dump them to identical text."""
    import yaml

    from dbt_meshify_spark.plans.changes import WRITE_OPTIONS, YAML_DUMPER, YAML_LOADER

    assert (YAML_LOADER, YAML_DUMPER) == (yaml.CSafeLoader, yaml.CSafeDumper)
    text = path.read_text()
    fast = yaml.load(text, Loader=yaml.CSafeLoader)
    pure = yaml.load(text, Loader=yaml.SafeLoader)
    assert fast == pure
    assert yaml.dump(fast, Dumper=yaml.CSafeDumper, **WRITE_OPTIONS) == yaml.dump(
        pure, Dumper=yaml.SafeDumper, **WRITE_OPTIONS
    )


_NODE_TREE_DOCS = {
    "aliases": (
        "a: &m {k: [1, 2], s: x}\nb: *m\nc: &l [p, {q: r}]\nd: *l\n"
        "e: [*m, *l, &s shared, *s]\n"
    ),
    "merge_key": "base: &b {x: 1, y: 2}\nm:\n  <<: *b\n  y: 3\n",
    "value_key": "v:\n  =: 1\n  a: 2\n",
    "tags": "a: !!str 1\nb: !!int '2'\nc: !!set {x, y}\nd: !!omap [{k: 1}, {j: 2}]\n",
    "scalars": (
        "d: 2020-01-02\nts: 2020-01-02 03:04:05\nf: 1.5\ninf: .inf\nt: true\n"
        "F: no\nn: null\nn2: ~\nempty:\ni: 0x1f\ns: '1'\nu: \u00e9t\u00e9\n"
    ),
    "empty": "",
    "comment_only": "# nothing\n",
    "list_key": "? [a, b]\n: 1\n",
    "map_key": "? {a: 1}\n: 1\n",
    "recursive_seq": "&r [a, *r]\n",
    "recursive_map": "top: &r {name: x, self: *r}\n",
    "top_list": "- a\n- {b: [c, 1, null]}\n",
}


_NODE_TREE_DOCS.update(
    (str(p.relative_to(Path(__file__).parent)), p.read_text()) for p in _fixture_yamls()
)


@pytest.mark.parametrize("pure", [False, True], ids=["libyaml", "pure"])
@pytest.mark.parametrize("name", sorted(_NODE_TREE_DOCS))
def test_yaml_node_tree_load_matches_pyyaml(monkeypatch, name, pure):
    """load_yaml builds from libyaml's (or PyYAML's) node tree what
    yaml.load constructs: equal objects, identical dumps, the same aliased
    objects shared, and the same exception type for an unhashable key."""
    import yaml

    from dbt_meshify_spark.plans import changes

    text = _NODE_TREE_DOCS[name]
    if pure:
        monkeypatch.setattr(changes, "YAML_LOADER", yaml.SafeLoader)
    try:
        ref = yaml.load(text, Loader=yaml.SafeLoader)
    except yaml.YAMLError as e:
        with pytest.raises(type(e)):
            changes.load_yaml(text)
        return
    got = changes.load_yaml(text)
    assert changes.dump_yaml(got) == changes.dump_yaml(ref)
    if name.startswith("recursive"):
        # == recurses without end on self-containing objects
        inner = got[1] if name == "recursive_seq" else got["top"]["self"]
        assert inner is (got if name == "recursive_seq" else got["top"])
        return
    assert got == ref
    if name == "aliases":
        assert got["a"] is got["b"] and got["c"] is got["d"]
        assert got["e"][0] is got["a"] and got["e"][1] is got["c"]


def test_yaml_parse_and_dump_only_in_the_codec():
    """Only plans/changes.py chooses YAML classes: no other module calls
    yaml.safe_load/safe_dump/load/dump or imports them from yaml."""
    import ast

    import dbt_meshify_spark

    banned = {"safe_load", "safe_dump", "load", "dump"}
    pkg = Path(dbt_meshify_spark.__file__).parent
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        if f == pkg / "plans" / "changes.py":
            continue
        tree = ast.parse(f.read_text())
        aliases = {
            a.asname or a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.Import)
            for a in node.names
            if a.name == "yaml"
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "yaml":
                offenders += [
                    f"{f.name}:{node.lineno}" for a in node.names if a.name in banned
                ]
            elif (
                isinstance(node, ast.Attribute)
                and node.attr in banned
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
            ):
                offenders.append(f"{f.name}:{node.lineno}")
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# R1–R4 rewrites (reference tests/unit/test_update_ref_functions.py)
# ---------------------------------------------------------------------------


def test_rewrite_ref_sql_basic_and_versioned():
    code = "select * from {{ ref('orders') }} join {{ ref('orders', v=2) }}"
    out = R.rewrite_ref_sql(code, "orders", "core")
    assert out == (
        "select * from {{ ref('core', 'orders') }} "
        "join {{ ref('core', 'orders', v=2) }}"
    )


def test_rewrite_ref_leaves_other_models():
    code = "select * from {{ ref('customers') }}"
    assert R.rewrite_ref_sql(code, "orders", "core") == code


def test_rewrite_ref_python():
    code = "df = dbt.ref('orders')"
    assert R.rewrite_ref_python(code, "orders", "core") == (
        'df = dbt.ref("core", "orders")'
    )


def test_rewrite_source_to_ref():
    code = "select * from {{ source('raw', 'orders') }}"
    assert R.rewrite_source_to_ref_sql(code, "raw", "orders", "core", "orders") == (
        "select * from {{ ref('core', 'orders') }}"
    )
    py = "df = dbt.source('raw', 'orders')"
    assert R.rewrite_source_to_ref_python(py, "raw", "orders", "core", "orders") == (
        'df = dbt.ref("core", "orders")'
    )


def test_rewrite_yaml_refs():
    doc = {
        "exposures": [
            {"name": "dash", "depends_on": ["ref('orders')", "{{ ref('orders') }}"]}
        ]
    }
    out = R.rewrite_yaml_refs(doc, "orders", "core")
    assert out["exposures"][0]["depends_on"][1] == "{{ ref('core', 'orders') }}"


# ---------------------------------------------------------------------------
# V5–V7 versions (reference versioner.py:79-212 behaviors)
# ---------------------------------------------------------------------------


def test_add_version(tmp_path: Path):
    m = _mk("model.proj.orders", path="models/orders.sql")
    cs = V.add_version(m, tmp_path / "_models.yml", tmp_path)
    patch, move = cs.changes
    assert patch.data == {"latest_version": 1, "versions": [{"v": 1}]}
    assert move.operation == Operation.Move
    assert move.path.name == "orders_v1.sql"


def test_bump_version_behaviors(tmp_path: Path):
    m = _mk("model.proj.orders", path="models/orders_v2.sql")
    m.version, m.latest_version = 2, 2
    inc = V.bump_version(m, tmp_path / "y.yml", tmp_path, V.BumpBehavior.Increment)
    assert inc.changes[0].data["latest_version"] == 3
    assert inc.changes[0].data["versions"] == [{"v": 2}, {"v": 3}]
    assert inc.changes[1].operation == Operation.Copy
    assert inc.changes[1].path.name == "orders_v3.sql"
    pre = V.bump_version(m, tmp_path / "y.yml", tmp_path, V.BumpBehavior.Prerelease)
    assert pre.changes[0].data["latest_version"] == 2


def test_versioned_ref_resolution():
    assert V.resolve_versioned_relation("orders", 2, 3) == "orders_v2"
    assert V.resolve_versioned_relation("orders", None, 3) == "orders_v3"
    assert V.resolve_versioned_relation("orders", None, None) == "orders"


# ---------------------------------------------------------------------------
# Grouper V2–V3
# ---------------------------------------------------------------------------


def test_create_group(tmp_path: Path, chain_manifest):
    selected = {"model.proj.a", "model.proj.b", "model.proj.c", "model.proj.d"}
    cs = create_group(
        chain_manifest,
        "finance",
        {"name": "data team"},
        selected,
        tmp_path / "_groups.yml",
        patch_path_for=lambda r: tmp_path / "_models.yml",
    )
    ops = [(c.entity_type, c.identifier, (c.data or {}).get("access")) for c in cs]
    assert (EntityType.Group, "finance", None) == ops[0][:3]
    accesses = {ident: acc for et, ident, acc in ops[1:]}
    assert accesses == {"a": "private", "b": "private", "c": "protected", "d": "protected"}


def test_create_group_rejects_foreign_members(tmp_path: Path, chain_manifest):
    chain_manifest.get("model.proj.a").group = "other_team"
    with pytest.raises(GroupingError):
        create_group(
            chain_manifest,
            "finance",
            {},
            {"model.proj.a"},
            tmp_path / "g.yml",
            patch_path_for=lambda r: tmp_path / "m.yml",
        )


# ---------------------------------------------------------------------------
# L1–L3 linker (reference test_dependency_detection.py:54-114)
# ---------------------------------------------------------------------------


def _source_hack_pair() -> tuple[Manifest, Manifest]:
    a = Manifest(
        [
            _mk("model.src_proj_a.shared_model", relation_name="db.main.shared_model"),
            _mk("model.src_proj_a.new_model", relation_name="db.main.new_model"),
        ]
    )
    b = Manifest(
        [
            Resource(
                unique_id="source.src_proj_b.src_proj_a.shared_model",
                name="shared_model",
                resource_type="source",
                relation_name="db.main.SHARED_MODEL",  # case-insensitive match
                patch_path="models/_sources.yml",
            ),
            _mk(
                "model.src_proj_b.downstream_model",
                ["source.src_proj_b.src_proj_a.shared_model"],
                raw_code="select * from {{ source('src_proj_a', 'shared_model') }}",
                path="models/downstream_model.sql",
            ),
        ]
    )
    return a, b


def test_source_dependency_detection():
    a, b = _source_hack_pair()
    deps = L.dependencies(a, "src_proj_a", b, "src_proj_b")
    assert deps == {
        L.ProjectDependency(
            upstream_resource="model.src_proj_a.shared_model",
            upstream_project_name="src_proj_a",
            downstream_resource="source.src_proj_b.src_proj_a.shared_model",
            downstream_project_name="src_proj_b",
            type=L.DependencyType.Source,
        )
    }
    # symmetric call order finds the same dependency
    assert L.dependencies(b, "src_proj_b", a, "src_proj_a") == deps


def test_resolve_source_dependency(tmp_path: Path):
    a, b = _source_hack_pair()
    (dep,) = L.dependencies(a, "src_proj_a", b, "src_proj_b")
    cs = L.resolve_dependency(
        dep, a, b, tmp_path, upstream_patch_path=tmp_path / "up.yml"
    )
    kinds = [(c.operation, c.entity_type) for c in cs]
    # access patch, child code rewrite, source yml removal, dependencies.yml
    assert (Operation.Update, EntityType.Model) in kinds
    assert (Operation.Remove, EntityType.Source) in kinds
    assert (Operation.Append, EntityType.Project) in kinds
    code_change = next(c for c in cs if c.entity_type == EntityType.Code)
    assert "{{ ref('src_proj_a', 'shared_model') }}" in code_change.data


# ---------------------------------------------------------------------------
# C5 jinja blocks
# ---------------------------------------------------------------------------


def test_find_block_span():
    text = "-- header\n{% docs orders_doc %}\nThe orders table.\n{% enddocs %}\n"
    span = find_block_span(text, "docs", "orders_doc")
    assert span is not None
    s, e = span
    assert text[s:e].startswith("{% docs") and text[s:e].endswith("{% enddocs %}")


def test_find_macro_block_with_args():
    text = "{% macro cents_to_dollars(col, precision=2) %}x{% endmacro %}"
    assert find_block_span(text, "macro", "cents_to_dollars") == (0, len(text))


def test_find_doc_references():
    assert find_doc_references("a {{ doc('x') }} b {{doc(\"y.z\")}}") == {"x", "y.z"}


# ---------------------------------------------------------------------------
# V1 contracts (spark-backed)
# ---------------------------------------------------------------------------


def test_normalize_type():
    assert normalize_type("INTEGER") == "int"
    assert normalize_type("character varying") == "varchar"
    assert normalize_type("NUMERIC(16,2)") == "decimal(16,2)"


def test_enforce_contract(spark):
    df = spark.range(3).selectExpr("id as order_id", "cast(id as double) as total")
    enforce_contract(
        "m", df, [{"name": "order_id", "data_type": "bigint"}, {"name": "total", "data_type": "double"}]
    )
    with pytest.raises(ContractViolation):
        enforce_contract("m", df, [{"name": "order_id", "data_type": "bigint"}])
    with pytest.raises(ContractViolation):
        enforce_contract(
            "m",
            df,
            [
                {"name": "order_id", "data_type": "varchar"},
                {"name": "total", "data_type": "double"},
            ],
        )


# ---------------------------------------------------------------------------
# Scale path: DataFrame reachability
# ---------------------------------------------------------------------------


def test_reachable_frame(spark, chain_manifest):
    nodes, edges = chain_manifest.to_frames(spark)
    seeds = spark.createDataFrame([("model.proj.b",)], ["unique_id"])
    down = {
        r.unique_id
        for r in G.reachable_frame(edges, seeds, "downstream").collect()
    }
    assert down == {"model.proj.b", "model.proj.c", "model.proj.d", "model.proj.e"}
    up = {
        r.unique_id for r in G.reachable_frame(edges, seeds, "upstream").collect()
    }
    assert up == {"model.proj.a", "model.proj.b"}


def test_at_selector_includes_descendant_ancestors():
    # @b = b, its descendants (c), and ancestors of those (a via c? no — a->b->c, x->c)
    m = Manifest(
        [
            Resource(unique_id="model.p.a", name="a"),
            Resource(unique_id="model.p.b", name="b", depends_on=["model.p.a"]),
            Resource(unique_id="model.p.x", name="x"),
            Resource(
                unique_id="model.p.c", name="c",
                depends_on=["model.p.b", "model.p.x"],
            ),
        ]
    )
    out = G.select_resources(m, "@b")
    # b + descendant c + c's other ancestor x + b's own ancestry via closure
    assert out == {"model.p.b", "model.p.c", "model.p.x", "model.p.a"}


def test_boundary_frame_matches_driver_classification(spark):
    # same topology as the golden grouper test (reference
    # tests/unit/test_resource_grouper_classification.py:28-37)
    m = Manifest(
        [
            Resource(unique_id="model.p.a", name="a"),
            Resource(unique_id="model.p.b", name="b", depends_on=["model.p.a"]),
            Resource(unique_id="model.p.c", name="c", depends_on=["model.p.b"]),
            Resource(unique_id="model.p.d", name="d", depends_on=["model.p.b"]),
            Resource(unique_id="model.p.e", name="e", depends_on=["model.p.d"]),
        ]
    )
    selected = {"model.p.a", "model.p.b", "model.p.c", "model.p.d"}
    driver = G.classify_access(m, selected)
    nodes, edges = m.to_frames(spark)
    sel = nodes.filter(nodes.unique_id.isin(list(selected)))
    frame = {
        r.unique_id: r.access
        for r in G.boundary_frame(edges, sel).collect()
    }
    assert frame == driver


def test_reachable_frame_matches_driver_walk(spark):
    m = Manifest(
        [
            Resource(unique_id="model.p.a", name="a"),
            Resource(unique_id="model.p.b", name="b", depends_on=["model.p.a"]),
            Resource(unique_id="model.p.c", name="c", depends_on=["model.p.b"]),
            Resource(unique_id="model.p.d", name="d"),
        ]
    )
    nodes, edges = m.to_frames(spark)
    seeds = nodes.filter(nodes.unique_id == "model.p.a")
    down = {
        r.unique_id for r in G.reachable_frame(edges, seeds, "downstream").collect()
    }
    assert down == {"model.p.a", "model.p.b", "model.p.c"}


def test_boundary_frame_scales_past_driver_sizes(spark):
    """The frame path must classify a manifest far larger than what the
    driver-side networkx path is meant for, without collecting the graph."""
    import time

    n = 50_000
    nodes = spark.range(n).selectExpr("concat('model.p.m', id) as unique_id")
    # chain edges m{i} -> m{i+1}; every 100th node also fans out to m{i+50}
    edges = spark.range(n - 1).selectExpr(
        "concat('model.p.m', id) as src", "concat('model.p.m', id + 1) as dst"
    )
    sel = nodes.filter("cast(substr(unique_id, 10) as bigint) < 25000")
    t0 = time.perf_counter()
    out = G.boundary_frame(edges, sel)
    counts = {r["access"]: r["cnt"] for r in
              out.groupBy("access").agg(F.count("*").alias("cnt")).collect()}
    elapsed = time.perf_counter() - t0
    # exactly one boundary node (m24999 feeds m25000 outside the selection);
    # the rest of the 25k selection is private
    assert counts == {"protected": 1, "private": 24_999}
    assert elapsed < 60, f"frame classification too slow: {elapsed:.1f}s"


def test_exception_taxonomy_surface():
    # reference parity: dbt_meshify/exceptions.py (FileEditorException,
    # ModelFileNotFoundError, FatalMeshifyException) + processor wrapping
    # (change_set_processor.py:17-21)
    import click

    from dbt_meshify_spark import exceptions as X

    assert issubclass(X.ModelFileNotFoundError, X.FileEditorException)
    assert issubclass(X.FatalMeshifyException, click.ClickException)
    for name in X.__all__:
        assert isinstance(getattr(X, name), type)


def test_changeset_failure_wraps_cause(tmp_path):
    from dbt_meshify_spark.plans.changes import (
        Change,
        ChangeSet,
        ChangeSetProcessor,
        ChangeSetProcessorException,
        EntityType,
        Operation,
    )

    bad = Change(
        operation=Operation.Copy,
        entity_type=EntityType.Code,
        identifier="broken_copy",
        path=tmp_path / "out.sql",
        source=tmp_path / "does-not-exist.sql",
    )
    cs = ChangeSet([bad])
    with pytest.raises(ChangeSetProcessorException) as exc:
        ChangeSetProcessor(log=lambda m: None).process([cs])
    assert exc.value.change is bad
    assert isinstance(exc.value.exception, Exception)


def test_governance_sql_fixtures_agree_with_python_operators(spark):
    """Round 12: q_g7/q_g8/q_g10/q_g12/q_v7 expose governance semantics as
    shared-verbatim-SQL oracle queries. The SQL goldens must agree with the
    Python engine operators run on the EQUIVALENT Manifest fixture — this is
    the twin link that makes the driver's hash check meaningful for the
    governance plane (the oracle replays the same text, this test pins the
    text to the operators)."""
    from dbt_meshify_spark.plans import graph as G
    from dbt_meshify_spark.plans.manifest import Manifest, Resource
    from dbt_meshify_spark.plans.versions import resolve_versioned_relation
    from dbt_meshify_spark.queries.relational import QUERIES as REL

    # --- G7 + G8: the q_g7/q_g8 VALUES graph as a Manifest ---
    def model(uid, deps=()):
        return Resource(
            unique_id=f"model.p.{uid}", name=uid, resource_type="model",
            depends_on=[
                f"{'test' if d == 't1' else 'model'}.p.{d}" for d in deps
            ],
        )

    m = Manifest([
        model("a"), model("b", ["a"]), model("c", ["b"]),
        model("d", ["b", "x"]), model("e", ["d"]), model("x"),
        Resource(unique_id="test.p.t1", name="t1", resource_type="test",
                 depends_on=["model.p.b"]),
        Resource(unique_id="test.p.t2", name="t2", resource_type="test",
                 depends_on=["model.p.e"]),
    ])
    # the SQL fixture's extra edge t1 -> e (a test feeding a model) has no
    # Manifest analog (depends_on points upstream); it only widens split_e's
    # xp count in the SQL and changes no would_cycle output
    sel = {"model.p.b", "model.p.d"}
    g7 = {
        (r.unique_id, r.relation)
        for r in REL["q_g7_cross_project_edges"](spark, None).collect()
    }
    py_parents = {u.split(".")[-1] for u in G.xproj_parents(m, sel)}
    # xproj_children legitimately keeps test dependents (reference parity);
    # the q_g7 SQL fixture is test-free, so filter them for comparison only
    assert "test.p.t1" in G.xproj_children(m, sel)
    py_children = {
        u.split(".")[-1] for u in G.xproj_children(m, sel)
        if not u.startswith("test.")
    }
    assert g7 == {(p, "parent") for p in py_parents} | {
        (c, "child") for c in py_children
    }

    g8 = {r.sel_name: r.would_cycle for r in REL["q_g8_project_cycle"](spark, None).collect()}
    assert g8 == {
        "split_bd": G.is_project_cycle(m, sel | {"test.p.t1"}),
        "split_a": G.is_project_cycle(m, {"model.p.a"}),
        "split_e": G.is_project_cycle(m, {"model.p.e"}),
        "split_c": G.is_project_cycle(m, {"model.p.c"}),
    }
    # split_e: the ONLY cross-boundary child is the test t2 — a cycle per
    # the reference (test nodes count in the xproj sets); split_bd: the
    # SELECTED test t1 is subtracted, never a cross-boundary child
    assert g8 == {
        "split_bd": True, "split_a": False, "split_e": True, "split_c": False
    }

    # --- G10: two-level owned-macro closure ---
    m2 = Manifest([
        Resource(unique_id="model.proj.m1", name="m1", resource_type="model",
                 depends_on=["macro.proj.fmt", "macro.other.ext"]),
        Resource(unique_id="model.proj.m2", name="m2", resource_type="model",
                 depends_on=["macro.proj.helper"]),
        Resource(unique_id="macro.proj.fmt", name="fmt", resource_type="macro",
                 depends_on=["macro.proj.base"]),
        Resource(unique_id="macro.proj.base", name="base", resource_type="macro",
                 depends_on=["macro.proj.deepest"]),
        Resource(unique_id="macro.proj.helper", name="helper",
                 resource_type="macro", depends_on=["macro.other.ext2"]),
    ])
    py_g10 = G.macro_closure(m2, {"model.proj.m1", "model.proj.m2"}, "proj")
    sql_g10 = {r.macro_id for r in REL["q_g10_macro_closure"](spark, None).collect()}
    assert sql_g10 == py_g10 == {
        "macro.proj.fmt", "macro.proj.helper", "macro.proj.base"
    }

    # --- G12: group closure, NULL group ignored ---
    m3 = Manifest([
        Resource(unique_id="model.p.m1", name="m1", resource_type="model",
                 group="finance"),
        Resource(unique_id="model.p.m2", name="m2", resource_type="model"),
        Resource(unique_id="model.p.m3", name="m3", resource_type="model",
                 group="marketing"),
        Resource(unique_id="group.p.finance", name="finance",
                 resource_type="group"),
        Resource(unique_id="group.p.marketing", name="marketing",
                 resource_type="group"),
        Resource(unique_id="group.p.unused", name="unused",
                 resource_type="group"),
    ])
    py_g12 = G.group_closure(m3, {"model.p.m1", "model.p.m2"})
    sql_g12 = {r.unique_id for r in REL["q_g12_group_closure"](spark, None).collect()}
    assert sql_g12 == py_g12 == {"group.p.finance"}

    # --- L2: package-dependency detection (md5 gate + child expansion) ---
    from dbt_meshify_spark.plans.linker import package_dependencies

    dn = Manifest([
        Resource(unique_id="model.proj_a.shared_dim", name="shared_dim",
                 resource_type="model", package="proj_a",
                 relation_name="DB.MAIN.SHARED_DIM"),
        Resource(unique_id="model.proj_a.shared_util", name="shared_util",
                 resource_type="model", package="proj_a",
                 relation_name="db.main.shared_util"),
        Resource(unique_id="model.proj_c.third", name="third",
                 resource_type="model", package="proj_c",
                 relation_name="db.main.third"),
        Resource(unique_id="model.proj_b.orders", name="orders",
                 resource_type="model", package="proj_b",
                 relation_name="db.main.orders",
                 depends_on=["model.proj_a.shared_dim"]),
        Resource(unique_id="model.proj_b.revenue", name="revenue",
                 resource_type="model", package="proj_b",
                 relation_name="db.main.revenue",
                 depends_on=["model.proj_b.orders"]),
    ])
    up_a = Manifest([
        Resource(unique_id="model.proj_a.shared_dim", name="shared_dim",
                 resource_type="model", package="proj_a",
                 relation_name="db.main.shared_dim"),
        Resource(unique_id="model.proj_a.shared_util", name="shared_util",
                 resource_type="model", package="proj_a",
                 relation_name="db.main.shared_util"),
        Resource(unique_id="model.proj_a.internal", name="internal",
                 resource_type="model", package="proj_a",
                 relation_name="db.main.internal"),
    ])
    up_z = Manifest([
        Resource(unique_id="model.proj_z.shared_dim", name="shared_dim",
                 resource_type="model", package="proj_z",
                 relation_name="db.main.shared_dim"),
    ])
    sql_l2 = {
        (r.upstream_project, r.upstream_resource, r.downstream_resource)
        for r in REL["q_l2_package_dependencies"](spark, None).collect()
    }
    py_a = {
        ("proj_a", d.upstream_resource, d.downstream_resource)
        for d in package_dependencies(up_a, "proj_a", dn, "proj_b")
    }
    # proj_z shares a relation name but is NOT installed downstream — the
    # md5 gate must kill it on both engines
    assert package_dependencies(up_z, "proj_z", dn, "proj_b") == set()
    assert sql_l2 == py_a == {
        ("proj_a", "model.proj_a.shared_dim", "model.proj_b.orders")
    }
    # reference semantics pin (r13 review): shared = RELATION-NAME
    # intersection, not package ownership — an aliased downstream copy
    # stops matching, a cross-package relation collision starts matching,
    # and children are keyed by the UPSTREAM uid the installed package's
    # nodes keep in the downstream manifest (linker.py:124-198)
    dn2 = Manifest([
        Resource(unique_id="model.proj_a.shared_dim", name="shared_dim",
                 resource_type="model", package="proj_a",
                 relation_name="db.main.other_alias"),
        Resource(unique_id="model.proj_x.mirror", name="mirror",
                 resource_type="model", package="proj_x",
                 relation_name="DB.MAIN.INTERNAL"),
        Resource(unique_id="model.proj_b.rpt", name="rpt",
                 resource_type="model", package="proj_b",
                 relation_name="db.main.rpt",
                 depends_on=["model.proj_a.internal"]),
    ])
    deps2 = {
        (d.upstream_resource, d.downstream_resource)
        for d in package_dependencies(up_a, "proj_a", dn2, "proj_b")
    }
    assert deps2 == {("model.proj_a.internal", "model.proj_b.rpt")}

    # --- V7: versioned-ref resolution incl. prerelease pin ---
    rows = {r.ref_id: (r.resolved_version, r.relation)
            for r in REL["q_v7_version_resolution"](spark, None).collect()}
    for ref_id, requested in (("r1", None), ("r2", 1), ("r3", 3)):
        got_v, got_rel = rows[ref_id]
        want = resolve_versioned_relation("dim_customers", requested, 2)
        assert got_rel == want, (ref_id, got_rel, want)
        assert got_v == (requested if requested is not None else 2)
    assert rows["r4"] == (
        1, resolve_versioned_relation("fct_orders", None, 1)
    )

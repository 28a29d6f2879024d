"""Split composition + CLI tests.

Assertions mirror the reference's integration suite:
- tests/integration/test_split_command.py:23-57 (moved SQL gains x-proj ref
  strings, yml entries move, dependencies.yml appears)
- tests/integration/test_split_command.py:198-218 (cycle split aborts)
- tests/integration/test_contract_command.py:36-60 (contract YAML golden)
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
import yaml
from click.testing import CliRunner

from dbt_meshify_spark.cli import cli
from dbt_meshify_spark.plans.changes import ChangeSetProcessor
from dbt_meshify_spark.plans.splitter import (
    SplitError,
    SubprojectCreator,
    build_subproject,
)
from dbt_meshify_spark.project.loader import SparkProject

FIXTURE = Path(__file__).parent / "fixtures" / "tpch_proj"


@pytest.fixture()
def proj_dir(tmp_path):
    dst = tmp_path / "tpch_proj"
    shutil.copytree(FIXTURE, dst)
    return dst


def _quiet_process(changes):
    ChangeSetProcessor(log=lambda m: None).process([changes])


# -- subproject construction -------------------------------------------------


def test_build_subproject_closures(proj_dir):
    project = SparkProject.load(proj_dir)
    sub = build_subproject(project, "staging_proj", "+stg_orders")
    assert f"model.{project.name}.stg_orders" in sub.resources
    # ancestors closure pulled the source in
    assert any(u.startswith("source.") for u in sub.resources)
    # stg_orders feeds marts outside the selection -> boundary
    assert f"model.{project.name}.stg_orders" in sub.boundary_models
    assert sub.xproj_children_of_resources  # marts depend on the selection
    assert not sub.xproj_parents_of_resources


def test_build_subproject_empty_selection_raises(proj_dir):
    project = SparkProject.load(proj_dir)
    with pytest.raises(SplitError):
        build_subproject(project, "nope", "no_such_model")


def test_build_subproject_cycle_raises(proj_dir):
    # orders_mart (middle of the DAG) both reads from and feeds the
    # remainder -> cycle (reference test_split_command.py:198-218)
    project = SparkProject.load(proj_dir)
    with pytest.raises(SplitError):
        build_subproject(project, "cyclic", "orders_mart")


# -- split plan execution ----------------------------------------------------


def test_split_staging_end_to_end(proj_dir):
    project = SparkProject.load(proj_dir)
    sub = build_subproject(project, "staging_proj", "+stg_orders")
    _quiet_process(SubprojectCreator(sub).initialize())

    sub_root = proj_dir / "staging_proj"
    # scaffold + project file
    cfg = yaml.safe_load((sub_root / "dbt_project.yml").read_text())
    assert cfg["name"] == "staging_proj"
    # model file moved
    assert (sub_root / "models/staging/stg_orders.sql").exists()
    assert not (proj_dir / "models/staging/stg_orders.sql").exists()
    # children remaining in the parent now use a cross-project ref
    mart = (proj_dir / "models/marts/orders_mart.sql").read_text()
    assert "{{ ref('staging_proj', 'stg_orders') }}" in mart
    # boundary model got public access + an enforced contract in the moved yml
    props = yaml.safe_load(
        (sub_root / "models/staging/__models.yml").read_text()
    )
    entry = {m["name"]: m for m in props["models"]}["stg_orders"]
    assert entry["access"] == "public"
    assert entry["config"]["contract"]["enforced"] is True
    # parent property file no longer lists the moved model
    parent_props = yaml.safe_load(
        (proj_dir / "models/staging/__models.yml").read_text()
    )
    assert "stg_orders" not in {
        m["name"] for m in (parent_props or {}).get("models", [])
    }
    # source yml entry moved into the subproject
    sub_sources = yaml.safe_load(
        (sub_root / "models/staging/__sources.yml").read_text()
    )
    assert sub_sources["sources"]
    # the parent (downstream) project now declares the dependency
    deps = yaml.safe_load((proj_dir / "dependencies.yml").read_text())
    assert {"name": "staging_proj"} in deps["projects"]


def test_split_marts_rewrites_parent_refs(proj_dir):
    project = SparkProject.load(proj_dir)
    sub = build_subproject(project, "marts_proj", "customers_mart")
    _quiet_process(SubprojectCreator(sub).initialize())
    moved = (proj_dir / "marts_proj/models/marts/customers_mart.sql").read_text()
    # refs to models that stayed behind are project-qualified now
    assert "{{ ref('tpch_mart', 'stg_customers') }}" in moved
    # the subproject (downstream) declares its dependency on the parent
    deps = yaml.safe_load((proj_dir / "marts_proj/dependencies.yml").read_text())
    assert {"name": "tpch_mart"} in deps["projects"]
    # parents the moved model reads became public + contracted in the parent
    parent_props = yaml.safe_load(
        (proj_dir / "models/staging/__models.yml").read_text()
    )
    stg = {m["name"]: m for m in parent_props["models"]}["stg_customers"]
    assert stg["access"] == "public"
    assert stg["config"]["contract"]["enforced"] is True


def test_split_copies_used_macros(proj_dir):
    # stg_orders calls the project-owned cents_to_dollars macro
    project = SparkProject.load(proj_dir)
    sub = build_subproject(project, "staging_proj", "+stg_orders")
    assert any(u.startswith("macro.") for u in sub.custom_macros)
    _quiet_process(SubprojectCreator(sub).initialize())
    macro_file = proj_dir / "staging_proj/macros/cents_to_dollars.sql"
    assert macro_file.exists()
    assert "{% macro cents_to_dollars" in macro_file.read_text()


# -- CLI ---------------------------------------------------------------------


def test_cli_split_dry_run_leaves_disk_untouched(proj_dir):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["--dry-run", "split", "staging_proj", "--select", "+stg_orders",
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    assert not (proj_dir / "staging_proj").exists()
    assert "stg_orders" in result.output


def test_cli_split_cycle_fails_cleanly(proj_dir):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["split", "cyclic", "--select", "orders_mart",
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code != 0
    assert "cycle" in result.output.lower()


def test_cli_version_add_then_bump(proj_dir):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["operation", "add-version", "--select", "status_names",
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    assert (proj_dir / "models/marts/status_names_v1.sql").exists()
    assert not (proj_dir / "models/marts/status_names.sql").exists()
    props = yaml.safe_load((proj_dir / "models/marts/__models.yml").read_text())
    entry = {m["name"]: m for m in props["models"]}["status_names"]
    assert entry["latest_version"] == 1
    assert entry["versions"] == [{"v": 1}]

    # reference default is PRERELEASE: new version exists, latest stays
    # (reference main.py:397-402, versioner.py:168-174)
    result = runner.invoke(
        cli,
        ["operation", "bump-version", "--select", "status_names",
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    assert (proj_dir / "models/marts/status_names_v2.sql").exists()
    props = yaml.safe_load((proj_dir / "models/marts/__models.yml").read_text())
    entry = {m["name"]: m for m in props["models"]}["status_names"]
    assert entry["latest_version"] == 1
    assert entry["versions"] == [{"v": 1}, {"v": 2}]

    # --latest pins latest_version to the new version; --defined-in names
    # the file and rides the version entry
    result = runner.invoke(
        cli,
        ["operation", "bump-version", "--select", "status_names",
         "--latest", "--defined-in", "status_names_next",
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    assert (proj_dir / "models/marts/status_names_next.sql").exists()
    props = yaml.safe_load((proj_dir / "models/marts/__models.yml").read_text())
    entry = {m["name"]: m for m in props["models"]}["status_names"]
    assert entry["latest_version"] == 3
    assert entry["versions"][-1] == {"v": 3, "defined_in": "status_names_next"}

    # --latest and --increment are mutually exclusive (reference
    # main.py:393-396)
    result = runner.invoke(
        cli,
        ["operation", "bump-version", "--select", "status_names",
         "--latest", "--increment", "--project-path", str(proj_dir)],
    )
    assert result.exit_code != 0
    assert "Cannot specify both" in result.output


def test_cli_create_group(proj_dir):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["operation", "create-group", "staging", "--select", "+stg_customers",
         "--owner-name", "data-eng", "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    groups = yaml.safe_load((proj_dir / "models/_groups.yml").read_text())
    entry = {g["name"]: g for g in groups["groups"]}["staging"]
    assert entry["owner"] == {"name": "data-eng"}
    props = yaml.safe_load((proj_dir / "models/staging/__models.yml").read_text())
    stg = {m["name"]: m for m in props["models"]}["stg_customers"]
    assert stg["group"] == "staging"
    assert stg["access"] in ("protected", "private")


def test_cli_group_trailing_tuple_select(proj_dir):
    # Reference parity: `group NAME -s a b c` — dbt-style MultiOption eats
    # the trailing run of non-flag tokens (reference main.py:632 uses
    # TupleCompatibleCommand + dbt's MultiOption; cli.py:64-71).
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["group", "trio", "--owner-name", "data-eng",
         "--project-path", str(proj_dir),
         "-s", "stg_customers", "stg_orders", "stg_lineitems"],
    )
    assert result.exit_code == 0, result.output
    groups = yaml.safe_load((proj_dir / "models/_groups.yml").read_text())
    assert "trio" in {g["name"] for g in groups["groups"]}
    props = yaml.safe_load(
        (proj_dir / "models/staging/__models.yml").read_text()
    )
    by_name = {m["name"]: m for m in props["models"]}
    for name in ("stg_customers", "stg_orders", "stg_lineitems"):
        assert by_name[name]["group"] == "trio", by_name[name]


def test_cli_create_group_trailing_tuple_select(proj_dir):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["operation", "create-group", "duo", "--owner-email", "de@example.com",
         "--project-path", str(proj_dir),
         "-s", "stg_customers", "stg_orders"],
    )
    assert result.exit_code == 0, result.output
    props = yaml.safe_load(
        (proj_dir / "models/staging/__models.yml").read_text()
    )
    by_name = {m["name"]: m for m in props["models"]}
    assert by_name["stg_customers"]["group"] == "duo"
    assert by_name["stg_orders"]["group"] == "duo"
    assert "group" not in by_name.get("stg_lineitems", {}), "greedy option ate too much"


# -- connect -----------------------------------------------------------------


@pytest.fixture()
def source_hack_pair(tmp_path):
    """Two projects wired by the source hack (reference
    test-projects/source-hack/src_proj_{a,b})."""
    a = tmp_path / "proj_a"
    (a / "models").mkdir(parents=True)
    (a / "dbt_project.yml").write_text("name: proj_a\nmodel-paths: ['models']\n")
    (a / "models/shared_model.sql").write_text(
        "select 1 as id, 'grace' as colleague\n"
    )
    b = tmp_path / "proj_b"
    (b / "models").mkdir(parents=True)
    (b / "dbt_project.yml").write_text("name: proj_b\nmodel-paths: ['models']\n")
    (b / "models/__sources.yml").write_text(
        "version: 2\n"
        "sources:\n"
        "  - name: proj_a\n"
        "    tables:\n"
        "      - name: shared_model\n"
        "        identifier: SHARED_MODEL\n"
    )
    (b / "models/downstream_model.sql").write_text(
        "select * from {{ source('proj_a', 'shared_model') }} where colleague = 'grace'\n"
    )
    return a, b


def test_cli_connect_source_hack(source_hack_pair):
    a, b = source_hack_pair
    runner = CliRunner()
    result = runner.invoke(
        cli, ["connect", "--project-paths", str(a), "--project-paths", str(b)]
    )
    assert result.exit_code == 0, result.output
    # downstream model now uses an explicit cross-project ref (R3)
    code = (b / "models/downstream_model.sql").read_text()
    assert "{{ ref('proj_a', 'shared_model') }}" in code
    assert "source(" not in code
    # the hacked source entry is gone; file deleted when empty (C3)
    assert not (b / "models/__sources.yml").exists()
    # downstream project declares the dependency
    deps = yaml.safe_load((b / "dependencies.yml").read_text())
    assert {"name": "proj_a"} in deps["projects"]
    # upstream model is now public
    props = yaml.safe_load((a / "models/_models.yml").read_text())
    entry = {m["name"]: m for m in props["models"]}["shared_model"]
    assert entry["access"] == "public"


def test_cli_docs_then_split_read_catalog(proj_dir):
    runner = CliRunner()
    result = runner.invoke(cli, ["docs", "--project-path", str(proj_dir)])
    assert result.exit_code == 0, result.output
    cat = proj_dir / "target/catalog.json"
    assert cat.exists()
    import json

    nodes = json.loads(cat.read_text())["nodes"]
    assert nodes["orders_mart"]["columns"]["order_id"] == "bigint"

    # split with --read-catalog must not need a Spark session for contracts
    result = runner.invoke(
        cli,
        ["split", "staging_proj", "--select", "+stg_orders", "--read-catalog",
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    props = yaml.safe_load(
        (proj_dir / "staging_proj/models/staging/__models.yml").read_text()
    )
    entry = {m["name"]: m for m in props["models"]}["stg_orders"]
    cols = {c["name"]: c.get("data_type") for c in entry["columns"]}
    assert cols.get("order_id") == "bigint"


def _tree(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*"))
        if p.is_file() and "target" not in p.relative_to(root).parts
    }


def test_contracts_come_from_one_schema_source(spark, tmp_path):
    """`docs` + `add-contract --read-catalog` writes the same property
    files as a live `add-contract`, and `group` contracts its protected
    models with the same entries `add-contract` writes."""
    runner = CliRunner()
    trees = {}
    for name in ("cached", "live", "group"):
        trees[name] = tmp_path / name
        shutil.copytree(FIXTURE, trees[name])
    add = ["operation", "add-contract", "-s", "path:models/staging"]

    def ok(args):
        result = runner.invoke(cli, args)
        assert result.exit_code == 0, result.output

    ok(["docs", "--project-path", str(trees["cached"])])
    ok(add + ["--read-catalog", "--project-path", str(trees["cached"])])
    ok(add + ["--project-path", str(trees["live"])])
    assert _tree(trees["cached"]) == _tree(trees["live"]) != _tree(FIXTURE)

    ok(["group", "staging", "-s", "path:models/staging", "--owner-name", "x",
        "--project-path", str(trees["group"])])

    def contracts(root):
        props = yaml.safe_load((root / "models/staging/__models.yml").read_text())
        return {
            m["name"]: (m["config"]["contract"], m["columns"])
            for m in props["models"]
            if "contract" in m.get("config", {})
        }

    grouped, added = contracts(trees["group"]), contracts(trees["live"])
    assert grouped and grouped == {name: added[name] for name in grouped}


def test_cli_ls_and_state_modified(proj_dir):
    runner = CliRunner()
    out = runner.invoke(
        cli, ["ls", "--select", "+orders_mart", "--project-path", str(proj_dir)]
    )
    assert out.exit_code == 0, out.output
    assert "model.tpch_mart.orders_mart" in out.output
    assert "model.tpch_mart.stg_orders" in out.output

    # write a state artifact, then modify one model; state:modified+ must
    # select exactly that model and its downstream closure
    from dbt_meshify_spark.project.loader import SparkProject

    project = SparkProject.load(proj_dir)
    art = proj_dir / "target/manifest.json"
    project.manifest.write_artifact(art)
    stg = proj_dir / "models/staging/stg_customers.sql"
    stg.write_text(stg.read_text() + "\n-- touched\n")
    out = runner.invoke(
        cli,
        ["ls", "--select", "state:modified+", "--project-path", str(proj_dir),
         "--state", str(art), "--resource-type", "model"],
    )
    assert out.exit_code == 0, out.output
    listed = set(out.output.split())
    assert "model.tpch_mart.stg_customers" in listed
    assert "model.tpch_mart.customers_mart" in listed  # downstream
    assert "model.tpch_mart.stg_orders" not in listed  # untouched

    # without --state the selector must fail loudly
    out = runner.invoke(
        cli, ["ls", "--select", "state:modified", "--project-path", str(proj_dir)]
    )
    assert out.exit_code != 0


# -- named YAML selectors (--selector) ---------------------------------------


SELECTORS_YML = """
selectors:
  - name: staging_plus
    definition: "+stg_orders"
  - name: orders_atom
    definition:
      method: fqn
      value: stg_orders
      parents: true
  - name: staging_no_lineitems
    definition:
      union:
        - method: path
          value: models/staging
        - exclude:
            - method: fqn
              value: stg_lineitems
  - name: both_ways
    default: true
    definition:
      intersection:
        - "+orders_mart"
        - method: path
          value: models/staging
"""


@pytest.fixture()
def proj_with_selectors(proj_dir):
    (proj_dir / "selectors.yml").write_text(SELECTORS_YML)
    return proj_dir


def test_load_selectors_and_default(proj_with_selectors):
    from dbt_meshify_spark.plans.selectors import load_selectors

    sels = load_selectors(proj_with_selectors)
    assert set(sels) == {
        "staging_plus", "orders_atom", "staging_no_lineitems", "both_ways",
        "__default__",
    }
    assert sels["__default__"] == "both_ways"


def test_selector_string_matches_select(proj_with_selectors):
    from dbt_meshify_spark.plans.graph import select_resources
    from dbt_meshify_spark.plans.selectors import evaluate_selector, load_selectors

    project = SparkProject.load(proj_with_selectors)
    sels = load_selectors(proj_with_selectors)
    # a string definition is plain selection syntax; dict atom with
    # parents: true is the "+name" spelling of the same thing
    want = select_resources(project.manifest, "+stg_orders")
    assert evaluate_selector(project.manifest, "staging_plus", sels) == want
    assert evaluate_selector(project.manifest, "orders_atom", sels) == want


def test_selector_union_exclude(proj_with_selectors):
    from dbt_meshify_spark.plans.selectors import evaluate_selector, load_selectors

    project = SparkProject.load(proj_with_selectors)
    sels = load_selectors(proj_with_selectors)
    got = evaluate_selector(project.manifest, "staging_no_lineitems", sels)
    names = {u.split(".")[-1] for u in got if u.startswith("model.")}
    assert "stg_orders" in names and "stg_customers" in names
    assert "stg_lineitems" not in names


def test_selector_intersection(proj_with_selectors):
    from dbt_meshify_spark.plans.selectors import evaluate_selector, load_selectors

    project = SparkProject.load(proj_with_selectors)
    sels = load_selectors(proj_with_selectors)
    from dbt_meshify_spark.plans.graph import select_resources

    got = evaluate_selector(project.manifest, "both_ways", sels)
    # ancestors of orders_mart that live under models/staging
    want = select_resources(
        project.manifest, "+orders_mart"
    ) & select_resources(project.manifest, "path:models/staging")
    assert got == want
    names = {u.split(".")[-1] for u in got if u.startswith("model.")}
    assert "stg_orders" in names
    assert "orders_mart" not in names


def test_unknown_selector_raises(proj_with_selectors):
    from dbt_meshify_spark.plans.selectors import SelectorError, evaluate_selector

    project = SparkProject.load(proj_with_selectors)
    with pytest.raises(SelectorError):
        evaluate_selector(project.manifest, "nope", {})


def test_split_via_named_selector_cli(proj_with_selectors):
    # reference parity: every command takes --selector and resolves it like
    # dbt ls (reference cli.py:74-80, dbt_projects.py:351-376)
    runner = CliRunner()
    result = runner.invoke(
        cli,
        [
            "split", "staging_proj",
            "--selector", "staging_plus",
            "--project-path", str(proj_with_selectors),
            "--read-catalog",
        ],
    )
    assert result.exit_code == 0, result.output
    sub_root = proj_with_selectors / "staging_proj"
    assert (sub_root / "dbt_project.yml").exists()
    assert (sub_root / "models" / "staging" / "stg_orders.sql").exists()


def test_ls_selector_and_select_required(proj_with_selectors):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["ls", "--selector", "staging_no_lineitems",
         "--project-path", str(proj_with_selectors)],
    )
    assert result.exit_code == 0, result.output
    assert "stg_orders" in result.output
    assert "stg_lineitems" not in result.output
    # governance commands demand an explicit selection
    result = runner.invoke(
        cli, ["operation", "add-contract", "--project-path", str(proj_with_selectors)]
    )
    assert result.exit_code != 0
    assert "--select/--selector" in result.output


def test_create_group_owner_properties(proj_dir):
    # reference main.py:612: --owner-properties YAML merges into the Owner
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["operation", "create-group", "finance", "--select", "status_names",
         "--owner-name", "Data Team",
         "--owner-properties", '{"slack": "#data-team"}',
         "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    groups = yaml.safe_load((proj_dir / "models/_groups.yml").read_text())
    g = {x["name"]: x for x in groups["groups"]}["finance"]
    assert g["owner"]["name"] == "Data Team"
    assert g["owner"]["slack"] == "#data-team"


def test_add_contract_read_catalog_no_spark(proj_dir):
    # write a catalog artifact by hand, then add-contract must trust it
    # (reference main.py:268-316 + --read-catalog) without a Spark session
    import json

    target = proj_dir / "target"
    target.mkdir(exist_ok=True)
    (target / "catalog.json").write_text(json.dumps({
        "nodes": {"status_names": {"columns": {"status": "string",
                                               "status_name": "string"}}}
    }))
    runner = CliRunner()
    result = runner.invoke(
        cli,
        ["operation", "add-contract", "--select", "status_names",
         "--read-catalog", "--project-path", str(proj_dir)],
    )
    assert result.exit_code == 0, result.output
    props = yaml.safe_load((proj_dir / "models/marts/__models.yml").read_text())
    entry = {m["name"]: m for m in props["models"]}["status_names"]
    assert entry["config"]["contract"]["enforced"] is True
    assert {c["name"] for c in entry["columns"]} == {"status", "status_name"}


def test_cli_explain_audits_plan(spark):
    """`meshify explain <query>` prints the physical-plan audit (shuffle /
    broadcast / pushdown counts) for any declared corpus query."""
    from tests.conftest import SF_SMOKE

    runner = CliRunner()
    result = runner.invoke(
        cli, ["explain", "q03_filters", "--sf-dir", SF_SMOKE]
    )
    assert result.exit_code == 0, result.output
    assert "scans with pushed filters: 1" in result.output
    assert "row-at-a-time python (BAD): 0" in result.output

    bad = runner.invoke(cli, ["explain", "not_a_query"])
    assert bad.exit_code != 0 and "unknown query" in bad.output


_BUILD_LINES = [
    "status_labels: ok",
    "stg_orders: ok",
    "stg_lineitems: ok",
    "stg_customers: ok",
    "order_items_summary: ok",
    "orders_mart: ok",
    "customers_mart: ok",
    "order_gaps: ok",
    "status_names: ok",
    "unique_status_labels_status: PASS",
    "not_null_status_labels_status: PASS",
    "unique_stg_orders_order_id: PASS",
    "not_null_stg_orders_order_id: PASS",
    "accepted_values_stg_orders_status: PASS",
    "not_null_stg_lineitems_order_id: PASS",
    "relationships_stg_lineitems_order_id: PASS",
    "unique_stg_customers_customer_id: PASS",
    "unique_order_items_summary_order_id: PASS",
    "not_null_order_items_summary_order_id: PASS",
    "expression_is_true_orders_mart: PASS",
    "unique_orders_mart_order_id: PASS",
    "positive_total_customers_mart_lifetime_value: PASS",
]


def test_cli_build_and_unit_test_print_results(spark, proj_dir, tmp_path):
    """`build` and `unit-test` print one status line per model and one
    PASS/FAIL line per test, and exit nonzero naming the failure count."""
    runner = CliRunner()
    build = ["build", "--project-path", str(proj_dir)]
    unit = ["unit-test", "--project-path", str(proj_dir)]

    result = runner.invoke(cli, build + ["--warehouse-dir", str(tmp_path / "wh1")])
    assert (result.exit_code, result.output.splitlines()) == (0, _BUILD_LINES)
    result = runner.invoke(cli, unit)
    assert (result.exit_code, result.output) == (
        0, "orders_mart_join_fills_missing_items: PASS\n"
    )

    # sabotage one seed test and one unit-test expectation
    with open(proj_dir / "seeds/status_labels.csv", "a") as f:
        f.write("P,Pending,4\n")
    marts = proj_dir / "models/marts/__models.yml"
    marts.write_text(marts.read_text().replace(
        "{order_id: 2, count_items: 0,", "{order_id: 2, count_items: 99,"
    ))
    result = runner.invoke(cli, build + ["--warehouse-dir", str(tmp_path / "wh2")])
    swap = {
        "status_names: ok": "status_names: skipped (upstream failure)",
        "unique_status_labels_status: PASS": "unique_status_labels_status: FAIL (1)",
    }
    assert (result.exit_code, result.output.splitlines()) == (
        1, [swap.get(line, line) for line in _BUILD_LINES] + ["Error: 2 step(s) failed"]
    )
    result = runner.invoke(cli, unit)
    assert (result.exit_code, result.output) == (
        1,
        "orders_mart_join_fills_missing_items: FAIL (2)\n"
        "Error: 1 unit test(s) failed\n",
    )


def test_cli_connect_projects_dir_discovery(source_hack_pair, tmp_path):
    """--projects-dir discovers every dbt_project.yml below it (skipping
    dbt_packages/site-packages) and --exclude-projects filters by NAME
    (reference main.py:153-168)."""
    a, b = source_hack_pair
    # a decoy inside dbt_packages must NOT be discovered
    decoy = tmp_path / "proj_b" / "dbt_packages" / "dep"
    decoy.mkdir(parents=True)
    (decoy / "dbt_project.yml").write_text("name: decoy\n")
    runner = CliRunner()
    result = runner.invoke(cli, ["connect", "--projects-dir", str(tmp_path)])
    assert result.exit_code == 0, result.output
    code = (b / "models/downstream_model.sql").read_text()
    assert "{{ ref('proj_a', 'shared_model') }}" in code


def test_cli_connect_projects_dir_excludes_and_validates(source_hack_pair, tmp_path):
    runner = CliRunner()
    # excluding one of the two projects leaves <2 -> hard error
    result = runner.invoke(
        cli,
        ["connect", "--projects-dir", str(tmp_path), "--exclude-projects", "proj_b"],
    )
    assert result.exit_code != 0
    assert "2+ projects" in result.output
    # both option families together is a usage error (reference main.py:132-135)
    a, _ = source_hack_pair
    result = runner.invoke(
        cli,
        ["connect", "--projects-dir", str(tmp_path), "--project-paths", str(a)],
    )
    assert result.exit_code != 0


def test_cli_dataset_card(tmp_path):
    runner = CliRunner()
    out = tmp_path / "card.md"
    result = runner.invoke(
        cli,
        ["dataset-card", "--sf-dir", "/root/testdata/sf0.001", "--out", str(out)],
    )
    assert result.exit_code == 0, result.output
    card = out.read_text()
    for section in [
        "# Dataset card",
        "exact-duplicate rate",
        "quality score p10/p50/p90",
        "## Composition by language",
        "## Document length (chars), per source",
        "## Training-data build (flagship composition) — stage timings",
        "curate (normalize → lang-ID → quality → dedup → decontam)",
        "budget fill (60k chars) + shard assignment",
    ]:
        assert section in card
    assert "| en |" in card  # dominant language present


def test_cli_lineage_dot_and_cross_project_edges(source_hack_pair):
    a, b = source_hack_pair
    runner = CliRunner()
    # connect first so proj_b refs proj_a explicitly
    result = runner.invoke(
        cli, ["connect", "--project-paths", str(a), "--project-paths", str(b)]
    )
    assert result.exit_code == 0, result.output
    result = runner.invoke(
        cli,
        ["lineage", "--project-paths", str(a), "--project-paths", str(b)],
    )
    assert result.exit_code == 0, result.output
    dot = result.output
    assert dot.startswith("digraph mesh")
    assert 'label="proj_a"' in dot and 'label="proj_b"' in dot
    # the cross-project ref edge renders dashed
    assert (
        '"model.proj_a.shared_model" -> "model.proj_b.downstream_model" '
        "[style=dashed, color=blue];" in dot
    )
    # the now-public upstream is green
    assert 'label="shared_model", fillcolor=palegreen' in dot
    # json format round-trips
    result = runner.invoke(
        cli,
        ["lineage", "--project-paths", str(a), "--project-paths", str(b),
         "--fmt", "json"],
    )
    assert result.exit_code == 0, result.output
    import json

    data = json.loads(result.output)
    assert any(e["cross_project"] for e in data["edges"])


def test_cli_drift_report(spark):
    runner = CliRunner()
    result = runner.invoke(
        cli,
        [
            "drift",
            "--baseline-dir", "/root/testdata/sf0.001",
            "--current-dir", "/root/testdata/sf0.001",
        ],
    )
    assert result.exit_code == 0, result.output
    # identical snapshots: both PSIs must report stable (0.0)
    assert "quality-score PSI: 0.0000 [stable]" in result.output
    assert "semantic (IVF-cell) PSI: 0.0000 [stable]" in result.output
    # and a cross-snapshot run flags the changed rows
    moved = runner.invoke(
        cli,
        [
            "drift",
            "--baseline-dir", "/root/testdata/sf0.001",
            "--current-dir", "/root/testdata/sf0.01",
        ],
    )
    assert moved.exit_code == 0, moved.output
    assert "docs changed: 500" in moved.output

"""End-to-end project-plane tests: load -> compile -> run -> test, mirroring
the reference's integration strategy (fixture project + real warehouse runs,
tests/dbt_project_utils.py:9-25) with Spark as the warehouse."""

from __future__ import annotations

from pathlib import Path

import pytest

from dbt_meshify_spark.project import SparkProject
from dbt_meshify_spark.project.compiler import (
    CompileError,
    JinjaCompiler,
    Ref,
)
from dbt_meshify_spark.project.runner import AccessViolation, ProjectRunner

FIXTURE = Path(__file__).parent / "fixtures" / "tpch_proj"


@pytest.fixture(scope="module")
def project() -> SparkProject:
    return SparkProject.load(FIXTURE)


@pytest.fixture(scope="module")
def run_ctx(spark, project, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    runner = ProjectRunner(spark, project, warehouse_dir=wh)
    result = runner.run()
    return runner, result


# -- loader ----------------------------------------------------------------


def test_loader_inventory(project):
    m = project.manifest
    assert set(m.models) == {
        f"model.tpch_mart.{n}"
        for n in (
            "stg_orders",
            "stg_lineitems",
            "stg_customers",
            "order_items_summary",
            "orders_mart",
            "customers_mart",
            "order_gaps",
            "status_names",
        )
    }
    assert "source.tpch_mart.tpch.orders" in m.sources
    assert "seed.tpch_mart.status_labels" in m.resources
    assert "macro.tpch_mart.cents_to_dollars" in m.resources
    assert "group.tpch_mart.marts" in m.resources
    assert "exposure.tpch_mart.orders_dashboard" in m.resources
    assert "semantic_model.tpch_mart.orders_semantics" in m.resources


def test_loader_edges(project):
    m = project.manifest
    om = m.get("model.tpch_mart.orders_mart")
    assert "model.tpch_mart.stg_orders" in om.depends_on
    assert "model.tpch_mart.order_items_summary" in om.depends_on
    stg = m.get("model.tpch_mart.stg_orders")
    assert "source.tpch_mart.tpch.orders" in stg.depends_on
    assert "macro.tpch_mart.cents_to_dollars" in stg.depends_on
    gaps = m.get("model.tpch_mart.order_gaps")
    assert gaps.language == "python"
    assert "model.tpch_mart.orders_mart" in gaps.depends_on
    names = m.get("model.tpch_mart.status_names")
    assert "seed.tpch_mart.status_labels" in names.depends_on
    exp = m.get("exposure.tpch_mart.orders_dashboard")
    assert exp.depends_on == ["model.tpch_mart.orders_mart"]


def test_loader_yaml_refs_follow_the_model_ref_rule(tmp_path):
    """Exposure, semantic-model and metric refs resolve like model refs: a
    two-argument ref names the package, a version kwarg is accepted and
    ignored."""
    (tmp_path / "dbt_project.yml").write_text("name: shop\nversion: '1.0'\n")
    models = tmp_path / "models"
    models.mkdir()
    (models / "orders.sql").write_text("select 1 as id")
    (models / "items.sql").write_text("select * from {{ ref('orders') }}")
    (models / "_exposures.yml").write_text(
        "version: 2\n"
        "exposures:\n"
        "  - name: dash\n"
        "    depends_on: [\"ref('orders', v=2)\", \"ref('other_proj', 'items')\"]\n"
        "  - name: report\n"
        "    depends_on: [\"ref( 'items' , version='3')\", \"ref('orders')\"]\n"
        "semantic_models:\n"
        "  - name: orders_sem\n"
        "    model: \"ref('shop', 'orders', v=1)\"\n"
    )
    m = SparkProject.load(tmp_path).manifest
    assert m.get("exposure.shop.dash").depends_on == [
        "model.other_proj.items",
        "model.shop.orders",
    ]
    assert m.get("exposure.shop.report").depends_on == [
        "model.shop.items",
        "model.shop.orders",
    ]
    assert m.get("semantic_model.shop.orders_sem").depends_on == ["model.shop.orders"]


def _shop(root: Path, models: dict[str, str], macros: str | None = None) -> Path:
    """A one-package project ``shop`` with the given model files."""
    (root / "dbt_project.yml").write_text("name: shop\nversion: '1.0'\n")
    (root / "models").mkdir()
    for name, code in models.items():
        (root / "models" / name).write_text(code)
    if macros is not None:
        (root / "macros").mkdir()
        (root / "macros" / "m.sql").write_text(macros)
    return root


@pytest.mark.parametrize(
    "code",
    [
        "select * from {{ ref('orders', v='2') }}",
        "select * from {{ ref('orders', version='2') }}{% if true %}{% endif %}",
        "select * from {{ ref('orders', v=2) }}",
    ],
)
def test_loader_string_version_ref_names_the_model(tmp_path, code):
    """A string version pin stays out of the ref's positional args on the
    static path and the compile fallback alike (it made model.orders.2)."""
    root = _shop(tmp_path, {"orders.sql": "select 1 as id", "items.sql": code})
    m = SparkProject.load(root).manifest
    assert m.get("model.shop.items").depends_on == ["model.shop.orders"]


def test_loader_python_model_refs_follow_the_model_ref_rule(tmp_path):
    root = _shop(
        tmp_path,
        {
            "orders.sql": "select 1 as id",
            "gaps.py": (
                "def model(dbt, session):\n"
                "    a = dbt.ref('orders', v=2)\n"
                "    b = dbt.ref(\"other_proj\", \"items\")\n"
                "    return a.union(b)\n"
            ),
        },
    )
    m = SparkProject.load(root).manifest
    assert m.get("model.shop.gaps").depends_on == [
        "model.other_proj.items",
        "model.shop.orders",
    ]


@pytest.mark.parametrize(
    "macros",
    [
        "{% macro broken( %}x{% endmacro %}",
        "{% macro shout(x) %}{{ x | no_such_filter }}{% endmacro %}",
        "{{ undefined_thing.attr }}",
    ],
)
def test_loader_bad_macro_file_fails_at_load(tmp_path, macros):
    """The macro module is made lazily, yet a macro file that cannot
    compile still fails the load even when every model is read statically."""
    root = _shop(tmp_path, {"a.sql": "select 1 as id"}, macros=macros)
    with pytest.raises(CompileError):
        SparkProject.load(root)


def test_loader_compiles_no_meshgen_model(tmp_path, monkeypatch):
    """Every generated model's edges come off its tokens: loading the
    monolith generates and compiles no Jinja template at all. The tpch
    fixture compiles only the macro module and the two models the token
    reader declines. Each load parses only the macro sources, once."""
    import jinja2

    from perfbench import meshgen

    compiled, parsed = [], []
    real_compile, real_parse = jinja2.Environment.compile, jinja2.Environment.parse
    monkeypatch.setattr(
        jinja2.Environment,
        "compile",
        lambda self, *a, **k: compiled.append(a[0]) or real_compile(self, *a, **k),
    )
    monkeypatch.setattr(
        jinja2.Environment,
        "parse",
        lambda self, *a, **k: parsed.append(a[0]) or real_parse(self, *a, **k),
    )
    m = SparkProject.load(meshgen.generate(tmp_path, 1, 8, 15)["monolith"]).manifest
    assert len(m.models) == 120
    assert compiled == []
    assert len(parsed) == 1 and "{% macro generate_surrogate_key(" in parsed[0]

    parsed.clear()
    m = SparkProject.load(FIXTURE).manifest
    assert len(parsed) == 1 and "{% macro generate_surrogate_key(" in parsed[0]
    by_code = {r.raw_code: r.name for r in m.models.values()}
    assert compiled[0] == parsed[0]
    assert sorted(by_code[code] for code in compiled[1:]) == [
        "customers_mart", "orders_mart"
    ]


def test_loader_config_precedence(project):
    m = project.manifest
    # project tree: marts are tables; in-file config() wins for orders_mart
    assert m.get("model.tpch_mart.customers_mart").config["materialized"] == "table"
    assert m.get("model.tpch_mart.orders_mart").config["materialized"] == "incremental"
    assert m.get("model.tpch_mart.orders_mart").config["unique_key"] == "order_id"
    assert m.get("model.tpch_mart.stg_orders").config["materialized"] == "view"
    # property-file config: contract enforcement flag
    assert m.get("model.tpch_mart.orders_mart").config["contract"]["enforced"]
    # access/group from property file
    assert m.get("model.tpch_mart.order_items_summary").access == "protected"
    assert m.get("model.tpch_mart.orders_mart").group == "marts"


def test_tests_collected(project):
    kinds = {(t.test_type, t.model_name, t.column_name) for t in project.tests}
    assert ("unique", "stg_orders", "order_id") in kinds
    assert ("accepted_values", "stg_orders", "status") in kinds
    assert ("relationships", "stg_lineitems", "order_id") in kinds
    assert ("expression_is_true", "orders_mart", None) in kinds
    assert ("positive_total", "customers_mart", "lifetime_value") in kinds
    assert "positive_total" in project.custom_test_sources


# -- compiler --------------------------------------------------------------


def test_macro_expansion(project):
    r = project.manifest.get("model.tpch_mart.stg_orders")
    out = project.compiler.compile(
        r.raw_code,
        "stg_orders",
        resolve_ref=lambda *a, **k: a[-1],
        resolve_source=lambda s, t: f"{s}_{t}",
    )
    # macro-in-macro: cents_to_dollars -> type_numeric
    assert "cast(o_totalprice / 100.0 as decimal(16, 2))" in out.sql.lower()
    assert "{{" not in out.sql
    assert out.sources == [("tpch", "orders")]
    # var() resolved from dbt_project.yml
    assert "2002-12-31" in out.sql


def test_is_incremental_branch(project):
    r = project.manifest.get("model.tpch_mart.orders_mart")
    cold = project.compiler.compile(
        r.raw_code, "orders_mart",
        resolve_ref=lambda *a, **k: a[-1], resolve_source=lambda s, t: t,
        this_relation="orders_mart", is_incremental=False,
    )
    warm = project.compiler.compile(
        r.raw_code, "orders_mart",
        resolve_ref=lambda *a, **k: a[-1], resolve_source=lambda s, t: t,
        this_relation="orders_mart", is_incremental=True,
    )
    assert "max(ordered_on)" not in cold.sql
    assert "max(ordered_on) from orders_mart" in warm.sql
    assert cold.config["materialized"] == "incremental"


def test_surrogate_key_macro():
    c = JinjaCompiler("p")
    out = c.compile(
        "select {{ generate_surrogate_key(['a', 'b']) }} as sk",
        "m", resolve_ref=lambda *a, **k: a[-1], resolve_source=lambda s, t: t,
    )
    assert out.sql == (
        "select md5(concat_ws('-',coalesce(cast(a as string), '_null_'), "
        "coalesce(cast(b as string), '_null_'))) as sk"
    )


def test_compile_error_on_unknown_jinja():
    c = JinjaCompiler("p")
    with pytest.raises(CompileError):
        c.compile("{% bad syntax %}", "m",
                  resolve_ref=lambda *a, **k: a[-1],
                  resolve_source=lambda s, t: t)


def _compile(c: JinjaCompiler, code: str):
    return c.compile(code, "m", resolve_ref=lambda *a, **k: a[-1],
                     resolve_source=lambda s, t: t)


def _sql_models(root) -> tuple[list, JinjaCompiler]:
    p = SparkProject.load(root)
    return [r for r in p.manifest.models.values() if r.language == "sql"], p.compiler


def _meshgen_monolith(root: Path, seed: int) -> str:
    from perfbench import meshgen

    return meshgen.generate(root / f"s{seed}", seed, 8, 15)["monolith"]


@pytest.mark.parametrize("seed", [None, 1, 2, 3])
def test_static_calls_equal_compile(tmp_path, seed):
    """Differential: where the parse-tree path answers, it records exactly
    the refs, sources and config compile() records. The tpch fixture (seed
    None) falls back only for its {% if %} and loop-macro models; every
    generated monolith model takes the static path."""
    root = FIXTURE if seed is None else _meshgen_monolith(tmp_path, seed)
    models, compiler = _sql_models(root)
    fallback = set()
    for r in models:
        static = compiler.static_calls(r.raw_code)
        if static is None:
            fallback.add(r.name)
            continue
        full = _compile(compiler, r.raw_code)
        assert (static.refs, static.sources, static.config) == (
            full.refs, full.sources, full.config
        ), r.name
    expected = {"orders_mart", "customers_mart"} if seed is None else set()
    assert fallback == expected


_FALLBACK_MACROS = [
    "{% macro calls_ref() %}{{ ref('a') }}{% endmacro %}",
    "{% macro loops(xs) %}{% for x in xs %}{{ x }}{% endfor %}{% endmacro %}",
]
_A = [Ref(("a",), None)]


@pytest.mark.parametrize(
    "code, expected",
    [
        ("{% if true %}{{ ref('a') }}{% endif %}", _A),
        ("{# {{ ref('b') }} #}{{ ref('a') }}", _A),
        ("select * from {{ this }}", []),
        ("{% if is_incremental() %}x{% endif %}{{ ref('a') }}", _A),
        ("{{ env_var('DMS_TEST_UNSET_VARIABLE', 'x') }}", []),
        ("{{ unknown_fn() }}", CompileError),
        ("{{ calls_ref() }}", CompileError),
        ("{{ loops(['x']) }}{{ ref('a') }}", _A),
        ("{{ ref('p', 'a', 'b') }}", CompileError),
        ("{{ ref('a', foo=1) }}", _A),
        ("{{ ref() }}", CompileError),
        ("{{ source('s', 't', 'u') }}", TypeError),
        ("{{ ref('a' }}", CompileError),
        ("{{ -ref('a') }}", TypeError),
        ("{{ ref('a') | upper }}", _A),
        ("{{ dbt_utils.generate_surrogate_key(['a', 'b']) }}", []),
        ("{{ type_numeric(1) }}", TypeError),
        ("{{ config(x=1e999) }}", NameError),
        ("{{ config(a=1, a=2) }}", SyntaxError),
        ("{{ ref(1) }}", [Ref((1,), None)]),
        ("{{ config(materialized='table', tags=['a'], meta={'k': 1}) }}{{ var('v') }}", []),
    ],
)
def test_static_calls_fall_back(code, expected):
    """Inputs outside the static surface return None, and compile() gives
    them the refs it always did, or fails with a CompileError naming the
    model whose cause is any other exception type listed."""
    c = JinjaCompiler("p", _FALLBACK_MACROS)
    assert c.static_calls(code) is None
    if isinstance(expected, list):
        assert _compile(c, code).refs == expected
    else:
        with pytest.raises(CompileError, match="^compile failed for m: ") as info:
            _compile(c, code)
        if expected is not CompileError:
            assert type(info.value.__cause__) is expected


@pytest.mark.parametrize(
    "code",
    [
        "{{ ref(1) }}",
        "{{ ref() }}",
        "{{ source('s', 't', 'u') }}",
        "{{ -ref('a') }}",
        "{{ config(x=1e999) }}",
        "{{ config(a=1, a=2) }}",
    ],
)
def test_loader_malformed_model_fails_naming_it(tmp_path, code):
    """A model that cannot compile, or whose ref() names no model, fails
    the load with a CompileError that names it (these raised bare
    IndexError/TypeError/NameError/SyntaxError)."""
    root = _shop(tmp_path, {"orders.sql": "select 1 as id", "bad_one.sql": code})
    with pytest.raises(CompileError, match="^compile failed for bad_one: "):
        SparkProject.load(root)


def test_loader_three_arg_ref_fails_naming_it(tmp_path):
    """dbt takes at most two positional ref args; a third fails the load
    with a CompileError that names the model."""
    root = _shop(tmp_path, {"bad_one.sql": "select * from {{ ref('p', 'a', 'b') }}"})
    with pytest.raises(
        CompileError,
        match=r"^compile failed for bad_one: ref\(\) takes 1 or 2 positional "
        "arguments, got 3$",
    ):
        SparkProject.load(root)


def test_compile_passes_resolver_errors_through():
    """A resolver's own CompileError (the runner's AccessViolation) reaches
    the caller as raised, not wrapped."""
    denied = AccessViolation("private model")

    def deny(*a, **k):
        raise denied

    c = JinjaCompiler("p")
    with pytest.raises(AccessViolation) as info:
        c.compile("{{ ref('a') }}", "m", resolve_ref=deny,
                  resolve_source=lambda s, t: t)
    assert info.value is denied


# Differential inputs for the token reader: calls it reads, and shapes it
# declines or compile() rejects.
_TOKEN_CASES = [
    "select\n  {{- ref('a') -}}  \n x {{- source('s', 't') }}",
    "{{+ ref('b') }}",
    "{{ ref('b') +}}",
    "{{{ ref('a') }}",
    "{{ ref('a}}') }}",
    "{{ ref('{% if %}') }} {{ source('s', \"{%\") }}",
    "{{ ref('a\\\\b') }}",
    "{{ ref('a\\'b') }}",
    "{{ ref('\u00e9t\u00e9') }} {{ source('\u6570', '\U0001f600') }}",
    "{{ true() }}",
    "{{ True() }}",
    "{{ none() }}",
    "{{ not('a') }}",
    "{{ ref('a',) }}",
    "{{ ref(,) }}",
    "{{ ref(v=1, 'a') }}",
    "{{ ref('a', v=1, v=2) }}",
    "{{ cents_to_dollars(007) }}",
    "{{ cents_to_dollars(-1) }}",
    "{{ cents_to_dollars(1.5) }}",
    "{{ cents_to_dollars(0x1f) }} {{ cents_to_dollars(1_000) }}",
    "{{ cents_to_dollars(0) }} {{ cents_to_dollars(10, scale=3) }}",
    "{{ ref('p', 'a', 'b') }}",
    "{% raw %}{{ ref('a') }}{% endraw %}",
    "select {{ ref('a')",
    "{{ ref('a') }} {{ ref('b'",
    "{{ ref('a' 'b') }}",
    "{{ ref('a')('b') }}",
    "{{ ref('a'), ref('b') }}",
    "{{ ref('a') if x }}",
    "{{ config(materialized='table', tags=['a']) }}",
    "{{ config( materialized = 'view' ,\n  unique_key='id' ) }}",
    "{{ ref(\"a\") }}\n{{ ref('b', version=2) }}\r\n{{ var('v', 1) }}",
    "{{ ref('a\nb') }}",
    "{{ source('s', 't', ) }}{{ type_numeric() }}",
    "{{ ref(x) }}",
    "{{ ref('a') | upper }}",
    "{{ ref }}",
    "{{ }}",
    "{{ ref('a') }}{% if true %}{% endif %}",
]


@pytest.mark.parametrize("code", _TOKEN_CASES)
def test_static_calls_tokens_equal_parse_tree(code):
    """Reader agreement: whenever the token reader answers, it records
    exactly the refs, sources and config compile() records; wherever
    compile() raises, it answers None."""
    macros = [
        "{% macro cents_to_dollars(c, scale=2) %}{{ c }}/100::{{ scale }}"
        "{% endmacro %}",
        # a safe macro the parser never calls: `not(x)` reads as `not x`
        "{% macro not(x) %}{{ x }}{% endmacro %}",
    ]
    c = JinjaCompiler("p", macros)
    assert "not" in c._safe_macros
    static = c.static_calls(code)
    try:
        full = _compile(c, code)
    except CompileError:
        assert static is None
        return
    if static is not None:
        assert (static.refs, static.sources, static.config) == (
            full.refs, full.sources, full.config
        )


def test_loader_reads_null_lists_as_empty(tmp_path):
    """A null tests:, data_tests: or columns: in a property entry reads as
    empty (it raised TypeError: NoneType + list)."""
    root = _shop(tmp_path, {"orders.sql": "select 1 as id", "items.sql": "select 2"})
    (root / "models" / "_models.yml").write_text(
        "version: 2\n"
        "models:\n"
        "  - name: orders\n"
        "    tests:\n"
        "    data_tests:\n"
        "    columns:\n"
        "  - name: items\n"
        "    data_tests: [unique]\n"
        "    columns:\n"
        "      - name: id\n"
        "        tests:\n"
        "        data_tests: [not_null]\n"
    )
    p = SparkProject.load(root)
    assert p.manifest.get("model.shop.orders").columns == {}
    assert {(t.test_type, t.model_name, t.column_name) for t in p.tests} == {
        ("unique", "items", None),
        ("not_null", "items", "id"),
    }


@pytest.mark.parametrize(
    "code",
    [
        "select {{ cents_to_dollars('x') }}, {{ cents_to_dollars('y', scale=4) }}",
        "{{ ref('shop', 'a', v=2) }} {{ source('s', 't') }} {{ var('nope', 3) }}",
        "{{ wrap() }} {{ type_string() }}",
    ],
)
def test_static_calls_accept_safe_surface(code):
    macros = [
        "{% macro cents_to_dollars(c, scale=2) %}{{ c }}/100::{{ scale }}"
        "{{ type_numeric() }}{% endmacro %}",
        "{% macro wrap() %}({{ cents_to_dollars('z', 1) }}){% endmacro %}",
    ]
    c = JinjaCompiler("p", macros, {"v": "x"})
    static = c.static_calls(code)
    full = _compile(c, code)
    assert static is not None
    assert (static.refs, static.sources, static.config) == (
        full.refs, full.sources, full.config
    )


# -- runner ----------------------------------------------------------------


def test_run_all_green(run_ctx):
    _, result = run_ctx
    assert result.ok, result.statuses
    assert set(result.relations) >= {
        "stg_orders", "orders_mart", "customers_mart", "order_gaps",
        "status_labels", "status_names",
    }


def test_materialized_outputs(spark, run_ctx):
    orders = spark.table("orders_mart")
    assert orders.count() > 0
    assert [f.name for f in orders.schema.fields] == [
        "order_id", "customer_id", "status", "ordered_on",
        "order_total_dollars", "count_items", "subtotal",
    ]
    # python model output
    gaps = spark.table("order_gaps")
    assert {"prev_order_id", "next_order_id"} <= set(gaps.columns)
    # seed joined model
    labels = {r.status: r.status_label for r in spark.table("status_names").collect()}
    assert labels.get("O") == "Open" and labels.get("F") == "Finished"


def test_model_matches_direct_sql(spark, run_ctx):
    """The compiled pipeline must equal hand-written SQL over the source."""
    direct = spark.sql(
        """
        select o.o_orderkey as order_id, count(l.l_orderkey) as n
        from parquet.`/root/testdata/sf0.001/orders.parquet` o
        left join parquet.`/root/testdata/sf0.001/lineitem.parquet` l
          on l.l_orderkey = o.o_orderkey
        group by o.o_orderkey
        """
    )
    mart = spark.table("orders_mart").selectExpr("order_id", "count_items")
    joined = direct.join(mart, "order_id", "full")
    mismatches = joined.filter(
        "n <> count_items or n is null or count_items is null"
    ).count()
    assert mismatches == 0


def test_incremental_idempotent(spark, project, run_ctx, tmp_path_factory):
    runner, _ = run_ctx
    before = spark.table("orders_mart").count()
    # re-run: takes the is_incremental() branch and upserts on unique_key
    result2 = runner.run(select="orders_mart")
    assert result2.ok, result2.statuses
    after = spark.table("orders_mart").count()
    assert after == before
    # still unique on the key
    dupes = (
        spark.table("orders_mart").groupBy("order_id").count().filter("count > 1")
    ).count()
    assert dupes == 0


def test_data_tests_pass(run_ctx):
    runner, _ = run_ctx
    results = runner.test()
    failing = [t.name for t in results if not t.passed]
    assert not failing, failing
    names = {t.name for t in results}
    assert any(n.startswith("positive_total_customers_mart") for n in names)


def test_failing_test_detected(spark, run_ctx):
    runner, _ = run_ctx
    # accepted_values violation: inject a bogus status via a shadow view
    spark.sql(
        "select 'X' as status union all select 'O' as status"
    ).createOrReplaceTempView("stg_orders_bad")
    from dbt_meshify_spark.project.loader import TestSpec
    from dbt_meshify_spark.project.testing import compile_test

    sql = compile_test(
        TestSpec(
            unique_id="test.x.accepted_values_bad",
            test_type="accepted_values",
            model_name="stg_orders_bad",
            column_name="status",
            kwargs={"values": ["O", "F", "P"]},
        ),
        "stg_orders_bad",
        runner.project.compiler,
        resolve_ref=lambda *a, **k: a[-1],
    )
    assert spark.sql(sql).count() == 1


def test_contract_violation_detected(spark, project, tmp_path_factory):
    import copy

    bad = copy.deepcopy(project)
    r = bad.manifest.get("model.tpch_mart.orders_mart")
    r.columns["order_id"] = "string"  # wrong type vs produced bigint
    runner = ProjectRunner(
        spark, bad, warehouse_dir=tmp_path_factory.mktemp("wh_bad")
    )
    result = runner.run(select="+orders_mart")
    assert "error" in result.statuses["orders_mart"]
    assert "order_id" in result.statuses["orders_mart"]


def test_access_enforcement(spark, project, tmp_path_factory):
    import copy

    bad = copy.deepcopy(project)
    target = bad.manifest.get("model.tpch_mart.order_items_summary")
    target.access, target.group = "private", "other_group"
    runner = ProjectRunner(
        spark, bad, warehouse_dir=tmp_path_factory.mktemp("wh_acc")
    )
    result = runner.run(select="+orders_mart")
    assert "cannot ref private model" in result.statuses["orders_mart"]


def test_select_subset_runs_prerequisites(spark, project, tmp_path_factory):
    runner = ProjectRunner(
        spark, SparkProject.load(FIXTURE),
        warehouse_dir=tmp_path_factory.mktemp("wh_sel"),
    )
    result = runner.run(select="order_items_summary")
    assert result.ok, result.statuses
    # upstream staging view materialized as a prerequisite
    assert "stg_lineitems" in result.statuses
    # but unrelated models were not run
    assert "customers_mart" not in result.statuses


# -- semantic models (M1) ----------------------------------------------------


def test_semantic_query_matches_direct_agg(spark, run_ctx):
    runner, _ = run_ctx
    out = runner.semantic_query(
        "orders_semantics", grain="month", measures=["order_total"]
    )
    direct = spark.sql(
        """
        select cast(date_trunc('month', ordered_on) as date) as ordered_on,
               sum(subtotal) as order_total
        from orders_mart group by 1
        """
    )
    diff = out.exceptAll(direct).count() + direct.exceptAll(out).count()
    assert diff == 0
    assert out.columns == ["ordered_on", "order_total"]


def test_semantic_query_rejects_finer_grain(run_ctx):
    from dbt_meshify_spark.project.semantic import SemanticCompileError

    runner, _ = run_ctx
    # declared granularity is day -> month ok (above), but nothing finer than
    # declared exists; asking for an unknown grain must fail loudly
    with pytest.raises(SemanticCompileError):
        runner.semantic_query("orders_semantics", grain="hour")


def test_incremental_insert_overwrite_replaces_partitions(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("io_proj")
    (root / "models").mkdir()
    (root / "dbt_project.yml").write_text("name: io_proj\nmodel-paths: ['models']\n")
    (root / "models/__sources.yml").write_text(
        "version: 2\n"
        "sources:\n"
        "  - name: raw\n"
        "    tables:\n"
        "      - name: orders\n"
        "        meta: {path: \"/root/testdata/sf0.001/orders.parquet\"}\n"
    )
    (root / "models/daily.sql").write_text(
        "{{ config(materialized='incremental', incremental_strategy='insert_overwrite',"
        " partition_by='d') }}\n"
        "select cast(o_orderdate as date) as d, o_orderkey,\n"
        "       o_totalprice {{ '* 2' if var('double', false) else '' }} as price\n"
        "from {{ source('raw', 'orders') }}\n"
        "{% if is_incremental() %}\n"
        "where cast(o_orderdate as date) >= (select max(d) from {{ this }})\n"
        "{% endif %}\n"
    )
    wh = tmp_path_factory.mktemp("io_wh")

    project = SparkProject.load(root)
    runner = ProjectRunner(spark, project, warehouse_dir=wh)
    assert runner.run().ok
    first = spark.table("daily")
    base_count = first.count()
    max_d = first.agg({"d": "max"}).first()[0]

    # second run recomputes only partitions >= max(d) with doubled price;
    # those partitions must be REPLACED (not appended), everything else kept
    project2 = SparkProject.load(root, vars={"double": True})
    runner2 = ProjectRunner(spark, project2, warehouse_dir=wh)
    runner2._table_versions = dict(runner._table_versions)
    runner2._registered = set(runner._registered)
    assert runner2.run().ok
    second = spark.table("daily")
    assert second.count() == base_count  # replaced, not duplicated
    doubled = second.filter(f"d = '{max_d}'").selectExpr("min(price)").first()[0]
    orig = first.filter(f"d = '{max_d}'").selectExpr("min(price)").first()[0]
    assert abs(doubled - 2 * orig) < 1e-6


# -- snapshots (SCD2) --------------------------------------------------------


@pytest.fixture()
def snapshot_proj(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("snap_proj")
    (root / "snapshots").mkdir()
    (root / "models").mkdir()
    (root / "dbt_project.yml").write_text(
        "name: snap_proj\nmodel-paths: ['models']\nsnapshot-paths: ['snapshots']\n"
    )
    src = tmp_path_factory.mktemp("snap_src")
    (root / "models/__sources.yml").write_text(
        "version: 2\n"
        "sources:\n"
        "  - name: raw\n"
        "    tables:\n"
        f"      - name: customers\n        meta: {{path: \"{src}/customers\"}}\n"
    )
    (root / "snapshots/customers_snapshot.sql").write_text(
        "{% snapshot customers_snapshot %}\n"
        "{{ config(strategy='timestamp', unique_key='id', updated_at='updated_at') }}\n"
        "select * from {{ source('raw', 'customers') }}\n"
        "{% endsnapshot %}\n"
    )
    def write_source(rows):
        spark.createDataFrame(
            rows, "id bigint, status string, updated_at timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/customers")
    return root, write_source


def test_snapshot_scd2_timestamp(spark, snapshot_proj, tmp_path_factory):
    import datetime as dt

    root, write_source = snapshot_proj
    t1 = dt.datetime(2020, 1, 1)
    t2 = dt.datetime(2020, 2, 1)
    write_source([(1, "new", t1), (2, "new", t1)])
    wh = tmp_path_factory.mktemp("snap_wh")

    runner = ProjectRunner(spark, SparkProject.load(root), warehouse_dir=wh)
    res1 = runner.snapshot()
    assert res1.ok, res1.statuses
    # second run with an unchanged source must be a no-op (idempotent)
    res1b = runner.snapshot()
    assert res1b.ok, res1b.statuses
    first = spark.table("customers_snapshot")
    assert first.count() == 2
    assert first.filter("dbt_valid_to is not null").count() == 0

    # customer 1 changes at t2; customer 2 unchanged; customer 3 appears
    write_source([(1, "active", t2), (2, "new", t1), (3, "new", t2)])
    runner2 = ProjectRunner(spark, SparkProject.load(root), warehouse_dir=wh)
    runner2._table_versions = dict(runner._table_versions)
    res = runner2.snapshot()
    assert res.ok, res.statuses
    snap = spark.table("customers_snapshot")
    rows = {(r.id, r.status): r for r in snap.collect()}
    assert len(rows) == 4  # 2 original + 1 closed-superseding + 1 brand new
    closed = rows[(1, "new")]
    assert closed.dbt_valid_to == t2
    current = rows[(1, "active")]
    assert current.dbt_valid_from == t2 and current.dbt_valid_to is None
    unchanged = rows[(2, "new")]
    assert unchanged.dbt_valid_to is None
    fresh = rows[(3, "new")]
    assert fresh.dbt_valid_from == t2 and fresh.dbt_valid_to is None


# -- bucketed materialization (clustered_by/buckets) -------------------------


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bkt_proj")
    (root / "models").mkdir()
    (root / "dbt_project.yml").write_text(
        "name: bkt_proj\nmodel-paths: ['models']\nvars: {data_dir: /root/testdata/sf0.001}\n"
    )
    (root / "models/__sources.yml").write_text(
        "version: 2\n"
        "sources:\n"
        "  - name: raw\n"
        "    tables:\n"
        "      - name: orders\n"
        "        meta: {path: \"{{ var('data_dir') }}/orders.parquet\"}\n"
        "      - name: lineitem\n"
        "        meta: {path: \"{{ var('data_dir') }}/lineitem.parquet\"}\n"
    )
    (root / "models/orders_b.sql").write_text(
        "{{ config(materialized='table', clustered_by='o_orderkey', buckets=4) }}\n"
        "select o_orderkey, o_totalprice from {{ source('raw', 'orders') }}\n"
    )
    (root / "models/lineitem_b.sql").write_text(
        "{{ config(materialized='table', clustered_by='l_orderkey', buckets=4) }}\n"
        "select l_orderkey, l_extendedprice from {{ source('raw', 'lineitem') }}\n"
    )
    runner = ProjectRunner(
        spark, SparkProject.load(root), warehouse_dir=tmp_path_factory.mktemp("bkt_wh")
    )
    res = runner.run()
    assert res.ok, res.statuses
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            spark.table("orders_b").o_orderkey
            == spark.table("lineitem_b").l_orderkey,
        )
        joined.write.format("noop").mode("overwrite").save()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed scan-to-scan join: no shuffle exchange anywhere
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("drop table if exists orders_b")
        spark.sql("drop table if exists lineitem_b")


def test_metric_queries_match_direct_sql(spark, run_ctx):
    runner, _ = run_ctx
    simple = runner.metric_query("total_order_value", grain="month")
    assert simple.columns == ["ordered_on", "total_order_value"]
    ratio = runner.metric_query("avg_order_value", grain="month")
    direct = spark.sql(
        """
        select cast(date_trunc('month', ordered_on) as date) as ordered_on,
               sum(subtotal) / count(order_id) as avg_order_value
        from orders_mart group by 1
        """
    )
    diff = ratio.exceptAll(direct).count() + direct.exceptAll(ratio).count()
    assert diff == 0


def test_seed_column_types_and_tests(spark, project, run_ctx):
    # config.column_types from the seeds: property block beats CSV inference
    schema = {f.name: f.dataType.simpleString()
              for f in spark.table("status_labels").schema.fields}
    assert schema["sort_order"] == "double"
    # data tests declared on the seed are collected and runnable
    seed_tests = [t for t in project.tests if t.model_name == "status_labels"]
    assert {t.test_type for t in seed_tests} == {"unique", "not_null"}


def test_store_failures_writes_audit_table(spark, run_ctx):
    runner, _ = run_ctx
    from dbt_meshify_spark.project.loader import TestSpec

    spark.sql(
        "select 'X' as status union all select 'O' as status"
    ).createOrReplaceTempView("stg_orders_bad")
    spec = TestSpec(
        unique_id="test.tpch_mart.accepted_values_stg_orders_bad_status",
        test_type="accepted_values",
        model_name="stg_orders_bad",
        column_name="status",
        kwargs={"values": ["O", "F", "P"], "config": {"store_failures": True}},
    )
    runner.project.tests.append(spec)
    try:
        results = {r.name: r for r in runner.test()}
    finally:
        runner.project.tests.remove(spec)
    res = results["accepted_values_stg_orders_bad_status"]
    assert not res.passed and res.failures == 1
    assert res.relation == "dbt_test__audit_accepted_values_stg_orders_bad_status"
    stored = spark.table(res.relation).collect()
    assert [r.status for r in stored] == ["X"]
    # tests without the flag don't store anything
    assert all(r.relation is None for n, r in results.items() if n != res.name)


def test_derived_metric_single_pass(spark, run_ctx):
    runner, _ = run_ctx
    derived = runner.metric_query("value_above_average", grain="month")
    assert derived.columns == ["ordered_on", "value_above_average"]
    direct = spark.sql(
        """
        select cast(date_trunc('month', ordered_on) as date) as ordered_on,
               sum(subtotal) - sum(subtotal) / count(order_id)
                 as value_above_average
        from orders_mart group by 1
        """
    )
    diff = derived.exceptAll(direct).count() + direct.exceptAll(derived).count()
    assert diff == 0
    # the derived expression must NOT introduce a join or extra shuffle:
    # one aggregate pass means exactly one Exchange in the physical plan
    plan = derived._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan


def test_build_interleaves_and_skips_downstream(spark, tmp_path_factory):
    """dbt build semantics: a failing test on a model skips its
    descendants; siblings still build."""
    import copy

    proj = SparkProject.load(FIXTURE)
    for t in proj.tests:
        if t.model_name == "stg_orders" and t.test_type == "accepted_values":
            t.kwargs = copy.deepcopy(t.kwargs)
            t.kwargs["values"] = ["O"]  # sabotage: F/P now "unexpected"
    wh = tmp_path_factory.mktemp("wh_build")
    runner = ProjectRunner(spark, proj, warehouse_dir=wh)
    result, tests = runner.build()
    by_name = {t.name: t for t in tests}
    assert not by_name["accepted_values_stg_orders_status"].passed
    assert result.statuses["stg_orders"] == "ok"  # model itself built
    # everything downstream of stg_orders skipped
    assert result.statuses["orders_mart"] == "skipped (upstream failure)"
    assert result.statuses["status_names"] == "skipped (upstream failure)"
    # independent branches still built and tested
    assert result.statuses["stg_customers"] == "ok"
    assert by_name["unique_stg_customers_customer_id"].passed
    # tests of skipped models never ran
    assert "unique_orders_mart_order_id" not in by_name


def test_incremental_on_schema_change_policies(spark, run_ctx):
    runner, _ = run_ctx
    old = spark.createDataFrame([(1, "a")], "id long, x string")
    new = spark.createDataFrame([(2, "b", 1.5)], "id long, x string, y double")

    ex, df = runner._align_incremental_schemas("m", old, new, "ignore")
    assert ex.columns == df.columns == ["id", "x"]

    ex, df = runner._align_incremental_schemas("m", old, new, "append_new_columns")
    assert ex.columns == df.columns == ["id", "x", "y"]
    assert ex.collect()[0].y is None and df.collect()[0].y == 1.5

    dropped = spark.createDataFrame([(3,)], "id long")
    ex, df = runner._align_incremental_schemas("m", old, dropped, "sync_all_columns")
    assert ex.columns == df.columns == ["id"]

    from dbt_meshify_spark.project.compiler import CompileError

    with pytest.raises(CompileError, match="on_schema_change=fail"):
        runner._align_incremental_schemas("m", old, new, "fail")


def test_unit_tests_mock_refs_and_compare_rows(spark, run_ctx):
    runner, _ = run_ctx
    results = runner.unit_test()
    assert [r.name for r in results] == ["orders_mart_join_fills_missing_items"]
    assert results[0].passed, results[0]
    # select by model name also finds it
    assert runner.unit_test(select="orders_mart")[0].passed
    # a wrong expectation must fail, not silently pass
    ut = runner.project.manifest.get(
        "unit_test.tpch_mart.orders_mart_join_fills_missing_items"
    )
    import copy

    bad = copy.deepcopy(ut.meta["spec"])
    bad["expect"]["rows"][1]["count_items"] = 99
    res = runner._run_unit_test("bad_variant", bad)
    assert not res.passed and res.failures == 2  # one row wrong on each side

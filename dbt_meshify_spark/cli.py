"""CLI — the reference's command surface re-hosted on the Spark engine.

Command-for-command parity with dbt-meshify's click app (reference
main.py:77-687): ``split``, ``connect``, ``group``, ``version``, and the
``operation`` subgroup (``add-contract``, ``add-version``, ``bump-version``,
``create-group``), plus the engine-side ``run`` and ``test`` commands that
the reference delegates to dbt (dbt.py:36-65) — here Spark IS the warehouse.

All governance commands are plan-then-execute: they build ChangeSets and
hand them to ChangeSetProcessor, honoring the group-level ``--dry-run``
(reference main.py:99-110 result callback).
"""

from __future__ import annotations

import functools
from pathlib import Path

import click

from dbt_meshify_spark.plans.changes import ChangeSet, ChangeSetProcessor, load_yaml
from dbt_meshify_spark.plans.contracts import generate_contract
from dbt_meshify_spark.plans.graph import select_resources
from dbt_meshify_spark.plans.grouper import create_group as plan_create_group
from dbt_meshify_spark.plans.grouper import group_and_contract
from dbt_meshify_spark.plans.linker import dependencies, resolve_dependency
from dbt_meshify_spark.plans.manifest import property_file
from dbt_meshify_spark.plans.splitter import (
    SplitError,
    SubprojectCreator,
    build_subproject,
)
from dbt_meshify_spark.plans.versions import BumpBehavior, add_version, bump_version
from dbt_meshify_spark.project.loader import SparkProject


class MultiOption(click.Option):
    """Greedy multi-value option: ``-s a b c`` consumes the trailing run of
    non-option tokens, matching the reference's dbt-style selection UX
    (reference cli.py:64-71 uses dbt's ``MultiOption`` for --select/--exclude/
    --selector; re-expressed here on plain click parser hooks). Repeated
    flags (``-s a -s b``) still work — each flag consumes its own run."""

    def __init__(self, *args, **kwargs):
        kwargs["multiple"] = True
        super().__init__(*args, **kwargs)

    def add_to_parser(self, parser, ctx):
        super().add_to_parser(parser, ctx)

        # click registers ONE parser Option object under every alias —
        # dedup by identity so --select/-s don't get the greedy wrapper
        # applied twice (nested wrapping is idempotent today but fragile)
        resolved = {}
        for opt in self.opts + self.secondary_opts:
            our = parser._long_opt.get(opt) or parser._short_opt.get(opt)
            if our is not None:
                resolved[id(our)] = our
        for our in resolved.values():
            base_process = our.process

            def process(value, state, _base=base_process):
                _base(value, state)
                while state.rargs and not state.rargs[0].startswith("-"):
                    _base(state.rargs.pop(0), state)

            our.process = process


class TupleCompatibleCommand(click.Command):
    """Usage string lists options before the trailing [ARGS], signalling that
    greedy tuple options eat following arguments (reference cli.py:135-145)."""

    def format_usage(self, ctx, formatter) -> None:
        pieces = self.collect_usage_pieces(ctx)
        pieces = pieces[1:] + [pieces[0]]
        formatter.write_usage(ctx.command_path, " ".join(pieces))


def _options(*options):
    """One decorator applying ``options`` in the order listed (the order
    --help prints them)."""

    def decorate(f):
        for option in reversed(options):
            f = option(f)
        return f

    return decorate


# the --select/--exclude/--selector/--project-path block (reference
# cli.py:64-80)
_selection = _options(
    click.option("--select", "-s", cls=MultiOption, multiple=True),
    click.option("--exclude", "-e", cls=MultiOption, multiple=True),
    click.option("--selector", cls=MultiOption, multiple=True, help="named selector(s) from selectors.yml"),
    click.option("--project-path", default=".", type=click.Path(exists=True)),
)


def _required_selection(f):
    """The selection block, rejecting a call with neither --select nor
    --selector before the command body runs."""

    @functools.wraps(f)
    def checked(*args, **kwargs):
        if not kwargs["select"] and not kwargs["selector"]:
            raise click.ClickException("one of --select/--selector is required")
        return f(*args, **kwargs)

    return _selection(checked)


_owner_options = _options(
    click.option("--owner-name", default=None),
    click.option("--owner-email", default=None),
    click.option("--owner-properties", default=None,
                 help="YAML/JSON dict of additional Owner properties (reference cli.py:93-97)"),
    click.option("--group-yml-path", default=None, type=click.Path()),
)


def _owner(owner_name, owner_email, owner_properties) -> dict:
    """The group Owner from --owner-name/--owner-email, with
    --owner-properties merged in (reference main.py:612)."""
    owner = {
        k: v for k, v in (("name", owner_name), ("email", owner_email)) if v
    }
    if not owner:
        raise click.ClickException("an owner (--owner-name/--owner-email) is required")
    if owner_properties:
        owner.update(load_yaml(owner_properties) or {})
    return owner


def _group_yml(project: SparkProject, group_yml_path) -> Path:
    return Path(group_yml_path) if group_yml_path else project.root / "models/_groups.yml"


_bump_options = _options(
    click.option("--latest", "-l", is_flag=True,
                 help="make the new version the latest version"),
    click.option("--increment", is_flag=True,
                 help="advance latest_version by 1"),
)


def _bump_behavior(latest: bool, increment: bool) -> BumpBehavior:
    """latest_version policy: --latest pins it to the new version,
    --increment advances it by 1, default (prerelease) keeps it."""
    if latest and increment:
        raise click.ClickException("Cannot specify both --latest and --increment.")
    if latest:
        return BumpBehavior.Latest
    return BumpBehavior.Increment if increment else BumpBehavior.Prerelease


def _select(
    project: SparkProject,
    select: tuple[str, ...],
    exclude: tuple[str, ...],
    selector: tuple[str, ...] = (),
    state=None,
) -> set[str]:
    """--select tokens + --selector names (selectors.yml) - --exclude; the
    reference forwards all three to dbt ls (cli.py:74-80)."""
    from dbt_meshify_spark.plans.selectors import SelectorError, resolve_selection

    try:
        return resolve_selection(
            project.manifest,
            project.root,
            select=list(select) or None,
            exclude=list(exclude) or None,
            selector=list(selector) or None,
            state=state,
        )
    except SelectorError as e:
        raise click.ClickException(str(e))


def _selected_models(
    project: SparkProject,
    select: tuple[str, ...],
    exclude: tuple[str, ...],
    selector: tuple[str, ...] = (),
):
    selected = _select(project, select, exclude, selector)
    return [
        project.manifest.get(uid)
        for uid in sorted(selected)
        if uid.startswith("model.")
    ]


def _catalog_columns(project: SparkProject, read_catalog: bool) -> dict[str, list[dict]]:
    """model name -> [{name, data_type}] — from target/catalog.json when
    ``--read-catalog`` (reference cli.py:98-104, dbt_projects.py:279-290:
    skip docs-generate and trust the cached artifact), else from live Spark
    schema analysis. The one place a schema becomes a column list:
    ``add-contract``, ``group``, ``split`` and ``docs`` all read it."""
    import json

    cat_path = project.root / "target" / "catalog.json"
    if read_catalog and cat_path.exists():
        doc = json.loads(cat_path.read_text())
        return {
            name: [
                {"name": c, "data_type": t} for c, t in entry["columns"].items()
            ]
            for name, entry in doc.get("nodes", {}).items()
        }
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    # computed WITHOUT executing jobs: every materialization degrades to a
    # lazy temp view when the runner has no warehouse (Python models are the
    # exception — they run)
    runner = ProjectRunner(get_spark(app_name="meshify-catalog"), project)
    runner.run()
    out = {}
    for r in project.manifest.models.values():
        try:
            df = runner.spark.table(runner.relation_for(r))
        except Exception:
            continue
        out[r.name] = [
            {"name": f.name, "data_type": f.dataType.simpleString()}
            for f in df.schema.fields
        ]
    return out


def _process(ctx: click.Context, *change_sets: ChangeSet) -> None:
    from dbt_meshify_spark.exceptions import FatalMeshifyException
    from dbt_meshify_spark.plans.changes import ChangeSetProcessorException

    try:
        ChangeSetProcessor(dry_run=ctx.obj["dry_run"]).process(list(change_sets))
    except ChangeSetProcessorException as e:
        # reference main.py raises FatalMeshifyException around every
        # command body; the CLI exits nonzero with the change + cause logged
        raise FatalMeshifyException(f"{e} (cause: {e.exception!r})")


@click.group()
@click.option("--dry-run", is_flag=True, help="print the plan without applying it")
@click.pass_context
def cli(ctx: click.Context, dry_run: bool) -> None:
    ctx.ensure_object(dict)
    ctx.obj["dry_run"] = dry_run


# -- split -------------------------------------------------------------------


@cli.command(cls=TupleCompatibleCommand)
@click.argument("project_name")
@_required_selection
@click.option("--create-path", default=None, type=click.Path())
@click.option("--read-catalog", is_flag=True, help="trust target/catalog.json instead of live schema analysis")
@click.pass_context
def split(ctx, project_name, select, exclude, selector, project_path, create_path, read_catalog) -> None:
    """Split SELECTed resources into a new subproject (reference
    main.py:213-267)."""
    project = SparkProject.load(project_path)
    try:
        sub = build_subproject(
            project, project_name, list(select) or None, list(exclude) or None,
            create_path, selector=list(selector) or None,
        )
    except SplitError as e:
        raise click.ClickException(str(e))
    catalog = _catalog_columns(project, read_catalog)
    _process(ctx, SubprojectCreator(sub, catalog).initialize())


# -- connect -----------------------------------------------------------------


@cli.command()
@click.option("--project-paths", multiple=True, type=click.Path(exists=True))
@click.option(
    "--projects-dir",
    type=click.Path(exists=True),
    default=None,
    help="directory containing 2+ projects (every dbt_project.yml below it)",
)
@click.option(
    "--exclude-projects",
    "-e",
    multiple=True,
    help="project NAMES to skip when using --projects-dir",
)
@click.pass_context
def connect(ctx, project_paths, projects_dir, exclude_projects) -> None:
    """Convert implicit cross-project dependencies (source-hack / package
    import) into explicit cross-project refs (reference main.py:121-210;
    --projects-dir discovery semantics main.py:153-168)."""
    import itertools

    if project_paths and projects_dir:
        raise click.BadOptionUsage(
            option_name="project_paths",
            message="Cannot specify both project-paths and projects-dir",
        )
    if not project_paths and not projects_dir:
        raise click.ClickException(
            "one of --project-paths/--projects-dir is required"
        )
    if projects_dir:
        found = sorted(
            p.parent.resolve()
            for p in Path(projects_dir).glob("**/dbt_project.yml")
            if "dbt_packages" not in p.parts
            and "site-packages" not in p.parts
            and p.is_file()
        )
        projects = [
            proj
            for proj in (SparkProject.load(str(d)) for d in found)
            if proj.name not in set(exclude_projects)
        ]
    else:
        projects = [SparkProject.load(p) for p in project_paths]
    if len(projects) < 2:
        raise click.ClickException(
            f"connect needs 2+ projects, found {len(projects)}"
        )
    change_sets = []
    for a, b in itertools.combinations(projects, 2):
        for dep in sorted(
            dependencies(a.manifest, a.name, b.manifest, b.name),
            key=lambda d: (d.upstream_resource, d.downstream_resource),
        ):
            upstream, downstream = (
                (a, b) if dep.upstream_project_name == a.name else (b, a)
            )
            up_model = upstream.manifest.get(dep.upstream_resource)
            change_sets.append(
                resolve_dependency(
                    dep,
                    upstream.manifest,
                    downstream.manifest,
                    downstream.root,
                    upstream_patch_path=upstream.root / property_file(up_model),
                )
            )
    if not change_sets:
        click.echo("no cross-project dependencies detected")
        return
    _process(ctx, *change_sets)


# -- operation subgroup --------------------------------------------------------


@cli.group()
def operation() -> None:
    """Individual mesh operations (reference main.py:113-118)."""


@operation.command(name="add-contract")
@click.option("--read-catalog", "-r", is_flag=True,
              help="trust target/catalog.json instead of live schema analysis")
@_required_selection
@click.pass_context
def add_contract(ctx, select, exclude, selector, project_path, read_catalog) -> None:
    """Generate enforced column contracts from live Spark schemas, or from
    target/catalog.json under --read-catalog — no Spark session at all
    (reference main.py:268-316, contractor.py:14-47)."""
    project = SparkProject.load(project_path)
    models = _selected_models(project, select, exclude, selector)
    if not models:
        raise click.ClickException("selection matched no models")
    columns_by_model = _catalog_columns(project, read_catalog)
    changes = ChangeSet()
    for r in models:
        cols = columns_by_model.get(r.name)
        if cols is None:
            raise click.ClickException(f"could not derive schema for {r.name}")
        changes.add(
            generate_contract(r.name, cols, project.root / property_file(r))
        )
    _process(ctx, changes)


@operation.command(name="add-version")
@_required_selection
@click.option("--defined-in", default=None)
@click.pass_context
def op_add_version(ctx, select, exclude, selector, project_path, defined_in) -> None:
    """First version (v=1) for unversioned models (reference
    main.py:318-368, versioner.py:79-134)."""
    project = SparkProject.load(project_path)
    sets = []
    for r in _selected_models(project, select, exclude, selector):
        sets.append(
            add_version(
                r, project.root / property_file(r), (project.root / r.path).parent,
                defined_in=defined_in,
            )
        )
    _process(ctx, *sets)


@operation.command(name="bump-version")
@_required_selection
@_bump_options
@click.option("--defined-in", default=None,
              help="file name for the new version (reference versioner.py:182-186)")
@click.pass_context
def op_bump_version(
    ctx, select, exclude, selector, project_path, latest, increment, defined_in
) -> None:
    """Next version = max+1; latest_version per behavior — default
    prerelease keeps it pinned, --increment advances by 1, --latest pins
    to the new version (reference main.py:370-440, versioner.py:136-212)."""
    behavior = _bump_behavior(latest, increment)
    project = SparkProject.load(project_path)
    sets = []
    for r in _selected_models(project, select, exclude, selector):
        sets.append(
            bump_version(
                r,
                project.root / property_file(r),
                (project.root / r.path).parent,
                behavior=behavior,
                existing_versions=r.meta.get("versions"),
                defined_in=defined_in,
            )
        )
    _process(ctx, *sets)


@operation.command(name="create-group", cls=TupleCompatibleCommand)
@click.argument("name")
@_required_selection
@_owner_options
@click.pass_context
def op_create_group(
    ctx, name, select, exclude, selector, project_path, owner_name, owner_email,
    owner_properties, group_yml_path
) -> None:
    """Group YAML + member access patches (reference main.py:556-629)."""
    project = SparkProject.load(project_path)
    owner = _owner(owner_name, owner_email, owner_properties)
    selected = _select(project, select, exclude, selector)
    path = _group_yml(project, group_yml_path)
    changes = plan_create_group(
        project.manifest,
        name,
        owner,
        selected,
        path,
        lambda r: project.root / property_file(r),
    )
    _process(ctx, changes)


# -- composites ----------------------------------------------------------------


@cli.command(cls=TupleCompatibleCommand)
@click.argument("name")
@_required_selection
@_owner_options
@click.pass_context
def group(
    ctx, name, select, exclude, selector, project_path, owner_name, owner_email,
    owner_properties, group_yml_path
) -> None:
    """create-group + contracts on every protected boundary member
    (reference main.py:632-687)."""
    project = SparkProject.load(project_path)
    owner = _owner(owner_name, owner_email, owner_properties)
    selected = _select(project, select, exclude, selector)
    columns_by_model = _catalog_columns(project, False)
    path = _group_yml(project, group_yml_path)

    def contract_for(r):
        cols = columns_by_model.get(r.name)
        if cols is None:
            return None
        return generate_contract(r.name, cols, project.root / property_file(r))

    changes = group_and_contract(
        project.manifest,
        name,
        owner,
        selected,
        path,
        lambda r: project.root / property_file(r),
        contract_for,
    )
    _process(ctx, changes)


@cli.command()
@_required_selection
@_bump_options
@click.option("--defined-in", default=None)
@click.pass_context
def version(
    ctx, select, exclude, selector, project_path, latest, increment, defined_in
) -> None:
    """Add a version when unversioned, else bump (reference
    main.py:442-553: chains add + bump so the copy source is the moved _v1
    file)."""
    behavior = _bump_behavior(latest, increment)
    project = SparkProject.load(project_path)
    sets = []
    for r in _selected_models(project, select, exclude, selector):
        model_dir = (project.root / r.path).parent
        patch = project.root / property_file(r)
        if r.meta.get("versions") or r.version is not None:
            sets.append(
                bump_version(
                    r, patch, model_dir,
                    behavior=behavior, existing_versions=r.meta.get("versions"),
                    defined_in=defined_in,
                )
            )
        else:
            first = add_version(r, patch, model_dir)
            sets.append(first)
            r.version = 1
            sets.append(
                bump_version(r, patch, model_dir, behavior=behavior,
                             existing_versions=[1], defined_in=defined_in)
            )
    _process(ctx, *sets)


@cli.command()
@_selection
@click.option("--resource-type", default=None)
@click.option("--state", default=None, type=click.Path(exists=True),
              help="prior target/manifest.json for state:modified selection")
def ls(select, exclude, selector, project_path, resource_type, state) -> None:
    """List selected resources (the `dbt ls` analog the reference shells
    into — dbt.py:40-57). Supports state:modified against a prior manifest
    artifact (slim CI)."""
    project = SparkProject.load(project_path)
    selected = _select(project, select, exclude, selector, state=state)
    for uid in sorted(selected):
        r = project.manifest.get(uid)
        if resource_type and (not r or r.resource_type != resource_type):
            continue
        click.echo(uid)


@cli.command()
@click.option("--project-path", default=".", type=click.Path(exists=True))
def docs(project_path) -> None:
    """Generate target/catalog.json (the `dbt docs generate` analog; later
    runs can pass --read-catalog to skip live schema analysis — reference
    docs/examples.md:8)."""
    import json

    project = SparkProject.load(project_path)
    nodes = {
        name: {"columns": {c["name"]: c["data_type"] for c in cols}}
        for name, cols in _catalog_columns(project, False).items()
    }
    out = Path(project_path) / "target"
    out.mkdir(exist_ok=True)
    (out / "catalog.json").write_text(json.dumps({"nodes": nodes}, indent=1))
    click.echo(f"wrote {out / 'catalog.json'} ({len(nodes)} relations)")


# -- engine-side execution -------------------------------------------------------


def _report(what: str, statuses: dict[str, str] | None = None, tests=()) -> None:
    """Echo each model's status, then each test's PASS/FAIL line (with its
    audit relation when failures were stored), and fail naming how many
    ``what`` did not pass."""
    failed = 0
    for name, status in (statuses or {}).items():
        click.echo(f"{name}: {status}")
        failed += status != "ok"
    for res in tests:
        where = f" -> {res.relation}" if res.relation else ""
        click.echo(
            f"{res.name}: "
            f"{'PASS' if res.passed else f'FAIL ({res.failures})'}{where}"
        )
        failed += not res.passed
    if failed:
        raise click.ClickException(f"{failed} {what} failed")


@cli.command()
@click.option("--select", "-s", cls=MultiOption, multiple=True)
@click.option("--exclude", "-e", cls=MultiOption, multiple=True)
@click.option("--project-path", default=".", type=click.Path(exists=True))
@click.option("--warehouse-dir", default=None, type=click.Path())
@click.option("--full-refresh", is_flag=True)
@click.option("--vars", "vars_", default=None, help="YAML dict of vars")
@click.option("--state", default=None, type=click.Path(exists=True),
              help="prior target/manifest.json for state:modified selection")
def run(select, exclude, project_path, warehouse_dir, full_refresh, vars_, state) -> None:
    """Materialize models on Spark in DAG order (the reference shells into
    `dbt run`, dbt.py:36-65; here the engine executes directly). Writes
    target/manifest.json for later state:modified runs."""
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    project = SparkProject.load(
        project_path, vars=load_yaml(vars_) if vars_ else None
    )
    sel: list[str] | None = list(select) or None
    if sel and state:
        sel = sorted(
            select_resources(
                project.manifest, sel, exclude=list(exclude) or None,
                state_artifact=state,
            )
        )
    runner = ProjectRunner(get_spark(app_name="meshify-run"), project, warehouse_dir)
    result = runner.run(select=sel, full_refresh=full_refresh)
    project.manifest.write_artifact(Path(project_path) / "target" / "manifest.json")
    _report("model(s)", result.statuses)


@cli.command()
@click.option("--select", "-s", cls=MultiOption, multiple=True)
@click.option("--project-path", default=".", type=click.Path(exists=True))
@click.option("--warehouse-dir", default=None, type=click.Path())
def snapshot(select, project_path, warehouse_dir) -> None:
    """Run SCD2 snapshots (the `dbt snapshot` analog)."""
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    project = SparkProject.load(project_path)
    runner = ProjectRunner(
        get_spark(app_name="meshify-snapshot"), project, warehouse_dir
    )
    runner.run()  # snapshots may ref models/sources
    result = runner.snapshot(select=list(select) or None)
    _report("snapshot(s)", result.statuses)


@cli.command()
@click.option("--select", "-s", cls=MultiOption, multiple=True)
@click.option("--project-path", default=".", type=click.Path(exists=True))
@click.option("--store-failures", is_flag=True,
              help="persist failing rows to dbt_test__audit_<test> tables")
def test(select, project_path, store_failures) -> None:
    """Run data tests (zero-row = pass) on Spark (reference delegates to
    `dbt test`; compiled semantics in SURVEY.md §2.4)."""
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    project = SparkProject.load(project_path)
    runner = ProjectRunner(get_spark(app_name="meshify-test"), project)
    runner.run(select=list(select) or None)
    results = runner.test(
        select=list(select) or None, store_failures=store_failures
    )
    _report("test(s)", tests=results)


@cli.command()
@click.option("--select", "-s", cls=MultiOption, multiple=True)
@click.option("--project-path", default=".", type=click.Path(exists=True))
@click.option("--warehouse-dir", default=None, type=click.Path())
@click.option("--full-refresh", is_flag=True)
@click.option("--store-failures", is_flag=True)
def build(select, project_path, warehouse_dir, full_refresh, store_failures) -> None:
    """Materialize + test interleaved in DAG order (`dbt build` semantics:
    a failing test skips everything downstream of its model)."""
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    project = SparkProject.load(project_path)
    runner = ProjectRunner(
        get_spark(app_name="meshify-build"), project, warehouse_dir
    )
    result, tests = runner.build(
        select=list(select) or None,
        full_refresh=full_refresh,
        store_failures=store_failures,
    )
    _report("step(s)", result.statuses, tests)


@cli.command("unit-test")
@click.option("--select", "-s", cls=MultiOption, multiple=True)
@click.option("--project-path", default=".", type=click.Path(exists=True))
def unit_test(select, project_path) -> None:
    """Run dbt unit tests (unit_tests: blocks — fixture rows in, expected
    rows out, refs/sources mocked)."""
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    project = SparkProject.load(project_path)
    runner = ProjectRunner(get_spark(app_name="meshify-unit-test"), project)
    results = runner.unit_test(select=list(select) or None)
    _report("unit test(s)", tests=results)


@cli.command()
@click.argument("name")
@click.option("--grain", default=None, help="time grain override (day..year)")
@click.option("--project-path", default=".", type=click.Path(exists=True))
@click.option("--limit", default=20, type=int)
def metric(name, grain, project_path, limit) -> None:
    """Compile + run a declared metric (simple/ratio/derived) over its
    semantic model (SURVEY.md §2.3 M1; the reference only carries metric
    nodes through splits — here the engine executes them)."""
    from dbt_meshify_spark.project.runner import ProjectRunner
    from dbt_meshify_spark.session import get_spark

    project = SparkProject.load(project_path)
    runner = ProjectRunner(get_spark(app_name="meshify-metric"), project)
    runner.run()  # metrics read materialized models
    df = runner.metric_query(name, grain=grain)
    for row in df.orderBy(df.columns[0]).limit(limit).collect():
        click.echo("\t".join(str(v) for v in row))


@cli.command()
@click.argument("name")
@click.option("--sf-dir", default="/root/testdata/sf0.001", type=click.Path(exists=True))
@click.option("--full", is_flag=True, help="also print the full formatted plan")
def explain(name, sf_dir, full) -> None:
    """Physical-plan audit for a declared corpus query: exchange count,
    scan pushdown, broadcast joins, codegen spans, Python/Arrow stages —
    the properties that decide whether the plan survives a 100x scale-up
    (the same checks tests/test_plan_quality.py pins in CI, exposed for
    ad-hoc inspection of new queries)."""
    from dbt_meshify_spark.queries import QUERIES
    from dbt_meshify_spark.session import get_spark

    if name not in QUERIES:
        raise click.ClickException(
            f"unknown query {name!r} — one of: " + ", ".join(sorted(QUERIES))
        )
    spark = get_spark(app_name="meshify-explain")
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = {
        "shuffle exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "broadcast exchanges": plan.count("Exchange SinglePartition")
        + plan.count("BroadcastExchange"),
        "broadcast hash joins": plan.count("BroadcastHashJoin"),
        "sort-merge joins": plan.count("SortMergeJoin"),
        "nested-loop joins": plan.count("BroadcastNestedLoopJoin"),
        "arrow/pandas stages": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas"),
        "row-at-a-time python (BAD)": plan.count("BatchEvalPython"),
        "parquet scans": plan.count("FileScan parquet"),
        "scans with pushed filters": sum(
            1
            for seg in plan.split("PushedFilters: [")[1:]
            if seg.split("]", 1)[0].strip()
        ),
    }
    click.echo(f"plan audit: {name}")
    for k, v in counts.items():
        click.echo(f"  {k}: {v}")
    if full:
        click.echo(plan)


@cli.command()
@click.option("--project-paths", multiple=True, type=click.Path(exists=True))
@click.option("--project-path", default=None, type=click.Path(exists=True))
@click.option(
    "--fmt",
    type=click.Choice(["dot", "json"]),
    default="dot",
    help="graphviz dot (default) or adjacency json",
)
@click.option("--out", default=None, type=click.Path(), help="write here instead of stdout")
def lineage(project_paths, project_path, fmt, out) -> None:
    """Export the model/source DAG — including CROSS-PROJECT edges when
    several projects are given — as graphviz dot or adjacency JSON.
    Models are clustered per project and colored by access (public=green,
    protected=grey, private=red); cross-project ref edges render dashed.
    The visual counterpart of `ls`/`docs` for reviewing a mesh before and
    after a split."""
    import json as _json

    paths = list(project_paths) or [project_path or "."]
    projects = [SparkProject.load(p) for p in paths]
    names = {p.name for p in projects}

    nodes: dict[str, dict] = {}
    edges: list[tuple[str, str, bool]] = []  # src, dst, cross_project
    for proj in projects:
        for uid, r in sorted(proj.manifest.resources.items()):
            if r.resource_type not in ("model", "source", "seed", "snapshot"):
                continue
            nodes[uid] = {
                "name": r.name,
                "project": r.package or proj.name,
                "type": r.resource_type,
                "access": r.access or "protected",
                "group": r.group,
            }
        for child, parents in sorted(proj.manifest.parent_map().items()):
            for parent in parents:
                pk_child = child.split(".")[1] if "." in child else ""
                pk_parent = parent.split(".")[1] if "." in parent else ""
                cross = (
                    pk_child != pk_parent
                    and pk_parent in names
                    and pk_child in names
                )
                edges.append((parent, child, cross))

    known = set(nodes)
    edges = [e for e in edges if e[0] in known and e[1] in known]

    if fmt == "json":
        text = _json.dumps(
            {
                "nodes": nodes,
                "edges": [
                    {"from": a, "to": b, "cross_project": c} for a, b, c in edges
                ],
            },
            indent=2,
            sort_keys=True,
        )
    else:
        color = {"public": "palegreen", "protected": "lightgrey", "private": "lightpink"}
        lines = ["digraph mesh {", "  rankdir=LR;", "  node [shape=box, style=filled];"]
        by_proj: dict[str, list[str]] = {}
        for uid, n in nodes.items():
            by_proj.setdefault(n["project"], []).append(uid)
        for i, (proj_name, uids) in enumerate(sorted(by_proj.items())):
            lines.append(f'  subgraph "cluster_{i}" {{')
            lines.append(f'    label="{proj_name}";')
            for uid in uids:
                n = nodes[uid]
                fill = color.get(n["access"], "lightgrey")
                shape = ', shape=cds' if n["type"] == "source" else ""
                lines.append(
                    f'    "{uid}" [label="{n["name"]}", fillcolor={fill}{shape}];'
                )
            lines.append("  }")
        for a, b, cross in edges:
            style = " [style=dashed, color=blue]" if cross else ""
            lines.append(f'  "{a}" -> "{b}"{style};')
        lines.append("}")
        text = "\n".join(lines) + "\n"

    if out:
        Path(out).write_text(text)
        click.echo(f"wrote {out}")
    else:
        click.echo(text)


@cli.command("dataset-card")
@click.option("--sf-dir", default="/root/testdata/sf0.001", type=click.Path(exists=True))
@click.option("--out", default=None, type=click.Path(), help="write markdown here instead of stdout")
def dataset_card(sf_dir, out) -> None:
    """Generate a markdown dataset card for a documents corpus: size and
    composition by language/source (one ROLLUP pass), quality-score
    quantiles (one sketch pass), exact-duplicate rate, and the per-source
    length distribution — the standard release artifact of a curated
    training set, assembled from the same operators the corpus queries
    use so the card never disagrees with the pipeline."""
    from dbt_meshify_spark.operators.text import doc_fingerprint, quality_score
    from dbt_meshify_spark.queries import QUERIES
    from dbt_meshify_spark.session import get_spark
    from dbt_meshify_spark.sources import load_table

    spark = get_spark(app_name="meshify-card")
    docs = load_table(spark, sf_dir, "documents")

    prof = QUERIES["ext_corpus_profile"](spark, sf_dir).collect()
    total_row = next(r for r in prof if r.lang_g == "ALL")
    lang_rows = [r for r in prof if r.lang_g != "ALL" and r.source_g == "ALL"]
    pair_rows = [r for r in prof if r.lang_g != "ALL" and r.source_g != "ALL"]

    qtiles = quality_score(docs).approxQuantile(
        "quality", [0.1, 0.5, 0.9], 0.001
    )
    n_docs = total_row.n_docs
    n_unique = doc_fingerprint(docs).select("fingerprint").distinct().count()
    dup_rate = 0.0 if n_docs == 0 else 1.0 - n_unique / n_docs

    lines = [
        "# Dataset card",
        "",
        f"- corpus: `{sf_dir}`",
        f"- documents: {n_docs:,}",
        f"- total whitespace tokens: {total_row.total_tokens:,}",
        f"- mean chars/doc: {total_row.avg_chars}",
        f"- exact-duplicate rate (normalized fingerprint): {dup_rate:.2%}",
        f"- quality score p10/p50/p90: {qtiles[0]:.3f} / {qtiles[1]:.3f} / {qtiles[2]:.3f}",
        "",
        "## Composition by language",
        "",
        "| lang | docs | tokens | avg chars |",
        "|---|---|---|---|",
    ]
    for r in sorted(lang_rows, key=lambda r: -r.n_docs):
        lines.append(
            f"| {r.lang_g} | {r.n_docs:,} | {r.total_tokens:,} | {r.avg_chars} |"
        )
    lines += [
        "",
        "## Composition by (language, source)",
        "",
        "| lang | source | docs | tokens |",
        "|---|---|---|---|",
    ]
    for r in sorted(pair_rows, key=lambda r: -r.n_docs)[:20]:
        lines.append(
            f"| {r.lang_g} | {r.source_g} | {r.n_docs:,} | {r.total_tokens:,} |"
        )
    if len(pair_rows) > 20:
        lines.append(f"| … | ({len(pair_rows) - 20} more rows) | | |")

    hist = QUERIES["ext_length_histogram"](spark, sf_dir).collect()
    lines += ["", "## Document length (chars), per source", ""]
    for source in sorted({r.source for r in hist}):
        rows = [r for r in hist if r.source == source]
        peak = max(r.n for r in rows)
        lines.append(f"### {source}")
        lines.append("")
        for r in rows:
            bar = "#" * max(1, round(20 * r.n / peak)) if r.n else ""
            lines.append(
                f"    [{int(r.bucket * 50):>5}-{int((r.bucket + 1) * 50):>5}) "
                f"{r.n:>7,}  {bar}"
            )
        lines.append("")

    # flagship-composition observability: run the training-data build
    # stage by stage and record survivors + wall per stage — the release
    # artifact should show what the curation pipeline did AND what it
    # cost, not just the output mix. The staging is the SHARED
    # training_build_frames helper (the same frames ext_training_data_build
    # declares), so the card cannot drift from the pipeline it documents.
    import time as _time

    from dbt_meshify_spark.operators.pipeline import training_build_frames

    kept, scored, sharded = training_build_frames(docs, pin_scored=True)
    stages: list[tuple[str, int, float]] = []
    t0 = _time.time()
    n_kept = kept.count()
    stages.append(("curate (normalize → lang-ID → quality → dedup → decontam)", n_kept, _time.time() - t0))
    t0 = _time.time()
    n_scored = scored.count()
    stages.append(("DSIR importance weights (target: en)", n_scored, _time.time() - t0))
    t0 = _time.time()
    n_picked = sharded.count()
    stages.append(("budget fill (60k chars) + shard assignment", n_picked, _time.time() - t0))

    lines += [
        "## Training-data build (flagship composition) — stage timings",
        "",
        "| stage | rows out | wall (s) |",
        "|---|---|---|",
    ]
    for label, n_rows, wall in stages:
        lines.append(f"| {label} | {n_rows:,} | {wall:.2f} |")
    lines.append("")

    text = "\n".join(lines) + "\n"
    if out:
        Path(out).write_text(text)
        click.echo(f"wrote {out}")
    else:
        click.echo(text)


@cli.command()
@click.option("--baseline-dir", required=True, type=click.Path(exists=True),
              help="sf-style dir of the BASELINE snapshot (documents.parquet)")
@click.option("--current-dir", required=True, type=click.Path(exists=True),
              help="sf-style dir of the CURRENT snapshot")
@click.option("--buckets", default=10, show_default=True)
def drift(baseline_dir, current_dir, buckets) -> None:
    """Corpus drift report between two snapshots: quality-score PSI
    (distribution shift of the composite quality signal), semantic PSI
    over baseline-frozen IVF cells (topic-mix shift), and the row-level
    diff summary — the three monitoring surfaces of continuous curation
    in one command, with the standard PSI alarm bands
    (<0.1 stable, 0.1-0.25 moderate, >0.25 investigate)."""
    from dbt_meshify_spark.operators.snapshots import (
        diff_summary,
        embedding_cell_psi,
        score_psi,
        snapshot_diff,
    )
    from dbt_meshify_spark.operators.text import quality_score
    from dbt_meshify_spark.session import get_spark
    from dbt_meshify_spark.sources import load_table

    def band(v: float) -> str:
        return "stable" if v < 0.1 else ("moderate" if v < 0.25 else "INVESTIGATE")

    spark = get_spark(app_name="meshify-drift")
    old = load_table(spark, baseline_dir, "documents")
    new = load_table(spark, current_dir, "documents")

    q = score_psi(
        quality_score(old), quality_score(new), "quality", n_buckets=buckets
    ).collect()
    total = q[0]["psi_total"]
    click.echo(f"quality-score PSI: {total:.4f} [{band(total)}]")
    for r in sorted(q, key=lambda r: -abs(r["psi_term"]))[:3]:
        click.echo(
            f"  bucket {r['bucket']}: p_old={r['p_old']:.4f} "
            f"p_new={r['p_new']:.4f} term={r['psi_term']:.4f}"
        )

    try:
        e_old = load_table(spark, baseline_dir, "embeddings")
        e_new = load_table(spark, current_dir, "embeddings")
        s = embedding_cell_psi(e_old, e_new, nlist=min(buckets, 16)).collect()
        st = s[0]["psi_total"]
        click.echo(f"semantic (IVF-cell) PSI: {st:.4f} [{band(st)}]")
    except Exception as ex:  # no embeddings table in one snapshot
        click.echo(f"semantic PSI: skipped ({type(ex).__name__})")

    for r in diff_summary(snapshot_diff(old, new)).collect():
        click.echo(f"docs {r['status']}: {r['n_docs']:,}")


if __name__ == "__main__":
    cli()

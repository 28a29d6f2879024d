"""Jinja compile layer (UD2-UD4, F3, V7).

dbt models are jinja templates over SQL; macros are jinja macros. We compile
with real jinja2 rather than regex so macro-in-macro expansion, kwargs and
defaults behave exactly as in dbt (reference surface:
/root/reference/test-projects/split/split_proj/macros/cents_to_dollars.sql:3-9
calls type_numeric() from another file; jinja block shapes at
/root/reference/dbt_meshify/storage/jinja_blocks.py:20-72).

Scope is the observed dbt surface (SURVEY.md §7.4.2), not all of dbt:
``ref`` (1/2-arg + v=), ``source``, ``var``, ``env_var``, ``config``,
``is_incremental``, ``this``, ``doc``, project macros, and the dbt_utils
builtins the reference corpus uses (generate_surrogate_key, date_spine).

Two readers learn what a model's ``ref``/``source``/``config`` calls
record:

1. Tokens. ``static_calls()`` skips template text to each ``{{``, ``{%``
   or ``{#`` and tokenizes each ``{{ ... }}`` group with one compiled
   regex whose rules are a subset of Jinja's lexer rules, tried in the
   same order (end tag, whitespace, integer, ASCII name, string, ``( ) ,
   =``). It accepts a model only when it is template text and ``{{
   NAME(literal, ..., key=literal, ...) }}`` groups, where a literal is a
   string with no backslash or line break, or a decimal integer without
   leading zeros. A block tag, ``raw`` block or comment, ``{{+``, a
   non-ASCII name, any other token (a float, a sign, a list or dict, a
   filter), an unclosed group, a callee the parser reads as something
   other than a name (``not``, ``true``/``false``/``none``), a positional
   argument after a keyword or a repeated keyword declines. Wherever it
   answers, Jinja's lexer yields the same tokens.
2. Compile. ``compile()`` renders the model with recording resolvers (the
   runner's path, and the only one that produces SQL).

The token reader passes each call to one rule, which accepts calls to
``ref`` (1-2 args, ``v=``/``version=``), ``source`` (2 args), ``config``,
``var`` (1-2 args) or a *safe* macro whose parameters fit the call. A macro
is safe when its defaults are constants and its body is only template
text, its own parameters and such calls to other safe macros (a least
fixpoint over the macro sources' parse tree, so recursion is never safe).
When the token reader declines or that rule rejects a call,
``static_calls()`` returns None and the caller falls back to ``compile()``,
so errors and results for those models are unchanged. An accepted model is
one ``compile()`` renders without error, recording the same refs, sources
and config. ``compile()`` reports any failure as a ``CompileError`` that
names the model.

The macro module is compiled on the first ``compile()``; the macro sources
are parsed when the compiler is built, so a syntax error still fails there,
and a macro source that could fail code generation or rendering is compiled
there too.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple

import jinja2
from jinja2 import nodes


class CompileError(Exception):
    pass


class AccessViolation(CompileError):
    """A ref the runner's access rules forbid, raised by its resolver."""


class SemanticCompileError(Exception):
    """A semantic model or metric spec the measure compiler cannot plan."""


class Ref(NamedTuple):
    """One ``ref()`` call: positional ``args`` ``(name,)`` or ``(project,
    name)``, and the ``v=``/``version=`` pin (None when unpinned)."""

    args: tuple
    version: Any


def _ref_call(args: tuple, kwargs: dict[str, Any]) -> Ref:
    """The one rule both paths record a ``ref()`` call by: the version
    kwarg never joins the positional args."""
    return Ref(tuple(args), kwargs.get("v", kwargs.get("version")))


@dataclass
class ModelCalls:
    """What a model's ``config``/``ref``/``source`` calls record."""

    config: dict[str, Any]
    refs: list[Ref]
    sources: list[tuple[str, str]]


@dataclass
class CompileResult(ModelCalls):
    sql: str


# Builtin macros, provided to every project (public dbt-utils semantics,
# re-expressed for Spark SQL).
_BUILTIN_MACROS = r"""
{% macro generate_surrogate_key(field_list) -%}
md5(concat_ws('-', {%- for f in field_list %}coalesce(cast({{ f }} as string), '_null_'){% if not loop.last %}, {% endif %}{%- endfor %}))
{%- endmacro %}

{% macro date_spine(datepart, start_date, end_date) -%}
select explode(sequence(cast({{ start_date }} as date), cast({{ end_date }} as date), interval 1 {{ datepart }})) as date_{{ datepart }}
{%- endmacro %}

{% macro type_numeric() -%}decimal(16, 2){%- endmacro %}

{% macro type_string() -%}string{%- endmacro %}

{% macro type_timestamp() -%}timestamp{%- endmacro %}
"""


class _This:
    """``{{ this }}`` — the model's own relation (F3 incremental predicate)."""

    def __init__(self, relation: str) -> None:
        self.relation = relation
        self.name = relation.split(".")[-1]

    def __str__(self) -> str:
        return self.relation


# Names compile() binds in a model's context ahead of any macro of the same
# name; keep in step with the context built there.
_CONTEXT_NAMES = frozenset(
    ("config", "ref", "source", "var", "env_var", "is_incremental", "this",
     "doc", "project_name", "dbt_utils", "dbt")
)


class JinjaCompiler:
    """One per project. ``macro_sources`` are raw {% macro %} file bodies."""

    def __init__(
        self,
        project_name: str,
        macro_sources: list[str] | None = None,
        vars: dict[str, Any] | None = None,
    ) -> None:
        self.project_name = project_name
        self.vars = dict(vars or {})
        self.env = jinja2.Environment(undefined=jinja2.Undefined)
        self._macro_src = _BUILTIN_MACROS + "\n" + "\n".join(macro_sources or [])
        self._macro_ctx: dict[str, Any] | None = None
        try:
            tree = self.env.parse(self._macro_src)
        except jinja2.TemplateError as e:
            raise CompileError(f"macro compile failed for {project_name}: {e}") from e
        # macro name -> parameter names, for the macros static_calls() may
        # expand
        self._safe_macros = _safe_macros(tree)
        if not _module_is_inert(tree):
            self._macro_context()

    def _macro_context(self) -> dict[str, Any]:
        """The macros a model's context binds, made on first use."""
        if self._macro_ctx is None:
            try:
                module = self.env.from_string(self._macro_src).make_module()
            except jinja2.TemplateError as e:
                raise CompileError(
                    f"macro compile failed for {self.project_name}: {e}"
                ) from e
            ctx = {
                n: getattr(module, n)
                for n in dir(module)
                if not n.startswith("_")
                and isinstance(getattr(module, n), jinja2.runtime.Macro)
            }
            # dbt_utils.x() spellings resolve to the same macros
            ctx["dbt_utils"] = module
            ctx["dbt"] = module
            self._macro_ctx = ctx
        return self._macro_ctx

    def static_calls(self, raw_code: str) -> ModelCalls | None:
        """The model's calls read off its tokens, or None when only
        ``compile()`` can tell (module docstring)."""
        found = _scanned_calls(raw_code)
        if found is None:
            return None
        calls = ModelCalls(config={}, refs=[], sources=[])
        for call in found:
            if not self._record_static(calls, *call):
                return None
        return calls

    def _record_static(
        self, calls: ModelCalls, name: str, args: list, kwargs: dict[str, Any]
    ) -> bool:
        """Record one plain call as compile() would; False when the call
        is outside the static surface."""
        if name == "ref":
            pin_only = set(kwargs) <= {"v", "version"}
            if not (1 <= len(args) <= 2 and _all_str(args) and pin_only):
                return False
            calls.refs.append(_ref_call(args, kwargs))
        elif name == "source":
            if len(args) != 2 or kwargs or not _all_str(args):
                return False
            calls.sources.append((args[0], args[1]))
        elif name == "config":
            calls.config.update(kwargs)
        elif name == "var":
            if not 1 <= len(args) <= 2 or kwargs or not isinstance(args[0], str):
                return False
        elif name in _CONTEXT_NAMES or name not in self._safe_macros:
            return False
        else:
            return _fits(self._safe_macros[name], len(args), kwargs)
        return True

    def compile(
        self,
        raw_code: str,
        model_name: str,
        resolve_ref: Callable[..., str],
        resolve_source: Callable[[str, str], str],
        this_relation: str | None = None,
        is_incremental: bool = False,
        extra_context: dict[str, Any] | None = None,
    ) -> CompileResult:
        """Render one model. ``resolve_ref(name)`` / ``resolve_ref(proj,
        name)`` with optional ``v=``/``version=`` kwarg returns the relation
        string for the target (and may raise for access violations)."""
        config: dict[str, Any] = {}
        refs: list[Ref] = []
        sources: list[tuple[str, str]] = []

        def _config(*args: Any, **kwargs: Any) -> str:
            config.update(kwargs)
            return ""

        def _ref(*args: str, **kwargs: Any) -> str:
            if len(args) not in (1, 2):
                raise CompileError(
                    f"compile failed for {model_name}: ref() takes 1 or 2 "
                    f"positional arguments, got {len(args)}"
                )
            ref = _ref_call(args, kwargs)
            refs.append(ref)
            return resolve_ref(*ref.args, version=ref.version)

        def _source(source_name: str, table_name: str) -> str:
            sources.append((source_name, table_name))
            return resolve_source(source_name, table_name)

        def _var(name: str, default: Any = None) -> Any:
            return self.vars.get(name, default)

        def _env_var(name: str, default: str | None = None) -> str:
            value = os.environ.get(name, default)
            if value is None:
                raise CompileError(f"env_var {name!r} is not set and has no default")
            return value

        ctx: dict[str, Any] = {
            **self._macro_context(),
            "config": _config,
            "ref": _ref,
            "source": _source,
            "var": _var,
            "env_var": _env_var,
            "is_incremental": lambda: is_incremental,
            "this": _This(this_relation or model_name),
            "doc": lambda _name: "",
            "project_name": self.project_name,
            **(extra_context or {}),
        }

        try:
            rendered = self.env.from_string(raw_code).render(**ctx)
        except CompileError:
            raise  # a resolver's own verdict, e.g. an access violation
        except Exception as e:
            raise CompileError(f"compile failed for {model_name}: {e}") from e
        return CompileResult(
            sql=_tidy(rendered), config=config, refs=refs, sources=sources
        )

    def render_test(
        self,
        template: str,
        test_name: str,
        model_relation: str,
        column_name: str | None = None,
        kwargs: dict[str, Any] | None = None,
    ) -> str:
        """Expand a ``{% test name(model, column_name) %}`` template (D6).

        dbt compiles custom generic tests by calling the test macro with the
        model's relation; we do the same through jinja.
        """
        src = re.sub(r"{%-?\s*test\s+", "{% macro test_", template)
        src = re.sub(r"{%-?\s*endtest\s*-?%}", "{% endmacro %}", src)
        try:
            module = self.env.from_string(src).make_module()
            macro = getattr(module, f"test_{test_name}")
            rendered = macro(model_relation, column_name, **(kwargs or {}))
        except (jinja2.TemplateError, AttributeError, TypeError) as e:
            raise CompileError(f"test template {test_name!r} failed: {e}") from e
        return _tidy(str(rendered))


def _tidy(sql: str) -> str:
    """Collapse the blank lines that config()/macro blocks leave behind."""
    lines = [ln.rstrip() for ln in sql.splitlines()]
    out: list[str] = []
    for ln in lines:
        if ln or (out and out[-1]):
            out.append(ln)
    return "\n".join(out).strip()


# -- static reading of call groups -------------------------------------------

# callee names Jinja's parser reads as an operator or a constant, not a Name
_NOT_CALLEES = frozenset(("not", "true", "false", "True", "False", "none", "None"))
_DECIMAL = re.compile(r"[1-9][0-9]*|0")
_LPAREN, _RPAREN, _COMMA, _ASSIGN = (("operator", op) for op in "(),=")
_NOT_LITERAL = object()
# where Jinja's lexer leaves template text: a variable, block or comment tag
_TAG_START = re.compile(r"\{[{%#]")
# one token inside ``{{ ... }}``, tried in Jinja's rule order: the end tag
# first, so ``}}`` inside a string only ends the group outside that string
_GROUP_TOKEN = re.compile(
    r"(?P<end>-?\}\})|(?P<whitespace>\s+)|(?P<integer>[0-9]+)"
    r"|(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"""|(?P<string>'[^'\\\n\r]*'|"[^"\\\n\r]*")|(?P<operator>[(),=])"""
)


def _scanned_calls(raw_code: str) -> list[tuple[str, list, dict[str, Any]]] | None:
    """The calls of a template made only of text and ``{{ call }}``
    groups, tokenized as Jinja's lexer would; None for any other template
    and for any group holding a token outside ``_GROUP_TOKEN``."""
    found = []
    pos = 0
    while True:
        tag = _TAG_START.search(raw_code, pos)
        if tag is None:
            return found
        pos = tag.end()
        if tag.group()[1] != "{":
            return None  # a block tag, raw block or comment
        if raw_code.startswith("-", pos):
            pos += 1
        elif raw_code.startswith("+", pos):
            return None
        group: list[tuple[str, str]] = []
        while True:
            tok = _GROUP_TOKEN.match(raw_code, pos)
            if tok is None:
                return None  # another token, or the template ends in the group
            pos = tok.end()
            kind = tok.lastgroup
            if kind == "end":
                break
            if kind != "whitespace":
                group.append((kind, tok.group()))
        call = _group_call(group)
        if call is None:
            return None
        found.append(call)


def _group_call(
    group: list[tuple[str, str]],
) -> tuple[str, list, dict[str, Any]] | None:
    """``NAME ( literal, ..., key=literal, ... )`` as (name, args, kwargs),
    with the trailing comma Jinja's parser allows; None for anything else
    and for what the parser would not read as that one plain call."""
    if len(group) < 3 or group[0][0] != "name" or group[1] != _LPAREN:
        return None
    name = group[0][1]
    if group[-1] != _RPAREN or name in _NOT_CALLEES or not name.isidentifier():
        return None
    args: list = []
    kwargs: dict[str, Any] = {}
    i, end = 2, len(group) - 1
    while i < end:
        key = None
        if group[i][0] == "name" and group[i + 1] == _ASSIGN:
            key = group[i][1]
            if key in kwargs or not key.isidentifier():
                return None
            i += 2
        elif kwargs:
            return None  # a positional argument after a keyword
        value = _literal(*group[i]) if i < end else _NOT_LITERAL
        if value is _NOT_LITERAL:
            return None
        if key is None:
            args.append(value)
        else:
            kwargs[key] = value
        i += 1
        if i < end:
            if group[i] != _COMMA:
                return None
            i += 1
    return name, args, kwargs


def _literal(kind: str, value: str) -> Any:
    """The value of a string or decimal integer token, when reading it
    needs no unescaping; ``_NOT_LITERAL`` otherwise."""
    if kind == "string":
        if "\\" in value or "\n" in value or "\r" in value:
            return _NOT_LITERAL
        return value[1:-1]
    if kind == "integer" and _DECIMAL.fullmatch(value):
        return int(value)
    return _NOT_LITERAL


# -- macro safety, read off the macro sources' parse tree ---------------------

# parameter names jinja gives a meaning of its own inside a macro
_SPECIAL_PARAMS = frozenset(("caller", "varargs", "kwargs", "loop"))

# node types whose generated code cannot fail to compile (no filter or test
# lookups, blocks, extends or call blocks)
_INERT_NODES = frozenset((
    nodes.Template, nodes.Macro, nodes.Output, nodes.TemplateData, nodes.Name,
    nodes.Const, nodes.Call, nodes.Keyword, nodes.List, nodes.Tuple,
    nodes.Dict, nodes.Pair, nodes.For, nodes.If, nodes.Assign, nodes.Not,
    nodes.And, nodes.Or, nodes.Compare, nodes.Operand, nodes.Getattr,
    nodes.Getitem, nodes.Concat, nodes.CondExpr, nodes.Add, nodes.Sub,
    nodes.Mul, nodes.Div, nodes.FloorDiv, nodes.Mod, nodes.Neg, nodes.Pos,
))


def _is_const(node: nodes.Node) -> bool:
    """A literal whose generated code evaluates to itself (``1e999``
    parses but generates the undefined name ``inf``)."""
    if isinstance(node, nodes.Const):
        v = node.value
        return (
            v is None
            or isinstance(v, (str, int))
            or (isinstance(v, float) and math.isfinite(v))
        )
    if isinstance(node, (nodes.List, nodes.Tuple)):
        return all(_is_const(item) for item in node.items)
    if isinstance(node, nodes.Dict):
        return all(
            isinstance(p.key, nodes.Const) and _is_const(p.key) and _is_const(p.value)
            for p in node.items
        )
    return False


def _all_str(values: list) -> bool:
    return all(isinstance(v, str) for v in values)


def _plain_call(
    node: nodes.Node,
) -> tuple[str, list, dict[str, Any]] | None:
    """``name(const, ..., key=const, ...)`` as (name, args, kwargs)."""
    if (
        not isinstance(node, nodes.Call)
        or not isinstance(node.node, nodes.Name)
        or node.dyn_args is not None
        or node.dyn_kwargs is not None
        or not all(_is_const(a) for a in node.args)
        or not all(_is_const(k.value) for k in node.kwargs)
    ):
        return None
    kwargs = {k.key: k.value.as_const() for k in node.kwargs}
    if len(kwargs) != len(node.kwargs):
        return None  # a repeated keyword is a SyntaxError in generated code
    return node.node.name, [a.as_const() for a in node.args], kwargs


def _fits(params: tuple[str, ...], nargs: int, kwargs: dict[str, Any]) -> bool:
    """A call jinja's Macro accepts: no surplus positional args, and each
    keyword names a parameter not already passed positionally. Missing
    arguments are undefined and render empty, as compile() does."""
    return nargs <= len(params) and all(k in params[nargs:] for k in kwargs)


def _params(macro: nodes.Macro) -> tuple[str, ...] | None:
    """The macro's parameter names, None when duplicated or special."""
    names = tuple(a.name for a in macro.args)
    if len(set(names)) != len(names) or _SPECIAL_PARAMS & set(names):
        return None
    return names


def _top_level_macros(tree: nodes.Template) -> list[nodes.Macro] | None:
    """The template's macros, None when it holds anything but macros and
    template text at top level."""
    macros = []
    for node in tree.body:
        if isinstance(node, nodes.Macro):
            macros.append(node)
        elif not (
            isinstance(node, nodes.Output)
            and all(isinstance(n, nodes.TemplateData) for n in node.nodes)
        ):
            return None
    return macros


def _safe_macros(tree: nodes.Template) -> dict[str, tuple[str, ...]]:
    """Safe macros (module docstring) -> parameter names, solved as a least
    fixpoint over the last definition of each name."""
    macros = {m.name: m for m in _top_level_macros(tree) or []}
    safe: dict[str, tuple[str, ...]] = {}
    grew = True
    while grew:
        grew = False
        for name, macro in macros.items():
            if name not in safe and _macro_is_safe(macro, safe):
                safe[name] = _params(macro)
                grew = True
    return safe


def _macro_is_safe(macro: nodes.Macro, safe: dict[str, tuple[str, ...]]) -> bool:
    params = _params(macro)
    if params is None or not all(_is_const(d) for d in macro.defaults):
        return False
    for node in macro.body:
        if not isinstance(node, nodes.Output):
            return False
        for expr in node.nodes:
            if isinstance(expr, nodes.TemplateData):
                continue
            if isinstance(expr, nodes.Name) and expr.name in params:
                continue
            call = _plain_call(expr)
            if (
                call is None
                or call[0] in params
                or call[0] not in safe
                or not _fits(safe[call[0]], len(call[1]), call[2])
            ):
                return False
    return True


def _module_is_inert(tree: nodes.Template) -> bool:
    """Whether making the macro module cannot fail: only macros and text at
    top level (nothing runs there), and macros whose generated code always
    compiles. When False the compiler makes the module at once, so a bad
    macro file still fails when the project loads."""
    if _top_level_macros(tree) is None:
        return False
    for node in tree.find_all(nodes.Node):
        if type(node) not in _INERT_NODES:
            return False
        if isinstance(node, nodes.Name) and node.ctx == "store" and node.name == "loop":
            return False
        if isinstance(node, nodes.Call) and len({k.key for k in node.kwargs}) != len(
            node.kwargs
        ):
            return False
        if isinstance(node, nodes.Macro) and _params(node) is None:
            return False
    return True

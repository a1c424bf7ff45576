"""Name-resolution lint over operators/dedup.py, operators/fuzzy.py and
operators/curation.py (static, no Spark session).

``F.col(name)``, ``F.expr(text)``, ``select(name)``, ``selectExpr(name)``
and ``F.min`` / ``F.max`` of a string all PARSE the name, so a dot or a
backtick in a user column (``doc.id``, ``doc`id``) resolves as a struct
access or dies as a syntax error. The safe routes are ``colutils.qcol``
and ``colutils.aliased``. This lint flags the two shapes that bypass
them: an f-string passed to ``F.col`` / ``F.expr``, and a bare function
parameter (or ``*parameter``) passed as a column name to ``select``,
``selectExpr``, ``F.min`` or ``F.max``.
"""

import ast
import os

import pytest

OPERATORS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "omigo_data_analytics_spark", "operators")
DEDUP = os.path.join(OPERATORS, "dedup.py")
FUZZY = os.path.join(OPERATORS, "fuzzy.py")
CURATION = os.path.join(OPERATORS, "curation.py")

_NAME_ARG_METHODS = {"select", "selectExpr"}
_NAME_ARG_FUNCS = {"min", "max"}
_PARSED_FUNCS = {"col", "expr"}


def _is_f(node) -> bool:
    return isinstance(node, ast.Name) and node.id == "F"


def violations(src: str) -> list[str]:
    """``"line: reason"`` for every flagged call in ``src``."""
    out = []

    def visit(node, params):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            a = node.args
            params = params | {x.arg for x in a.posonlyargs + a.args
                               + a.kwonlyargs}
        if isinstance(node, ast.Call) and isinstance(node.func,
                                                     ast.Attribute):
            attr, recv = node.func.attr, node.func.value
            if (_is_f(recv) and attr in _PARSED_FUNCS and node.args
                    and isinstance(node.args[0], ast.JoinedStr)):
                out.append(f"{node.lineno}: f-string passed to F.{attr}")
            if attr in _NAME_ARG_METHODS or (_is_f(recv)
                                             and attr in _NAME_ARG_FUNCS):
                for arg in node.args:
                    name = arg.value if isinstance(arg, ast.Starred) else arg
                    if isinstance(name, ast.Name) and name.id in params:
                        out.append(f"{node.lineno}: parameter {name.id!r} "
                                   f"passed as a column name to {attr}")
        for child in ast.iter_child_nodes(node):
            visit(child, params)

    visit(ast.parse(src), frozenset())
    return out


def test_dedup_resolves_every_name_safely():
    with open(DEDUP) as fh:
        bad = violations(fh.read())
    assert not bad, "operators/dedup.py parses a column name:\n" + \
        "\n".join(bad)


def test_fuzzy_resolves_every_name_safely():
    with open(FUZZY) as fh:
        bad = violations(fh.read())
    assert not bad, "operators/fuzzy.py parses a column name:\n" + \
        "\n".join(bad)


def test_curation_resolves_every_name_safely():
    with open(CURATION) as fh:
        bad = violations(fh.read())
    assert not bad, "operators/curation.py parses a column name:\n" + \
        "\n".join(bad)


@pytest.mark.parametrize("body", [
    'F.col(f"a.{id_col}")',
    'F.expr(f"{id_col} AS x")',
    'df.select(id_col, "key")',
    'df.select(*cols)',
    'df.selectExpr(id_col, "posexplode(g) AS (pos, key)")',
    'F.min(id_col)',
    'F.max(id_col).alias("m")',
])
def test_lint_flags_parsed_names(body):
    src = f"def f(df, id_col, cols):\n    return {body}\n"
    assert violations(src), body


def test_lint_passes_quoted_names():
    src = ("def f(df, id_col):\n"
           "    a = partial(aliased, 'a')\n"
           "    df.select(qcol(id_col), F.min(qcol(id_col)), a(id_col))\n"
           "    return F.col('key'), df.select('key'), F.col(quote(id_col))\n")
    assert violations(src) == []

"""Column-name utilities: regex selection, ':'-namespace management, quoting.

The reference's column model (SURVEY.md §1.2) puts all structure into column
*names*: hierarchical namespaces separated by ':' (e.g. ``petal_length:sum``)
and regex patterns accepted wherever a column list is expected (reference
``__get_matching_cols__`` dataframe.py:5101-5170, ``__is_valid_col_pattern__``
dataframe.py:113-117). All of this is driver-side metadata work — O(#columns),
never touching data — so a plain Python implementation is the right Spark
design too.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

# Namespace separator for derived column names (reference DEFAULT_COL_PREFIX,
# dataframe.py:16).
COL_SEP = ":"

_PATTERN_CHARS = re.compile(r"[*+?\[\]()|^$\\{}]")


def is_pattern(name: str) -> bool:
    """True if ``name`` should be treated as a regex over the header rather
    than a literal column name (reference dataframe.py:113-117 keys on '*')."""
    return bool(_PATTERN_CHARS.search(name))


def quote(name: str) -> str:
    """Backtick-quote a column name for safe use in string expressions.

    Our column names routinely contain ':' (and may contain '.'), which the
    SQL parser would otherwise interpret.
    """
    return "`" + name.replace("`", "``") + "`"


def as_list(cols: str | Iterable[str] | None) -> list[str]:
    if cols is None:
        return []
    if isinstance(cols, str):
        return [cols]
    return list(cols)


def resolve_cols(
    columns: list[str],
    cols: str | Iterable[str],
    *,
    ignore_if_missing: bool = False,
    sort_by_header: bool = False,
) -> list[str]:
    """Expand literal names and regex patterns against ``columns``.

    Matches reference semantics (dataframe.py:5101-5170): literal names must
    exist (error unless ignore_if_missing), patterns are anchored full
    matches, expansion preserves header order for pattern matches and
    argument order for literals, and duplicates are dropped.
    """
    out: list[str] = []
    seen: set[str] = set()
    colset = set(columns)
    for c in as_list(cols):
        if c in colset:
            if c not in seen:
                seen.add(c)
                out.append(c)
            continue
        if is_pattern(c):
            pat = re.compile(c + r"\Z")
            matched = [h for h in columns if pat.match(h)]
            if not matched and not ignore_if_missing:
                raise KeyError(f"column pattern matched nothing: {c!r} in {columns}")
            for h in matched:
                if h not in seen:
                    seen.add(h)
                    out.append(h)
            continue
        if not ignore_if_missing:
            raise KeyError(f"column not found: {c!r} in {columns}")
    if sort_by_header:
        order = {h: i for i, h in enumerate(columns)}
        out.sort(key=lambda h: order.get(h, len(order)))
    return out


def qcol(name: str):
    """F.col with the name QUOTED. Every bare-string entry point in Spark
    (F.col, select, groupBy, partitionBy, orderBy, the bracket accessor)
    PARSES the name, so ':' / '.' / '`' in a real column name — common in
    JSON-flattened telemetry — resolves as a struct access or dies as a
    syntax error. Route every user-supplied column name through this
    (r13 hostile-name sweep of the operator family)."""
    from pyspark.sql import functions as F

    return F.col(quote(name))


def aliased(side: str, name: str):
    """Column ``name`` of the join side aliased ``side``, the name QUOTED:
    ``F.col(f"{side}.{name}")`` parses a dot or backtick in a user column
    as a struct access or a syntax error (r13 hostile-name sweep)."""
    from pyspark.sql import functions as F

    return F.col(side + "." + quote(name))

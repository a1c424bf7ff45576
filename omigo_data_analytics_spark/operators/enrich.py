"""Row-level enrichment via external calls — the web-service operator shape
(reference omigo_ext/ws_ext.py:8-227) and the template for LLM-pipeline
operators (embed / classify / score per row).

Semantics preserved from the reference:
  * `{col}` placeholders in the URL / params resolve from row values
    (ws_ext.py:127-167);
  * outputs land in `<prefix>:response`, `<prefix>:response:status_code`,
    `<prefix>:response:error`, `<prefix>:response:success`
    (ws_ext.py:189-206);
  * the dedup rewrite (`enable_opt_exec`, ws_ext.py:96-114): call once per
    DISTINCT placeholder combination, then join results back to all rows.

Scale design: the call fan-out runs inside `mapInPandas` — each partition
issues its own batched calls (no driver loop, no collect). The dedup
rewrite shrinks the expensive side to distinct keys; the join back to the
full table is a broadcast when the distinct side is small, a shuffle join
otherwise — Spark/AQE picks. The reference's MultiThreadDF.parallelize
(multithread_ext.py:10-103) is subsumed by partition parallelism.

`call_fn` abstracts the transport: it takes the resolved request dict and
returns (text, status_code). The default HTTP transport uses urllib from
the standard library; tests inject deterministic fakes. A rate limit can
be enforced per partition via `calls_per_sec`.
"""

from __future__ import annotations

import json
import re
import time
from collections.abc import Callable, Iterator

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..core.colutils import aliased, qcol, quote
from ..core.dataframe import OmigoDF

_PLACEHOLDER = re.compile(r"\{([^{}]+)\}")


def _find_placeholders(*templates) -> list[str]:
    cols: list[str] = []
    for t in templates:
        if t is None:
            continue
        items = t.values() if isinstance(t, dict) else [t]
        for s in items:
            for m in _PLACEHOLDER.finditer(str(s)):
                if m.group(1) not in cols:
                    cols.append(m.group(1))
    return cols


def _pos(i: int) -> str:
    return f"__in{i}__"


def _positional(df, cols: list[str]):
    """``cols`` of ``df`` renamed ``_pos(0)``, ``_pos(1)``, ...:
    mapInPandas reads each input column through PySpark's bracket
    accessor, which parses a dot or backtick in the name, so the inputs
    cross it under these aliases (``_map_named`` restores the names)."""
    return df.select(*[qcol(c).alias(_pos(i)) for i, c in enumerate(cols)])


def _map_named(src, names: list[str], run, out_fields: list):
    """``src.mapInPandas(run)`` for a ``_positional`` frame whose columns
    stand for ``names``: ``run`` sees every batch under ``names`` and adds
    the ``out_fields`` columns; the result keeps the positional inputs."""
    pos = src.columns
    out_names = pos + [f.name for f in out_fields]

    def _batches(pdf_iter: Iterator) -> Iterator:
        def named():
            for pdf in pdf_iter:
                pdf.columns = names
                yield pdf
        for pdf in run(named()):
            pdf.columns = out_names
            yield pdf

    return src.mapInPandas(_batches,
                           schema=StructType(src.schema.fields + out_fields))


def _join_back(df, enriched, keys: list[str], out_cols: list[str]) -> OmigoDF:
    """The dedup rewrite's join back: every row of ``df`` gets the
    ``out_cols`` of the ``enriched`` distinct-``keys`` frame (keys under
    their ``_positional`` aliases). NULL-SAFE: dropDuplicates keeps a
    NULL key row and a call is issued for it, but a plain equi-join
    would never match it back (NULL != NULL) — those rows would get NULL
    outputs instead of the non-dedup path's values. Sides are aliased and
    names quoted, so a dot or backtick in a column name cannot parse as
    a struct access."""
    cond = [aliased("__src__", c).eqNullSafe(aliased("__enr__", _pos(i)))
            for i, c in enumerate(keys)]
    joined = df.alias("__src__").join(enriched.alias("__enr__"), cond, "left")
    return OmigoDF(joined.select(
        *[aliased("__src__", c) for c in df.columns],
        *[aliased("__enr__", c) for c in out_cols]))


def _resolve(template: str, row: dict) -> str:
    # NULL cells substitute as '' (the reference's TSV string model —
    # tsv.py cells are never None), NOT as Python's str(None): the r11
    # NULL sweep caught literal "None" leaking into request URLs
    def _sub(m):
        v = row.get(m.group(1), "")
        return "" if v is None else str(v)
    return _PLACEHOLDER.sub(_sub, str(template))


def _default_http_call(req: dict) -> tuple[str, int]:
    """Plain stdlib HTTP transport (GET or POST when body present)."""
    import urllib.request

    data = None
    if req.get("body") is not None:
        data = json.dumps(req["body"]).encode() if isinstance(req["body"], dict) \
            else str(req["body"]).encode()
    r = urllib.request.Request(req["url"], data=data,
                               headers=req.get("headers") or {})
    with urllib.request.urlopen(r, timeout=req.get("timeout", 30)) as resp:
        return resp.read().decode("utf-8", "replace"), resp.status


def call_web_service(odf: OmigoDF, url: str, prefix: str,
                     query_params: dict | None = None,
                     header_params: dict | None = None,
                     body_params: dict | None = None,
                     call_fn: Callable[[dict], tuple[str, int]] | None = None,
                     enable_opt_exec: bool = True,
                     calls_per_sec: float | None = None,
                     timeout_sec: int = 30) -> OmigoDF:
    """Enrich every row with the response of an external call.

    Appends `<prefix>:response`, `<prefix>:response:status_code`,
    `<prefix>:response:error`, `<prefix>:response:success` (all strings,
    matching the reference's string-typed columns).
    """
    call_fn = call_fn or _default_http_call
    ph_cols = _find_placeholders(url, query_params, header_params, body_params)
    missing = [c for c in ph_cols if c not in odf.columns]
    if missing:
        raise ValueError(f"placeholder cols not in DataFrame: {missing}")

    out_fields = [f"{prefix}:response", f"{prefix}:response:status_code",
                  f"{prefix}:response:error", f"{prefix}:response:success"]

    def _run(pdf_iter: Iterator) -> Iterator:
        import pandas as pd

        min_interval = 1.0 / calls_per_sec if calls_per_sec else 0.0
        last_call = 0.0
        for pdf in pdf_iter:
            results = {f: [] for f in out_fields}
            for row in pdf.to_dict("records"):
                if min_interval:
                    wait = min_interval - (time.time() - last_call)
                    if wait > 0:
                        time.sleep(wait)
                    last_call = time.time()
                req = {
                    "url": _resolve(url, row),
                    "headers": {k: _resolve(v, row)
                                for k, v in (header_params or {}).items()},
                    "timeout": timeout_sec,
                }
                if query_params:
                    # percent-encode values: a space/&/#/= in a resolved
                    # placeholder would otherwise break or truncate the
                    # query string (http.client rejects raw spaces)
                    from urllib.parse import quote
                    qs = "&".join(f"{k}={quote(str(_resolve(v, row)))}"
                                  for k, v in query_params.items())
                    req["url"] += ("&" if "?" in req["url"] else "?") + qs
                if body_params:
                    req["body"] = {k: _resolve(v, row)
                                   for k, v in body_params.items()}
                try:
                    text, status = call_fn(req)
                    results[out_fields[0]].append(text)
                    results[out_fields[1]].append(str(status))
                    results[out_fields[2]].append("")
                    results[out_fields[3]].append(
                        "1" if 200 <= status < 300 else "0")
                except Exception as exc:  # transport errors become columns
                    results[out_fields[0]].append("")
                    results[out_fields[1]].append("")
                    results[out_fields[2]].append(f"{type(exc).__name__}: {exc}")
                    results[out_fields[3]].append("0")
            for f in out_fields:
                pdf[f] = results[f]
            yield pdf

    out_schema = [StructField(f, StringType()) for f in out_fields]
    if enable_opt_exec and ph_cols:
        # dedup rewrite: call once per distinct placeholder combination
        distinct = _positional(odf.df, ph_cols).dropDuplicates()
        enriched = _map_named(distinct, ph_cols, _run, out_schema)
        return _join_back(odf.df, enriched, ph_cols, out_fields)
    cols = odf.df.columns
    out = _map_named(_positional(odf.df, cols), cols, _run, out_schema)
    return OmigoDF(out.select(
        *[F.col(_pos(i)).alias(c) for i, c in enumerate(cols)],
        *map(qcol, out_fields)))


# ------------------------------------------------------------- LLM template
def enrich_with_model(odf: OmigoDF, input_cols, model_fn: Callable,
                      out_col: str, out_type: str = "string",
                      batch_size: int = 256) -> OmigoDF:
    """Batched model-call enrichment (the embed/classify/score shape):
    `model_fn(list_of_row_dicts) -> list_of_values`, called per Arrow batch
    inside mapInPandas. Deduped on input_cols then joined back, same
    rewrite as call_web_service."""
    in_cols = list(input_cols)
    distinct = _positional(odf.df, in_cols).dropDuplicates()
    out_field = StructType.fromDDL(f"{quote(out_col)} {out_type}").fields[0]

    def _run(pdf_iter: Iterator) -> Iterator:
        for pdf in pdf_iter:
            vals = []
            recs = pdf.to_dict("records")
            for i in range(0, len(recs), batch_size):
                vals.extend(model_fn(recs[i:i + batch_size]))
            pdf[out_col] = vals
            yield pdf

    return _join_back(odf.df, _map_named(distinct, in_cols, _run, [out_field]),
                      in_cols, [out_col])

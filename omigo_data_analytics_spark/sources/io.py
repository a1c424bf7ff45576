"""Sources & sinks: TSV (the reference's native format), CSV, parquet, JSON.

The reference I/O layer (omigo_hydra/hydra.py:49-125) reads one-or-many TSV
files (local or s3://, .gz/.zip) on a thread pool, url-decodes every field
and schema-merges the parts. On Spark all of that is the scan layer:
multi-path reads are parallel tasks, .gz is transparent, schema merge is
unionByName, and s3 is a filesystem URI. URL-decoding stays opt-in because
the convention (SURVEY §1.1) only encodes cells in ``*:url_encoded`` columns.

Parquet reads keep the frame they built (``_read_parquet``): Spark
infers a parquet schema with a one-task job that reads a footer, and
every ``spark.read`` resolves the relation in the JVM and lists the
files. A local table whose files, reader options and session confs are
unchanged is loaded again as the same DataFrame in the same session, and
with the kept schema supplied in another, so neither submits a job.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.dataframe import OmigoDF


def _as_paths(path_or_paths: str | Iterable[str]) -> list[str]:
    if isinstance(path_or_paths, str):
        return [path_or_paths]
    return list(path_or_paths)


def _resolve_zip(p: str) -> str:
    """`.zip` paths extract driver-side to a temp dir (Spark has no zip
    codec; zip archives in the reference are single small exports —
    file_paths_util.py:194-203) and the scan reads the extracted members.

    LOCAL paths only, and the extracted dir must be visible to the
    executors (local mode, or a shared filesystem): a remote scheme
    would hit the local-filesystem zipfile API with a useless
    FileNotFoundError — raise the real limitation instead. The temp dir
    is cleaned up at interpreter exit (it must outlive the lazy scan)."""
    if not p.endswith(".zip"):
        return p
    if "://" in p and not p.startswith("file://"):
        raise ValueError(
            f"read: zip archives must be on the local filesystem, got {p!r}"
            " — Spark has no zip codec, so the archive is extracted with "
            "the driver-local zipfile module; download it first")
    import atexit
    import shutil
    import tempfile
    import zipfile

    tmp = tempfile.mkdtemp(prefix="omigo_zip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    with zipfile.ZipFile(p.removeprefix("file://")) as z:
        z.extractall(tmp)
    return tmp


def read(spark: SparkSession, path_or_paths, sep: str = "\t", header: bool = True,
         do_union: bool = True, url_decode_cols: bool = True) -> OmigoDF:
    """Read TSV/CSV file(s) into an OmigoDF (reference hydra.py:49-125).

    Multiple paths with differing schemas are merged like dfutils.merge
    (union of columns, missing → null). Columns named ``*:url_encoded``
    are decoded and the marker suffix stripped (reference hydra.py:106,
    utils.py:894-905).
    """
    paths = [_resolve_zip(p) for p in _as_paths(path_or_paths)]
    dfs = []
    for p in paths:
        df = (spark.read
              .option("sep", sep)
              .option("header", str(header).lower())
              .option("nullValue", None)
              .csv(p))
        dfs.append(df)
    if do_union or len(dfs) == 1:
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
    else:
        # do_union=False (the reference's default) still concatenates rows,
        # keeping only the common columns — dfutils.merge with
        # def_val_map=None (hydra.py:58-61, dfutils.py:92-185).
        common = [c for c in dfs[0].columns
                  if all(c in d.columns for d in dfs[1:])]
        if not common:
            raise ValueError("read(do_union=False): no common columns across paths")
        out = dfs[0].select(*common)
        for d in dfs[1:]:
            out = out.unionByName(d.select(*common))
    res = OmigoDF(out)
    if url_decode_cols:
        res = res.resolve_url_encoded_cols()
    return res


def read_csv(spark: SparkSession, path_or_paths, header: bool = True) -> OmigoDF:
    """(reference hydra.py:127-140)"""
    return read(spark, path_or_paths, sep=",", header=header, url_decode_cols=False)


# abs paths -> (fingerprint, frame): one entry per path set, replaced
# when the fingerprint or the session changes; the oldest entry goes past
# the cap
_FRAMES: dict = {}
_FRAMES_MAX = 256


def _local_path(p: str) -> str | None:
    """The absolute local path of ``p``, or None when the files cannot be
    listed here: another filesystem's URI, or a glob pattern."""
    if "://" in p or p.startswith("file:"):
        u = urlparse(p)
        if u.scheme != "file" or u.netloc not in ("", "localhost"):
            return None
        p = u.path
    if any(ch in p for ch in "*?[{"):
        return None
    return os.path.abspath(p)


def _listing(root: str) -> tuple | None:
    """(relative path, size, mtime ns) of every file under ``root``,
    sorted; None when ``root`` does not exist."""
    if os.path.isfile(root):
        st = os.stat(root)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(root):
        return None
    out = []
    for d, _, files in os.walk(root, followlinks=True):
        for f in files:
            full = os.path.join(d, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, paths: list[str],
                  options: dict | None = None) -> DataFrame:
    """``spark.read`` with ``options`` of parquet ``paths``, reusing an
    earlier read of the same local files: in the same session its
    DataFrame, in another its inferred schema.

    The key is the absolute paths; the fingerprint is every file's
    relative path, size and mtime under each path, the reader options and
    the session's SQL confs (one round trip), so a rewrite or a conf that
    changes inference (``spark.sql.legacy.parquet.nanosAsLong``) reads
    afresh. Another filesystem's URI, a glob or a missing path reads
    exactly as without the cache."""
    options = options or {}
    local = [_local_path(p) for p in paths]
    listings = None if None in local else [_listing(p) for p in local]
    if not paths or listings is None or None in listings:
        return spark.read.options(**options).parquet(*paths)
    key = tuple(local)
    fingerprint = (tuple(listings),
                   tuple(sorted((k, repr(v)) for k, v in options.items())),
                   spark._jsparkSession.conf().getAll().toString())
    hit = _FRAMES.get(key)
    kept = hit[1] if hit is not None and hit[0] == fingerprint else None
    if kept is not None and kept.sparkSession is spark:
        return kept
    reader = spark.read.options(**options)
    df = (reader if kept is None else reader.schema(kept.schema)).parquet(*paths)
    df.schema   # fetched now: another session may read with it later
    _FRAMES.pop(key, None)
    if len(_FRAMES) >= _FRAMES_MAX:
        del _FRAMES[next(iter(_FRAMES))]
    _FRAMES[key] = (fingerprint, df)
    return df


def read_parquet(spark: SparkSession, path_or_paths) -> OmigoDF:
    return OmigoDF(_read_parquet(spark, _as_paths(path_or_paths)))


def read_json(spark: SparkSession, path_or_paths, schema=None) -> OmigoDF:
    paths = _as_paths(path_or_paths)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return OmigoDF(r.json(*paths))


def write(xdf: OmigoDF, path: str, sep: str = "\t", mode: str = "overwrite",
          single_file: bool = False) -> None:
    """Write TSV (reference hydra.py:7-27). `.gz` extension → gzip codec,
    `.zip` → single-member zip archive, matching file_io_wrapper.py:46-70.
    single_file coalesces to one part — only for small exports (the
    reference always wrote one file). Zip is inherently a single-file
    driver-side export (Spark has no zip codec); the distributed formats
    are tsv/gz/parquet."""
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    if path.endswith(".zip"):
        return write_zip(xdf, path, sep=sep)
    writer = df.coalesce(1).write if single_file else df.write
    w = writer.mode(mode).option("sep", sep).option("header", "true")
    if path.endswith(".gz"):
        w = w.option("compression", "gzip")
    w.csv(path)


def write_zip(xdf: OmigoDF, path: str, sep: str = "\t") -> None:
    """`.tsv.zip` write parity (reference file_io_wrapper.py:46-70: zip
    archive with one TSV member named like the file without '.zip').
    Spark writes the TSV part distributed-then-coalesced to a temp dir;
    the archive itself is assembled driver-side — zip exports in the
    reference are small single-file artifacts, not a scale path."""
    import glob
    import os as _os
    import shutil
    import tempfile
    import zipfile

    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    tmp = tempfile.mkdtemp(prefix="omigo_zipw_")
    try:
        (df.coalesce(1).write.mode("overwrite")
           .option("sep", sep).option("header", "true").csv(tmp))
        parts = sorted(glob.glob(_os.path.join(tmp, "part-*")))
        member = _os.path.basename(path)[:-len(".zip")] or "data.tsv"
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
            z.write(parts[0], arcname=member)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_parquet(xdf: OmigoDF, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(xdf: OmigoDF, path: str, mode: str = "overwrite",
               partition_by: list[str] | None = None,
               compression: str | None = None) -> None:
    """JSON-lines write (symmetry with read_json; one object per line,
    splittable unless compressed with gzip — pass compression only for
    export artifacts, not for data meant to be re-scanned at scale)."""
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_orc(spark: SparkSession, path_or_paths) -> OmigoDF:
    """ORC scan (columnar alternate to parquet; same pushdown/pruning)."""
    paths = _as_paths(path_or_paths)
    return OmigoDF(spark.read.orc(*paths))


def write_orc(xdf: OmigoDF, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_text(spark: SparkSession, path_or_paths, whole_file: bool = False,
              path_col: str = "path", text_col: str = "text") -> OmigoDF:
    """Raw text ingestion for document corpora: one row per LINE
    (default) or one row per FILE (``whole_file=True`` — the shape an
    LLM training-data pipeline wants for .txt/.md corpora: each file
    becomes one document, its source path attached for provenance /
    dedup keys). Returns (path_col, text_col).

    Scale shape: line mode splits files per block like any text scan;
    whole-file mode is one task per file and buffers each file in one
    row — right for many small-to-medium documents, wrong for a
    100 GB single file (chunk those upstream, or use line mode +
    ``operators.text.chunk_documents``). Compressed inputs (.gz)
    decode per file in both modes."""
    paths = _as_paths(path_or_paths)
    # wholetext must go as the reader-method parameter: a
    # .option("wholetext", ...) on the DataFrameReader is silently
    # ignored by .text() (verified against pyspark 4.1)
    df = spark.read.text(paths, wholetext=bool(whole_file))
    return OmigoDF(df.select(F.input_file_name().alias(path_col),
                             F.col("value").alias(text_col)))


def write_text(xdf: OmigoDF, path: str, text_col: str = "text",
               mode: str = "overwrite", compression: str | None = None,
               single_file: bool = False) -> None:
    """Raw text export (read_text symmetry): writes ``text_col`` one
    row per line, no header/quoting — the corpus hand-off shape for
    external tokenizers/trainers that eat plain .txt. The column must
    be the only thing exported (Spark's text sink is single-column by
    design); project first if you need provenance kept elsewhere.
    Line-oriented, so a value with EMBEDDED newlines splits into
    multiple rows on re-read — export documents that keep newlines as
    json/parquet instead, or normalize whitespace first. NULL values
    export as EMPTY LINES (text files cannot represent NULL; '' and
    NULL merge on re-read) — filter ``text_col IS NOT NULL`` first if
    the distinction matters downstream (r11 NULL sweep)."""
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    out = df.select(F.col(text_col).cast("string").alias("value"))
    writer = out.coalesce(1).write if single_file else out.write
    w = writer.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_binary(spark: SparkSession, path_or_paths,
                path_glob_filter: str | None = None,
                recursive: bool = False) -> OmigoDF:
    """Binary-file ingestion (Spark's built-in ``binaryFile`` source):
    one row per file with (path, modificationTime, length, content) —
    ``content`` is the opaque ``binary`` column the multimodal
    operators (``operators.multimodal``: attach_media_metadata,
    decode_image, sample_frames) take as input, so
    read_binary → attach_media_metadata → decode is the end-to-end
    media ingestion path. ``path_glob_filter`` selects by extension
    (e.g. ``"*.png"``), ``recursive`` walks nested dirs.

    Scale shape: one task per file, the whole payload in one row —
    sized for image/audio-clip corpora (KB-MB files). The source
    refuses files over spark.sql.sources.binaryFile.maxLength (2 GB
    hard cap); giant media belongs in chunked/container formats."""
    paths = _as_paths(path_or_paths)
    r = spark.read.format("binaryFile")
    if path_glob_filter:
        r = r.option("pathGlobFilter", path_glob_filter)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return OmigoDF(r.load(paths))


def read_xml(spark: SparkSession, path_or_paths, row_tag: str = "row",
             schema=None) -> OmigoDF:
    """XML scan via Spark 4's built-in xml source (one DataFrame row per
    ``row_tag`` element; schema inferred unless given). XML is a
    row-oriented text format — files split per file, not per block, so
    at scale land many medium files rather than one giant document.
    Beyond the reference's format list (hydra reads delimited text
    only); included so feeds that arrive as XML don't need a
    pre-conversion hop."""
    paths = _as_paths(path_or_paths)
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    # load(paths) with the LIST, never load(*paths): load's second
    # positional parameter is `format`, so unpacking a two-path list
    # would silently override format="xml" with the second path
    return OmigoDF(r.load(paths))


def write_xml(xdf: OmigoDF, path: str, row_tag: str = "row",
              root_tag: str = "rows", mode: str = "overwrite",
              single_file: bool = False) -> None:
    """XML write (Spark 4 built-in). ``single_file`` coalesces to one
    part for small exports, matching the tsv writer's convention."""
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    writer = df.coalesce(1).write if single_file else df.write
    (writer.mode(mode).format("xml")
     .option("rowTag", row_tag).option("rootTag", root_tag).save(path))


def write_bucketed(xdf: OmigoDF, table_name: str, bucket_cols,
                   num_buckets: int = 64, sort_cols=None,
                   mode: str = "overwrite", fmt: str = "parquet") -> None:
    """Persist as a bucketed table: rows hash-partitioned into
    ``num_buckets`` files per partition on ``bucket_cols`` at WRITE time.
    Joins/aggregations between tables bucketed the same way on the join
    key run WITHOUT a shuffle — the 100 TB co-located-join pattern the
    runtime repartition can't give you across jobs. Requires a table
    (bucket metadata lives in the catalog), hence saveAsTable."""
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = (df.write.mode(mode).format(fmt)
           .bucketBy(num_buckets, cols[0], *cols[1:]))
    if sort_cols:
        sc = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(sc[0], *sc[1:])
    w.saveAsTable(table_name)


def zorder_key(df: DataFrame, cols, bits: int = 8):
    """Z-order (Morton) key column over ``cols``: each column maps to a
    2^bits-bucket rank via its own approx-quantile boundaries (so skewed
    columns still spread evenly), and the bucket indices bit-interleave
    into one BIGINT. Range-clustering on this key gives every output
    file a small hyper-rectangle of the multi-column space — footer
    min/max stats then skip files for predicates on ANY of the columns,
    the multi-dimensional layout Delta/Iceberg call Z-ORDER, here as a
    plain column expression over plain parquet.

    The boundary list (≤ (2^bits - 1) * n_cols doubles) is computed by
    one approx_percentile aggregate and ridden into the plan as
    literals — the IVF-centroid pattern; nothing corpus-sized touches
    the driver. Bucketing is size(filter(boundaries, b -> b <= x)) —
    O(2^bits) codegen comparisons per row, no shuffle."""
    from ..core import colutils
    cols = [cols] if isinstance(cols, str) else list(cols)
    n = 1 << bits
    qs = [i / n for i in range(1, n)]
    # backtick-quote inside expressions: this library's column names
    # routinely contain ':' which the SQL parser would otherwise eat
    row = df.agg(*[
        F.expr(f"approx_percentile(CAST({colutils.quote(c)} AS DOUBLE), "
               f"array({', '.join(str(q) for q in qs)}), 10000)").alias(c)
        for c in cols]).first()
    parts = []
    for ci, c in enumerate(cols):
        bounds = row[c]
        if bounds is None:
            parts.append(F.lit(0))
            continue
        blit = "array(" + ", ".join(repr(float(b)) for b in bounds) + ")"
        bucket = (f"size(filter({blit}, "
                  f"b -> b <= CAST({colutils.quote(c)} AS DOUBLE)))")
        # interleave: bit i of this column lands at position i*n_cols+ci
        shifted = " + ".join(
            f"(shiftleft(CAST(shiftright({bucket}, {i}) & 1 AS BIGINT), "
            f"{i * len(cols) + ci}))" for i in range(bits))
        parts.append(F.expr(shifted))
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out.cast("long")


def write_clustered(xdf: OmigoDF, path: str, cluster_by=None,
                    num_files: int | None = None, target_file_mb: int = 128,
                    mode: str = "overwrite", fmt: str = "parquet",
                    partition_by: list[str] | None = None,
                    zorder=None, zorder_bits: int = 8) -> int:
    """Range-clustered write: repartitionByRange + sortWithinPartitions on
    ``cluster_by`` so each output file holds a contiguous key range. The
    footer min/max statistics then let ANY later reader (Spark, DuckDB,
    Trino) skip whole files/row groups for selective key predicates —
    the single-key data-layout optimization that makes a 100 TB table
    queryable by key at interactive cost without a table format.
    repartitionByRange samples the key distribution, so skewed keys
    still yield balanced files (equal keys always co-locate).

    ``num_files`` defaults to the optimizer's size estimate over
    ``target_file_mb`` — sized so one file is one comfortable task read.
    Returns the file count used. Also fixes small-file proliferation:
    compacting a directory of shards is read → write_clustered.

    ``zorder=[cols...]`` clusters on the Morton key from ``zorder_key``
    instead of a lexicographic range: every file becomes a small
    hyper-rectangle, so selective predicates on ANY z-ordered column
    skip files (lexicographic multi-key clustering only helps the
    leading column). Mutually exclusive with ``cluster_by``."""
    df = xdf.df if isinstance(xdf, OmigoDF) else xdf
    if (cluster_by is None) == (zorder is None):
        raise ValueError("write_clustered: pass exactly one of "
                         "cluster_by / zorder")
    if num_files is None:
        est = int(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes())
        # Sources without stats (JDBC, RDD-backed plans) report the
        # spark.sql.defaultSizeInBytes sentinel (Long.MaxValue by default)
        # — a ~7e10-partition repartitionByRange. Only then fall back to
        # the physical partition count (df.rdd finalizes AQE stages, so
        # it's evaluated exclusively on this branch); a genuinely large
        # estimate is trusted — that's the documented sizing.
        try:
            sentinel = int(df.sparkSession.conf.get(
                "spark.sql.defaultSizeInBytes", str(2**63 - 1)))
        except ValueError:  # byte-suffix form ("1GB") — not the sentinel
            sentinel = 2**63 - 1
        if est >= sentinel:
            num_files = max(1, df.rdd.getNumPartitions())
        else:
            num_files = max(1, -(-est // (target_file_mb * 1024 * 1024)))
    if zorder is not None:
        key = zorder_key(df, zorder, bits=zorder_bits)
        out = (df.withColumn("__zk__", key)
                 .repartitionByRange(num_files, F.col("__zk__"))
                 .sortWithinPartitions("__zk__")
                 .drop("__zk__"))
    else:
        cols = ([cluster_by] if isinstance(cluster_by, str)
                else list(cluster_by))
        out = (df.repartitionByRange(num_files, *cols)
                 .sortWithinPartitions(*cols))
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    getattr(w, "orc" if fmt == "orc" else "parquet")(path)
    return num_files


def read_table(spark: SparkSession, table_name: str) -> OmigoDF:
    """Catalog table read (bucket metadata preserved — joins on the
    bucket key skip the exchange)."""
    return OmigoDF(spark.table(table_name))


def from_pandas_df(spark: SparkSession, pdf) -> OmigoDF:
    """(reference dataframe.py:5543-5579)"""
    return OmigoDF(spark.createDataFrame(pdf))


def from_maps(spark: SparkSession, maps: list[dict]) -> OmigoDF:
    """list-of-dicts → table (reference dataframe.py:5581-5611)."""
    keys = sorted({k for m in maps for k in m})
    rows = [tuple("" if m.get(k) is None else str(m.get(k)) for k in keys) for m in maps]
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(k, T.StringType()) for k in keys])
    return OmigoDF(spark.createDataFrame(rows, schema))


def split_headers_in_common_and_diff(df_list) -> tuple[list[str], list[str]]:
    """(sorted all columns, sorted columns not present in every frame) —
    reference dfutils.py:65-83. Pure schema metadata; no jobs run."""
    counts: dict[str, int] = {}
    for xdf in df_list:
        for h in xdf.df.columns:
            counts[h] = counts.get(h, 0) + 1
    non_common = [k for k, v in counts.items() if v != len(df_list)]
    return sorted(counts.keys()), sorted(non_common)


def get_diffs_in_headers(df_list) -> list[str]:
    """Columns missing from at least one frame (reference dfutils.py:86-89)."""
    return split_headers_in_common_and_diff(df_list)[1]


def load_from_array_of_map(spark: SparkSession, map_arr: list[dict]) -> OmigoDF:
    """list-of-dicts → string-typed table with the reference's value-typing
    rules (dfutils.py:189-255): list values comma-join, dict values become
    url-encoded JSON under a ``<key>:json_encoded`` column, everything else
    stringifies; columns are the sorted union of keys, absent values ''.
    (The reference also routes every key/value through its whitespace
    cleaner, which is currently a documented no-op — utils.py:553-555.)"""
    import json as _json
    import urllib.parse as _up

    cleaned = []
    for mp in map_arr:
        mp2 = {}
        for k, v in mp.items():
            if isinstance(v, dict):
                mp2[f"{k}:json_encoded"] = _up.quote_plus(_json.dumps(v))
            elif isinstance(v, list):
                mp2[k] = ",".join(str(t) for t in v)
            else:
                mp2[k] = v
        cleaned.append(mp2)
    return from_maps(spark, cleaned)


def read_zip(spark: SparkSession, path: str, sep: str = "\t",
             header: bool = True) -> OmigoDF:
    """`.zip` TSV read (reference file_paths_util.py:194-203). `read`
    dispatches `.zip` paths automatically; this remains as the explicit
    named entry point."""
    return read(spark, path, sep=sep, header=header)


def read_url_as_df(spark: SparkSession, url: str, sep: str | None = None,
                   query_params: dict | None = None, headers: dict | None = None,
                   body=None, method: str | None = None,
                   username: str | None = None, password: str | None = None,
                   api_token: str | None = None, timeout: int = 120) -> OmigoDF:
    """Web URL → table (reference wsclient.py:199-263): driver-side fetch
    (the payload is a single small document by construction), parsed and
    parallelized via createDataFrame. file:// URLs work offline.

    Parity with the reference: query_params are appended, method defaults
    to GET (POST when a body is given or method='POST'), basic auth /
    bearer api_token headers, transparent .gz payloads, and separator
    sniffing — explicit ``sep`` wins, else tab if the payload has tabs,
    else comma for .csv extensions or comma-bearing headers."""
    import gzip as _gzip
    import urllib.parse
    import urllib.request

    if query_params:
        glue = "&" if "?" in url else "?"
        url = url + glue + urllib.parse.urlencode(query_params)
    hdrs = dict(headers or {})
    if username is not None and password is not None:
        import base64 as _b64

        tok = _b64.b64encode(f"{username}:{password}".encode()).decode()
        hdrs.setdefault("Authorization", f"Basic {tok}")
    elif api_token is not None:
        hdrs.setdefault("Authorization", f"Bearer {api_token}")
    data = None
    if body is not None:
        data = body.encode() if isinstance(body, str) else body
    req = urllib.request.Request(
        url, data=data, headers=hdrs,
        method=(method or ("POST" if data is not None else "GET")).upper())
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        raw = resp.read()
        status = getattr(resp, "status", None)  # None for file:// responses
    if status is not None and status != 200:
        raise ValueError(f"read_url_as_df failed: status {status} at {url}")
    if url.split("?")[0].endswith(".gz") or raw[:2] == b"\x1f\x8b":
        raw = _gzip.decompress(raw)
    text = raw.decode("utf-8", "replace")
    lines = [ln for ln in text.splitlines() if ln != ""]
    if not lines:
        raise ValueError(f"empty document at {url}")
    if sep is None:
        # extension is authoritative; content sniffing only as fallback and
        # only on the header line (a CSV body with one embedded tab must not
        # flip the whole document to TSV)
        base = url.split("?")[0]
        if base.endswith((".tsv", ".tsv.gz")):
            sep = "\t"
        elif base.endswith((".csv", ".csv.gz")):
            sep = ","
        elif "\t" in lines[0]:
            sep = "\t"
        elif "," in lines[0]:
            sep = ","
        else:
            sep = "\t"
    cols = lines[0].split(sep)
    rows = [tuple(ln.split(sep)) for ln in lines[1:]]
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
    return OmigoDF(spark.createDataFrame(rows, schema))


def read_url_response(url: str, query_params: dict | None = None,
                      headers: dict | None = None, body=None,
                      username: str | None = None,
                      password: str | None = None,
                      api_token: str | None = None, timeout: int = 120,
                      method: str | None = None,
                      num_retries: int = 3,
                      retry_sleep_sec: float = 1.0) -> tuple[str, int, str]:
    """(reference wsclient.py:130-170) fetch → (text, status, error_msg):
    never raises for HTTP errors, returns ("", status, message) instead,
    and retries 429/503 with linear backoff like the reference. Driver-
    side by design (one small document); bulk ingestion is
    `sources/rest.PartitionedRestSource`."""
    import time as _time
    import urllib.error
    import urllib.parse
    import urllib.request

    if query_params:
        glue = "&" if "?" in url else "?"
        url = url + glue + urllib.parse.urlencode(query_params)
    hdrs = dict(headers or {})
    if username is not None and password is not None:
        import base64 as _b64

        tok = _b64.b64encode(f"{username}:{password}".encode()).decode()
        hdrs.setdefault("Authorization", f"Basic {tok}")
    elif api_token is not None:
        hdrs.setdefault("Authorization", f"Bearer {api_token}")
    data = body.encode() if isinstance(body, str) else body
    req = urllib.request.Request(
        url, data=data, headers=hdrs,
        method=(method or ("POST" if data is not None else "GET")).upper())
    for attempt in range(num_retries + 1):
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                raw = resp.read()
                status = getattr(resp, "status", None) or 200
            return raw.decode("utf-8", "replace"), int(status), ""
        except urllib.error.HTTPError as e:
            if e.code in (429, 503) and attempt < num_retries:
                _time.sleep(retry_sleep_sec * (attempt + 1))
                continue
            return "", int(e.code), str(e)
        except Exception as e:  # noqa: BLE001 — URL/socket errors
            return "", 500, str(e)
    return "", 500, "retries exhausted"


def read_url_json(spark: SparkSession, url: str, **kwargs) -> OmigoDF:
    """(reference wsclient.py:94-128) JSON URL → table with columns
    (json_encoded, status_code, error_msg): a top-level list flattens to
    one row per element, a dict is one row, each element url-encoded
    JSON under the ``json_encoded`` convention — feed `explode_json` to
    expand. Errors land as data rows (status_code '0' + message), not
    exceptions, exactly like the reference."""
    import json as _json
    import urllib.parse as _up

    text, status, err = read_url_response(url, **kwargs)
    rows = []
    if status == 200:
        try:
            obj = _json.loads(text)
        except ValueError:
            obj = None
        if isinstance(obj, list):
            rows = [( _up.quote(_json.dumps(v).replace("\n", " ")),
                     str(status), str(err)) for v in obj]
        elif isinstance(obj, dict):
            rows = [(_up.quote(_json.dumps(obj).replace("\n", " ")),
                     str(status), str(err))]
        else:
            rows = [("", "0", f"Unable to parse the json response: {text}")]
    else:
        rows = [("", "0", "Unable to parse the json response: "
                 + _up.quote(text).replace("\n", " ") + f" ({err})")]
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in ("json_encoded", "status_code",
                                     "error_msg")])
    return OmigoDF(spark.createDataFrame(rows, schema))


def events_ts(df: DataFrame) -> DataFrame:
    """The events table's ``ts`` as a timestamp column. The shipped events
    files store ``timestamp[us]``, which Spark reads as timestamp_ntz and
    which passes through unchanged. A file that stores TIMESTAMP(NANOS)
    reads as a bigint of nanoseconds under the nanosAsLong conf (set by
    prepare_session) and converts via timestamp_micros(ns div 1000)."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


def load_testdata(spark: SparkSession, sf_dir: str, table: str) -> OmigoDF:
    """Load one synthetic testdata table; the events table's ``ts`` comes
    back as a timestamp (``events_ts``)."""
    from ..session import prepare_session

    prepare_session(spark)
    df = _read_parquet(spark, [os.path.join(sf_dir, f"{table}.parquet")])
    return OmigoDF(events_ts(df) if table == "events" else df)


# ---------------------------------------------------------- constructors
# Module-level constructor parity (reference dataframe.py:5696-5737).

def new_df(spark: SparkSession, header_fields: list[str],
           data_fields: list[list]) -> OmigoDF:
    """(reference dataframe.py:5730-5731) header + row-lists → table,
    all-string columns (the reference's cell model)."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType())
                           for c in header_fields])
    rows = [tuple("" if v is None else str(v) for v in r)
            for r in data_fields]
    return OmigoDF(spark.createDataFrame(rows, schema))


def new_with_cols(spark: SparkSession, header_fields: list[str],
                  data_fields: list[list] | None = None) -> OmigoDF:
    """(reference dataframe.py:5733-5734)"""
    return new_df(spark, header_fields, data_fields or [])


def create_empty(spark: SparkSession) -> OmigoDF:
    """(reference dataframe.py:5736-5737) zero columns, zero rows."""
    return OmigoDF(spark.createDataFrame([], "struct<>"))


def from_header_data(spark: SparkSession, header: str,
                     data: list[str]) -> OmigoDF:
    """(reference dataframe.py:5709-5712) tab-joined header + tab-joined
    row strings."""
    return new_df(spark, header.split("\t"),
                  [t.split("\t") for t in data])


def from_tsv_new_with_cols(spark: SparkSession, header_fields: list[str],
                           data: list[str] | None = None) -> OmigoDF:
    """(reference dataframe.py:5726-5728)"""
    return new_df(spark, header_fields,
                  [t.split("\t") for t in (data or [])])


def read_url_as_tsv(spark: SparkSession, url: str, **kwargs) -> OmigoDF:
    """Deprecated reference alias (dfutils.py:269-271) of the live
    read_url_as_df."""
    return read_url_as_df(spark, url, **kwargs)


def from_df(spark: SparkSession, pdf) -> OmigoDF:
    """Deprecated reference alias (dataframe.py:5539-5541) of
    from_pandas_df."""
    return from_pandas_df(spark, pdf)

"""Source/sink tests: TSV round-trip, gz, zip, url, date-partitioned scans
with partition pruning, read-with-pushdown."""

import os
import shutil
import tempfile
import zipfile

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.sources import etl as ETL
from omigo_data_analytics_spark.sources import io as IO


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="omigo_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_tsv_roundtrip_and_gz(spark, tmpdir):
    df = OmigoDF(spark.createDataFrame([(1, "a b"), (2, "cé")], ["id", "v"]))
    IO.write(df, f"{tmpdir}/plain")
    back = IO.read(spark, f"{tmpdir}/plain")
    assert sorted((r["id"], r["v"]) for r in back.df.collect()) == \
        [("1", "a b"), ("2", "cé")]
    IO.write(df, f"{tmpdir}/z.gz")
    backgz = IO.read(spark, f"{tmpdir}/z.gz")
    assert backgz.num_rows() == 2


def test_zip_read(spark, tmpdir):
    inner = f"{tmpdir}/data.tsv"
    with open(inner, "w") as f:
        f.write("id\tv\n1\tx\n2\ty\n")
    zp = f"{tmpdir}/data.tsv.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.write(inner, "data.tsv")
    out = IO.read_zip(spark, zp)
    assert sorted(r["v"] for r in out.df.collect()) == ["x", "y"]


def test_read_multi_path_union_and_intersect(spark, tmpdir):
    # two parts with differing schemas: common cols = (id, v)
    with open(f"{tmpdir}/a.tsv", "w") as f:
        f.write("id\tv\textra_a\n1\tx\tp\n2\ty\tq\n")
    with open(f"{tmpdir}/b.tsv", "w") as f:
        f.write("id\tv\textra_b\n3\tz\tr\n")
    # do_union=True: union of columns, missing -> null
    u = IO.read(spark, [f"{tmpdir}/a.tsv", f"{tmpdir}/b.tsv"], do_union=True)
    assert sorted(u.columns) == ["extra_a", "extra_b", "id", "v"]
    assert u.num_rows() == 3
    # do_union=False (reference default, hydra.py:58-61): row concat keeping
    # only the common columns — NOT a cross join
    i = IO.read(spark, [f"{tmpdir}/a.tsv", f"{tmpdir}/b.tsv"], do_union=False)
    assert i.columns == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in i.df.collect()) == \
        [("1", "x"), ("2", "y"), ("3", "z")]


def test_read_url_file_scheme(spark, tmpdir):
    p = f"{tmpdir}/doc.tsv"
    with open(p, "w") as f:
        f.write("a\tb\n1\t2\n3\t4\n")
    out = IO.read_url_as_df(spark, f"file://{p}")
    assert out.columns == ["a", "b"]
    assert out.num_rows() == 2


def test_read_url_csv_with_embedded_tab_stays_csv(spark, tmpdir):
    # a .csv whose BODY contains a tab must still parse as CSV (the sniffer
    # checks the extension first and only looks at the header line)
    p = f"{tmpdir}/doc.csv"
    with open(p, "w") as f:
        f.write("a,b\n1,has\ttab\n2,y\n")
    out = IO.read_url_as_df(spark, f"file://{p}")
    assert out.columns == ["a", "b"] and out.num_rows() == 2
    assert sorted(r["b"] for r in out.df.collect()) == ["has\ttab", "y"]
    # extensionless with a tab-separated header sniffs TSV from line 1 only
    p2 = f"{tmpdir}/noext"
    with open(p2, "w") as f:
        f.write("x\ty\n1\t2\n")
    out2 = IO.read_url_as_df(spark, f"file://{p2}")
    assert out2.columns == ["x", "y"]


def test_bucketed_join_skips_shuffle(spark):
    """Two tables bucketed on the join key: the join plan must contain no
    Exchange on either side (the co-located-join contract at scale)."""
    a = OmigoDF(spark.range(0, 1000).withColumnRenamed("id", "k")
                .withColumn("va", F.col("k") * 2))
    b = OmigoDF(spark.range(0, 1000).withColumnRenamed("id", "k")
                .withColumn("vb", F.col("k") + 1))
    IO.write_bucketed(a, "omigo_bkt_a", "k", num_buckets=8, sort_cols="k")
    IO.write_bucketed(b, "omigo_bkt_b", "k", num_buckets=8, sort_cols="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the fact-fact (non-broadcast) path — that is what bucketing
        # is for; tiny test tables would otherwise broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ta = IO.read_table(spark, "omigo_bkt_a")
        tb = IO.read_table(spark, "omigo_bkt_b")
        j = ta.df.join(tb.df, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:1500]
        assert "Bucketed: true" in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS omigo_bkt_a")
        spark.sql("DROP TABLE IF EXISTS omigo_bkt_b")


def test_read_url_post_auth_gzip_and_csv_sniff(spark):
    """POST with body + bearer auth + gzip payload + separator sniffing
    (reference wsclient.py:199-263) against an in-process HTTP server."""
    import gzip
    import http.server
    import threading

    seen = {}

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            seen["method"] = "POST"
            seen["auth"] = self.headers.get("Authorization")
            seen["body"] = self.rfile.read(
                int(self.headers.get("Content-Length", 0))).decode()
            payload = gzip.compress(b"a,b\n1,2\n3,4\n")
            self.send_response(200)
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"x,y\n5,6\n")

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        # POST: body + api_token, gzip response, comma sniffed
        out = IO.read_url_as_df(spark, f"http://127.0.0.1:{port}/data.csv.gz",
                                body='{"q": 1}', api_token="tok123")
        assert seen == {"method": "POST", "auth": "Bearer tok123",
                        "body": '{"q": 1}'}
        assert out.columns == ["a", "b"]
        assert sorted(r["a"] for r in out.df.collect()) == ["1", "3"]
        # GET with query params, csv sniffed from content
        out2 = IO.read_url_as_df(spark, f"http://127.0.0.1:{port}/t",
                                 query_params={"k": "v"})
        assert out2.columns == ["x", "y"] and out2.num_rows() == 1
    finally:
        srv.shutdown()


def test_url_encoded_cols_resolved(spark, tmpdir):
    p = f"{tmpdir}/enc"
    os.makedirs(p)
    with open(f"{p}/part.tsv", "w") as f:
        f.write("id\tpayload:url_encoded\n1\thello+world%21\n")
    out = IO.read(spark, p)
    assert out.columns == ["id", "payload"]
    assert out.df.collect()[0]["payload"] == "hello world!"


def test_scan_by_datetime_range_prunes_partitions(spark, tmpdir):
    base = f"{tmpdir}/events"
    rows = []
    for i, dt in enumerate(["20240101", "20240102", "20240103", "20240104"]):
        rows += [(i * 10 + j, dt) for j in range(5)]
    df = spark.createDataFrame(rows, ["v", "dt"])
    df.write.partitionBy("dt").parquet(base)

    out = ETL.scan_by_datetime_range(spark, base, "2024-01-02", "2024-01-03")
    assert out.num_rows() == 10
    got_dts = {str(r["dt"]) for r in out.df.select("dt").distinct().collect()}
    assert got_dts == {"20240102", "20240103"}  # dt partition type is inferred
    # pruning reaches the scan: PartitionFilters mentions dt
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan


def test_paths_for_range_hourly(spark):
    ps = ETL.paths_for_range("/base", "2024-01-01 22:00:00", "2024-01-02 01:00:00",
                             granularity="hourly")
    assert ps == ["/base/dt=2024010122", "/base/dt=2024010123",
                  "/base/dt=2024010200", "/base/dt=2024010201"]


def test_read_with_filter_transform_pushdown(spark, tmpdir):
    p = f"{tmpdir}/t"
    spark.createDataFrame([(i, i % 3, f"s{i}") for i in range(100)],
                          ["a", "b", "c"]).write.parquet(p)
    out = ETL.read_with_filter_transform(
        spark, p, filter_transform_func=lambda o: o.where("b = 1"),
        cols=["a", "b"])
    assert out.columns == ["a", "b"]
    assert out.num_rows() == 33
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(b), EqualTo(b,1)]" in plan
    assert "ReadSchema: struct<a:bigint,b:bigint>" in plan


def test_tsv_zip_write_read_roundtrip(spark, tmpdir):
    # write-parity with reference file_io_wrapper.py:46-70 (single-member
    # zip archive); roundtrip through read_zip must be lossless
    df = OmigoDF(spark.createDataFrame(
        [("1", "a"), ("2", "b"), ("3", "c")], ["id", "v"]))
    p = f"{tmpdir}/export.tsv.zip"
    IO.write(df, p)
    import zipfile
    with zipfile.ZipFile(p) as z:
        assert z.namelist() == ["export.tsv"]
    back = IO.read_zip(spark, p)
    assert back.columns == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in back.df.collect()) == \
        [("1", "a"), ("2", "b"), ("3", "c")]
    # plain read() dispatches .zip transparently like the reference's hydra.read
    back2 = IO.read(spark, p)
    assert back2.columns == ["id", "v"] and back2.num_rows() == 3


def test_orc_roundtrip_with_pushdown(spark, nation, tmpdir):
    from omigo_data_analytics_spark.sources import io

    path = f"{tmpdir}/nation_orc"
    io.write_orc(nation, path)
    back = io.read_orc(spark, path)
    assert back.num_rows() == nation.num_rows()
    assert sorted(back.columns) == sorted(nation.columns)
    # predicate pushdown reaches the ORC scan like parquet
    plan = (back.df.where("n_regionkey = 1").select("n_name")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in plan and "n_regionkey" in plan


def test_json_roundtrip(spark, nation, tmpdir):
    from omigo_data_analytics_spark.sources import io

    path = f"{tmpdir}/nation_json"
    io.write_json(nation, path)
    back = io.read_json(spark, path, schema=nation.df.schema)
    cols = nation.columns
    assert (sorted(map(tuple, back.df.select(*cols).collect()))
            == sorted(map(tuple, nation.df.select(*cols).collect())))


def test_read_text_lines_and_whole_file(spark, tmpdir):
    """read_text: line mode = one row per line across files; whole-file
    mode = one row per file with the full contents (newlines kept) —
    the raw-corpus ingestion shape; both attach the source path."""
    from omigo_data_analytics_spark.sources import io

    d = f"{tmpdir}/txt"
    os.makedirs(d)
    with open(f"{d}/a.txt", "w") as fh:
        fh.write("first line\nsecond line\n")
    with open(f"{d}/b.txt", "w") as fh:
        fh.write("only line b\n")
    lines = io.read_text(spark, f"{d}/*.txt")
    assert lines.columns == ["path", "text"]
    got = sorted((os.path.basename(r["path"].replace("file://", "")),
                  r["text"]) for r in lines.df.collect())
    assert got == [("a.txt", "first line"), ("a.txt", "second line"),
                   ("b.txt", "only line b")]
    docs = io.read_text(spark, f"{d}/*.txt", whole_file=True,
                        path_col="doc_path", text_col="body")
    by_file = {os.path.basename(r["doc_path"].replace("file://", "")):
               r["body"] for r in docs.df.collect()}
    assert by_file == {"a.txt": "first line\nsecond line\n",
                       "b.txt": "only line b\n"}
    # gzip inputs decode per file (docstring claim)
    import gzip
    with gzip.open(f"{d}/c.txt.gz", "wt") as fh:
        fh.write("zipped line\n")
    gz = io.read_text(spark, f"{d}/c.txt.gz")
    assert [r["text"] for r in gz.df.collect()] == ["zipped line"]


def test_write_text_roundtrip(spark, tmpdir):
    """write_text (read_text symmetry): one line per row, exact bytes,
    works compressed, and roundtrips through read_text."""
    from omigo_data_analytics_spark.sources import io

    df = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "gamma doc")],
        "doc_id long, text string")
    path = f"{tmpdir}/corpus_out"
    io.write_text(OmigoDF(df), path, single_file=True)
    back = io.read_text(spark, path)
    assert sorted(r["text"] for r in back.df.collect()) == [
        "alpha doc", "beta doc", "gamma doc"]
    gzp = f"{tmpdir}/corpus_gz"
    io.write_text(OmigoDF(df), gzp, compression="gzip", single_file=True)
    assert any(f.endswith(".gz") for f in os.listdir(gzp)
               if f.startswith("part-"))
    back2 = io.read_text(spark, gzp)
    assert back2.df.count() == 3
    # documented caveat: the sink is line-oriented, so embedded
    # newlines split a value into multiple rows on re-read
    ml = spark.createDataFrame([(1, "two\nlines")], "doc_id long, text string")
    mlp = f"{tmpdir}/corpus_ml"
    io.write_text(OmigoDF(ml), mlp, single_file=True)
    assert io.read_text(spark, mlp).df.count() == 2


def test_read_binary_files_feed_multimodal(spark, tmpdir):
    """read_binary: one row per file, exact payload bytes in `content`,
    glob filtering — and the content column composes directly with the
    multimodal decode path (binary in, pixel vector out)."""
    from omigo_data_analytics_spark.operators import multimodal as MM
    from omigo_data_analytics_spark.sources import io

    d = f"{tmpdir}/media"
    os.makedirs(d)
    payloads = {"x.png": b"\x89PNG fake payload \x00\x01",
                "y.png": b"\x89PNG other \xff\xfe", "skip.txt": b"nope"}
    for name, blob in payloads.items():
        with open(f"{d}/{name}", "wb") as fh:
            fh.write(blob)
    odf = io.read_binary(spark, d, path_glob_filter="*.png")
    rows = {os.path.basename(r["path"].replace("file:", "")):
            bytes(r["content"]) for r in odf.df.collect()}
    assert rows == {k: v for k, v in payloads.items() if k.endswith(".png")}
    assert {f.name for f in odf.df.schema.fields} >= {
        "path", "length", "content"}
    # composes with the multimodal pipeline's deterministic decode fake
    dec = MM.decode_image(OmigoDF(odf.df.select("path", "content")),
                          "content", out_col="pixels", width=2, height=4,
                          fake=True)
    got = dec.df.select("pixels").collect()
    assert len(got) == 2 and all(len(r["pixels"]) == 8 for r in got)


def test_xml_roundtrip(spark, nation, tmpdir):
    """Spark 4 built-in xml source: values survive the roundtrip (XML
    carries no types — read back with the original schema) and custom
    row/root tags are honored on disk."""
    from omigo_data_analytics_spark.sources import io

    path = f"{tmpdir}/nation_xml"
    io.write_xml(nation, path, row_tag="nation", root_tag="nations",
                 single_file=True)
    back = io.read_xml(spark, path, row_tag="nation",
                       schema=nation.df.schema)
    assert back.num_rows() == nation.num_rows()
    assert sorted(back.columns) == sorted(nation.columns)
    cols = nation.columns
    assert (sorted(map(tuple, back.df.select(*cols).collect()))
            == sorted(map(tuple, nation.df.select(*cols).collect())))
    part = [p for p in os.listdir(path) if p.startswith("part-")][0]
    with open(os.path.join(path, part)) as fh:
        head = fh.read(200)
    assert "<nations>" in head and "<nation>" in head
    # multi-path read (regression: load(*paths) would feed the second
    # path into load's `format` parameter and fail to find the source)
    path2 = f"{tmpdir}/nation_xml2"
    io.write_xml(nation, path2, row_tag="nation", root_tag="nations",
                 single_file=True)
    both = io.read_xml(spark, [path, path2], row_tag="nation",
                       schema=nation.df.schema)
    assert both.num_rows() == 2 * nation.num_rows()


# ---------------------------------------------------------------- dfutils
def test_split_headers_in_common_and_diff(spark):
    from omigo_data_analytics_spark.sources import io

    a = io.from_maps(spark, [{"x": 1, "y": 2}])
    b = io.from_maps(spark, [{"x": 1, "z": 3}])
    common, diff = io.split_headers_in_common_and_diff([a, b])
    assert common == ["x", "y", "z"]
    assert diff == ["y", "z"]
    assert io.get_diffs_in_headers([a, b]) == ["y", "z"]
    assert io.get_diffs_in_headers([a, a]) == []


def test_load_from_array_of_map_value_typing(spark):
    """reference dfutils.py:189-255 — list→comma-join, dict→url-encoded
    JSON under <key>:json_encoded, int→str, sorted-union columns."""
    from omigo_data_analytics_spark.sources import io
    import json
    import urllib.parse

    out = io.load_from_array_of_map(spark, [
        {"a": 1, "tags": ["x", "y"], "meta": {"k": "v 1"}},
        {"a": "s", "b": 2.5},
    ])
    cols = out.df.columns
    assert cols == sorted(["a", "tags", "meta:json_encoded", "b"])
    rows = {r["a"]: r for r in out.df.collect()}
    assert rows["1"]["tags"] == "x,y"
    enc = rows["1"]["meta:json_encoded"]
    assert json.loads(urllib.parse.unquote_plus(enc)) == {"k": "v 1"}
    assert rows["s"]["b"] == "2.5"
    assert rows["1"]["b"] == ""   # absent value -> ''


def test_write_clustered_disjoint_key_ranges(spark, tmp_path):
    """Range clustering produces files whose footer min/max key ranges
    are disjoint — the property file/row-group skipping depends on."""
    import pyarrow.parquet as pq

    from omigo_data_analytics_spark.sources import io as oio

    ev = oio.load_testdata(spark, "/root/testdata/sf0.001", "events")
    d = str(tmp_path / "clustered")
    n = oio.write_clustered(ev, d, "user_id", num_files=4)
    assert n == 4
    files = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(os.path.join(d, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("user_id")
        los = [md.row_group(g).column(idx).statistics.min
               for g in range(md.num_row_groups)]
        his = [md.row_group(g).column(idx).statistics.max
               for g in range(md.num_row_groups)]
        ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # contiguous, non-overlapping key ranges
    # the point of the exercise: a selective key predicate touches 1 file
    key = ranges[0][0]
    hit = [r for r in ranges if r[0] <= key <= r[1]]
    assert len(hit) == 1
    # and the clustered copy is byte-identical data
    back = spark.read.parquet(d)
    assert back.count() == ev.df.count()


def test_write_clustered_auto_file_count(spark, tmp_path):
    from omigo_data_analytics_spark.sources import io as oio

    ev = oio.load_testdata(spark, "/root/testdata/sf0.001", "events")
    d = str(tmp_path / "auto")
    n = oio.write_clustered(ev, d, "user_id")  # tiny input -> 1 file
    assert n == 1
    assert len([p for p in os.listdir(d) if p.endswith(".parquet")]) == 1


def test_write_clustered_auto_count_statless_source(spark, tmp_path):
    """RDD-backed plans report the defaultSizeInBytes sentinel
    (Long.MaxValue) — the auto file count must fall back to the physical
    partition count instead of a ~7e10-partition repartitionByRange."""
    from omigo_data_analytics_spark.sources import io as oio
    from omigo_data_analytics_spark import OmigoDF

    rdd = spark.sparkContext.parallelize(
        [(i, f"u{i % 7}") for i in range(100)], 4)
    df = spark.createDataFrame(rdd, "id long, user_id string")
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > 2**60  # precondition: this source really is statless
    d = str(tmp_path / "statless")
    n = oio.write_clustered(OmigoDF(df), d, "user_id")
    assert 1 <= n <= 4
    assert spark.read.parquet(d).count() == 100


def test_write_clustered_zorder_balances_all_dimensions(spark, tmp_path):
    """Lexicographic multi-key clustering only narrows the LEADING
    column's per-file range; z-order gives every clustered column a
    small per-file span, so predicates on ANY of them skip files."""
    import pyarrow.parquet as pq

    from omigo_data_analytics_spark.sources import io as oio

    ev = oio.load_testdata(spark, "/root/testdata/sf0.01", "events")

    def avg_span(dirpath, col):
        files = [f for f in os.listdir(dirpath) if f.endswith(".parquet")]
        spans = []
        for f in files:
            md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            st = [md.row_group(g).column(idx).statistics
                  for g in range(md.num_row_groups)]
            spans.append((min(s.min for s in st), max(s.max for s in st)))
        lo = min(s[0] for s in spans)
        hi = max(s[1] for s in spans)
        dom = (hi - lo) or 1
        return sum((b - a) / dom for a, b in spans) / len(spans)

    lex = str(tmp_path / "lex")
    zed = str(tmp_path / "z")
    oio.write_clustered(ev, lex, cluster_by=["user_id", "value"],
                        num_files=16)
    oio.write_clustered(ev, zed, zorder=["user_id", "value"], num_files=16)
    # lexicographic: trailing column is unclustered (near-full span)
    assert avg_span(lex, "user_id") < 0.15
    assert avg_span(lex, "value") > 0.5
    # z-order: BOTH columns land well under the lexicographic trailing
    # span — every file is a hyper-rectangle
    assert avg_span(zed, "user_id") < 0.5
    assert avg_span(zed, "value") < 0.5
    # same rows either way
    assert spark.read.parquet(zed).count() == ev.df.count()


def test_write_clustered_validates_exclusive_args(spark, tmp_path):
    import pytest

    from omigo_data_analytics_spark.sources import io as oio

    ev = oio.load_testdata(spark, "/root/testdata/sf0.001", "events")
    with pytest.raises(ValueError, match="exactly one"):
        oio.write_clustered(ev, str(tmp_path / "x"))
    with pytest.raises(ValueError, match="exactly one"):
        oio.write_clustered(ev, str(tmp_path / "y"), cluster_by="user_id",
                            zorder=["user_id"])


def test_read_url_response_and_json(spark, tmp_path):
    import json

    doc = tmp_path / "obj.json"
    doc.write_text(json.dumps({"a": 1, "b": "x"}))
    arr = tmp_path / "arr.json"
    arr.write_text(json.dumps([{"i": 1}, {"i": 2}, {"i": 3}]))

    from omigo_data_analytics_spark.sources import io as oio

    text, status, err = oio.read_url_response(f"file://{doc}")
    assert status == 200 and err == "" and json.loads(text) == {"a": 1, "b": "x"}
    # errors come back as a triple, not an exception
    _, status2, err2 = oio.read_url_response(f"file://{tmp_path}/absent.json")
    assert status2 == 500 and err2 != ""

    # dict -> one row; list -> one row per element; json_encoded is
    # url-encoded JSON (the reference's *:json_encoded convention)
    one = oio.read_url_json(spark, f"file://{doc}").df.collect()
    assert len(one) == 1 and one[0]["status_code"] == "200"
    import urllib.parse
    assert json.loads(urllib.parse.unquote(one[0]["json_encoded"])) \
        == {"a": 1, "b": "x"}
    many = oio.read_url_json(spark, f"file://{arr}").df.collect()
    assert [json.loads(urllib.parse.unquote(r["json_encoded"]))["i"]
            for r in many] == [1, 2, 3]
    # parse failure -> data row with status_code '0'
    bad = tmp_path / "bad.json"
    bad.write_text("not json at all")
    rows = oio.read_url_json(spark, f"file://{bad}").df.collect()
    assert rows[0]["status_code"] == "0"
    assert "Unable to parse" in rows[0]["error_msg"]


def test_etl_path_name_helpers():
    from omigo_data_analytics_spark.sources import etl as ETL2

    ts = 1700000000  # 2023-11-14T22:13:20Z
    assert ETL2.get_etl_date_str_from_ts(ts) == "2023-11-14"
    assert ETL2.get_etl_datetime_str_from_ts(ts) == "2023-11-14T22:13:20"
    assert ETL2.get_etl_file_date_str_from_ts(ts) == "20231114"
    assert ETL2.get_etl_file_datetime_str_from_ts(ts) == "20231114-221320"
    base = ETL2.get_etl_file_base_name_by_ts("events", ts, ts + 3600)
    assert base == "events-20231114-221320-20231114-231320"
    # dt= partition uses the reference's yyyymmdd form (etl.py:10,13)
    p = ETL2.get_etl_file_path_by_ts("s3a://bkt/raw", "events", ts, ts + 3600)
    assert p == ("s3a://bkt/raw/dt=20231114/"
                 "events-20231114-221320-20231114-231320.tsv.gz")


def test_module_constructors(spark):
    from omigo_data_analytics_spark.sources import io as oio

    d = oio.new_df(spark, ["a", "b"], [[1, "x"], [None, "y"]])
    rows = d.df.collect()
    assert d.df.columns == ["a", "b"]
    assert [tuple(r) for r in rows] == [("1", "x"), ("", "y")]
    assert oio.new_with_cols(spark, ["c1"]).df.count() == 0
    assert oio.create_empty(spark).df.columns == []
    h = oio.from_header_data(spark, "x\ty", ["1\t2", "3\t4"])
    assert [tuple(r) for r in h.df.collect()] == [("1", "2"), ("3", "4")]
    t = oio.from_tsv_new_with_cols(spark, ["x", "y"], ["5\t6"])
    assert [tuple(r) for r in t.df.collect()] == [("5", "6")]


def test_etl_path_rewrite_and_range_alias():
    from omigo_data_analytics_spark.sources import etl as ETL2

    src = ("s3a://b/raw/dt=20231114/"
           "events-20231114-221320-20231114-231320.tsv.gz")
    out = ETL2.get_matching_etl_date_time_path(src, "s3a://b/clean", "ev2")
    assert out == ("s3a://b/clean/dt=20231114/"
                   "ev2-20231114-221320-20231114-231320.tsv.gz")
    out2 = ETL2.get_matching_etl_date_time_path(src, "/tmp/x", "ev",
                                                new_extension="parquet")
    assert out2.endswith(".parquet")
    import pytest
    with pytest.raises(ValueError, match="dt= path"):
        ETL2.get_matching_etl_date_time_path("/no/partition/f.tsv", "/x", "p")
    assert (ETL2.get_file_paths_by_datetime_range(
        "/b", "2024-01-01", "2024-01-03")
        == ETL2.paths_for_range("/b", "2024-01-01", "2024-01-03"))


def test_build_query_ordinals_track_positions(spark):
    """GROUP BY ordinals must point at each group col's actual select
    position — a group col selected AFTER an aggregate must not emit
    GROUP BY 1 (the aggregate). Deliberate repair over the reference's
    blind 1..N (which produced invalid SQL for this shape)."""
    from omigo_data_analytics_spark.sources import sql as SQX

    q = SQX.build_query(["sum(x) AS s", "a"], "t", group_by=["a"])
    assert q == "SELECT sum(x) AS s, a FROM t GROUP BY 2"
    # the reference-valid shapes are unchanged
    q2 = SQX.build_query(["count(1) AS c"], "t", group_by=["g1", "g2"])
    assert q2 == "SELECT g1, g2, count(1) AS c FROM t GROUP BY 1, 2"
    spark.range(10).selectExpr("id AS a", "id * 2 AS x") \
         .createOrReplaceTempView("t")
    got = SQX.execute_query(spark, ["sum(x) AS s", "a"], "t",
                            group_by=["a"]).df
    assert got.count() == 10


def test_zorder_key_quotes_hostile_column_names(spark):
    from omigo_data_analytics_spark.sources.io import zorder_key

    df = spark.createDataFrame(
        [(float(i), float(100 - i)) for i in range(50)],
        ["m:x", "dotted.name"])
    out = df.withColumn("zk", zorder_key(df, ["m:x", "dotted.name"], bits=4))
    vals = [r["zk"] for r in out.collect()]
    assert len(vals) == 50 and len(set(vals)) > 1


# ------------------------------------------------- parquet schema reuse
def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "parquet schema reuse")
    try:
        out = fn()
    finally:
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
    return out, n_jobs


def test_reload_of_unchanged_table_submits_no_job(spark, sf_dir):
    """Loading an unchanged table again reuses its inferred schema: the
    load submits no Spark job, and the frame is the same."""
    first = IO.load_testdata(spark, sf_dir, "events")
    again, n_jobs = _jobs_in(spark, "schema_reuse",
                             lambda: IO.load_testdata(spark, sf_dir, "events"))
    assert n_jobs == 0, f"a reload of an unchanged table ran {n_jobs} job(s)"
    assert again.df.schema == first.df.schema
    assert again.df.count() == first.df.count()


def test_unchanged_reload_in_one_session_is_the_same_frame(spark, sf_dir, tmpdir):
    """A reload of unchanged files in the same session returns the frame
    already built (no ``spark.read``, no JVM relation). A rewrite, a
    ``nanosAsLong`` flip and another session each get a fresh read."""
    nation = IO.load_testdata(spark, sf_dir, "nation").df
    assert IO.load_testdata(spark, sf_dir, "nation").df is nation

    p = f"{tmpdir}/t"
    spark.createDataFrame([(1,)], "a int").write.parquet(p)
    first = IO.read_parquet(spark, p).df
    assert IO.read_parquet(spark, p).df is first

    spark.createDataFrame([(2,)], "a int").write.mode("overwrite").parquet(p)
    rewritten = IO.read_parquet(spark, p).df
    assert rewritten is not first
    assert rewritten.collect() == [(2,)]
    assert IO.read_parquet(spark, p).df is rewritten

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "false" if before == "true" else "true")
    try:
        flipped = IO.read_parquet(spark, p).df
    finally:
        spark.conf.set(key, before)
    assert flipped is not rewritten
    assert flipped.collect() == [(2,)]

    restored = IO.read_parquet(spark, p).df
    other = spark.newSession()
    elsewhere = IO.read_parquet(other, p).df
    assert elsewhere is not restored
    assert elsewhere.sparkSession is other
    assert elsewhere.collect() == [(2,)]


def test_parquet_rewrite_infers_afresh(spark, tmpdir):
    p = f"{tmpdir}/t"
    spark.createDataFrame([(1,)], "a int").write.parquet(p)
    assert IO.read_parquet(spark, p).df.dtypes == [("a", "int")]
    spark.createDataFrame([("x", 2)], "a string, b int") \
        .write.mode("overwrite").parquet(p)
    out, n_jobs = _jobs_in(spark, "schema_rewrite",
                           lambda: IO.read_parquet(spark, p))
    assert n_jobs == 1
    assert out.df.dtypes == [("a", "string"), ("b", "int")]
    assert out.df.collect()[0] == ("x", 2)


def test_parquet_conf_flip_infers_afresh(spark, tmpdir):
    """Session confs are part of the key. A TIMESTAMP(NANOS) column reads
    as a long under nanosAsLong; with the conf off the read infers afresh
    and fails as a plain read does, instead of reusing the long. A
    microsecond column reads as timestamp_ntz, and as timestamp once
    NTZ inference is off."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos, micros = f"{tmpdir}/nanos.parquet", f"{tmpdir}/micros.parquet"
    for path, unit in ((nanos, "ns"), (micros, "us")):
        pq.write_table(pa.table({"ts": pa.array([1_700_000_000_000_000_000],
                                                pa.timestamp("ns")).cast(
                                                    pa.timestamp(unit))}),
                       path, version="2.6")

    def ts_type(path):
        return dict(IO.read_parquet(spark, path).df.dtypes)["ts"]

    for key, path, on, off in (
            ("spark.sql.legacy.parquet.nanosAsLong", nanos, "bigint", None),
            ("spark.sql.parquet.inferTimestampNTZ.enabled", micros,
             "timestamp_ntz", "timestamp")):
        before = spark.conf.get(key)
        spark.conf.set(key, "true")
        try:
            assert ts_type(path) == on
            assert _jobs_in(spark, "schema_conf", lambda: ts_type(path))[1] == 0
            spark.conf.set(key, "false")
            if off is None:
                with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                    ts_type(path)
            else:
                assert ts_type(path) == off
            spark.conf.set(key, "true")
            assert ts_type(path) == on
        finally:
            spark.conf.set(key, before)


def test_partitioned_scan_same_with_and_without_schema_reuse(spark, tmpdir):
    base = f"{tmpdir}/events"
    spark.createDataFrame([(i, f"2024010{1 + i % 4}") for i in range(20)],
                          "v long, dt string").write.partitionBy("dt").parquet(base)
    plain = spark.read.parquet(base).where(F.col("dt").isin(["20240102", "20240103"]))
    for _ in range(2):   # the second scan reuses the first one's schema
        out = ETL.scan_by_datetime_range(spark, base, "2024-01-02", "2024-01-03").df
        assert out.schema == plain.schema
        assert sorted(out.collect()) == sorted(plain.collect())


def test_non_file_uri_is_never_listed(spark, monkeypatch):
    """Another filesystem's URI reads exactly as without the cache: no
    local listing, and Spark's own error."""
    listed = []
    monkeypatch.setattr(IO, "_listing", lambda p: listed.append(p))
    with pytest.raises(Exception, match="nofs"):
        IO.read_parquet(spark, "nofs://host/t.parquet")
    assert listed == []

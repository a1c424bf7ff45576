"""Enrichment (web-service / model template) and multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from omigo_data_analytics_spark import OmigoDF
from omigo_data_analytics_spark.core.colutils import quote
from omigo_data_analytics_spark.operators import enrich as EN
from omigo_data_analytics_spark.operators import multimodal as MM


def _mk_fake_call():
    # nested so cloudpickle serializes by value (tests aren't importable
    # on executor workers)
    def _fake_call(req):
        return f"echo:{req['url']}", 200
    return _fake_call


def test_call_web_service_placeholders_and_columns(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["id", "key"])
    out = EN.call_web_service(
        OmigoDF(df), "http://x/{key}", prefix="ws", call_fn=_mk_fake_call())
    rows = {r["id"]: r for r in out.df.collect()}
    assert rows[1]["ws:response"] == "echo:http://x/a"
    assert rows[2]["ws:response"] == "echo:http://x/b"
    assert rows[1]["ws:response:status_code"] == "200"
    assert rows[1]["ws:response:success"] == "1"
    assert rows[1]["ws:response:error"] == ""
    # rows 1 and 3 share key 'a' -> same response via dedup rewrite
    assert rows[3]["ws:response"] == rows[1]["ws:response"]


def test_call_web_service_dedup_rewrite_calls_once_per_key(spark):
    # count distinct calls via a driver-side accumulator substitute:
    # the fake returns the key; with opt_exec the distinct side has 2 rows
    df = spark.createDataFrame([(i, "k" + str(i % 2)) for i in range(10)],
                               ["id", "key"])
    out = EN.call_web_service(OmigoDF(df), "http://x/{key}", prefix="p",
                              call_fn=_mk_fake_call(), enable_opt_exec=True)
    assert out.df.count() == 10
    assert out.df.select("p:response").distinct().count() == 2


def test_call_web_service_error_capture(spark):
    def _boom(req):
        raise ConnectionError("down")
    df = spark.createDataFrame([(1, "a")], ["id", "key"])
    out = EN.call_web_service(OmigoDF(df), "http://x/{key}", prefix="ws",
                              call_fn=_boom)
    r = out.df.collect()[0]
    assert r["ws:response:success"] == "0"
    assert "ConnectionError" in r["ws:response:error"]


def test_enrich_with_model_batched(spark):
    df = spark.createDataFrame([(i, f"t{i % 3}") for i in range(9)],
                               ["id", "text"])

    def embed(batch):
        return [float(len(r["text"])) for r in batch]

    out = EN.enrich_with_model(OmigoDF(df), ["text"], embed,
                               out_col="score", out_type="double")
    assert out.df.where("score = 2.0").count() == 9


def test_attach_media_metadata_and_fake_decode(spark):
    df = spark.createDataFrame([(1, bytearray(b"imagebytes-1")),
                                (2, bytearray(b"imagebytes-22"))],
                               ["id", "payload"])
    m = MM.attach_media_metadata(OmigoDF(df), "payload", "image", "png")
    r = {x["id"]: x for x in m.df.collect()}
    assert r[1]["media_meta"]["media_type"] == "image"
    assert r[2]["media_meta"]["n_bytes"] == 13

    dec = MM.decode_image(m, "payload", width=4, height=4, fake=True)
    rows = {x["id"]: x["pixels"] for x in dec.df.collect()}
    assert len(rows[1]) == 16 and all(0 <= v < 1 for v in rows[1])
    # deterministic: same payload -> same pixels
    again = {x["id"]: x["pixels"]
             for x in MM.decode_image(m, "payload", width=4, height=4,
                                      fake=True).df.collect()}
    assert rows == again


def test_decode_image_stub_raises_without_fake(spark):
    df = spark.createDataFrame([(1, bytearray(b"x"))], ["id", "payload"])
    dec = MM.decode_image(OmigoDF(df), "payload", fake=False)
    with pytest.raises(Exception, match="NotImplementedError|image"):
        dec.df.collect()


def test_image_features_and_resize(spark):
    df = spark.createDataFrame([(1, [float(i) / 16 for i in range(16)])],
                               ["id", "pixels"])
    feats = MM.image_features(OmigoDF(df))
    r = feats.df.collect()[0]
    assert r["img:min"] == 0.0 and abs(r["img:max"] - 15 / 16) < 1e-6
    small = MM.resize_image(OmigoDF(df), "pixels", 4, 4, 2, 2, out_col="p2")
    p2 = small.df.collect()[0]["p2"]
    assert len(p2) == 4
    assert p2 == [0.0, 2 / 16, 8 / 16, 10 / 16]  # nearest-neighbor corners


def test_sample_frames_fake(spark):
    df = spark.createDataFrame([(1, bytearray(b"0" * 10))], ["id", "payload"])
    m = MM.attach_media_metadata(OmigoDF(df), "payload", "video", "mp4")
    out = MM.sample_frames(m, "payload", every_ms=3, fake=True)
    ts = [r["frame_ts_ms"] for r in out.df.collect()]
    assert ts == [0, 3, 6, 9]


def test_ws_enrich_null_keys_and_url_encoding(spark):
    """NULL placeholder rows must get response columns back through the
    dedup rewrite (null-safe join), and query-param values must be
    percent-encoded (spaces would raise InvalidURL per row)."""
    from omigo_data_analytics_spark.operators import enrich as EN

    calls = []

    def fake(req):
        calls.append(req["url"])
        return f"ok:{req['url']}", 200

    df = OmigoDF(spark.createDataFrame(
        [(1, "John Smith"), (2, None), (3, "a&b")], ["id", "name"]))
    out = EN.call_web_service(df, "http://svc/api", prefix="p",
                              query_params={"q": "{name}"},
                              call_fn=fake).df
    rows = {r["id"]: (r["p:response:success"], r["p:response"])
            for r in out.collect()}
    assert rows[1][0] == "1" and "q=John%20Smith" in rows[1][1]
    assert rows[2][0] == "1"          # NULL key still joined back
    assert rows[3][0] == "1" and "q=a%26b" in rows[3][1]


def test_model_enrich_null_keys_join_back(spark):
    from omigo_data_analytics_spark.operators import enrich as EN

    df = OmigoDF(spark.createDataFrame(
        [(1, "x"), (2, None)], ["id", "txt"]))
    out = EN.enrich_with_model(df, ["txt"],
                               lambda recs: [str(r["txt"]) for r in recs],
                               "m").df
    rows = {r["id"]: r["m"] for r in out.collect()}
    assert rows[1] == "x" and rows[2] == "None"


def test_sample_frames_zero_duration_yields_no_frames(spark):
    """A zero-length payload must yield zero frames for that row, not an
    illegal-sequence-bounds failure for the whole job."""
    from omigo_data_analytics_spark.operators import multimodal as MM

    df = OmigoDF(spark.createDataFrame(
        [(1, bytearray(b"abcdef")), (2, bytearray(b""))],
        "id long, payload binary"))
    withmeta = MM.attach_media_metadata(df, "payload", "video", "mp4")
    out = MM.sample_frames(withmeta, "payload", every_ms=2, fake=True).df
    ids = [r["id"] for r in out.collect()]
    assert 2 not in ids and ids.count(1) == 3


def test_enrich_join_back_hostile_output_names(spark):
    """A dot in out_col or in the response-column prefix survives the
    dedup join back of both enrichers (NULL keys included)."""
    df = OmigoDF(spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id int, txt string"))
    out = EN.enrich_with_model(
        df, ["txt"], lambda recs: [f"m:{r['txt']}" for r in recs],
        out_col="o.ut")
    assert out.df.columns == ["id", "txt", "o.ut"]
    assert sorted(map(tuple, out.df.collect()), key=repr) == [
        (1, "a", "m:a"), (2, None, "m:None"), (3, "a", "m:a")]
    ws = EN.call_web_service(df, "http://x/{txt}", prefix="p.q",
                             call_fn=_mk_fake_call())
    got = {r["id"]: r["p.q:response"] for r in ws.df.collect()}
    assert got == {1: "echo:http://x/a", 2: "echo:http://x/",
                   3: "echo:http://x/a"}


def test_enrich_hostile_input_names(spark):
    """Input columns named with a dot or a backtick reach mapInPandas
    under positional aliases, while model_fn and the placeholders still
    see the original names; every output keeps the input's columns."""
    for name in ("t.x", "t`x"):
        df = OmigoDF(spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a")], f"id int, {quote(name)} string"))
        out = EN.enrich_with_model(
            df, [name], lambda recs: [f"m:{r[name]}" for r in recs],
            out_col="m")
        assert out.df.columns == ["id", name, "m"]
        assert sorted(map(tuple, out.df.collect()), key=repr) == [
            (1, "a", "m:a"), (2, None, "m:None"), (3, "a", "m:a")]
        for dedup in (True, False):
            ws = EN.call_web_service(df, f"http://x/{{{name}}}", prefix="p",
                                     call_fn=_mk_fake_call(),
                                     enable_opt_exec=dedup)
            assert ws.df.columns[:2] == ["id", name]
            got = {r["id"]: r["p:response"] for r in ws.df.collect()}
            assert got == {1: "echo:http://x/a", 2: "echo:http://x/",
                           3: "echo:http://x/a"}, (name, dedup)


def test_ws_placeholder_null_substitutes_empty(spark):
    """NULL cells substitute as '' in templates (reference TSV model) —
    literal 'None' must never leak into a request URL."""
    from omigo_data_analytics_spark.operators.enrich import _resolve
    assert _resolve("http://svc/{a}?q={b}", {"a": None, "b": 7}) == \
        "http://svc/?q=7"

"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from harness import OpRun, load_checker, check_output  # noqa: E402
from spans import Tracer  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


# ------------------------------------------------------------ percentiles

def test_p90_omitted_below_100_samples():
    assert stats.percentile(range(99), 90) is None
    assert stats.percentile(range(100), 90) == 89


def test_p50_needs_20_samples():
    assert stats.percentile(range(19), 50) is None
    assert stats.percentile(range(1, 21), 50) == 10


def test_p99_needs_1000_samples():
    assert stats.percentile(range(999), 99) is None
    assert stats.percentile(range(1000), 99) == 989


def test_percentile_ignores_input_order():
    xs = list(range(200))
    assert stats.percentile(reversed(xs), 90) == stats.percentile(xs, 90) == 179


def test_quartile_spread():
    assert stats.quartile_spread([1.0]) == 0.0
    assert stats.quartile_spread([10.0] * 5) == 0.0
    # quantiles([8, 9, 10, 11, 12], n=4) = [8.5, 10, 11.5]
    assert stats.quartile_spread([8, 9, 10, 11, 12]) == pytest.approx(0.3)


# ------------------------------------------------------------ event log

def test_eventlog_counters_per_group():
    groups = eventlog.parse(FIXTURE)
    assert set(groups) == {"t0:q/action", "t0:q/construct"}
    act = groups["t0:q/action"]
    assert act.jobs == 1
    # stage 1 is listed by both jobs: its task belongs to the first
    assert (act.stages, act.tasks, act.single_task_stages) == (2, 3, 1)
    assert act.task_run_ms == 350
    assert act.gc_ms == 5
    assert act.shuffle_write_bytes == 1500
    assert act.shuffle_records == 15
    assert act.spill_bytes == 96
    # only the Python node's metrics count; the codegen node's rows do not
    assert act.py_rows == 100
    assert act.py_bytes_in == 3072
    con = groups["t0:q/construct"]
    assert (con.jobs, con.stages, con.tasks, con.task_run_ms, con.gc_ms) == (1, 1, 1, 70, 1)


def test_eventlog_rolling_files_read_in_index_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    # split the log over files whose names sort wrongly as strings
    (app / "events_1_local-1").write_text("".join(lines[:3]))
    (app / "events_2_local-1").write_text("".join(lines[3:8]))
    (app / "events_10_local-1").write_text("".join(lines[8:]))
    (app / "appstatus_local-1").write_text("")
    assert [os.path.basename(f) for f in eventlog.log_files(str(app))] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert eventlog.find_logs(str(tmp_path)) == [str(app)]
    assert eventlog.parse(str(app)) == eventlog.parse(FIXTURE)


# ------------------------------------------------------------ spans

class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


def _traced_op(tr, clock, construct=0.5, read=0.2, plan=0.1, action=1.0, gap=0.05):
    with tr.span("op"):
        with tr.span("construct"):
            clock.advance(construct - read)
            with tr.span("sources.read"):
                clock.advance(read)
        with tr.span("plan"):
            clock.advance(plan)
        with tr.span("action"):
            clock.advance(action)
        clock.advance(gap)


def test_span_self_times_reconcile_with_op_wall():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    _traced_op(tr, clock)
    self_t = {s.name: tr.self_time(i) for i, s in enumerate(tr.spans)}
    assert self_t["sources.read"] == pytest.approx(0.2)
    assert self_t["construct"] == pytest.approx(0.3)
    assert self_t["plan"] == pytest.approx(0.1)
    assert self_t["action"] == pytest.approx(1.0)
    assert self_t["op"] == pytest.approx(0.05)
    assert sum(self_t.values()) == pytest.approx(tr.spans[0].duration)
    assert [tr.spans[c].name for c in tr.spans[0].children] == ["construct", "plan", "action"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        with tr.span("construct"):
            pass
    assert tr.spans == []


def test_span_closes_when_the_op_raises():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with pytest.raises(ValueError):
        with tr.span("op"):
            clock.advance(1.0)
            raise ValueError("boom")
    assert tr.spans[0].duration == pytest.approx(1.0)
    with tr.span("next"):
        pass
    assert tr.spans[1].parent is None


def test_per_layer_from_spans_and_counters():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    passes = []
    for i in range(2):
        lo = len(tr.spans)
        _traced_op(tr, clock)
        passes.append([OpRun("q", wall=tr.spans[lo].duration, ok=True, input_rows=10,
                             group=f"t{i}:q", jobs={"construct": 1, "plan": 0, "action": 1},
                             span_lo=lo, span_hi=len(tr.spans))])
    groups = eventlog.parse(FIXTURE)
    # the second pass repeats the first one's counts exactly
    for p in ("action", "construct"):
        groups[f"t1:q/{p}"] = groups[f"t0:q/{p}"]
    m = layers.per_layer(tr, passes, groups, cpus=4, session_start_s=5.0,
                         untraced_pass_s=1.5, traced_walls=[1.65, 1.65])
    assert m["construct.self_s"][0] == pytest.approx(0.3)
    assert m["sources.read_s"][0] == pytest.approx(0.2)
    assert m["catalyst.plan_s"][0] == pytest.approx(0.1)
    assert m["exec.action_s"][0] == pytest.approx(1.0)
    assert m["exec.jobs"][0] == 1 and m["construct.jobs"][0] == 1
    # exec.* counts the plan and action groups only; construction's own
    assert m["exec.tasks"][0] == 3 and m["exec.stages"][0] == 2
    assert m["exec.task_run_s"][0] == pytest.approx(0.35)
    assert m["exec.parallel_eff"][0] == pytest.approx(0.70 / (2 * (0.1 + 1.0) * 4))
    assert m["construct.tasks"][0] == 1 and m["construct.stages"][0] == 1
    assert m["construct.task_run_s"][0] == pytest.approx(0.07)
    assert m["pyworker.rows_in"][0] == 100
    assert m["trace.overhead_frac"][0] == pytest.approx(1.1)
    assert m["trace.unaccounted_frac"][0] == pytest.approx(0.05 / 1.65)
    assert m["trace.unstable_ops"][0] == 0


def test_unstable_ops_named():
    runs = [[OpRun("a", 1.0, True, group="t0:a", jobs={"action": 2}),
             OpRun("b", 1.0, True, group="t0:b", jobs={"action": 1})],
            [OpRun("a", 1.0, True, group="t1:a", jobs={"action": 3}),
             OpRun("b", 1.0, True, group="t1:b", jobs={"action": 1})]]
    assert layers.unstable_ops(runs, {}) == ["a"]


def test_datagen_same_seed_same_bytes(tmp_path):
    import datagen
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    sa = datagen.generate(str(a), 3, 0.001, copies=2, files=2)
    sb = datagen.generate(str(b), 3, 0.001, copies=2, files=2)
    sc = datagen.generate(str(c), 4, 0.001, copies=2, files=2)
    assert sa == sb
    assert sa["lineitem"].rows == 2 * datagen.base_sizes(0.001)["lineitem"]
    for t in datagen.TABLES:
        for f in sorted(os.listdir(a / f"{t}.parquet")):
            assert (a / f"{t}.parquet" / f).read_bytes() == (b / f"{t}.parquet" / f).read_bytes()
    assert (a / "lineitem.parquet" / "part-00000.parquet").read_bytes() != \
        (c / "lineitem.parquet" / "part-00000.parquet").read_bytes()


def test_replication_shifts_keys_and_rotates_tokens(tmp_path):
    import pyarrow.parquet as pq

    import datagen
    datagen.generate(str(tmp_path), 5, 0.001, copies=3, files=1)
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pydict()
    n = datagen.base_sizes(0.001)["documents"]
    assert sorted(docs["doc_id"]) == list(range(3 * n))
    first, second = docs["text"][0].split(), docs["text"][n].split()
    assert second == first[1:] + first[:1]
    orders = pq.read_table(str(tmp_path / "orders.parquet")).to_pydict()
    nc = datagen.base_sizes(0.001)["customer"]
    no = datagen.base_sizes(0.001)["orders"]
    assert orders["o_custkey"][no] == orders["o_custkey"][0] + nc


def test_check_output_against_oracle():
    import duckdb
    import pandas as pd
    checker = load_checker(os.path.dirname(os.path.dirname(HERE)))
    con = duckdb.connect()
    oracle = "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)"
    # row order does not matter; values, columns and row count do
    assert check_output(pd.DataFrame({"v": ["y", "x"], "k": [2, 1]}), oracle, con, checker)
    assert not check_output(pd.DataFrame({"k": [1, 3], "v": ["x", "y"]}), oracle, con, checker)
    assert not check_output(pd.DataFrame({"k": [1], "v": ["x"]}), oracle, con, checker)
    assert not check_output(pd.DataFrame({"k": [1, 2], "w": ["x", "y"]}), oracle, con, checker)
    # an int column is not a float column, even with equal values
    assert not check_output(pd.DataFrame({"k": [1.0, 2.0], "v": ["x", "y"]}), oracle, con, checker)
    # no oracle: any rows pass, no rows fail
    assert check_output(pd.DataFrame({"k": [1]}), None, con, checker)
    assert not check_output(pd.DataFrame({"k": []}), None, con, checker)

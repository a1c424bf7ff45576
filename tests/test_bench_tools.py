"""bench.py helper units (the committed-history growth cap) and the
registry-query profiler, tools/query_profile.py."""

import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.join(os.path.dirname(__file__), "..")
PROFILE_TOOL = os.path.join(ROOT, "tools", "query_profile.py")


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load("bench", os.path.join(ROOT, "bench.py"))
profile_tool = _load("profile_tool", PROFILE_TOOL)


def test_cap_history_keeps_first_and_newest_per_round():
    hist = [{"round_guess": r, "i": i}
            for r in range(1, 13) for i in range(5)]
    capped = bench._cap_history(hist)
    rounds = sorted({e["round_guess"] for e in capped})
    assert rounds == list(range(3, 13))  # last _HIST_MAX_ROUNDS rounds
    for r in rounds:
        es = [e for e in capped if e["round_guess"] == r]
        assert [e["i"] for e in es] == [0, 4]  # first + newest


def test_cap_history_passthrough_small():
    hist = [{"round_guess": 1, "i": 0}, {"round_guess": 2, "i": 0}]
    assert bench._cap_history(hist) == hist


def test_isolated_min_ignores_transient_failures():
    """A pass-1 failure must not poison later successful passes: best =
    min over SUCCESSFUL runs, -1 only when every pass failed."""
    ok = {"q1": [4.2, 3.9], "q3": []}
    names = ["q1", "q2", "q3"]
    qs = {"q1": 1, "q2": 1, "q3": 1}
    best = {name: (min(ok[name]) if ok.get(name) else -1.0)
            for name in names if name in qs}
    assert best == {"q1": 3.9, "q2": -1.0, "q3": -1.0}


def test_select_drifted_threshold_floor_and_cap():
    """Self-adjudication picks >1.5x drifts in either direction, floors
    sub-50ms walls (rounding noise is not drift), skips failures, and
    caps at the worst `cap` ratios."""
    prev = {"up": 1.0, "down": 3.0, "flat": 2.0, "tiny": 0.001,
            "prevfail": -1.0, "newq": 1.0, "big": 1.0, "huge": 1.0}
    cur = {"up": 1.6, "down": 1.9, "flat": 2.4, "tiny": 0.04,
           "prevfail": 5.0, "curfail": -1.0, "big": 2.0, "huge": 9.0}
    out = bench._select_drifted(cur, prev)
    assert set(out) == {"up", "down", "big", "huge"}
    assert out[0] == "huge"  # worst ratio first
    assert bench._select_drifted(cur, prev, cap=2) == ["huge", "big"]


def _job(job_id, stage, group, records, tasks=1):
    """Event-log lines of a one-stage job in ``group`` whose tasks each
    write ``records`` shuffle records."""
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Stage Attempt ID": 0, "Task Info": {"Accumulables": []},
            "Task Metrics": {"Executor Run Time": 10, "JVM GC Time": 0,
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": 8 * records,
                                 "Shuffle Records Written": records}}}
    return ([{"Event": "SparkListenerJobStart", "Job ID": job_id,
              "Stage IDs": [stage], "Properties": {"spark.jobGroup.id": group}}]
            + [task] * tasks
            + [{"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": stage, "Number of Tasks": tasks}}])


_TOPK_PLAN = """\
*(2) Filter (rn#3 <= 3)
+- Window [row_number() windowspecdefinition(k#1, v#2 DESC NULLS LAST, \
specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], \
[k#1], [v#2 DESC NULLS LAST]
   +- WindowGroupLimit [k#1], [v#2 DESC NULLS LAST], row_number(), 3, Final
      +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]
"""


def test_profile_records_report_the_warm_pass(tmp_path):
    """Only pass 1 is reported, a phase that ran no job reads zeros, and
    an erroring query keeps just its error."""
    events = [{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}]
    events += _job(0, 0, "q/0/construct", 0, tasks=4)
    events += _job(1, 1, "q/0/action", 100)
    events += _job(2, 2, "q/0/action", 100)
    events += _job(3, 3, "q/1/construct", 0)
    events += _job(4, 4, "q/1/action", 40, tasks=2)
    (tmp_path / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    runs = {"q": {"walls": {"construct": 0.5, "action": 1.25, "plan": 0.0104},
                  "plan": _TOPK_PLAN},
            "bad": {"error": "ValueError: boom"}}

    recs = profile_tool.assemble(str(tmp_path), runs)

    assert recs["bad"] == {"error": "ValueError: boom"}
    q = recs["q"]
    assert (q["construct_s"], q["action_s"], q["plan_s"]) == (0.5, 1.25, 0.01)
    assert (q["construct"]["jobs"], q["construct"]["tasks"]) == (1, 1)
    assert q["action"]["jobs"] == 1
    assert (q["action"]["stages"], q["action"]["tasks"]) == (1, 2)
    assert q["action"]["shuffle_records"] == 80
    assert q["action"]["shuffle_write_bytes"] == 640
    assert set(q["plan"].values()) == {0}
    assert q["nodes"]["Window"] == q["nodes"]["Exchange"] == 1
    assert q["window_group_limit"] is True
    assert [s.split(",")[0] for s in q["window_specs"]] == ["k#1"]


def test_profile_cli_smoke(sf_dir):
    """Two registry queries end to end: one JSON document on stdout with
    one error-free record per query."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    out = subprocess.run(
        [sys.executable, PROFILE_TOOL, sf_dir, "tpch_q1_aggregate", "graph_bfs"],
        capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    recs = json.loads(out.stdout)["queries"]
    assert sorted(recs) == ["graph_bfs", "tpch_q1_aggregate"]
    for name, rec in recs.items():
        assert "error" not in rec, (name, rec)
        assert rec["action"]["jobs"] >= 1, name
    # the BFS frontier loop runs its jobs while the DataFrame is built
    assert recs["graph_bfs"]["construct"]["jobs"] > 0
    assert recs["tpch_q1_aggregate"]["action"]["shuffle_records"] > 0

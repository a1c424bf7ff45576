"""Profile registry queries layer by layer, from the Spark event log.

Usage:
    python tools/query_profile.py [sf_dir] [query ...]

Runs the named queries of ``__spark_entry__.queries()`` (default: all, in
registry order) on ``sf_dir`` (default: the sf0.1 set beside the
plan-shape golden's data) in one session that writes an uncompressed
event log to a temp dir. After one warm-up, each query runs twice and
only the second (warm) pass is reported. Each pass tags its Spark jobs
with one job group per phase:

- ``<query>/<pass>/construct``: building the DataFrame (the eager
  censuses and checkpoints of an operator run here);
- ``<query>/<pass>/action``: a noop write;
- ``<query>/<pass>/plan``: reading the executed plan string. It is read
  after the action: read before it, it can add a job to the action.

After the session stops, the log is parsed (``perfbench.eventlog``) into
one record per query: the wall of each phase, the counters of each phase
(jobs, stages, single-task stages, tasks, task run time, GC, shuffle
bytes and records, spill, Python-worker rows and bytes), the plan's node
counts (``capture_plans.node_counts``), its window specs and whether a
``WindowGroupLimit`` pre-limits a top-k window. A query that fails gets
``{"error": ...}`` and the sweep goes on.

Progress lines go to stderr; stdout gets one JSON document with one query
record per line.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]  # HERE for capture_plans when loaded by path

from capture_plans import SHAPE_SF_DIR, dumps as dumps_by_query, node_counts  # noqa: E402
from perfbench.eventlog import GroupCounters, find_logs, parse  # noqa: E402

DEFAULT_SF_DIR = os.path.join(os.path.dirname(SHAPE_SF_DIR), "sf0.1")
PHASES = ("construct", "action", "plan")
PASSES = 2   # only the last is reported: the first still warms the JIT
_WINDOW_RE = re.compile(r"windowspecdefinition\(([^)]*)\)")


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def warm_up(spark, entry) -> None:
    """Warm the JVM and the Python workers before the first query."""
    sc = spark.sparkContext
    sc.setJobGroup("profile/warmup", "warm-up")
    try:
        entry.entry(spark).write.format("noop").mode("overwrite").save()
        n = sc.defaultParallelism
        (spark.range(n * 4).repartition(n)
         .mapInPandas(lambda it: it, schema="id long")
         .write.format("noop").mode("overwrite").save())
    except Exception as e:  # a cold first query is no reason to stop
        _log(f"# warm-up failed: {type(e).__name__}: {e}")


def run_pass(spark, name: str, build, sf_dir: str, pass_: int) -> dict:
    """One pass of one query: the wall of each phase and the plan string."""
    sc = spark.sparkContext
    walls = {}

    def phase(p, fn):
        sc.setJobGroup(f"{name}/{pass_}/{p}", name)
        t = time.perf_counter()
        out = fn()
        walls[p] = time.perf_counter() - t
        return out

    try:
        df = phase("construct", lambda: build(spark, sf_dir))
        phase("action", lambda: df.write.format("noop").mode("overwrite").save())
        plan = phase("plan",
                     lambda: df._jdf.queryExecution().executedPlan().toString())
    finally:
        sc.setJobGroup("profile/idle", "between queries")
    return {"walls": walls, "plan": plan}


def sweep(spark, queries: dict, sf_dir: str, names: list[str]) -> dict:
    """{query: its last pass's walls and plan, or {"error": ...}}."""
    runs = {}
    for name in names:
        try:
            for i in range(PASSES):
                runs[name] = run_pass(spark, name, queries[name], sf_dir, i)
        except Exception as e:  # one failing query must not stop the sweep
            runs[name] = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
            _log(f"{name:36s} ERROR {runs[name]['error'][:120]}")
            continue
        w = runs[name]["walls"]
        _log(f"{name:36s} construct={w['construct']:7.3f}s "
             f"action={w['action']:7.3f}s plan={w['plan']:6.3f}s")
    return runs


def record(name: str, run: dict, groups: dict[str, GroupCounters]) -> dict:
    """The reported record of one query; a phase without jobs reads zeros."""
    if "error" in run:
        return {"error": run["error"]}
    plan = run["plan"]
    rec = {f"{p}_s": round(run["walls"][p], 3) for p in PHASES}
    rec.update({p: asdict(groups.get(f"{name}/{PASSES - 1}/{p}", GroupCounters()))
                for p in PHASES})
    rec["nodes"] = node_counts(plan)
    rec["window_specs"] = sorted(set(_WINDOW_RE.findall(plan)))
    rec["window_group_limit"] = "WindowGroupLimit" in plan
    return rec


def assemble(log_dir: str, runs: dict) -> dict:
    """Records per query from the sweep's ``runs`` and the finished event
    log of the one application under ``log_dir``."""
    (app,) = find_logs(log_dir)
    groups = parse(app)
    return {name: record(name, run, groups) for name, run in runs.items()}


def dumps(doc: dict) -> str:
    """``doc`` as JSON, one query record per line, so that two profiles
    diff query by query."""
    head = "".join(f"{json.dumps(k)}: {json.dumps(v)}, "
                   for k, v in doc.items() if k != "queries")
    return "{" + head + '"queries": ' + dumps_by_query(doc["queries"]).rstrip() + "}\n"


def main(argv: list[str]) -> None:
    sf_dir = argv[0] if argv else DEFAULT_SF_DIR
    log_dir = tempfile.mkdtemp(prefix="omigo_profile_")
    try:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell")
        import __spark_entry__ as entry
        from omigo_data_analytics_spark import get_spark
        spark = get_spark("omigo_spark_profile")
        spark.sparkContext.setLogLevel("ERROR")
        cpus = spark.sparkContext.defaultParallelism
        queries = entry.queries()
        warm_up(spark, entry)
        runs = sweep(spark, queries, sf_dir, argv[1:] or list(queries))
        spark.stop()   # flushes and closes the event log
        doc = {"sf_dir": sf_dir, "cpus": cpus, "queries": assemble(log_dir, runs)}
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    sys.stdout.write(dumps(doc))


if __name__ == "__main__":
    main(sys.argv[1:])

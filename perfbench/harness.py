"""One benchmark run: session, data, warm pass, timed pass, traced pass.

The client is one driver thread issuing ops one at a time (a closed loop).
Each layer is measured from outside, by timing the benchmark's calls into
it: construction (the Python call that returns the frame), Catalyst
planning (forcing the physical plan, traced runs only), the action, and
every ``sources`` read and write.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import random
import resource
import shutil
import sys
import time
from dataclasses import dataclass, field

import datagen
import stats
import workloads
from spans import Tracer

clock = time.perf_counter
# untimed passes after the checked one, before timing starts
WARM_PASSES = 2


@dataclass
class OpRun:
    """One execution of one op."""
    op: str
    wall: float
    ok: bool
    input_rows: int = 0
    group: str = ""
    jobs: dict = field(default_factory=dict)   # phase -> jobs submitted
    span_lo: int = 0                           # tracer span index range
    span_hi: int = 0
    read_bytes: int = 0
    written_rows: int = 0
    written_bytes: int = 0
    files_written: int = 0


class OpContext:
    """What an op sees: the session, the tables, and span-wrapped sources."""

    def __init__(self, spark, data_dir: str, out_dir: str, tables, tracer: Tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.tables = tables          # name -> datagen.TableStats
        self.tracer = tracer
        self.reset()

    def reset(self):
        self.input_rows = 0
        self.read_bytes = 0
        self.written_rows = 0
        self.written_paths: list[str] = []

    def rows(self, name: str) -> int:
        return self.tables[name].rows

    def load(self, name: str):
        from omigo_data_analytics_spark.sources import io as IO
        with self.tracer.span("sources.read"):
            df = IO.load_testdata(self.spark, self.data_dir, name)
        self.input_rows += self.tables[name].rows
        self.read_bytes += self.tables[name].bytes
        return df

    def out_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def read(self, fn, *args, **kwargs):
        with self.tracer.span("sources.read"):
            return fn(*args, **kwargs)

    def write(self, fn, xdf, path: str, rows: int, **kwargs):
        with self.tracer.span("sources.write"):
            fn(xdf, path, **kwargs)
        self.written_rows += rows
        self.written_paths.append(path)


def load_checker(root: str):
    """The repository's correctness fingerprint (tools/check_correctness.py)."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_output(pdf, oracle: str | None, con, checker) -> bool:
    """Rows, columns and value fingerprint of ``pdf`` against the DuckDB
    ``oracle``; without an oracle, at least one row."""
    if oracle is None:
        return len(pdf) > 0
    want = con.execute(oracle).df()
    if sorted(pdf.columns) != sorted(want.columns) or len(pdf) != len(want):
        return False
    return checker.frame_fingerprint(pdf)[0] == checker.frame_fingerprint(want)[0]


class Run:
    def __init__(self, root: str, workload: workloads.Workload, seed: int, trace: bool):
        self.root = root
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
            else (os.cpu_count() or 1)
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{workload.name}-{seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.failed_ops: list[str] = []
        self.attempted = 0
        self.failed = 0

    # ------------------------------------------------------------ set-up
    def _session_env(self):
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # UDF workers import the package by module path: put the checkout
        # root on their PYTHONPATH, whatever the launch directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        import tempfile
        tempfile.tempdir = tmp
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        if self.trace:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.eventlog_dir,
                         "spark.eventLog.compress": "false"})
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
        # both JVMs (the submit launcher and the driver): temp files in the
        # run's directory, and no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def setup(self):
        """Start the session, generate the data, load the op registry."""
        os.makedirs(self.work, exist_ok=True)
        self._session_env()
        if self.root not in sys.path:
            sys.path.insert(0, self.root)
        from omigo_data_analytics_spark import get_spark

        t = clock()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.session_start_s = clock() - t
        self.spark.sparkContext.setLogLevel("ERROR")

        shutil.rmtree(self.data_dir, ignore_errors=True)
        t = clock()
        self.tables = datagen.generate(self.data_dir, self.seed, self.wl.sf,
                                       self.wl.copies, self.wl.files)
        self.datagen_s = clock() - t

        import __spark_entry__ as entry
        self.ctx = OpContext(self.spark, self.data_dir,
                             os.path.join(self.work, "out"), self.tables, self.tracer)
        # registry ops load their tables through the recorded, span-wrapped loader
        entry.load_testdata = lambda spark, sf_dir, table: self.ctx.load(table)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.builders, self.oracles = {}, {}
        for name in self.wl.ops:
            if name in workloads.ETL_OPS:
                op = workloads.ETL_OPS[name]
                self.builders[name] = op.build
                self.oracles[name] = op.oracle
            else:
                fn = registry[name]
                self.builders[name] = (lambda f: lambda ctx: f(ctx.spark, ctx.data_dir))(fn)
                self.oracles[name] = oracles.get(name)
        self.order = list(self.wl.ops)
        random.Random(self.seed).shuffle(self.order)

    # -------------------------------------------------------------- ops
    def _run_op(self, name: str, action: str, group: str | None = None) -> tuple[OpRun, object]:
        """Construct and force one op; never raises."""
        ctx, tr = self.ctx, self.tracer
        ctx.reset()
        tr.op = group or name
        sc = self.spark.sparkContext
        lo = len(tr.spans)
        result = None
        t0 = clock()
        ok = True
        try:
            with tr.span("op"):
                if group:
                    sc.setJobGroup(f"{group}/construct", name)
                with tr.span("construct"):
                    df = self.builders[name](ctx)
                if group:
                    sc.setJobGroup(f"{group}/plan", name)
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(f"{group}/action", name)
                with tr.span("action"):
                    if action == "collect":
                        result = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # one failing op must not stop the run
            ok = False
            _log(f"# op {name} failed: {type(e).__name__}: {str(e)[:300]}")
        wall = clock() - t0
        run = OpRun(name, wall, ok, ctx.input_rows, group or "",
                    span_lo=lo, span_hi=len(tr.spans), read_bytes=ctx.read_bytes,
                    written_rows=ctx.written_rows)
        if group:
            st = sc.statusTracker()
            run.jobs = {p: len(st.getJobIdsForGroup(f"{group}/{p}"))
                        for p in ("construct", "plan", "action")}
            sc.setJobGroup("perfbench/idle", "between ops")
            for p in ctx.written_paths:
                run.files_written += _count_files(p)
                run.written_bytes += _size(p)
        df = None
        gc.collect()
        return run, result

    def warm_pass(self):
        """The warm phase, all of it in ``setup_s``: a pass whose every
        output is checked, then ``WARM_PASSES`` untimed passes."""
        import duckdb
        checker = load_checker(self.root)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet/*.parquet')")
        self.warm_s = 0.0
        self.check_s = 0.0   # oracle time: the benchmark's, not in setup_s
        for name in self.order:
            run, pdf = self._run_op(name, "collect")
            self.warm_s += run.wall
            self.attempted += 1
            ok = run.ok
            if ok:
                t = clock()
                try:
                    ok = check_output(pdf, self.oracles[name], con, checker)
                except Exception as e:
                    _log(f"# check {name} failed: {type(e).__name__}: {e}")
                    ok = False
                self.check_s += clock() - t
                if not ok:
                    _log(f"# op {name}: output differs from the oracle")
            if not ok:
                self.failed += 1
                self.failed_ops.append(name)
        con.close()
        # the JIT keeps compiling for a few passes after the first one;
        # timing before it settles measures the compiler, not the program
        self.warm_walls = [_wall(self._pass()) for _ in range(WARM_PASSES)]
        self.warm_s += sum(self.warm_walls)

    def _pass(self, group_prefix: str | None = None) -> list[OpRun]:
        runs = []
        for name in self.order:
            group = f"{group_prefix}:{name}" if group_prefix else None
            run, _ = self._run_op(name, "noop", group)
            runs.append(run)
            self.attempted += 1
            if not run.ok:
                self.failed += 1
                self.failed_ops.append(name)
        return runs

    def timed_pass(self):
        """The workload's fixed number of whole passes over the ops, so
        every op weighs the same in every run and every run measures the
        same work at the same point after warm-up, on a busy box too."""
        self.timed: list[OpRun] = []
        self.cycle_walls: list[float] = []
        self.cycles = self.wl.passes
        cpu0 = _cpu_times()
        for _ in range(self.cycles):
            runs = self._pass()
            self.timed += runs
            self.cycle_walls.append(_wall(runs))
        self.steal_frac = _steal_frac(cpu0, _cpu_times())

    def traced_passes(self, n: int = 2):
        """``n`` traced passes, each right after an untraced one: the JIT
        is still speeding passes up, so the tracing overhead is taken
        against the pass next to it, not against the timed passes."""
        self.traced: list[list[OpRun]] = []
        self.traced_walls = []
        untraced = []
        for i in range(n):
            untraced.append(_wall(self._pass()))
            self.tracer.enabled = True
            self.traced.append(self._pass(group_prefix=f"t{i}"))
            self.tracer.enabled = False
            self.traced_walls.append(_wall(self.traced[-1]))
        self.untraced_pass_s = sum(untraced) / n

    # ------------------------------------------------------------ results
    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python process."""
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def end_to_end(self) -> dict:
        """The bounded metrics; throughput is taken over the median pass, so
        one pass slowed by a neighbour's burst does not move it."""
        cycle = stats.median(self.cycle_walls)
        per_cycle_rows = sum(r.input_rows for r in self.timed) / self.cycles
        return {
            "setup_s": (self.session_start_s + self.datagen_s + self.warm_s, "s"),
            "ops_per_s": (len(self.order) / cycle, "1/s"),
            "op_geomean_s": (stats.geomean(self._op_medians().values()), "s"),
            "input_rows_per_s": (per_cycle_rows / cycle, "rows/s"),
        }

    def _op_medians(self) -> dict[str, float]:
        by_op: dict[str, list[float]] = {}
        for r in self.timed:
            by_op.setdefault(r.op, []).append(r.wall)
        return {op: stats.median(ws) for op, ws in by_op.items()}

    def summary(self) -> dict:
        """Figures printed beside the metrics but not bounded."""
        walls = [r.wall for r in self.timed]
        p90 = stats.percentile(walls, 90)
        return {"samples": len(walls), "cycles": self.cycles,
                "op_p50_s": stats.median(walls),
                "warm_pass_walls_s": [round(w, 3) for w in self.warm_walls],
                "cycle_walls_s": [round(w, 3) for w in self.cycle_walls],
                "op_p90_s": p90 if p90 is not None else "omitted (<100 samples)",
                "peak_rss_mb": round(self.rss_mb, 1),
                "host_steal_frac": self.steal_frac,
                "failed_frac": self.failed / max(1, self.attempted),
                "failed_ops": sorted(set(self.failed_ops)),
                "session_start_s": self.session_start_s,
                "datagen_s": self.datagen_s, "warm_s": self.warm_s,
                "check_s": self.check_s,
                "op_median_s": {k: round(v, 3) for k, v in self._op_medians().items()},
                "input_rows": {t: s.rows for t, s in self.tables.items()},
                "input_bytes": {t: s.bytes for t, s in self.tables.items()},
                "input_files": {t: s.files for t, s in self.tables.items()}}

    def stop(self):
        """Stop the session and the JVM behind it, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def cleanup(self):
        shutil.rmtree(self.work, ignore_errors=True)
        try:   # the shared parent too, unless another run still uses it
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _count_files(path: str) -> int:
    """Data files under ``path``; markers and checksums are not data."""
    if os.path.isfile(path):
        return 1
    return sum(1 for _, _, names in os.walk(path)
               for f in names if not f.startswith(("_", ".")))


def _size(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in names
                     if not f.startswith(("_", ".")))
    return total


def _wall(runs: list[OpRun]) -> float:
    """A pass's wall: its ops' walls, without the benchmark's own work
    between them (garbage collection, job-group bookkeeping)."""
    return sum(r.wall for r in runs)


def _cpu_times() -> list[int] | None:
    """The machine's CPU time counters (Linux ``/proc/stat``), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_frac(a, b) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_times()`` readings: a busy host slows every figure of a run."""
    if a is None or b is None or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return round(d[7] / sum(d), 4) if sum(d) else None

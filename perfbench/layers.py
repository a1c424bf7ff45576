"""Per-layer metrics of a traced run, from spans and the event log.

Every value is per pass over the workload's ops (the mean of the traced
passes), so runs with different seeds compare directly.
"""

from __future__ import annotations

from eventlog import GroupCounters

PHASES = ("construct", "plan", "action")
MB = 1024.0 * 1024.0


def op_spans(tracer, run) -> dict[str, float]:
    """Self times of one traced op execution, by layer."""
    out = {"op": 0.0, "construct": 0.0, "plan": 0.0, "action": 0.0,
           "sources.read": 0.0, "sources.write": 0.0}
    for i in range(run.span_lo, run.span_hi):
        s = tracer.spans[i]
        out[s.name] = out.get(s.name, 0.0) + tracer.self_time(i)
    return out


def op_counts(run, groups: dict[str, GroupCounters]) -> tuple:
    """The counts that must repeat exactly between two traced passes."""
    per_phase = [groups.get(f"{run.group}/{p}", GroupCounters()) for p in PHASES]
    return (tuple(run.jobs.get(p, 0) for p in PHASES),
            tuple(g.stages for g in per_phase), tuple(g.tasks for g in per_phase))


def unstable_ops(passes, groups) -> list[str]:
    """Ops whose job, stage or task counts differ between traced passes."""
    first = {r.op: op_counts(r, groups) for r in passes[0]}
    names = set()
    for runs in passes[1:]:
        for r in runs:
            if op_counts(r, groups) != first.get(r.op):
                names.add(r.op)
    return sorted(names)


def _sum_groups(runs, groups, phases) -> GroupCounters:
    """Event-log counters of the given phases of ``runs``, summed."""
    out = GroupCounters()
    for r in runs:
        for p in phases:
            g = groups.get(f"{r.group}/{p}")
            if g is None:
                continue
            for f in ("stages", "single_task_stages", "tasks", "task_run_ms",
                      "gc_ms", "shuffle_write_bytes", "shuffle_records",
                      "spill_bytes", "py_rows", "py_bytes_in"):
                setattr(out, f, getattr(out, f) + getattr(g, f))
    return out


def per_layer(tracer, passes, groups, cpus: int, session_start_s: float,
              untraced_pass_s: float, traced_walls) -> dict[str, tuple[float, str]]:
    n = len(passes)
    runs = [r for p in passes for r in p]
    t = {k: 0.0 for k in ("op", "construct", "plan", "action",
                          "sources.read", "sources.write")}
    wall = 0.0
    for r in runs:
        wall += r.wall
        for k, v in op_spans(tracer, r).items():
            t[k] = t.get(k, 0.0) + v
    # exec.* counts only the plan and action job groups, like exec.jobs;
    # jobs an operator submits while it builds its frame (eager
    # checkpoints) are the construction layer's
    ex = _sum_groups(runs, groups, ("plan", "action"))
    con = _sum_groups(runs, groups, ("construct",))
    jobs = {p: sum(r.jobs.get(p, 0) for r in runs) for p in PHASES}
    # the share is taken over the ops that write: what they wrote per
    # byte of generated input they read
    read_bytes = sum(r.read_bytes for r in runs if r.written_bytes)
    written_bytes = sum(r.written_bytes for r in runs)
    task_run_s = ex.task_run_ms / 1000.0
    exec_wall = t["plan"] + t["action"]
    return {
        "session.start_s": (session_start_s, "s"),
        "construct.self_s": (t["construct"] / n, "s"),
        "construct.jobs": (jobs["construct"] / n, "count"),
        "construct.stages": (con.stages / n, "count"),
        "construct.tasks": (con.tasks / n, "count"),
        "construct.task_run_s": (con.task_run_ms / 1000.0 / n, "s"),
        "catalyst.plan_s": (t["plan"] / n, "s"),
        "exec.action_s": (t["action"] / n, "s"),
        "exec.jobs": ((jobs["plan"] + jobs["action"]) / n, "count"),
        "exec.stages": (ex.stages / n, "count"),
        "exec.tasks": (ex.tasks / n, "count"),
        "exec.single_task_stage_frac": (ex.single_task_stages / max(1, ex.stages), "frac"),
        "exec.task_run_s": (task_run_s / n, "s"),
        "exec.parallel_eff": (task_run_s / (exec_wall * cpus) if exec_wall else 0.0,
                              "frac"),
        "exec.shuffle_write_mb": (ex.shuffle_write_bytes / MB / n, "MB"),
        "exec.shuffle_records": (ex.shuffle_records / n, "count"),
        "exec.spill_mb": (ex.spill_bytes / MB / n, "MB"),
        "exec.gc_s": (ex.gc_ms / 1000.0 / n, "s"),
        # Python-UDF eval nodes run in every phase: the pyworker layer counts them all
        "pyworker.rows_in": ((ex.py_rows + con.py_rows) / n, "count"),
        "pyworker.mb_in": ((ex.py_bytes_in + con.py_bytes_in) / MB / n, "MB"),
        "sources.read_s": (t["sources.read"] / n, "s"),
        "sources.write_s": (t["sources.write"] / n, "s"),
        "sources.files_written": (sum(r.files_written for r in runs) / n, "count"),
        "sources.bytes_per_input_byte": (written_bytes / read_bytes if read_bytes else 0.0,
                                         "ratio"),
        "sources.rows_written_per_s": (sum(r.written_rows for r in runs) / wall
                                       if wall else 0.0, "rows/s"),
        "trace.overhead_frac": (sum(traced_walls) / n / untraced_pass_s, "ratio"),
        "trace.unaccounted_frac": (t["op"] / wall if wall else 0.0, "frac"),
        "trace.unstable_ops": (len(unstable_ops(passes, groups)), "count"),
    }

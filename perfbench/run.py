"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Runs one workload of ``perfbench/workloads.py`` from the root of a
checkout and prints, as its last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer ones.  ``--steady K`` instead runs the
workload K times with seeds ``--seed .. --seed+K-1`` and prints each
metric's median and quartile spread.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    # the work of a run is fixed per workload (Workload.passes); --seconds
    # is accepted for the calling convention and passed on by --steady
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, metavar="K",
                   help="run K seeds in child processes and report spreads")
    return p.parse_args(argv)


def _program_present() -> str | None:
    """Why the program cannot be benchmarked here, or None."""
    for rel in ("__spark_entry__.py", "omigo_data_analytics_spark/__init__.py",
                "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a full checkout"
    try:
        import pyspark  # noqa: F401
        import duckdb  # noqa: F401
        import pyarrow  # noqa: F401
    except ImportError as e:
        return f"missing dependency: {e}"
    return None


def _print_table(title: str, metrics: dict, extra: dict):
    print(f"# {title}")
    for name, m in metrics.items():
        print(f"#   {name:32s} {m['value']:14.6g} {m['unit']}")
    for k, v in extra.items():
        print(f"#   {k}: {v}")


def run_once(args) -> int:
    import workloads
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    import eventlog
    import layers
    from harness import Run

    run = Run(ROOT, wl, args.seed, bool(args.trace))
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        try:
            run.setup()
            run.warm_pass()
            run.timed_pass()
            if args.trace:
                run.traced_passes(2)
            run.rss_mb = run.peak_rss_mb()
        finally:
            run.stop()   # flushes the event log
        extra = run.summary()
        if args.trace:
            groups = {}
            for log in eventlog.find_logs(run.eventlog_dir):
                groups.update(eventlog.parse(log))
            raw = layers.per_layer(run.tracer, run.traced, groups, run.cpus,
                                   run.session_start_s, run.untraced_pass_s,
                                   run.traced_walls)
            raw["session.peak_rss_mb"] = (run.rss_mb, "MB")
            extra["unstable_ops"] = layers.unstable_ops(run.traced, groups)
        else:
            raw = run.end_to_end()
    finally:
        run.cleanup()
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in raw.items()}
    _print_table(f"{wl.name} seed={args.seed} trace={args.trace}", metrics, extra)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    why = _program_present()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    if args.steady:
        from steady import steady
        return steady(args, os.path.abspath(__file__))
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())

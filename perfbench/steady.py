"""Steadiness mode: run one workload K times, one seed each, in child
processes, and print each metric's median and quartile spread (the
distance between the first and third quartile as a share of the median).
These spreads are what the bounds in BENCHMARK.json are set against."""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

from stats import quartile_spread


def steady(args, script: str) -> int:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    failed = 0
    for i in range(args.steady):
        seed = args.seed + i
        cmd = [sys.executable, script, "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"# seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        failed += res["failed"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        steal = [ln.split(":", 1)[1].strip() for ln in lines if "host_steal_frac:" in ln]
        print(f"# seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
            + f" (run wall {wall:.1f}s" + (f", host steal {steal[0]})" if steal else ")"),
            flush=True)
    report = {}
    for name, vs in values.items():
        q1, q2, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        report[name] = {"median": statistics.median(vs), "q1": q1, "q3": q3,
                        "spread": quartile_spread(vs), "unit": units[name]}
        print(f"# {name:32s} median {report[name]['median']:12.6g} {units[name]:8s}"
              f" spread {report[name]['spread']:.4f}")
    print(json.dumps({"workload": args.workload, "runs": args.steady,
                      "failed": failed, "metrics": report}))
    return 0 if failed == 0 else 1

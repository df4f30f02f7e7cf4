#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarize the spread.

    python3 perfbench/sweep.py --workloads bulk_replay,live_mirror \\
        --seeds 1-10 --seconds 18 --out sweep.json

Runs ``perfbench/run.py`` once per (workload, seed), one at a time, and
records for every metric its values, median, quartiles and the
interquartile spread as a share of the median (``statistics.quantiles``
with ``n=4``). A short host probe (``tools/host_probes.probe``: CPU loop
and random gather at 1 and 4 processes) is stored before and after the
set, so a later comparison can tell whether the host window moved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_probe() -> dict:
    sys.path.insert(0, ROOT)
    from tools import host_probes as hp

    return {
        "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "cpu_ops_per_sec": hp.probe(hp._cpu_worker, 30_000_000, 1, 4, trials=1),
        "gather_bytes_per_sec": hp.probe(hp._gather_worker, 8 * 50_000_000, 1, 4,
                                         trials=1),
    }


def seeds_of(spec: str) -> list:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list) -> dict:
    med = statistics.median(values)
    out = {"values": values, "median": med}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="bulk_replay,live_mirror")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=18)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    report = {"seconds": args.seconds,
              "host_before": host_probe(), "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join("perfbench", "run.py"),
                 "--workload", wl, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if proc.returncode != 0 or len(lines) < 2:
                runs.append({"seed": seed, "returncode": proc.returncode,
                             "stderr": proc.stderr[-2000:]})
            else:
                runs.append({"seed": seed, "wall_s": time.monotonic() - t0,
                             **json.loads(lines[-2]), "result": json.loads(lines[-1])})
            print(wl, seed, json.dumps(runs[-1].get("result", runs[-1]))[:300],
                  flush=True)
        ok = [r for r in runs if "result" in r]
        names = ok[0]["result"]["metrics"] if ok else {}
        report["workloads"][wl] = {
            "runs": runs,
            "all_correct": bool(ok) and len(ok) == len(runs)
            and all(r["result"]["correct"] for r in ok),
            "run_wall_s": summarize([r["wall_s"] for r in ok]) if ok else None,
            "metrics": {
                n: {"unit": names[n]["unit"],
                    **summarize([r["result"]["metrics"][n]["value"] for r in ok])}
                for n in names
            },
        }
    report["host_after"] = host_probe()
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for wl, rep in report["workloads"].items():
        for n, m in rep["metrics"].items():
            print(f"{wl:12s} {n:32s} median={m['median']:.4g} "
                  f"spread={m.get('spread') or 0:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

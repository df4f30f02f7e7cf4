#!/usr/bin/env python3
"""CDC ingest benchmark: bulk replay, live tail and mirror reads.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

The engine runs at ``local[<cores>]`` with ``bench.py``'s Spark settings,
driven through its public entry points by one single-threaded client.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
same window three times (untraced, traced, untraced) and reports the
per-layer metrics instead. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it holds the details (sample counts, ``gen_s``, errors and,
traced, every recorded span).
Everything the run writes lives under ``perfbench/.work`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the driver heap on a 15 GB host (bench.py defaults to 48g)
DRIVER_MEM = "4g"

E2E = (
    ("setup_s", "s"),
    ("ingest_events_per_s", "1/s"),
    ("batch_p50_s", "s"),
    ("lookup_p50_ms", "ms"),
    ("full_read_p50_s", "s"),
)

#: how far the traced ``bulk_replay`` spans may miss the replay walls
COVERAGE_TOL = 0.10


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_MEM=DRIVER_MEM,
        # executors' Python workers import the engine from this checkout
        PYTHONPATH=ROOT + (os.pathsep + old_pp if old_pp else ""),
        # every JVM (launcher and driver): temp files here, and no
        # /tmp/hsperfdata_<user> performance-data file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt-default"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            # no zstd module is installed for the reader; keep it plain
            "spark.eventLog.compress": "false",
        })
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF from its driver
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple:
    import bench

    from spans import (PER_LAYER, WINDOW_GROUP, SparkAccounting, Tracer,
                       isolated_layers, layer_metrics)
    from workloads import SETUP_REPS, WORKLOADS, Outcome, p50

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = bench._mk_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        tracer = Tracer(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds,
                                      args.tiny, tracer)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0

        setup_walls, tables = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            tables.append(wl.setup_unit())
            setup_walls.append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        wl.warm_reads(tables[-1])
        warm_reads_s = time.perf_counter() - t0

        if args.trace:
            # untraced, traced, untraced, each on its own set-up table: the
            # overhead is the traced wall minus the mean untraced wall, so
            # the JVM's warm-up across the three windows cancels out
            plan = [(tables[0], False), (tables[1], True), (tables[2], False)]
        else:
            plan = [(tables[-1], False)]
        outs, walls = [], []
        for table, traced in plan:
            o = Outcome()
            if traced:
                tracer.install()
                tracer.enabled = True
                spark.sparkContext.setJobGroup(WINDOW_GROUP, "window")
            t0 = time.perf_counter()
            wl.window(table, o)
            walls.append(time.perf_counter() - t0)
            if traced:
                tracer.enabled = False
                tracer.uninstall()
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                out, traced_table = o, wl.final_table
            wl.check_final_state(wl.final_table, o)
            outs.append(o)
        if not args.trace:
            out = outs[0]
        rss_mb = {"python": _peak_rss_mb("self"), "jvm": _peak_rss_mb(jvm_pid)}

        errors = [e for o in outs for e in o.errors]
        attempted = sum(o.attempted for o in outs)
        failed = sum(o.failed for o in outs)
        detail = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus,
            "gen_s": gen_s, "spark_start_s": spark_start_s,
            "setup_walls_s": setup_walls, "warm_reads_s": warm_reads_s,
            "window_walls_s": walls,
            "events": out.events, "peak_rss_mb": rss_mb,
            "samples": {"batch_s": out.batch_walls, "lookup_ms": out.lookup_ms,
                        "full_read_s": out.full_read_s},
        }
        if not args.trace:
            values = {
                "setup_s": spark_start_s + statistics.median(setup_walls),
                "ingest_events_per_s": wl.events_per_s(out),
                "batch_p50_s": p50(out.batch_walls),
                "lookup_p50_ms": p50(out.lookup_ms),
                "full_read_p50_s": p50(out.full_read_s),
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in E2E}
        else:
            iso = isolated_layers(spark, wl.frames, wl.value_cols, wl.strict)
            snap_file = os.path.join(traced_table.snap_dir,
                                     f"v{traced_table.current_version():08d}.json")
            win = {
                "batch_walls": out.batch_walls, "events": out.events,
                "read_rows": out.read_rows, "lookup_rows": out.lookup_rows,
                "read_delta_dirs": out.read_delta_dirs,
                "manifest_bytes": os.path.getsize(snap_file),
                "untraced_walls": [walls[0], walls[2]], "traced_wall": walls[1],
            }
            acct = SparkAccounting(spark, os.path.join(work, "events"))
            acct.prefetch(tracer)
    finally:
        _stop_spark(spark)
    if args.trace:
        acct.load_event_log()
        values = layer_metrics(tracer, acct, win, iso)
        # at --tiny size the once-per-replay driver code outweighs the data
        # path, so the check holds only at the benchmark's own size
        if wl.gate_coverage and not args.tiny:
            attempted += 1
            miss = abs(1.0 - values["trace.coverage"])
            if miss > COVERAGE_TOL:
                failed += 1
                errors.append(f"spans cover {values['trace.coverage']:.3f} "
                              f"of the batch walls (tolerance {COVERAGE_TOL})")
        detail["spans"] = tracer.export()
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
    detail["errors"] = errors[:10]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_replay", "live_mirror"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test scale: small inputs, same code paths")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        _environment(work, bool(args.trace))
        sys.path[:0] = [HERE, ROOT]
        try:
            import bench  # noqa: F401 — the Spark settings
            import pypgoutput_spark  # noqa: F401
            import tools.check_oracle  # noqa: F401 — the canonical hash
        except ImportError as exc:
            print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
                  file=sys.stderr)
            return 2
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

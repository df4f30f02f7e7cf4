"""Span recording around the engine's public entry points, and the
per-layer metrics computed from the spans plus Spark's own accounting.

The tracer lives in the benchmark, not in the engine: it replaces a few
public functions and methods with wrappers for the duration of a traced
window and restores them afterwards. Every wrapper

* records a span (name, start, end, parent span, batch id, thread) in
  memory, and
* sets a Spark job group named after the span, so that
  ``SparkStatusTracker`` (job and stage counts) and the uncompressed
  event log (task times, shuffle, spill, GC, Python-worker metrics)
  attribute every Spark job to the innermost span that submitted it.

Decode and LWW are lazy: their compute runs inside the bucket write, so
no wrapper can separate them. :func:`isolated_layers` times them on
their own over the workload's frames instead. What the wrappers do see
of them is the driver-side plan building (the ``PLAN_SPANS``).
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

GROUP_PREFIX = "perfbench-"
WINDOW_GROUP = GROUP_PREFIX + "window"
ISO_DECODE_GROUP = GROUP_PREFIX + "iso-decode"
ISO_LWW_GROUP = GROUP_PREFIX + "iso-lww"
AUX_GROUP = GROUP_PREFIX + "aux"

# names of the spans the wrappers record
RUN_INGEST = "pipeline.run_ingest"
APPLY = "pipeline.apply_frames_batch"
MERGE = "merge.merge_into"
WRITE = "LakeTable.write_buckets"
COMMIT = "LakeTable.commit"
READ = "LakeTable.read"
LOOKUP = "LakeTable.lookup"
COMPACT = "LakeTable.compact"
PUBLISH = "EpochLog.publish"
REG_MERGE = "RelationRegistry.merge_frames"
# driver-side plan building inside an apply
DECODE_PLAN = "decode.decode_frames_raw"
PROJECT_PLAN = "pipeline.project_all_versions"
LWW_PLAN = "lww.lww_changes_flat"
EVOLVE = "pipeline.evolve_to_relation"
# a Spark action (collect, count, isEmpty) an ingest or an apply runs
# itself: the prescan under ``run_ingest``, planning jobs under an apply
ACTION = "spark.action"
PLAN_SPANS = (DECODE_PLAN, PROJECT_PLAN, LWW_PLAN, EVOLVE, REG_MERGE, ACTION)
# spans the benchmark opens around its own forced-compute read ops
OP_FULL_READ = "op.full_read"
OP_LOOKUP = "op.lookup"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[dict] = []
        self.enabled = False
        self.batch_id: Optional[int] = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list = []

    # -------------------------------------------------------------- spans

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "id": next(self._ids), "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "batch": self.batch_id, "thread": threading.get_ident(),
        }
        group = f"{GROUP_PREFIX}{rec['id']}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def aux(self):
        """Jobs the benchmark runs only to measure (row counts, bucket
        ids) go to a group that no layer metric counts."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(AUX_GROUP, "measurement")
        self._local.muted = True
        try:
            yield
        finally:
            self._local.muted = False
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, owner, attr: str, name: str, info=None, when=None) -> None:
        """Record a span around ``owner.attr``; with ``when``, only for
        calls made while ``when()`` holds."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if (not self.enabled or getattr(self._local, "muted", False)
                    or (when is not None and not when())):
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if info is not None:
                    rec.update(info(args, kwargs, out))
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def _in_ingest(self) -> bool:
        stack = self._stack()
        return bool(stack) and stack[-1]["name"] in (RUN_INGEST, APPLY)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from pypgoutput_spark.lake.epochs import EpochLog
        from pypgoutput_spark.lake.table import LakeTable
        from pypgoutput_spark.operators import decode as decode_op
        from pypgoutput_spark.operators import merge as merge_mod
        from pypgoutput_spark.plans.registry import RelationRegistry
        from pypgoutput_spark.streaming import pipeline

        def apply_info(a, k, out):
            return {"dead_letters": int((out or {}).get("dead_letters", 0) or 0)}

        def merge_info(a, k, out):
            return {"change_keys": int((out or {}).get("change_keys", 0) or 0)}

        def write_info(a, k, out):
            staged, dbytes = out
            return {"dirs": sum(len(v) for v in staged.values()),
                    "bytes": int(sum(dbytes.values()))}

        def read_info(a, k, out):
            b = k.get("buckets", a[2] if len(a) > 2 else None)
            return {"buckets": None if b is None else len(b)}

        self.wrap(pipeline, "run_ingest", RUN_INGEST)
        self.wrap(pipeline, "apply_frames_batch", APPLY, apply_info)
        # pipeline imports merge_into by name: wrap both bindings
        self.wrap(pipeline, "merge_into", MERGE, merge_info)
        self.wrap(merge_mod, "merge_into", MERGE, merge_info)
        self.wrap(LakeTable, "write_buckets", WRITE, write_info)
        self.wrap(LakeTable, "commit", COMMIT)
        self.wrap(LakeTable, "read", READ, read_info)
        self.wrap(LakeTable, "lookup", LOOKUP)
        self.wrap(LakeTable, "compact", COMPACT)
        self.wrap(EpochLog, "publish", PUBLISH)
        self.wrap(RelationRegistry, "merge_frames", REG_MERGE)
        # plan building: pipeline calls decode through its module and the
        # other three by the names it holds
        self.wrap(decode_op, "decode_frames_raw", DECODE_PLAN)
        self.wrap(pipeline, "project_all_versions", PROJECT_PLAN)
        self.wrap(pipeline, "lww_changes_flat", LWW_PLAN)
        self.wrap(pipeline, "evolve_to_relation", EVOLVE)
        for action in ("collect", "count", "isEmpty"):
            self.wrap(DataFrame, action, ACTION, when=self._in_ingest)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def export(self) -> List[dict]:
        """The spans in start order, times in seconds from the first."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                for s in sorted(self.spans, key=lambda s: s["start"])]

    # ------------------------------------------------------ span queries

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span: dict) -> List[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def ancestors(self, span: dict) -> List[dict]:
        by_id = {s["id"]: s for s in self.spans}
        out, p = [], span["parent"]
        while p is not None and p in by_id:
            out.append(by_id[p])
            p = by_id[p]["parent"]
        return out

    def subtree_ids(self, span: dict) -> List[int]:
        kids: Dict[int, list] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = [], [span["id"]]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(kids.get(i, ()))
        return out

    def self_time(self, span: dict, keep=()) -> float:
        """Duration minus the children's, except children named in ``keep``."""
        return dur(span) - sum(dur(c) for c in self.children(span)
                               if c["name"] not in keep)

    def under(self, span: dict, name: str) -> bool:
        return any(a["name"] == name for a in self.ancestors(span))


def dur(span: dict) -> float:
    return span["end"] - span["start"]


# --------------------------------------------------------------- Spark side


class SparkAccounting:
    """Jobs and stages per job group (SparkStatusTracker) and task-level
    metrics per job group (the uncompressed event log)."""

    def __init__(self, spark, event_dir: str):
        self.tracker = spark.sparkContext.statusTracker()
        self.event_dir = event_dir
        self.by_group: Dict[str, dict] = {}
        self._counts: Dict[str, tuple] = {}

    def prefetch(self, tr: Tracer) -> None:
        """Read job and stage counts of every span's group while the
        SparkContext is still alive."""
        for s in tr.spans:
            self.jobs_stages(f"{GROUP_PREFIX}{s['id']}")

    def jobs_stages(self, group: str) -> tuple:
        """(jobs, stages that ran) submitted under one job group."""
        if group in self._counts:
            return self._counts[group]
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            stages.update(s for s in info.stageIds
                          if self.tracker.getStageInfo(s) is not None)
        self._counts[group] = (len(jobs), len(stages))
        return self._counts[group]

    def load_event_log(self) -> None:
        """Aggregate task metrics and stage accumulables per job group.
        Call after ``spark.stop()`` so the log is flushed."""
        stage_group: Dict[int, str] = {}
        tasks: Dict[int, list] = {}
        accum: Dict[int, dict] = {}
        for path in sorted(glob.glob(os.path.join(self.event_dir, "**", "events*"),
                                     recursive=True)):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        sid = ev["Stage Info"]["Stage ID"]
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g:
                            stage_group[sid] = g
                    elif kind == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics")
                        if tm:
                            tasks.setdefault(ev["Stage ID"], []).append(tm)
                    elif kind == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        acc: Dict[str, float] = {}
                        for a in si.get("Accumulables", []):
                            try:
                                v = float(a.get("Value"))
                            except (TypeError, ValueError):
                                continue
                            acc[a.get("Name")] = acc.get(a.get("Name"), 0.0) + v
                        accum[si["Stage ID"]] = acc
        for sid, g in stage_group.items():
            agg = self.by_group.setdefault(g, _empty_group())
            tms = tasks.get(sid, [])
            run_ms = [tm.get("Executor Run Time", 0) for tm in tms]
            for tm in tms:
                agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                agg["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
                sw = tm.get("Shuffle Write Metrics") or {}
                agg["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                agg["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            acc = accum.get(sid, {})
            agg["py_run_s"] += acc.get("time to run Python workers", 0.0) / 1e3
            agg["py_start_s"] += acc.get("time to start Python workers", 0.0) / 1e3
            agg["py_bytes_in"] += acc.get("data sent to Python workers", 0.0)
            agg["py_bytes_out"] += acc.get("data returned from Python workers", 0.0)
            if len(run_ms) > len(agg["widest_stage_tasks"]):
                agg["widest_stage_tasks"] = run_ms

    def group(self, g: str) -> dict:
        return self.by_group.get(g, _empty_group())


def _empty_group() -> dict:
    return {"cpu_s": 0.0, "gc_s": 0.0, "spill_bytes": 0, "shuffle_bytes": 0,
            "fetch_wait_s": 0.0, "py_run_s": 0.0, "py_start_s": 0.0,
            "py_bytes_in": 0.0, "py_bytes_out": 0.0, "widest_stage_tasks": []}


def _skew(task_ms: list) -> float:
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else float(max(task_ms) > 0)


# ------------------------------------------------------ isolated layers


def isolated_layers(spark, frames, value_cols: list, strict: bool) -> dict:
    """Decode alone and decode+LWW alone, forced with a noop sink, over
    the workload's whole frame set (second of two runs: the first warms
    the plan), plus the vectorized decode kernel in this process on one
    core without Spark."""
    from pypgoutput_spark.operators import decode as decode_op
    from pypgoutput_spark.operators.lww import lww_changes_flat
    from pypgoutput_spark.plans.registry import RelationRegistry
    from pypgoutput_spark.streaming import pipeline
    from pypgoutput_spark.wal import generator as gen
    from pypgoutput_spark.wal import vdecode

    sc = spark.sparkContext
    registry = RelationRegistry.from_frames(frames)
    keys = list(gen.KEY_COLUMNS)
    base_cols = ["lsn", "op", "xid", "begin_lsn", "commit_ts_us"]

    def raw():
        return decode_op.decode_frames_raw(frames, registry, strict=strict,
                                           clustered=True)

    def lww():
        proj = pipeline.project_all_versions(raw(), registry, gen.RELATION_ID,
                                             keys, value_cols, base_cols)
        return lww_changes_flat(proj, keys, value_cols)

    out = {}
    for name, group, build in (("decode", ISO_DECODE_GROUP, raw),
                               ("lww", ISO_LWW_GROUP, lww)):
        walls = []
        for i in range(2):
            sc.setJobGroup(group if i else group + "-warm", name)
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        out[name] = walls[-1]
    sc.setLocalProperty("spark.jobGroup.id", None)

    table = frames.orderBy("segment", "lsn").toArrow()
    kernel = vdecode.make_kernel(registry.to_plain())
    batches = table.to_batches(max_chunksize=8192)
    t0 = time.perf_counter()
    for _ in kernel(iter(batches)):
        pass
    out["kernel_frames_per_s"] = table.num_rows / (time.perf_counter() - t0)
    return out


# ------------------------------------------------------ per-layer metrics

#: (name, unit) of every per-layer metric, in report order
PER_LAYER = (
    ("pipeline.prescan_s", "s"),
    ("pipeline.prescan_jobs", "count"),
    ("pipeline.plan_s", "s"),
    ("pipeline.jobs_per_batch", "count"),
    ("pipeline.stages_per_batch", "count"),
    ("pipeline.stream_gap_s", "s"),
    ("registry.seed_s", "s"),
    ("decode.kernel_frames_per_s_core", "frames/s"),
    ("decode.stage_s", "s"),
    ("decode.py_bytes_in", "bytes"),
    ("decode.py_bytes_out", "bytes"),
    ("decode.dead_letters", "count"),
    ("lww.stage_s", "s"),
    ("lww.shuffle_bytes", "bytes"),
    ("lww.spill_bytes", "bytes"),
    ("lww.task_skew", "ratio"),
    ("merge.self_s", "s"),
    ("merge.collapse_ratio", "ratio"),
    ("table.write_s", "s"),
    ("table.write_jobs", "count"),
    ("table.write_dirs", "count"),
    ("table.write_bytes_per_event", "bytes/event"),
    ("table.commit_s", "s"),
    ("table.commit_jobs", "count"),
    ("table.manifest_bytes", "bytes"),
    ("table.read_s", "s"),
    ("table.read_jobs", "count"),
    ("table.read_delta_dirs", "count"),
    ("table.read_amp", "ratio"),
    ("table.lookup_s", "s"),
    ("table.lookup_jobs", "count"),
    ("table.lookup_buckets", "count"),
    ("table.lookup_read_amp", "ratio"),
    ("table.compact_s", "s"),
    ("table.compact_runs", "count"),
    ("table.compact_bytes", "bytes"),
    ("table.compact_conflicts", "count"),
    ("table.compact_overlap_s", "s"),
    ("epochs.publish_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.py_worker_s", "s"),
    ("spark.py_worker_start_s", "s"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("trace.overhead_s", "s"),
    ("trace.coverage", "ratio"),
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def overlap(a: list, b: list) -> float:
    """Total time intervals ``a`` spend inside the union of ``b``."""
    tot = 0.0
    for s in a:
        for t in b:
            lo, hi = max(s["start"], t["start"]), min(s["end"], t["end"])
            if hi > lo:
                tot += hi - lo
    return tot


def layer_metrics(tr: Tracer, acct: SparkAccounting, win: dict, iso: dict) -> dict:
    """The per-layer metrics of one traced window.

    ``win``: what the window observed itself — ``batch_walls`` (one per
    batch), ``events`` (change events applied), ``read_rows`` /
    ``lookup_rows`` (rows scanned vs returned per read op, from parquet
    footers), ``read_delta_dirs``, ``manifest_bytes``, ``untraced_walls``
    (the untraced windows before and after the traced one) and
    ``traced_wall``.
    """

    def jobs_stages(span) -> tuple:
        j = s = 0
        for i in tr.subtree_ids(span):
            a, b = acct.jobs_stages(f"{GROUP_PREFIX}{i}")
            j, s = j + a, s + b
        return j, s

    def groups_of(span) -> List[dict]:
        return [acct.group(f"{GROUP_PREFIX}{i}") for i in tr.subtree_ids(span)]

    m: Dict[str, float] = {}
    ingests = tr.named(RUN_INGEST)
    applies = tr.named(APPLY)
    prescan = []
    for ri in ingests:
        kids = [c for c in tr.children(ri) if c["name"] == APPLY]
        first = min((c["start"] for c in kids), default=ri["end"])
        prescan.append(first - ri["start"])
    m["pipeline.prescan_s"] = _mean(prescan)
    m["pipeline.prescan_jobs"] = _mean(
        sum(acct.jobs_stages(f"{GROUP_PREFIX}{i}")[0]
            for i in [ri["id"]] + [c["id"] for c in tr.children(ri)
                                   if c["name"] == ACTION])
        for ri in ingests)
    # planning: the apply's own time, plan building included
    m["pipeline.plan_s"] = _mean(tr.self_time(a, keep=PLAN_SPANS) for a in applies)
    js = [jobs_stages(a) for a in applies]
    m["pipeline.jobs_per_batch"] = _mean(j for j, _ in js)
    m["pipeline.stages_per_batch"] = _mean(s for _, s in js)
    walls = win["batch_walls"]
    m["pipeline.stream_gap_s"] = max(
        0.0, (sum(walls) - sum(dur(a) for a in applies)) / max(1, len(walls)))

    seeds = [s for s in tr.named(REG_MERGE) if not tr.under(s, APPLY)]
    m["registry.seed_s"] = sum(dur(s) for s in seeds)

    m["decode.kernel_frames_per_s_core"] = iso["kernel_frames_per_s"]
    m["decode.stage_s"] = iso["decode"]
    dec = acct.group(ISO_DECODE_GROUP)
    m["decode.py_bytes_in"] = dec["py_bytes_in"]
    m["decode.py_bytes_out"] = dec["py_bytes_out"]
    m["decode.dead_letters"] = sum(a.get("dead_letters", 0) for a in applies)

    writes = [w for w in tr.named(WRITE) if not tr.under(w, COMPACT)]
    wgroups = [groups_of(w) for w in writes]
    m["lww.stage_s"] = max(0.0, iso["lww"] - iso["decode"])
    m["lww.shuffle_bytes"] = _mean(sum(g["shuffle_bytes"] for g in gs) for gs in wgroups)
    m["lww.spill_bytes"] = _mean(sum(g["spill_bytes"] for g in gs) for gs in wgroups)
    m["lww.task_skew"] = _mean(
        _skew(max((g["widest_stage_tasks"] for g in gs), key=len, default=[]))
        for gs in wgroups)

    merges = tr.named(MERGE)
    m["merge.self_s"] = _mean(tr.self_time(s) for s in merges)
    m["merge.collapse_ratio"] = (
        sum(s.get("change_keys", 0) for s in merges) / max(1, win["events"]))

    m["table.write_s"] = _mean(dur(w) for w in writes)
    m["table.write_jobs"] = _mean(jobs_stages(w)[0] for w in writes)
    m["table.write_dirs"] = _mean(w.get("dirs", 0) for w in writes)
    m["table.write_bytes_per_event"] = (
        sum(w.get("bytes", 0) for w in writes) / max(1, win["events"]))

    commits = [c for c in tr.named(COMMIT) if not tr.under(c, COMPACT)]
    m["table.commit_s"] = _mean(dur(c) for c in commits)
    m["table.commit_jobs"] = _mean(jobs_stages(c)[0] for c in commits)
    m["table.manifest_bytes"] = win["manifest_bytes"]

    reads = tr.named(OP_FULL_READ)
    m["table.read_s"] = _mean(dur(r) for r in reads)
    m["table.read_jobs"] = _mean(jobs_stages(r)[0] for r in reads)
    m["table.read_delta_dirs"] = _mean(win["read_delta_dirs"])
    m["table.read_amp"] = _mean(a / max(1, b) for a, b in win["read_rows"])
    looks = tr.named(OP_LOOKUP)
    m["table.lookup_s"] = _mean(dur(s) for s in looks)
    m["table.lookup_jobs"] = _mean(jobs_stages(s)[0] for s in looks)
    lk_reads = [r for r in tr.named(READ) if tr.under(r, LOOKUP)]
    m["table.lookup_buckets"] = _mean(r.get("buckets") or 0 for r in lk_reads)
    m["table.lookup_read_amp"] = _mean(a / max(1, b) for a, b in win["lookup_rows"])

    compacts = tr.named(COMPACT)
    m["table.compact_s"] = sum(dur(c) for c in compacts)
    m["table.compact_runs"] = len(compacts)
    m["table.compact_bytes"] = sum(
        w.get("bytes", 0) for w in tr.named(WRITE) if tr.under(w, COMPACT))
    m["table.compact_conflicts"] = sum(1 for c in compacts if c.get("error"))
    m["table.compact_overlap_s"] = overlap(compacts, applies)

    m["epochs.publish_s"] = _mean(dur(p) for p in tr.named(PUBLISH))

    window = [g for name, g in acct.by_group.items()
              if name.startswith(GROUP_PREFIX) and name[len(GROUP_PREFIX):].isdigit()
              or name == WINDOW_GROUP]
    m["spark.executor_cpu_s"] = sum(g["cpu_s"] for g in window)
    m["spark.gc_s"] = sum(g["gc_s"] for g in window)
    m["spark.py_worker_s"] = sum(g["py_run_s"] for g in window)
    m["spark.py_worker_start_s"] = sum(g["py_start_s"] for g in window)
    m["spark.shuffle_fetch_wait_s"] = sum(g["fetch_wait_s"] for g in window)
    m["spark.spill_bytes"] = sum(g["spill_bytes"] for g in window)

    m["trace.overhead_s"] = win["traced_wall"] - _mean(win["untraced_walls"])

    def covered(span) -> float:
        """Time inside an ingest span that a layer timed with its own
        wrapper: the Spark actions it runs itself (prescan, planning
        jobs), plan building, registry merges, epoch publish and the
        merge with its write and commit. Driver code between them that
        no wrapper names stays uncovered."""
        if span["name"] not in (RUN_INGEST, APPLY):
            return dur(span)
        return sum(covered(c) for c in tr.children(span))

    tops = [s for s in tr.spans
            if s["parent"] is None and s["name"] in (RUN_INGEST, APPLY, PUBLISH)]
    m["trace.coverage"] = sum(covered(s) for s in tops) / max(1e-9, sum(walls))
    return m

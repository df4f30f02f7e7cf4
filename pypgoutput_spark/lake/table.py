"""LakeTable: a minimal snapshot-versioned, hash-bucketed, merge-on-read
lake table.

The north rule targets Iceberg ``MERGE INTO``; this sandbox ships no
Iceberg/Delta jars, so the same design is implemented directly on parquet
with the properties the rule actually needs:

  - **Hash-bucket layout**: rows are bucketed by
    ``pmod(xxhash64(key_cols), n_buckets)`` (Iceberg ``bucket(N, key)``
    analog). Every file belongs to exactly one bucket, so key-scoped
    reads and merges prune at the file level.
  - **Merge-on-read deltas** (the 100 TB write path): an incremental
    merge APPENDS the batch's LWW-collapsed change set as per-bucket
    *delta* files — write cost ∝ change-set size, never ∝ table size.
    Readers resolve base ∪ deltas with the same associative
    ``max_by(..., lsn) FILTER (carrier)`` rule the in-batch LWW uses
    (operators/lww.py): base rows participate at ``lsn = -1``, so a
    column with no delta information falls through to the stored value —
    TOAST-'u' preservation and delete-reset semantics hold across
    commits exactly as they do within a batch. Buckets with no deltas
    are read as plain scans (no aggregate, no shuffle); dirty buckets
    resolve **locally, with zero exchange**: each bucket's base ∪ delta
    files are already co-bucketed on disk, so the reader narrows them
    into one task (`coalesce(1)` → SinglePartition, which satisfies the
    aggregate's distribution requirement) and runs the JVM resolution
    aggregate with no Exchange — base rows never cross the network;
    parallelism = dirty-bucket count up to ``props["resolve_width"]``
    (default 64), beyond which buckets share plan branches round-robin
    so driver plan size stays O(width) at catalog scale (set
    ``props["resolve"] = "shuffle"`` for the global hash-aggregate plan
    when single buckets outgrow one task).
  - **Compaction**: when a bucket's delta bytes pass a ratio of its base
    (or its delta-commit count passes a bound), the bucket is rewritten
    as resolved base and the *folded* deltas dropped. Compaction is an
    independent, idempotent, watermark-neutral commit and never gates
    ingest: ``schedule_compact`` runs it on a maintenance thread while
    ingest keeps committing (Spark schedules jobs from both threads
    concurrently); the commit folds only the delta dirs it resolved, so
    deltas appended *while it ran* survive, and an optimistic base-dir
    check aborts it cleanly (`CommitConflict`) if a truncate/rewrite
    landed in between.
  - **Atomic snapshot commits**: a snapshot JSON lists, per bucket, the
    base and delta directories that constitute it, plus the schema and
    the ``watermark_lsn``. Publishing = atomic rename of the CURRENT
    pointer under a commit file-lock (the object-store analog is a
    conditional PUT). Readers resolve CURRENT → snapshot → exact file
    set; a crashed writer leaves only unreferenced staging files (never
    a torn table).
  - **Exactly-once**: ``watermark_lsn`` (the applied-through LSN, the
    analog of the reference's ``send_feedback(flush_lsn)`` ack protocol,
    reference reader.py:374-390) commits in the *same* atomic snapshot as
    the data. Replaying a batch whose max LSN ≤ watermark is a no-op.
  - **Schema evolution**: snapshots carry the schema; adds/drops are
    metadata-only (old files are read through the current schema — parquet
    fills missing columns with NULL and prunes dropped ones); retypes
    rewrite (rare DDL).
  - **Lineage/metrics**: every snapshot embeds the batch's applied /
    deleted / skipped counters and per-bucket file provenance. Byte
    accounting is **manifest-carried**: the writer records each staged
    directory's size at write time (``dir_bytes``, the Iceberg
    manifest-entry ``file_size_in_bytes`` analog), snapshots carry the
    map forward, and the commit path never lists the filesystem — on an
    object store, per-commit tree listing is the classic metadata
    bottleneck.

At 100 TB scale, ``n_buckets`` is sized so a bucket ≈ a few GB; the
listing in a snapshot stays in the thousands of entries, deltas shuffle
only change-set bytes, and resolution touches only dirty buckets.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import tempfile
import threading
import time
import uuid
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import functions as F

CURRENT = "CURRENT"


# --------------------------------------------------------------- zone maps
#
# Per-directory min/max column statistics ("zone maps", the Iceberg
# manifest column-stats / Delta file-stats analog). Opt-in via
# ``props["stats_cols"]``: the bucket writer computes min/max of those
# columns for every base or delta directory it stages, the commit
# records them in the snapshot (``dir_stats``), and :meth:`LakeTable.scan`
# prunes directories whose range provably cannot match before any file
# is opened. Bucket hashing prunes the KEY dimension (``lookup``); zone
# maps prune the TIME/VALUE dimension — per-commit directories of a CDC
# mirror have tight ranges on monotone-with-time columns, so a
# "recent window" scan at 100 TB touches only the trailing commits.
# Stored values are JSON-normalized; comparisons are domain-checked and
# CONSERVATIVE (incomparable / missing stats → the directory is kept).


def _stat_store(v):
    """Normalize a collected min/max into a JSON-storable value whose
    comparison semantics are recoverable from the column's DDL type.
    Arrow hands timestamps over tz-aware in the session time zone; they
    are stored as naive wall time, the spelling scan bounds compare in."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.replace(tzinfo=None)
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)  # exact; re-parsed as Decimal at compare time
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()  # lexicographic == chronological
    return str(v)


def _stat_domain(ddl_type: str) -> Optional[str]:
    """Comparison domain for a column DDL type; None = never prune."""
    t = (ddl_type or "").strip().lower()
    if t.startswith(("decimal", "numeric")):
        return "dec"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "float", "double", "real", "byte", "short"):
        return "num"
    if t in ("date", "timestamp", "timestamp_ntz", "timestamp_ltz"):
        return "iso"
    if t in ("string",) or t.startswith(("varchar", "char")):
        return "str"
    return None


def _stat_coerce(v, domain: str):
    """Coerce a stored stat or a caller bound into its domain, raising on
    anything incomparable (the caller treats a raise as 'cannot prune').
    Numeric coercion through float is safe for pruning because correctly
    rounded conversion is monotone: float(a) < float(b) ⇒ a < b."""
    if domain == "num":
        if isinstance(v, bool):
            return float(int(v))
        if isinstance(v, (int, float)):
            return float(v)
        if isinstance(v, decimal.Decimal):
            return float(v)
        raise TypeError(f"not numeric: {v!r}")
    if domain == "dec":
        if isinstance(v, (int, str, decimal.Decimal)):
            return decimal.Decimal(str(v))
        if isinstance(v, float):
            return decimal.Decimal(str(v))
        raise TypeError(f"not decimal-comparable: {v!r}")
    if domain == "iso":
        # compare as real datetimes, NOT isoformat strings: caller bounds
        # arrive in SQL spellings ('2024-06-15 10:00:00', space separator;
        # date-only '2024-06-15') while stored stats use isoformat's 'T'
        # separator — lexicographic comparison across spellings prunes
        # directories that DO contain matching rows (silent data loss).
        # fromisoformat normalizes all of them; a naive-vs-aware mix
        # raises TypeError at compare time → caught → never pruned.
        if isinstance(v, datetime.datetime):
            return v
        if isinstance(v, datetime.date):
            return datetime.datetime(v.year, v.month, v.day)
        if isinstance(v, str):
            return datetime.datetime.fromisoformat(v)
        raise TypeError(f"not a date/timestamp bound: {v!r}")
    if domain == "str":
        if isinstance(v, str):
            return v  # Python code-point order == Spark UTF8 binary order
        raise TypeError(f"not a string: {v!r}")
    raise TypeError(f"unknown domain {domain!r}")


def _zones_may_match(entry: Optional[dict], ranges: dict, col_types: dict) -> bool:
    """True unless the directory's recorded [min, max] provably cannot
    intersect every requested [lo, hi]. Missing entry / missing column /
    incomparable values keep the directory (conservative); a column whose
    min and max are both NULL prunes it (a range predicate never matches
    NULL under SQL semantics)."""
    if not entry:
        return True
    for c, (lo, hi) in ranges.items():
        st = entry.get(c)
        if st is None:
            continue
        mn, mx = st
        if mn is None and mx is None:
            return False  # every value in this directory is NULL
        dom = _stat_domain(col_types.get(c, ""))
        if dom is None:
            continue
        try:
            if lo is not None and mx is not None and _stat_coerce(mx, dom) < _stat_coerce(lo, dom):
                return False
            if hi is not None and mn is not None and _stat_coerce(mn, dom) > _stat_coerce(hi, dom):
                return False
        except Exception:  # noqa: BLE001 — incomparable: never prune on it
            continue
    return True


def _normalize_ranges(ranges: dict) -> dict:
    out = {}
    for c, bounds in ranges.items():
        if not isinstance(bounds, (tuple, list)) or len(bounds) != 2:
            raise ValueError(f"range for {c!r} must be a (lo, hi) pair")
        lo, hi = bounds
        if lo is None and hi is None:
            raise ValueError(f"range for {c!r} has no bound")
        out[c] = (lo, hi)
    return out


def _direct_bucket_writer(stage: str, stat_cols: tuple = ()):
    """Task-side bucket writer for :meth:`LakeTable.write_buckets`: a
    ``mapInArrow`` kernel that streams each bucket's rows into one
    parquet file under an attempt-unique ``_bucket=<b>-<uuid>`` dir and
    emits one (bucket, dir, bytes, stats) row per file written. Memory
    is O(one arrow batch): batches are split by bucket and appended to
    per-bucket open writers, never concatenated. The ``_bucket`` column
    itself is dropped from the files (the dynamic-partition writer's
    behavior — readers apply the table DDL, which has no ``_bucket``).

    ``stat_cols``: (name, source column) pairs whose per-dir min/max
    ride the write itself (the Iceberg manifest-stats shape). A source
    other than ``name`` is a stats-only projection (the typed cast of a
    delta's ``r_<name>.v``) and is dropped before the parquet write.
    Values order as Spark orders them: nulls are skipped (a delete
    row's NULL carrier can never match a range), NaN sorts above every
    number, and a column with no non-null value records [None, None]."""

    def write(batches):
        import json as _json
        import os as _os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def spark_key(v):  # NaN above every number, as Spark orders it
            return (v != v, v)

        def min_max(arr):
            mm = pc.min_max(arr)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is not None and pa.types.is_floating(arr.type):
                n_nan = pc.sum(pc.is_nan(arr)).as_py()
                if n_nan:  # arrow skips NaN; an all-NaN array is (inf, -inf)
                    mx = float("nan")
                    if n_nan == len(arr) - arr.null_count:
                        mn = mx
            return mn, mx

        drop = ["_bucket"] + [src for name, src in stat_cols if src != name]
        writers: dict = {}  # bucket -> [dir, file, ParquetWriter, stats]
        for b in batches:
            t = pa.Table.from_batches([b])
            col = t.column("_bucket")
            data = t.drop_columns(drop)
            for bk in pc.unique(col).to_pylist():
                mask = pc.equal(col, bk)
                sub = data.filter(mask)
                w = writers.get(bk)
                if w is None:
                    d = _os.path.join(
                        stage, f"_bucket={bk}-{_uuid.uuid4().hex[:8]}")
                    _os.makedirs(d, exist_ok=True)
                    fp = _os.path.join(
                        d, f"part-{_uuid.uuid4().hex[:8]}.snappy.parquet")
                    w = [d, fp, pq.ParquetWriter(
                        fp, sub.schema, compression="snappy"), {}]
                    writers[bk] = w
                w[2].write_table(sub)
                for name, src in stat_cols:
                    mn, mx = min_max(t.column(src).filter(mask))
                    if mn is None:
                        continue
                    cur = w[3].get(name)
                    if cur is None:
                        w[3][name] = [mn, mx]
                    else:
                        cur[0] = min(cur[0], mn, key=spark_key)
                        cur[1] = max(cur[1], mx, key=spark_key)
        out = []
        for bk, (d, fp, wr, stats) in writers.items():
            wr.close()
            full = {name: [_stat_store(v) for v in stats.get(name, (None, None))]
                    for name, _src in stat_cols}
            out.append({"bucket": str(bk), "dir": d,
                        "bytes": _os.path.getsize(fp),
                        "stats": _json.dumps(full) if stat_cols else None})
        sch = pa.schema([("bucket", pa.string()), ("dir", pa.string()),
                         ("bytes", pa.int64()), ("stats", pa.string())])
        yield pa.RecordBatch.from_pylist(out, schema=sch)

    return write


class CommitConflict(RuntimeError):
    """An optimistic commit (compaction) lost a race with a conflicting
    commit (truncate / base rewrite of the same buckets). The staged
    files are unreferenced; retrying against the new snapshot is safe."""


def _bucket_col(key_cols: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))


def _scan_bytes(d: str) -> int:
    """Size of one staged directory (flat file listing — used only for
    directories whose size is not manifest-carried: fresh writes in
    ``write_buckets`` and unreferenced orphans in GC)."""
    total = 0
    try:
        with os.scandir(d) as it:
            for e in it:
                try:
                    if e.is_file():
                        total += e.stat().st_size
                    elif e.is_dir():
                        total += _scan_bytes(e.path)
                except OSError:  # pragma: no cover
                    pass
    except OSError:  # pragma: no cover
        pass
    return total


def _maybe_crash(point: str) -> None:
    """Fault-injection hook for the crash-consistency soak
    (tests/test_crash_resume.py): die hard — no cleanup, no atexit, the
    SIGKILL analog — when the environment names this point. Format:
    ``PYPGOUT_CRASH_POINT=<point>:<nth>`` (1-based occurrence count,
    per process)."""
    spec = os.environ.get("PYPGOUT_CRASH_POINT")
    if not spec:
        return
    name, _, nth = spec.partition(":")
    if name != point:
        return
    _CRASH_COUNTS[point] = _CRASH_COUNTS.get(point, 0) + 1
    if _CRASH_COUNTS[point] >= int(nth or "1"):
        os._exit(137)


_CRASH_COUNTS: Dict[str, int] = {}


def _lww_read_aggs(value_cols: Sequence[str]) -> List[str]:
    """The LWW read rule as aggregate expressions: final_op = op at max
    lsn; per column, the newest row that *carries* it wins. Associative
    (partial map-side combine)."""
    return ["max_by(__op, __lsn) AS __final_op"] + [
        f"max_by(`__v_{c}`, __lsn) FILTER (WHERE `__has_{c}`) AS `{c}`"
        for c in value_cols
    ]


class LakeTable:
    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.meta_dir = os.path.join(self.path, "_meta")
        self.snap_dir = os.path.join(self.meta_dir, "snapshots")
        if not os.path.exists(os.path.join(self.meta_dir, CURRENT)):
            raise FileNotFoundError(f"not a LakeTable (no _meta/CURRENT): {path}")
        self._maintenance = None  # lazy single-thread compactor
        self._pending_compaction = None
        self._sched_lock = threading.Lock()
        #: zone-map stats computed by :meth:`write_buckets`, keyed by
        #: absolute staged dir; consumed (popped) by :meth:`commit`.
        self._pending_dir_stats: Dict[str, dict] = {}

    # ------------------------------------------------------------------ setup

    @classmethod
    def create(
        cls,
        spark,
        path: str,
        schema: Sequence[Tuple[str, str]],
        key_cols: Sequence[str],
        n_buckets: int = 16,
        props: Optional[dict] = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema``: [(col_name, spark_ddl_type)]."""
        path = path.rstrip("/")
        os.makedirs(os.path.join(path, "_meta", "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        snap = {
            "version": 0,
            "schema": [list(c) for c in schema],
            "key_cols": list(key_cols),
            "n_buckets": n_buckets,
            "buckets": {},
            "deltas": {},
            "bucket_bytes": {},
            "delta_bytes": {},
            "dir_bytes": {},
            "watermark_lsn": -1,
            "parent": None,
            "props": props or {},
            "metrics": {},
            "created_at": time.time(),
        }
        _write_json(os.path.join(path, "_meta", "snapshots", "v00000000.json"), snap)
        _atomic_write(os.path.join(path, "_meta", CURRENT), "0")
        return cls(spark, path)

    # ------------------------------------------------------------- snapshots

    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, CURRENT)) as f:
            return int(f.read().strip())

    def snapshot(self, version: Optional[int] = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.snap_dir, f"v{v:08d}.json")) as f:
            return json.load(f)

    def history(self) -> List[dict]:
        out = []
        for name in sorted(os.listdir(self.snap_dir)):
            with open(os.path.join(self.snap_dir, name)) as f:
                out.append(json.load(f))
        return out

    @property
    def watermark_lsn(self) -> int:
        return self.snapshot()["watermark_lsn"]

    def schema_ddl(self, snap: Optional[dict] = None) -> str:
        snap = snap or self.snapshot()
        return ", ".join(f"`{n}` {t}" for n, t in snap["schema"])

    def delta_schema_ddl(self, snap: Optional[dict] = None) -> str:
        """Schema of delta files: typed keys + final_op + max_lsn + one
        ``r_<col> STRUCT<v: STRING>`` per value column (NULL struct =
        no information, fall through to older deltas / base)."""
        snap = snap or self.snapshot()
        keys = snap["key_cols"]
        parts = [f"`{n}` {t}" for n, t in snap["schema"] if n in keys]
        parts += ["final_op STRING", "max_lsn BIGINT"]
        parts += [
            f"`r_{n}` STRUCT<v: STRING>" for n, _ in snap["schema"] if n not in keys
        ]
        return ", ".join(parts)

    # ------------------------------------------------------------------ read

    def read(self, version: Optional[int] = None, buckets: Optional[Sequence[int]] = None,
             resolve: Optional[str] = None):
        """DataFrame of the table state at a snapshot (default: current).

        Buckets without deltas are plain scans. Dirty buckets resolve
        base ∪ deltas with the LWW read rule; ``buckets`` restricts the
        scan (file-level pruning). ``resolve``: ``"local"`` (default;
        zero-exchange per-bucket Arrow kernel) or ``"shuffle"`` (hash
        aggregate — exchanges dirty-bucket rows; useful when single
        buckets outgrow one task's memory before compaction catches up).
        Overridable per table via ``props["resolve"]``.
        """
        snap = self.snapshot(version)
        base: Dict[str, List[str]] = snap["buckets"]
        deltas: Dict[str, List[str]] = snap.get("deltas", {})
        if buckets is not None:
            keep = {str(b) for b in buckets}
            base = {b: dd for b, dd in base.items() if b in keep}
            deltas = {b: dd for b, dd in deltas.items() if b in keep}
        ddl = self.schema_ddl(snap)
        clean_dirs = [d for b, dd in base.items() if b not in deltas for d in dd]
        parts = []
        if clean_dirs:
            # explicit schema: evolution-safe (missing columns → NULL,
            # dropped columns pruned at the parquet reader)
            parts.append(self.spark.read.schema(ddl).parquet(*clean_dirs))
        if deltas:
            mode = resolve or snap.get("props", {}).get("resolve", "local")
            if mode == "shuffle":
                dirty_base_dirs = [d for b in deltas for d in base.get(b, [])]
                delta_dirs = [d for dd in deltas.values() for d in dd]
                parts.append(self._resolve_shuffle(snap, dirty_base_dirs, delta_dirs))
            else:
                parts.append(self._resolve_local(snap, base, deltas))
        if not parts:
            return self.spark.createDataFrame([], schema=ddl)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def lookup(self, keys, version: Optional[int] = None, resolve: Optional[str] = None):
        """Point lookup: current rows for the requested keys, scanning only
        the hash buckets those keys map to.

        ``keys``: a list of dicts / tuples (in ``key_cols`` order; bare
        scalars allowed for single-column keys), or a DataFrame carrying
        the key columns. The key set is a service-style point read — it
        is collected (bounded by the probe size, not the table) to
        compute its bucket cohort from the manifest, then broadcast for
        the semi-join.

        This is what makes a CDC mirror usable as a serving table at
        100 TB: the manifest prunes the scan to
        ``|distinct buckets| <= min(|keys|, n_buckets)`` — a 64-bucket
        table answers a single-key probe from 1/64th of the files (plus
        that bucket's deltas under merge-on-read, resolved with the
        normal LWW read rule) — and the key equality reaches the pruned
        scan as a broadcast semi-join, never a shuffle.
        """
        snap = self.snapshot(version)
        key_cols = snap["key_cols"]
        key_types = {n: t for n, t in snap["schema"] if n in key_cols}
        key_ddl = ", ".join(f"`{n}` {key_types[n]}" for n in key_cols)
        if hasattr(keys, "select"):  # a DataFrame of (at least) the key cols
            # collect the probe ONCE — a derived probe plan (e.g. a
            # filtered read, a micro-batch) must not be re-executed for
            # the cohort collect and again for the broadcast
            rows = [
                tuple(r[c] for c in key_cols)
                for r in keys.selectExpr(
                    *[f"CAST(`{n}` AS {key_types[n]}) AS `{n}`" for n in key_cols]
                ).distinct().collect()
            ]
        else:
            rows = []
            for k in keys:
                if isinstance(k, dict):
                    rows.append(tuple(k[c] for c in key_cols))
                elif isinstance(k, (list, tuple)):
                    rows.append(tuple(k))
                else:
                    rows.append((k,))
        kdf = self.spark.createDataFrame(rows, schema=key_ddl).distinct()
        cohort = kdf.select(
            _bucket_col(key_cols, snap["n_buckets"]).alias("__b")
        ).distinct().collect()  # tiny: <= min(|keys|, n_buckets) rows
        buckets = sorted(r["__b"] for r in cohort)
        # read the SAME snapshot the cohort was computed from: a rebucket
        # landing between snapshot() and read() would otherwise prune the
        # new layout with stale bucket ids (silently dropped rows)
        df = self.read(version=snap["version"], buckets=buckets, resolve=resolve)
        return df.join(F.broadcast(kdf), on=list(key_cols), how="left_semi")

    def scan(self, ranges: Dict[str, Tuple], version: Optional[int] = None,
             resolve: Optional[str] = None):
        """Range scan with manifest zone-map pruning — the value/time-
        dimension complement of :meth:`lookup`'s key-hash bucket pruning.

        ``ranges``: ``{column: (lo, hi)}`` — inclusive bounds, either
        side ``None`` for open. Returns the table state rows satisfying
        EVERY range (rows with NULL in a ranged column never match, SQL
        semantics). Requires nothing: without ``props["stats_cols"]``
        this is exactly ``read().filter(...)``.

        Pruning, all decided driver-side from the snapshot's
        ``dir_stats`` before any file is opened:

          - clean buckets: base directories whose recorded [min, max]
            cannot intersect are skipped. Per-commit directories of a
            CDC mirror have tight ranges on monotone-with-time columns,
            so a trailing-window scan reads only the trailing commits.
          - dirty buckets: resolved IN FULL by default — last-write-wins
            needs every carrier, so value-range pruning before
            resolution could surface a stale row whose latest version
            lives in a pruned delta.
          - ``props["append_only"] = True`` (caller contract: every key
            written at most once, never updated or deleted — audit/event
            mirrors) lifts that: resolution is the identity, so base AND
            delta directories prune alike and delta rows project
            straight to table rows.

        The residual predicate is always applied (pruning is a superset
        filter) and reaches the parquet readers as a pushed filter —
        with ``props["sort_cols"]`` covering the ranged columns, row
        groups inside surviving files are skipped too.
        """
        snap = self.snapshot(version)
        col_types = dict(snap["schema"])
        for c in ranges:
            if c not in col_types:
                raise ValueError(f"unknown column {c!r} (schema: {list(col_types)})")
        ranges = _normalize_ranges(ranges)
        stats = snap.get("dir_stats", {})
        base: Dict[str, List[str]] = snap["buckets"]
        deltas: Dict[str, List[str]] = snap.get("deltas", {})
        append_only = bool(snap.get("props", {}).get("append_only"))
        ddl = self.schema_ddl(snap)
        keys = snap["key_cols"]
        parts = []
        clean_dirs = [d for b, dd in base.items() if b not in deltas for d in dd]
        kept = [d for d in clean_dirs if _zones_may_match(stats.get(d), ranges, col_types)]
        if kept:
            parts.append(self.spark.read.schema(ddl).parquet(*kept))
        if deltas:
            if append_only:
                dirty_base = [
                    d for b in deltas for d in base.get(b, [])
                    if _zones_may_match(stats.get(d), ranges, col_types)
                ]
                if dirty_base:
                    parts.append(self.spark.read.schema(ddl).parquet(*dirty_base))
                kept_delta = [
                    d for dd in deltas.values() for d in dd
                    if _zones_may_match(stats.get(d), ranges, col_types)
                ]
                if kept_delta:
                    draw = self.spark.read.schema(
                        self.delta_schema_ddl(snap)
                    ).parquet(*kept_delta)
                    sel = [
                        (f"`{n}`" if n in keys
                         else f"CAST(`r_{n}`.v AS {col_types[n]}) AS `{n}`")
                        for n, _ in snap["schema"]
                    ]
                    # defensive: the contract forbids 'D' rows, but a
                    # violating delete must not surface as a NULL row
                    parts.append(draw.where("final_op <> 'D'").selectExpr(*sel))
            else:
                parts.append(self.read(
                    version=snap["version"],
                    buckets=[int(b) for b in deltas],
                    resolve=resolve,
                ))
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        else:
            df = self.spark.createDataFrame([], schema=ddl)
        cond = F.lit(True)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        return df.filter(cond)

    def _dirty_union(self, snap: dict, base_dirs: List[str], delta_dirs: List[str]):
        """base rows (lsn = -1, all columns carried) ∪ delta rows (their
        commit max_lsn, carrier = struct present or a 'D' reset), typed.

        ONE schema-merged scan covers base and delta files together:
        parquet name-based resolution yields NULL ``final_op`` for base
        files (the discriminator) and NULL value columns for delta files
        — halving the per-bucket reader count and, more importantly,
        costing one file-index per bucket instead of one per directory
        (driver-side listing was the dominant cost of the per-bucket
        read). Falls back to a two-scan union for (pathological) tables
        whose value columns collide with the delta bookkeeping names."""
        keys = snap["key_cols"]
        col_types = dict(snap["schema"])
        value_cols = [n for n, _ in snap["schema"] if n not in keys]

        if not any(n in ("final_op", "max_lsn") or n.startswith("r_") for n in col_types):
            merged = ", ".join(
                [f"`{n}` {t}" for n, t in snap["schema"]]
                + ["final_op STRING", "max_lsn BIGINT"]
                + [f"`r_{c}` STRUCT<v: STRING>" for c in value_cols]
            )
            raw = self.spark.read.schema(merged).parquet(*base_dirs, *delta_dirs)
            sel = [f"`{k}`" for k in keys]
            sel += ["coalesce(final_op, 'B') AS __op"]
            sel += ["coalesce(max_lsn, CAST(-1 AS BIGINT)) AS __lsn"]
            sel += [
                f"CASE WHEN final_op IS NULL THEN `{c}` "
                f"WHEN final_op = 'D' THEN CAST(NULL AS {col_types[c]}) "
                f"ELSE CAST(`r_{c}`.v AS {col_types[c]}) END AS `__v_{c}`"
                for c in value_cols
            ]
            sel += [
                f"(final_op IS NULL OR final_op = 'D' OR `r_{c}` IS NOT NULL) AS `__has_{c}`"
                for c in value_cols
            ]
            return raw.selectExpr(*sel)

        sel_base = [f"`{k}`" for k in keys] + ["'B' AS __op", "CAST(-1 AS BIGINT) AS __lsn"]
        sel_base += [f"`{c}` AS `__v_{c}`" for c in value_cols]
        sel_base += [f"true AS `__has_{c}`" for c in value_cols]

        delta_raw = self.spark.read.schema(self.delta_schema_ddl(snap)).parquet(*delta_dirs)
        sel_delta = [f"`{k}`" for k in keys] + ["final_op AS __op", "max_lsn AS __lsn"]
        sel_delta += [
            f"CASE WHEN final_op = 'D' THEN CAST(NULL AS {col_types[c]}) "
            f"ELSE CAST(`r_{c}`.v AS {col_types[c]}) END AS `__v_{c}`"
            for c in value_cols
        ]
        sel_delta += [
            f"(final_op = 'D' OR `r_{c}` IS NOT NULL) AS `__has_{c}`"
            for c in value_cols
        ]
        delta = delta_raw.selectExpr(*sel_delta)
        if not base_dirs:
            return delta
        base = self.spark.read.schema(self.schema_ddl(snap)).parquet(*base_dirs).selectExpr(*sel_base)
        return base.unionByName(delta)

    #: default cap on local-resolution plan branches: driver plan size
    #: and Catalyst analysis stay O(width) no matter how many buckets
    #: are dirty (override per table with ``props["resolve_width"]``)
    DEFAULT_RESOLVE_WIDTH = 64

    def _resolve_local(self, snap: dict, base: Dict[str, List[str]],
                       deltas: Dict[str, List[str]]):
        """Exchange-free resolution: per dirty-bucket GROUP, narrow the
        group's (already co-bucketed) base ∪ delta files into ONE task
        with ``coalesce(1)`` — a narrow dependency whose SinglePartition
        output satisfies the aggregate's clustered-distribution
        requirement, so Catalyst plans the SAME JVM ``max_by FILTER``
        aggregate with NO Exchange (asserted by
        tests/test_lake_concurrency.py). The data never leaves the node
        that read it, which at 100 TB beats re-hashing every
        dirty-bucket base row across the network.

        Up to ``props["resolve_width"]`` (default 64) dirty buckets get
        their own group — one plan branch and one task each, exactly the
        per-bucket shape. Beyond that, buckets share groups round-robin:
        driver plan size and Catalyst analysis time stay O(width) at
        catalog scale (thousands of dirty buckets), while each group is
        still a single-task local aggregate over co-located files —
        grouping is safe because buckets partition the key space, so a
        group-level LWW aggregate equals the per-bucket ones. Size
        ``n_buckets`` so a WIDTH-sized group of buckets fits one task
        between compactions (the contract compaction already imposes
        per bucket)."""
        keys = snap["key_cols"]
        value_cols = [n for n, _ in snap["schema"] if n not in keys]
        aggs = [F.expr(a) for a in _lww_read_aggs(value_cols)]
        cols = [F.col(n) for n, _ in snap["schema"]]
        width = int(
            snap.get("props", {}).get("resolve_width", self.DEFAULT_RESOLVE_WIDTH)
        )
        items = sorted(deltas.items())
        n_groups = min(len(items), max(1, width))
        out = None
        for g in range(n_groups):
            grp = items[g::n_groups]
            base_dirs = [d for b, _ in grp for d in base.get(b, [])]
            delta_dirs = [d for _, dd in grp for d in dd]
            u = self._dirty_union(snap, base_dirs, delta_dirs).coalesce(1)
            resolved = (
                u.groupBy(*[F.col(k) for k in keys])
                .agg(*aggs)
                .filter("__final_op <> 'D'")
                .select(*cols)
            )
            out = resolved if out is None else out.unionByName(resolved)
        # Spark plans a Union whose children are ALL SinglePartition as one
        # task (serializing every bucket); one extra empty multi-partition
        # child keeps the per-bucket tasks independent — still zero
        # exchange (tests/test_lake_concurrency.py pins both the plan and
        # the parallelism, so a Spark upgrade changing this planning shows)
        empty = self.spark.range(0, 0, 1, 2).selectExpr(
            *[f"CAST(NULL AS {t}) AS `{n}`" for n, t in snap["schema"]]
        )
        return out.unionByName(empty)

    def _resolve_shuffle(self, snap: dict, base_dirs: List[str], delta_dirs: List[str]):
        """Hash-aggregate resolution (one exchange over dirty-bucket
        rows): ``max_by(value, lsn) FILTER (carrier)`` per column — the
        associative partial-combining form. Kept for buckets too large
        for single-task local resolution."""
        keys = snap["key_cols"]
        value_cols = [n for n, _ in snap["schema"] if n not in keys]
        allrows = self._dirty_union(snap, base_dirs, delta_dirs)
        aggs = _lww_read_aggs(value_cols)
        resolved = (
            allrows.groupBy(*[F.col(k) for k in keys])
            .agg(*[F.expr(a) for a in aggs])
            .filter("__final_op <> 'D'")
        )
        return resolved.select(*[F.col(n) for n, _ in snap["schema"]])

    # ----------------------------------------------------------------- write

    def _stage_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"commit-{version:08d}-{uuid.uuid4().hex[:8]}")

    def write_buckets(self, df, version: int,
                      pre_partitioned: bool = False) -> Tuple[Dict[str, List[str]], Dict[str, int]]:
        """Write rows (must carry ``_bucket``) as one directory per bucket;
        returns ({bucket: [dir]}, {dir: bytes}) for the snapshot — the
        writer records sizes at write time (manifest-entry analog), so
        the commit path never lists the filesystem.

        One shuffle co-locates each bucket's rows (one file per bucket,
        not #partitions × #buckets fragments). With ``props["sort_cols"]``
        the local sort extends to those columns (when present in ``df``),
        so every parquet ROW GROUP covers a narrow value range and a
        :meth:`scan` range predicate — pushed to the parquet reader —
        skips most of each file (the within-file complement of the
        per-directory zone maps). Without the prop the old behavior
        (bucket-only sort) is kept: an unrequested key sort would only
        burn CPU.

        The files are written DIRECTLY by the tasks (streaming pyarrow
        writers, one per bucket held by the task) instead of through the
        dynamic-partition Hadoop committer, whose temp-dir rename walk
        and job-commit serial section cost ~0.1-0.2 s per write — paid
        on every micro-batch merge. Exactly-once under retries holds
        because the COMMIT is the manifest, not the filesystem: each
        (task, bucket) writes into an attempt-unique directory and emits
        (bucket, dir, bytes) rows, Spark surfaces rows from exactly one
        committed attempt, and only those dirs enter the snapshot — a
        failed or speculative attempt's directory is never referenced
        and is reclaimed by the orphan sweep (bucket-dir granularity,
        age-gated), exactly like a crash between write and commit."""
        stage = self._stage_dir(version)
        snap = self.snapshot()
        props = snap.get("props", {}) or {}
        sort_cols = [
            c for c in (props.get("sort_cols") or ()) if c in df.columns
        ]
        # zone-map stats (§ _direct_bucket_writer), ordered as readers
        # see the values: a base column by the df's own type — the ground
        # truth on a retype rewrite, where the snapshot still shows the
        # old type — and a delta column through the same CAST that read()
        # applies, as a stats-only column the writer drops
        col_types = {n: t for n, t in snap["schema"]}
        stat_cols, casts = [], {}
        for c in (props.get("stats_cols") or ()):
            if c in df.columns:
                if _stat_domain(df.schema[c].dataType.simpleString()):
                    stat_cols.append((c, c))
            elif f"r_{c}" in df.columns and _stat_domain(col_types.get(c, "")):
                casts[f"__stat_{c}"] = F.expr(f"CAST(`r_{c}`.v AS {col_types[c]})")
                stat_cols.append((c, f"__stat_{c}"))
        # ``pre_partitioned``: the caller guarantees ``df`` is already
        # hash-partitioned by ``_bucket`` (fused LWW collapse) — the
        # repartition exchange here would move nothing but still cost a
        # full shuffle stage
        part = df if pre_partitioned else df.repartition(F.col("_bucket"))
        if sort_cols:
            part = part.sortWithinPartitions("_bucket", *sort_cols)
        if casts:
            part = part.withColumns(casts)
        os.makedirs(stage, exist_ok=True)
        rows = part.mapInArrow(
            _direct_bucket_writer(stage, tuple(stat_cols)),
            schema="bucket STRING, dir STRING, bytes BIGINT, stats STRING",
        ).collect()  # ≤ one row per (task, bucket): bounded metadata
        out: Dict[str, List[str]] = {}
        dir_bytes: Dict[str, int] = {}
        for r in rows:
            out.setdefault(r["bucket"], []).append(r["dir"])
            dir_bytes[r["dir"]] = int(r["bytes"])
            if r["stats"] is not None:
                self._pending_dir_stats[r["dir"]] = json.loads(r["stats"])
        return out, dir_bytes

    def commit(
        self,
        new_buckets: Dict[str, List[str]],
        replaced_buckets: Sequence[int],
        watermark_lsn: Optional[int] = None,
        metrics: Optional[dict] = None,
        schema: Optional[Sequence[Tuple[str, str]]] = None,
        truncate: bool = False,
        delta_buckets: Optional[Dict[str, List[str]]] = None,
        dir_bytes: Optional[Dict[str, int]] = None,
        folded_deltas: Optional[Dict[str, List[str]]] = None,
        expected_base: Optional[Dict[str, List[str]]] = None,
        carry_metrics: Sequence[str] = (),
        cdf_buckets: Optional[Dict[str, List[str]]] = None,
        n_buckets: Optional[int] = None,
        expected_head_version: Optional[int] = None,
        expected_n_buckets: Optional[int] = None,
    ) -> int:
        """Publish a new snapshot (atomic, serialized by a commit lock —
        ingest and maintenance threads/processes interleave safely).

        ``new_buckets`` replace the base of the buckets they name;
        ``replaced_buckets`` have their base dropped and their deltas
        cleared (a replaced base is fully resolved — COW rewrite);
        ``delta_buckets`` APPEND merge-on-read delta dirs; ``truncate``
        drops everything first. Untouched buckets carry over.

        Compaction-specific parameters: ``folded_deltas`` names the
        exact delta dirs the new base resolved — only those are removed
        from the bucket's delta list, so deltas appended concurrently
        survive; ``expected_base`` is the base the compactor resolved
        against — if the head no longer matches (truncate / COW rewrite
        raced in), the commit raises :class:`CommitConflict` and leaves
        only unreferenced staging. ``carry_metrics`` copies those keys
        from the head snapshot's metrics when absent (checkpoint state
        such as ``open_tx`` must come from the HEAD at publish time,
        not from the snapshot the compactor started from).

        ``dir_bytes``: sizes of the newly referenced dirs, as returned
        by :meth:`write_buckets`; carried in the snapshot so no commit
        or policy decision ever lists the filesystem. Zone-map stats
        (``dir_stats``) arrive the same way, from the writer: a commit
        runs no Spark job.

        ``cdf_buckets``: feed-only change-set files (delta format) for a
        commit whose data files cannot serve as the change feed (the
        copy-on-write rewrite mixes changed and carried rows) — recorded
        per commit (NOT cumulative), never read by :meth:`read`, only by
        :meth:`changes`; the Delta CDF ``_change_data`` sidecar analog.

        ``n_buckets`` changes the table's bucket count (rebucket rewrite
        only — every data file must already be laid out under the new
        count). ``expected_head_version``: raise :class:`CommitConflict`
        if any commit landed since that version — for whole-table
        rewrites whose input was resolved at that snapshot and which
        would otherwise silently drop concurrent commits.

        ``expected_n_buckets``: the bucket count the commit's files were
        STAGED under; raise :class:`CommitConflict` if the head's count
        differs (a rebucket raced in — publishing files keyed by the old
        modulus under the new layout would resolve keys against the
        wrong buckets: lost deletes, duplicate keys).
        """
        # zone maps (props["stats_cols"]): the writer computed each
        # staged dir's stats (see write_buckets); cdf sidecar dirs never
        # carry them. A dir without an entry is simply never pruned.
        new_dir_stats: Dict[str, dict] = {}
        for dirmap, keep in ((new_buckets, True), (delta_buckets, True),
                             (cdf_buckets, False)):
            for dd in (dirmap or {}).values():
                for d in dd:
                    st = self._pending_dir_stats.pop(d, None)
                    if keep and st is not None:
                        new_dir_stats[d] = st
        _maybe_crash("pre_snapshot")
        with _commit_lock(self.meta_dir):
            prev = self.snapshot()
            if expected_head_version is not None and prev["version"] != expected_head_version:
                raise CommitConflict(
                    f"head moved to v{prev['version']} (expected "
                    f"v{expected_head_version}) since the rewrite was resolved"
                )
            if expected_n_buckets is not None and prev["n_buckets"] != expected_n_buckets:
                raise CommitConflict(
                    f"bucket count changed to {prev['n_buckets']} (files staged "
                    f"under {expected_n_buckets}) — a rebucket raced this commit"
                )
            version = prev["version"] + 1
            all_dir_bytes = dict(prev.get("dir_bytes", {}))
            all_dir_bytes.update(dir_bytes or {})
            if truncate:
                buckets: Dict[str, List[str]] = {}
                deltas: Dict[str, List[str]] = {}
            else:
                buckets = dict(prev["buckets"])
                deltas = {b: list(dd) for b, dd in prev.get("deltas", {}).items()}
            if folded_deltas:
                for b, folded in folded_deltas.items():
                    head_base = prev["buckets"].get(b, [])
                    if expected_base is not None and head_base != expected_base.get(b, []):
                        raise CommitConflict(
                            f"bucket {b}: base changed since compaction began "
                            f"(expected {expected_base.get(b)}, head {head_base})"
                        )
                    head_deltas = deltas.get(b, [])
                    missing = [d for d in folded if d not in head_deltas]
                    if missing:
                        # the folded dirs vanished from head: a truncate /
                        # COW rewrite / other compaction superseded them —
                        # publishing the resolved pre-race rows would
                        # resurrect state (delta-only buckets have an
                        # empty expected_base on BOTH sides of a truncate,
                        # so the base check alone cannot catch this)
                        raise CommitConflict(
                            f"bucket {b}: folded delta dirs no longer at head "
                            f"(missing {missing})"
                        )
                    remaining = [d for d in head_deltas if d not in set(folded)]
                    if remaining:
                        deltas[b] = remaining
                    else:
                        deltas.pop(b, None)
            for b in replaced_buckets:
                buckets.pop(str(b), None)
                deltas.pop(str(b), None)
            for b, dirs in new_buckets.items():
                buckets[str(b)] = dirs
                if not folded_deltas:
                    deltas.pop(str(b), None)
            for b, dirs in (delta_buckets or {}).items():
                deltas.setdefault(str(b), []).extend(dirs)
            # prune emptied buckets (compaction of an all-deleted bucket)
            buckets = {b: dd for b, dd in buckets.items() if dd or b in deltas}
            # derive byte maps from the manifest-carried dir sizes; drop
            # entries for dirs no longer referenced anywhere
            referenced = {d for dd in buckets.values() for d in dd}
            referenced |= {d for dd in deltas.values() for d in dd}
            referenced |= {d for dd in (cdf_buckets or {}).values() for d in dd}
            all_dir_bytes = {d: s for d, s in all_dir_bytes.items() if d in referenced}
            all_dir_stats = dict(prev.get("dir_stats", {}))
            all_dir_stats.update(new_dir_stats)
            all_dir_stats = {d: s for d, s in all_dir_stats.items() if d in referenced}
            bucket_bytes = {
                b: sum(all_dir_bytes.get(d, 0) for d in dd) for b, dd in buckets.items()
            }
            delta_bytes = {
                b: sum(all_dir_bytes.get(d, 0) for d in dd) for b, dd in deltas.items()
            }
            out_metrics = dict(metrics or {})
            for k in carry_metrics:
                if k not in out_metrics and k in prev.get("metrics", {}):
                    out_metrics[k] = prev["metrics"][k]
            snap = {
                "version": version,
                "schema": [list(c) for c in (schema or prev["schema"])],
                "key_cols": prev["key_cols"],
                "n_buckets": n_buckets if n_buckets is not None else prev["n_buckets"],
                "buckets": buckets,
                "deltas": deltas,
                "cdf": cdf_buckets or {},
                "bucket_bytes": bucket_bytes,
                "delta_bytes": delta_bytes,
                "dir_bytes": all_dir_bytes,
                "dir_stats": all_dir_stats,
                "watermark_lsn": prev["watermark_lsn"] if watermark_lsn is None else watermark_lsn,
                "parent": prev["version"],
                "props": prev["props"],
                "metrics": out_metrics,
                "created_at": time.time(),
            }
            _write_json(os.path.join(self.snap_dir, f"v{version:08d}.json"), snap)
            _maybe_crash("pre_publish")
            _atomic_write(os.path.join(self.meta_dir, CURRENT), str(version))
        _maybe_crash("post_publish")
        return version

    def bootstrap_load(self, rows_df, watermark_lsn: int) -> int:
        """Initial-snapshot bulk load — the CDC onboarding path.

        The reference tails a slot against an already-empty target
        (reference reader.py:334-390 starts consuming at the slot's
        position; it has no snapshot mode), but a real onboarding of an
        existing table needs the Debezium-style two-phase start:
        ``rows_df`` is a consistent ``SELECT *`` of the source taken at
        ``watermark_lsn`` — in PostgreSQL, the exported snapshot of
        ``CREATE_REPLICATION_SLOT``, which sees exactly the transactions
        committed at or below the slot's consistent point. One bucketed
        bulk write + one commit: the rows become the full base (every
        bucket clean), and the watermark advances to ``watermark_lsn``
        so the catch-up ingest of the slot's WAL applies only
        ``lsn > watermark`` — the snapshot/WAL overlap replays as a
        scan-pruned no-op (``run_ingest`` filters at the source), never
        as duplicate or resurrected rows.

        The change feed covers the load: :meth:`changes` emits the
        bootstrap commit's rows as 'U' events stamped ``max_lsn =
        watermark_lsn`` (the Debezium snapshot-'r' analog), so a
        downstream consumer starting from version 0 sees snapshot rows
        then deltas in order.

        Refuses a non-empty table loudly: bulk-replacing live data is a
        repair/rebuild decision, not an onboarding one.

        Scale: one repartition-by-bucket shuffle (the same write any
        base commit pays); nothing collects on the driver; snapshot
        size is unbounded.
        """
        snap = self.snapshot()
        if snap["buckets"] or snap.get("deltas") or snap["watermark_lsn"] >= 0:
            raise ValueError(
                "bootstrap_load requires an empty table: version "
                f"{snap['version']} has data or watermark_lsn="
                f"{snap['watermark_lsn']} (use repair/rebuild paths to "
                "replace live data)"
            )
        if watermark_lsn < 0:
            raise ValueError(f"watermark_lsn must be >= 0, got {watermark_lsn}")
        cols = [F.col(n).cast(t).alias(n) for n, t in snap["schema"]]
        staged = self.with_bucket(rows_df.select(*cols))
        new_buckets, dbytes = self.write_buckets(staged, snap["version"] + 1)
        return self.commit(
            new_buckets, replaced_buckets=[],
            watermark_lsn=watermark_lsn, dir_bytes=dbytes,
            metrics={"mode": "bootstrap"},
            # revalidate the emptiness check at publish: an ingest merge
            # racing between snapshot() and commit() would otherwise be
            # silently clobbered (its base dirs overlaid, its deltas
            # dropped, its watermark regressed) — the same optimistic
            # guard every other rewrite path carries
            expected_head_version=snap["version"],
        )

    def erase(self, keys_df) -> Optional[int]:
        """Key-scoped hard delete — the right-to-be-forgotten / takedown
        path a training-data lake needs (the reference has no deletion
        story at all; this is the Delta ``DELETE`` + ``VACUUM`` /
        Iceberg ``DeleteFiles`` analog for compliance erasure, which a
        CDC 'D' event cannot express: a WAL delete upserts a tombstone
        into history, while erasure must make the content physically
        unrecoverable).

        ``keys_df`` carries the key columns of rows to remove. The
        operation is key-scoped end-to-end: only the hash buckets the
        keys map to are read, rewritten without the victims (their
        pending deltas fold in — the rewrite is fully resolved), and
        swapped in one atomic commit. Untouched buckets cannot contain
        the keys (same hash modulus), so at 100 TB the cost is
        O(affected buckets), never O(table).

        Downstream mirrors stay consistent: the commit writes a
        feed-only sidecar (``cdf_buckets``) of one 'D' row per erased
        key that actually existed, so :meth:`changes` consumers delete
        the same rows — they never learn the erased values (sidecar
        ``r_<col>`` structs are NULL).

        The commit is watermark- and checkpoint-neutral (no WAL position
        was consumed) and concurrency-safe with ingest exactly like
        compaction: ``expected_base`` aborts with :class:`CommitConflict`
        if a racing rewrite landed, and deltas appended concurrently to
        an affected bucket survive the fold... UNLESS they carry a
        victim key again, which is the operator's re-run contract
        (re-issue ``erase`` after quiescing the key, as with any engine:
        erasure of a key still being written is not well-defined).

        **Physical purge requires retention to pass**: prior snapshots
        still reference files holding the victims' bytes until
        ``expire_snapshots`` drops them (the Delta VACUUM-after-DELETE
        contract) — ``tests/test_erasure.py`` pins that after
        ``erase + expire_snapshots(keep_last=1)`` no parquet byte under
        the table contains the erased content. WAL archives upstream of
        the table are out of scope by definition.

        Returns the committed version, or None when no victim row
        exists (nothing to erase → nothing rewritten, nothing fed).
        """
        return self._key_scoped_rewrite(
            keys_df,
            new_rows_fn=lambda kept, victims: kept,
            sidecar_op="D",
            sidecar_cols_fn=lambda _snap, value_cols: [
                F.lit(None).cast("struct<v: string>").alias(f"r_{c}")
                for c in value_cols
            ],
            metrics_key="erasure",
            count_key="n_erased",
        )

    def redact(self, keys_df, replacements: Dict[str, Optional[str]]) -> Optional[int]:
        """Column-scoped redaction — erase's row-preserving sibling: the
        PII-remediation / partial-takedown path where the ROW stays (the
        document still exists) but named value columns are replaced (or
        NULLed) in place. A CDC update cannot do this job for the same
        reason a CDC delete cannot erase: it adds a new version while
        the offending bytes persist in history; redaction rewrites the
        victims' buckets and — once ``expire_snapshots`` passes — leaves
        no physical byte of the original values.

        ``replacements`` maps value-column name → replacement value
        (``None`` = set NULL). Key columns cannot be redacted (that
        would be a key change, i.e. delete+insert — use CDC or
        :meth:`erase`).

        Feed contract: downstream mirrors receive one 'U' row per
        redacted key carrying ONLY the replacement values
        (``upd_<col>`` true for redacted columns, false elsewhere — "no
        information", prior values stand) — consumers converge to the
        redacted state and never re-learn the originals.

        Same scale/concurrency/retention envelope as :meth:`erase`:
        O(affected buckets), fold-safe, conflict-guarded,
        watermark-neutral; physical purge completes at
        ``expire_snapshots`` (pinned in tests/test_erasure.py).

        Returns the committed version, or None when no victim row exists.
        """
        snap = self.snapshot()
        keys = snap["key_cols"]
        col_types = dict(snap["schema"])
        if not replacements:
            # an empty dict would pay a full victim-bucket rewrite that
            # changes nothing AND emit no-change 'U' feed rows — always
            # a caller bug; refuse loudly
            raise ValueError("redact requires at least one replacement column")
        bad = [c for c in replacements if c in keys or c not in col_types]
        if bad:
            raise ValueError(
                f"redact targets must be value columns; bad: {bad} "
                f"(keys {list(keys)}, columns {list(col_types)})"
            )

        def _new_rows(kept, victims):
            redacted = victims.select(*[
                (F.lit(replacements[c]).cast(col_types[c]) if c in replacements
                 else F.col(c)).alias(c)
                for c, _ in snap["schema"]
            ])
            return kept.unionByName(redacted)

        def _sidecar_cols(s, value_cols):
            return [
                (F.struct(
                    F.lit(replacements[c]).cast("string").alias("v")
                 ) if c in replacements
                 else F.lit(None).cast("struct<v: string>")).alias(f"r_{c}")
                for c in value_cols
            ]

        return self._key_scoped_rewrite(
            keys_df,
            new_rows_fn=_new_rows,
            sidecar_op="U",
            sidecar_cols_fn=_sidecar_cols,
            metrics_key="redaction",
            count_key="n_redacted",
            extra_metrics={"columns": sorted(replacements)},
        )

    def _key_scoped_rewrite(self, keys_df, *, new_rows_fn, sidecar_op: str,
                            sidecar_cols_fn, metrics_key: str, count_key: str,
                            extra_metrics: Optional[dict] = None) -> Optional[int]:
        """Shared machinery of :meth:`erase` and :meth:`redact`: typed +
        deduped victim keys → affected hash buckets only → resolved read
        (deltas fold) → ``new_rows_fn(kept, victims)`` rebuilds the
        buckets → feed-only sidecar (one ``sidecar_op`` row per victim,
        value structs from ``sidecar_cols_fn``) → one atomic,
        watermark/checkpoint-neutral, conflict-guarded commit."""
        snap = self.snapshot()
        ver = snap["version"]
        keys = snap["key_cols"]
        key_types = {n: t for n, t in snap["schema"] if n in keys}
        value_cols = [n for n, _ in snap["schema"] if n not in keys]
        probe = (
            keys_df.select(*[F.col(k).cast(key_types[k]).alias(k) for k in keys])
            .distinct()
            .withColumn("_bucket", _bucket_col(keys, snap["n_buckets"]))
            .persist()
        )
        try:
            n_keys = probe.count()  # also materializes the persist
            present = set(int(b) for b in snap["buckets"]) | set(
                int(b) for b in snap.get("deltas", {})
            )
            affected = sorted(
                b for (b,) in probe.select("_bucket").distinct().collect()
                if int(b) in present
            )
            if not affected:
                return None
            resolved = self.read(version=ver, buckets=affected).withColumn(
                "_bucket", _bucket_col(keys, snap["n_buckets"])
            )
            # victims = probe keys that actually exist. Zero live victims
            # → no rewrite at all (a content-identical base swap would
            # burn I/O and feed nothing). ONE aggregate job yields both
            # the live-victim count and the truly-hit buckets.
            victims = resolved.join(
                probe.select(*keys), on=list(keys), how="left_semi"
            )
            per_bucket = victims.groupBy("_bucket").count().collect()
            n_hit = int(sum(r["count"] for r in per_bucket))
            if n_hit == 0:
                return None
            hit = sorted(int(r["_bucket"]) for r in per_bucket)
            if len(hit) < len(affected):
                # a probe key that hashes to a populated bucket but has
                # no row there must not drag that bucket into the
                # rewrite: it would be re-written content-identical —
                # O(bucket) I/O for nothing — and widen the
                # CommitConflict surface against concurrent
                # compaction/ingest of untouched buckets
                affected = hit
                resolved = resolved.filter(F.col("_bucket").isin(affected))
            resolved = resolved.drop("_bucket")
            victims = victims.drop("_bucket")
            kept = resolved.join(probe.select(*keys), on=list(keys), how="left_anti")
            staged, dbytes = self.write_buckets(
                new_rows_fn(kept, victims).withColumn(
                    "_bucket", _bucket_col(keys, snap["n_buckets"])
                ),
                ver + 1,
            )
            for b in affected:  # bucket rebuilt to empty: base must drop
                staged.setdefault(str(b), [])
            # feed sidecar: value structs must never re-disclose what is
            # being removed (erase: NULL structs; redact: replacements)
            sidecar = victims.select(
                *keys,
                F.lit(sidecar_op).alias("final_op"),
                F.lit(snap["watermark_lsn"]).cast("bigint").alias("max_lsn"),
                *sidecar_cols_fn(snap, value_cols),
            ).withColumn("_bucket", _bucket_col(keys, snap["n_buckets"]))
            cdf_staged, cdf_bytes = self.write_buckets(sidecar, ver + 1)
            folded = {
                str(b): list(snap.get("deltas", {}).get(str(b), []))
                for b in affected
            }
            expected = {
                str(b): list(snap["buckets"].get(str(b), [])) for b in affected
            }
            return self.commit(
                staged, replaced_buckets=[],
                metrics={metrics_key: {
                    "buckets": [int(b) for b in affected],
                    "n_keys": int(n_keys), count_key: int(n_hit),
                    **(extra_metrics or {}),
                }},
                dir_bytes={**dbytes, **cdf_bytes},
                folded_deltas=folded, expected_base=expected,
                cdf_buckets=cdf_staged,
                expected_n_buckets=snap["n_buckets"],
                carry_metrics=("open_tx",),
            )
        finally:
            probe.unpersist()

    # ------------------------------------------------------------ compaction

    def buckets_to_compact(
        self,
        compact_ratio: float = 0.25,
        min_compact_bytes: int = 8 << 20,
        max_delta_commits: int = 32,
    ) -> List[int]:
        """Buckets whose deltas warrant folding into the base: delta bytes
        pass ``compact_ratio`` of base AND an absolute floor (tiny deltas
        never trigger a base rewrite), OR the delta-commit count passes
        ``max_delta_commits`` (bounds snapshot listing growth). Decided
        entirely from manifest-carried byte maps — no filesystem access."""
        snap = self.snapshot()
        out = []
        for b, dirs in snap.get("deltas", {}).items():
            dbytes = snap.get("delta_bytes", {}).get(b, 0)
            bbytes = snap.get("bucket_bytes", {}).get(b, 0)
            if (dbytes > max(compact_ratio * bbytes, min_compact_bytes)
                    or len(dirs) > max_delta_commits):
                out.append(int(b))
        return sorted(out)

    def compact(self, buckets: Optional[Sequence[int]] = None,
                extra_metrics: Optional[dict] = None) -> Optional[int]:
        """Rewrite the given dirty buckets (default: all dirty) as resolved
        base and drop the deltas that were folded in. Idempotent,
        watermark-neutral, and safe to run CONCURRENTLY with ingest: the
        snapshot is pinned at start, the commit folds only the delta
        dirs it resolved (later appends survive), and a conflicting base
        rewrite aborts with :class:`CommitConflict` — a crash or abort
        leaves only unreferenced staging files."""
        snap = self.snapshot()
        ver = snap["version"]
        dirty = [int(b) for b in snap.get("deltas", {})]
        if buckets is not None:
            want = set(int(b) for b in buckets)
            dirty = [b for b in dirty if b in want]
        if not dirty:
            return None
        resolved = self.read(version=ver, buckets=dirty)
        # bucket by the PINNED snapshot's count (not live CURRENT): the
        # commit validates it via expected_n_buckets, so a racing
        # rebucket conflicts instead of mixing moduli
        staged, dbytes = self.write_buckets(
            resolved.withColumn(
                "_bucket", _bucket_col(snap["key_cols"], snap["n_buckets"])
            ),
            ver + 1,
        )
        # crash-soak point (tests/test_crash_resume.py): the fold is fully
        # staged but unreferenced — a crash here must leave the table
        # state untouched and the staging reclaimable by expire_snapshots
        _maybe_crash("post_compact_stage")
        for b in dirty:  # bucket resolved to empty: base must drop, but
            staged.setdefault(str(b), [])  # concurrent delta appends survive
        folded = {str(b): list(snap["deltas"][str(b)]) for b in dirty}
        expected = {str(b): list(snap["buckets"].get(str(b), [])) for b in dirty}
        metrics = {"compaction": {"buckets": dirty}, **(extra_metrics or {})}
        return self.commit(
            staged, replaced_buckets=[], metrics=metrics, dir_bytes=dbytes,
            folded_deltas=folded, expected_base=expected,
            expected_n_buckets=snap["n_buckets"],
            # checkpoint state the ingest pipeline persists in batch
            # commits (open-transaction carry) is copied from the HEAD
            # at publish time — compaction is watermark-neutral and must
            # be checkpoint-neutral too
            carry_metrics=("open_tx",),
        )

    def rebucket(self, new_n_buckets: int) -> int:
        """Change the table's hash-bucket count — the layout evolution a
        growing table eventually needs: ``n_buckets`` sized for the
        creation-time volume leaves multi-TB buckets at 100 TB (single
        tasks resolving them OOM), while an over-sized count at small
        volume is all file-open overhead.

        Necessarily a full rewrite (every row's bucket id changes —
        same as Iceberg repartitioning a ``bucket(N, key)`` spec), but a
        safe one: the resolved state is read at a pinned snapshot, the
        new layout is fully staged before the commit, the commit is
        watermark- and checkpoint-neutral, and an
        ``expected_head_version`` check aborts with
        :class:`CommitConflict` if ANY commit raced in — unlike
        compaction there is no per-bucket fold to merge with, so a
        concurrent merge would be silently dropped otherwise. A crash
        mid-rewrite leaves only unreferenced staging (GC-reclaimable).
        Readers of old snapshots keep their old layout; ``changes()``
        skips the commit (no row changes logically).
        """
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        snap = self.snapshot()
        ver = snap["version"]
        if new_n_buckets == snap["n_buckets"]:
            return ver
        resolved = self.read(version=ver)
        rb = resolved.withColumn(
            "_bucket", _bucket_col(snap["key_cols"], new_n_buckets)
        )
        staged, dbytes = self.write_buckets(rb, ver + 1)
        _maybe_crash("post_rebucket_stage")
        return self.commit(
            staged, replaced_buckets=[], truncate=True,
            metrics={"rebucket": {"from": snap["n_buckets"], "to": new_n_buckets}},
            dir_bytes=dbytes, n_buckets=new_n_buckets,
            expected_head_version=ver, carry_metrics=("open_tx",),
        )

    def schedule_compact(self, buckets: Optional[Sequence[int]] = None):
        """Run :meth:`compact` on the table's maintenance thread (the
        async-compactor analog): ingest latency never pays for the
        bucket rewrite — Spark runs both threads' jobs concurrently. At
        most one compaction is in flight per table; a lost race
        (:class:`CommitConflict`) is swallowed — the trigger policy
        re-fires on a later batch. Returns the Future."""
        from concurrent.futures import ThreadPoolExecutor

        with self._sched_lock:
            if self._pending_compaction is not None and not self._pending_compaction.done():
                return self._pending_compaction
            if self._maintenance is None:
                self._maintenance = ThreadPoolExecutor(
                    max_workers=1, thread_name_prefix="lake-compact"
                )
            self._pending_compaction = self._maintenance.submit(
                self._compact_swallow_conflict, buckets
            )
            return self._pending_compaction

    def _compact_swallow_conflict(self, buckets):
        try:
            return self.compact(buckets)
        except CommitConflict:
            return None

    def wait_maintenance(self):
        """Block until any scheduled compaction finishes (tests, orderly
        shutdown). Returns its result (version or None)."""
        with self._sched_lock:
            f = self._pending_compaction
        return f.result() if f is not None else None

    # ------------------------------------------------------- change data feed

    def delta_dirs_added(self, version: int) -> Dict[str, List[str]]:
        """Per-bucket delta directories first referenced at ``version``
        (snapshot delta lists are cumulative; the diff against the parent
        is exactly the batch's appended change set)."""
        snap = self.snapshot(version)
        parent = snap.get("parent")
        prev = self.snapshot(parent) if parent is not None else {"deltas": {}}
        out: Dict[str, List[str]] = {}
        for b, dirs in snap.get("deltas", {}).items():
            seen = set(prev.get("deltas", {}).get(b, []))
            added = [d for d in dirs if d not in seen]
            if added:
                out[b] = added
        return out

    def changes(self, since_version: int, until_version: Optional[int] = None):
        """Change-data-feed read: the row-level changes committed in
        ``(since_version, until_version]`` — CDC in, CDF out, so
        downstream consumers ingest incrementally instead of re-scanning
        the table (Delta CDF / Iceberg changelog analog).

        Columns: key cols, ``final_op`` ('I'/'U' upsert, 'D' delete,
        'T' truncate marker), ``max_lsn``, ``_commit_version``, and per
        value column the new value plus ``upd_<col>`` (False = the
        commit carried no information for that column — e.g. an
        unchanged TOAST cell — so the prior value still stands; for 'D'
        rows values are NULL).

        A truncate commit emits one 'T' marker row (NULL keys,
        ``max_lsn = -1`` so it orders before the commit's re-inserts):
        consumers MUST reset their state for this table when they see it
        — per-key deletes are not emitted (the pre-truncate key set may
        be arbitrarily large; the marker is the Delta CDF "truncate is
        not row-tracked" / Iceberg "replace" analog, at O(1) cost).

        Covered commits: merge-on-read delta commits (exact change set,
        zero extra cost — the delta files ARE the feed), copy-on-write
        commits (from the feed-only sidecar their merge writes — the
        rewritten buckets mix changed and carried rows, so the change
        set itself is persisted in delta format alongside), truncates
        and initial loads. Compaction and schema-change commits
        (including retype rewrites, which change no row logically)
        contribute no rows; delta files written before a mid-range
        column add are read through the *until* snapshot's delta schema
        — parquet name-based resolution yields NULL for the missing
        ``r_<col>`` struct, i.e. ``upd_<col> = false``, which is
        exactly "no information". A base rewrite with neither deltas
        nor a sidecar (an external rewrite) raises.
        """
        until = self.current_version() if until_version is None else until_version
        snap = self.snapshot(until)
        keys = snap["key_cols"]
        col_types = dict(snap["schema"])
        value_cols = [n for n, _ in snap["schema"] if n not in keys]
        # all delta files in the range are read through the UNTIL
        # snapshot's delta schema (ADVICE r3): columns added inside the
        # range resolve to NULL structs in older files — "no information"
        delta_ddl = self.delta_schema_ddl(snap)

        def _flatten_delta(df, version: int):
            sel = [f"`{k}`" for k in keys] + ["final_op", "max_lsn"]
            sel += [
                f"CASE WHEN final_op = 'D' THEN CAST(NULL AS {col_types[c]}) "
                f"ELSE CAST(`r_{c}`.v AS {col_types[c]}) END AS `{c}`"
                for c in value_cols
            ]
            sel += [f"(`r_{c}` IS NOT NULL) AS `upd_{c}`" for c in value_cols]
            return df.selectExpr(*sel).withColumn("_commit_version", F.lit(version))

        def _truncate_marker(version: int):
            sel = [f"CAST(NULL AS {col_types[k]}) AS `{k}`" for k in keys]
            sel += ["'T' AS final_op", "CAST(-1 AS BIGINT) AS max_lsn"]
            sel += [f"CAST(NULL AS {col_types[c]}) AS `{c}`" for c in value_cols]
            sel += [f"false AS `upd_{c}`" for c in value_cols]
            return (
                self.spark.range(1).selectExpr(*sel)
                .withColumn("_commit_version", F.lit(version))
            )

        parts = []
        for v in range(since_version + 1, until + 1):
            try:
                s = self.snapshot(v)
                added = self.delta_dirs_added(v)
            except FileNotFoundError as exc:
                raise ValueError(
                    f"change feed needs snapshots ({since_version}, {until}] but "
                    f"version {v} (or its parent) is expired — retain enough "
                    "history (expire_snapshots keep_last) for the slowest consumer"
                ) from exc
            feed_dirs = [d for dd in added.values() for d in dd]
            if not feed_dirs:
                # copy-on-write commits feed from their sidecar (same
                # delta format, written by _merge_cow alongside the
                # rewrite; the rewritten base mixes changed and carried
                # rows so it cannot feed)
                feed_dirs = [d for dd in s.get("cdf", {}).values() for d in dd]
            if feed_dirs:
                parts.append(
                    _flatten_delta(
                        self.spark.read.schema(delta_ddl).parquet(*feed_dirs), v
                    )
                )
                continue
            parent = s.get("parent")
            prev = self.snapshot(parent) if parent is not None else {"buckets": {}}
            truncated = bool(s.get("metrics", {}).get("truncated"))
            if truncated and prev.get("buckets"):
                parts.append(_truncate_marker(v))
            new_base = {
                b: dirs for b, dirs in s["buckets"].items()
                if dirs != prev.get("buckets", {}).get(b)
            }
            if not new_base:
                continue  # metadata-only commit (watermark / schema add-drop)
            if "compaction" in s.get("metrics", {}):
                continue  # rewrite of already-fed changes
            if "rebucket" in s.get("metrics", {}):
                continue  # layout-only rewrite: no row changed logically
            if s.get("schema") != prev.get("schema"):
                continue  # retype rewrite: every base file rewritten, no
                # row changed logically (ADVICE r3)
            if not (truncated or not prev.get("buckets")):
                raise ValueError(
                    f"version {v} rewrote base buckets outside truncate/initial-load "
                    "with no change-feed sidecar — not change-tracked (external "
                    "rewrite? pre-sidecar copy-on-write commit?)"
                )
            # read with the COMMIT snapshot's own schema (a retype later in
            # the range would make the raw read mismatch), then project to
            # the until schema: added-later columns → NULL / upd=false,
            # retyped columns → cast
            s_types = dict(s["schema"])
            base = self.spark.read.schema(self.schema_ddl(s)).parquet(
                *[d for dd in new_base.values() for d in dd]
            )
            sel = [f"CAST(`{k}` AS {col_types[k]}) AS `{k}`" for k in keys]
            sel += ["'U' AS final_op", f"CAST({s['watermark_lsn']} AS BIGINT) AS max_lsn"]
            sel += [
                f"CAST(`{c}` AS {col_types[c]}) AS `{c}`" if c in s_types
                else f"CAST(NULL AS {col_types[c]}) AS `{c}`"
                for c in value_cols
            ]
            sel += [
                f"{'true' if c in s_types else 'false'} AS `upd_{c}`"
                for c in value_cols
            ]
            parts.append(base.selectExpr(*sel).withColumn("_commit_version", F.lit(v)))
        if not parts:
            ddl = ", ".join(
                [f"`{n}` {t}" for n, t in snap["schema"] if n in keys]
                + ["final_op STRING", "max_lsn BIGINT"]
                + [f"`{n}` {t}" for n, t in snap["schema"] if n not in keys]
                + [f"`upd_{n}` BOOLEAN" for n, _ in snap["schema"] if n not in keys]
                + ["`_commit_version` INT"]
            )
            return self.spark.createDataFrame([], schema=ddl)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------ maintenance

    def expire_snapshots(
        self, keep_last: int = 10, orphan_grace_sec: float = 3600.0,
        keep_from_version: Optional[int] = None,
    ) -> dict:
        """Expire old snapshots and garbage-collect unreferenced data
        directories (Iceberg ``expireSnapshots`` + orphan-file cleanup).

        Keeps the newest ``keep_last`` snapshots (time travel over those
        is preserved; older versions stop being readable). Data dirs are
        deleted only when referenced by NO kept snapshot; a dir
        referenced by nothing at all (a crashed writer's staging) is
        deleted only once older than ``orphan_grace_sec`` so a
        concurrent in-flight commit is never clobbered. Without
        expiration, every MOR delta and COW rewrite accumulates forever
        — at 100 TB this is the difference between bounded and unbounded
        storage.

        Freed-byte accounting is manifest-driven (snapshot ``dir_bytes``);
        only true orphans — dirs no manifest ever recorded — are sized by
        listing. The sweep itself lists ``data/`` two levels deep: that
        IS the orphan-discovery cost (orphans are by definition in no
        manifest) and is the one intentional listing in the maintenance
        path; it never runs per commit.

        ``keep_from_version`` floors the expiry regardless of
        ``keep_last``: every snapshot at or above it survives. External
        consumers pin versions — a cross-table epoch log
        (lake/epochs.py) pins each batch's version set, and a slow
        change-feed consumer needs its resume point — pass the oldest
        version any of them still references (e.g.
        ``EpochLog.retention_floor()[rid]``).

        Returns {"expired": [versions], "deleted_dirs": n, "freed_bytes": n}.
        """
        import shutil

        current = self.current_version()
        cutoff = current - keep_last + 1
        if keep_from_version is not None:
            cutoff = min(cutoff, keep_from_version)
        all_versions = sorted(
            int(name[1:9]) for name in os.listdir(self.snap_dir)
            if name.startswith("v") and name.endswith(".json")
        )
        keep = [v for v in all_versions if v >= cutoff or v == current]
        expired = [v for v in all_versions if v not in keep]
        # the orphan sweep below runs even with nothing to expire — a
        # vacuum call after a crashed writer must still reclaim staging

        def _refs(versions) -> Tuple[set, Dict[str, int]]:
            out = set()
            sizes: Dict[str, int] = {}
            for v in versions:
                s = self.snapshot(v)
                for dd in s["buckets"].values():
                    out.update(os.path.normpath(d) for d in dd)
                for dd in s.get("deltas", {}).values():
                    out.update(os.path.normpath(d) for d in dd)
                for dd in s.get("cdf", {}).values():
                    out.update(os.path.normpath(d) for d in dd)
                for d, sz in s.get("dir_bytes", {}).items():
                    sizes[os.path.normpath(d)] = sz
            return out, sizes

        kept_refs, kept_sizes = _refs(keep)
        expired_refs, expired_sizes = _refs(expired)
        expired_refs -= kept_refs
        known_sizes = {**expired_sizes, **kept_sizes}
        # walk data/commit-*/ at bucket-dir granularity (the unit snapshots
        # reference); an unreferenced bucket dir outside any expired
        # snapshot is an orphan — age-gated
        now = time.time()
        deleted_dirs = 0
        freed = 0
        data_root = os.path.join(self.path, "data")
        for commit_name in list(os.listdir(data_root)):
            commit_dir = os.path.join(data_root, commit_name)
            if not os.path.isdir(commit_dir):
                continue
            deleted_here = False
            for bucket_name in list(os.listdir(commit_dir)):
                bdir = os.path.normpath(os.path.join(commit_dir, bucket_name))
                if not os.path.isdir(bdir) or bdir in kept_refs:
                    continue
                if bdir not in expired_refs:
                    try:
                        if now - os.path.getmtime(bdir) < orphan_grace_sec:
                            continue
                    except OSError:  # pragma: no cover
                        continue
                freed += known_sizes.get(bdir, 0) or _scan_bytes(bdir)
                shutil.rmtree(bdir, ignore_errors=True)
                deleted_dirs += 1
                deleted_here = True
            # a commit dir holding only writer marker files (_SUCCESS) is
            # empty for sweep purposes (ADVICE r3) — collapse it once its
            # bucket dirs are gone; age-gate untouched dirs so an
            # in-flight writer's staging root survives the sweep
            remaining = os.listdir(commit_dir)
            if not any(
                os.path.isdir(os.path.join(commit_dir, x)) for x in remaining
            ):
                try:
                    aged = now - os.path.getmtime(commit_dir) >= orphan_grace_sec
                except OSError:  # pragma: no cover
                    aged = False
                if deleted_here or aged or not remaining:
                    shutil.rmtree(commit_dir, ignore_errors=True)
        for v in expired:
            os.remove(os.path.join(self.snap_dir, f"v{v:08d}.json"))
        return {"expired": expired, "deleted_dirs": deleted_dirs, "freed_bytes": freed}

    def with_bucket(self, df):
        snap = self.snapshot()
        return df.withColumn("_bucket", _bucket_col(snap["key_cols"], snap["n_buckets"]))

    def evolve_schema(self, actions) -> int:
        """Apply registry SchemaActions (add/drop metadata-only; retype
        rewrites data files through a cast)."""
        snap = self.snapshot()
        schema = [tuple(c) for c in snap["schema"]]
        names = [n for n, _ in schema]
        needs_rewrite = False
        for a in actions:
            if a.kind == "add" and a.column not in names:
                schema.append((a.column, a.spark_type))
            elif a.kind == "drop" and a.column in names:
                schema = [(n, t) for n, t in schema if n != a.column]
            elif a.kind == "retype":
                schema = [(n, a.spark_type if n == a.column else t) for n, t in schema]
                needs_rewrite = True
            names = [n for n, _ in schema]
        if not needs_rewrite:
            return self.commit({}, [], schema=schema)
        # retype: rewrite every bucket (resolving deltas) with a cast
        old = self.read()
        cast = old.select(
            *[F.col(n).cast(t).alias(n) for n, t in schema]
        )
        staged, dbytes = self.write_buckets(
            self.with_bucket(cast).select("*"), self.current_version() + 1
        )
        all_buckets = set(self.snapshot()["buckets"]) | set(self.snapshot().get("deltas", {}))
        return self.commit(
            staged, [int(b) for b in all_buckets], schema=schema, dir_bytes=dbytes
        )


class _commit_lock:
    """Advisory exclusive lock on ``_meta/LOCK`` serializing snapshot
    publication across threads AND processes (flock is per open-file-
    description, so two threads of one process also exclude each other).
    The object-store analog is a conditional PUT of the CURRENT pointer."""

    def __init__(self, meta_dir: str):
        self.path = os.path.join(meta_dir, "LOCK")

    def __enter__(self):
        import fcntl

        self.fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        fcntl.flock(self.fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self.fd, fcntl.LOCK_UN)
        os.close(self.fd)
        return False


def _write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def _atomic_write(path: str, text: str) -> None:
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path))
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)

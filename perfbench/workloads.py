"""The benchmark's workloads over the engine's public entry points.

Every workload follows the same shape:

1. ``generate``: frames for ``(workload, seed)`` through the engine's
   synthetic WAL generator, materialized once (plus, for ``live_mirror``,
   a spool of segment-aligned frame files). Not timed as set-up; it is
   the load generator's cost and is reported as ``gen_s``.
2. ``setup_unit`` x ``SETUP_REPS``: create a table and load its base
   (``bulk_replay``: one full warm-up replay). The repetitions are the
   warm-up; ``setup_s`` is the Spark start plus their median.
3. ``window``: the measured part. A fixed amount of work derived from
   ``--seconds``, so one seed always gives the same inputs and work.
4. the correctness gate: final table state against the serial DuckDB
   oracle, lookup answers against the oracle rows, dead letters.

Sizes are calibrated for a 4-core host: ``*_EST_S`` are the costs of
one unit of work there, used only to turn ``--seconds`` into a count.
"""

from __future__ import annotations

import dataclasses
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Dict, List, Optional

from spans import OP_FULL_READ, OP_LOOKUP

SETUP_REPS = 3

REPLAY_EST_S = 3.0      # one bulk_replay replay
TAIL_ROUND_EST_S = 3.0  # one live_mirror micro-batch plus its reads


@dataclasses.dataclass
class Outcome:
    """What a window hands back: timings, counts and failures."""

    batch_walls: List[float] = dataclasses.field(default_factory=list)
    ingest_wall: float = 0.0
    events: int = 0
    lookup_ms: List[float] = dataclasses.field(default_factory=list)
    full_read_s: List[float] = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: List[str] = dataclasses.field(default_factory=list)
    read_rows: list = dataclasses.field(default_factory=list)
    lookup_rows: list = dataclasses.field(default_factory=list)
    read_delta_dirs: list = dataclasses.field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


class Workload:
    """Shared machinery; subclasses define the stream and the window."""

    name = ""
    strict = True
    #: the traced run fails when its spans miss over 10 % of the batch walls
    gate_coverage = False

    def __init__(self, spark, work: str, seed: int, seconds: float, tiny: bool,
                 tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tiny = tiny
        self.tracer = tracer
        self.p = self.params()
        self.n_tables = 0

    # ------------------------------------------------------------ inputs

    def params(self):
        raise NotImplementedError

    def generate(self) -> None:
        from pypgoutput_spark.wal import generator as gen

        # the serial oracle needs no Spark: it runs beside the frame
        # generation (DuckDB releases the GIL while it executes)
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle)
            path = os.path.join(self.work, "frames")
            gen.spark_frames_df(self.spark, self.p).write.parquet(path)
            self.frames = self.spark.read.parquet(path)
            self.n_segments = -(-self.p.n_txns // self.p.txns_per_segment)
            oracle.result()

    def events_in(self, lo: int, hi: int) -> int:
        """Change events in segments ``[lo, hi)``: plain v1 streams carry
        ``ops_per_txn`` DML frames per transaction."""
        tps = self.p.txns_per_segment
        txns = min(hi * tps, self.p.n_txns) - min(lo * tps, self.p.n_txns)
        return txns * self.p.ops_per_txn

    def _oracle(self) -> None:
        """Expected final state (serial DuckDB replay) and the lookup keys:
        hot and cold keys present at the end, and keys never written."""
        import duckdb

        from pypgoutput_spark.wal import generator as gen

        sql = gen.duckdb_final_state_sql(self.p, with_sha=True)
        self.value_cols = ["commit", "lang", "content"] + (
            ["stars"] if self.p.evolve_at_txn else [])
        cols = list(gen.KEY_COLUMNS) + self.value_cols + ["content_sha"]
        sel = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in cols)
        self.expected = duckdb.sql(f"SELECT {sel} FROM ({sql})").df()
        rows = self.expected.sort_values(["repo", "path"])
        hot_repos = {f"repo-{i:05d}" for i in range(self.p.n_hot)}
        hot = rows[rows.repo.isin(hot_repos)]
        cold = rows[~rows.repo.isin(hot_repos)]
        rng = random.Random(self.seed)

        def pick(df, n):
            keys = list(zip(df.repo, df.path))
            return rng.sample(keys, min(n, len(keys)))

        self.present = pick(hot, 1) + pick(cold, 2)
        self.absent = [(f"absent-{rng.randrange(10**6):06d}", "p0")]
        self.keys = self.present + self.absent
        self.expected_by_key = {
            (r["repo"], r["path"]): r for r in rows.to_dict("records")
        }

    # ------------------------------------------------------------ tables

    def new_table(self, props: Optional[dict] = None):
        from pypgoutput_spark.lake.table import LakeTable
        from pypgoutput_spark.wal import generator as gen

        self.n_tables += 1
        return LakeTable.create(
            self.spark, os.path.join(self.work, f"lake{self.n_tables:03d}"),
            schema=[(c, "string") for c in gen.ALL_COLUMNS],
            key_cols=list(gen.KEY_COLUMNS), n_buckets=self.n_buckets, props=props,
        )

    def setup_unit(self):
        raise NotImplementedError

    def events_per_s(self, out: Outcome) -> float:
        """Change events applied over the wall of the timed ingest."""
        return out.events / out.ingest_wall if out.ingest_wall else 0.0

    def window(self, target, out: Outcome) -> None:
        raise NotImplementedError

    # --------------------------------------------------------- read ops

    def _batch(self, i: int) -> None:
        """Tag the spans that follow with batch number ``i``."""
        if self.tracer is not None:
            self.tracer.batch_id = i

    def _span(self, name: str):
        from contextlib import nullcontext

        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.span(name)
        return nullcontext()

    def lookup(self, table, key, out: Outcome, exact: bool) -> None:
        """One single-key lookup, forced by collecting its rows. ``exact``:
        the answer must equal the oracle's final row (end of stream);
        otherwise only the shape is checked (at most one row, nothing for
        an absent key)."""
        from pypgoutput_spark.wal import generator as gen

        trace = self.tracer is not None and self.tracer.enabled
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            with self._span(OP_LOOKUP):
                rows = table.lookup([key]).collect()
            out.lookup_ms.append((time.perf_counter() - t0) * 1e3)
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            out.fail(f"lookup {key}: {type(exc).__name__}: {exc}"[:300])
            return
        if trace:
            with self.tracer.aux():
                out.lookup_rows.append(
                    (self._rows_scanned(table, buckets_of=key), len(rows)))
        want = self.expected_by_key.get(key)
        if len(rows) > 1 or (key in self.absent and rows):
            out.fail(f"lookup {key}: {len(rows)} rows")
        elif exact:
            got = rows[0].asDict() if rows else None
            if (want is None) != (got is None):
                out.fail(f"lookup {key}: present={got is not None}, oracle={want is not None}")
            elif want is not None:
                cols = list(gen.KEY_COLUMNS) + self.value_cols
                g = [None if got[c] is None else str(got[c]) for c in cols]
                w = [want[c] for c in cols]
                if g != w:
                    out.fail(f"lookup {key}: row differs from oracle")

    def full_read(self, table, out: Outcome) -> None:
        """``LakeTable.read()`` of the whole state, forced with a noop sink."""
        trace = self.tracer is not None and self.tracer.enabled
        out.attempted += 1
        if trace:
            snap = table.snapshot()
            out.read_delta_dirs.append(sum(len(d) for d in snap.get("deltas", {}).values()))
        try:
            t0 = time.perf_counter()
            with self._span(OP_FULL_READ):
                table.read().write.format("noop").mode("overwrite").save()
            out.full_read_s.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001
            out.fail(f"full read: {type(exc).__name__}: {exc}"[:300])
            return
        if trace:
            with self.tracer.aux():
                out.read_rows.append((self._rows_scanned(table), table.read().count()))

    def _rows_scanned(self, table, buckets_of=None) -> int:
        """Rows in the parquet files a read resolves (footers only): the
        whole snapshot, or the bucket of one key."""
        import pyarrow.parquet as pq

        snap = table.snapshot()
        want = None
        if buckets_of is not None:
            kdf = self.spark.createDataFrame([buckets_of], "repo string, path string")
            want = {str(table.with_bucket(kdf).collect()[0]["_bucket"])}
        n = 0
        for part in ("buckets", "deltas"):
            for b, dirs in snap.get(part, {}).items():
                if want is not None and b not in want:
                    continue
                for d in dirs:
                    for f in os.listdir(d):
                        if f.endswith(".parquet"):
                            n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        return n

    def read_back(self, table, out: Outcome) -> None:
        """After the ingest: every key once, then twelve full reads (a
        full read of the clean table takes ~0.2 s, so its median needs
        many samples)."""
        for key in self.keys:
            self.lookup(table, key, out, exact=True)
        for _ in range(12):
            self.full_read(table, out)

    def warm_reads(self, table) -> None:
        """Warm-up of the read path before timing: one lookup and three
        full reads (the first calls pay one-off costs, and full-read
        walls keep falling over the next few)."""
        scratch = Outcome()
        self.lookup(table, self.keys[0], scratch, exact=False)
        for _ in range(3):
            self.full_read(table, scratch)

    # ------------------------------------------------------- correctness

    def check_final_state(self, table, out: Outcome) -> None:
        """Whole-table content (sha256 per row and the canonical hash of
        ``tools/check_oracle._canon``) against the serial DuckDB replay."""
        from tools.check_oracle import _canon

        from pypgoutput_spark.wal import generator as gen

        out.attempted += 1
        cols = list(gen.KEY_COLUMNS) + self.value_cols
        try:
            got = table.read().selectExpr(
                *[f"CAST(`{c}` AS STRING) AS `{c}`" for c in cols],
                "sha2(content, 256) AS content_sha",
            ).toPandas()
        except Exception as exc:  # noqa: BLE001
            out.fail(f"final read: {type(exc).__name__}: {exc}"[:300])
            return
        if _canon(got) != _canon(self.expected):
            out.fail(f"final state differs from the DuckDB oracle "
                     f"(rows {len(got)} vs {len(self.expected)})")

    def ingest_metrics(self, metrics: dict, out: Outcome) -> None:
        dl = int(metrics.get("dead_letters", 0) or 0)
        if dl:
            out.fail(f"{dl} dead-letter rows")
        if metrics.get("skipped") and metrics.get("reason") == "no-relation":
            out.fail("batch skipped as no-relation")


class BulkReplay(Workload):
    """Catch-up replay of a plain-v1 backlog into an empty table, one
    ``run_ingest`` call per replay."""

    name = "bulk_replay"
    n_buckets = 32
    gate_coverage = True

    def params(self):
        from pypgoutput_spark.wal.generator import GenParams

        # 300 k change events in 3 750 segments: the data path, not the
        # once-per-replay prescan and planning, takes most of a replay
        n_txns = 500 if self.tiny else 37_500
        return GenParams(
            n_txns=n_txns, ops_per_txn=8, n_repos=max(50, n_txns // 25),
            n_paths=40, toast_pct=25, hot_pct=20, n_hot=2,
            txns_per_segment=5 if self.tiny else 10, seed=f"s{self.seed}",
        )

    def n_replays(self) -> int:
        return max(3, round(0.75 * self.seconds / REPLAY_EST_S))

    def replay(self, out: Optional[Outcome] = None):
        from pypgoutput_spark.streaming import pipeline

        table = self.new_table()
        t0 = time.perf_counter()
        ms = pipeline.run_ingest(self.spark, self.frames, table, n_batches=1,
                                 clustered=True)
        wall = time.perf_counter() - t0
        if out is not None:
            out.attempted += 1
            out.batch_walls.append(wall)
            out.ingest_wall += wall
            out.events += self.events_in(0, self.n_segments)
            for m in ms:
                self.ingest_metrics(m, out)
        return table

    def setup_unit(self):
        return self.replay()

    def window(self, target, out: Outcome) -> None:
        table = None
        for i in range(self.n_replays()):
            self._batch(i + 1)
            table = self.replay(out)
        self.final_table = table
        self.read_back(table, out)


class LiveMirror(Workload):
    """A committed merge-on-read mirror tails the stream: ``stream_ingest``
    drains a spool of segment-aligned frame files one file per
    micro-batch (closed loop, one caller), and between micro-batches the
    same caller reads the mirror — a single-key lookup and two full reads."""

    name = "live_mirror"
    strict = False  # stream_ingest decodes optimistically with quarantine
    n_buckets = 4  # a small mirror: ~6k rows

    def params(self):
        from pypgoutput_spark.wal.generator import GenParams

        self.tps = 10 if self.tiny else 100
        self.base_segs = 4 if self.tiny else 8
        self.n_files = 3 if self.tiny else max(3, round(self.seconds / TAIL_ROUND_EST_S))
        n_txns = (self.base_segs + self.n_files) * self.tps
        return GenParams(
            n_txns=n_txns, ops_per_txn=8, n_repos=max(50, n_txns // 25),
            n_paths=40, toast_pct=25, hot_pct=40, n_hot=2,
            # the BIGINT ``stars`` column arrives mid-base (a Relation
            # re-send), so the mirror's typed stats column exists before
            # the stream starts
            evolve_at_txn=self.base_segs * self.tps // 2,
            txns_per_segment=self.tps, seed=f"s{self.seed}",
        )

    def generate(self) -> None:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        super().generate()
        # one file per WAL segment, in LSN order (increasing mtimes: the
        # file source takes the oldest first); the first file also carries
        # every Relation frame, so each micro-batch's ingest can resolve
        # the schema (DML without it is skipped as no-relation)
        self.spool = os.path.join(self.work, "spool")
        os.makedirs(self.spool)
        tail = self.frames.filter(
            (F.col("segment") >= self.base_segs) | (F.col("mtype") == "R")
        ).orderBy("segment", "lsn").toArrow()
        segs = tail.column("segment").to_pylist()
        relation = [j for j, m in enumerate(tail.column("mtype").to_pylist()) if m == "R"]
        t_mtime = time.time() - 3600
        for i, seg in enumerate(range(self.base_segs, self.n_segments)):
            idx = [j for j, s in enumerate(segs) if s == seg]
            if i == 0:
                idx = sorted(set(idx) | set(relation))
            f = os.path.join(self.spool, f"part-{i:05d}.parquet")
            pq.write_table(tail.take(idx), f)
            os.utime(f, (t_mtime + i, t_mtime + i))
        self.base = self.frames.filter(F.col("segment") < self.base_segs)

    def setup_unit(self):
        from pypgoutput_spark.streaming import pipeline

        # typed zone-map stats on the evolved BIGINT column: every commit
        # pays the post-write stats job
        table = self.new_table(props={"stats_cols": ["stars", "lang"]})
        pipeline.run_ingest(self.spark, self.base, table, n_batches=1, clustered=True)
        return table

    def window(self, table, out: Outcome) -> None:
        from pypgoutput_spark.lake.epochs import EpochLog
        from pypgoutput_spark.streaming import pipeline

        tag = os.path.basename(table.path)
        epochs = EpochLog.create(os.path.join(self.work, f"epochs-{tag}"))
        seen: List[dict] = []
        self._batch(1)
        mark = [time.perf_counter()]

        def on_batch(m: dict) -> None:
            wall = time.perf_counter() - mark[0]
            out.batch_walls.append(wall)
            out.ingest_wall += wall
            seen.append(m)
            self._batch(len(seen))
            self.lookup(table, self.keys[(len(seen) - 1) % len(self.keys)], out,
                        exact=False)
            for _ in range(2):
                self.full_read(table, out)
            # operator maintenance: one async compaction after the first
            # micro-batch, running beside the second
            if len(seen) == 1:
                table.schedule_compact()
            self._batch(len(seen) + 1)
            mark[0] = time.perf_counter()

        out.attempted += self.n_files
        try:
            q = pipeline.stream_ingest(
                self.spark, self.spool, table,
                os.path.join(self.work, f"ckpt-{tag}"),
                max_files_per_trigger=1, clustered=True, epoch_log=epochs,
                on_batch=on_batch,
            )
            q.awaitTermination()
        except Exception as exc:  # noqa: BLE001
            out.fail(f"stream: {type(exc).__name__}: {exc}"[:300])
        out.events = self.events_in(self.base_segs, self.n_segments)
        if len(seen) != self.n_files:
            out.fail(f"{len(seen)} micro-batches for {self.n_files} files")
        for m in seen:
            self.ingest_metrics(m, out)
        table.wait_maintenance()
        self.final_table = table


WORKLOADS: Dict[str, Callable] = {
    w.name: w for w in (BulkReplay, LiveMirror)
}


def p50(xs: List[float]) -> float:
    """Median; 0 when a failed window left no samples (the run is then
    reported as not correct, and the result line stays valid JSON)."""
    return statistics.median(xs) if xs else 0.0

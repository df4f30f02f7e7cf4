"""End-to-end CDC ingest pipeline: WAL frames → decoded events → merge.

Micro-batch driver (the distributed analog of the reference's
``LogicalReplicationReader`` loop, reference reader.py:112-193): frames
are consumed in LSN-ordered batches; each batch is decoded once,
truncate-barriered *per relation*, LWW-collapsed, and merged into one
LakeTable per replicated relation, with the batch's max LSN committed
atomically as the new watermark.

Multi-relation routing (reference parity: schema caches keyed by
relation_id, reader.py:124-132; per-event dispatch, reader.py:252-258):
``apply_frames_batch`` accepts either a single LakeTable or a
``{relation_id: LakeTable}`` map. Events route to their relation's table;
a Truncate barriers only the relations it lists (parsed from the tiny 'T'
cohort driver-side), never the others.

Transactions spanning batch boundaries (reference reader.py:182-193: the
in-memory transaction scope survives arbitrary message boundaries):
each batch returns the open-transaction state at its end (B seen, no C);
the caller threads it into the next batch's decode kernel, and it is
persisted inside the same atomic snapshot commit as the data — so resume
restores it exactly.

Resume-from-checkpoint: the table's ``watermark_lsn`` IS the checkpoint.
On restart, frames with lsn ≤ watermark are filtered out before decode
(predicate pushed to the frame scan); a partially-applied batch that
crashed before its snapshot commit re-runs idempotently. Relation ('R')
frames are exempt from the filter — the schema registry is always rebuilt
from the full R cohort (a handful of frames), which reconstructs the
reference's in-memory schema cache on resume (reader.py:124-132).

A Structured Streaming variant (`stream_ingest`) wires the same batch
apply through ``foreachBatch`` over a file-source stream.
"""

from __future__ import annotations

import math
import os
import shutil
from typing import Callable, Dict, List, Optional, Union

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pypgoutput_spark.lake.table import LakeTable
from pypgoutput_spark.operators import decode as decode_op
from pypgoutput_spark.operators.lww import lww_changes_flat
from pypgoutput_spark.operators.merge import merge_into
from pypgoutput_spark.plans.registry import RelationRegistry
from pypgoutput_spark.sources.frames import check_continuity
from pypgoutput_spark.wal import codec as _codec
from pypgoutput_spark.wal.generator import RELATION_ID

#: JVM-side relation id of a DML frame (big-endian int32 at payload[1:5]) —
#: lets pre-decode filters scope per-relation without touching Python
_RID_EXPR = "CAST(conv(hex(substring(payload, 2, 4)), 16, 10) AS BIGINT)"


def evolve_to_relation(table: LakeTable, rv, key_cols) -> bool:
    """Diff the table schema against a RelationVersion and apply add/drop
    actions (key columns are never dropped). Returns True if evolved."""
    from pypgoutput_spark.plans.registry import SchemaAction

    current = {n: t for n, t in table.snapshot()["schema"]}
    target = {
        c[1]: _codec.spark_type_for_oid(c[2], c[3]) for c in rv.columns
    }
    actions = []
    for name, typ in target.items():
        if name not in current:
            actions.append(SchemaAction("add", name, typ))
    for name in current:
        if name not in target and name not in key_cols:
            actions.append(SchemaAction("drop", name))
    if actions:
        table.evolve_schema(actions)
    return bool(actions)


def _mtype_pred(frames, letter: str):
    if "mtype" in frames.columns:
        return F.col("mtype") == letter
    return F.expr(f"substring(payload, 1, 1) = X'{ord(letter):02X}'")


def _r_pred(frames):
    """Relation frames: v1 'R' plus (with stamped mtype) protocol-v2
    in-chunk Relation messages ('r' — PG14+ sends the R for a table
    first touched by a STREAMED transaction inside the chunk; the
    registry strips their subxid prefix). The payload-byte fallback
    matches v1 only — v2 streams require stamped frames."""
    pred = _mtype_pred(frames, "R")
    if "mtype" in frames.columns:
        pred = pred | (F.col("mtype") == "r")
    return pred


def _p2_pred(frames):
    """Two-phase control frames (PG15+ ``two_phase``): Begin Prepare 'b',
    Prepare 'P', Commit Prepared 'K', Rollback Prepared 'r', and Stream
    Prepare 'p' (the v2 spelling of 'P' — a streamed transaction sealing
    as PREPARED under ``streaming = on, two_phase = on``). Rollback's
    METADATA letter is 'x' — the capture layer must not collide with the
    in-chunk-Relation stamp 'r' (see ``_r_pred``); the payload byte stays
    the spec's 'r'."""
    if "mtype" in frames.columns:
        return F.col("mtype").isin("b", "P", "K", "x", "p")
    return F.expr(
        "substring(payload, 1, 1) IN (X'62', X'50', X'4B', X'72', X'70')"
    )


def _span_open_pred(frames):
    """Transaction-span openers: Begin 'B' plus Begin Prepare 'b' — the
    b..P body grammar is exactly the B..C body grammar, so the
    open-transaction carry treats them identically."""
    if "mtype" in frames.columns:
        return F.col("mtype").isin("B", "b")
    return F.expr("substring(payload, 1, 1) IN (X'42', X'62')")


def _span_close_pred(frames):
    """Transaction-span closers: Commit 'C' plus Prepare 'P'."""
    if "mtype" in frames.columns:
        return F.col("mtype").isin("C", "P")
    return F.expr("substring(payload, 1, 1) IN (X'43', X'50')")


def _empty_pending() -> dict:
    return {"xids": {}, "t_void": {}}


def _observed_write(df, path: str) -> int:
    """Append ``df`` as parquet and return its row count from an
    observed metric riding the SAME job — replaces the count-then-write
    two-action pattern (each extra action re-ran a full job over the
    cached decode). A write that turns out empty removes the directory
    it itself created, so "the sink exists" keeps meaning "something was
    delivered" for every downstream probe (read_messages PATH_NOT_FOUND
    contract, the 2PC decided-xid staging validation)."""
    from pyspark.sql import Observation

    existed = os.path.isdir(path)
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(path)
    try:
        n = int(obs.get["n"])
    except Exception:  # noqa: BLE001 — zero-task write: no rows
        n = 0
    if n == 0 and not existed:
        shutil.rmtree(path, ignore_errors=True)
    return n


def _twopc_commit_evidence(frames, commit_now, opened_now, pend_xids,
                           p_seal, pending_dir) -> bool:
    """Is there any mergeable DML behind this batch's Commit Prepared
    decisions? Probed only on the no-registered-relation skip path (a
    batch whose registry knows no schema at all — rare), so the bounded
    ``limit(1)`` jobs below never ride a hot loop.

    Evidence = staged rows for a decided xid under ``pending_dir``
    (events staged by an earlier batch), or frames inside a decided
    transaction's prepared span in THIS batch: plain DML or logical
    messages ('M' — a committed transaction carrying only outbox
    messages still has deliverable content) between its 'b' (or batch
    start, for a carried-open span) and its 'P' seal, or stream chunks
    ('S', xid in the chunk header) for a Stream-Prepare transaction.
    No evidence means an empty prepared transaction, or one that never
    produced stageable rows — its decision is consumed without a merge,
    exactly as the managed path consumes it, instead of wedging ingest
    with a raise on every retry."""
    xids = sorted(int(x) for x in commit_now)
    spark = frames.sparkSession
    if pending_dir and os.path.isdir(pending_dir):
        staged = (
            spark.read.schema(decode_op.RAW_SCHEMA)
            .parquet(pending_dir)
            .filter(F.col("xid").isin(xids))
        )
        if staged.limit(1).count():
            return True
    dml_preds = []
    chunk_preds = []
    for x in xids:
        info = opened_now.get(x)
        if info is not None:
            lo, seg = int(info["b_lsn"]), int(info["segment"])
        elif str(x) in pend_xids and x in p_seal:
            # carried open, sealed this batch: span covers the batch
            # start up to the seal. Carried-and-sealed-EARLIER xids have
            # no in-batch frames by construction (nothing follows 'P'),
            # so the staging probe above is their only evidence channel.
            lo, seg = -1, int(pend_xids[str(x)]["segment"])
        else:
            continue
        hi = p_seal.get(x)
        hi_sql = f" AND lsn < {int(hi)}" if hi is not None else ""
        dml_preds.append(f"(segment = {seg} AND lsn > {lo}{hi_sql})")
        # Stream-Prepare ('p') spans are zero-width — their body arrived
        # as v2 chunks, whose Stream Start frames carry the xid at
        # payload[1:5] (the same header slot _RID_EXPR reads)
        chunk_preds.append(f"(segment = {seg} AND {_RID_EXPR} = {x})")
    if not dml_preds:
        return False
    dml_mtype = (
        F.col("mtype").isin("I", "U", "D", "M") if "mtype" in frames.columns
        else F.expr(
            "substring(payload, 1, 1) IN (X'49', X'55', X'44', X'4D')")
    )
    pred = (dml_mtype & F.expr(" OR ".join(dml_preds))) | (
        _mtype_pred(frames, "S") & F.expr(" OR ".join(chunk_preds))
    )
    return bool(frames.filter(pred).limit(1).count())


def _segment_stats_aggs(frames, skip_foreign_origins: bool, live) -> list:
    """The per-segment metadata aggregate list of the batch stats scan —
    factored out so :func:`run_ingest` can run ONE scan covering every
    batch (segments never split across segment-cut batches) instead of
    one scan per batch."""
    t_pred = _mtype_pred(frames, "T")
    b_pred, c_pred = _span_open_pred(frames), _span_close_pred(frames)
    p2_pred = _p2_pred(frames)
    r_pred = _r_pred(frames)
    aggs = [
        F.max(F.when(live, F.col("lsn"))).alias("max_lsn"),
        F.min(F.when(live, F.col("lsn"))).alias("min_lsn"),
        F.count(F.when(live, 1)).alias("n"),
        F.count(F.when(~live & ~r_pred, 1)).alias("n_late"),
        F.max(F.when(b_pred & live, F.col("lsn"))).alias("b_lsn"),
        F.max(F.when(c_pred & live, F.col("lsn"))).alias("c_lsn"),
        F.collect_list(F.when(t_pred & live, F.col("lsn"))).alias("t_lsns"),
        F.collect_list(F.when(p2_pred & live, F.col("lsn"))).alias("p2_lsns"),
        F.count(F.when(r_pred, 1)).alias("n_r"),
    ]
    if skip_foreign_origins:
        # the foreign-span carry needs each segment's newest top-level
        # Origin LSN — rides the same metadata-only scan
        aggs.append(
            F.max(F.when(_mtype_o_pred(frames) & live, F.col("lsn")))
            .alias("o_lsn")
        )
    return aggs


def _truncate_floor_expr(scrutinee: str, floors: dict) -> str:
    """SQL predicate keeping rows ABOVE each relation's truncate floor:
    ``CASE <scrutinee> WHEN rid THEN lsn > floor … ELSE true END``.
    One builder for both truncate paths (the pre-decode DML filter and
    the staged-release t_void filter) so the floor predicate cannot
    silently diverge between them."""
    cases = " ".join(
        f"WHEN {int(rid)} THEN lsn > {int(tl)}" for rid, tl in floors.items()
    )
    return f"CASE {scrutinee} {cases} ELSE true END"


def _best_metrics(tables) -> dict:
    """Commit metrics of the managed table with the HIGHEST watermark —
    the single carried-state convention (one snapshot read per table)."""
    tabs = list(tables.values()) if isinstance(tables, dict) else [tables]
    best: dict = {}
    best_wm = -1
    for t in tabs:
        snap = t.snapshot()
        if snap["watermark_lsn"] > best_wm:
            best_wm = snap["watermark_lsn"]
            best = snap.get("metrics") or {}
    return best


def _serialize_tx(open_tx: Optional[dict]) -> dict:
    return {str(k): list(v) for k, v in (open_tx or {}).items()}


def _deserialize_tx(stored: Optional[dict]) -> dict:
    return {int(k): tuple(v) for k, v in (stored or {}).items()}


def stored_carry_state(tables) -> dict:
    """All three carried-state pieces — open transactions, pending
    prepared (2PC) transactions, foreign-origin span flags — from ONE
    snapshot read per table (run_ingest/stream_ingest previously called
    the three accessors below, re-reading every snapshot three times)."""
    m = _best_metrics(tables)
    pend = m.get("pending_2pc") or _empty_pending()
    return {
        "open_tx": _deserialize_tx(m.get("open_tx", {})),
        "pending_2pc": {"xids": dict(pend.get("xids") or {}),
                        "t_void": dict(pend.get("t_void") or {})},
        "open_foreign": {int(x) for x in m.get("open_foreign", [])},
    }


def stored_pending_2pc(tables) -> dict:
    """Pending PREPARED-transaction state persisted by the last
    commit(s) — read from the managed table with the highest watermark
    (the same convention as :func:`stored_open_tx`). Shape:
    ``{"xids": {str(xid): {gid, b_lsn, segment, sealed}}, "t_void":
    {str(relation_id): max_truncate_lsn}}``."""
    return stored_carry_state(tables)["pending_2pc"]


def stored_open_tx(tables) -> dict:
    """Carried open-transaction state persisted by the last commit(s) —
    read from the managed table with the highest watermark."""
    return stored_carry_state(tables)["open_tx"]


def stored_open_foreign(tables) -> set:
    """Carried foreign-origin span flags (segments whose open
    transaction already saw its Origin message) persisted by the last
    commit(s) — the skip_foreign_origins sibling of stored_open_tx."""
    return stored_carry_state(tables)["open_foreign"]


def _mtype_o_pred(frames):
    """Top-level Origin frames 'O' (in-chunk origins are stamped 'o'
    by the capture layer and resolve inside the stream machinery)."""
    if "mtype" in frames.columns:
        return F.col("mtype") == "O"
    return F.expr("substring(payload, 1, 1) = X'4F'")


def _carry_from_stats(frames, seg_rows, open_tx: Optional[dict]) -> dict:
    """Open-transaction state at the end of a batch, given per-segment
    max-B/max-C LSNs. A segment whose last B has no later C is open; its
    (xid, begin_lsn, commit_ts_us) is read from that single B frame.
    Segments with any B/C activity supersede their carried-in state;
    silent segments keep it."""
    carry: dict = dict(open_tx or {})
    for r in seg_rows:
        if r["b_lsn"] is not None or r["c_lsn"] is not None:
            carry.pop(int(r["segment"]), None)
    open_b_lsns = [
        r["b_lsn"]
        for r in seg_rows
        if r["b_lsn"] is not None
        and (r["c_lsn"] is None or r["b_lsn"] > r["c_lsn"])
    ]
    if open_b_lsns:
        for row in (
            frames.filter(_span_open_pred(frames) & F.col("lsn").isin(open_b_lsns))
            .select("segment", "lsn", "payload")
            .collect()
        ):
            m = _codec.decode_message(bytes(row["payload"]))
            cts = m["commit_ts_us"] if m["msg_type"] == "B" else m["prepare_ts_us"]
            carry[int(row["segment"])] = (m["xid"], int(row["lsn"]), cts)
    return carry


def open_tx_carry(frames, open_tx: Optional[dict] = None) -> dict:
    """Standalone carry computation for a frames batch (metadata-only scan
    plus at most one tiny B-frame lookup) — what ``apply_frames_batch``
    derives internally; exposed for decode-only consumers and tests.
    Begin Prepare 'b' opens a span exactly like 'B' and Prepare 'P'
    closes it like 'C' (the kernels stamp b..P bodies identically)."""
    b_pred, c_pred = _span_open_pred(frames), _span_close_pred(frames)
    seg_rows = (
        frames.groupBy("segment")
        .agg(
            F.max(F.when(b_pred, F.col("lsn"))).alias("b_lsn"),
            F.max(F.when(c_pred, F.col("lsn"))).alias("c_lsn"),
        )
        .collect()
    )
    return _carry_from_stats(frames, seg_rows, open_tx)


def _explode_key_changes(proj, keys, value_cols, base_cols, guard_kc_toast=False):
    """Replay a key-change UPDATE (before-image key ≠ new key) as
    DELETE(old key) + upsert(new key) — in ONE pass over the decoded
    events (a conditional 1-or-2-element struct array + inline, no second
    scan, so the no-key-change common case costs one codegen'd Generate).

    A key-change U carrying a TOAST-'u' cell needs the OLD key's value
    under serial semantics: with ``kc_toast_passes > 0`` the pipeline
    resolves it upstream (operators.kc_toast); with resolution disabled,
    ``guard_kc_toast`` raises at runtime instead of merging NULLs
    (ADVICE r2 — the contract is enforced on real data, not only by the
    in-repo generator).

    Reference parity: the old key rides the 'K'/'O' before image
    (reference reader.py:263-284, asserted tests/test_reader.py:231-251).
    """
    from pypgoutput_spark.operators.kc_toast import kc_pred

    out_cols = list(base_cols)
    for c in list(keys) + list(value_cols):
        out_cols += [f"`{c}`", f"u_{c}"]

    def struct_of(fields: dict) -> str:
        parts = []
        for c in out_cols:
            name = c.strip("`")
            parts.append(f"'{name}', {fields.get(name, c)}")
        return f"named_struct({', '.join(parts)})"

    main = struct_of({})
    del_fields = {"op": "'D'"}
    for k in keys:
        del_fields[k] = f"__old_{k}"
        del_fields[f"u_{k}"] = "false"
    for v in value_cols:
        del_fields[v] = "CAST(NULL AS STRING)"
        del_fields[f"u_{v}"] = "false"
    old_del = struct_of(del_fields)
    key_changed = " OR ".join(
        f"(__old_{k} IS DISTINCT FROM `{k}`)" for k in keys
    )
    has_old = " OR ".join(f"__old_{k} IS NOT NULL" for k in keys)
    kc = f"(op = 'U' AND ({has_old}) AND ({key_changed}))"
    if guard_kc_toast:
        bad = kc_pred(keys, value_cols)
        proj = proj.withColumn(
            "op",
            F.expr(
                f"CASE WHEN {bad} THEN raise_error(concat('key-change UPDATE "
                f"with unchanged-TOAST cell at lsn=', CAST(lsn AS STRING), "
                f" ' requires kc_toast_passes > 0')) ELSE op END"
            ),
        )
    return proj.selectExpr(
        f"inline(CASE WHEN {kc} THEN array({main}, {old_del}) "
        f"ELSE array({main}) END)"
    )


def project_all_versions(raw, registry, rid: int, keys, value_cols, base_cols,
                         versions=None):
    """Union the flat projections of every schema version of ``rid`` over
    decoded raw events, aligning columns to the table schema (missing →
    NULL/false carriers) and keeping the old-key columns for key-change
    explode. Truncate rows are metadata, not DML — dropped here.
    ``versions``: restrict to these versions (the batch's LSN-live
    subset from ``RelationRegistry.versions_in_range``); default all."""
    parts = []
    for rv in (versions if versions is not None else registry.versions(rid)):
        p_df = decode_op.project_relation(raw, rv, with_old_keys=True)
        sel = list(base_cols)
        for c in list(keys) + list(value_cols):
            if c in rv.column_names:
                sel += [f"`{c}`", f"u_{c}"]
            else:
                sel += [f"CAST(NULL AS STRING) AS `{c}`", f"false AS u_{c}"]
        for k in keys:
            sel.append(
                f"__old_{k}" if k in rv.column_names
                else f"CAST(NULL AS STRING) AS __old_{k}"
            )
        parts.append(p_df.selectExpr(*sel))
    proj = parts[0]
    for extra in parts[1:]:
        proj = proj.unionByName(extra)
    return proj.filter(F.col("op") != "T")


def apply_frames_batch(
    tables: Union[LakeTable, Dict[int, LakeTable]],
    frames,
    registry: Optional[RelationRegistry] = None,
    relation_id: int = RELATION_ID,
    salt_buckets: int = 0,
    strict: bool = True,
    clustered: bool = False,
    open_tx: Optional[dict] = None,
    quarantine_dir: Optional[str] = None,
    kc_toast_passes: int = 0,
    late_wm: Optional[int] = None,
    registry_merge: bool = False,
    messages_dir: Optional[str] = None,
    pending_2pc: Optional[dict] = None,
    pending_dir: Optional[str] = None,
    skip_foreign_origins: bool = False,
    open_foreign: Optional[set] = None,
    stream_spill_bytes: Optional[int] = None,
    pre_seg_rows: Optional[list] = None,
    pre_aux_rows: Optional[list] = None,
) -> dict:
    """One micro-batch: frames → decode once → route per relation →
    LWW → merge each table. Returns metrics (incl. ``open_tx`` carry-out).

    ``pre_seg_rows`` / ``pre_aux_rows``: this batch's slice of a fused
    whole-ingest prescan (see :func:`run_ingest`) — the per-segment
    stats rows and the rare payload-carrying cohort rows, already
    collected. When provided, the batch runs ZERO driver-side planning
    jobs (the stats scan and aux lookup are skipped); per-batch cost is
    the single decode→LWW→merge job. Only valid when the batch never
    gates late frames (``late_wm`` unset — run_ingest's batches are
    pre-filtered by watermark).

    ``stream_spill_bytes``: bounded-memory decode of oversized
    protocol-v2 streamed transactions — stream groups whose buffered
    Arrow bytes exceed the threshold spool to executor-local disk and
    decode via a two-pass fate map (wal.vspill) instead of pinning the
    whole transaction in task memory. Identical output; see
    ``decode_frames_raw``.

    ``messages_dir``: when set, delivered logical-decoding messages
    (op='M' — pg_logical_emit_message, the transactional-outbox
    carrier) are appended as parquet alongside the merge, out of the
    SAME decode pass (no second WAL scan). Delivery is at-least-once
    across crash-replays (a batch replayed after a crash between the
    message append and the merge commit re-appends); a message's
    identity is its LSN, so :func:`read_messages` collapses replays
    exactly — the consumer contract is effectively-once. Delivery rides
    the managed decode: a batch skipped as ``no-relation`` (its
    relations never announced a schema) delivers nothing — the outbox
    pattern always ships the business table's Relation frame alongside
    its messages.

    ``late_wm``: when set (≥ 0), frames at or below it are *late replays*
    under the monotone-delivery contract — they are counted per batch
    (``late_frames`` metric) inside the same metadata stats scan the
    batch already pays, excluded from every stat and from the decode, and
    never cost an extra job. The caller quarantines them if it wants the
    rows themselves (rare; only when the count is non-zero).

    ``kc_toast_passes``: >0 enables bounded-pass resolution of key-change
    UPDATEs carrying unchanged-TOAST cells (operators.kc_toast) — the
    decode output is then staged so the resolver's extra plan subtrees
    scan the cache instead of re-running the Python kernel. 0 (default)
    keeps the lighter plan and raises at runtime if the combination
    appears.

    Batch stats (watermark candidate, per-segment transaction bounds)
    come from the frame *metadata* columns — a scan that prunes the
    payload entirely when the source stamps ``mtype`` — so the expensive
    decode runs exactly once. With a single projection the decoded events
    stream straight into the LWW aggregation; with several (multiple
    relations or schema versions) the raw decode output is persisted so
    the Python kernel never re-runs per consumer.

    Two-phase commit (PG15+ ``two_phase``): a prepared transaction's
    body (Begin Prepare 'b' .. Prepare 'P') decodes like any B..C span,
    but its events must not merge until the DECISION — Commit Prepared
    'K' or Rollback Prepared 'r' — arrives, possibly micro-batches
    later. The tiny 2PC control cohort is planned driver-side (it rides
    the same metadata stats scan + fused aux lookup the truncate
    barrier uses): decided-in-batch transactions resolve inline (commit
    → re-stamp ``commit_ts_us`` from 'K' and merge; rollback → drop);
    undecided ones have their decoded events STAGED under
    ``pending_dir`` (cost ∝ prepared events, never table size) and the
    ``pending_2pc`` state — carried like ``open_tx`` and persisted in
    the same snapshot commit — resolves them when the decision lands.
    Late resolution stays exact because every merge is LSN-resolved
    (MOR ``max_by(lsn)``), and truncates committed while a transaction
    was pending void its staged events via the carried per-relation
    ``t_void`` floor (serial replay-by-LSN semantics). A Truncate
    INSIDE an open prepared span is refused loudly (its fate is
    unknown when the barrier is planned — same policy as in-stream
    Truncate).
    """
    single = isinstance(tables, LakeTable)
    table_map: Dict[int, LakeTable] = {relation_id: tables} if single else dict(tables)

    # ---- batch stats: one metadata-only scan, grouped by segment --------
    # (Truncate LSNs ride along as a collect_list over the lsn column, so
    # the rare T/B payload lookup below can prune by lsn — frames files
    # are LSN-sorted, so row-group stats skip everything else — instead
    # of re-reading the whole payload column on an mtype-only filter.
    # Two-phase control LSNs ride the same scan; 'b'/'P' additionally
    # count as span open/close for the open-transaction carry.)
    t_pred = _mtype_pred(frames, "T")
    b_pred, c_pred = _span_open_pred(frames), _span_close_pred(frames)
    p2_pred = _p2_pred(frames)
    r_pred = _r_pred(frames)
    # late-replay gate: R frames are schema (exempt); everything else at
    # or below late_wm is excluded from stats/decode but counted here
    gated = late_wm is not None and late_wm >= 0
    live = (F.col("lsn") > late_wm) if gated else F.lit(True)
    if pre_seg_rows is not None and not gated:
        seg_rows = pre_seg_rows
    else:
        aggs = _segment_stats_aggs(frames, skip_foreign_origins, live)
        seg_rows = frames.groupBy("segment").agg(*aggs).collect()
    late_frames = int(sum(r["n_late"] for r in seg_rows))
    # mid-stream DDL: merge the batch's R cohort into the caller's registry
    # — but only when the stats scan saw R frames, so the common DML-only
    # batch never pays the extra scan (streaming passes registry_merge=True
    # instead of running its own unconditional merge_frames job per batch)
    if registry_merge and registry is not None and any(r["n_r"] for r in seg_rows):
        registry.merge_frames(frames)
    seg_rows = [r for r in seg_rows if r["n"]]
    if not seg_rows:
        out = {
            "skipped": True, "reason": "empty",
            "open_tx": dict(open_tx or {}),
            "pending_2pc": pending_2pc or _empty_pending(),
            "late_frames": late_frames,
            "watermark_lsn": max(t.watermark_lsn for t in table_map.values()),
        }
        if skip_foreign_origins:
            out["open_foreign"] = sorted(open_foreign or ())
        return out
    watermark_lsn = max(r["max_lsn"] for r in seg_rows)
    lineage = {
        "lsn_range": [min(r["min_lsn"] for r in seg_rows), watermark_lsn],
        "segment_range": [
            int(min(r["segment"] for r in seg_rows)),
            int(max(r["segment"] for r in seg_rows)),
        ],
        "n_frames": int(sum(r["n"] for r in seg_rows)),
    }

    # ---- ONE fused auxiliary lookup for the rare payload-carrying frames:
    # Truncate payloads (relation-id lists) + the open transactions' Begin
    # payloads. Both cohorts are identified by exact LSN from the stats
    # scan, so the filter prunes at the parquet row-group level and the
    # whole thing is a single tiny job (zero jobs in the common case).
    carry: Dict[int, tuple] = dict(open_tx or {})
    for r in seg_rows:
        if r["b_lsn"] is not None or r["c_lsn"] is not None:
            carry.pop(int(r["segment"]), None)
    open_b_lsns = [
        r["b_lsn"]
        for r in seg_rows
        if r["b_lsn"] is not None
        and (r["c_lsn"] is None or r["b_lsn"] > r["c_lsn"])
    ]
    t_all_lsns = [lsn for r in seg_rows for lsn in (r["t_lsns"] or [])]
    p2_all_lsns = [lsn for r in seg_rows for lsn in (r["p2_lsns"] or [])]
    t_lsn_by_rid: Dict[int, int] = {}
    t_frames: list = []   # (segment, lsn) of live Truncate frames
    p2_rows: list = []    # (segment, lsn, decoded) of 2PC control frames
    if t_all_lsns or open_b_lsns or p2_all_lsns:
        if pre_aux_rows is not None:
            want = {*t_all_lsns, *open_b_lsns, *p2_all_lsns}
            aux = [r for r in pre_aux_rows if r["lsn"] in want]
        else:
            aux = (
                frames.filter(
                    F.col("lsn").isin([*t_all_lsns, *open_b_lsns, *p2_all_lsns])
                    & (t_pred | b_pred | p2_pred)
                )
                .select("segment", "lsn", "payload")
                .collect()
            )
        for row in aux:
            payload = bytes(row["payload"])
            first = payload[0:1]
            if first == b"T":
                decoded = _codec.decode_message(payload)
                t_frames.append((int(row["segment"]), int(row["lsn"])))
                for rid in decoded["relation_ids"]:
                    t_lsn_by_rid[rid] = max(t_lsn_by_rid.get(rid, -1), row["lsn"])
            elif first in (b"b", b"P", b"K", b"r", b"p"):
                m = _codec.decode_message(payload)
                p2_rows.append((int(row["segment"]), int(row["lsn"]), m))
                if first == b"b" and row["lsn"] in open_b_lsns:
                    carry[int(row["segment"])] = (
                        m["xid"], int(row["lsn"]), m["prepare_ts_us"]
                    )
            elif row["lsn"] in open_b_lsns:
                m = _codec.decode_message(payload)
                carry[int(row["segment"])] = (m["xid"], int(row["lsn"]), m["commit_ts_us"])

    # ---- foreign-origin span carry (skip_foreign_origins): a span still
    # open at batch end whose newest same-segment top-level 'O' follows
    # its 'B' is foreign — carried exactly like open_tx; a span cut
    # between B and O (carried span, O this batch) stays covered because
    # the carried segment has no B/C activity but an o_lsn.
    foreign_out: set = set(open_foreign or ())
    if skip_foreign_origins:
        for r in seg_rows:
            seg_i = int(r["segment"])
            has_span_activity = r["b_lsn"] is not None or r["c_lsn"] is not None
            span_open = r["b_lsn"] is not None and (
                r["c_lsn"] is None or r["b_lsn"] > r["c_lsn"]
            )
            o_l = r["o_lsn"]
            if has_span_activity:
                if span_open and o_l is not None and o_l > r["b_lsn"]:
                    foreign_out.add(seg_i)
                else:
                    foreign_out.discard(seg_i)
            elif o_l is not None and seg_i in carry:
                foreign_out.add(seg_i)

    # ---- two-phase planning: driver-side resolution of the tiny control
    # cohort (see docstring). All state is JSON-shaped for the snapshot.
    pend_state = pending_2pc or _empty_pending()
    pend_xids: Dict[str, dict] = {
        k: dict(v) for k, v in (pend_state.get("xids") or {}).items()
    }
    t_void: Dict[str, int] = {
        str(k): int(v) for k, v in (pend_state.get("t_void") or {}).items()
    }
    opened_now: Dict[int, dict] = {}
    commit_now: Dict[int, int] = {}
    rollback_now: set = set()
    p_seal: Dict[int, int] = {}
    for seg_, lsn_, m in sorted(p2_rows, key=lambda x: x[1]):
        mt, x = m["msg_type"], int(m["xid"])
        if mt == "b":
            opened_now[x] = {"gid": m["gid"], "b_lsn": lsn_,
                             "segment": seg_, "sealed": False}
        elif mt == "p":
            # Stream Prepare: a streamed transaction sealing as PREPARED
            # — opens AND seals in one frame (the stream machinery
            # buffered the body; decode released its events stamped with
            # the prepare timestamp). From here the xid is a prepared
            # transaction like any other: staged if undecided, resolved
            # by K/r. The zero-width span also keeps the truncate-span
            # check below inert (in-stream truncates are refused by the
            # stream decode itself).
            opened_now[x] = {"gid": m["gid"], "b_lsn": lsn_,
                             "segment": seg_, "sealed": True}
            p_seal[x] = lsn_
        elif mt == "P":
            if x in opened_now:
                opened_now[x]["sealed"] = True
            elif str(x) in pend_xids:
                pend_xids[str(x)]["sealed"] = True
            else:
                raise ValueError(
                    f"Prepare for unknown xid={x} at lsn={lsn_} "
                    "(no Begin Prepare in this stream or carried state)"
                )
            p_seal[x] = lsn_
        elif mt == "K":
            commit_now[x] = int(m["commit_ts_us"])
        else:  # 'r' Rollback Prepared
            rollback_now.add(x)
    twopc_active = bool(p2_rows or pend_xids)
    all_prepared: set = set()
    still_pending: set = set()
    stage_xids: list = []
    staged_commit: list = []
    excl: list = []
    if twopc_active:
        # resolve the staging dir BEFORE the validations below use it:
        # the unknown-xid check accepts a decided xid that is absent
        # from the carried state when its staged files survive on disk
        # (crash replay after one table's merge committed) — with the
        # default dir assigned only later, that re-resolution path
        # raised instead of reading the surviving stage
        if pending_dir is None:
            pending_dir = os.path.join(
                table_map[min(table_map)].meta_dir, "pending2pc"
            )
        all_prepared = {int(xs) for xs in pend_xids} | set(opened_now)
        still_pending = all_prepared - set(commit_now) - rollback_now
        # resolution reads staging for every decided xid whose 'b' is NOT
        # in this batch — deliberately independent of the carried state,
        # so a partially-committed batch (crash between two tables'
        # merges) re-resolves from the surviving staged files on replay
        # even though the committed table's state already dropped the xid
        staged_commit = sorted(x for x in commit_now if x not in opened_now)
        staged_rollback = sorted(x for x in rollback_now if x not in opened_now)
        # only spans alive in THIS batch can have decoded rows here:
        # carried-and-already-sealed xids' events live in staging only
        sealed_before = {
            int(xs) for xs, info in (pend_state.get("xids") or {}).items()
            if info.get("sealed")
        }
        stage_xids = sorted(x for x in still_pending if x not in sealed_before)
        excl = sorted(
            x for x in (still_pending | rollback_now) if x not in sealed_before
        )
        for x in staged_commit + staged_rollback:
            if str(x) not in pend_xids and not (
                pending_dir and os.path.isdir(pending_dir)
            ):
                raise ValueError(
                    f"two-phase decision for unknown xid={x} "
                    "(never prepared in this stream or carried state)"
                )
        for x in sorted(set(commit_now) | rollback_now):
            info = opened_now.get(x) or pend_xids.get(str(x))
            if info is not None and not info.get("sealed", False):
                raise ValueError(
                    f"two-phase decision for xid={x} before its Prepare"
                )
        # a Truncate INSIDE an open prepared span: its fate is unknown
        # when the barrier is planned — refuse loudly (in-stream-Truncate
        # policy). Spans open at batch start (carried, unsealed) extend
        # from -inf; spans sealed this batch end at their 'P' LSN.
        spans = []
        for x, info in opened_now.items():
            spans.append((int(info["segment"]), int(info["b_lsn"]),
                          p_seal.get(x, float("inf")), x))
        for xs, info in pend_xids.items():
            xi = int(xs)
            if xi in opened_now:
                continue
            if not info.get("sealed") or xi in p_seal:
                spans.append((int(info["segment"]), -1,
                              p_seal.get(xi, float("inf")), xi))
        for t_seg, t_lsn in t_frames:
            for s_seg, s_b, s_p, xi in spans:
                if t_seg == s_seg and s_b < t_lsn < s_p:
                    raise decode_op.UnsupportedStreamOp(
                        f"Truncate at lsn={t_lsn} inside the open prepared "
                        f"transaction xid={xi} is not supported"
                    )

    # outgoing 2PC carry — driver-side pure, computed BEFORE the decode
    # section so the no-relation skip path carries the batch's
    # transitions too (discarding them poisoned the next batch's
    # unknown-xid validation)
    next_pending = pend_state
    if twopc_active:
        nxids: Dict[str, dict] = {}
        for x in sorted(still_pending):
            info = opened_now.get(x) or pend_xids[str(x)]
            nxids[str(x)] = {
                "gid": info["gid"], "b_lsn": int(info["b_lsn"]),
                "segment": int(info["segment"]),
                "sealed": bool(info.get("sealed")),
            }
        nvoid: Dict[str, int] = {}
        if nxids:
            nvoid = dict(t_void)
            for rid, tl in t_lsn_by_rid.items():
                nvoid[str(rid)] = max(int(nvoid.get(str(rid), -1)), int(tl))
        next_pending = {"xids": nxids, "t_void": nvoid}

    # ---- pre-decode filter: drop DML made dead by a later same-relation
    # truncate (relation id read JVM-side from the payload header)
    eff_frames = frames
    if gated:
        eff_frames = frames.filter((F.col("lsn") > late_wm) | r_pred)
    if t_lsn_by_rid:
        keep_dml = _truncate_floor_expr(_RID_EXPR, t_lsn_by_rid)
        if "mtype" in frames.columns:
            eff_frames = eff_frames.filter(
                ~F.col("mtype").isin("I", "U", "D") | F.expr(keep_dml)
            )
        else:
            eff_frames = eff_frames.filter(
                F.expr("substring(payload, 1, 1) NOT IN (X'49', X'55', X'44')")
                | F.expr(keep_dml)
            )

    if registry is None:
        registry = RelationRegistry.from_frames(frames)

    # relations with a table AND a registered schema; others are skipped
    # with an explicit metric (never silently lost)
    managed = {
        rid: tbl for rid, tbl in table_map.items() if registry.versions(rid)
    }
    if not managed:
        if twopc_active and commit_now and _twopc_commit_evidence(
            frames, commit_now, opened_now, pend_xids, p_seal, pending_dir
        ):
            # a Commit Prepared decision with staged or in-batch DML
            # needs those events merged into a registered table — with
            # no relation schema known, proceeding would silently drop a
            # COMMITTED transaction. Fail loudly. A decision with NO
            # mergeable evidence (empty prepared transaction, or one
            # whose events never reached a managed relation) is consumed
            # exactly like the managed path consumes it: the xid already
            # left next_pending above, so retrying the batch cannot
            # wedge ingest on it. Openings/seals/rollbacks below carry
            # forward fine without a schema either way.
            raise ValueError(
                "two-phase Commit Prepared in a batch with no registered "
                f"relation (xids {sorted(commit_now)}): cannot resolve "
                "the staged transaction without a Relation schema"
            )
        out = {
            "skipped": True, "reason": "no-relation",
            "open_tx": carry,
            "pending_2pc": next_pending,
            "late_frames": late_frames,
            "watermark_lsn": max(t.watermark_lsn for t in table_map.values()),
        }
        if skip_foreign_origins:
            out["open_foreign"] = sorted(foreign_out)
        return out

    # stream-driven schema evolution (last-Relation-wins, reference
    # reader.py:222-243): align each table schema to the newest Relation
    # version LIVE within this batch's LSN span — adds/drops are
    # metadata-only commits, and they land with the batch that carries
    # the DDL, not eagerly from a registry that (in batch mode) already
    # knows the whole stream's future. The LSN-range pruning also keeps
    # a batch wholly on one side of a DDL at ONE projection — the
    # unstaged single-pass decode→LWW plan — instead of paying the
    # staged persist+materialize path for a version it cannot contain.
    lo_lsn, hi_lsn = lineage["lsn_range"]
    table_cols: Dict[int, tuple] = {}
    vs_by_rid: Dict[int, list] = {}
    n_projections = 0
    for rid, tbl in managed.items():
        vs = (
            registry.versions_in_range(rid, int(lo_lsn), int(hi_lsn))
            or registry.versions(rid)  # pathological: no live version — keep old behavior
        )
        vs_by_rid[rid] = vs
        snap = tbl.snapshot()
        keys = snap["key_cols"]
        # never evolve from a batch wholly at-or-below the table's
        # watermark: a redelivered pre-DDL span's newest LIVE version is
        # an OLD schema, and aligning to it would drop the evolved
        # column (and its data) from a table that has already moved on —
        # the merge below skips such a batch anyway. A batch with any
        # new frames (hi > watermark) always contains the newest version
        # at or before its hi, so forward evolution is unaffected.
        if int(hi_lsn) > tbl.watermark_lsn:
            evolve_to_relation(tbl, vs[-1], keys)
        snap = tbl.snapshot()
        table_cols[rid] = (
            keys, [n for n, _ in snap["schema"] if n not in keys], snap,
        )
        n_projections += len(vs)

    raw = decode_op.decode_frames_raw(
        eff_frames, registry, strict=strict, clustered=clustered,
        open_tx=open_tx, skip_foreign_origins=skip_foreign_origins,
        open_foreign=open_foreign, stream_spill_bytes=stream_spill_bytes,
    )

    # events for relations with a registered schema but no managed table
    # are dropped by project_relation's relation_id filter — count them
    # as an observed metric riding the merge job (never silently lost,
    # and never an extra action)
    from pyspark.sql import Observation

    unmanaged_rids = [r for r in registry.relation_ids() if r not in table_map]
    obs_unmanaged = None
    if unmanaged_rids:
        obs_unmanaged = Observation()
        raw = raw.observe(
            obs_unmanaged,
            *[
                F.count(F.when(F.col("relation_id") == r, 1)).alias(f"r{r}")
                for r in unmanaged_rids
            ],
        )
    # dead-letter count: with a quarantine dir we must know the count
    # before deciding to write, so it is an explicit (cache-materializing)
    # action; without one it rides the merge job as an observed metric
    obs_dead = None
    if not strict and not quarantine_dir:
        obs_dead = Observation()
        raw = raw.observe(
            obs_dead, F.count(F.when(F.col("op") == "E", 1)).alias("dead")
        )

    # stage the decode output when >1 action would re-run the Python
    # kernel: multiple relations / schema versions / kc-toast resolver
    # subtrees, or a quarantine dir (dead rows must be counted BEFORE
    # deciding to write them). Plain strict=False with no quarantine dir
    # counts dead letters as an observation riding the single merge job —
    # no second action, so no cache
    # two-phase persist rule: only a batch that actually STAGES has two
    # raw consumers (the staging write + the merges); marker/exclusion
    # filters and the staged-parquet union are streaming single-consumer
    # plan nodes that need no cache
    staged = (
        n_projections > 1
        or (not strict and quarantine_dir is not None)
        or kc_toast_passes > 0
        or messages_dir is not None
        or bool(stage_xids)
    )
    dead_letters = 0
    n_messages = 0
    try:
        if staged:
            raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
            if not strict and quarantine_dir:
                # ONE job: the quarantine write carries the dead-letter
                # count as an observed metric (and materializes the
                # cache); a batch with zero dead letters removes the
                # directory it just created so downstream probes keep
                # seeing "never quarantined"
                dead = raw.filter(F.col("op") == "E")
                dead_letters = _observed_write(
                    dead.select("segment", "lsn", "error"), quarantine_dir
                )
            elif n_projections > 1:
                raw.count()  # materialize once before the merge fan-out
            # (messages-only staging needs no explicit materializer: the
            # observed message write below is the first action over the
            # cache and populates it)

        # ---- two-phase staging and resolution (see docstring) ----------
        events_src = raw
        new_pending = pend_state
        two_metrics: dict = {}
        if twopc_active:
            markers = ("b", "P", "K", "r", "p")
            if p2_rows:
                events_src = events_src.filter(~F.col("op").isin(*markers))
            if excl:
                events_src = events_src.filter(
                    F.col("xid").isNull() | ~F.col("xid").isin(excl)
                )
            if staged_commit and os.path.isdir(pending_dir):
                spark = frames.sparkSession
                stg = (
                    spark.read.schema(decode_op.RAW_SCHEMA)
                    .parquet(pending_dir)
                    .filter(F.col("xid").isin(staged_commit))
                    # crash-replayed staging appends are exact duplicates;
                    # a DML event's identity is its LSN
                    .dropDuplicates(["lsn"])
                )
                if t_void:
                    stg = stg.filter(
                        F.expr(_truncate_floor_expr("relation_id", t_void))
                    )
                events_src = events_src.unionByName(stg)
            if commit_now:
                # stamp the true commit timestamp from 'K' onto the
                # resolved transactions' events (decode stamped the
                # prepare timestamp — all it could know)
                pairs: list = []
                for x, cts in commit_now.items():
                    pairs += [F.lit(int(x)).cast("bigint"),
                              F.lit(int(cts)).cast("bigint")]
                stamp = F.create_map(*pairs)
                events_src = events_src.withColumn(
                    "commit_ts_us",
                    F.coalesce(stamp[F.col("xid")], F.col("commit_ts_us")),
                )
            # stage this batch's events of still-undecided transactions;
            # cost ∝ prepared events. ONE job: the staging write carries
            # the row count as an observed metric (and materializes the
            # cache — staging is what forced the persist); an all-empty
            # stage removes the directory it just created so the
            # decided-xid validation keeps seeing "nothing ever staged"
            n_staged_rows = 0
            if stage_xids:
                pend_df = raw.filter(
                    F.col("xid").isin(stage_xids) & ~F.col("op").isin(*markers)
                )
                n_staged_rows = _observed_write(pend_df, pending_dir)
            new_pending = next_pending  # precomputed driver-side above
            two_metrics = {
                "prepared": sorted(all_prepared),
                "committed": sorted(commit_now),
                "rolled_back": sorted(rollback_now),
                "pending": sorted(still_pending),
                "staged_rows": int(n_staged_rows),
            }

        if messages_dir is not None:
            # outbox delivery: the decoded messages this batch surfaced
            # (transactional ones only if their transaction committed —
            # the kernels already dropped aborted streams' messages, and
            # the two-phase filter above holds back / releases prepared
            # transactions' messages with their events)
            msgs = events_src.filter(F.col("op") == "M").select(
                "segment", "lsn", "xid", "commit_ts_us",
                (F.col("before_kind") == "t").alias("transactional"),
                F.col("new_vals")[0].alias("prefix"),
                F.col("new_vals")[1].alias("content"),
            ).withColumn("batch_wm", F.lit(int(watermark_lsn)))
            # ONE job (scans the cache, not the kernel): count rides the
            # write as an observed metric; a message-free batch removes
            # the directory it just created, preserving the "writer
            # creates the sink on FIRST delivery" contract read_messages
            # relies on
            n_messages = _observed_write(msgs, messages_dir)

        out: dict = {
            "skipped": False,
            "watermark_lsn": watermark_lsn,
            "open_tx": carry,
            "pending_2pc": new_pending,
            "dead_letters": int(dead_letters),
            "late_frames": late_frames,
            "lineage": lineage,
            "relations": {},
        }
        if skip_foreign_origins:
            out["open_foreign"] = sorted(foreign_out)
        if twopc_active:
            out["two_phase"] = two_metrics
        if messages_dir is not None:
            out["messages"] = int(n_messages)
        base_cols = ["lsn", "op", "xid", "begin_lsn", "commit_ts_us"]

        def _merge_one(rid, tbl):
            keys, value_cols, tsnap = table_cols[rid]
            proj = project_all_versions(
                events_src, registry, rid, keys, value_cols, base_cols,
                versions=vs_by_rid[rid],
            )
            truncated = rid in t_lsn_by_rid
            if truncated:
                proj = proj.filter(F.col("lsn") > t_lsn_by_rid[rid])
            if kc_toast_passes > 0:
                from pypgoutput_spark.operators.kc_toast import resolve_kc_toast

                proj = resolve_kc_toast(
                    proj, None if truncated else tbl, keys, value_cols,
                    passes=kc_toast_passes,
                )
            proj = _explode_key_changes(
                proj, keys, value_cols, base_cols,
                guard_kc_toast=kc_toast_passes == 0,
            )
            bucketed_n = None
            if salt_buckets <= 1:
                # fused collapse+placement (lww.lww_changes_flat): cast
                # keys to the table types, bucket under the snapshot's
                # modulus, and let the LWW aggregate reuse the bucket
                # exchange — one shuffle per merge instead of two
                from pypgoutput_spark.lake.table import _bucket_col

                key_types = {n: t for n, t in tsnap["schema"] if n in keys}
                proj = proj.withColumns(
                    {k: F.col(k).cast(key_types[k]) for k in keys}
                )
                bexpr = _bucket_col(keys, tsnap["n_buckets"])
                changes = lww_changes_flat(
                    proj, keys, value_cols, bucket_expr=bexpr
                )
                bucketed_n = tsnap["n_buckets"]
            else:
                changes = lww_changes_flat(
                    proj, keys, value_cols, salt_buckets=salt_buckets
                )
            extra = {
                "lineage": lineage,
                "open_tx": _serialize_tx(carry),
                "dead_letters": int(dead_letters),
            }
            if skip_foreign_origins:
                extra["open_foreign"] = sorted(foreign_out)
            if twopc_active or (pending_2pc or {}).get("xids"):
                extra["pending_2pc"] = new_pending
            return merge_into(
                tbl, changes, watermark_lsn, truncate=truncated,
                extra_metrics=extra, bucketed=bucketed_n,
            )

        if len(managed) > 1:
            # independent tables, independent jobs: submit the merges
            # from a small thread pool so one table's write-stage tail
            # back-fills with the next table's tasks (guide §2.6) —
            # snapshots, staging dirs and commit locks are per table, and
            # the shared decode is already persisted+materialized
            # (n_projections > 1 forces the staged path above)
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(4, len(managed)),
                thread_name_prefix="relation-merge",
            ) as pool:
                futs = {
                    rid: pool.submit(_merge_one, rid, tbl)
                    for rid, tbl in managed.items()
                }
                for rid, fut in futs.items():
                    out["relations"][rid] = fut.result()
        else:
            for rid, tbl in managed.items():
                out["relations"][rid] = _merge_one(rid, tbl)
        # staging GC: with nothing pending any more, the staged files are
        # unreferenced (PG xids never recur). Strictly AFTER the merges:
        # a crash before the commits must leave the files for the replay.
        if twopc_active and not new_pending["xids"] and pending_dir \
                and os.path.isdir(pending_dir):
            shutil.rmtree(pending_dir, ignore_errors=True)
        # observations resolve only if some job actually ran over `raw`
        # (all-skipped batches never execute the decode — .get would block)
        ran_any = any(not m.get("skipped") for m in out["relations"].values())
        if not ran_any:
            obs_dead = obs_unmanaged = None
        if obs_dead is not None:
            dead_letters = int(obs_dead.get["dead"])
            out["dead_letters"] = dead_letters
            for m in out["relations"].values():
                if not m.get("skipped"):
                    m["dead_letters"] = dead_letters
        if obs_unmanaged is not None:
            got = obs_unmanaged.get
            out["unmanaged_relations"] = {
                r: int(got[f"r{r}"]) for r in unmanaged_rids if int(got[f"r{r}"])
            }
        if single:
            # back-compat: single-table callers see the merge metrics at
            # the top level (upserts/deletes/buckets_touched/...)
            out.update(out["relations"][relation_id])
        return out
    finally:
        if staged:
            raw.unpersist()


def run_ingest(
    spark,
    frames,
    tables: Union[LakeTable, Dict[int, LakeTable]],
    relation_id: int = RELATION_ID,
    n_batches: int = 1,
    salt_buckets: int = 0,
    strict: bool = True,
    clustered: bool = False,
    split: str = "segment",
    on_batch: Optional[Callable[[dict], None]] = None,
    quarantine_dir: Optional[str] = None,
    kc_toast_passes: int = 0,
    epoch_log=None,
    messages_dir: Optional[str] = None,
    skip_foreign_origins: bool = False,
    verify_continuity: bool = False,
    stream_spill_bytes: Optional[int] = None,
) -> List[dict]:
    """Replay a frames DataFrame into the table(s) in ``n_batches``
    micro-batches. ``split='segment'`` cuts on WAL-segment boundaries;
    ``split='lsn'`` cuts the raw LSN range evenly — cuts may then fall
    *inside* a transaction, which the open-transaction carry handles
    exactly (reference reader.py:182-193 semantics).

    Exactly-once: frames at or below the managed watermark are skipped;
    open-transaction state is restored from the last snapshot commit.

    ``verify_continuity``: run :func:`sources.frames.check_continuity`
    over the (unfiltered) frames first — a missing WAL segment or an
    overlapping segment span raises :class:`WalContinuityError` before
    any merge commits, instead of the watermark silently advancing past
    a hole (lost committed transactions).

    ``epoch_log``: a :class:`pypgoutput_spark.lake.epochs.EpochLog` —
    after every table's merge for a batch has committed, one epoch
    record pinning ``{relation_id: table_version}`` publishes
    atomically, giving consumers a cross-table-consistent read point
    per batch (per-table commits alone publish at different instants).
    """
    table_map = {relation_id: tables} if isinstance(tables, LakeTable) else dict(tables)
    watermark = min(t.watermark_lsn for t in table_map.values())
    if verify_continuity:
        # BEFORE the watermark cut: the watermark-containing segment
        # anchors the dense-segment chain across the resume point, so a
        # segment lost between the last applied batch and this one fails
        # here instead of silently advancing the watermark past it
        check_continuity(frames, after_lsn=watermark)
    frames_all = frames  # unfiltered: registry R cohort is resume-safe
    carry0 = stored_carry_state(table_map)  # one snapshot read per table
    open_tx = carry0["open_tx"]
    pending_2pc = carry0["pending_2pc"]
    open_foreign = carry0["open_foreign"] if skip_foreign_origins else set()
    if watermark >= 0:
        frames = frames.filter(F.col("lsn") > watermark)

    # ---- fused whole-ingest prescan (segment-cut batches, the default):
    # segments never split across segment-cut batches, so ONE per-segment
    # stats scan covers every batch, and ONE payload lookup collects the
    # registry ('R'), truncate ('T'), open-Begin and 2PC control cohorts
    # together. Per batch the driver then plans from sliced rows — zero
    # planning jobs per batch instead of two (stats + aux) plus the
    # per-ingest registry and bounds jobs. The lsn-cut path keeps the old
    # shape (a segment may straddle its batches).
    seg_rows_all: Optional[list] = None
    aux_rows: Optional[list] = None
    if split == "lsn" and n_batches > 1:
        registry = RelationRegistry.from_frames(frames_all)
        bounds = frames.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return _empty_replay(epoch_log, table_map, on_batch)
        lo, hi = int(bounds["lo"]), int(bounds["hi"])
        span = max(1, math.ceil((hi - lo + 1) / n_batches))
        batches = [
            (frames.filter(
                (F.col("lsn") >= lo + i * span) & (F.col("lsn") < lo + (i + 1) * span)
            ), None, None)
            for i in range(n_batches)
            if lo + i * span <= hi
        ]
    else:
        seg_rows_all = frames.groupBy("segment").agg(
            *_segment_stats_aggs(frames, skip_foreign_origins, F.lit(True))
        ).collect()
        if not seg_rows_all and n_batches > 1:
            return _empty_replay(epoch_log, table_map, on_batch)
        t_lsns = [l for r in seg_rows_all for l in (r["t_lsns"] or [])]
        p2_lsns = [l for r in seg_rows_all for l in (r["p2_lsns"] or [])]
        open_b = [
            r["b_lsn"] for r in seg_rows_all
            if r["b_lsn"] is not None
            and (r["c_lsn"] is None or r["b_lsn"] > r["c_lsn"])
        ]
        cohort = [*t_lsns, *open_b, *p2_lsns]
        pred = _r_pred(frames_all)
        if cohort:
            pred = pred | (
                F.col("lsn").isin(cohort)
                & (_mtype_pred(frames_all, "T") | _span_open_pred(frames_all)
                   | _p2_pred(frames_all))
            )
        has_mtype = "mtype" in frames_all.columns
        sel = ["segment", "lsn", "payload"] + (["mtype"] if has_mtype else [])
        aux_rows = frames_all.filter(pred).select(*sel).collect()
        if has_mtype:
            r_rows = [r for r in aux_rows if r["mtype"] in ("R", "r")]
        else:
            r_rows = [
                {"lsn": r["lsn"], "mtype": "R", "payload": r["payload"]}
                for r in aux_rows if bytes(r["payload"])[:1] == b"R"
            ]
        registry = RelationRegistry()
        registry.merge_rows(r_rows)
        if n_batches <= 1:
            batches = [(frames, None, None)]
        else:
            lo = min(int(r["segment"]) for r in seg_rows_all)
            hi = max(int(r["segment"]) for r in seg_rows_all)
            span = max(1, math.ceil((hi - lo + 1) / n_batches))
            batches = [
                (frames.filter(
                    (F.col("segment") >= lo + i * span)
                    & (F.col("segment") < lo + (i + 1) * span)
                ), lo + i * span, lo + (i + 1) * span)
                for i in range(n_batches)
                if lo + i * span <= hi
            ]

    out = []
    for batch_frames, lo_b, hi_b in batches:
        if seg_rows_all is not None:
            seg_slice = (
                seg_rows_all if lo_b is None
                else [r for r in seg_rows_all if lo_b <= int(r["segment"]) < hi_b]
            )
            pre_kw = {"pre_seg_rows": seg_slice, "pre_aux_rows": aux_rows}
        else:
            pre_kw = {}
        metrics = apply_frames_batch(
            tables, batch_frames, registry, relation_id,
            salt_buckets=salt_buckets, strict=strict, clustered=clustered,
            open_tx=open_tx, quarantine_dir=quarantine_dir,
            kc_toast_passes=kc_toast_passes, messages_dir=messages_dir,
            pending_2pc=pending_2pc,
            skip_foreign_origins=skip_foreign_origins,
            open_foreign=open_foreign,
            stream_spill_bytes=stream_spill_bytes,
            **pre_kw,
        )
        open_tx = metrics.get("open_tx", {})
        pending_2pc = metrics.get("pending_2pc", pending_2pc)
        if skip_foreign_origins:
            open_foreign = set(metrics.get("open_foreign", []))
        if epoch_log is not None:
            metrics["epoch"] = _publish_epoch(epoch_log, table_map, metrics)
        out.append(metrics)
        if on_batch:
            on_batch(metrics)
    return out


def _is_missing_path_exc(exc) -> bool:
    """Missing-input-path spellings vary across Spark builds: error
    class ``PATH_NOT_FOUND`` (4.x), message "Path does not exist" (3.x
    and some vendor builds). Prefer the structured error class; fall
    back to the message only when no class is attached."""
    err_cls = None
    get_cls = getattr(exc, "getCondition", None)  # 4.x name
    if not callable(get_cls):
        get_cls = getattr(exc, "getErrorClass", None)  # pre-4.x name
    if callable(get_cls):
        try:
            err_cls = get_cls()
        except Exception:  # noqa: BLE001 — some builds raise here
            err_cls = None
    if err_cls is not None:
        return err_cls == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)


def read_messages(spark, messages_dir: str):
    """The outbox-consumer read over a ``messages_dir`` sink: collapses
    crash-replay duplicates exactly (a message's identity is its LSN —
    replays carry identical payload, so any-row-per-LSN is exact) and
    returns delivered messages ordered-ready on
    (segment, lsn, xid, commit_ts_us, transactional, prefix, content).

    One dropDuplicates shuffle over the message volume — messages are a
    vanishing fraction of WAL traffic, so this never approaches the
    table-merge cost.

    A sink that never delivered a message has no directory yet (the
    writer creates it on first delivery): a polling consumer gets an
    EMPTY typed frame, not PATH_NOT_FOUND. Caught from the read (not an
    os.path probe) so object-store sink URIs behave identically."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(messages_dir)
    except AnalysisException as exc:
        if not _is_missing_path_exc(exc):
            raise
        return spark.createDataFrame(
            [],
            schema="segment BIGINT, lsn BIGINT, xid BIGINT, "
                   "commit_ts_us BIGINT, transactional BOOLEAN, "
                   "prefix STRING, content STRING",
        )
    return df.dropDuplicates(["lsn"]).drop("batch_wm")


def lag_report(frames, tables: Union[LakeTable, Dict[int, LakeTable]],
               relation_id: int = RELATION_ID) -> Dict[int, dict]:
    """Replication-lag observability: how far each mirror's applied
    watermark trails the spool (the applied/flushed split a real
    deployment alarms on — the reference surfaces only the socket-level
    flush ack, reader.py:268-283; once frames land durably the question
    becomes *applied* lag, which only the sink side can answer).

    ONE metadata-only aggregate over the spool (payload pruned — at
    100 TB this scans two int64 columns): global max lsn + per-segment
    max, then per table: lsn_lag (spool head − watermark),
    segments_pending / frames_pending (strictly above the watermark).
    Nothing proportional to frame count reaches the driver.

    Returns {relation_id: {watermark_lsn, spool_max_lsn, lsn_lag,
    segments_pending, frames_pending}} — lag 0 ≡ fully applied.
    """
    table_map = {relation_id: tables} if isinstance(tables, LakeTable) \
        else dict(tables)
    wms = {rid: t.watermark_lsn for rid, t in table_map.items()}
    wm_set = sorted(set(wms.values()))
    # frames_pending counts per-FRAME lsn > wm inside the same map-side-
    # combining pass (a watermark mid-segment — split='lsn', streaming
    # restarts — must not inflate the count with that segment's
    # already-applied frames; the contract says STRICTLY above)
    per_seg = frames.groupBy("segment").agg(
        F.max("lsn").alias("hi"),
        *[F.sum(F.when(F.col("lsn") > wm, 1).otherwise(0)).alias(f"np_{wm}")
          for wm in wm_set],
    )
    # one conditional-aggregate row covering every distinct watermark —
    # the per-segment relation never leaves the executors
    aggs = [F.max("hi").alias("spool_max")]
    for wm in wm_set:
        aggs.append(F.sum(F.when(F.col("hi") > wm, 1).otherwise(0))
                    .alias(f"segs_{wm}"))
        aggs.append(F.sum(f"np_{wm}").alias(f"frames_{wm}"))
    row = per_seg.agg(*aggs).collect()[0]
    spool_max = row["spool_max"] if row["spool_max"] is not None else -1
    out = {}
    for rid, wm in wms.items():
        out[rid] = {
            "watermark_lsn": wm,
            "spool_max_lsn": spool_max,
            "lsn_lag": max(0, spool_max - wm),
            "segments_pending": int(row[f"segs_{wm}"] or 0),
            "frames_pending": int(row[f"frames_{wm}"] or 0),
        }
    return out


def _empty_replay(epoch_log, table_map, on_batch) -> List[dict]:
    """A fully-replayed run (every frame at or below the watermark): no
    batches to apply, but the epoch log must still heal — a crash
    between the last merge and the epoch publish otherwise leaves
    CURRENT one batch stale FOREVER on this path (the n_batches=1 path
    already heals through apply_frames_batch's skip metrics). The
    caller's ``on_batch`` observes the healed epoch like any other."""
    if epoch_log is None:
        return []
    m = {"skipped": True, "reason": "empty"}
    m["epoch"] = _publish_epoch(epoch_log, table_map, m)
    if on_batch:
        on_batch(m)
    return [m]


def _publish_epoch(epoch_log, table_map, metrics: dict) -> int:
    """One atomic cross-table consistency record per batch (epochs.py).

    EVERY managed table is pinned — including tables the batch carried
    no frames (or even no 'R') for: a consumer joining the mirrors must
    still see them at a consistent version, and a skipped merge simply
    left its table at the current snapshot (so a replayed batch
    re-publishes identical versions)."""
    rel_metrics = metrics.get("relations") or {}
    versions = {
        rid: rel_metrics.get(rid, {}).get("version", table_map[rid].current_version())
        for rid in table_map
    }
    wm = metrics.get("watermark_lsn")
    if wm is None:
        wm = max(t.watermark_lsn for t in table_map.values())
    return epoch_log.publish(versions, wm)


def stream_ingest(
    spark,
    frames_dir: str,
    table: Union[LakeTable, Dict[int, LakeTable]],
    checkpoint_dir: str,
    relation_id: int = RELATION_ID,
    max_files_per_trigger: int = 8,
    trigger: Optional[dict] = None,
    quarantine_dir: Optional[str] = None,
    on_batch: Optional[Callable[[dict], None]] = None,
    kc_toast_passes: int = 0,
    clustered: bool = False,
    epoch_log=None,
    messages_dir: Optional[str] = None,
    skip_foreign_origins: bool = False,
    stream_spill_bytes: Optional[int] = None,
):
    """Structured-Streaming variant: parquet frame files → foreachBatch merge.

    ``epoch_log``: as in :func:`run_ingest` — one atomic cross-table
    consistency record per micro-batch, published after all merges land.

    ``clustered=True`` declares that each frame FILE contains only whole
    WAL segments (true for a receiver that rolls files on segment
    boundaries, and for segment-chunked materializers) AND that files are
    small enough that the source does not split them
    (``spark.sql.files.maxPartitionBytes``) — the decode then skips the
    per-batch repartition-by-segment shuffle entirely (see
    ``decode_frames_raw``). Leave False for arbitrary file layouts.

    The lake commit is idempotent on watermark_lsn, so together with the
    stream checkpoint this is exactly-once end-to-end. Returns the
    StreamingQuery (caller awaits/stops). ``trigger`` defaults to
    ``{"availableNow": True}``; pass e.g. ``{"processingTime": "1 second"}``
    for a continuous micro-batch loop (reference consume_stream analog,
    reader.py:334-390).

    Schema evolution mid-stream: each micro-batch's 'R' frames are merged
    into the registry before decode (an R landing mid-stream re-versions
    its relation, last-Relation-wins — reader.py:222-243).

    Late / out-of-order frame files: frames at or below the managed
    watermark are replays under the monotone-delivery contract and are
    skipped idempotently — but they are *counted* (``late_frames``) and,
    with ``quarantine_dir``, persisted for audit, so a contract violation
    (novel old frames) is observable rather than silently dropped.
    """
    from pypgoutput_spark.wal.generator import FRAMES_SCHEMA

    table_map = {relation_id: table} if isinstance(table, LakeTable) else dict(table)

    frames_stream = (
        spark.readStream.schema(FRAMES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(frames_dir)
    )
    # RESTART SAFETY (ADVICE r2): seed the registry from a static read of
    # the whole frame directory. On a checkpoint restart the stream never
    # redelivers already-processed files, so the original 'R' frames would
    # otherwise be lost and DML-only batches silently skipped
    # (reason=no-relation) while the file-source checkpoint advanced. The
    # static read is an mtype-pushed scan collecting only the tiny R
    # cohort; per-batch merge_frames below still picks up mid-stream DDL.
    registry = RelationRegistry()
    try:
        registry.merge_frames(spark.read.schema(FRAMES_SCHEMA).parquet(frames_dir))
    except Exception:  # noqa: BLE001 — empty/not-yet-created dir: stream-seeded
        pass
    state = stored_carry_state(table_map)  # one snapshot read per table

    def _apply(batch_df, batch_id: int) -> None:
        # mid-stream R frames merge into the registry inside
        # apply_frames_batch (registry_merge=True), gated on the R-count
        # that rides its metadata stats scan — DML-only batches pay no
        # extra job for schema-evolution readiness
        wm = min(t.watermark_lsn for t in table_map.values())
        # late-replay frames (lsn ≤ watermark, non-R) are counted inside
        # apply_frames_batch's metadata stats scan — zero extra jobs; the
        # quarantine write below runs only when the count is non-zero
        m = apply_frames_batch(
            table_map, batch_df, registry, relation_id, strict=False,
            clustered=clustered, open_tx=state["open_tx"],
            quarantine_dir=quarantine_dir, kc_toast_passes=kc_toast_passes,
            late_wm=wm, registry_merge=True, messages_dir=messages_dir,
            pending_2pc=state["pending_2pc"],
            skip_foreign_origins=skip_foreign_origins,
            open_foreign=state["open_foreign"],
            stream_spill_bytes=stream_spill_bytes,
        )
        n_late = m.get("late_frames", 0)
        if n_late:
            state["late_frames"] = state.get("late_frames", 0) + n_late
            if quarantine_dir:
                batch_df.filter(
                    (F.col("lsn") <= wm) & ~_r_pred(batch_df)
                ).write.mode("append").parquet(quarantine_dir + "/late_frames")
        state["open_tx"] = m.get("open_tx", {})
        state["pending_2pc"] = m.get("pending_2pc", state["pending_2pc"])
        if skip_foreign_origins:
            state["open_foreign"] = set(m.get("open_foreign", []))
        m["late_frames"] = state.get("late_frames", 0)
        if epoch_log is not None:
            m["epoch"] = _publish_epoch(epoch_log, table_map, m)
        if on_batch:
            on_batch(m)

    writer = frames_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    trig = trigger or {"availableNow": True}
    return writer.trigger(**trig).start()

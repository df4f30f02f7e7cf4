"""Zone maps: manifest-carried per-directory min/max stats + scan pruning.

``props["stats_cols"]`` makes every commit record min/max of the named
columns per staged directory (base AND delta — the Iceberg manifest
column-stats analog); ``LakeTable.scan(ranges)`` prunes directories
driver-side before any file opens. These tests pin:

  - correctness: scan ≡ read().filter for MOR tables with updates
    (dirty buckets resolve in FULL — value pruning before LWW would
    surface stale rows; the stale-row trap is tested explicitly);
  - pruning: on an ``append_only`` table, a disjoint-range scan opens
    ONLY the matching commit's files (asserted via inputFiles);
  - all-NULL directories prune; missing stats / legacy tables never
    prune; stats maps shrink with the referenced file set;
  - ``sort_cols`` pushes the range to the parquet reader (PushedFilters);
  - the bucket writer computes every stats domain (num, dec, iso, str)
    exactly as Spark orders it, NaN included, at no extra Spark job.
"""

from __future__ import annotations

import decimal
import json

from pypgoutput_spark.lake.table import LakeTable, _zones_may_match
from pypgoutput_spark.operators.merge import merge_into


def _mk(spark, tmp_path, name, props=None):
    return LakeTable.create(
        spark, str(tmp_path / name),
        schema=[("k", "string"), ("ts", "bigint"), ("name", "string")],
        key_cols=["k"], n_buckets=4, props=props,
    )


def _changes(spark, rows):
    """rows: (k, final_op, max_lsn, ts or None, name or None) — values
    carried as wire text in r_<col> structs (NULL struct only for the
    explicit None-marker forms below, not used here)."""
    data = [
        (k, op, lsn,
         {"v": str(ts)} if ts is not None else {"v": None},
         {"v": name} if name is not None else {"v": None})
        for k, op, lsn, ts, name in rows
    ]
    return spark.createDataFrame(
        data,
        schema="k STRING, final_op STRING, max_lsn BIGINT, "
               "r_ts STRUCT<v: STRING>, r_name STRUCT<v: STRING>",
    )


def _local(uri):
    """file:///tmp/x → /tmp/x (inputFiles returns URIs)."""
    return uri.split("://", 1)[-1] if "://" in uri else uri


def _rows(df):
    return sorted((r["k"], r["ts"], r["name"]) for r in df.collect())


def test_scan_equals_filtered_read_with_updates(spark, tmp_path):
    """MOR table with cross-commit updates: scan must resolve dirty
    buckets in full — a key whose latest version moved OUT of the range
    must not surface with its stale in-range value."""
    t = _mk(spark, tmp_path, "lake", props={"stats_cols": ["ts", "name"]})
    merge_into(t, _changes(spark, [
        (f"k{i}", "I", 10 + i, i, f"n{i}") for i in range(20)
    ]), watermark_lsn=100, auto_compact=False)
    # k3 moves from ts=3 to ts=1003; k4 is deleted; k50 is new at ts=7
    upd = _changes(spark, [
        ("k3", "U", 210, 1003, "n3b"),
        ("k50", "I", 211, 7, "n50"),
    ]).unionByName(spark.createDataFrame(
        [("k4", "D", 212, None, None)],
        schema="k STRING, final_op STRING, max_lsn BIGINT, "
               "r_ts STRUCT<v: STRING>, r_name STRUCT<v: STRING>",
    ))
    merge_into(t, upd, watermark_lsn=300, auto_compact=False)

    for rng in [(0, 10), (1000, None), (None, 3), (4, 4)]:
        got = _rows(t.scan({"ts": rng}))
        lo, hi = rng
        cond = []
        if lo is not None:
            cond.append(f"ts >= {lo}")
        if hi is not None:
            cond.append(f"ts <= {hi}")
        want = _rows(t.read().filter(" AND ".join(cond)))
        assert got == want, f"range {rng}: {got} != {want}"
    # the stale-row trap explicitly: k3's old version (ts=3) is in range,
    # its current version (1003) is not — k3 must be absent
    assert not [r for r in _rows(t.scan({"ts": (0, 10)})) if r[0] == "k3"]
    # the deleted key never surfaces
    assert not [r for r in _rows(t.scan({"ts": (0, 10000)})) if r[0] == "k4"]


def test_append_only_scan_prunes_to_matching_commit(spark, tmp_path):
    """Append-only mirror, two commits with disjoint ts ranges: a scan
    of the second range must open ONLY the second commit's delta files
    — base dirs and stats-mismatched delta dirs prune driver-side."""
    t = _mk(spark, tmp_path, "lake_ao", props={
        "stats_cols": ["ts"], "append_only": True,
    })
    merge_into(t, _changes(spark, [
        (f"a{i}", "I", 10 + i, i, f"n{i}") for i in range(20)       # ts 0..19
    ]), watermark_lsn=100, auto_compact=False)
    merge_into(t, _changes(spark, [
        (f"b{i}", "I", 210 + i, 1000 + i, f"m{i}") for i in range(20)  # ts 1000..1019
    ]), watermark_lsn=300, auto_compact=False)
    snap = t.snapshot()
    assert snap["deltas"], "precondition: second commit landed as MOR deltas"
    delta_dirs = {d for dd in snap["deltas"].values() for d in dd}
    assert all(d in snap["dir_stats"] for dd in snap["buckets"].values() for d in dd)
    assert all(d in snap["dir_stats"] for d in delta_dirs)

    hot = t.scan({"ts": (1000, None)})
    assert _rows(hot) == sorted((f"b{i}", 1000 + i, f"m{i}") for i in range(20))
    opened = set(hot.inputFiles())
    assert opened, "scan read something"
    for f in opened:
        assert any(_local(f).startswith(d) for d in delta_dirs), \
            f"base file opened despite disjoint stats: {f}"

    cold = t.scan({"ts": (None, 19)})
    assert _rows(cold) == sorted((f"a{i}", i, f"n{i}") for i in range(20))
    for f in cold.inputFiles():
        assert not any(_local(f).startswith(d) for d in delta_dirs), \
            f"delta file opened despite disjoint stats: {f}"

    # a range spanning both reads both and equals the full filtered read
    both = t.scan({"ts": (10, 1005)})
    assert _rows(both) == _rows(t.read().filter("ts >= 10 AND ts <= 1005"))


def test_all_null_dir_prunes_and_legacy_table_never_prunes(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake_null", props={"stats_cols": ["ts"]})
    merge_into(t, _changes(spark, [
        (f"k{i}", "I", 10 + i, None, f"n{i}") for i in range(8)  # ts all NULL
    ]), watermark_lsn=100, auto_compact=False)
    got = t.scan({"ts": (0, 10**9)})
    assert got.count() == 0
    assert not got.inputFiles(), "all-NULL dirs must prune driver-side"
    # rows still visible to an unranged read
    assert t.read().count() == 8

    # legacy table (no stats_cols): scan still correct, nothing pruned
    t2 = _mk(spark, tmp_path, "lake_legacy")
    merge_into(t2, _changes(spark, [
        (f"k{i}", "I", 10 + i, i, f"n{i}") for i in range(8)
    ]), watermark_lsn=100, auto_compact=False)
    assert t2.snapshot().get("dir_stats", {}) == {}
    assert _rows(t2.scan({"ts": (2, 5)})) == _rows(t2.read().filter("ts BETWEEN 2 AND 5"))


def test_zone_compare_is_conservative():
    ct = {"ts": "bigint", "name": "string"}
    # disjoint → prune
    assert not _zones_may_match({"ts": [0, 9]}, {"ts": (10, None)}, ct)
    assert not _zones_may_match({"ts": [100, 200]}, {"ts": (None, 99)}, ct)
    # touching boundary (inclusive) → keep
    assert _zones_may_match({"ts": [0, 10]}, {"ts": (10, None)}, ct)
    # missing stats for the column → keep
    assert _zones_may_match({"name": ["a", "b"]}, {"ts": (10, None)}, ct)
    # no entry at all → keep
    assert _zones_may_match(None, {"ts": (10, None)}, ct)
    # all-NULL → prune (a range never matches NULL)
    assert not _zones_may_match({"ts": [None, None]}, {"ts": (10, None)}, ct)
    # incomparable bound (string bound on bigint stats) → keep
    assert _zones_may_match({"ts": [0, 9]}, {"ts": ("x", None)}, ct)
    # string domain compares lexicographically
    assert not _zones_may_match({"name": ["aa", "am"]}, {"name": ("b", None)}, ct)
    assert _zones_may_match({"name": ["aa", "bm"]}, {"name": ("b", None)}, ct)


def test_stats_pruned_with_referenced_dirs_and_compaction_refreshes(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake_gc", props={"stats_cols": ["ts"]})
    merge_into(t, _changes(spark, [
        (f"k{i}", "I", 10 + i, i, f"n{i}") for i in range(12)
    ]), watermark_lsn=100, auto_compact=False)
    merge_into(t, _changes(spark, [
        (f"k{i}", "U", 210 + i, 500 + i, f"u{i}") for i in range(12)
    ]), watermark_lsn=300, auto_compact=False)
    t.compact()
    snap = t.snapshot()
    referenced = {d for dd in snap["buckets"].values() for d in dd}
    referenced |= {d for dd in snap.get("deltas", {}).values() for d in dd}
    assert set(snap["dir_stats"]) <= referenced
    assert set(snap["dir_stats"]) == referenced, "compacted base dirs re-stated"
    # post-compaction stats reflect the RESOLVED values (updates won)
    for st in snap["dir_stats"].values():
        mn, mx = st["ts"]
        assert mn >= 500 and mx <= 511
    assert _rows(t.scan({"ts": (505, 507)})) == _rows(
        t.read().filter("ts BETWEEN 505 AND 507"))


def test_sort_cols_push_range_to_parquet_reader(spark, tmp_path):
    t = _mk(spark, tmp_path, "lake_sorted", props={
        "stats_cols": ["ts"], "sort_cols": ["ts"],
    })
    merge_into(t, _changes(spark, [
        (f"k{i}", "I", 10 + i, i, f"n{i}") for i in range(40)
    ]), watermark_lsn=100, auto_compact=False)
    df = t.scan({"ts": (5, 9)})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts,5)" in plan, plan
    assert _rows(df) == sorted((f"k{i}", i, f"n{i}") for i in range(5, 10))


def test_zone_iso_domain_compares_datetimes_not_strings():
    """Timestamp stats are stored as isoformat ('T' separator) while
    callers pass SQL spellings (space separator, date-only): comparing
    them lexicographically falsely pruned directories that DO contain
    matching rows. The iso domain now compares real datetimes."""
    ct = {"ts": "timestamp"}
    stats = {"ts": ["2024-06-15T10:00:00", "2024-06-15T12:00:00"]}
    # SQL-spelled bounds that cover the whole directory: must keep
    assert _zones_may_match(
        stats, {"ts": ("2024-06-15 00:00:00", "2024-06-15 23:59:59")}, ct)
    # date-only hi bound = midnight; a dir whose min IS midnight matches
    assert _zones_may_match(
        {"ts": ["2024-06-15T00:00:00", "2024-06-15T08:00:00"]},
        {"ts": (None, "2024-06-15")}, ct)
    # genuinely disjoint ranges still prune across spellings
    assert not _zones_may_match(
        stats, {"ts": ("2024-06-16 00:00:00", None)}, ct)
    assert not _zones_may_match(
        stats, {"ts": (None, "2024-06-14")}, ct)
    import datetime as _dt
    # datetime.date bound vs datetime stat: same domain, no false prune
    assert _zones_may_match(
        {"ts": ["2024-06-15T00:00:00", "2024-06-15T08:00:00"]},
        {"ts": (None, _dt.date(2024, 6, 15))}, ct)
    # unparseable bound: conservative keep
    assert _zones_may_match(stats, {"ts": ("not-a-date", None)}, ct)


def test_scan_with_sql_spelled_timestamp_bounds(spark, tmp_path):
    """End to end: scan() over a timestamp stats column with SQL-spelled
    string bounds returns exactly the filtered read (no silently
    missing rows from spelling-sensitive pruning — stored stats use
    isoformat's 'T' separator, the bounds use spaces)."""
    t = LakeTable.create(
        spark, str(tmp_path / "lk"),
        schema=[("k", "string"), ("ts", "timestamp"), ("v", "string")],
        key_cols=["k"], n_buckets=4, props={"stats_cols": ["ts"]},
    )
    rows = [(f"k{i:02d}", "I", 10 + i,
             {"v": f"2024-06-{10 + i % 5:02d} 0{i % 9}:00:00"},
             {"v": f"v{i}"}) for i in range(40)]
    changes = spark.createDataFrame(
        rows, schema="k STRING, final_op STRING, max_lsn BIGINT, "
                     "r_ts STRUCT<v: STRING>, r_v STRUCT<v: STRING>")
    merge_into(t, changes, watermark_lsn=100, auto_compact=False)
    lo, hi = "2024-06-11 00:00:00", "2024-06-12 23:59:59"
    got = sorted(r["k"] for r in t.scan({"ts": (lo, hi)}).collect())
    want = sorted(
        r["k"] for r in t.read()
        .filter(f"ts >= '{lo}' and ts <= '{hi}'").collect())
    assert got == want and len(want) > 0


#: typed zone-map table: one column per stats domain (num, dec, iso, str)
_TYPED_SCHEMA = [("k", "string"), ("name", "string"), ("i", "bigint"),
                 ("x", "double"), ("d", "decimal(10,2)"), ("ts", "timestamp"),
                 ("dt", "date")]
_TYPED_VALUES = [c for c, _ in _TYPED_SCHEMA if c != "k"]


def _typed_changes(spark, rows):
    """rows: (k, final_op, max_lsn, {col: wire text or None}); a column
    absent from the dict is not carried (NULL struct, TOAST-unchanged)."""
    data = [
        (k, op, lsn, *[({"v": vals[c]} if c in vals else None)
                       for c in _TYPED_VALUES])
        for k, op, lsn, vals in rows
    ]
    return spark.createDataFrame(
        data,
        schema="k STRING, final_op STRING, max_lsn BIGINT, " + ", ".join(
            f"r_{c} STRUCT<v: STRING>" for c in _TYPED_VALUES),
    )


def _assert_stats(snap, kind, want):
    """The stats entry of every ``kind`` dir ("buckets" or "deltas"),
    by bucket, equals ``want`` — compared as canonical JSON so NaN
    equals NaN."""
    got = {b: snap["dir_stats"][d]
           for b, dd in snap.get(kind, {}).items() for d in dd}
    assert sum(len(dd) for dd in snap.get(kind, {}).values()) == len(got)
    assert json.dumps(got, sort_keys=True) == json.dumps(want, sort_keys=True)


def _assert_scan_equals_filtered_read(t, ranges):
    from pyspark.sql import functions as F

    for c, (lo, hi) in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
        got = sorted(r["k"] for r in t.scan({c: (lo, hi)}).collect())
        want = sorted(r["k"] for r in t.read().filter(cond).collect())
        assert got == want, f"{c} in [{lo}, {hi}]: scan {got} != read {want}"


def test_write_time_stats_equal_stats_job(spark, tmp_path):
    """The bucket writer records every stats domain (num, dec, iso, str)
    for base (plain column) and delta (``r_<col>.v`` cast to the table
    type) writes, and compaction re-states the rewritten base. The
    expected entries are the values the former post-write Spark stats
    job recorded for the same writes, pinned literally. Two traps:

      - NaN: Spark orders NaN above every number, so a directory holding
        a NaN has max NaN and an all-NaN directory [NaN, NaN] — arrow's
        NaN-skipping min_max would prune them and drop rows that
        ``read().filter("x >= 5.0")`` returns;
      - a timestamp with an offset is stored as naive session-zone (UTC)
        wall time, the spelling scan bounds are compared in.
    """
    nan = float("nan")
    t = LakeTable.create(
        spark, str(tmp_path / "wt"), schema=_TYPED_SCHEMA,
        key_cols=["k"], n_buckets=2, props={"stats_cols": _TYPED_VALUES},
    )
    # bucket 0: a, c, d — bucket 1: b, e, i
    merge_into(t, _typed_changes(spark, [
        ("a", "I", 10, {"name": "mango", "i": "5", "x": "1.5", "d": "10.25",
                        "ts": "2024-06-10 08:00:00", "dt": "2024-06-10"}),
        ("c", "I", 10, {"name": None, "i": "-7", "x": "NaN", "d": "-3.10",
                        "ts": "2024-06-11 02:00:00+02", "dt": "2024-01-31"}),
        ("d", "I", 10, {"name": "kiwi", "i": None, "x": None, "d": None,
                        "ts": None, "dt": None}),
        ("b", "I", 10, {"name": "apple", "i": "100", "x": "7.25",
                        "d": "99999999.99", "ts": "2024-06-12 23:59:59.5",
                        "dt": "2024-06-12"}),
        ("e", "I", 10, {"name": "fig", "i": "9007199254740993", "x": "-0.5",
                        "d": "0.01", "ts": "2024-06-09 00:00:00",
                        "dt": "2023-12-31"}),
        ("i", "I", 10, {"name": "plum", "i": "3", "x": "2.0", "d": "1.00",
                        "ts": "2024-06-09 12:00:00", "dt": "2024-02-29"}),
    ]), watermark_lsn=10)
    snap = t.snapshot()
    _assert_stats(snap, "buckets", {
        "0": {"name": ["kiwi", "mango"], "i": [-7, 5], "x": [1.5, nan],
              "d": ["-3.10", "10.25"], "dt": ["2024-01-31", "2024-06-10"],
              "ts": ["2024-06-10T08:00:00", "2024-06-11T00:00:00"]},
        "1": {"name": ["apple", "plum"], "i": [3, 9007199254740993],
              "x": [-0.5, 7.25], "d": ["0.01", "99999999.99"],
              "dt": ["2023-12-31", "2024-06-12"],
              "ts": ["2024-06-09T00:00:00", "2024-06-12T23:59:59.500000"]},
    })
    ranges = [
        ("i", (None, 0)), ("i", (6, None)), ("i", (9007199254740993, None)),
        ("x", (5.0, None)), ("x", (None, 2.0)), ("x", (1.5, 1.5)),
        ("d", (decimal.Decimal("10.25"), None)),
        ("d", (None, decimal.Decimal("0.01"))),
        ("ts", ("2024-06-11 00:00:00", "2024-06-11 00:00:00")),
        ("ts", ("2024-06-12 00:00:00", None)),
        ("dt", ("2024-06-01", None)), ("dt", (None, "2024-01-31")),
        ("name", ("zz", None)), ("name", ("m", "n")),
    ]
    _assert_scan_equals_filtered_read(t, ranges)

    # delta write into bucket 1 only (bucket 0 stays clean and prunable):
    # its x carriers are all NaN, e carries only x, i is deleted
    merge_into(t, _typed_changes(spark, [
        ("b", "U", 20, {"name": "zebra", "i": "50", "x": "NaN", "d": "12.50",
                        "ts": "2024-06-13 01:00:00-03", "dt": "2024-07-01"}),
        ("e", "U", 20, {"x": "NaN"}),
        ("i", "D", 20, {}),
    ]), watermark_lsn=20, auto_compact=False)
    snap = t.snapshot()
    assert list(snap["deltas"]) == ["1"]
    _assert_stats(snap, "deltas", {
        "1": {"name": ["zebra", "zebra"], "i": [50, 50], "x": [nan, nan],
              "d": ["12.50", "12.50"], "dt": ["2024-07-01", "2024-07-01"],
              "ts": ["2024-06-13T04:00:00", "2024-06-13T04:00:00"]},
    })
    _assert_scan_equals_filtered_read(t, ranges)
    assert t.scan({"name": ("zz", None)}).count() == 0
    assert sorted(r["name"] for r in t.scan({"name": ("m", "n")}).collect()) == ["mango"]

    # compaction rewrites bucket 1 as resolved base: an all-NaN x dir
    t.compact()
    snap = t.snapshot()
    assert not snap.get("deltas")
    _assert_stats(snap, "buckets", {
        "0": {"name": ["kiwi", "mango"], "i": [-7, 5], "x": [1.5, nan],
              "d": ["-3.10", "10.25"], "dt": ["2024-01-31", "2024-06-10"],
              "ts": ["2024-06-10T08:00:00", "2024-06-11T00:00:00"]},
        "1": {"name": ["fig", "zebra"], "i": [50, 9007199254740993],
              "x": [nan, nan], "d": ["0.01", "12.50"],
              "dt": ["2023-12-31", "2024-07-01"],
              "ts": ["2024-06-09T00:00:00", "2024-06-13T04:00:00"]},
    })
    _assert_scan_equals_filtered_read(t, ranges)
    # the all-NaN directory is kept: its rows are above every number
    assert {"b", "e"} <= {r["k"] for r in t.scan({"x": (5.0, None)}).collect()}


def _count_jobs(spark, fn):
    """(fn's result, number of Spark jobs fn ran), counted through a
    fresh job group; the caller's group is restored afterwards."""
    import uuid

    sc = spark.sparkContext
    group = f"zonemap-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_typed_stats_cost_no_extra_jobs(spark, tmp_path):
    """A BIGINT stats column rides the write: a MOR merge runs as many
    Spark jobs as on a table without stats_cols, and its commit runs
    none. Every referenced base and delta dir still gets a stats entry,
    and so does every base dir compaction rewrites."""
    base = _changes(spark, [(f"k{i}", "I", 10 + i, i, f"n{i}") for i in range(20)])
    upd = _changes(spark, [(f"k{i}", "U", 210 + i, 500 + i, f"u{i}") for i in range(0, 20, 3)])
    counts = {}
    for name, props in (("plain", None), ("typed", {"stats_cols": ["ts", "name"]})):
        t = _mk(spark, tmp_path, name, props=props)
        merge_into(t, base, watermark_lsn=100, auto_compact=False)
        commit_jobs = []
        commit = t.commit

        def counted(*args, **kwargs):
            v, n = _count_jobs(spark, lambda: commit(*args, **kwargs))
            commit_jobs.append(n)
            return v

        t.commit = counted
        _, counts[name] = _count_jobs(
            spark, lambda: merge_into(t, upd, watermark_lsn=300, auto_compact=False))
        assert commit_jobs == [0], name
    assert counts["typed"] == counts["plain"], counts

    def referenced(snap):
        return [d for kind in ("buckets", "deltas")
                for dd in snap.get(kind, {}).values() for d in dd]

    snap = t.snapshot()
    assert snap["deltas"], "precondition: the update landed as MOR deltas"
    assert all(set(snap["dir_stats"][d]) == {"ts", "name"} for d in referenced(snap))
    t.compact()
    snap = t.snapshot()
    assert not snap.get("deltas")
    assert all(set(snap["dir_stats"][d]) == {"ts", "name"} for d in referenced(snap))
    assert _rows(t.scan({"ts": (500, None)})) == _rows(t.read().filter("ts >= 500"))


def test_retype_rewrite_with_stats_cols_stays_correct(spark, tmp_path):
    """A retype rewrite stages data already CAST to the NEW type while
    the pre-commit snapshot still shows the old one — the writer's
    stats must follow the DataFrame's actual type (numeric minima, not
    the old string order), not crash serializing non-string minima."""
    from pypgoutput_spark.plans.registry import SchemaAction

    t = LakeTable.create(
        spark, str(tmp_path / "rt"),
        schema=[("k", "string"), ("name", "string")],
        key_cols=["k"], n_buckets=2, props={"stats_cols": ["name"]},
    )
    merge_into(t, spark.createDataFrame(
        [("a", "I", 10, {"v": "7"}), ("b", "I", 10, {"v": "3"}),
         ("c", "I", 10, {"v": "11"})],
        schema="k STRING, final_op STRING, max_lsn BIGINT, r_name STRUCT<v: STRING>",
    ), watermark_lsn=10)
    t.evolve_schema([SchemaAction("retype", "name", "bigint")])
    snap = t.snapshot()
    assert dict(snap["schema"])["name"] == "bigint"
    assert sorted(r["name"] for r in t.read().collect()) == [3, 7, 11]
    # stats recorded for the rewritten dirs under the NEW (num) domain,
    # by the writer — and numeric pruning works on them
    ref = [d for dd in snap["buckets"].values() for d in dd]
    assert all(d in snap["dir_stats"] for d in ref)
    assert sorted(r["name"] for r in t.scan({"name": (5, None)}).collect()) \
        == [7, 11]

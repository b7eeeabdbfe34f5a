"""`count_rows`: exact COUNT with Iceberg-style aggregate pushdown.

Resolved-bucket files the manifest PROVES tombstone-free — and, under a
``where``, whose min/max ranges, null counts or value dictionary prove
every row matches (`_stats_verdict` ALL) — contribute their stored
row counts with zero I/O; everything else (tombstone-bearing files,
stats-unprovable files, unresolved MoR/adaptive buckets) is counted by
the exact read path. The invariant under test everywhere:
``count_rows(...) == read(...).count()``, with `_count_plan` pinning
WHICH side served each file.

Reference analog: the progress counts of `__main__.py:133` ("%d new
studies found") answered as a metadata read instead of a table scan.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from image_deid_etl_spark.cdc.engine import open_table, run_ingest
from image_deid_etl_spark.cdc.feed import FeedSpec, write_feed
from image_deid_etl_spark.cdc.merge import delete_where
from image_deid_etl_spark.lake.table import (
    ALL,
    NONE,
    SnapshotTable,
    _norm_where,
    _stats_verdict,
    bucket_expr,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("ts", T.LongType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def _commit(t, spark, rows, seq):
    df = spark.createDataFrame(rows, SCHEMA).select(
        "*",
        F.lit(seq).cast("long").alias("commit_seq"),
        F.lit(False).alias("_deleted"),
        bucket_expr(2, ["repo", "path"]).alias("_bucket"),
    )
    e = t.write_snapshot_files(df, seq)
    t.commit_snapshot(
        e,
        None,
        {"committed_feed_files": seq, "max_seq_seen": seq, "batch_id": seq - 1},
    )


def _make_table(spark, tmp_path, properties=None):
    """Three ts-cohorts in separate commits: all-null ts, no-null ts
    (0..99), mixed (100..149 + nulls). `lang` is dictionary-tracked."""
    t = SnapshotTable.create(
        str(tmp_path / "t"),
        SCHEMA,
        ["repo", "path"],
        2,
        properties=properties
        if properties is not None
        else {"stats_cols": ["ts", "lang"], "dict_cols": ["lang"]},
    )
    _commit(t, spark, [("r", f"a{i}", None, "ada", "x") for i in range(100)], 1)
    _commit(t, spark, [("r", f"b{i}", i, "c", "y") for i in range(100)], 2)
    _commit(
        t,
        spark,
        [("r", f"c{i}", 100 + i, "rust", "z") for i in range(50)]
        + [("r", f"d{i}", None, "zig", "z") for i in range(50)],
        3,
    )
    return t


def _check(spark, t, where=None, **sel):
    """The core invariant: count_rows == read().count(). Returns the
    detail breakdown for plan pins."""
    d = t.count_rows(spark, where=where, detail=True, **sel)
    assert d["rows"] == t.read(spark, where=where, **sel).count()
    assert d["rows"] == t.count_rows(spark, where=where, **sel)
    return d


def test_full_count_is_metadata_only(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    d = _check(spark, t)
    assert d["rows"] == 300
    assert d["from_metadata"] == 300
    assert d["files_scanned"] == 0
    assert d["unresolved_buckets"] == 0


def test_range_where_full_match_vs_straddle(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    # (0, 99) exactly covers the no-null cohort: its files prove full
    # match; the all-null cohort prunes (NULL never compares true); the
    # mixed cohort's range [100,149] misses entirely → also pruned
    d = _check(spark, t, where={"ts": (0, 99)})
    assert d == {
        "rows": 100,
        "from_metadata": 100,
        "files_scanned": 0,
        "unresolved_buckets": 0,
    }
    # (0, 120) straddles the mixed cohort: those files scan exactly
    d = _check(spark, t, where={"ts": (0, 120)})
    assert d["rows"] == 121
    assert d["from_metadata"] == 100
    assert d["files_scanned"] > 0


def test_null_spec_counts(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    # all-null cohort: nulls == rows proves IS NULL fully; mixed cohort
    # scans; no-null cohort prunes (null count 0)
    d = _check(spark, t, where={"ts": "is null"})
    assert d["rows"] == 150
    assert d["from_metadata"] == 100
    d = _check(spark, t, where={"ts": "not null"})
    assert d["rows"] == 150
    assert d["from_metadata"] == 100  # the no-null cohort, proven by 0


def test_in_spec_dictionary_subset_proof(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    # {'ada','c'} ⊇ each of the first two cohorts' dicts → both counted
    # from metadata; the mixed cohort holds {'rust','zig'} → range+dict
    # prune it entirely
    d = _check(spark, t, where={"lang": {"in": ["ada", "c"]}})
    assert d == {
        "rows": 200,
        "from_metadata": 200,
        "files_scanned": 0,
        "unresolved_buckets": 0,
    }
    # a LIST hitting only half a file's dict is not a subset proof: the
    # mixed cohort's {'rust','zig'} ⊄ {'rust'} → exact scan, right count
    d = _check(spark, t, where={"lang": {"in": ["rust"]}})
    assert d["rows"] == 50
    assert d["from_metadata"] == 0
    assert d["files_scanned"] > 0


def test_timestamp_bounds_normalize(spark, tmp_path):
    """Datetime bounds go through the same _norm_where/_stat_norm path
    as read's pruning — a tz-naive bound must not defeat the proof."""
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("at", T.TimestampType(), True),
            T.StructField("content", T.StringType(), True),
        ]
    )
    t = SnapshotTable.create(
        str(tmp_path / "ts"),
        schema,
        ["repo", "path"],
        2,
        properties={"stats_cols": ["at"]},
    )
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        ("r", f"p{i}", base + dt.timedelta(hours=i), "x") for i in range(48)
    ]
    df = spark.createDataFrame(rows, schema).select(
        "*",
        F.lit(1).cast("long").alias("commit_seq"),
        F.lit(False).alias("_deleted"),
        bucket_expr(2, ["repo", "path"]).alias("_bucket"),
    )
    e = t.write_snapshot_files(df, 1)
    t.commit_snapshot(
        e, None, {"committed_feed_files": 1, "max_seq_seen": 1, "batch_id": 0}
    )
    lo = dt.datetime(2026, 1, 1)  # naive == UTC by engine convention
    hi = dt.datetime(2026, 1, 3)
    d = _check(spark, t, where={"at": (lo, hi)})
    assert d["rows"] == 48
    assert d["from_metadata"] == 48
    assert d["files_scanned"] == 0


def test_tombstones_route_to_exact_scan(spark, tmp_path):
    """delete_where leaves tombstone-bearing files; their buckets (or
    files) must come from the exact scan — and the count must agree
    with read() before and after compaction folds them."""
    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=2000, n_keys=300, n_files=4))
    run_ingest(spark, root, feed, auto_compact_files=None)
    t = open_table(root)
    delete_where(spark, t, condition="length(path) % 7 = 0")
    t = open_table(root)
    d = _check(spark, t)
    assert d["files_scanned"] > 0 or d["unresolved_buckets"] > 0
    # compaction preserves tombstone winners → those files still scan,
    # but the count stays exact
    t.compact(spark, min_files_per_bucket=1)
    t = open_table(root)
    _check(spark, t)
    # GC'ing tombstones below the horizon makes the table provably
    # tombstone-free again → metadata-only
    t.compact(spark, min_files_per_bucket=1, drop_tombstones_below=1 << 60)
    t = open_table(root)
    d = _check(spark, t)
    assert d["files_scanned"] == 0
    assert d["from_metadata"] == d["rows"]


def test_unresolved_mor_buckets_resolve_before_counting(spark, tmp_path):
    """A MoR table holds multiple versions per key: file row counts mean
    nothing there — count_rows must LWW-resolve those buckets, exactly
    like read."""
    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=3000, n_keys=200, dup_frac=0.05, n_files=6))
    run_ingest(
        spark, root, feed, max_files_per_batch=2, merge_mode="mor",
        auto_compact_files=None,
    )
    t = open_table(root)
    assert t.read_raw(spark).count() > t.read(spark).count()  # real versions
    d = _check(spark, t)
    assert d["unresolved_buckets"] > 0
    # resolve-compaction returns the table to metadata-served counts
    t.compact(spark, min_files_per_bucket=1)
    t = open_table(root)
    d = _check(spark, t)
    assert d["unresolved_buckets"] == 0


def test_rename_spanning_count_uses_prior_name_stats(spark, tmp_path):
    """After a rename, pre-rename files' stats live under the old
    physical name — the full-match proof must find them via priors, and
    the count must stay exact either way."""
    t = _make_table(spark, tmp_path)
    t.alter_columns(rename={"ts": "event_ts"})
    t = SnapshotTable(t.root)
    d = _check(spark, t, where={"event_ts": (0, 99)})
    assert d["rows"] == 100
    assert d["from_metadata"] == 100
    assert d["files_scanned"] == 0


def test_snapshot_pins_and_selector_guard(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    assert t.count_rows(spark, snapshot_id=1) == t.read(
        spark, snapshot_id=1
    ).count() == 100
    with pytest.raises(ValueError):
        t.count_rows(spark, snapshot_id=1, tag="x")


def test_unprovable_bound_scans_instead_of_fabricating(spark, tmp_path):
    """A bound _stat_norm cannot canonicalize (bool) must fall to the
    exact scan — pruning reads it as open (conservative), but an ALL
    proof built on an open reading would overcount."""
    verdict = _stats_verdict(_norm_where({"flag": (True, True)}))
    f = {
        "rows": 10,
        "col_stats": {"flag": (0, 1)},
        "null_counts": {"flag": 0},
    }
    assert verdict(f) != ALL  # not provable — never a fabricated proof


def test_random_specs_always_equal_read(spark, tmp_path):
    """Property-style sweep: every spec mix must agree with read()."""
    t = _make_table(spark, tmp_path)
    specs = [
        {"ts": (None, 50)},
        {"ts": (120, None)},
        {"ts": (0, 149), "lang": {"in": ["c", "zig"]}},
        {"lang": ("a", "d")},
        {"ts": "is null", "lang": {"in": ["ada", "zig"]}},
        {"ts": "not null", "lang": "not null"},
        {"ts": (60, 110)},
        {"lang": {"in": []}},
    ]
    for where in specs:
        _check(spark, t, where=where)


def test_min_max_metadata_served_numeric(spark, tmp_path):
    """Numeric stats columns serve MIN/MAX from the manifest: the
    all-null cohort provably contributes nothing, the other cohorts'
    exact parquet ranges fold — zero files scanned."""
    t = _make_table(spark, tmp_path)
    d = t.min_max(spark, ["ts"], detail=True)
    assert d["ts"] == (0, 149)
    assert d["_detail"] == {"files_scanned": 0, "unresolved_buckets": 0}
    row = t.read(spark).agg(F.min("ts"), F.max("ts")).collect()[0]
    assert (row[0], row[1]) == d["ts"]


def test_min_max_string_column_scans(spark, tmp_path):
    """String parquet stats may be truncated (an upper bound is not a
    value that exists) — string columns must come from the exact scan,
    and the result still matches the read-path aggregate."""
    t = _make_table(spark, tmp_path)
    d = t.min_max(spark, ["ts", "lang"], detail=True)
    assert d["_detail"]["files_scanned"] > 0
    row = t.read(spark).agg(
        F.min("ts"), F.max("ts"), F.min("lang"), F.max("lang")
    ).collect()[0]
    assert d["ts"] == (row[0], row[1])
    assert d["lang"] == (row[2], row[3]) == ("ada", "zig")


def test_min_max_tombstones_and_rename(spark, tmp_path):
    t = _make_table(spark, tmp_path)
    delete_where(spark, t, condition="ts >= 140")  # drops the top values
    t = SnapshotTable(t.root)
    d = t.min_max(spark, ["ts"], detail=True)
    assert d["_detail"]["files_scanned"] > 0 or d["_detail"]["unresolved_buckets"] > 0
    row = t.read(spark).agg(F.min("ts"), F.max("ts")).collect()[0]
    assert d["ts"] == (row[0], row[1]) == (0, 139)
    # rename: pre-rename files' stats found via the prior name
    t.alter_columns(rename={"ts": "event_ts"})
    t = SnapshotTable(t.root)
    d2 = t.min_max(spark, ["event_ts"])
    assert d2["event_ts"] == (0, 139)
    with pytest.raises(ValueError, match="not in the table schema"):
        t.min_max(spark, ["ts"])


def test_min_max_empty_and_unresolved(spark, tmp_path):
    empty = SnapshotTable.create(
        str(tmp_path / "e"), SCHEMA, ["repo", "path"], 2,
        properties={"stats_cols": ["ts"]},
    )
    assert empty.min_max(spark, ["ts"]) == {"ts": (None, None)}
    # MoR version stacks resolve before aggregating (a superseded higher
    # value must not leak into MAX)
    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=2000, n_keys=150, dup_frac=0.1, n_files=4))
    run_ingest(
        spark, root, feed, max_files_per_batch=2, merge_mode="mor",
        auto_compact_files=None,
    )
    t = open_table(root)
    d = t.min_max(spark, ["lang"], detail=True)
    assert d["_detail"]["unresolved_buckets"] > 0
    row = t.read(spark).agg(F.min("lang"), F.max("lang")).collect()[0]
    assert d["lang"] == (row[0], row[1])


def test_randomized_lifecycle_pushdown_parity(spark, tmp_path):
    """Property-style: through a random mutation sequence (ingest,
    predicate delete/update, compaction), count_rows and min_max must
    agree with the read path at EVERY step — the pushdown split may
    move between metadata and scan, but never the answer."""
    import random

    from image_deid_etl_spark.cdc.merge import update_where

    rng = random.Random(20260820)
    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=1500, n_keys=200, dup_frac=0.05, n_files=6))
    run_ingest(spark, root, feed, max_files_per_batch=2, auto_compact_files=None)
    t = open_table(root)
    t.set_properties({"stats_cols": ["size"] if "size" in
                      {f.name for f in t.schema().fields} else ["lang"]})
    t = open_table(root)

    def check():
        tt = open_table(root)
        assert tt.count_rows(spark) == tt.read(spark).count()
        mm = tt.min_max(spark, ["lang"])
        row = tt.read(spark).agg(F.min("lang"), F.max("lang")).collect()[0]
        assert mm["lang"] == (row[0], row[1])
        n = tt.count_rows(spark, where={"lang": ("a", "mzzz")})
        assert n == tt.read(spark, where={"lang": ("a", "mzzz")}).count()

    check()
    for step in range(4):
        op = rng.choice(["delete", "update", "compact"])
        if op == "delete":
            delete_where(spark, open_table(root),
                         condition=f"length(path) % {rng.randint(5, 9)} = 0")
        elif op == "update":
            update_where(spark, open_table(root),
                         set={"lang": "upper(lang)"},
                         condition=f"length(path) % {rng.randint(4, 7)} = 1")
        else:
            open_table(root).compact(spark, min_files_per_bucket=1)
        check()


def test_register_temp_view_sql_surface(spark, tmp_path):
    """`register_temp_view`: plain spark.sql over the table's live
    state, with snapshot-isolation at registration time (repeatable
    read — a later commit is invisible until re-registration)."""
    t = _make_table(spark, tmp_path)
    t.register_temp_view(spark, "tv")
    got = {
        r["lang"]: r["n"]
        for r in spark.sql(
            "SELECT lang, count(*) AS n FROM tv GROUP BY lang"
        ).collect()
    }
    assert got == {"ada": 100, "c": 100, "rust": 50, "zig": 50}
    # repeatable read: a commit AFTER registration is invisible...
    _commit(t, spark, [("r", f"e{i}", 200, "go", "w") for i in range(10)], 4)
    assert spark.sql("SELECT count(*) AS n FROM tv").collect()[0]["n"] == 300
    # ...until re-registration moves the view to the new head
    SnapshotTable(t.root).register_temp_view(spark, "tv")
    assert spark.sql("SELECT count(*) AS n FROM tv").collect()[0]["n"] == 310
    # where-pruned registration: fewer files listed, same rows as filter
    full = SnapshotTable(t.root).register_temp_view(spark, "tv_all")
    pruned = SnapshotTable(t.root).register_temp_view(
        spark, "tv_ts", where={"ts": (0, 99)}
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert spark.sql("SELECT count(*) AS n FROM tv_ts").collect()[0]["n"] == 100
    spark.catalog.dropTempView("tv")
    spark.catalog.dropTempView("tv_all")
    spark.catalog.dropTempView("tv_ts")


def test_exact_half_counts_in_one_job(spark, tmp_path):
    """Residue files and unresolved buckets are ONE exact scan: a COUNT
    needing both runs one Spark action. AQE is switched off for the
    pin because it runs every shuffle map stage as a job of its own;
    with it off, one job is one action."""
    t = _make_table(spark, tmp_path)
    t.commit_snapshot(
        [],
        None,
        {"committed_feed_files": 3, "max_seq_seen": 3, "batch_id": 3},
        unresolved_add={0},
    )
    t = SnapshotTable(t.root)
    where = {"ts": (0, 120)}  # straddles the mixed cohort → residue
    d = _check(spark, t, where=where)
    assert d["files_scanned"] > 0 and d["unresolved_buckets"] == 1
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("count_once", "count_rows exact half")
        assert t.count_rows(spark, where=where) == d["rows"]
        jobs = sc.statusTracker().getJobIdsForGroup("count_once")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(jobs) == 1


def _rows_truth(values, spec, strict):
    """Row-level truth of one normalized spec over a value column. A
    bound or IN value `_stat_norm` cannot canonicalize has no defined
    meaning here, so it is read both ways: open (``strict=False`` —
    what a NONE verdict must rule out) and matching nothing
    (``strict=True`` — what an ALL verdict must still hold under)."""
    from image_deid_etl_spark.lake.table import _stat_norm

    def bound_ok(b, holds):
        if b is None:
            return True
        return holds() if _stat_norm(b) is not None else not strict

    out = []
    for v in values:
        if spec == "is null":
            out.append(v is None)
        elif spec == "not null":
            out.append(v is not None)
        elif v is None:
            out.append(False)
        elif isinstance(spec, dict):
            pts = [_stat_norm(p) for p in spec["in"]]
            out.append(_stat_norm(v) in pts or (None in pts and not strict))
        else:
            lo, hi = spec
            out.append(
                bound_ok(lo, lambda: v >= lo) and bound_ok(hi, lambda: v <= hi)
            )
    return out


_FAMILIES = {
    "int": st.integers(-4, 4),
    "str": st.sampled_from(["", "a", "ab", "b", "c"]),
    "ts": st.integers(-3, 3).map(
        lambda k: dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        + dt.timedelta(seconds=k)
    ),
}


@st.composite
def _verdict_case(draw):
    """A two-column file: value columns, their manifest entry derived
    the way `write_snapshot_files` records it, and a `where` spec."""
    from image_deid_etl_spark.lake.table import _stat_norm

    n = draw(st.integers(0, 6))
    cap = draw(st.integers(1, 4))
    f = {"rows": n}
    cols, where, priors = {}, {}, {}
    for c in ("x", "y"):
        kind = draw(st.sampled_from(sorted(_FAMILIES)))
        vals = _FAMILIES[kind]
        # half the columns hold no NULL: ALL verdicts need zero nulls
        elem = vals if draw(st.booleans()) else st.none() | vals
        col = draw(st.lists(elem, min_size=n, max_size=n))
        cols[c] = col
        # pre-rename files record stats under the prior physical name
        name = c
        if draw(st.booleans()):
            name = f"{c}_old"
            priors[c] = [name]
        live = [_stat_norm(v) for v in col if v is not None]
        if draw(st.booleans()):
            f.setdefault("null_counts", {})[name] = n - len(live)
        if live and draw(st.booleans()):
            f.setdefault("col_stats", {})[name] = [min(live), max(live)]
        if len(set(live)) <= cap and draw(st.booleans()):
            f.setdefault("dicts", {})[name] = sorted(set(live))
        bound = st.none() | vals | st.just(True)  # bool: no canonical form
        form = draw(st.sampled_from(["range", "in", "is null", "not null", "skip"]))
        if form == "range":
            where[c] = (draw(bound), draw(bound))
        elif form == "in":
            where[c] = {"in": draw(st.lists(vals | st.just(True), max_size=3))}
        elif form != "skip":
            where[c] = form
    return cols, f, where, priors


@settings(max_examples=1500, deadline=None, database=None)
@given(_verdict_case())
def test_stats_verdict_sound_against_rows(case):
    """NONE must mean no row satisfies the spec and ALL that every row
    does, for every spec form, unnormalizable bounds, empty IN lists,
    missing stats and rename priors."""
    cols, f, where, priors = case
    verdict = _stats_verdict(_norm_where(where), priors)(f)
    if verdict == NONE:
        assert not any(_all_rows(cols, where, strict=False)), (f, where)
    if verdict == ALL:
        assert all(_all_rows(cols, where, strict=True)), (f, where)


def _all_rows(cols, where, strict):
    n = len(next(iter(cols.values())))
    hit = [True] * n
    for c, spec in _norm_where(where).items():
        hit = [a and b for a, b in zip(hit, _rows_truth(cols[c], spec, strict))]
    return hit

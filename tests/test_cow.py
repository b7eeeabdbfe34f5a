"""File-granular copy-on-write MERGE + compaction (lake/table.py, cdc/merge.py).

The round-1 weakness: MERGE rewrote every file of a touched bucket, so
multi-commit replays re-wrote the whole live table per commit. These tests
pin the file-granular contract: a commit replaces ONLY files that actually
hold a batch key; everything else survives by path, verbatim.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from image_deid_etl_spark.cdc.merge import merge_into
from image_deid_etl_spark.lake.table import SnapshotTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)

BATCH_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
    ]
    + SCHEMA.fields
)


def batch_df(spark, rows):
    """rows: (seq, op, repo, path, content)"""
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def offsets(n):
    return {"committed_feed_files": n, "max_seq_seen": n * 1000, "batch_id": n - 1}


def paths(t):
    return {f["path"] for f in t.manifest()["files"]}


def make_table(spark, tmp_path, n_buckets=4):
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets)
    return t


def test_disjoint_key_commit_is_append_only(spark, tmp_path):
    """New keys never rewrite existing files — the commit appends."""
    t = make_table(spark, tmp_path)
    b1 = batch_df(spark, [(i + 1, "add", "r", f"p{i}", "v1") for i in range(20)])
    merge_into(spark, t, b1, offsets(1), scrub=False)
    before = paths(t)
    b2 = batch_df(spark, [(100 + i, "add", "r", f"q{i}", "v1") for i in range(20)])
    merge_into(spark, t, b2, offsets(2), scrub=False)
    after = paths(t)
    assert before <= after, "existing files must be carried forward by path"
    assert t.read(spark).count() == 40


def test_update_rewrites_only_files_holding_the_key(spark, tmp_path):
    """Three disjoint commits, then one key updated: exactly the one file
    holding that key is replaced; every other file survives verbatim."""
    t = make_table(spark, tmp_path)
    for c, pref in enumerate(["a", "m", "z"]):
        b = batch_df(
            spark,
            [(c * 100 + i + 1, "add", "r", f"{pref}{i}", "v1") for i in range(20)],
        )
        merge_into(spark, t, b, offsets(c + 1), scrub=False)
    before = {f["path"]: f for f in t.manifest()["files"]}

    upd = batch_df(spark, [(9999, "update", "r", "m3", "v2")])
    merge_into(spark, t, upd, offsets(4), scrub=False)
    after = paths(t)

    gone = set(before) - after
    assert len(gone) == 1, f"exactly one file should be replaced, got {gone}"
    (victim,) = gone
    # the victim really held the key (its range covers 'm3')
    v = before[victim]
    key = "r\x1fm3"
    assert v["key_min"] <= key <= v["key_max"]
    # state is correct: m3 updated, everything else intact
    rows = {r["path"]: r["content"] for r in t.read(spark).collect()}
    assert rows["m3"] == "v2" and len(rows) == 60
    assert all(v == "v1" for k, v in rows.items() if k != "m3")


def test_manifest_key_ranges_present(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = batch_df(spark, [(i + 1, "add", "r", f"p{i}", "x") for i in range(10)])
    merge_into(spark, t, b, offsets(1), scrub=False)
    for f in t.manifest()["files"]:
        assert f["key_min"] is not None and f["key_max"] >= f["key_min"]


def test_delete_tombstone_file_granular(spark, tmp_path):
    """A delete rewrites only the victim's file; the tombstone is retained
    physically and a late OLDER event cannot resurrect the key."""
    t = make_table(spark, tmp_path)
    b1 = batch_df(spark, [(i + 1, "add", "r", f"p{i}", "v1") for i in range(10)])
    merge_into(spark, t, b1, offsets(1), scrub=False)
    before = paths(t)
    d = batch_df(spark, [(500, "delete", "r", "p3", None)])
    merge_into(spark, t, d, offsets(2), scrub=False)
    assert len(before - paths(t)) == 1
    assert t.read(spark).filter(F.col("path") == "p3").count() == 0
    # late older event for the deleted key: LWW must keep the tombstone
    late = batch_df(spark, [(7, "update", "r", "p3", "ghost")])
    merge_into(spark, t, late, offsets(3), scrub=False)
    assert t.read(spark).filter(F.col("path") == "p3").count() == 0
    assert t.read(spark).count() == 9


def test_compaction_folds_files_and_preserves_state(spark, tmp_path):
    t = make_table(spark, tmp_path)
    for c in range(4):
        b = batch_df(
            spark,
            [(c * 100 + i + 1, "add", "r", f"c{c}p{i}", f"v{c}") for i in range(16)],
        )
        merge_into(spark, t, b, offsets(c + 1), scrub=False)
    d = batch_df(spark, [(999, "delete", "r", "c0p1", None)])
    merge_into(spark, t, d, offsets(5), scrub=False)

    m = t.manifest()
    per_bucket: dict[int, int] = {}
    for f in m["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert max(per_bucket.values()) > 1, "setup should accumulate files"

    state_before = sorted(
        (r["repo"], r["path"], r["content"], r["commit_seq"])
        for r in t.read(spark).collect()
    )
    raw_before = t.read_raw(spark).count()
    off_before = t.offsets()

    res = t.compact(spark, min_files_per_bucket=2)
    assert res["files_after"] <= res["files_before"]

    m2 = t.manifest()
    per_bucket2: dict[int, int] = {}
    for f in m2["files"]:
        per_bucket2[f["bucket"]] = per_bucket2.get(f["bucket"], 0) + 1
    assert max(per_bucket2.values()) == 1

    state_after = sorted(
        (r["repo"], r["path"], r["content"], r["commit_seq"])
        for r in t.read(spark).collect()
    )
    assert state_after == state_before
    assert t.read_raw(spark).count() == raw_before  # tombstones preserved
    assert t.offsets() == off_before  # data-movement only
    assert m2["snapshot_id"] == m["snapshot_id"] + 1


def test_compaction_noop_below_threshold(spark, tmp_path):
    t = make_table(spark, tmp_path)
    b = batch_df(spark, [(1, "add", "r", "p", "x")])
    merge_into(spark, t, b, offsets(1), scrub=False)
    snap = t.snapshot_id
    res = t.compact(spark, min_files_per_bucket=2)
    assert res["compacted_buckets"] == []
    assert t.snapshot_id == snap  # no empty commit


def test_snapshots_ignores_orphan_tmp_manifests(spark, tmp_path):
    """ADVICE fix: a crash-leftover manifest-N.json.tmp-<uuid> must neither
    duplicate a snapshot id nor break expire_snapshots."""
    t = make_table(spark, tmp_path)
    b = batch_df(spark, [(1, "add", "r", "p", "x")])
    merge_into(spark, t, b, offsets(1), scrub=False)
    merge_into(
        spark, t, batch_df(spark, [(2, "add", "r", "p2", "x")]), offsets(2), scrub=False
    )
    mdir = os.path.join(t.root, "_manifests")
    m1 = os.path.join(mdir, "manifest-0000000001.json")
    with open(m1) as f:
        content = f.read()
    with open(m1 + ".tmp-deadbeef", "w") as f:
        f.write(content)
    assert t.snapshots() == [0, 1, 2]
    res = t.expire_snapshots(keep_last=1)
    assert 1 in res["expired_snapshots"]  # no FileNotFoundError double-remove


def test_update_heavy_replay_write_amplification(spark, tmp_path):
    """The quantitative point of file-granular CoW: bytes written per
    commit tracks the batch, not the table. An update of 1% of keys must
    rewrite well under half the live files."""
    t = make_table(spark, tmp_path, n_buckets=8)
    b = batch_df(
        spark, [(i + 1, "add", "r", f"k{i:05d}", "v" * 50) for i in range(2000)]
    )
    merge_into(spark, t, b, offsets(1), scrub=False)
    # spread adds over 3 more commits so buckets hold several files
    for c in range(3):
        more = batch_df(
            spark,
            [
                (10_000 * (c + 1) + i, "add", "r", f"n{c}_{i:05d}", "w" * 50)
                for i in range(2000)
            ],
        )
        merge_into(spark, t, more, offsets(c + 2), scrub=False)
    files_before = paths(t)
    upd = batch_df(
        spark, [(10**6 + i, "update", "r", f"k{i:05d}", "u" * 50) for i in range(20)]
    )
    merge_into(spark, t, upd, offsets(6), scrub=False)
    replaced = files_before - paths(t)
    assert len(replaced) < len(files_before) / 2
    rows = t.read(spark)
    assert rows.count() == 8000
    assert rows.filter(F.col("content") == "u" * 50).count() == 20


def test_export_feed_roundtrip(spark, tmp_path):
    """S14 re-upload source->source: a snapshot exported as feed chunks
    and ingested into a FRESH table reproduces the state exactly."""
    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.export import export_feed
    from image_deid_etl_spark.cdc.feed import FeedSpec, write_feed

    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=2000, n_keys=300, dup_frac=0.04, with_meta=True))
    run_ingest(spark, root, feed, max_files_per_batch=4)
    src = open_table(root)

    out_feed = str(tmp_path / "exported")
    n = export_feed(spark, src, out_feed, n_chunks=4)
    assert n == src.read(spark).count()

    root2 = str(tmp_path / "t2")
    run_ingest(spark, root2, out_feed, max_files_per_batch=2)
    dst = open_table(root2)

    cols = ["repo", "path", "commit", "lang", "content", "meta", "commit_seq"]
    a = sorted(map(tuple, (
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"],
         tuple(sorted(r["meta"].items())) if r["meta"] else None, r["commit_seq"])
        for r in src.read(spark).collect())))
    b = sorted(map(tuple, (
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"],
         tuple(sorted(r["meta"].items())) if r["meta"] else None, r["commit_seq"])
        for r in dst.read(spark).collect())))
    assert a == b


def test_bloom_built_lazily_and_prunes_range_overlaps(spark, tmp_path):
    """Blooms are built the first time a file becomes a rewrite candidate
    (not on the write hot path), persist via carried-entry updates, and
    then prune range-overlapping files with NO data read."""
    from image_deid_etl_spark.cdc.merge import _bloom_prune
    from image_deid_etl_spark.lake.table import bucket_expr, key_expr

    t = make_table(spark, tmp_path, n_buckets=2)
    rows = [(i + 1, "add", "r", f"a{i}", "x") for i in range(20)]
    rows += [(100 + i, "add", "r", f"z{i}", "x") for i in range(20)]
    merge_into(spark, t, batch_df(spark, rows), offsets(1), scrub=False)
    first = {f["path"] for f in t.manifest()["files"]}
    assert not any(f.get("bloom_path") for f in t.manifest()["files"]), "lazy"

    # "m5" sorts between a* and z*: every file's range covers it, so the
    # second commit makes all of them candidates → blooms get built, the
    # probe rejects, and the commit is append-only (files carried intact).
    merge_into(
        spark, t, batch_df(spark, [(500, "add", "r", "m5", "y")]), offsets(2), scrub=False
    )
    files = t.manifest()["files"]
    assert first <= {f["path"] for f in files}, "bloom prune kept commit 1 intact"
    # only the touched bucket's files became candidates → only they gain
    # blooms (lazy = on demand, never table-wide)
    probe_bucket = (
        spark.createDataFrame([("r", "m5")], "repo string, path string")
        .select(bucket_expr(2, ["repo", "path"]).alias("b"))
        .collect()[0]["b"]
    )
    bloomed = [f for f in files if f["path"] in first and f["bucket"] == probe_bucket]
    assert bloomed and all(f.get("bloom_path") and f.get("bloom_m") for f in bloomed)

    def probe_df(path):
        return (
            spark.createDataFrame([("r", path)], "repo string, path string")
            .select(
                bucket_expr(2, ["repo", "path"]).alias("_bucket"),
                key_expr(["repo", "path"]).alias("_key"),
            )
        )

    assert _bloom_prune(t, probe_df("m6"), bloomed) == []
    survived = _bloom_prune(t, probe_df("a3"), bloomed)
    key = "r\x1fa3"
    assert any(f["key_min"] <= key <= f["key_max"] for f in survived)


def test_compaction_tombstone_gc_watermark(spark, tmp_path):
    """drop_tombstones_below physically removes only tombstones older than
    the watermark; newer tombstones keep guarding against resurrection."""
    t = make_table(spark, tmp_path)
    b1 = batch_df(spark, [(i + 1, "add", "r", f"p{i}", "v") for i in range(10)])
    merge_into(spark, t, b1, offsets(1), scrub=False)
    d = batch_df(
        spark,
        [(100, "delete", "r", "p1", None), (900, "delete", "r", "p2", None)],
    )
    merge_into(spark, t, d, offsets(2), scrub=False)
    assert t.read_raw(spark).filter(F.col("_deleted")).count() == 2

    t.compact(spark, min_files_per_bucket=1, drop_tombstones_below=500)
    dead = t.read_raw(spark).filter(F.col("_deleted")).collect()
    assert [r["path"] for r in dead] == ["p2"]  # seq-900 tombstone retained
    assert t.read(spark).count() == 8  # live state unchanged

    # the retained tombstone still blocks a late older event...
    late = batch_df(spark, [(800, "update", "r", "p2", "ghost")])
    merge_into(spark, t, late, offsets(3), scrub=False)
    assert t.read(spark).filter(F.col("path") == "p2").count() == 0


def test_export_crash_safety_markers(spark, tmp_path):
    """ADVICE fix (r2): a crash between installing new chunks and deleting
    stale trailing ones must not let a consumer resurrect deleted keys.
    The _FEED_EXPORT.json marker (installed via os.replace BEFORE the
    stale-delete) makes trailing chunks invisible; an in_progress marker
    (crash mid-install) makes the feed refuse consumption entirely."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.export import export_feed
    from image_deid_etl_spark.cdc.feed import FeedSpec, list_feed_files, write_feed

    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=1000, n_keys=150))
    run_ingest(spark, root, feed)
    src = open_table(root)

    out_feed = str(tmp_path / "exported")
    export_feed(spark, src, out_feed, n_chunks=3)

    # simulate the crash: a stale trailing chunk (from a larger previous
    # export) carrying a key that no longer exists, NOT covered by the
    # manifest's n_chunks=3
    stale = pa.Table.from_pydict(
        {
            "seq": [1],
            "op": ["add"],
            "repo": ["ghost-repo"],
            "path": ["ghost/file.py"],
            "commit": ["dead"],
            "lang": ["python"],
            "content": ["resurrected"],
            "ts": pa.array([0], type=pa.timestamp("us")),
        }
    )
    pq.write_table(stale, os.path.join(out_feed, "feed-00099.parquet"))

    files = list_feed_files(out_feed)
    assert all("feed-00099" not in f for f in files)
    assert len(files) == 3

    root2 = str(tmp_path / "t2")
    run_ingest(spark, root2, out_feed)
    dst = open_table(root2)
    assert dst.read(spark).filter("repo = 'ghost-repo'").count() == 0

    # crash mid-install: in_progress marker -> consumer refuses the feed
    with open(os.path.join(out_feed, "_FEED_EXPORT.json"), "w") as f:
        json.dump({"in_progress": True}, f)
    import pytest

    with pytest.raises(RuntimeError, match="in_progress"):
        list_feed_files(out_feed)


def test_ladder_short_circuit_dense_vs_trickle(spark, tmp_path):
    """r3 perf fix: a dense no-locality batch (distinct keys >= 20% of the
    bucket's rows, range-prune keeps >= 80% of files) skips blooms +
    exact scan and matches all candidates outright; a TRICKLE batch with
    the same full-range span must still run the ladder and prune."""
    from image_deid_etl_spark.cdc import merge as M

    t = make_table(spark, tmp_path, n_buckets=1)
    # two files in the bucket: keys a00..a49 and z00..z49
    merge_into(spark, t, batch_df(
        spark, [(i + 1, "add", "r", f"a{i:02d}", "x") for i in range(50)]
    ), offsets(1), scrub=False)
    merge_into(spark, t, batch_df(
        spark, [(100 + i, "add", "r", f"z{i:02d}", "x") for i in range(50)]
    ), offsets(2), scrub=False)
    files2 = paths(t)
    assert len(files2) == 2

    # trickle: 2 keys spanning the full range -> range keeps both files,
    # but density fails (2 << 0.2*100) -> ladder prunes to the files
    # actually holding the keys (both here, one key each) -- and with keys
    # missing entirely, to NONE
    kr = {0: ("r\x1fa00", "r\x1fzzz")}
    matched_abs, _, _, _, _, _, _ = M._match_files(
        spark, t,
        batch_df(spark, [(200, "add", "r", "a00", "y"), (201, "add", "r", "nope", "y")])
        .selectExpr("*").select(
            "*",
            bucket_expr(1, ["repo", "path"]).alias("_bucket"),
            M.key_expr(["repo", "path"]).alias("_key"),
        ),
        {0}, kr, key_counts={0: 2},
    )
    assert len(matched_abs) == 1  # bloom/exact pruned file z*, kept a*

    # dense: 100 distinct keys over 100 live rows, full-range span ->
    # short-circuit: both files matched with NO bloom sidecars built
    dense = batch_df(
        spark,
        [(300 + i, "add", "r", f"a{i:02d}", "y") for i in range(50)]
        + [(400 + i, "add", "r", f"z{i:02d}", "y") for i in range(50)],
    ).select(
        "*",
        bucket_expr(1, ["repo", "path"]).alias("_bucket"),
        M.key_expr(["repo", "path"]).alias("_key"),
    )
    matched_abs, matched_rel, bloom_updates, _, _, _, _ = M._match_files(
        spark, t, dense, {0}, kr, key_counts={0: 100}
    )
    assert matched_rel == files2
    assert bloom_updates == {}  # ladder never ran -> no blooms built


def test_auto_compaction_plateaus_file_count(spark, tmp_path):
    """r3: run_ingest auto-compacts the worst over-threshold bucket after
    a commit (one bucket per commit). Over a long multi-commit replay the
    per-bucket live file count plateaus WITHOUT any explicit compact()
    call, and the final state still matches the fold oracle exactly."""
    import pandas as pd

    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.feed import FeedSpec, make_events, write_feed
    from image_deid_etl_spark.cdc.oracle import fold_feed, sha256_state

    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    spec = FeedSpec(n_events=4000, n_keys=200, n_files=24)
    write_feed(feed, spec)
    stats = run_ingest(
        spark, root, feed, max_files_per_batch=1, n_buckets=2,
        auto_compact_files=4,
    )
    assert stats.batches == 24
    assert stats.compactions  # the hook actually fired
    t = open_table(root)
    counts: dict[int, int] = {}
    for f in t.manifest()["files"]:
        counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
    # plateau: no bucket ends a 24-commit replay much above the threshold
    assert max(counts.values()) <= 5, counts
    got = (
        t.read(spark)
        .select("repo", "path", F.sha2("content", 256).alias("sha256"))
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )
    expected = sha256_state(fold_feed(make_events(spec)))
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


def test_adaptive_cow_appends_on_amplified_uniform_updates(spark, tmp_path):
    """r4 adaptive CoW→MoR: on a DEFAULT (cow) table, a batch whose
    rewrite would move >= ~6x the batch's keys AND most of the touched
    buckets' live rows appends its LWW winners MoR-style instead of
    rewriting — the uniform-update worst case (BENCH/BASELINE.md: 4.8x
    slower on CoW) stops costing O(table) per commit. Reads stay correct
    via the bucket-scoped resolve window; resolve-compaction restores
    window-free reads."""
    t = make_table(spark, tmp_path, n_buckets=4)
    # bootstrap: 4000 keys in one insert commit
    boot = batch_df(
        spark, [(i + 1, "add", "r", f"k{i:05d}", f"v{i}") for i in range(4000)]
    )
    merge_into(spark, t, boot, offsets(1), scrub=False)
    files_before = paths(t)
    # uniform update batch: 100 keys spread over the whole key space —
    # every file holds one, so a CoW rewrite would move 4000 rows for a
    # 100-key batch (40x amplification)
    upd = batch_df(
        spark,
        [(10_000 + i, "add", "r", f"k{i * 40:05d}", "NEW") for i in range(100)],
    )
    from image_deid_etl_spark.lake.table import bucket_expr as _be

    kc = (
        upd.select(_be(4, ["repo", "path"]).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    merge_into(
        spark, t, upd, offsets(2), scrub=False,
        key_counts={r["b"]: r["count"] for r in kc},
    )
    lin = t.lineage()[-1]
    assert lin["adaptive_append"] is True
    assert lin["files_replaced"] == 0, "adaptive must not rewrite"
    assert files_before <= paths(t), "bootstrap files carried forward"
    assert t.unresolved_buckets(), "adaptive appends must mark their buckets"
    got = {
        (r["path"], r["content"]) for r in t.read(spark).collect()
    }
    expected = {
        (f"k{i:05d}", "NEW" if i % 40 == 0 and i < 4000 else f"v{i}")
        for i in range(4000)
    }
    assert got == expected
    # resolve-compaction folds the appended versions and clears the marks;
    # the read plan then drops the window again (CoW-speed reads)
    t.compact(spark, min_files_per_bucket=1)
    assert not t.unresolved_buckets()
    plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert {(r["path"], r["content"]) for r in t.read(spark).collect()} == expected


def test_adaptive_does_not_fire_on_small_or_local_batches(spark, tmp_path):
    """The amplification leg keeps small tables rewriting (no read-time
    window creep for cheap rewrites): a table whose live rows never reach
    8x the batch keys stays pure CoW."""
    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.feed import FeedSpec, write_feed

    feed, root = str(tmp_path / "f"), str(tmp_path / "t")
    spec = FeedSpec(n_events=3000, n_keys=200, n_files=6)  # batch ~ table
    write_feed(feed, spec)
    run_ingest(spark, root, feed, max_files_per_batch=2, auto_compact_files=None)
    t = open_table(root)
    assert not [e for e in t.lineage() if e.get("adaptive_append")]
    assert not t.unresolved_buckets()


def test_bloom_prune_is_executor_side(spark, tmp_path, monkeypatch):
    """r4: bloom bitmaps are memory-mapped by probe TASKS, never loaded on
    the driver — no driver-budget ceiling, no skip-to-exact-scan
    degradation. Pruning results are identical to the driver-side r3
    behavior on the same probes."""
    from image_deid_etl_spark.cdc.merge import _bloom_prune
    from image_deid_etl_spark.lake.table import bucket_expr, key_expr

    t = make_table(spark, tmp_path, n_buckets=2)
    rows = [(i + 1, "add", "r", f"a{i}", "x") for i in range(20)]
    rows += [(100 + i, "add", "r", f"z{i}", "x") for i in range(20)]
    merge_into(spark, t, batch_df(spark, rows), offsets(1), scrub=False)
    entries = [f for f in t.manifest()["files"]]
    upd = t.build_blooms(spark, entries)
    assert upd  # sidecars exist for every file
    # no driver-side bitmap loading exists anymore: bitmaps are opened
    # only inside the probe tasks (lake.bloom.open_sidecar in _bloom_prune's probe);
    # guard against a driver-side reader being reintroduced
    import builtins

    real_open = builtins.open

    def no_bloom_open(file, *a, **kw):
        if isinstance(file, str) and "/_blooms/" in file:
            raise AssertionError(f"driver opened a bloom bitmap: {file}")
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", no_bloom_open)

    def probe_df(*keys):
        return spark.createDataFrame(
            [("r", k) for k in keys], "repo string, path string"
        ).select(
            bucket_expr(2, ["repo", "path"]).alias("_bucket"),
            key_expr(["repo", "path"]).alias("_key"),
        )

    # a key no file holds: every bloomed candidate is rejected
    assert _bloom_prune(t, probe_df("nope"), entries) == []
    # a stored key: the files really holding it survive
    survived = _bloom_prune(t, probe_df("a3"), entries)
    key = "r\x1fa3"
    assert survived and any(
        f["key_min"] <= key <= f["key_max"] for f in survived
    )
    # all-buckets probe: pruning still file-accurate with multiple
    # buckets' keys in one batch (each bucket pre-shuffled to one task)
    survived = {f["path"] for f in _bloom_prune(t, probe_df("a3", "z7"), entries)}
    assert survived <= {f["path"] for f in entries}
    assert len(survived) >= 1


def test_insert_heavy_adaptive_misfire_resolves_metadata_only(spark, tmp_path):
    """r4 review fix: an INSERT-heavy uniform feed of strictly-new keys
    can fire the adaptive append spuriously (the estimate cannot tell new
    keys from existing). The version-depth hook must then detect that the
    bucket holds NO duplicate versions (exact count) and resolve it
    METADATA-ONLY — never an O(bucket) rewrite that would fold nothing."""
    import numpy as np
    import pandas as pd

    from image_deid_etl_spark.cdc.engine import open_table, run_ingest

    feed = tmp_path / "f"
    feed.mkdir()

    def chunk(idx, lo, hi):
        n = hi - lo
        df = pd.DataFrame(
            {
                "seq": np.arange(lo + 1, hi + 1, dtype=np.int64),
                "op": "add",
                "repo": "r",
                # hash-scattered UNIQUE keys: an odd multiplier mod 2^31
                # is a bijection, so keys never repeat but DO interleave
                # lexically with every stored file's range (sequential ids
                # would dodge the range prune and never reach the
                # adaptive estimate)
                "path": [f"k{(i * 2654435761) % 2**31:010d}" for i in range(lo, hi)],
                "commit": "c",
                "lang": "py",
                "content": [f"v{i}" for i in range(lo, hi)],
                "ts": pd.Timestamp("2024-01-01").as_unit("us"),
            }
        )
        df.to_parquet(feed / f"feed-{idx:05d}.parquet", index=False)

    # bootstrap: 1800 unique keys; then 20 chunks of 300 MORE unique keys
    chunk(0, 0, 1800)
    for i in range(20):
        chunk(i + 1, 1800 + i * 300, 1800 + (i + 1) * 300)
    root = str(tmp_path / "t")
    stats = run_ingest(
        spark, root, str(feed), max_files_per_batch=1, n_buckets=4,
        auto_compact_files=None,
    )
    t = open_table(root)
    lin = t.lineage()
    assert any(e.get("adaptive_append") for e in lin), "misfire never happened"
    meta_resolves = [e for e in lin if e.get("resolved_metadata_only") is not None]
    assert meta_resolves, "depth trigger never resolved metadata-only"
    # the whole run must be pure appends: no rewrite, no data-movement
    # compaction (stats.compactions counts only real compactions)
    assert all(e.get("files_replaced", 0) == 0 for e in lin)
    assert not stats.compactions
    got = t.read(spark)
    assert got.count() == 1800 + 20 * 300
    probe_ids = [0, 3000, 7799]
    keys = [f"k{(i * 2654435761) % 2**31:010d}" for i in probe_ids]
    sample = {r["path"]: r["content"] for r in got.filter(
        F.col("path").isin(*keys)).collect()}
    assert sample == {k: f"v{i}" for k, i in zip(keys, probe_ids)}


def test_adaptive_append_with_schema_evolution(spark, tmp_path):
    """Adaptive appends interleave files of DIFFERENT physical schemas in
    one bucket (the evolved column is absent from older files); the
    bucket-scoped LWW resolve must read them under the evolved schema
    (nulls for old files) and still pick the right winners."""
    t = make_table(spark, tmp_path, n_buckets=2)
    boot = batch_df(
        spark, [(i + 1, "add", "r", f"k{i:05d}", f"v{i}") for i in range(2000)]
    )
    merge_into(spark, t, boot, offsets(1), scrub=False)
    # evolved batch: extra `license` column, uniform keys -> adaptive fires
    evolved_schema = T.StructType(
        BATCH_SCHEMA.fields + [T.StructField("license", T.StringType(), True)]
    )
    upd = spark.createDataFrame(
        [(10_000 + i, "add", "r", f"k{i * 40:05d}", "NEW", "mit") for i in range(50)],
        evolved_schema,
    )
    from image_deid_etl_spark.lake.table import bucket_expr as _be

    kc = {
        r["b"]: r["count"]
        for r in upd.select(_be(2, ["repo", "path"]).alias("b")).groupBy("b").count().collect()
    }
    merge_into(spark, t, upd, offsets(2), scrub=False, key_counts=kc)
    assert t.lineage()[-1]["adaptive_append"] is True
    got = {(r["path"], r["content"], r["license"]) for r in t.read(spark).collect()}
    expected = {
        (f"k{i:05d}",
         "NEW" if (i % 40 == 0 and i < 2000) else f"v{i}",
         "mit" if (i % 40 == 0 and i < 2000) else None)
        for i in range(2000)
    }
    assert got == expected
    # resolve-compaction folds the mixed-schema versions identically
    t.compact(spark, min_files_per_bucket=1)
    assert {(r["path"], r["content"], r["license"]) for r in t.read(spark).collect()} == expected


def test_same_seq_conflict_converges_across_paths(spark, tmp_path):
    """The unified `lww_order_cols` contract: a pathological same-seq
    conflict (producer bug / re-export) must resolve to the SAME winner
    whether the commit rewrote (CoW ladder) or adaptively appended and
    was resolved at scan/compaction time."""
    results = {}
    for mode, root in [("rewrite", "t1"), ("append", "t2")]:
        t = SnapshotTable.create(
            str(tmp_path / root), SCHEMA, ["repo", "path"], 2
        )
        boot = batch_df(
            spark, [(i + 1, "add", "r", f"k{i:04d}", f"v{i}") for i in range(400)]
        )
        merge_into(spark, t, boot, offsets(1), scrub=False)
        # conflicting batch: every 8th key gets TWO events with the SAME
        # seq and different payloads (50 distinct keys over the whole
        # range -> est = 400 rows >= 6 x 50, so adaptive fires when
        # allowed)
        rows = []
        for i in range(0, 400, 8):
            rows.append((9000, "add", "r", f"k{i:04d}", f"A{i}"))
            rows.append((9000, "add", "r", f"k{i:04d}", f"B{i}"))
        conflict = batch_df(spark, rows)
        from image_deid_etl_spark.lake.table import bucket_expr as _be

        # key_counts semantics = approx DISTINCT batch keys per bucket
        kc = {
            r["b"]: r["nk"]
            for r in conflict.select(
                _be(2, ["repo", "path"]).alias("b"), "path"
            ).groupBy("b").agg(F.count_distinct("path").alias("nk")).collect()
        }
        merge_into(
            spark, t, conflict, offsets(2), scrub=False,
            key_counts=kc, adaptive=(mode == "append"),
        )
        lin = t.lineage()[-1]
        assert lin["adaptive_append"] is (mode == "append")
        results[mode] = {
            (r["path"], r["content"]) for r in t.read(spark).collect()
        }
        if mode == "append":
            # compaction must agree with the scan-time pick too
            t.compact(spark, min_files_per_bucket=1)
            assert {
                (r["path"], r["content"]) for r in t.read(spark).collect()
            } == results[mode]
    assert results["rewrite"] == results["append"]


def test_adaptive_and_pure_cow_states_identical(spark, tmp_path):
    """End-to-end: the adaptive default and adaptive-off runs of one
    mixed add/update/delete feed must produce byte-identical live
    states (the per-batch mode choice is invisible to readers)."""
    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.feed import FeedSpec, write_feed

    feed = str(tmp_path / "f")
    spec = FeedSpec(n_events=9000, n_keys=3500, n_files=20)
    write_feed(feed, spec)
    states = {}
    fired = {}
    for label, adaptive in [("on", True), ("off", False)]:
        root = str(tmp_path / f"t_{label}")
        run_ingest(spark, root, feed, max_files_per_batch=1, adaptive=adaptive)
        t = open_table(root)
        fired[label] = any(e.get("adaptive_append") for e in t.lineage())
        states[label] = sorted(
            (r["repo"], r["path"], r["content"], r["commit_seq"])
            for r in t.read(spark).collect()
        )
    assert fired["on"] and not fired["off"], fired
    assert states["on"] == states["off"]


def test_mature_table_insert_burst_does_not_misfire(spark, tmp_path):
    """r4: on a table whose candidate files carry bloom sidecars, the
    sampled existing-fraction probe deflates the adaptive estimate for
    an all-new-key uniform burst — the ladder runs, appends cleanly, and
    NOTHING is marked unresolved (contrast:
    test_insert_heavy_adaptive_misfire_* covers the young bloomless
    table, where the misfire is bounded by the metadata resolve)."""
    import numpy as np
    import pandas as pd

    from image_deid_etl_spark.cdc.engine import open_table, run_ingest

    feed = tmp_path / "f"
    feed.mkdir()
    scatter = lambda i: f"k{(i * 2654435761) % 2**31:010d}"  # noqa: E731

    def chunk(idx, ids, seq0):
        df = pd.DataFrame(
            {
                "seq": np.arange(seq0, seq0 + len(ids), dtype=np.int64),
                "op": "add",
                "repo": "r",
                "path": [scatter(i) for i in ids],
                "commit": "c",
                "lang": "py",
                "content": [f"v{i}" for i in ids],
                "ts": pd.Timestamp("2024-01-01").as_unit("us"),
            }
        )
        df.to_parquet(feed / f"feed-{idx:05d}.parquet", index=False)

    chunk(0, list(range(1800)), 1)
    for i in range(10):
        chunk(i + 1, list(range(1800 + i * 300, 1800 + (i + 1) * 300)), 20_000 + i * 300)
    root = str(tmp_path / "t")
    # bootstrap only, then make the table MATURE: sidecars for every
    # file via the public build_blooms + a metadata commit (exactly what
    # a ladder pass would have persisted via entry_updates)
    run_ingest(spark, root, str(feed), max_files_per_batch=1, n_buckets=4,
               auto_compact_files=None, max_batches=1)
    t = open_table(root)
    upd = t.build_blooms(spark, t.manifest()["files"])
    assert upd
    t.commit_snapshot(new_files=[], offsets=t.offsets(), entry_updates=upd)
    # now the 10 all-new-key uniform bursts: raw estimate would fire,
    # the sampled probe must veto every one
    run_ingest(spark, root, str(feed), max_files_per_batch=1,
               auto_compact_files=None)
    t = open_table(root)
    lin = t.lineage()
    assert not any(e.get("adaptive_append") for e in lin), "sampled probe failed"
    assert not t.unresolved_buckets()
    assert t.read(spark).count() == 1800 + 10 * 300


# --------------------------------------------------------------------- #
# legacy (pre-engine-column) files × adaptive / MoR appends (r5 ADVICE): #
# a file without key stats stores null _key; appending around it and    #
# LWW-resolving at scan time must neither lose its rows (the all-null   #
# window partition kept ONE row) nor strand it un-upgraded.             #
# --------------------------------------------------------------------- #


def _commit_legacy_file(t, rows, unresolved=False):
    """Hand-write a pre-upgrade data file: table columns + the old engine
    trio (commit_seq/_deleted/_bucket) but NO ``_key`` column, registered
    with ``key_min``/``key_max`` None — the exact shape `write_snapshot_files`
    produced before the _key upgrade. ``rows``: list of (repo, path, content,
    commit_seq)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    d = os.path.join(t.root, "data", "snap-0001", "_pb=0")
    os.makedirs(d, exist_ok=True)
    full = os.path.join(d, "part-legacy-00000.parquet")
    tbl = pa.table(
        {
            "repo": pa.array([r[0] for r in rows], pa.string()),
            "path": pa.array([r[1] for r in rows], pa.string()),
            "content": pa.array([r[2] for r in rows], pa.string()),
            "commit_seq": pa.array([r[3] for r in rows], pa.int64()),
            "_deleted": pa.array([False] * len(rows), pa.bool_()),
            "_bucket": pa.array([0] * len(rows), pa.int32()),
        }
    )
    pq_.write_table(tbl, full)
    seqs = [r[3] for r in rows]
    entry = {
        "path": os.path.relpath(full, t.root),
        "bucket": 0,
        "rows": len(rows),
        "bytes": os.path.getsize(full),
        "seq_min": min(seqs),
        "seq_max": max(seqs),
        "key_min": None,
        "key_max": None,
        "has_deletes": False,
    }
    t.commit_snapshot(
        new_files=[entry],
        offsets=offsets(1),
        unresolved_add={0} if unresolved else None,
    )
    return entry["path"]


def test_legacy_rows_resolve_by_true_key_on_read(spark, tmp_path):
    """MoR append over a legacy file: scan-time LWW must recompute null
    _key from the key columns — every legacy row keeps its identity, the
    one updated key surfaces the new version."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=1,
        properties={"merge_mode": "mor"},
    )
    _commit_legacy_file(
        t, [("r", f"p{i:03d}", "v1", 1) for i in range(100)], unresolved=True
    )
    upd = batch_df(spark, [(200, "add", "r", "p005", "v2")])
    merge_into(spark, t, upd, offsets(2), scrub=False)
    got = {(r["path"], r["content"]) for r in t.read(spark).collect()}
    assert len(got) == 100, "legacy rows must not collapse into one null-_key partition"
    assert ("p005", "v2") in got and ("p005", "v1") not in got
    assert ("p099", "v1") in got


def test_legacy_rows_resolve_in_compaction(spark, tmp_path):
    """compact(resolve_versions) over a bucket holding legacy rows must
    keep them all (and upgrade them: post-compaction files carry _key)."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=1,
        properties={"merge_mode": "mor"},
    )
    _commit_legacy_file(
        t, [("r", f"p{i:03d}", "v1", 1) for i in range(50)], unresolved=True
    )
    merge_into(
        spark, t, batch_df(spark, [(200, "add", "r", "p010", "v2")]),
        offsets(2), scrub=False,
    )
    t.compact(spark, buckets=[0])
    assert not t.unresolved_buckets()
    assert all(f["key_min"] is not None for f in t.manifest()["files"])
    got = {(r["path"], r["content"]) for r in t.read(spark).collect()}
    assert len(got) == 50 and ("p010", "v2") in got


def test_adaptive_append_vetoed_by_legacy_candidates(spark, tmp_path):
    """A uniform-update batch that clears both adaptive legs must still
    take the ladder when a candidate file lacks key stats: the ladder's
    always-rewrite upgrades the legacy file; nothing is left unresolved."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=1
    )
    legacy_path = _commit_legacy_file(
        t, [("r", f"p{i:04d}", "v1", 1) for i in range(2000)]
    )
    upd = batch_df(
        spark, [(200 + i, "add", "r", f"p{i * 20:04d}", "v2") for i in range(100)]
    )
    merge_into(
        spark, t, upd, offsets(2), scrub=False,
        touched={0},
        key_ranges={0: ("r\x1fp0000", "r\x1fp1980")},
        key_counts={0: 100},
    )
    lin = t.lineage()
    assert not any(e.get("adaptive_append") for e in lin), "legacy veto failed"
    assert not t.unresolved_buckets()
    files = t.manifest()["files"]
    assert legacy_path not in {f["path"] for f in files}, "legacy file must be rewritten"
    assert all(f["key_min"] is not None for f in files)
    got = {(r["path"], r["content"]) for r in t.read(spark).collect()}
    assert len(got) == 2000
    assert ("p0000", "v2") in got and ("p0001", "v1") in got


def test_lww_tiebreak_map_hash_is_entry_order_insensitive(spark):
    """r5 ADVICE: the same-seq tie-break hashes map payloads via
    key-SORTED entries, so a re-delivered duplicate whose map was built
    in a different producer order still ties with its original — the
    winner between it and a genuinely different payload cannot flip with
    map entry order."""
    from image_deid_etl_spark.lake.table import _lww_latest_versions

    def df(order_ab: bool):
        keys = F.array(F.lit("a"), F.lit("b")) if order_ab else F.array(F.lit("b"), F.lit("a"))
        vals = F.array(F.lit("1"), F.lit("2")) if order_ab else F.array(F.lit("2"), F.lit("1"))
        p = spark.range(1).select(
            F.lit("k").alias("_key"),
            F.lit(9000).cast("long").alias("commit_seq"),
            F.lit(False).alias("_deleted"),
            F.map_from_arrays(keys, vals).alias("meta"),
            F.lit("P").alias("content"),
        )
        q = spark.range(1).select(
            F.lit("k").alias("_key"),
            F.lit(9000).cast("long").alias("commit_seq"),
            F.lit(False).alias("_deleted"),
            F.map_from_arrays(
                F.array(F.lit("a"), F.lit("b")), F.array(F.lit("9"), F.lit("9"))
            ).alias("meta"),
            F.lit("Q").alias("content"),
        )
        return p.unionByName(q)

    w1 = _lww_latest_versions(df(True)).collect()
    w2 = _lww_latest_versions(df(False)).collect()
    assert len(w1) == len(w2) == 1
    assert w1[0]["content"] == w2[0]["content"]
    assert dict(w1[0]["meta"]) == dict(w2[0]["meta"])


def test_lww_tiebreak_survives_struct_nested_map(spark):
    """r5 review: xxhash64 rejects MapType RECURSIVELY — a map nested
    inside a struct payload column must not fail analysis at merge/read
    time. Such columns hash via their JSON serialization (best-effort
    entry order for the pathological same-seq case); the resolution must
    run and pick the normal highest-seq winner."""
    from image_deid_etl_spark.lake.table import _lww_latest_versions

    df = spark.range(2).select(
        F.lit("k").alias("_key"),
        (F.lit(1) + F.col("id")).cast("long").alias("commit_seq"),
        F.lit(False).alias("_deleted"),
        F.struct(
            F.map_from_arrays(
                F.array(F.lit("a")), F.array(F.col("id").cast("string"))
            ).alias("tags")
        ).alias("attrs"),
        F.concat(F.lit("v"), F.col("id")).alias("content"),
    )
    rows = _lww_latest_versions(df).collect()
    assert len(rows) == 1
    assert rows[0]["content"] == "v1"
    assert dict(rows[0]["attrs"]["tags"]) == {"a": "1"}


def test_sampled_probe_cost_flat_across_partitionings(spark, tmp_path):
    """r5: the existing-key probe samples BEFORE the scan (seeded hash
    thinning per bucket), so its cost is ~target_per_bucket keys per
    bucket regardless of how many partitions the batch arrives in — not
    n_partitions x per-task-cap."""
    import image_deid_etl_spark.cdc.merge as M

    t = make_table(spark, tmp_path, n_buckets=2)
    boot = batch_df(
        spark, [(i + 1, "add", "r", f"k{i:05d}", "v") for i in range(4000)]
    )
    merge_into(spark, t, boot, offsets(1), scrub=False)
    upd = t.build_blooms(spark, t.manifest()["files"])
    t.commit_snapshot(new_files=[], offsets=t.offsets(), entry_updates=upd)

    incoming = batch_df(
        spark, [(9000 + i, "add", "r", f"k{i:05d}", "w") for i in range(4000)]
    ).select(
        "*",
        bucket_expr(2, ["repo", "path"]).alias("_bucket"),
        M.key_expr(["repo", "path"]).alias("_key"),
    )
    candidates = t.manifest()["files"]
    kc = {0: 2000, 1: 2000}
    probed = {}
    fracs = {}
    for nparts in (4, 64):
        stats: dict = {}
        fr = M._sampled_existing_fraction(
            t, incoming.repartition(nparts), candidates,
            key_counts=kc, stats_out=stats,
        )
        probed[nparts] = stats["probed"]
        fracs[nparts] = fr
    # expected sample: ~512 per bucket x 2 buckets; binomial noise only.
    # Pre-fix, 64 partitions probed ~min(4000, 64 x 512) = 4000 keys.
    for nparts, p in probed.items():
        assert p <= 2 * 2 * 512, (nparts, p)
    assert abs(probed[4] - probed[64]) <= 0.25 * max(probed.values()) + 50
    # every batch key exists -> fractions ~1.0 at both partitionings
    for fr in fracs.values():
        assert fr and all(v > 0.9 for v in fr.values())


def test_lww_tiebreak_handles_nested_map_payload(spark):
    """r5 review fix: the key-sorted entry serialization sorts by KEY
    ONLY, so a payload map whose VALUES are themselves maps (unorderable
    type) still resolves instead of raising INVALID_ORDERING_TYPE."""
    from image_deid_etl_spark.lake.table import _lww_latest_versions

    df = spark.sql(
        """
        SELECT * FROM VALUES
          ('k', CAST(1 AS BIGINT), false, map('a', map('x', '1')), 'old'),
          ('k', CAST(2 AS BIGINT), false, map('a', map('x', '2')), 'new')
        AS t(_key, commit_seq, _deleted, nested, content)
        """
    )
    got = _lww_latest_versions(df).collect()
    assert len(got) == 1 and got[0]["content"] == "new"


def test_metadata_only_resolve_anchored_against_racing_append(
    spark, tmp_path, monkeypatch
):
    """r5 review fix: the metadata-only resolve must commit with
    `expected_parent` anchored at the snapshot its exact duplicate count
    described. A cross-process writer landing another append on the same
    bucket between the count and the commit would otherwise get its
    unresolved mark cleared for versions the count never saw — reads
    would then skip LWW resolution and serve superseded rows."""
    from image_deid_etl_spark.cdc.engine import run_maintenance
    from image_deid_etl_spark.lake.table import SnapshotTable as ST

    from tests.test_delete import SCHEMA, batch_df, offsets

    t = ST.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 1,
        properties={"merge_mode": "mor"},
    )
    nxt = [1]

    def add(rows):
        merge_into(spark, t, batch_df(spark, rows), offsets(nxt[0]), scrub=False)
        nxt[0] += 1

    # resolved base of 50 keys, then 3 insert-only appends -> 200 unique
    # rows >= 4 x vbase: the depth trigger fires, exact count finds no
    # duplicates -> metadata-only resolve would clear the mark
    add([(i + 1, "add", "r", f"p{i:03d}", i, f"v{i}") for i in range(50)])
    t.compact(spark, min_files_per_bucket=1)  # vbase=50, resolved
    for j in range(3):
        lo = 50 + j * 50
        add([(1000 + lo + i, "add", "r", f"p{lo + i:03d}", i, "x")
             for i in range(50)])
    assert 0 in t.unresolved_buckets()

    real = ST.read_raw
    raced = {"fired": False}

    def interloper(self, *a, **kw):
        if not raced["fired"] and kw.get("buckets") == [0] and "snapshot_id" in kw:
            raced["fired"] = True  # before the merge: it calls read_raw too
            add([(9001, "add", "r", "p000", 99, "SUPERSEDES")])
        return real(self, *a, **kw)

    monkeypatch.setattr(ST, "read_raw", interloper)
    out = run_maintenance(spark, t, {0}, auto_compact_files=999)
    monkeypatch.setattr(ST, "read_raw", real)
    assert raced["fired"] and out is None
    # the stale no-duplicates verdict must NOT have cleared the mark
    assert 0 in t.unresolved_buckets()
    # and the racing update resolves on read (LWW window still applied)
    got = {r["path"]: r["content"] for r in t.read(spark).collect()}
    assert got["p000"] == "SUPERSEDES" and len(got) == 200
    # a fresh pass (no race) sees the duplicate and resolve-compacts
    assert run_maintenance(spark, t, {0}, auto_compact_files=999) == 0
    assert 0 not in t.unresolved_buckets()
    got = {r["path"]: r["content"] for r in t.read(spark).collect()}
    assert got["p000"] == "SUPERSEDES" and len(got) == 200

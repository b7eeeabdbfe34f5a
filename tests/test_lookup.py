"""Point lookup (`lookup_keys`, r5 s6): the MERGE prune ladder on the
read side — bucket route → manifest key-range overlap → bloom sidecar
probe → scan only surviving files, LWW-resolve, drop tombstones.

Reference analog: the per-UUID existence probes of
`image_deid_etl/orthanc.py` (fetch exactly the named studies, never a
listing scan).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from image_deid_etl_spark.lake.table import SnapshotTable, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)


def _commit(spark, t, rows, seq, deleted=False, unresolved=False):
    df = spark.createDataFrame(rows, SCHEMA).select(
        "*",
        F.lit(seq).cast("long").alias("commit_seq"),
        F.lit(deleted).alias("_deleted"),
        bucket_expr(t.n_buckets(), ["repo", "path"]).alias("_bucket"),
    )
    e = t.write_snapshot_files(df, seq)
    t.commit_snapshot(
        e,
        None,
        {"committed_feed_files": seq, "max_seq_seen": seq, "batch_id": seq - 1},
        unresolved_add=set(range(t.n_buckets())) if unresolved else None,
    )


def _mk(spark, tmp_path, n_buckets=4, target_file_rows=200):
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets,
        target_file_rows=target_file_rows,
    )
    for seq in (1, 2, 3):
        _commit(
            spark, t,
            [(f"r{seq}", f"p{i}", f"c{seq}-{i}") for i in range(1000)],
            seq,
        )
    return t


def test_lookup_matches_read_and_misses_are_absent(spark, tmp_path):
    t = _mk(spark, tmp_path)
    keys = [("r2", "p7"), {"repo": "r3", "path": "p999"}, ("rX", "missing")]
    got = sorted(
        (r.repo, r.path, r.content, r.commit_seq)
        for r in t.lookup_keys(spark, keys).collect()
    )
    assert got == [("r2", "p7", "c2-7", 2), ("r3", "p999", "c3-999", 3)]
    # schema identical to read()
    assert t.lookup_keys(spark, keys).columns == t.read(spark).columns
    assert t.lookup_keys(spark, []).count() == 0


def test_lookup_lists_a_bounded_file_set(spark, tmp_path):
    t = _mk(spark, tmp_path)
    total = len(t.manifest()["files"])
    _kdf, paths = t._lookup_candidates(spark, [("r2", "p7")])
    # one key → its bucket's range-matching chunk files only, never the
    # bucket (each commit writes ~2 chunk files per bucket here)
    assert 1 <= len(paths) <= 4 < total


def test_lookup_blooms_prune_range_overlapping_files(spark, tmp_path):
    """Two commits interleave the SAME key space (even/odd paths of one
    repo) so their files' key ranges overlap — the range leg cannot
    separate them; the bloom sidecars must."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 2, target_file_rows=1000
    )
    _commit(spark, t, [("r", f"p{i:04d}", "even") for i in range(0, 2000, 2)], 1)
    _commit(spark, t, [("r", f"p{i:04d}", "odd") for i in range(1, 2000, 2)], 2)
    _kdf, before = t._lookup_candidates(spark, [("r", "p0101")])
    assert len(before) >= 2  # ranges overlap: both commits' files survive
    # build blooms for every file (what MERGE does lazily) and fold them
    # into the manifest as carried-forward metadata
    entries = t.manifest()["files"]
    updates = t.build_blooms(spark, entries)
    assert updates
    t.commit_snapshot([], None, {"batch_id": 99}, entry_updates=updates)
    _kdf, after = t._lookup_candidates(spark, [("r", "p0101")])
    assert len(after) < len(before)
    got = t.lookup_keys(spark, [("r", "p0101")]).collect()
    assert [(r.path, r.content) for r in got] == [("p0101", "odd")]


def test_lookup_resolves_versions_and_tombstones(spark, tmp_path):
    """Unresolved (MoR/adaptive) buckets hold superseded versions and
    tombstones; the lookup must LWW-resolve exactly like read()."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 2, target_file_rows=100
    )
    _commit(spark, t, [("r", f"p{i}", f"v1-{i}") for i in range(50)], 1)
    # MoR-style appends: newer version of p7, tombstone of p9
    _commit(spark, t, [("r", "p7", "v2-7")], 2, unresolved=True)
    _commit(spark, t, [("r", "p9", None)], 3, deleted=True, unresolved=True)
    got = {
        (r.path): (r.content, r.commit_seq)
        for r in t.lookup_keys(spark, [("r", "p7"), ("r", "p9"), ("r", "p1")]).collect()
    }
    assert got == {"p7": ("v2-7", 2), "p1": ("v1-1", 1)}  # p9 deleted
    # parity with the full read path
    rd = {
        r.path: (r.content, r.commit_seq)
        for r in t.read(spark).filter(F.col("path").isin(["p7", "p9", "p1"])).collect()
    }
    assert rd == got


def test_lookup_snapshot_pinning_and_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path)
    pre = t.snapshot_id
    t.compact(spark)
    got = t.lookup_keys(spark, [("r1", "p5")]).collect()
    assert [(r.content) for r in got] == ["c1-5"]
    # pinned lookup at the pre-compaction snapshot reads the old files
    got_pin = t.lookup_keys(spark, [("r1", "p5")], snapshot_id=pre).collect()
    assert [(r.content) for r in got_pin] == ["c1-5"]


def test_lookup_key_arity_and_missing_column_errors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        t.lookup_keys(spark, [("only-one",)])
    with pytest.raises(ValueError):
        t.lookup_keys(spark, [{"repo": "r1"}])


def test_lookup_plan_broadcasts_keys_and_lists_pruned_files(spark, tmp_path):
    """Plan pin: the key side broadcasts (never a shuffled join for a
    bounded key list) and the scan's file list is the pruned candidate
    set, not the table."""
    t = _mk(spark, tmp_path)
    df = t.lookup_keys(spark, [("r2", "p7")])
    p = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    _kdf, paths = t._lookup_candidates(spark, [("r2", "p7")])
    assert sorted(df.inputFiles()) == sorted(f"file://{q}" for q in paths) or len(
        df.inputFiles()
    ) == len(paths)


def test_lookup_parity_over_ingest_lifecycle(spark, tmp_path):
    """Integration: after a real feed ingest + UPDATE + DELETE + compact,
    `lookup_keys` over a sample of live and deleted keys must equal the
    full read() filtered to those keys."""
    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.feed import FeedSpec, write_feed
    from image_deid_etl_spark.cdc.merge import delete_where, update_where

    feed, root = str(tmp_path / "feed"), str(tmp_path / "t")
    write_feed(feed, FeedSpec(n_events=2000, n_keys=150, dup_frac=0.05))
    run_ingest(spark, root, feed, max_files_per_batch=4)
    t = open_table(root)
    update_where(
        spark, t, {"lang": F.upper(F.col("lang"))}, condition="lang = 'python'"
    )
    delete_where(spark, t, condition="path like 'src/d1%'")
    t.compact(spark)
    full = t.read(spark)
    live = [(r.repo, r.path) for r in full.limit(8).collect()]
    deleted = [("org0/repo0", "src/d1/f1.py"), ("no/such", "k")]
    keys = live + deleted
    got = sorted(
        (r.repo, r.path, r.content, r.commit_seq)
        for r in t.lookup_keys(spark, keys).collect()
    )
    kset = set(keys)
    exp = sorted(
        (r.repo, r.path, r.content, r.commit_seq)
        for r in full.collect()
        if (r.repo, r.path) in kset
    )
    assert got == exp and len(got) == len(live)


def _probe_df(spark, t, *keys):
    """The MERGE probes' input shape: ``_bucket`` + ``_key`` per key."""
    from image_deid_etl_spark.lake.table import key_expr

    return spark.createDataFrame(list(keys), "repo string, path string").select(
        bucket_expr(t.n_buckets(), ["repo", "path"]).alias("_bucket"),
        key_expr(["repo", "path"]).alias("_key"),
    )


def test_bloom_driver_and_executor_paths_keep_the_same_files(spark, tmp_path):
    """The driver-side lookup leg and the executor-side MERGE probe test
    the same sidecars with the same hash pair and kernel: for keys inside
    every file's range, both keep exactly the same files."""
    from image_deid_etl_spark.cdc.merge import _bloom_prune

    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 1, target_file_rows=1000
    )
    _commit(spark, t, [("r", f"p{i:04d}", "even") for i in range(0, 400, 2)], 1)
    _commit(spark, t, [("r", f"p{i:04d}", "odd") for i in range(1, 400, 2)], 2)
    t.commit_snapshot(
        [], None, {"batch_id": 9},
        entry_updates=t.build_blooms(spark, t.manifest()["files"]),
    )
    files = t.manifest()["files"]
    assert len(files) == 2 and all(f.get("bloom_path") for f in files)
    kept = {}
    for p in ("p0100", "p0101", "p0200x", "p0301x"):
        key = ("r", p)
        _kdf, driver = t._lookup_candidates(spark, [key])
        executor = _bloom_prune(t, _probe_df(spark, t, key), files)
        kept[p] = sorted(os.path.join(t.root, f["path"]) for f in executor)
        assert sorted(driver) == kept[p], p
    # not vacuous: each stored key keeps only its own commit's file
    assert len(kept["p0100"]) == len(kept["p0101"]) == 1
    assert kept["p0100"] != kept["p0101"]


def test_unreadable_sidecar_keeps_its_file(spark, tmp_path):
    """A missing, 0-byte or truncated sidecar proves nothing: both MERGE
    probes and the point lookup keep its file a candidate (the exact
    scan guards correctness) instead of raising mid-job."""
    from image_deid_etl_spark.cdc.merge import (
        _bloom_prune,
        _sampled_existing_fraction,
    )

    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 1, target_file_rows=1000
    )
    _commit(spark, t, [("r", f"p{i:03d}", f"c{i}") for i in range(0, 400, 2)], 1)
    t.commit_snapshot(
        [], None, {"batch_id": 9},
        entry_updates=t.build_blooms(spark, t.manifest()["files"]),
    )
    files = t.manifest()["files"]
    [target] = files
    target_abs = os.path.join(t.root, target["path"])
    sidecar = os.path.join(t.root, target["bloom_path"])
    good = open(sidecar, "rb").read()
    stored, absent = ("r", "p100"), ("r", "p101")  # absent is in range
    # healthy sidecar: the bloom alone rejects the absent key
    assert t._lookup_candidates(spark, [absent])[1] == []
    assert _bloom_prune(t, _probe_df(spark, t, absent), files) == []
    assert _sampled_existing_fraction(t, _probe_df(spark, t, stored), files) == {0: 1.0}

    for fault, data in (
        ("missing", None), ("0-byte", b""), ("truncated", good[: len(good) // 2])
    ):
        if data is None:
            os.remove(sidecar)
        else:
            with open(sidecar, "wb") as fh:
                fh.write(data)
        assert t._lookup_candidates(spark, [absent])[1] == [target_abs], fault
        assert _bloom_prune(t, _probe_df(spark, t, absent), files) == [target], fault
        got = [(r.path, r.content) for r in t.lookup_keys(spark, [stored]).collect()]
        assert got == [("p100", "c100")], fault
        # an unreadable sidecar counts as no sidecar (and raises no
        # error): a bucket with only unreadable ones keeps the raw model
        # instead of reading as "all keys new" ({0: 0.0})
        assert _sampled_existing_fraction(
            t, _probe_df(spark, t, stored), files
        ) is None, fault
        # ... and is left out of the probe even with no coverage gate
        assert _sampled_existing_fraction(
            t, _probe_df(spark, t, stored), files, min_coverage=0.0
        ) == {}, fault

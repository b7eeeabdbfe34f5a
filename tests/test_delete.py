"""Row-level predicate DELETE (`cdc/merge.py` `delete_where`) and
clustering compaction (`compact(cluster_by=...)` / table property).

DELETE rides the MERGE path end to end, so these tests pin what that
buys: prune-ladder-bounded rewrites, LWW total order vs late events,
atomicity under an injected crash, changelog net-change records, and
merge-on-read append semantics. Clustering compaction is pinned by a
deterministic file-prune count (manifest `col_stats` ranges), never by
wall-clock.

Reference analog: the modality-delete pass (`custom_etl.py:41-45`).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from image_deid_etl_spark.cdc.merge import SimulatedCrash, delete_where, merge_into
from image_deid_etl_spark.lake.table import NONE, SnapshotTable, _stats_verdict

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("ts", T.LongType(), True),
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
    """rows: (seq, op, repo, path, ts, content)"""
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def offsets(n):
    return {"committed_feed_files": n, "max_seq_seen": n * 1000, "batch_id": n - 1}


def make_table(spark, tmp_path, properties=None, **kw):
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 4,
        properties=properties, **kw,
    )
    b = batch_df(
        spark, [(i + 1, "add", "r", f"p{i}", i, f"v{i}") for i in range(40)]
    )
    merge_into(spark, t, b, offsets(1), scrub=False)
    return t


def live_paths(spark, t):
    return {r.path for r in t.read(spark).select("path").collect()}


def test_delete_where_condition(spark, tmp_path):
    """DELETE removes exactly the matching rows; tombstones are stored
    (read_raw) but hidden (read); pre-delete snapshots still show them."""
    t = make_table(spark, tmp_path)
    pre_snap = t.snapshot_id
    res = delete_where(spark, t, condition="ts < 10")
    assert res["deleted"] == 10
    assert live_paths(spark, t) == {f"p{i}" for i in range(10, 40)}
    raw = t.read(spark, snapshot_id=res["snapshot_id"])
    assert raw.count() == 30
    stored = t.read_raw(spark).filter(F.col("_deleted"))
    assert stored.count() == 10
    # time travel: the pre-delete snapshot is untouched
    assert t.read(spark, snapshot_id=pre_snap).count() == 40
    # delete is a data-only commit: offsets carried unchanged (the
    # tombstone claims seq == max_seq_seen and wins by the _deleted-first
    # tie rank, never intruding into the source's seq namespace)
    assert t.offsets()["max_seq_seen"] == 1000
    res2 = delete_where(spark, t, condition="ts >= 35")
    assert res2["deleted"] == 5
    assert len(live_paths(spark, t)) == 25


def test_delete_lww_vs_late_and_new_events(spark, tmp_path):
    """A replayed OLDER event for a deleted key loses to the tombstone;
    the source's very NEXT seq legitimately resurrects the key (the
    tombstone sits AT max_seq_seen via the _deleted-first tie rank, so
    no future source seq is ever swallowed)."""
    t = make_table(spark, tmp_path)
    delete_where(spark, t, condition="path = 'p5'")
    tomb_seq = t.offsets()["max_seq_seen"]  # tombstone claims exactly this
    # late replay of the original insert (seq 6 << tombstone): no-op
    late = batch_df(spark, [(6, "add", "r", "p5", 5, "v5")])
    merge_into(spark, t, late, offsets(2), scrub=False)
    assert "p5" not in live_paths(spark, t)
    # same-seq tie (an event already counted in max_seq_seen, replayed):
    # _deleted ranks first — still deleted
    tie = batch_df(spark, [(tomb_seq, "add", "r", "p5", 5, "tie")])
    merge_into(spark, t, tie, offsets(3), scrub=False)
    assert "p5" not in live_paths(spark, t)
    # the source's NEXT seq — the first genuinely-new event — resurrects
    new = batch_df(spark, [(tomb_seq + 1, "add", "r", "p5", 5, "back")])
    merge_into(spark, t, new, offsets(4), scrub=False)
    assert "p5" in live_paths(spark, t)


def test_delete_empty_match_is_noop(spark, tmp_path):
    """A predicate matching nothing commits nothing."""
    t = make_table(spark, tmp_path)
    snap = t.snapshot_id
    res = delete_where(spark, t, condition="ts > 10000")
    assert res == {"deleted": 0, "snapshot_id": snap}
    assert t.snapshot_id == snap
    with pytest.raises(ValueError):
        delete_where(spark, t)


def test_delete_anchors_concurrency_at_scan_time(spark, tmp_path):
    """A commit landing between the delete's matching scan and its merge
    must fail the delete (optimistic concurrency), not let a
    stale-matched tombstone batch land over the new state."""
    from image_deid_etl_spark.lake.table import ConcurrentCommitError

    t = make_table(spark, tmp_path)
    anchor = t.snapshot_id
    # racing writer commits first
    b = batch_df(spark, [(500, "add", "r", "race", 99, "x")])
    merge_into(spark, t, b, offsets(2), scrub=False)
    # a merge anchored at the pre-race snapshot must be rejected
    stale = batch_df(spark, [(0, "delete", "r", "p0", 0, None)])
    with pytest.raises(ConcurrentCommitError):
        merge_into(
            spark, t, stale, offsets(3), scrub=False, expected_parent=anchor
        )
    assert "p0" in live_paths(spark, t)


def test_delete_crash_then_replay_is_idempotent(spark, tmp_path):
    """Crash between apply and commit leaves the table untouched
    (atomic pointer); re-running the same delete converges."""
    t = make_table(spark, tmp_path)
    snap = t.snapshot_id
    with pytest.raises(SimulatedCrash):
        delete_where(spark, t, condition="ts < 10", fail_before_commit=True)
    assert t.snapshot_id == snap
    assert t.read(spark).count() == 40
    res = delete_where(spark, t, condition="ts < 10")
    assert res["deleted"] == 10
    assert t.read(spark).count() == 30


def test_delete_where_stats_bounds_prune_and_match(spark, tmp_path):
    """`where` bounds file-prune the matching scan via stats_cols AND
    combine exactly with the residual condition."""
    t = make_table(
        spark, tmp_path,
        properties={"stats_cols": ["ts"]},
        target_file_rows=8,
    )
    res = delete_where(
        spark, t, condition="path != 'p3'", where={"ts": (0, 9)}
    )
    assert res["deleted"] == 9  # ts 0..9 minus the excluded p3
    assert live_paths(spark, t) == {"p3"} | {f"p{i}" for i in range(10, 40)}


def test_delete_on_mor_table_appends_tombstones(spark, tmp_path):
    """On a merge-on-read table the delete APPENDS tombstone winners
    (no rewrite); the read-time LWW window hides the keys."""
    t = make_table(spark, tmp_path, properties={"merge_mode": "mor"})
    files_before = {f["path"] for f in t.manifest()["files"]}
    res = delete_where(spark, t, condition="ts % 2 = 0")
    assert res["deleted"] == 20
    files_after = {f["path"] for f in t.manifest()["files"]}
    assert files_before <= files_after, "MoR delete must not rewrite"
    assert live_paths(spark, t) == {f"p{i}" for i in range(40) if i % 2 == 1}
    # resolve-compaction folds the tombstone versions; state unchanged
    t.compact(spark, min_files_per_bucket=1, resolve_versions=True)
    assert live_paths(spark, t) == {f"p{i}" for i in range(40) if i % 2 == 1}


def test_uniform_delete_fires_adaptive_append(spark, tmp_path):
    """A delete set spread uniformly over a big table takes the adaptive
    tombstone-append path (O(batch) write) instead of rewriting every
    matched file — the same decision an update batch gets, fed by the
    same batch-stats job."""
    t = SnapshotTable.create(str(tmp_path / "t"), SCHEMA, ["repo", "path"], 4)
    rows = [(i + 1, "add", "r", f"p{i:05d}", i, "v") for i in range(2000)]
    merge_into(spark, t, batch_df(spark, rows), offsets(1), scrub=False)
    t.compact(spark, min_files_per_bucket=1)
    files_before = {f["path"] for f in t.manifest()["files"]}
    res = delete_where(spark, t, condition="ts % 40 = 0")
    assert res["deleted"] == 50
    assert t.lineage()[-1]["adaptive_append"] is True
    files_after = {f["path"] for f in t.manifest()["files"]}
    assert files_before <= files_after, "adaptive delete must not rewrite"
    assert t.read(spark).count() == 1950
    # resolve-compaction folds the appended tombstone versions; identical
    t.compact(spark, min_files_per_bucket=1)
    assert t.read(spark).count() == 1950


def test_delete_records_changelog_net_changes(spark, tmp_path):
    """With the materialized changelog enabled, the delete commit's log
    carries one 'delete' change per erased key and the fold window
    spanning it reproduces the post-delete state."""
    t = make_table(spark, tmp_path, properties={"changelog": True})
    t.materialize_changelog(spark)
    frm = t.snapshot_id
    res = delete_where(spark, t, condition="ts < 5")
    ch = t.read_changes(spark, frm, res["snapshot_id"])
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_type == {"delete": 5}
    dels = {r.path for r in ch.select("path").collect()}
    assert dels == {f"p{i}" for i in range(5)}


def test_delete_interleaved_with_crash_resume_feed(spark, tmp_path):
    """DELETE issued mid-replay on a half-ingested table, with a crash
    injected inside the delete itself: the atomic pointer keeps the
    table untouched, the replayed delete lands, still-pending feed
    chunks (all strictly newer seqs) legitimately resurrect the keys
    they re-touch, and the final state matches the pandas accounting —
    then a full resolve-compaction is a visible no-op."""
    import numpy as np
    import pandas as pd

    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.oracle import fold_feed, sha256_state

    feed = tmp_path / "f"
    feed.mkdir()
    scatter = lambda i: f"k{(i * 2654435761) % 2**31:010d}"  # noqa: E731
    all_events = []

    def chunk(idx, ids, seq0):
        df = pd.DataFrame(
            {
                "seq": np.arange(seq0, seq0 + len(ids), dtype=np.int64),
                "op": "add",
                "repo": "r",
                "path": [scatter(i) for i in ids],
                "commit": "c",
                "lang": "py",
                "content": [f"v{i}s{seq0 + j}" for j, i in enumerate(ids)],
                "ts": pd.Timestamp("2024-01-01").as_unit("us"),
            }
        )
        df.to_parquet(feed / f"feed-{idx:05d}.parquet", index=False)
        all_events.append(df)

    rng = np.random.RandomState(7)
    chunk(0, list(range(600)), 1)
    for u in range(4):  # scattered update chunks, strictly rising seqs
        chunk(1 + u, list(rng.choice(600, 100, replace=False)), 10_000 + u * 100)

    root = str(tmp_path / "t")
    with pytest.raises(SimulatedCrash):
        run_ingest(spark, root, feed, max_files_per_batch=1, n_buckets=2,
                   fail_before_commit_on_batch=2)
    t = open_table(root)  # chunks 0-1 committed

    PRED = "path < 'k0500000000'"
    snap = t.snapshot_id
    with pytest.raises(SimulatedCrash):
        delete_where(spark, t, condition=PRED, fail_before_commit=True)
    assert t.snapshot_id == snap
    res = delete_where(spark, t, condition=PRED)
    pre_state = fold_feed(pd.concat(all_events[:2], ignore_index=True))
    del_keys = set(pre_state.loc[pre_state["path"] < "k0500000000", "path"])
    assert res["deleted"] == len(del_keys) > 0

    run_ingest(spark, root, feed, max_files_per_batch=1)  # chunks 2-4

    later_touched = set(pd.concat(all_events[2:], ignore_index=True)["path"])
    dropped = del_keys - later_touched
    assert dropped, "fixture must leave some keys permanently deleted"
    assert del_keys & later_touched, "fixture must resurrect some keys"
    expected = sha256_state(fold_feed(pd.concat(all_events, ignore_index=True)))
    expected = expected[~expected["path"].isin(dropped)].reset_index(drop=True)

    def state():
        return (
            t.read(spark)
            .select("repo", "path", F.sha2("content", 256).alias("sha256"))
            .orderBy("repo", "path")
            .toPandas()
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(state(), expected, check_dtype=False)
    t.compact(spark, min_files_per_bucket=1, resolve_versions=True)
    assert not t.unresolved_buckets()
    pd.testing.assert_frame_equal(state(), expected, check_dtype=False)


def test_seq_high_header_and_legacy_fallback(spark, tmp_path):
    """The tombstone seq source: O(1) manifest header on current tables;
    a legacy manifest without it walks per-file seq_max; files without
    even THOSE stats are narrow-scanned (commit_seq column) — silent
    under-estimation would silently fail an erasure."""
    import json
    import os

    t = make_table(spark, tmp_path)  # rows seq 1..40, max_seq_seen 1000
    assert t.manifest(with_files=False)["seq_high"] == 40
    assert t.seq_high() == 1000  # folded with offsets.max_seq_seen

    # simulate a legacy manifest: no header, offsets understating, and
    # per-file seq stats stripped
    m = t.manifest(with_files=False)
    m.pop("seq_high")
    m["offsets"] = dict(m["offsets"], max_seq_seen=0)
    for shard in m["file_shards"].values():
        p = t._shard_path(shard)
        entries = json.load(open(p))
        for e in entries:
            e["seq_max"] = None
        json.dump(entries, open(p, "w"))
    t._write_manifest(m)

    with pytest.raises(ValueError):
        t.seq_high()  # needs spark for the narrow scan
    assert t.seq_high(spark) == 40  # true stored max, from the column scan
    # and the delete built on it still erases everything it matched
    res = delete_where(spark, t, condition="ts < 10")
    assert res["deleted"] == 10
    assert t.read(spark).count() == 30


# --------------------------------------------------------------------- #
# named snapshot refs (tags)
# --------------------------------------------------------------------- #


def test_tags_pin_snapshots_against_expiry(spark, tmp_path):
    """A tagged snapshot (and its files) survives expire_snapshots until
    the tag is dropped; read(tag=...) resolves it; tagging never commits."""
    t = make_table(spark, tmp_path)
    t.tag("v1")
    assert t.refs() == {"v1": t.snapshot_id}
    v1 = t.snapshot_id
    delete_where(spark, t, condition="ts < 20")
    b = batch_df(spark, [(900, "add", "r", "extra", 99, "x")])
    merge_into(spark, t, b, offsets(2), scrub=False)
    assert t.read(spark, tag="v1").count() == 40  # pre-delete state
    # expire with keep_last=1: v1 is outside the tail but tagged
    res = t.expire_snapshots(keep_last=1)
    assert v1 not in res["expired_snapshots"]
    assert v1 in t.snapshots()
    assert t.read(spark, tag="v1").count() == 40
    # mutually-exclusive pinning forms; unknown tag errors
    with pytest.raises(ValueError):
        t.read(spark, snapshot_id=v1, tag="v1")
    with pytest.raises(ValueError):
        t.read(spark, tag="nope")
    # drop the tag: the snapshot becomes expirable and is reclaimed
    assert t.drop_tag("v1") == v1
    t.expire_snapshots(keep_last=1)
    assert v1 not in t.snapshots()
    with pytest.raises(ValueError):
        t.tag("v1", snapshot_id=v1)  # expired snapshots cannot be tagged
    with pytest.raises(KeyError):
        t.drop_tag("v1")


# --------------------------------------------------------------------- #
# clustering compaction (cluster_by)
# --------------------------------------------------------------------- #


def _files_matching(t, where):
    """Manifest entries a `read(where=...)` would list (the deterministic
    prune measure — file counts, not wall time)."""
    verdict = _stats_verdict({c: b for c, b in where.items()})
    return [f for f in t.manifest()["files"] if verdict(f) != NONE]


def test_cluster_by_compaction_tightens_data_skipping(spark, tmp_path):
    """Key-clustered files scatter a time column across every file; a
    clustering compaction re-sorts buckets by it, so a time-range read
    prunes to a strict subset of files while returning IDENTICAL rows."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 2,
        target_file_rows=32,
        properties={"stats_cols": ["ts"]},
    )
    # ts anti-correlated with key order: every key-sorted chunk spans
    # nearly the full ts range -> skipping is useless pre-compaction
    rows = [(i + 1, "add", "r", f"p{i:04d}", (i * 7919) % 512, "v") for i in range(512)]
    merge_into(spark, t, batch_df(spark, rows), offsets(1), scrub=False)
    where = {"ts": (0, 63)}
    before_all = len(t.manifest()["files"])
    before = len(_files_matching(t, where))
    # scattered layout: essentially every file intersects the range
    # (a tail chunk may miss it by chance — allow a sliver of slack)
    assert before >= before_all - 2, "anti-correlated layout must not prune"
    expected = sorted(
        (r.path, r.ts) for r in t.read(spark, where=where).collect()
    )
    res = t.compact(spark, min_files_per_bucket=1, cluster_by=["ts"])
    assert res["compacted_buckets"] == [0, 1]
    after_all = len(t.manifest()["files"])
    after = len(_files_matching(t, where))
    assert after < after_all, "clustered layout must prune the range scan"
    assert after <= max(2, after_all // 4)
    got = sorted((r.path, r.ts) for r in t.read(spark, where=where).collect())
    assert got == expected, "pruning must never change results"
    # rows and full state unchanged by the rewrite
    assert t.read(spark).count() == 512


def test_cluster_by_property_applies_on_compact_and_rebucket(spark, tmp_path):
    """The `cluster_by` table property is the default for maintenance
    rewrites — compact() picks it up with no argument, rebucket() too."""
    t = SnapshotTable.create(
        str(tmp_path / "t"), SCHEMA, ["repo", "path"], 2,
        target_file_rows=32,
        properties={"stats_cols": ["ts"], "cluster_by": ["ts"]},
    )
    rows = [(i + 1, "add", "r", f"p{i:04d}", (i * 7919) % 512, "v") for i in range(512)]
    merge_into(spark, t, batch_df(spark, rows), offsets(1), scrub=False)
    t.compact(spark, min_files_per_bucket=1)
    where = {"ts": (0, 63)}
    assert len(_files_matching(t, where)) < len(t.manifest()["files"])
    assert t.lineage()[-1]["cluster_by"] == ["ts"]
    res = t.rebucket(spark, 4)
    assert res["to_buckets"] == 4
    assert len(_files_matching(t, where)) < len(t.manifest()["files"])
    assert t.read(spark).count() == 512

"""Each commit's change log is computed once.

* The write-time capture (`cdc.merge._capture_changes_plan`) and the two
  window folds (`read_changes` / `classified_changes` over materialized
  logs) run as ONE pass: the AQE final plan, read after execution, holds
  one scan of their input and one keyed exchange — never a union of
  filtered branches that re-executes the scan, window, aggregate and
  scrub UDF once per change type.
* State-preserving compactions publish their (empty) log directly instead
  of diffing the touched buckets; tombstone-GC compactions, which can
  change live state, keep the diff.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from image_deid_etl_spark.cdc.engine import open_table
from image_deid_etl_spark.cdc.merge import merge_into
from image_deid_etl_spark.lake.table import SnapshotTable

_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("content", T.StringType(), True),
    ]
)
_BATCH = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
    ]
    + _SCHEMA.fields
)


def _batch(spark, rows):
    """rows: (seq, op, repo, path, content)"""
    return spark.createDataFrame(rows, _BATCH)


def _offsets(n):
    return {"committed_feed_files": n, "max_seq_seen": n * 1000, "batch_id": n - 1}


def _table(tmp_path, name="t"):
    return SnapshotTable.create(
        str(tmp_path / name), _SCHEMA, ["repo", "path"], n_buckets=4,
        properties={"changelog": True},
    )


def _final_plan(df) -> str:
    """The AQE final physical plan of ``df``'s LAST execution (the
    initial plan, which the same string also prints, is cut off)."""
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in s, s
    return s.split("== Initial Plan ==")[0]


def _lines(plan: str, *needles: str) -> int:
    return sum(all(n in ln for n in needles) for ln in plan.splitlines())


def _frame(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["repo", "path", "_change_type"])
        .reset_index(drop=True)
    )


def _no_diff(t):
    """Instance-shadow the diff producer: any call fails the test."""
    def boom(*a, **k):
        raise AssertionError("snapshot-diff materialization ran")
    t.materialize_changelog = boom
    return t


def test_capture_and_folds_execute_single_pass(spark, tmp_path, monkeypatch):
    t = _table(tmp_path)
    merge_into(
        spark, t,
        _batch(spark, [(i + 1, "add", "r", f"k{i:03d}", f"mail u{i}@x.io")
                       for i in range(60)]),
        _offsets(1),
    )
    plans: list[str] = []
    publish = SnapshotTable.write_changelog_rows

    def spy(self, spark_, sid, ch):
        ch.collect()
        plans.append(_final_plan(ch))
        return publish(self, spark_, sid, ch)

    monkeypatch.setattr(SnapshotTable, "write_changelog_rows", spy)
    merge_into(
        spark, t,
        _batch(spark, [(100 + i, "add", "r", f"k{i:03d}", "ssn 123-45-6789")
                       for i in range(0, 60, 3)]
               + [(200, "delete", "r", "k001", None),
                  (201, "add", "r", "new", "v")]),
        _offsets(2),
    )
    assert len(plans) == 1, "the merge must capture its own log"
    cap = plans[0]
    # one candidate-file scan (the batch is an in-memory relation), one
    # scrub UDF node, one row emission — the four-branch union had four
    # of each
    assert _lines(cap, "FileScan parquet") == 1, cap
    assert _lines(cap, "ArrowEvalPython") <= 1, cap
    assert _lines(cap, "Generate inline") == 1, cap
    assert _lines(cap, "Window [") == 2, cap  # rank + preimage pick
    # the window's exchange only: the cached batch keys broadcast as is
    assert _lines(cap, "Exchange hashpartitioning") == 1, cap

    monkeypatch.undo()
    for fold in (t.read_changes(spark, 0), t.classified_changes(spark, 0)):
        fold.collect()
        p = _final_plan(fold)
        # a changelog file is the one scan whose schema has _change_type
        assert _lines(p, "FileScan parquet", "_change_type:string") == 1, p
        assert _lines(p, "Aggregate(", "partial_") == 1, p
        assert _lines(p, "Exchange hashpartitioning") == 1, p
        assert _lines(p, "Union") == 0, p
    # and the single pass still answers exactly what the diff does
    for changes in (t.read_changes, t.classified_changes):
        pd.testing.assert_frame_equal(
            _frame(changes(spark, 0, use_changelog=True)),
            _frame(changes(spark, 0, use_changelog=False)),
        )


def _versioned(spark, tmp_path, name):
    """A clean changelog table whose second commit is an adaptive
    CoW→MoR append: every bucket then holds superseded versions and one
    tombstone (k0008) next to its base row."""
    t = _table(tmp_path, name)
    merge_into(
        spark, t,
        _batch(spark, [(i + 1, "add", "r", f"k{i:04d}", f"v{i}") for i in range(400)]),
        _offsets(1),
    )
    rows = [(1000 + i, "add", "r", f"k{i * 8:04d}", "v2") for i in range(49)]
    rows.append((1050, "delete", "r", "k0008", None))
    merge_into(spark, t, _batch(spark, rows), _offsets(2),
               key_counts={b: 50 // 4 for b in range(4)})
    t = open_table(t.root)
    assert t.lineage()[-1]["adaptive_append"] is True, "flip did not fire"
    assert t.unresolved_buckets(), "adaptive append must leave versions"
    return t


def test_compaction_log_is_written_empty(spark, tmp_path):
    t = _versioned(spark, tmp_path, "cmp")
    pre = t.snapshot_id
    t = _no_diff(open_table(t.root))
    res = t.compact(spark, min_files_per_bucket=1)
    assert res["compacted_buckets"], "nothing compacted"
    sid = t.snapshot_id
    assert sid == pre + 1 and t.changelog_ready(sid)
    assert not t.unresolved_buckets(), "compaction must fold the versions"
    # the published log is empty ...
    t = open_table(t.root)
    assert (
        spark.read.schema(t.changelog_read_schema(sid))
        .parquet(t._changelog_dir(sid)).count() == 0
    )
    assert t.read_changes(spark, pre, sid).count() == 0
    # ... which is exactly what the diff over that commit finds
    assert t.read_changes(spark, pre, sid, use_changelog=False).count() == 0
    assert t.classified_changes(spark, pre, sid, use_changelog=False).count() == 0
    # a window spanning the compaction folds equal to the diff
    merge_into(
        spark, t,
        _batch(spark, [(2000, "add", "r", "k0016", "v3"),
                       (2001, "delete", "r", "k0024", None)]),
        _offsets(3),
    )
    for a in (0, 1, pre):
        for changes in (t.read_changes, t.classified_changes):
            pd.testing.assert_frame_equal(
                _frame(changes(spark, a, use_changelog=True)),
                _frame(changes(spark, a, use_changelog=False)),
                obj=f"{changes.__name__} ({a}, {t.snapshot_id}]",
            )


def test_tombstone_gc_compaction_log_is_the_diff(spark, tmp_path):
    """Dropping tombstones can change live state — here a version-keeping
    GC drops k0008's tombstone and its superseded base row reappears —
    so that compaction's log must still be the diff, not empty."""
    t = _versioned(spark, tmp_path, "gc")
    pre = t.snapshot_id
    t.compact(spark, min_files_per_bucket=1, drop_tombstones_below=10**9,
              resolve_versions=False)
    t = open_table(t.root)
    sid = t.snapshot_id
    assert sid == pre + 1 and t.changelog_ready(sid)
    log = _frame(t.classified_changes(spark, pre, sid, use_changelog=True))
    diff = _frame(t.classified_changes(spark, pre, sid, use_changelog=False))
    pd.testing.assert_frame_equal(log, diff)
    assert list(log["path"]) == ["k0008"] and list(log["_change_type"]) == ["insert"]

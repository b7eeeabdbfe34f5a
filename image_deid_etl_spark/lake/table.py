"""SnapshotTable — a from-scratch snapshot table format over Parquet.

No Iceberg/Delta runtime jars exist in this sandbox (and the brief says
"from scratch — NOT a port"), so the lake table the engine MERGEs into is
our own minimal format with the Iceberg properties the north rule needs:

* **atomic commits** — a manifest JSON enumerates data files; `_current`
  is a one-line pointer file swapped with ``os.replace`` (atomic on POSIX).
  A crash mid-commit leaves the previous snapshot current and only orphans
  unreferenced data files.
* **exactly-once** — source offsets (how many feed delivery chunks are
  applied) live *inside* the manifest, so data + offsets commit in the
  same atomic swap. Reference analog: `processed_uuids` PK insert at the
  end of a run (`database.py:39-46`, `__main__.py:251-259`).
* **schema evolution** — the manifest schema is authoritative; readers
  pass it to the Parquet scan so columns added later surface as nulls in
  old files, no replay (reference analog: sidecar fields injected post-hoc,
  `custom_etl.py:402-406`).
* **partition spec** — hash buckets on the merge key ``(repo, path)``.
  Bucketing on the *full* key (not just ``repo``) is the scale decision:
  a mega-repo holding 50% of paths spreads across all buckets instead of
  hot-spotting one (skew fixture, FIXTURES.md). Manifest-level file
  pruning by bucket replaces directory-listing partition discovery.
* **time travel / lineage** — every snapshot's manifest is retained;
  `read(snapshot_id=k)` pins an old snapshot; `_lineage/` records
  per-partition seq ranges, rows, bytes, duration per commit.

Layout::

    root/
      _current                      # "manifest-0000000003.json"
      _branch-<name>                # branch pointer, same format (WAP staging)
      _refs.json                    # named refs: tags (int) + branches (dict)
      _manifests/manifest-*.json    # + shard-<snap>-b<bucket>-*.json
      _lineage/lineage-<snap>.json
      _changelog/commit-<snap>/     # opt-in materialized per-commit changes
      _blooms/*.bin                 # per-file key bloom sidecars
      data/snap-<snap>-<attempt>/_pb=<bucket>/part-*.parquet

Data files carry engine columns in addition to the table schema:
``commit_seq`` (long — LWW ordering, exposed to readers), ``_deleted``
(boolean tombstone — retained so a late-arriving *older* event for a
deleted key cannot resurrect it; filtered out by `read`), and ``_key``
(the canonical merge-key string — see `key_expr`). Each manifest file
entry records the ``_key`` min/max from Parquet column statistics, which
is what makes **file-granular copy-on-write** possible: a MERGE rewrites
only the files whose key range (and then actual key set) intersects the
batch, and carries every other file forward by path. New keys append new
files; a commit's write amplification is proportional to the keys it
*updates*, not to the live table size. `compact` is the maintenance op
that folds the resulting small files back together per bucket.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import uuid

import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import bloom

CURRENT = "_current"
REFS = "_refs.json"
MANIFESTS = "_manifests"
LINEAGE = "_lineage"
BLOOMS = "_blooms"
CHANGELOG = "_changelog"
DATA = "data"

#: engine-managed columns appended to the user schema in every data file
ENGINE_COLS = [
    T.StructField("commit_seq", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
    T.StructField("_bucket", T.IntegerType(), True),
    T.StructField("_key", T.StringType(), True),
]

#: separator for the canonical key encoding — \x1f sorts below every
#: printable character, so string order on the concatenation equals tuple
#: order on the key columns (both pruning sides use the SAME encoding, so
#: the comparison is internally consistent regardless)
KEY_SEP = "\x1f"


#: columns excluded from the LWW tie-break hash: every ENGINE_COLS name
#: (derived automatically so a future engine column cannot silently enter
#: the hash and desync merge-time vs scan-time picks) plus the transient
#: write-path columns — ``_fg`` can legitimately differ between an
#: existing row and its re-delivered duplicate. Hashing PAYLOAD columns
#: only is what makes the merge-time and scan-time picks agree.
_LWW_HASH_EXCLUDE = {f.name for f in ENGINE_COLS} | {"_fg", "_bh1", "_bh2", "_rn"}

#: names no user column may ever take: engine columns plus every internal
#: working-column name any code path materializes on a scan
RESERVED_COL_NAMES = _LWW_HASH_EXCLUDE | {"_sid", "_ph", "_change_type", "_metadata"}

#: StructField.metadata key carrying a renamed column's prior physical
#: names (newest first). Data files written before the rename store the
#: column under one of these names; `_physical_read` coalesces them back
#: into the logical column at scan time — the Iceberg name-mapping idea,
#: with explicit prior-name tracking instead of field ids.
_PRIORS_KEY = "physical_priors"


def _field_priors(f: T.StructField) -> list[str]:
    md = f.metadata or {}
    return [str(n) for n in md.get(_PRIORS_KEY, ())]


def _priors_map(fields) -> dict[str, list[str]]:
    """logical column → prior physical names, only for renamed columns."""
    out = {}
    for f in fields:
        p = _field_priors(f)
        if p:
            out[f.name] = p
    return out


def _physical_read(spark, paths, fields, with_metadata: bool = False):
    """Read table/changelog parquet files under ``fields`` (the logical
    schema), normalizing physical column names across renames.

    A file written before `alter_columns(rename=...)` stores the column
    under its then-current name; the read schema here includes every
    prior name (same — current, possibly widened — type, so the parquet
    reader's by-name projection nulls the absent ones and upcasts the
    narrow ones), and one projection coalesces ``(current, *priors)``
    back into the logical name. Exactly one alias is physically present
    per file, so the coalesce is a rename, not a merge. Tables that have
    never renamed get the identity plan (no extra Project node — the
    plan-pinned scan shapes are unchanged).

    ``with_metadata`` materializes the `_metadata` file-source struct
    through the projection for callers that need `_metadata.file_path`
    downstream (hidden metadata columns do not survive a Project unless
    selected at the scan).
    """
    pri = _priors_map(fields)
    if not pri:
        return spark.read.schema(T.StructType(list(fields))).parquet(*paths)
    phys = list(fields)
    for f in fields:
        for old in _field_priors(f):
            phys.append(T.StructField(old, f.dataType, True))
    df = spark.read.schema(T.StructType(phys)).parquet(*paths)
    sel = []
    for f in fields:
        p = pri.get(f.name)
        if p:
            sel.append(
                F.coalesce(F.col(f.name), *[F.col(o) for o in p]).alias(f.name)
            )
        else:
            sel.append(F.col(f.name))
    if with_metadata:
        sel.append(F.col("_metadata"))
    return df.select(*sel)


#: `write_changelog_rows` gap guard: deepest run of missing logs a capture
#: commit will synchronously backfill before writing its own. A crash gap
#: is 1-2 commits; anything deeper (changelog toggled, a long adaptive
#: stretch driven by raw merge_into) is a batch job for the startup heal
#: (`materialize_new_changelogs`) — the guard then skips THIS log too, so
#: logs still only ever land in ascending order.
GAP_GUARD_MAX = 32


def lww_payload_hash(fields):
    """Stable xxhash64 over the PAYLOAD columns of ``fields`` — the LWW
    tie-break hash (see `lww_order_cols`), also the row-identity
    component of the snapshot diff (`read_changes` /
    `materialize_changelog`): two stored winners with the same key, seq
    AND payload hash are the same row; a payload that differs at the
    same seq (an `update_where` rewrite, or a same-seq conflict whose
    winner flipped) is a real state change the diff must report. Maps
    hash via key-sorted entry serialization so producer entry order
    never splits identities; engine columns are excluded so an existing
    row and its re-delivered duplicate hash identically."""
    def _contains_map(dt) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return _contains_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(_contains_map(f.dataType) for f in dt.fields)
        return False

    hash_parts = []
    for f in fields:
        if f.name in _LWW_HASH_EXCLUDE:
            continue
        if isinstance(f.dataType, T.MapType):
            # xxhash64 rejects MapType; serialize entries SORTED BY KEY so
            # a re-delivered duplicate whose map was built in a different
            # producer order still hashes identically (map keys are unique,
            # so the key sort is total) — the tie-break must be
            # order-insensitive or merge-time and scan-time same-seq picks
            # could disagree. The comparator sorts by KEY ONLY: a default
            # struct sort would demand the VALUE type be orderable too and
            # raise on map<_, map<...>> payloads.
            ent = F.map_entries(F.col(f.name))
            col = F.to_json(
                F.array_sort(
                    ent,
                    lambda a, b: F.when(a["key"] < b["key"], -1)
                    .when(a["key"] > b["key"], 1)
                    .otherwise(0),
                )
            )
        elif _contains_map(f.dataType):
            # a map NESTED inside a struct/array: xxhash64 rejects
            # MapType recursively, so hash the JSON serialization
            # instead of the raw column. Deterministic for the stored
            # row bytes; unlike the top-level branch the nested entry
            # order is NOT canonicalized (to_json preserves producer
            # order), so a re-delivered duplicate whose inner map was
            # built in a different order can hash differently —
            # best-effort for the pathological same-seq case, but the
            # merge no longer fails analysis on such schemas.
            col = F.to_json(F.col(f.name))
        else:
            col = F.col(f.name)
        hash_parts.append(col)
    return F.xxhash64(*hash_parts)


def lww_order_cols(fields) -> list:
    """The ONE total order every LWW resolution uses — merge-time window,
    scan-time resolution and compaction must all pick the same winner for
    a given set of versions, or an adaptive append could converge to a
    different state than the rewrite it replaced.

    Order: ``commit_seq`` desc (the LWW rule), then — only for the
    pathological same-seq conflict (producer bug, re-export) —
    ``_deleted`` desc (a tombstone beats a same-seq upsert) and the
    stable payload hash (`lww_payload_hash`). Identical-payload ties
    remain arbitrary — both picks are the same row."""
    return [
        F.col("commit_seq").desc(),
        F.col("_deleted").desc(),
        lww_payload_hash(fields).desc(),
    ]


def emit_change_rows(
    g: DataFrame, cols: list[str], branches: list[tuple[Column, str, str]]
) -> DataFrame:
    """Classified change rows from ONE relation in a single pass: for
    each ``(cond, side, change_type)``, every row of ``g`` where ``cond``
    holds emits the ``cols`` fields of its ``side`` struct column tagged
    ``_change_type = change_type``. One `inline` over a per-row array of
    ``when(cond, struct)`` — a union of filtered projections would
    re-execute ``g``'s whole subtree (scan, exchange, window, UDF) once
    per branch. Serves the write-time capture and both window folds."""
    rows = F.array(*[
        F.when(
            cond,
            F.struct(
                *[F.col(f"{side}.{c}").alias(c) for c in cols],
                F.lit(ct).alias("_change_type"),
            ),
        )
        for cond, side, ct in branches
    ])
    return g.select(F.inline(F.array_compact(rows)))


def _lww_latest_versions(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Keep each ``_key``'s highest-``commit_seq`` row — the MERGE's own
    LWW rule (same `lww_order_cols` total order), applied at
    scan/compaction time for unresolved buckets (files may hold
    superseded versions). ONE definition serves both `SnapshotTable.read`
    and `SnapshotTable.compact` so their results can never diverge.

    ``key_cols``: when given, rows whose STORED ``_key`` is null (legacy
    files written before the engine columns existed) get their key
    recomputed from the key columns — which any data file carries — so
    they participate in LWW under their TRUE key instead of collapsing
    into one all-null window partition (which would keep a single row of
    the whole legacy set: silent data loss). Merge-path writes always
    populate ``_key``, so the coalesce is a no-op on modern files."""
    from pyspark.sql import Window

    if key_cols:
        df = df.withColumn(
            "_key", F.coalesce(F.col("_key"), key_expr(key_cols))
        )
    w = Window.partitionBy("_key").orderBy(*lww_order_cols(df.schema.fields))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _with_diff_identity(
    a: DataFrame, b: DataFrame, priors: dict[str, list[str]] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Add ``_ph`` (the LWW payload hash) to both sides of a snapshot
    diff so row identity is ``(_key, commit_seq, _ph)``, not just
    ``(_key, commit_seq)`` — a payload that changed at an UNCHANGED seq
    (an `update_where` rewrite, or the pathological same-seq conflict
    whose later delivery flipped the LWW winner) is a real live-state
    change; keying on seq alone would silently drop it from
    `read_changes` / the materialized changelog and break the apply
    contract. Hashes ``b``'s (newer) payload columns in schema order;
    ``a``'s copies are cast to ``b``'s types first so a type widening
    inside the window (int→long, float→double) cannot split the
    identity of an unchanged value, and columns ADDED inside the window
    ride along as typed NULLs on the ``a`` side — Spark's hash skips
    null inputs identically on both sides, so a still-null added column
    changes nothing, while an `update_where` backfilling it at an
    unchanged seq is the state change it looks like.

    A column RENAMED inside the window reads on the ``a`` side under a
    prior physical name (the from-snapshot's schema): the alignment
    coalesces through the recorded priors (``priors`` — the caller
    passes `_priors_map` of the TABLE's to-schema, since projections
    inside `_live_keyed` drop StructField metadata) exactly like the
    scan-time name mapping — aligning by current name alone would null
    the from-side payload, splitting the hash identity of every
    unchanged row in the touched buckets (spurious updates) and nulling
    the renamed column in delete/update preimages."""
    priors = priors or {}
    a_types = {f.name: f.dataType for f in a.schema.fields}

    def a_col(f: T.StructField):
        cands = [f.name, *priors.get(f.name, ()), *_field_priors(f)]
        names = list(dict.fromkeys(n for n in cands if n in a_types))
        if not names:
            return F.lit(None).cast(f.dataType).alias(f.name)
        cols = [
            F.col(n).cast(f.dataType) if a_types[n] != f.dataType else F.col(n)
            for n in names
        ]
        got = cols[0] if len(cols) == 1 else F.coalesce(*cols)
        return got.alias(f.name)

    a_aligned = a.select(*[a_col(f) for f in b.schema.fields])
    ph = lww_payload_hash(b.schema.fields)
    return a_aligned.withColumn("_ph", ph), b.withColumn("_ph", ph)


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced the table between apply and commit."""


#: one re-entrant lock per table root: makes the manifest-read → pointer-swap
#: section of a commit atomic WITHIN a process, so the common deployment — an
#: ingest thread plus a maintenance/compaction thread sharing one driver —
#: gets true commit atomicity. Cross-PROCESS writers still rely on the
#: documented best-effort CAS (`expected_parent`) + `commit_snapshot_optimistic`
#: rebase, exactly like Iceberg's optimistic loop against a non-locking catalog.
_COMMIT_LOCKS: dict[str, threading.RLock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(root: str) -> threading.RLock:
    key = os.path.realpath(root)
    with _COMMIT_LOCKS_GUARD:
        lock = _COMMIT_LOCKS.get(key)
        if lock is None:
            lock = _COMMIT_LOCKS[key] = threading.RLock()
        return lock


def _with_commit_lock(fn):
    """Serialize pointer-moving sections (commit, publish, drop) per root."""

    @functools.wraps(fn)
    def inner(self, *args, **kwargs):
        with _commit_lock(self.root):
            return fn(self, *args, **kwargs)

    return inner


def bucket_expr(n_buckets: int, cols: list[str]):
    """Deterministic hash bucket of the merge key.

    ``xxhash64`` is a Spark builtin (JVM, codegen'd); pmod keeps it
    non-negative. Same expression everywhere (write + merge + prune).
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)).cast("int")


def effective_bucket_expr(spec: dict, cols: list[str]):
    """Key → MANIFEST bucket id under an (optionally migrating) spec.

    Off-migration this is plain `bucket_expr`. During an incremental
    rebucket (``migrating_to`` set) the id space is mixed by design:
    keys whose OLD bucket has been migrated live under their NEW id
    (``hash % migrating_to``), everyone else under the old one. The
    arithmetic that makes this sound: for ``migrating_to`` an integer
    multiple of ``n_buckets``, ``h % migrating_to`` determines
    ``h % n_buckets`` — each old bucket splits into a fixed set of new
    ids and no two old buckets' key sets ever share an id, so every key
    maps to exactly one manifest id and that id's files are exactly its
    candidates. Same expression everywhere (write + merge + prune)."""
    n = spec["n_buckets"]
    to = spec.get("migrating_to")
    migrated = spec.get("migrated") or []
    if not to or not migrated:
        return bucket_expr(n, cols)
    old = bucket_expr(n, cols)
    return (
        F.when(old.isin(list(migrated)), bucket_expr(to, cols))
        .otherwise(old)
        .cast("int")
    )


def key_expr(cols: list[str]):
    """Canonical sortable merge-key string (the ``_key`` engine column)."""
    return F.concat_ws(KEY_SEP, *[F.col(c) for c in cols])


class SnapshotTable:
    """Handle to one snapshot table rooted at ``root``.

    A handle is bound to one named POINTER: ``_current`` (the published
    table — the default) or a branch pointer (`branch` /
    `branch_handle`). Every read and commit resolves through the bound
    pointer, so the whole engine — MERGE, maintenance, time travel —
    works unchanged against a branch; only pointer-lifecycle operations
    (`publish_branch`, `drop_branch`, `expire_snapshots`) insist on the
    main handle."""

    def __init__(self, root: str):
        self.root = root
        self._pointer = CURRENT  # the pointer file this handle commits to
        self._branch: str | None = None

    # ------------------------------------------------------------------ #
    # creation / manifest IO
    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        target_file_rows: int = 1 << 19,
        properties: dict | None = None,
    ) -> "SnapshotTable":
        """Initialize an empty table (snapshot 0, no data files).

        ``target_file_rows`` caps rows per data file: within a bucket the
        writer emits key-SORTED chunks of at most this many rows, so a
        bucket's key space is covered by several key-clustered files
        rather than one ever-growing one. That is what makes the
        file-granular rewrite converge: a workload whose updates cluster
        (temporally local keys) keeps matching only the files holding the
        hot range, while cold ranges settle into files that are carried
        forward untouched. At 100 TB you would size this by bytes
        (~128-512 MB per file); rows are the knob Spark's writer exposes
        (``maxRecordsPerFile``)."""
        key_cols = key_cols or ["repo", "path"]
        os.makedirs(os.path.join(root, MANIFESTS), exist_ok=True)
        os.makedirs(os.path.join(root, LINEAGE), exist_ok=True)
        os.makedirs(os.path.join(root, BLOOMS), exist_ok=True)
        os.makedirs(os.path.join(root, DATA), exist_ok=True)
        t = cls(root)
        manifest = {
            "snapshot_id": 0,
            "parent_id": None,
            "schema": json.loads(schema.json()),
            "schema_version": 0,
            "partition_spec": {
                "kind": "hash_bucket",
                "columns": key_cols,
                "n_buckets": n_buckets,
                "target_file_rows": target_file_rows,
            },
            "file_shards": {},
            "offsets": {"committed_feed_files": 0, "max_seq_seen": 0, "batch_id": -1},
            "seq_high": 0,
            "scrub_dirty": False,
            "properties": dict(properties or {}),
            # version-resolution tracking (r4): buckets that may hold >1
            # stored version of a key (merge-on-read appends — mode "mor"
            # or a CoW commit's adaptive append). Readers LWW-resolve ONLY
            # these buckets; resolve-compaction removes them.
            "unresolved_buckets": [],
            # bucket -> live rows at its last fully-resolved state
            # (~ distinct keys) — the denominator for the version-depth
            # compaction trigger (rows / base ~= mean versions per key)
            "version_base_rows": {},
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def import_dataframe(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        key_cols: list[str] | None = None,
        n_buckets: int = 16,
        target_file_rows: int = 1 << 19,
        properties: dict | None = None,
        seq: int = 0,
        on_duplicate: str = "error",
        scrub: bool = True,
    ) -> "SnapshotTable":
        """Bulk-import an existing corpus as a NEW table's first snapshot
        — the CREATE TABLE AS SELECT / onboarding path for data that
        predates the change feed (reference analog: the initial backfill
        of already-stored studies, `__main__.py:104-139`, before the
        incremental loop takes over).

        One distributed pass: the frame is bucket-routed on the merge
        key and written through the normal write path (key-clustered
        files, full manifest stats), so the imported table is
        indistinguishable from one built by MERGE — the prune ladder,
        data skipping, count pushdown and every lifecycle op work from
        commit 1. A pure metadata registration (Iceberg ``add_files``
        proper) is deliberately NOT offered: a file registered under
        bucket b while holding keys that hash elsewhere would silently
        escape the MERGE prune ladder on later upserts — correctness
        over onboarding cost, and the one rewrite is embarrassingly
        parallel (no window, no join; the import's only shuffle is the
        bucket route).

        Imported rows carry ``commit_seq = seq`` (default 0): choose it
        BELOW the feed's first event seq, so every later feed event
        supersedes its imported row under LWW — the import is the state
        "before the binlog starts". Feed offsets start at zero: a
        subsequent `run_ingest` replays the whole feed over the imported
        base.

        Key discipline: null key columns are refused (the engine's merge
        identity is the non-null key tuple). ``on_duplicate``:
        ``"error"`` (default) fails listing sample duplicate keys —
        duplicate keys in a bulk import usually mean the wrong key
        choice, not re-delivery; ``"resolve"`` keeps one deterministic
        winner per key (the MERGE's own same-seq tie-break — payload
        hash), stable under any input partitioning.

        ``scrub`` (default True) applies the SAME anonymization the
        MERGE applies to feed rows — the vectorized content scrub and
        the ``meta`` map PHI-key filter — to the canonical ``content``/
        ``meta`` columns when present, so the engine invariant (stored
        bytes are scrubbed) holds regardless of how a row entered the
        table; a re-scrub by a later feed event is a byte no-op
        (idempotent transform). Pass False only for corpora already
        anonymized by the same rules.
        """
        key_cols = key_cols or ["repo", "path"]
        if os.path.exists(root) and os.listdir(root):
            raise ValueError(
                f"import target {root!r} already exists and is non-empty — "
                "import creates a NEW table (ingest into an existing one)"
            )
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(f"key columns not in the frame: {missing}")
        bad = [c for c in df.columns if c.startswith("_") or c == "commit_seq"]
        if bad:
            raise ValueError(
                f"reserved column names in the frame: {bad} "
                "(engine columns and '_'-prefixed names)"
            )
        null_key = None
        for c in key_cols:
            n = F.col(c).isNull()
            null_key = n if null_key is None else (null_key | n)
        if df.where(null_key).take(1):
            raise ValueError(
                f"null values in key columns {key_cols} — the merge "
                "identity is the non-null key tuple"
            )
        if on_duplicate not in ("error", "resolve"):
            raise ValueError(
                f"on_duplicate must be 'error' or 'resolve', got {on_duplicate!r}"
            )
        if on_duplicate == "error":
            sample = (
                df.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .take(3)
            )
            if sample:
                keys = [tuple(r[c] for c in key_cols) for r in sample]
                raise ValueError(
                    f"duplicate keys in the import (sample: {keys}) — "
                    "fix the key choice or pass on_duplicate='resolve'"
                )
        t = cls.create(
            root,
            T.StructType(list(df.schema.fields)),
            key_cols,
            n_buckets,
            target_file_rows,
            properties,
        )
        if scrub:
            from ..cdc.scrub import scrub_meta, scrubbed

            if "content" in df.columns:
                df = df.withColumn("content", scrubbed(F.col("content")))
            meta_f = next((f for f in df.schema.fields if f.name == "meta"), None)
            if meta_f is not None and isinstance(meta_f.dataType, T.MapType):
                df = df.withColumn("meta", scrub_meta(F.col("meta")))
        staged = df.select(
            "*",
            F.lit(seq).cast("long").alias("commit_seq"),
            F.lit(False).alias("_deleted"),
            bucket_expr(n_buckets, key_cols).alias("_bucket"),
        )
        if on_duplicate == "resolve":
            staged = _lww_latest_versions(
                staged.withColumn("_key", key_expr(key_cols)), key_cols
            )
        entries = t.write_snapshot_files(staged, 1)
        snap = t.commit_snapshot(
            entries,
            None,
            {"committed_feed_files": 0, "max_seq_seen": seq, "batch_id": -1},
        )
        if t.changelog_enabled():
            t.materialize_changelog(spark, snap)
        return t

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, MANIFESTS, f"manifest-{snapshot_id:010d}.json")

    # -- manifest sharding (O(batch) commits) -------------------------- #
    # The top manifest stores per-bucket SHARD references instead of the
    # full file list: {"file_shards": {"<bucket>": "shard-....json"}}.
    # A commit rewrites only the shards of buckets it changed and carries
    # every other shard by NAME — so commit cost is O(changed buckets'
    # entries + n_buckets), never O(live files). Iceberg shards its
    # manifests for exactly this reason; a single JSON enumerating every
    # live file is a driver-side O(table) parse per commit at 100 TB.
    # Shards are immutable once written (uuid-suffixed names — a crashed
    # commit attempt orphans its shards, never corrupts a committed one);
    # `expire_snapshots` sweeps unreferenced shards. Legacy manifests with
    # an inline "files" list remain readable; the first commit on one
    # migrates every bucket to shards.

    def _shard_path(self, name: str) -> str:
        return os.path.join(self.root, MANIFESTS, name)

    def _load_shard(self, name: str) -> list[dict]:
        with open(self._shard_path(name)) as f:
            return json.load(f)

    def _write_shard(self, snapshot_id: int, bucket: int, entries: list[dict]) -> str:
        name = f"shard-{snapshot_id:010d}-b{bucket:05d}-{uuid.uuid4().hex[:8]}.json"
        path = self._shard_path(name)
        with open(path, "w") as f:
            json.dump(entries, f)
            f.flush()
            os.fsync(f.fileno())  # durable BEFORE the pointer swap
        return name

    @staticmethod
    def _bucket_of_path(path: str) -> int | None:
        """Bucket of a data file, parsed from its ``_pb=<b>`` path
        component (the layout `write_snapshot_files` emits)."""
        for part in path.split("/"):
            if part.startswith("_pb="):
                return int(part.split("=")[1])
        return None

    def files_for_buckets(
        self, buckets: set[int], snapshot_id: int | None = None
    ) -> list[dict]:
        """Manifest entries of the given buckets only — loads just those
        buckets' shards (the MERGE hot path: O(touched), not O(table))."""
        m = self.manifest(snapshot_id, with_files=False)
        shards = m.get("file_shards")
        if shards is None:  # legacy inline manifest
            return [f for f in m["files"] if f["bucket"] in buckets]
        out: list[dict] = []
        for b in sorted(buckets):
            name = shards.get(str(b))
            if name:
                out.extend(self._load_shard(name))
        return out

    def _swap_pointer(self, pointer: str, manifest_name: str) -> None:
        """Atomically point ``pointer`` (``_current`` or a branch file)
        at an existing manifest — the commit point, and `publish_branch`'s
        fast-forward."""
        ptr_tmp = os.path.join(self.root, pointer + f".tmp-{uuid.uuid4().hex}")
        with open(ptr_tmp, "w") as f:
            f.write(manifest_name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptr_tmp, os.path.join(self.root, pointer))

    def _write_manifest(self, manifest: dict) -> None:
        """Durable write + atomic pointer swap (the commit point)."""
        mpath = self._manifest_path(manifest["snapshot_id"])
        tmp = mpath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mpath)
        self._swap_pointer(self._pointer, os.path.basename(mpath))
        # fsync the directories: without this the renames are atomic but
        # not crash-DURABLE (journal reordering could persist the pointer
        # without the manifest, or neither)
        for d in (os.path.join(self.root, MANIFESTS), self.root):
            fd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)

    def manifest(self, snapshot_id: int | None = None, with_files: bool = True) -> dict:
        """Load a snapshot's manifest. ``with_files=True`` (default)
        materializes the full ``"files"`` list — for sharded manifests
        that loads every bucket shard, an O(live files) read. Metadata
        accessors and the MERGE hot path use ``with_files=False`` /
        `files_for_buckets` to stay O(1) / O(touched)."""
        with open(os.path.join(self.root, self._pointer)) as f:
            name = f.read().strip()
        if snapshot_id is None:
            path = os.path.join(self.root, MANIFESTS, name)
        else:
            current = int(name.split("-")[1].split(".")[0])
            if snapshot_id > current:
                raise ValueError(
                    f"snapshot {snapshot_id} is not committed (current={current})"
                )
            path = self._manifest_path(snapshot_id)
        with open(path) as f:
            m = json.load(f)
        if with_files and "files" not in m:
            m["files"] = [
                e
                for b in sorted(m.get("file_shards", {}), key=int)
                for e in self._load_shard(m["file_shards"][b])
            ]
        return m

    @property
    def snapshot_id(self) -> int:
        return self.manifest(with_files=False)["snapshot_id"]

    def schema(self, snapshot_id: int | None = None) -> T.StructType:
        return T.StructType.fromJson(
            self.manifest(snapshot_id, with_files=False)["schema"]
        )

    def offsets(self) -> dict:
        return self.manifest(with_files=False)["offsets"]

    def key_cols(self) -> list[str]:
        return self.manifest(with_files=False)["partition_spec"]["columns"]

    def n_buckets(self, snapshot_id: int | None = None) -> int:
        return self.manifest(snapshot_id, with_files=False)["partition_spec"][
            "n_buckets"
        ]

    def id_space(self, snapshot_id: int | None = None) -> int:
        """Upper bound (exclusive) of manifest bucket ids at a snapshot —
        ``n_buckets`` normally, the TARGET count during an incremental
        rebucket (migrated buckets' files already carry new-space ids).
        Use this, not `n_buckets`, wherever code enumerates "all possible
        bucket ids"."""
        spec = self.manifest(snapshot_id, with_files=False)["partition_spec"]
        return spec.get("migrating_to") or spec["n_buckets"]

    def bucket_column(self, snapshot_id: int | None = None):
        """Key → manifest bucket id expression under the CURRENT spec
        (migration-aware — see `effective_bucket_expr`)."""
        spec = self.manifest(snapshot_id, with_files=False)["partition_spec"]
        return effective_bucket_expr(spec, spec["columns"])

    def merge_mode(self) -> str:
        """``"cow"`` (default): MERGE rewrites matched files, one live row
        per key on disk. ``"mor"`` (merge-on-read): MERGE appends winners
        only — O(batch) writes with NO rewrite even for uniformly-spread
        update keys (the one shape where no file layout bounds a CoW
        rewrite set); readers LWW-resolve versions at scan time and
        `compact(resolve_versions=True)` folds history back down."""
        return self.manifest(with_files=False)["properties"].get("merge_mode", "cow")

    def scrub_dirty(self) -> bool:
        """True when stored ``content``/``meta`` MAY hold unscrubbed
        payload bytes — some data commit wrote raw payload with
        scrub=False, an UPDATE assigned those columns, or the manifest
        predates the flag (conservative True). Gates the change-capture
        window widening in `cdc.merge._capture_changes_plan`: on a clean
        table a scrub=True rewrite cannot change carried rows (the scrub
        is idempotent and every stored byte already went through it), so
        capture keeps the O(batch) batch-key semi-join. Monotone: set by
        `commit_snapshot(mark_scrub_dirty=True)`, never cleared (no
        full-table rescrub operation exists; a scrub=True MERGE cleans
        only the files it happens to match)."""
        return bool(self.manifest(with_files=False).get("scrub_dirty", True))

    def unresolved_buckets(self, snapshot_id: int | None = None) -> set[int]:
        """Buckets whose files may hold >1 version of a key (MoR appends
        or a CoW commit's adaptive append) — the ONLY buckets a scan must
        LWW-resolve. A legacy manifest without the field is treated
        conservatively: all buckets for a merge-on-read table (its
        appends predate the tracking), none for copy-on-write."""
        m = self.manifest(snapshot_id, with_files=False)
        u = m.get("unresolved_buckets")
        if u is None:
            if m["properties"].get("merge_mode", "cow") == "mor":
                return set(range(m["partition_spec"]["n_buckets"]))
            return set()
        return set(u)

    def stats_cols(self) -> list[str]:
        """Columns whose per-file min/max the writer folds into manifest
        entries (``col_stats``) for `read(where=...)` data skipping.
        Table property ``stats_cols`` (list), set at create; empty =
        no extra stats (zero write-path cost)."""
        return list(
            self.manifest(with_files=False)["properties"].get("stats_cols", [])
        )

    def dict_cols(self) -> list[str]:
        """Columns whose per-file DISTINCT VALUE SET the writer records
        in manifest entries (``dicts``) for equality/IN data skipping on
        low-cardinality columns — the pruning min/max ranges cannot do
        when a value is absent from a file whose range still spans it
        (e.g. ``lang``: a file holding {'ada', 'zig'} has range
        ada..zig, which contains every language alphabetically between).

        Table property ``dict_cols`` (list), set at create or via
        `set_properties`. Opt-in because — unlike ``stats_cols``, whose
        min/max and null counts come free from parquet footers — the
        dictionary needs a capped read of the column from each NEWLY
        WRITTEN file: the scan bails as soon as more than
        ``_DICT_MAX_VALS`` distinct values appear (one Arrow batch for a
        high-cardinality column, which then records nothing and prunes
        nothing), and dictionary-encoded parquet makes the read ~dict
        pages + indices. Cost is proportional to write volume for the
        opted-in columns only; untouched files carry their recorded
        dicts forward by path like every other stat."""
        return list(
            self.manifest(with_files=False)["properties"].get("dict_cols", [])
        )

    def dict_max_vals(self) -> int:
        """Distinct-value cap for ``dict_cols`` recording (table property
        ``dict_max_vals``, default ``_DICT_MAX_VALS``): a newly written
        file whose opted-in column exceeds the cap records no dictionary
        (and prunes nothing). The cap is the write-cost dial — raising it
        buys equality/IN pruning on wider-cardinality columns at a
        proportionally longer capped column read per new file; changing
        it affects only FUTURE files (recorded dicts are per-file facts
        and stay exact at any cap)."""
        return int(
            self.manifest(with_files=False)["properties"].get(
                "dict_max_vals", _DICT_MAX_VALS
            )
        )

    def cluster_by(self) -> list[str]:
        """Maintenance-rewrite sort columns (table property ``cluster_by``).

        When set, `compact` and `rebucket` sort each bucket's rows by
        these columns (then ``_key``) before chunking into files, so the
        per-file ``col_stats`` ranges `read(where=...)` prunes on become
        TIGHT — the Iceberg ``rewrite_data_files(sort)`` / Delta
        ``OPTIMIZE ZORDER`` analog. The trade, documented and deliberate:
        clustered files lose the tight ``key_min``/``key_max`` the MERGE
        range-prune leg uses (keys scatter across the cluster order), so
        subsequent updates to compacted files lean on the bloom + exact
        legs instead. MERGE's own writes are untouched — they stay
        key-clustered, and the next clustering compaction re-sorts them;
        steady state is hot files key-clustered, cold files read-optimized.
        """
        return list(
            self.manifest(with_files=False)["properties"].get("cluster_by", [])
        )

    def cluster_method(self) -> str:
        """How maintenance rewrites order rows within a bucket when
        ``cluster_by`` is set: ``"linear"`` (default — lexicographic on
        the columns; best when queries filter on the leading column) or
        ``"zorder"`` (Morton bit-interleave; file stats stay tight on
        EVERY clustered column, the multi-dimensional data-skipping
        shape). Numeric/timestamp columns only for zorder."""
        return self.manifest(with_files=False)["properties"].get(
            "cluster_method", "linear"
        )

    def target_file_rows(self) -> int:
        return self.manifest(with_files=False)["partition_spec"].get(
            "target_file_rows", 1 << 19
        )

    def effective_file_rows(self) -> int:
        """The per-file row cap the writer actually uses. By default the
        spec's ``target_file_rows``; when the mutable ``target_file_bytes``
        property is set, the cap is derived from the CURRENT manifest's
        observed bytes/row over live files (free — no data read), clamped
        to ``[1, target_file_rows]`` — the "size by bytes, ~128-512 MB a
        file" discipline a 100 TB deployment wants (`create`'s note),
        with the rows cap as the upper bound and the bootstrap fallback
        (an empty table has no observation yet, so its first commit uses
        the rows cap and every later one self-corrects). The estimate
        tracks the table's real compression ratio as content drifts,
        because each commit re-reads it from the manifest it just
        wrote.

        O(one shard), NOT O(live files): keys hash uniformly over
        buckets, so bucket 0's files are a representative bytes/row
        sample — loading every shard for this estimate would put
        O(table) driver work on the per-commit hot path the sharded
        manifest exists to avoid."""
        rows = self.target_file_rows()
        tb = self.manifest(with_files=False)["properties"].get(
            "target_file_bytes"
        )
        if not tb:
            return rows
        sample = self.files_for_buckets({0})
        tot_b = sum(f.get("bytes", 0) or 0 for f in sample)
        tot_r = sum(f.get("rows", 0) or 0 for f in sample)
        if not tot_b or not tot_r:
            return rows
        est = max(1, tot_b // tot_r)
        return max(1, min(rows, int(tb) // est))

    def seq_high(self, spark: SparkSession | None = None) -> int:
        """High-water mark over every ``commit_seq`` the table has EVER
        stored, folded with ``offsets.max_seq_seen`` — the seq a
        tombstone must claim to beat all state known now (`delete_where`).
        O(1) for tables with the ``seq_high`` manifest header (maintained
        incrementally at commit); a legacy manifest without it pays one
        full metadata walk, plus a narrow ``commit_seq``-column scan of
        any files that predate per-file seq stats (needs ``spark``) —
        silent under-estimation would silently fail an erasure."""
        m = self.manifest(with_files=False)
        mss = int(m["offsets"].get("max_seq_seen", 0))
        sh = m.get("seq_high")
        if sh is not None:
            return max(int(sh), mss)
        files = self.manifest()["files"]
        known = max((f.get("seq_max") or 0 for f in files), default=0)
        legacy = [os.path.join(self.root, f["path"]) for f in files
                  if f.get("seq_max") is None]
        if legacy:
            if spark is None:
                raise ValueError(
                    "files without seq stats present; pass spark to scan them"
                )
            mx = (
                spark.read.schema(self._read_schema())
                .parquet(*legacy)
                .agg(F.max("commit_seq"))
                .collect()[0][0]
            )
            known = max(known, int(mx or 0))
        return max(known, mss)

    # ------------------------------------------------------------------ #
    # named snapshot references (Iceberg-style tags)
    # ------------------------------------------------------------------ #
    def refs(self) -> dict[str, int]:
        """Named snapshot references: tag name -> snapshot id. Tags pin
        snapshots against `expire_snapshots` (an audit/release marker:
        "the table as shipped to training run X"). Stored in one small
        atomically-swapped JSON beside ``_current`` — refs are table
        metadata, not commits, so tagging never creates a snapshot."""
        try:
            with open(os.path.join(self.root, REFS)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write_refs(self, refs: dict[str, int]) -> None:
        path = os.path.join(self.root, REFS)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(refs, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin ``snapshot_id`` (default: current) under ``name``.
        Re-tagging an existing name moves it. The snapshot must still be
        retained; once tagged it stays retained until `drop_tag`."""
        sid = self.snapshot_id if snapshot_id is None else snapshot_id
        if sid not in self.snapshots():
            raise ValueError(f"snapshot {sid} does not exist or has expired")
        refs = self.refs()
        if isinstance(refs.get(name), dict):
            raise ValueError(f"ref {name!r} is a branch — tags cannot shadow it")
        refs[name] = sid
        self._write_refs(refs)
        return sid

    def drop_tag(self, name: str) -> int:
        """Remove a tag; its snapshot becomes expirable again."""
        refs = self.refs()
        sid = refs.pop(name)  # KeyError on unknown tag, deliberately
        if isinstance(sid, dict):
            refs[name] = sid
            raise ValueError(f"{name!r} is a branch — use drop_branch")
        self._write_refs(refs)
        return sid

    @_with_commit_lock
    def rollback(
        self, to_snapshot_id: int, spark: SparkSession | None = None
    ) -> int:
        """Revert the table to an earlier RETAINED snapshot, as a NEW
        commit (Iceberg ``rollback_to_snapshot`` analog). The recovery
        loop this exists for: a bad batch landed → roll back to the
        snapshot before it → re-ingest the corrected feed, exactly the
        manual re-run discipline of the reference's cron pipeline
        (`__main__.py:98-150`) made a first-class table operation.

        O(n_buckets) METADATA: the new manifest references the target's
        shard names VERBATIM (shards are immutable, uuid-named), so no
        data file is read, written, or moved, and `expire_snapshots`'
        retained-manifest liveness keeps those shards/files alive even
        after the target itself expires. Because rollback is a normal
        commit — not a pointer rewind — history stays intact: time
        travel into the rolled-over snapshots works until they expire,
        and `read_changes` across the rollback reports the revert as an
        ordinary diff (the A→B→A fold nets untouched keys to nothing).

        Restored WHOLESALE from the target: file references, schema,
        partition spec, ``offsets`` (the feed replays from the target's
        frontier — the recovery point), unresolved-bucket marks and
        version bases. Kept CURRENT: table ``properties`` (config is
        not data and does not revert) and ``seq_high`` (folded with the
        target's: a `delete_where` issued after the rollback mints its
        tombstone ABOVE the reverted events' seqs, so the erasure
        survives the feed replay instead of being resurrected by it).

        Lineage records the precise changed-bucket set (shard-name diff
        vs the parent) so incremental reads across the rollback stay
        bucket-pruned; across a rebucket or legacy inline manifest it
        records ``null`` = diff unpruned, still correct. Works on branch
        handles (staged-line exclusivity enforced as for any commit).

        On a changelog-enabled MAIN handle ``spark`` is REQUIRED and the
        revert's log is materialized with the commit: the engine's
        catch-up (`materialize_new_changelogs`) deliberately never fills
        mid-history gaps, so a log-less rollback would leave a permanent
        hole every spanning window falls through forever. Branch handles
        defer logs to `publish_branch`, as for any staged commit."""
        cur = self.manifest(with_files=False)
        if spark is None and self._branch is None and self.changelog_enabled():
            raise ValueError(
                "changelog-enabled table: rollback needs `spark` to "
                "materialize the revert's per-commit log (a skipped log "
                "is a permanent gap — the catch-up never fills mid-history)"
            )
        if to_snapshot_id == cur["snapshot_id"]:
            raise ValueError(f"table is already at snapshot {to_snapshot_id}")
        if to_snapshot_id not in self.snapshots():
            raise ValueError(
                f"snapshot {to_snapshot_id} does not exist or has expired"
            )
        tgt = self.manifest(to_snapshot_id, with_files=False)
        snap = cur["snapshot_id"] + 1
        self._guard_staged_sid(snap)

        # precise changed-bucket set: shards are immutable and uuid-named,
        # so an EQUAL shard name proves the bucket's file set is identical
        changed: list[int] | None
        if (
            "file_shards" in cur
            and "file_shards" in tgt
            and cur["partition_spec"]["n_buckets"]
            == tgt["partition_spec"]["n_buckets"]
        ):
            a, b = cur["file_shards"], tgt["file_shards"]
            changed = sorted(
                int(k) for k in set(a) | set(b) if a.get(k) != b.get(k)
            )
        else:
            changed = None  # rebucket/legacy inside the window: unpruned

        manifest = {
            "snapshot_id": snap,
            "parent_id": cur["snapshot_id"],
            "schema": tgt["schema"],
            "schema_version": cur["schema_version"]
            + (0 if tgt["schema"] == cur["schema"] else 1),
            "partition_spec": tgt["partition_spec"],
            "offsets": tgt["offsets"],
            "properties": cur["properties"],
            # through the accessor, NOT tgt.get(..., []): a legacy target
            # manifest without the field means "all buckets may hold
            # stacked versions" for MoR tables — defaulting to [] would
            # skip read-time LWW resolution on the restored files
            "unresolved_buckets": sorted(self.unresolved_buckets(to_snapshot_id)),
            "version_base_rows": tgt.get("version_base_rows", {}),
            # seq_high does NOT rewind: a tombstone minted after the
            # rollback must tie-and-beat the reverted events' seqs when
            # the feed replays them (the documented erasure contract);
            # max() is safe — the LWW merge never compares events against
            # seq_high, it only mints tombstones from it
            "seq_high": (
                max(cur["seq_high"], tgt["seq_high"])
                if cur.get("seq_high") is not None
                and tgt.get("seq_high") is not None
                else None
            ),
            # dirty if EITHER side is: the restored files are the
            # target's (its flag describes them), but over-conservative
            # never corrupts — it only widens future capture windows
            "scrub_dirty": bool(cur.get("scrub_dirty", True))
            or bool(tgt.get("scrub_dirty", True)),
        }
        if "file_shards" in tgt:
            manifest["file_shards"] = dict(tgt["file_shards"])
        else:  # legacy inline manifest: carry the file list verbatim
            manifest["files"] = self.manifest(to_snapshot_id)["files"]
        lineage = {
            "snapshot_id": snap,
            "committed_at": time.time(),
            "batch_id": tgt["offsets"].get("batch_id"),
            "partitions": [],
            "duration_ms": None,
            "rollback": {
                "to": to_snapshot_id,
                "of": cur["snapshot_id"],
                "changed_buckets": changed,
            },
        }
        # best-effort CAS (the in-process case is already serialized by
        # the commit lock held since `cur` was read): a cross-process
        # writer that advanced the pointer after our read must not have
        # its manifest/lineage under the same snapshot id clobbered by
        # our os.replace calls below
        latest = self.manifest(with_files=False)["snapshot_id"]
        if latest != cur["snapshot_id"]:
            raise ConcurrentCommitError(
                f"table advanced to snapshot {latest} during rollback "
                f"(expected {cur['snapshot_id']}); another writer is active"
            )
        lpath = os.path.join(self.root, LINEAGE, f"lineage-{snap:010d}.json")
        ltmp = lpath + f".tmp-{uuid.uuid4().hex}"
        with open(ltmp, "w") as f:
            json.dump(lineage, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ltmp, lpath)
        self._write_manifest(manifest)
        if spark is not None and self.changelog_enabled():
            self.materialize_changelog(spark, snap)
        return snap

    #: properties `set_properties` may change, with their validators.
    #: target_file_rows / n_buckets live in partition_spec (rebucket owns
    #: spec evolution); anything else is a typo we refuse loudly.
    MUTABLE_PROPERTIES = (
        "merge_mode", "changelog", "stats_cols", "dict_cols",
        "dict_max_vals", "cluster_by", "cluster_method",
        "target_file_bytes",
    )

    def set_properties(
        self, props: dict, spark: SparkSession | None = None
    ) -> int:
        """``ALTER TABLE SET TBLPROPERTIES`` analog: change table CONFIG
        as a metadata-only commit (offsets, shards, schema all carried;
        no data moves, `read_changes` across it is empty, and a rollback
        over it keeps the newer config — config is not data).

        Every interaction is already handled by the readers being
        conservative: enabling ``changelog`` mid-history starts logs at
        the NEXT commit (windows crossing the enable point use the
        snapshot-diff path); flipping ``merge_mode`` changes only future
        batches (unresolved-bucket marks keep existing stacked versions
        correct either way); adding a ``stats_cols`` column records
        stats on future files while old files simply never prune
        (missing stats = keep, `_stats_verdict`); ``cluster_by``
        takes effect at the next compaction.

        On a changelog-enabled result (enabling now, or already on)
        ``spark`` is REQUIRED so this commit's (empty) log is
        materialized — the same no-permanent-gap rule as `rollback`.
        """
        if not props:
            raise ValueError("no properties given")
        unknown = set(props) - set(self.MUTABLE_PROPERTIES)
        if unknown:
            raise ValueError(
                f"unknown/immutable properties: {sorted(unknown)} "
                f"(mutable: {list(self.MUTABLE_PROPERTIES)})"
            )
        if "merge_mode" in props and props["merge_mode"] not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {props['merge_mode']!r}")
        if "changelog" in props and not isinstance(props["changelog"], bool):
            raise ValueError("changelog must be a bool")
        schema_cols = {f.name for f in self.schema().fields}
        for k in ("stats_cols", "dict_cols", "cluster_by"):
            if k in props:
                v = props[k]
                if not isinstance(v, list) or not all(
                    isinstance(c, str) for c in v
                ):
                    raise ValueError(f"{k} must be a list of column names")
                missing = set(v) - schema_cols
                if missing:
                    raise ValueError(f"{k} columns not in schema: {sorted(missing)}")
        if "dict_max_vals" in props:
            v = props["dict_max_vals"]
            if not isinstance(v, int) or isinstance(v, bool) or v < 1:
                raise ValueError(
                    f"dict_max_vals must be a positive int, got {v!r}"
                )
        if "target_file_bytes" in props:
            v = props["target_file_bytes"]
            if not isinstance(v, int) or isinstance(v, bool) or v < 1:
                raise ValueError(
                    f"target_file_bytes must be a positive int, got {v!r}"
                )
        if "cluster_method" in props:
            if props["cluster_method"] not in ("linear", "zorder"):
                raise ValueError(
                    "cluster_method must be linear|zorder, "
                    f"got {props['cluster_method']!r}"
                )
        if (
            props.get("cluster_method", None) == "zorder"
            or ("cluster_by" in props and self.cluster_method() == "zorder")
        ):
            # zorder scales values over min/max — only orderable-numeric
            # columns interleave meaningfully (string byte-prefix order
            # is not implemented)
            cols = props.get("cluster_by", self.cluster_by())
            types = {f.name: f.dataType for f in self.schema().fields}
            bad = [
                c for c in cols
                if not isinstance(
                    types.get(c),
                    (T.NumericType, T.TimestampType, T.TimestampNTZType),
                )
            ]
            if bad:
                raise ValueError(
                    f"cluster_method=zorder needs numeric/timestamp "
                    f"cluster_by columns; not orderable-numeric: {bad}"
                )
        if self._branch is not None and "changelog" in props:
            # a changelog ENABLE staged on a branch would publish with
            # zero logs (branch logs are deferred, and publish decides
            # its spark need from the main head's PRE-publish config) —
            # the next ingest's heal would then backfill the entire
            # retained history. Config of the log pipeline itself is a
            # published-line decision.
            raise ValueError(
                "changelog cannot be changed through a branch handle — "
                "alter it on the main table"
            )
        cur = self.manifest(with_files=False)
        new_props = {**cur["properties"], **props}
        if (
            spark is None
            and self._branch is None
            and bool(new_props.get("changelog"))
        ):
            raise ValueError(
                "changelog-enabled table: set_properties needs `spark` to "
                "materialize this commit's (empty) log — a skipped log is "
                "a permanent gap"
            )
        changed = {
            k: {"from": cur["properties"].get(k), "to": v}
            for k, v in props.items()
            if cur["properties"].get(k) != v
        }
        if not changed:
            return cur["snapshot_id"]  # idempotent no-op: no history spam
        snap = self.commit_snapshot(
            [],
            properties=new_props,
            lineage_extra={"set_properties": changed},
            # optimistic CAS: two racing alters must not silently merge
            # over each other's stale property base
            expected_parent=cur["snapshot_id"],
        )
        if spark is not None and self.changelog_enabled():
            self.materialize_changelog(spark, snap)
        return snap

    # ------------------------------------------------------------------ #
    # column evolution (ALTER TABLE ADD / DROP / RENAME COLUMN)
    # ------------------------------------------------------------------ #
    def _view_column_refs(self) -> dict[str, set[str]]:
        """view name → columns of THIS table its definition references
        (group/measure/distinct/join-key cols, plus a conservative
        word-match against the raw WHERE text). Read straight from the
        on-disk `_view.json`s — no import of the view modules."""
        out: dict[str, set[str]] = {}
        vdir = os.path.join(self.root, "views")
        if not os.path.isdir(vdir):
            return out
        for name in os.listdir(vdir):
            try:
                with open(os.path.join(vdir, name, "_view.json")) as f:
                    m = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue
            if not isinstance(m, dict):
                continue
            cols: set[str] = set()
            for k in ("group_cols", "sum_cols", "minmax_cols", "distinct_cols"):
                cols |= set(m.get(k) or ())
            for pair in m.get("on") or ():
                cols.add(pair[0])  # fact-side join key (this table)
            if m.get("kind") == "join":
                # the refresh selects EVERY frozen fact column by name
                # (`JoinAggView.refresh` projects *meta["fact_cols"]"),
                # not just the agg/join/where set — renaming any of them
                # would brick the view
                cols |= set(m.get("fact_cols") or ())
            out[name] = (cols, m.get("where"))
        # DIM side of join views: the view lives under the FACT root, but
        # its refresh projects this table's exposed/join columns by name —
        # `JoinAggView._write_dim_ref` leaves a back-reference here so the
        # guard fires on the dim handle too. A ref whose fact-side view no
        # longer exists (or now points at a different dim) is stale:
        # ignored and swept.
        dref_dir = os.path.join(vdir, "_dimrefs")
        if os.path.isdir(dref_dir):
            for fn in os.listdir(dref_dir):
                if not fn.endswith(".json"):
                    continue
                rpath = os.path.join(dref_dir, fn)
                try:
                    with open(rpath) as f:
                        ref = json.load(f)
                except (OSError, json.JSONDecodeError):
                    continue
                try:
                    with open(
                        os.path.join(
                            ref["fact_root"], "views", ref["view"], "_view.json"
                        )
                    ) as f:
                        vm = json.load(f)
                except FileNotFoundError:
                    vm = None  # view removed: ref is stale
                except (OSError, json.JSONDecodeError, KeyError, TypeError):
                    continue  # unreadable, not provably gone: skip this pass
                stale = vm is None or os.path.abspath(
                    vm.get("dim_root") or ""
                ) not in (os.path.realpath(self.root), os.path.abspath(self.root))
                if stale:
                    try:
                        os.remove(rpath)
                    except OSError:
                        pass
                    continue
                out[
                    f"{ref['view']} (join view on fact {ref['fact_root']})"
                ] = (set(ref.get("cols") or ()), vm.get("where"))
        return out

    def _check_view_refs(self, touched: set[str], action: str) -> None:
        import re

        for name, (cols, where) in self._view_column_refs().items():
            hard = touched & cols
            if hard:
                raise ValueError(
                    f"cannot {action} column(s) {sorted(hard)}: referenced "
                    f"by view {name!r} — drop or redefine the view first"
                )
            if where:
                soft = [
                    c for c in touched
                    if re.search(rf"\b{re.escape(c)}\b", where)
                ]
                if soft:
                    raise ValueError(
                        f"cannot {action} column(s) {soft}: view {name!r}'s "
                        f"WHERE text mentions them — drop or redefine the "
                        "view first"
                    )

    def alter_columns(
        self,
        add: list[tuple[str, "T.DataType | str"]] | None = None,
        drop: list[str] | None = None,
        rename: dict[str, str] | None = None,
        spark: SparkSession | None = None,
    ) -> int:
        """Explicit column evolution in ONE metadata-only commit:

        * ``add`` — append nullable columns; existing files scan them as
          null (the same read-compatibility additive ingest evolution
          relies on).
        * ``drop`` — remove columns from the schema. Old files keep the
          bytes physically (reads project them away; rewrites shed them
          naturally); the NAME is tombstoned forever, because re-adding
          it would resurrect those bytes on read. Pick a new name — the
          tombstone is the price of drop-without-rewrite.
        * ``rename`` — change a column's logical name without touching
          one data file: the old name is recorded as a prior physical
          name in the field metadata and every scan coalesces
          ``(new, *priors)`` back together (`_physical_read`). Rewrites
          (MERGE/UPDATE/compact/rebucket) write the new name, migrating
          files incrementally. Renaming a ``stats_cols``/``cluster_by``
          column updates those properties atomically; old files' stats
          keep pruning via the prior name.

        Refused: key columns (the table's identity — Iceberg refuses
        identity-partition renames for the same reason), engine/reserved
        names, names any retained file may still store (tombstones +
        priors), columns referenced by registered views (their
        definitions store names), and dropping a ``stats_cols`` /
        ``cluster_by`` column (update the property first — an implicit
        property edit hidden inside a drop is how configs rot).

        Changelog rule: on a changelog-enabled table ``spark`` is
        REQUIRED (this commit's empty log must be materialized — the
        `set_properties` no-permanent-gap rule). Time travel reads at
        pre-alter snapshots use that snapshot's schema unchanged.

        Reference analog: the reference pipeline's schema is fixed in
        code (`custom_etl.py` frame construction); this is the
        controlled-evolution surface a long-lived 100 TB lake table
        needs instead.
        """
        self._require_main("alter_columns")
        add = list(add or ())
        drop = list(drop or ())
        rename = dict(rename or {})
        if not (add or drop or rename):
            raise ValueError("nothing to alter")
        cur = self.manifest(with_files=False)
        schema = T.StructType.fromJson(cur["schema"])
        by_name = {f.name: f for f in schema.fields}
        keys = set(cur["partition_spec"]["columns"])
        props = dict(cur["properties"])
        stats_cols = list(props.get("stats_cols") or ())
        dict_cols = list(props.get("dict_cols") or ())
        cluster_by = list(props.get("cluster_by") or ())
        retired = set(props.get("dropped_columns", ()))
        for f in schema.fields:
            retired |= set(_field_priors(f))

        touched = set(drop) | set(rename)
        for c in touched:
            if c not in by_name:
                raise ValueError(f"no such column: {c!r}")
            if c in keys:
                raise ValueError(
                    f"cannot drop/rename key column {c!r} — the merge key "
                    "is the table's identity"
                )
        overlap = set(drop) & set(rename)
        if overlap:
            raise ValueError(f"columns both dropped and renamed: {sorted(overlap)}")
        for c in drop:
            if c in stats_cols or c in dict_cols or c in cluster_by:
                raise ValueError(
                    f"column {c!r} is in stats_cols/dict_cols/cluster_by — "
                    "update the property first (set_properties), then drop"
                )
        self._check_view_refs(touched, "drop/rename")

        # name admission: new names must be non-reserved and must not be a
        # name any retained file may still store under another meaning
        incoming = [n for n, _ in add] + list(rename.values())
        for n in incoming:
            if not n or not isinstance(n, str):
                raise ValueError(f"invalid column name: {n!r}")
            if n in RESERVED_COL_NAMES or n.startswith("_"):
                raise ValueError(f"column name {n!r} is reserved")
            if n in retired:
                raise ValueError(
                    f"column name {n!r} was dropped or renamed away and old "
                    "data files may still store it; pick a new name"
                )

        new_fields: list[T.StructField] = []
        for f in schema.fields:
            if f.name in drop:
                continue
            if f.name in rename:
                new = rename[f.name]
                md = dict(f.metadata or {})
                md[_PRIORS_KEY] = [f.name] + _field_priors(f)
                new_fields.append(
                    T.StructField(new, f.dataType, f.nullable, md)
                )
            else:
                new_fields.append(f)
        for n, dt in add:
            dtype = _parse_dtype(dt)
            new_fields.append(T.StructField(n, dtype, True))
        from collections import Counter

        dups = [n for n, c in Counter(f.name for f in new_fields).items() if c > 1]
        if dups:
            raise ValueError(f"column name collision: {sorted(dups)}")
        new_schema = T.StructType(new_fields)

        # tombstone dropped names AND their priors (files may store either)
        dropped_now = set(drop)
        for c in drop:
            dropped_now |= set(_field_priors(by_name[c]))
        new_retired = sorted(set(props.get("dropped_columns", ())) | dropped_now)
        props_changed = False
        if new_retired != sorted(props.get("dropped_columns", ())):
            props["dropped_columns"] = new_retired
            props_changed = True
        if rename:
            new_stats = [rename.get(c, c) for c in stats_cols]
            new_dicts = [rename.get(c, c) for c in dict_cols]
            new_cluster = [rename.get(c, c) for c in cluster_by]
            if new_stats != stats_cols:
                props["stats_cols"] = new_stats
                props_changed = True
            if new_dicts != dict_cols:
                props["dict_cols"] = new_dicts
                props_changed = True
            if new_cluster != cluster_by:
                props["cluster_by"] = new_cluster
                props_changed = True

        if spark is None and bool(props.get("changelog")):
            raise ValueError(
                "changelog-enabled table: alter_columns needs `spark` to "
                "materialize this commit's (empty) log — a skipped log is "
                "a permanent gap"
            )
        snap = self.commit_snapshot(
            [],
            schema=new_schema,
            properties=props if props_changed else None,
            lineage_extra={
                "alter_columns": {
                    "add": [[n, _parse_dtype(dt).simpleString()] for n, dt in add],
                    "drop": sorted(drop),
                    "rename": rename,
                }
            },
            expected_parent=cur["snapshot_id"],
        )
        if spark is not None and self.changelog_enabled():
            self.materialize_changelog(spark, snap)
        return snap

    def add_column(self, name: str, dtype, spark=None) -> int:
        return self.alter_columns(add=[(name, dtype)], spark=spark)

    def drop_column(self, name: str, spark=None) -> int:
        return self.alter_columns(drop=[name], spark=spark)

    def rename_column(self, old: str, new: str, spark=None) -> int:
        return self.alter_columns(rename={old: new}, spark=spark)

    # ------------------------------------------------------------------ #
    # branches (write-audit-publish)
    # ------------------------------------------------------------------ #
    # A branch is a WRITABLE named ref: its own pointer file beside
    # `_current`, advanced by ordinary commits through a branch handle.
    # The WAP loop: `branch("audit")` stages, any number of commits land
    # on the branch (the published table never sees them), the audit
    # reads/diffs the branch handle, then `publish_branch` fast-forwards
    # `_current` to the branch head in ONE atomic pointer swap — or
    # `drop_branch` discards the staged commits. Because the published
    # head must not move while a branch is staging (single-writer
    # discipline, enforced at publish: fast-forward only), branch
    # snapshot ids simply continue the table's contiguous id line — a
    # published branch IS ordinary history, with time travel, changelog
    # and incremental reads working unchanged across the publish point.

    def _branch_pointer(self, name: str) -> str:
        return f"_branch-{name}"

    def _ptr_sid(self, pointer: str) -> int | None:
        """Snapshot id a pointer file currently names (None if absent)."""
        try:
            with open(os.path.join(self.root, pointer)) as f:
                return int(f.read().strip().split("-")[1].split(".")[0])
        except FileNotFoundError:
            return None

    def _guard_staged_sid(self, snap: int) -> None:
        """A snapshot id belongs to exactly ONE ref line. Branch ids
        continue the table's contiguous id line, so a published-line
        commit while a branch holds staged commits (or a branch commit
        after the published head moved past its base, or two branches
        racing) would OVERWRITE the other line's manifest — and the
        crash-resume rule ("a manifest above the pointer is an orphan,
        safe to overwrite") cannot tell that clobber apart by file
        existence alone. The ref registry can: refuse to commit a sid
        another live line owns. Checked at every commit (one small refs
        read); best-effort like the pointer CAS itself."""
        main_head = self._ptr_sid(CURRENT)
        if main_head is None:
            return  # table creation
        if self._branch is not None and snap <= main_head:
            raise ConcurrentCommitError(
                f"branch {self._branch!r} would write snapshot {snap}, "
                f"already taken by the published line (head {main_head}); "
                "the branch is stale — drop it and re-stage"
            )
        for name, info in self.refs().items():
            if (
                not isinstance(info, dict)
                or info.get("type") != "branch"
                or name == self._branch
            ):
                continue
            head = self._ptr_sid(self._branch_pointer(name))
            if head is not None and info["base"] < snap <= head:
                raise ConcurrentCommitError(
                    f"snapshot {snap} is staged on branch {name!r} "
                    f"(ids ({info['base']}, {head}]); publish or drop it first"
                )

    def _require_main(self, op: str) -> None:
        if self._branch is not None:
            raise ValueError(f"{op} must run on the main table handle")

    def branch(self, name: str) -> "SnapshotTable":
        """Create a branch at the current published head and return a
        handle bound to it. Name shares the tag namespace (one ref
        registry) and must be filesystem-safe."""
        import re

        self._require_main("branch creation")
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
            raise ValueError(f"bad branch name {name!r}")
        refs = self.refs()
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        base = self.snapshot_id
        self._swap_pointer(
            self._branch_pointer(name),
            os.path.basename(self._manifest_path(base)),
        )
        refs[name] = {"type": "branch", "base": base}
        self._write_refs(refs)
        return self.branch_handle(name)

    def branch_handle(self, name: str) -> "SnapshotTable":
        """Handle bound to an existing branch: reads and commits resolve
        through the branch pointer; the published table is untouched."""
        info = self.refs().get(name)
        if not isinstance(info, dict) or info.get("type") != "branch":
            raise ValueError(f"no branch named {name!r}")
        t = SnapshotTable(self.root)
        t._pointer = self._branch_pointer(name)
        t._branch = name
        return t

    def branches(self) -> dict[str, dict]:
        """Live branches: name -> {base, head}. A missing pointer file
        (crash between ref write and pointer write, or a half-finished
        drop) reports ``head: None`` — `drop_branch` clears it."""
        out = {}
        for name, info in self.refs().items():
            if not isinstance(info, dict) or info.get("type") != "branch":
                continue
            try:
                h = self.branch_handle(name)
                head = h.snapshot_id
            except (FileNotFoundError, ValueError):
                head = None
            out[name] = {"base": info["base"], "head": head}
        return out

    @_with_commit_lock
    def publish_branch(self, name: str, spark: SparkSession | None = None) -> dict:
        """Atomically fast-forward the published table to the branch
        head (the WAP publish). Requires the published head to still be
        the branch's base — if another writer advanced it, the audit ran
        against a stale base and the publish fails
        (`ConcurrentCommitError`) instead of silently merging.

        Branch commits DEFER changelog materialization (an unpublished
        log under ``_changelog/commit-*`` would leak staged changes to
        `stream_changes` consumers); pass ``spark`` on a
        ``changelog=True`` table and the published commits' logs are
        written here, in commit order — a crash mid-way leaves exactly
        the tail-gap shape the ingest-start healer repairs."""
        self._require_main("publish_branch")
        info = self.refs().get(name)
        if not isinstance(info, dict) or info.get("type") != "branch":
            raise ValueError(f"no branch named {name!r}")
        if info.get("rebasing_to") is not None:
            # a crashed rebase_branch left its intent marker: the head may
            # equal the published head, which is ALSO publish's own
            # crash-recovery shape — misreading it would drop the branch
            raise ConcurrentCommitError(
                f"branch {name!r} has a rebase in progress; re-run "
                "rebase_branch to complete it, then publish"
            )
        head = self.branch_handle(name).snapshot_id
        base = info["base"]
        current = self.snapshot_id
        if current == head and head != base:
            pass  # re-publish after a crash between swap and ref cleanup
        elif current != base:
            raise ConcurrentCommitError(
                f"published head moved to {current} (branch {name!r} based "
                f"on {base}); re-stage the branch on the new head"
            )
        elif head != base:
            with open(os.path.join(self.root, self._branch_pointer(name))) as f:
                head_manifest = f.read().strip()
            self._swap_pointer(CURRENT, head_manifest)
            fd = os.open(self.root, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        refs = self.refs()
        refs.pop(name, None)
        self._write_refs(refs)
        try:
            os.remove(os.path.join(self.root, self._branch_pointer(name)))
        except FileNotFoundError:
            pass
        if spark is not None and self.changelog_enabled():
            for sid in range(base + 1, head + 1):
                if not self.changelog_ready(sid):
                    self.materialize_changelog(spark, sid)
        return {"published": name, "snapshot_id": head, "commits": head - base}

    @_with_commit_lock
    def drop_branch(self, name: str) -> dict:
        """Abandon a branch: remove its ref + pointer, then eagerly
        delete everything its commits wrote — manifests, lineage,
        shards, data-file attempt dirs and deferred changelogs for the
        snapshot ids in ``(base, head]``. Those ids were writable only
        through this branch (single-writer discipline), so the sweep is
        sid-scoped and cannot touch published state; a crashed earlier
        attempt's leftovers under the same ids are orphans this sweep is
        allowed to take with it."""
        import re
        import shutil

        self._require_main("drop_branch")
        info = self.refs().get(name)
        if not isinstance(info, dict) or info.get("type") != "branch":
            raise ValueError(f"no branch named {name!r}")
        base = info["base"]
        try:
            head = self.branch_handle(name).snapshot_id
        except FileNotFoundError:
            head = base  # pointer never written / already gone
        # unregister FIRST so no new handle can open the branch mid-sweep
        refs = self.refs()
        refs.pop(name, None)
        self._write_refs(refs)
        try:
            os.remove(os.path.join(self.root, self._branch_pointer(name)))
        except FileNotFoundError:
            pass
        # never sweep an id the PUBLISHED line owns: after a
        # publish_branch crash between the `_current` swap and the ref
        # cleanup, the leftover branch covers ids that are now published
        # history — dropping it must only finish the ref cleanup, not
        # delete the live table out from under `_current`
        doomed = range(max(base, self.snapshot_id) + 1, head + 1)
        for sid in doomed:
            for p in (
                self._manifest_path(sid),
                os.path.join(self.root, LINEAGE, f"lineage-{sid:010d}.json"),
            ):
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
            shutil.rmtree(self._changelog_dir(sid), ignore_errors=True)
        if doomed:
            sids = {f"{sid:010d}" for sid in doomed}
            mdir = os.path.join(self.root, MANIFESTS)
            for fn in os.listdir(mdir):
                m = re.match(r"shard-(\d{10})-", fn)
                if m and m.group(1) in sids:
                    os.remove(os.path.join(mdir, fn))
            ddir = os.path.join(self.root, DATA)
            if os.path.isdir(ddir):
                for dn in os.listdir(ddir):
                    m = re.match(r"snap-(\d{10})-", dn)
                    if m and m.group(1) in sids:
                        shutil.rmtree(os.path.join(ddir, dn), ignore_errors=True)
        return {"dropped": name, "commits_discarded": len(doomed)}

    @_with_commit_lock
    def rebase_branch(self, name: str) -> dict:
        """Re-base a STALE EMPTY branch onto the current published head
        (Iceberg ``replace branch`` analog for the one stale shape this
        design can produce).

        A branch created for a later audit goes stale the moment the
        published line advances past its base: its first commit — and
        its publish — are refused (`_guard_staged_sid` /
        `publish_branch`), and before this op the only recovery was
        drop + re-create. ``rebase_branch`` re-points the branch at the
        current head and records the new base: O(1) metadata, no data
        or shard is touched, and the handle stays valid (pointer file
        name is stable).

        Only the EMPTY shape is rebasable — by design, not as a
        shortcut. Branch ids continue the table's contiguous id line,
        so while a branch HOLDS staged commits the published head
        cannot move (sid-line exclusivity blocks it); a branch with
        content whose base fell behind can therefore only exist as the
        debris of a cross-process guard race that has ALREADY clobbered
        one line's manifests — there is no intact state left to rebase,
        and pretending otherwise would republish corrupt metadata. Such
        a branch is refused with the explanation; `drop_branch` is the
        recovery.

        Crash safety: the ref records the INTENT first (a
        ``rebasing_to`` marker), then the pointer swaps, then the final
        ref lands. `publish_branch` refuses a marked branch (a crashed
        rebase's ``head == published head`` shape is otherwise
        indistinguishable from publish's OWN crash-recovery shape, and
        misreading it would silently drop the branch); a re-run of
        ``rebase_branch`` completes from any interruption point —
        including a published head that advanced AGAIN after the crash,
        which the marker proves holds no staged content.

        Reference analog: the manual re-run discipline of the cron
        pipeline (`__main__.py:98-150`) — a prepared-but-not-started
        pass is simply restarted against current state."""
        self._require_main("rebase_branch")
        info = self.refs().get(name)
        if not isinstance(info, dict) or info.get("type") != "branch":
            raise ValueError(f"no branch named {name!r}")
        base = info["base"]
        marker = info.get("rebasing_to")
        current = self.snapshot_id
        head = self._ptr_sid(self._branch_pointer(name))
        if head is None:
            raise ValueError(
                f"branch {name!r} has no pointer file (half-created or "
                "half-dropped); drop it and re-create"
            )
        if base == current and head == current and marker is None:
            return {"rebased": False, "branch": name, "base": base}
        # the head names staged CONTENT only if it is neither the base,
        # nor the published head, nor a crashed rebase's marker target
        if head not in (base, current, marker):
            raise ConcurrentCommitError(
                f"branch {name!r} holds staged commits (ids ({base}, "
                f"{head}]); only an EMPTY stale branch is rebasable — a "
                "staged branch pins the published head in place, so a "
                "diverged-with-content branch is guard-race debris with "
                "clobbered manifests: drop it and re-stage"
            )
        if marker != current:  # intent before the swap (crash-safe order)
            refs = self.refs()
            refs[name] = {"type": "branch", "base": base, "rebasing_to": current}
            self._write_refs(refs)
        if head != current:
            self._swap_pointer(
                self._branch_pointer(name),
                os.path.basename(self._manifest_path(current)),
            )
        refs = self.refs()
        refs[name] = {"type": "branch", "base": current}
        self._write_refs(refs)
        return {"rebased": True, "branch": name, "base": current, "was": base}

    def snapshot_as_of(self, ts: float) -> int:
        """Timestamp time travel (Iceberg semantics): the snapshot that
        was current at wall-clock ``ts`` — i.e. the largest committed
        snapshot whose ``committed_at`` is <= ``ts``. Walks lineage
        NEWEST-first with a lazy per-entry committed check (manifest
        file existence) and stops at the first hit: beyond one lineage
        directory listing, the cost is O(commits newer than ts), not
        O(history). ``ts`` before the first commit resolves to snapshot
        0 (the empty table); if the history covering ``ts`` has been
        EXPIRED, raises instead of silently resolving to a wrong older
        state. Commits predating the ``committed_at`` field
        (pre-upgrade lineage) are treated as arbitrarily old — always
        eligible."""
        current = self.snapshot_id
        ldir = os.path.join(self.root, LINEAGE)
        oldest_retained = None
        for fn in sorted(os.listdir(ldir), reverse=True):
            if not fn.startswith("lineage-") or ".tmp" in fn:
                continue
            sid = int(fn.split("-")[1].split(".")[0])
            if sid > current or not os.path.exists(self._manifest_path(sid)):
                continue  # orphaned pre-crash lineage, or expired manifest
            oldest_retained = sid
            try:
                with open(os.path.join(ldir, fn)) as f:
                    entry = json.load(f)
            except json.JSONDecodeError:
                # torn legacy file predating the durable lineage write:
                # its commit instant is unknowable — skip it (the walk
                # falls through to the next older commit)
                continue
            if entry.get("committed_at", float("-inf")) <= ts:
                return sid
        if oldest_retained is not None and not os.path.exists(self._manifest_path(0)):
            raise ValueError(
                f"history at ts={ts} has been expired: oldest retained "
                f"snapshot is {oldest_retained} (committed later)"
            )
        return 0

    def snapshots(self) -> list[int]:
        """COMMITTED snapshot ids only. A manifest file written just before
        a crash (pointer never swapped) has id > current and is excluded —
        it is an orphan, not a snapshot. The name match is strict
        (``manifest-<id>.json`` exactly) so a leftover ``.tmp-<uuid>`` from
        a crash inside `_write_manifest` can neither duplicate an id nor
        break GC; ids are deduped via the set."""
        import re

        current = self.snapshot_id
        names = os.listdir(os.path.join(self.root, MANIFESTS))
        ids = {
            int(m.group(1))
            for n in names
            if (m := re.fullmatch(r"manifest-(\d+)\.json", n))
        }
        return sorted(i for i in ids if i <= current)

    # ------------------------------------------------------------------ #
    # schema evolution
    # ------------------------------------------------------------------ #
    def evolved_schema(self, incoming: T.StructType) -> T.StructType:
        """Current schema + new incoming columns (appended, nullable) +
        safe numeric TYPE WIDENING (byte→short→int→long, float→double).

        Widening is read-compatible without rewriting old files: Spark's
        Parquet reader up-casts a narrower physical type under a wider
        read schema (verified on this Spark version by
        `tests/test_schema_evolution.py`). A NARROWER incoming type keeps
        the table's type (the merge casts the batch up). Anything else —
        e.g. string vs int — is a genuine conflict and is rejected loudly.
        """
        cur = self.schema()
        names = {f.name for f in cur.fields}
        blocked = self._retired_names()
        fields = list(cur.fields)
        for f in incoming.fields:
            if isinstance(f.dataType, T.NullType):
                continue  # all-null batch column carries no type evidence
            if f.name in names:
                i = next(j for j, cf in enumerate(fields) if cf.name == f.name)
                cf = fields[i]
                if cf.dataType == f.dataType:
                    continue
                widened = _widen(cf.dataType, f.dataType)
                if widened is None:
                    raise ValueError(
                        f"schema conflict on {f.name}: table={cf.dataType}, "
                        f"incoming={f.dataType}"
                    )
                if widened != cf.dataType:
                    # keep metadata: a widened column's prior physical
                    # names must survive type evolution
                    fields[i] = T.StructField(
                        f.name, widened, cf.nullable, cf.metadata
                    )
            else:
                if f.name in blocked:
                    # resurrection guard: retained files still PHYSICALLY
                    # hold data under this name (a dropped column, or a
                    # live column's pre-rename name) — re-adding it would
                    # silently resurface that data on reads
                    raise ValueError(
                        f"column name {f.name!r} was dropped or renamed away "
                        "and old data files may still store it; pick a new "
                        "name (see alter_columns docstring)"
                    )
                fields.append(T.StructField(f.name, f.dataType, True))
        return T.StructType(fields)

    def _retired_names(self) -> set[str]:
        """Names no NEW column may take: every dropped column (tombstoned
        in properties) and every live column's prior physical names —
        retained data files may still store payload under any of them."""
        m = self.manifest(with_files=False)
        out = set(m["properties"].get("dropped_columns", ()))
        for f in T.StructType.fromJson(m["schema"]).fields:
            out |= set(_field_priors(f))
        return out

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def _read_schema(self, snapshot_id: int | None = None) -> T.StructType:
        return T.StructType(list(self.schema(snapshot_id).fields) + ENGINE_COLS)

    def read_raw(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        entry_pred=None,
    ) -> DataFrame:
        """Scan data files (incl. tombstones + engine cols).

        ``buckets`` prunes at the *manifest* level — only matching files
        are even listed to Spark (our Iceberg-style partition pruning; no
        directory listing of a 100 TB table). ``entry_pred`` (manifest
        entry -> bool) prunes further on per-file stats; callers own its
        correctness (see `read`'s resolved-bucket-only use).
        """
        if buckets is not None:
            # manifest-level partition pruning loads ONLY those buckets'
            # shards — O(pruned), not O(table)
            files = self.files_for_buckets(set(buckets), snapshot_id)
        else:
            files = self.manifest(snapshot_id)["files"]
        if entry_pred is not None:
            files = [f for f in files if entry_pred(f)]
        schema = self._read_schema(snapshot_id)
        if not files:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, f["path"]) for f in files]
        return _physical_read(spark, paths, schema.fields)

    def scan_files(
        self,
        spark: SparkSession,
        paths: list[str],
        snapshot_id: int | None = None,
        with_metadata: bool = False,
    ) -> DataFrame:
        """Read specific data files (absolute paths) under the table's
        logical read schema, rename-normalized (`_physical_read`). The
        one entry point every rewrite path (MERGE match, UPDATE, compact,
        rebucket) must use: reading a renamed column by raw schema would
        scan pre-rename files as null and a rewrite would then null the
        column out — silent data loss."""
        fields = self._read_schema(snapshot_id).fields
        if not paths:
            return spark.createDataFrame([], T.StructType(list(fields)))
        return _physical_read(spark, list(paths), fields, with_metadata)

    def _select_snapshot(
        self,
        snapshot_id: int | None,
        as_of_timestamp: float | None,
        tag: str | None,
        branch: str | None,
    ) -> int | None:
        """The snapshot id `read` / `count_rows`' pinning selectors name:
        refuses more than one, resolves ``tag`` through `refs` and
        ``as_of_timestamp`` through `snapshot_as_of`. A ``branch`` is the
        caller's to route (its head lives behind `branch_handle`)."""
        if sum(x is not None for x in (snapshot_id, as_of_timestamp, tag, branch)) > 1:
            raise ValueError(
                "pass at most one of snapshot_id / as_of_timestamp / tag / branch"
            )
        if tag is not None:
            try:
                snapshot_id = self.refs()[tag]
            except KeyError:
                raise ValueError(f"unknown tag {tag!r}") from None
            if isinstance(snapshot_id, dict):
                raise ValueError(f"ref {tag!r} is a branch — pass branch={tag!r}")
        elif as_of_timestamp is not None:
            snapshot_id = self.snapshot_as_of(as_of_timestamp)
        return snapshot_id

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_timestamp: float | None = None,
        where: dict | None = None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """User-facing scan: live rows, table schema + ``commit_seq``.

        Version resolution is BUCKET-scoped (r4): only buckets the
        manifest marks unresolved (merge-on-read appends / adaptive CoW
        appends since their last resolve-compaction) pay the LWW window
        (one window over the merge key, highest ``commit_seq`` wins —
        exactly the MERGE's own rule); every resolved bucket scans
        straight through with no shuffle. A fully-compacted MoR table
        therefore reads at CoW speed, and a long-running one pays the
        window only for its recently-touched buckets — the r3 table-wide
        window is gone. Tombstone winners are dropped last.

        ``as_of_timestamp`` time-travels to the snapshot current at that
        wall-clock (`snapshot_as_of`); ``tag`` reads a named reference
        (`tag`/`refs` — tags pin snapshots against expiry); ``branch``
        reads a staged branch's head (audit sugar for
        `branch_handle(name).read`). The four pinning forms are
        mutually exclusive.

        ``where`` maps column -> a spec: ``(lo, hi)`` inclusive bounds
        (either side ``None`` = open), ``"is null"`` / ``"not null"``,
        or ``{"in": [...]}`` membership (see `_norm_where`). Each spec
        does two things: (a) per-FILE manifest pruning on the
        ``col_stats`` min/max ranges and ``null_counts`` recorded for
        the table's ``stats_cols`` (files whose stats prove the
        predicate empty are never listed to Spark — Iceberg-style data
        skipping, the difference between scanning a day and scanning
        100 TB for a time-range query; null counts additionally prune
        all-null files from range scans and no-null files from IS NULL
        scans); (b) the exact residual filter in Spark, so results are
        identical with or without stats. Value-based file pruning is
        applied ONLY to resolved buckets: in an unresolved bucket a
        newer out-of-range version may supersede an in-range older one,
        so dropping its file before the LWW window could resurrect the
        stale row — those buckets read fully, resolve, then filter.
        """
        snapshot_id = self._select_snapshot(snapshot_id, as_of_timestamp, tag, branch)
        if branch is not None:
            # audit sugar: the staged state, scanned through the branch
            # pointer (same as branch_handle(branch).read(...))
            return self.branch_handle(branch).read(spark, where=where)
        cols = [f.name for f in self.schema(snapshot_id).fields] + ["commit_seq"]
        pred = None
        if where:
            # canonical spec forms + naive datetime bounds → tz-aware UTC,
            # ONCE, so the manifest pruning (_stat_norm: naive == UTC) and
            # the residual Spark filter (F.lit of a naive datetime resolves
            # via the SESSION timezone) agree on the same instant
            where = _norm_where(where)
            verdict = _stats_verdict(where, _priors_map(self.schema(snapshot_id).fields))
            pred = lambda f: verdict(f) != NONE  # noqa: E731
        unres = self.unresolved_buckets(snapshot_id)
        if not unres:
            raw = self.read_raw(spark, snapshot_id, entry_pred=pred)
        else:
            raw = _lww_latest_versions(
                self.read_raw(spark, snapshot_id, buckets=sorted(unres)),
                key_cols=self.key_cols(),
            )
            # id_space, not n_buckets: mid-migration manifests hold
            # resolved files under new-space ids too
            resolved = sorted(set(range(self.id_space(snapshot_id))) - unres)
            if resolved:
                raw = self.read_raw(
                    spark, snapshot_id, buckets=resolved, entry_pred=pred
                ).unionByName(raw)
        raw = raw.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        if where:
            raw = raw.filter(_where_cond(where))
        return raw.select(*cols)

    def _count_plan(
        self, snapshot_id: int | None, where: dict | None
    ) -> tuple[int, list[str], set[int]]:
        """Split a COUNT into its three contributions (`count_rows`'
        planning half, exposed for tests to pin the metadata/scan
        boundary without reading data):

          * ``meta_rows`` — rows summed straight from manifest entries:
            resolved-bucket files that provably hold NO tombstones
            (``has_deletes`` recorded False — None means pre-upgrade /
            unknown, which scans) and, under a ``where``, whose stats
            prove EVERY row matches (`_stats_verdict` ALL);
          * ``residue`` — resolved-bucket file paths (table-relative)
            that must scan exactly: possible tombstones, or a predicate
            the stats can neither prove full nor prove empty (SOME).
            Files whose stats prove the predicate empty (NONE) are
            dropped entirely — they contribute neither metadata rows
            nor scan I/O;
          * ``unres`` — unresolved bucket ids: multiple versions per key
            may coexist there, so file row counts mean nothing until the
            LWW window resolves them (same discipline as `read`, which
            also refuses value-based file pruning on these buckets).

        ``where`` must already be `_norm_where`-normalized."""
        priors = _priors_map(self.schema(snapshot_id).fields) if where else None
        verdict = _stats_verdict(where or {}, priors)
        unres = self.unresolved_buckets(snapshot_id)
        meta_rows = 0
        residue: list[str] = []
        for f in self.manifest(snapshot_id)["files"]:
            if f["bucket"] in unres:
                continue  # counted by the bucket-resolve scan
            v = verdict(f)
            if v == NONE:
                continue  # provably empty for the predicate
            if (
                v == ALL
                and f.get("has_deletes") is False
                and f.get("rows") is not None
            ):
                meta_rows += f["rows"]
            else:
                residue.append(f["path"])
        return meta_rows, residue, unres

    def _exact_scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None,
        residue: list[str],
        unres: set[int],
    ) -> DataFrame | None:
        """The exact half of `count_rows` / `min_max`: live rows of the
        ``residue`` files (table-relative paths) plus the LWW-resolved
        ``unres`` buckets, as ONE frame so the aggregate over it is one
        Spark action. None when both are empty."""
        scans = []
        if residue:
            scans.append(
                self.scan_files(
                    spark, [os.path.join(self.root, p) for p in residue], snapshot_id
                )
            )
        if unres:
            scans.append(
                _lww_latest_versions(
                    self.read_raw(spark, snapshot_id, buckets=sorted(unres)),
                    key_cols=self.key_cols(),
                )
            )
        if not scans:
            return None
        df = scans[0] if len(scans) == 1 else scans[0].unionByName(scans[1])
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))

    def count_rows(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        as_of_timestamp: float | None = None,
        where: dict | None = None,
        tag: str | None = None,
        branch: str | None = None,
        detail: bool = False,
    ) -> int | dict:
        """Exact COUNT of live rows — always equal to
        ``read(...).count()`` — answered from manifest metadata wherever
        stats PROVE the contribution (Iceberg-style aggregate pushdown;
        the reference's progress counts — "%d new studies found",
        `__main__.py:133` — answered as a metadata read instead of a
        table scan).

        Every resolved-bucket file whose manifest entry records zero
        tombstones — and, under a ``where``, whose min/max ranges, null
        counts or value dictionary prove every row matches
        (`_stats_verdict` ALL) — contributes its stored row count
        with no I/O at all. On a 100 TB table a full COUNT is then one
        manifest walk (O(files) driver work, zero executor work), and a
        predicate COUNT scans only the files straddling the predicate
        boundary. The residue — tombstone-bearing files, stats-unprovable
        files, unresolved (MoR/adaptive) buckets — is counted by the
        exact read path in one Spark action (`_exact_scan`), so the
        split is invisible in the result.

        Snapshot selectors (`snapshot_id` / `as_of_timestamp` / `tag` /
        `branch`) match `read`'s and are mutually exclusive.
        ``detail=True`` returns the breakdown dict instead of the bare
        count: ``rows`` / ``from_metadata`` / ``files_scanned`` /
        ``unresolved_buckets`` — the `count` CLI's output, and how an
        operator sees whether a hot count is metadata-served."""
        snapshot_id = self._select_snapshot(snapshot_id, as_of_timestamp, tag, branch)
        if branch is not None:
            return self.branch_handle(branch).count_rows(
                spark, where=where, detail=detail
            )
        where_n = _norm_where(where) if where else {}
        meta_rows, residue, unres = self._count_plan(snapshot_id, where_n)
        total = meta_rows
        exact = self._exact_scan(spark, snapshot_id, residue, unres)
        if exact is not None:
            total += exact.filter(_where_cond(where_n)).count()
        if detail:
            return {
                "rows": total,
                "from_metadata": meta_rows,
                "files_scanned": len(residue),
                "unresolved_buckets": len(unres),
            }
        return total

    def register_temp_view(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: int | None = None,
        as_of_timestamp: float | None = None,
        where: dict | None = None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """Register the table's live state as a Spark temp view so plain
        ``spark.sql`` works over it — the SQL-first face of `read` (all
        of `read`'s snapshot selectors and the stats-pruning ``where``
        apply; the view sees live rows under the logical schema +
        ``commit_seq``). The view is a NAME for the read plan, not a
        copy: Catalyst re-plans it per query, so column pruning and
        filter pushdown still reach the parquet scan, on top of the
        manifest-level file pruning a ``where`` already did. Returns the
        underlying DataFrame.

        Snapshot-isolation semantics: the plan lists the CURRENT
        snapshot's concrete files at registration time, so the view
        keeps reading that snapshot even as new commits land — a
        repeatable-read guarantee, not staleness. Re-register (same
        name) to move the view to the new head."""
        df = self.read(
            spark,
            snapshot_id=snapshot_id,
            as_of_timestamp=as_of_timestamp,
            where=where,
            tag=tag,
            branch=branch,
        )
        df.createOrReplaceTempView(name)
        return df

    #: column types whose parquet min/max statistics are EXACT values
    #: from the data (numerics store the value bytes; strings may be
    #: TRUNCATED — a truncated max is an upper BOUND, not a value that
    #: exists, fine for pruning and count proofs but wrong to RETURN
    #: as a MIN/MAX result), so only these may be served from metadata
    _EXACT_STAT_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType,
    )

    def min_max(
        self,
        spark: SparkSession,
        cols: list[str],
        snapshot_id: int | None = None,
        detail: bool = False,
    ) -> dict:
        """Exact per-column MIN/MAX over live rows — always equal to
        ``read(...).agg(min(c), max(c))`` — served from manifest stats
        wherever they PROVE the contribution (the second half of the
        aggregate-pushdown surface beside `count_rows`).

        A resolved-bucket file contributes its recorded ``col_stats``
        range when (a) it provably holds no tombstones, (b) the column's
        type stores EXACT parquet stats (numerics; string stats may be
        truncated and date/timestamp ranges round-trip through the
        canonical form — both scan instead), and (c) a range is recorded
        under the column's name or a rename prior. An all-null file
        (``null_counts`` == rows) provably contributes nothing and is
        skipped outright. Everything else — tombstone-bearing files,
        stat-less files, non-numeric columns, unresolved MoR/adaptive
        buckets — aggregates through the exact read path in ONE narrow
        Spark job, and the two halves fold together (SQL semantics:
        nulls ignored; an empty table yields None/None).

        Returns ``{col: (min, max)}``; ``detail=True`` adds the
        ``files_scanned`` / ``unresolved_buckets`` split under
        ``"_detail"``."""
        missing = [c for c in cols if c not in {f.name for f in self.schema(snapshot_id).fields}]
        if missing:
            raise ValueError(f"columns not in the table schema: {missing}")
        types = {f.name: f.dataType for f in self.schema(snapshot_id).fields}
        exact = {c for c in cols if isinstance(types[c], self._EXACT_STAT_TYPES)}
        priors = _priors_map(self.schema(snapshot_id).fields)
        # a file whose stats prove a column all-null contributes nothing
        all_null = {c: _stats_verdict({c: "not null"}, priors) for c in cols}
        unres = self.unresolved_buckets(snapshot_id)
        lo: dict[str, object] = {c: None for c in cols}
        hi: dict[str, object] = {c: None for c in cols}
        residue: list[str] = []
        for f in self.manifest(snapshot_id)["files"]:
            if f["bucket"] in unres:
                continue
            served = f.get("has_deletes") is False
            ranges = {}
            if served:
                for c in cols:
                    if all_null[c](f) == NONE:
                        continue
                    rng = _stat(f, "col_stats", c, priors) if c in exact else None
                    if not rng or rng[0] is None or rng[1] is None:
                        served = False
                        break
                    ranges[c] = rng
            if not served:
                residue.append(f["path"])
                continue
            for c, (a, b) in ranges.items():
                lo[c] = a if lo[c] is None else min(lo[c], a)
                hi[c] = b if hi[c] is None else max(hi[c], b)
        df = self._exact_scan(spark, snapshot_id, residue, unres)
        if df is not None:
            row = df.agg(
                *[F.min(c).alias(f"_lo_{c}") for c in cols],
                *[F.max(c).alias(f"_hi_{c}") for c in cols],
            ).collect()[0]
            for c in cols:
                a, b = row[f"_lo_{c}"], row[f"_hi_{c}"]
                if a is not None:
                    lo[c] = a if lo[c] is None else min(lo[c], a)
                if b is not None:
                    hi[c] = b if hi[c] is None else max(hi[c], b)
        out = {c: (lo[c], hi[c]) for c in cols}
        if detail:
            out["_detail"] = {
                "files_scanned": len(residue),
                "unresolved_buckets": len(unres),
            }
        return out

    def _lookup_candidates(
        self, spark: SparkSession, keys: list, snapshot_id: int | None = None
    ):
        """Shared metadata half of `lookup_keys`: route each key through
        the MERGE prune ladder (bucket → manifest key range → bloom
        sidecar) and return ``(keys_df, candidate_abs_paths)``. Split out
        so tests can pin the file bound without reading data."""
        key_cols = self.key_cols()
        rows = []
        for k in keys:
            if isinstance(k, dict):
                try:
                    rows.append(tuple(k[c] for c in key_cols))
                except KeyError as e:
                    raise ValueError(f"lookup key missing column {e}") from None
            else:
                t = tuple(k) if not isinstance(k, str) else (k,)
                if len(t) != len(key_cols):
                    raise ValueError(
                        f"lookup key {k!r} has {len(t)} values; key is {key_cols}"
                    )
                rows.append(t)
        schema_fields = {f.name: f for f in self.schema(snapshot_id).fields}
        kdf = spark.createDataFrame(
            rows, T.StructType([schema_fields[c] for c in key_cols])
        )
        spec = self.manifest(snapshot_id, with_files=False)["partition_spec"]
        # one tiny job: the EXACT write-side _key / bucket / bloom hashes
        # (JVM xxhash64 — a driver-side reimplementation could drift)
        info = kdf.select(
            key_expr(key_cols).alias("_key"),
            effective_bucket_expr(spec, key_cols).alias("_bucket"),
            *bloom.hash_pair(key_expr(key_cols)),
        ).collect()
        by_bucket: dict[int, list] = {}
        for r in info:
            by_bucket.setdefault(r["_bucket"], []).append(r)
        paths: list[str] = []
        for f in self.files_for_buckets(set(by_bucket), snapshot_id):
            # conservative range leg: legacy/statless files keep all
            ks = [
                r for r in by_bucket.get(f["bucket"], ())
                if _ranges_overlap(f, r["_key"], r["_key"])
            ]
            if not ks:
                continue
            if f.get("bloom_path"):
                m = int(f["bloom_m"])
                bits = bloom.open_sidecar(os.path.join(self.root, f["bloom_path"]), m)
                if bits is not None and not bloom.may_contain(
                    bits, m, [r["_h1"] for r in ks], [r["_h2"] for r in ks]
                ).any():
                    continue  # bloom proves no requested key is here
            paths.append(os.path.join(self.root, f["path"]))
        return kdf, paths

    def lookup_keys(
        self, spark: SparkSession, keys: list, snapshot_id: int | None = None
    ) -> DataFrame:
        """Point lookup of a SMALL explicit key set — the read-side of
        the MERGE prune ladder. ``keys`` is a list of dicts
        ``{key_col: value}`` or tuples in `key_cols` order.

        Metadata cost is O(keys + candidate file entries) on the driver;
        the data read lists ONLY files that may hold a requested key:
        bucket routing (free), manifest ``key_min``/``key_max`` overlap
        (free — files are key-clustered chunks, so a key hits ~1 file
        per version), then the per-file bloom sidecars built lazily by
        MERGE (no false negatives, so pruning is safe even on
        UNRESOLVED buckets: every version of a requested key survives
        the ladder). Matched rows LWW-resolve per key (covers MoR /
        adaptive version stacks AND legacy null ``_key`` rows) and
        tombstone winners drop — a deleted key is simply absent. At
        100 TB this is the difference between serving a reconciliation
        probe from a handful of files and scanning a bucket.

        Not a substitute for `read(where=...)`: the key list is
        enumerated driver-side, so this is for bounded lookups (ops
        spot checks, request serving, reconciliation samples), not
        predicates.
        """
        key_cols = self.key_cols()
        if not keys:
            return self.read(spark, snapshot_id).limit(0)
        kdf, paths = self._lookup_candidates(spark, keys, snapshot_id)
        hit = self.scan_files(spark, paths, snapshot_id).join(
            F.broadcast(kdf), on=key_cols, how="left_semi"
        )
        res = _lww_latest_versions(hit, key_cols=key_cols)
        res = res.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        cols = [f.name for f in self.schema(snapshot_id).fields] + ["commit_seq"]
        return res.select(*cols)

    def changed_buckets(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> set[int] | None:
        """Buckets any commit in ``(from, to]`` wrote, from lineage —
        every other bucket's file set is carried forward by path, so its
        state provably cannot differ between the two snapshots. Returns
        ``None`` (= all buckets, correct but unpruned) when lineage for
        part of the range is missing/expired or names a non-bucket
        partition."""
        to_id = self.snapshot_id if to_snapshot_id is None else to_snapshot_id
        if from_snapshot_id > to_id:
            raise ValueError(
                f"from_snapshot {from_snapshot_id} is after to_snapshot {to_id}"
            )
        want = range(from_snapshot_id + 1, to_id + 1)
        if not want:
            return set()
        touched: set[int] = set()
        # direct per-sid lineage reads — O(window commits), NOT O(history)
        # (snapshot ids are contiguous, so the window names its own files;
        # an orphaned pre-crash lineage file is overwritten by the resumed
        # commit of the same id before the pointer swap, so any file for a
        # committed sid is the committed entry)
        for sid in want:
            try:
                with open(
                    os.path.join(self.root, LINEAGE, f"lineage-{sid:010d}.json")
                ) as f:
                    entry = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                # lineage gap (expired) or a torn legacy file predating
                # the durable lineage write — diff unpruned, still correct
                return None
            if "rebucket" in entry:
                rb = entry["rebucket"]
                if "step" in rb:
                    # incremental step: the moved keys' ids on BOTH sides
                    # are known exactly — old id b and its new-space ids
                    # {b + i·n}. Anything else carried by path. Without
                    # this, a changelog-enabled migration would pay one
                    # FULL-table diff per step's (empty) log.
                    k = rb["to"] // rb["from"]
                    for b in rb["step"]:
                        touched.update(b + i * rb["from"] for i in range(k))
                    continue
                # one-shot rebucket: bucket indices mean different key
                # sets on the two sides — pruning by them would be wrong
                return None
            if "rollback" in entry:
                # a rollback writes no files but reverts bucket STATE; its
                # lineage names the exact shard-diff bucket set (null when
                # the revert crossed a rebucket/legacy manifest → unpruned)
                rb = entry["rollback"].get("changed_buckets")
                if rb is None:
                    return None
                touched.update(int(b) for b in rb)
                continue
            for p in entry.get("partitions", []):
                part = p.get("partition", "")
                if not part.startswith("bucket="):
                    return None
                try:
                    touched.add(int(part.split("=", 1)[1]))
                except ValueError:
                    return None
        return touched

    def _live_keyed(
        self, spark: SparkSession, snapshot_id: int, buckets: set[int]
    ) -> DataFrame:
        """Resolved live rows of the given buckets with ``_key`` +
        ``commit_seq`` retained — `read`'s bucket-scoped resolution
        (window only where the manifest marks versions unresolved), kept
        joinable for the snapshot diff."""
        unres = self.unresolved_buckets(snapshot_id) & buckets
        resolved = sorted(buckets - unres)
        parts = []
        if unres:
            parts.append(
                _lww_latest_versions(
                    self.read_raw(spark, snapshot_id, buckets=sorted(unres)),
                    key_cols=self.key_cols(),
                )
            )
        if resolved:
            parts.append(self.read_raw(spark, snapshot_id, buckets=resolved))
        if not parts:
            return spark.createDataFrame([], self._read_schema(snapshot_id))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).withColumn(
            "_key", F.coalesce(F.col("_key"), key_expr(self.key_cols()))
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        use_changelog: bool = True,
    ) -> DataFrame:
        """Incremental scan (Delta-CDF style): the rows whose live state
        changed between two committed snapshots — table schema +
        ``commit_seq`` + ``_change_type`` (``'upsert'`` | ``'delete'``).
        The apply contract (test-pinned): delete the delete-keys from the
        ``from`` state, upsert the rest, and the result equals
        ``read(to)``. Delete rows carry the ``from``-winner preimage.

        Two physical strategies, same answer (parity test-pinned):

        * **Materialized changelog fold** (when the table was created
          with ``changelog=True`` and every commit in ``(from, to]`` has
          a materialized log): union the per-commit logs and fold to the
          window's NET change per key — O(changes in window), no table
          state is read at all, so this path also serves windows whose
          interior (or even ``from``) snapshots have been EXPIRED, as
          long as the logs are retained (CDC retention decoupled from
          snapshot retention, as in Delta CDF).
        * **Bucket-pruned snapshot diff** (fallback, and the path that
          defines the semantics): the feed contract allows arbitrary
          out-of-order delivery — a later commit may apply events with
          LOWER seq than anything stored (the LWW merge exists for
          exactly that), so no seq high-water mark can classify changed
          rows. Instead lineage names every bucket the ``(from, to]``
          commits wrote (`changed_buckets`); untouched buckets are
          carried forward by path and provably identical; the touched
          buckets' resolved live states are diffed with two anti-joins
          on ``(_key, commit_seq, payload hash)`` — same key, seq AND
          payload is the same row, while a payload that changed at an
          unchanged seq (an `update_where` rewrite, or a same-seq
          conflict whose later delivery flipped the deterministic LWW
          winner) is reported as the state change it is. A key inserted
          and deleted inside the window emits nothing. Cost: O(touched-bucket state at both snapshots + one
          key-partitioned join), never O(table).
        """
        to_id = self.snapshot_id if to_snapshot_id is None else to_snapshot_id
        if from_snapshot_id > to_id:
            raise ValueError(
                f"from_snapshot {from_snapshot_id} is after to_snapshot {to_id}"
            )
        if use_changelog and self.changelog_enabled():
            # snapshot ids are contiguous by construction (+1 per commit),
            # so window coverage is a pure directory check — no manifest
            # of the window's interior (or of `from`) is needed
            sids = list(range(from_snapshot_id + 1, to_id + 1))
            if all(self.changelog_ready(s) for s in sids):
                return self._fold_changelogs(spark, to_id, sids)
        parts = self._snapshot_diff_parts(spark, from_snapshot_id, to_id)
        if parts is None:
            return self._empty_changes(spark, to_id)
        ups, dels, _a, cols = parts
        ups = ups.withColumn("_change_type", F.lit("upsert"))
        # schema evolution inside the window: delete preimages read with
        # the older from-schema gain nulls for any columns added since
        return ups.unionByName(dels, allowMissingColumns=True).select(
            *cols, "_change_type"
        )

    def _snapshot_diff_parts(
        self, spark: SparkSession, from_snapshot_id: int, to_id: int
    ):
        """Shared core of the bucket-pruned snapshot diff (`read_changes`
        fallback and `classified_changes`' diff path — ONE definition of
        the row identity and pruning): returns ``(ups, dels, a, cols)``
        where ``ups`` is the to-side rows whose (key, seq, payload-hash)
        identity is absent at ``from`` (not yet labeled/classified),
        ``dels`` the labeled delete preimages, ``a`` the from-side live
        state (for preimage joins). ``None`` = no bucket touched."""
        touched = self.changed_buckets(from_snapshot_id, to_id)
        if touched is None:
            # the two snapshots may sit on different bucket specs (a
            # rebucket inside the window) — cover both index spaces;
            # a spec simply has no shards past its own range. id_space,
            # not n_buckets: a mid-migration snapshot holds new-space ids
            touched = set(
                range(max(self.id_space(from_snapshot_id), self.id_space(to_id)))
            )
        if not touched:
            return None
        a, b = (
            self._live_keyed(spark, from_snapshot_id, touched),
            self._live_keyed(spark, to_id, touched),
        )
        to_fields = self.schema(to_id).fields
        cols = [f.name for f in to_fields] + ["commit_seq"]
        a, b = _with_diff_identity(a, b, priors=_priors_map(to_fields))
        ups = b.join(
            a.select("_key", "commit_seq", "_ph"),
            ["_key", "commit_seq", "_ph"],
            "left_anti",
        )
        dels = a.join(b.select("_key"), ["_key"], "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        return ups, dels, a, cols

    def classified_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        use_changelog: bool = True,
    ) -> DataFrame:
        """`read_changes` with update PREIMAGES: ``_change_type`` is
        ``insert`` / ``update`` (postimages) / ``update_preimage`` /
        ``delete`` (preimages) — the shape delta aggregation needs
        (`lake.views`): an updated key contributes its postimage with
        +1 weight and its preimage with −1, so a sum/count view can be
        maintained from changes alone, never rescanning the table.

        Net-per-key over the window, exactly `read_changes`' semantics
        split one level finer: an `update` here is an upsert whose key
        was live at ``from``; its ``update_preimage`` row is the
        ``from``-winner. A key inserted and deleted inside the window
        emits nothing; a payload reverted A→B→A nets out. Same two
        physical strategies (materialized-log fold when every window
        commit has a log, bucket-pruned snapshot diff otherwise),
        parity test-pinned. This is also the single-commit diff
        `materialize_changelog` persists, so the per-commit logs and
        this window view can never drift."""
        to_id = self.snapshot_id if to_snapshot_id is None else to_snapshot_id
        if from_snapshot_id > to_id:
            raise ValueError(
                f"from_snapshot {from_snapshot_id} is after to_snapshot {to_id}"
            )
        if use_changelog and self.changelog_enabled():
            sids = list(range(from_snapshot_id + 1, to_id + 1))
            if sids and all(self.changelog_ready(s) for s in sids):
                g, cols = self._fold_grouped(spark, to_id, sids)
                alive = F.col("_last_ct") != "delete"
                was_live = F.col("_first_ct") != "insert"
                upd = alive & was_live & ~self._fold_net_noop()
                return emit_change_rows(g, cols, [
                    (alive & ~was_live, "_last", "insert"),
                    (upd, "_last", "update"),
                    (upd, "_pre", "update_preimage"),
                    (~alive & was_live, "_pre", "delete"),
                ])
        parts = self._snapshot_diff_parts(spark, from_snapshot_id, to_id)
        if parts is None:
            return self._empty_changes(spark, to_id)
        ups, dels, a, cols = parts
        was = a.select("_key").withColumn("_was", F.lit(1))
        ups = ups.join(was, "_key", "left").withColumn(
            "_change_type",
            F.when(F.col("_was").isNotNull(), F.lit("update")).otherwise(
                F.lit("insert")
            ),
        )
        upd_pre = a.join(
            ups.filter(F.col("_change_type") == "update").select("_key"), "_key"
        ).withColumn("_change_type", F.lit("update_preimage"))
        return (
            ups.unionByName(upd_pre, allowMissingColumns=True)
            .unionByName(dels, allowMissingColumns=True)
            .select(*cols, "_change_type")
        )

    # ------------------------------------------------------------------ #
    # materialized changelog (Delta-CDF-style, opt-in)
    # ------------------------------------------------------------------ #
    def changelog_enabled(self) -> bool:
        return bool(
            self.manifest(with_files=False)["properties"].get("changelog")
        )

    def _changelog_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.root, CHANGELOG, f"commit-{snapshot_id:010d}")

    def changelog_ready(self, snapshot_id: int) -> bool:
        """A log is usable only once its writer committed (_SUCCESS) —
        a crash mid-write leaves no marker and the window falls back to
        the snapshot diff."""
        return os.path.exists(os.path.join(self._changelog_dir(snapshot_id), "_SUCCESS"))

    def changelog_read_schema(self, snapshot_id: int | None = None) -> T.StructType:
        """The one definition of a change row's shape (table columns at
        the given snapshot + ``commit_seq`` + ``_change_type``) — shared
        by the fold, the empty result, and the `stream_changes` consumer
        so they can never drift. Reading older logs with this (current)
        schema follows the data-file discipline: later-added columns →
        null, pre-widening types → parquet upcast, footerless empty logs
        → empty frame."""
        cols = [f.name for f in self.schema(snapshot_id).fields] + ["commit_seq"]
        return T.StructType(
            [f for f in self._read_schema(snapshot_id).fields if f.name in cols]
            + [T.StructField("_change_type", T.StringType(), True)]
        )

    @staticmethod
    def changelog_sid_col():
        """Commit id of a changelog row, extracted from its file's PARENT
        directory — anchored to the path tail so a ``commit-<digits>``
        segment anywhere else in the table's root path can never shadow
        it."""
        return F.regexp_extract(
            F.col("_metadata.file_path"), r"/commit-(\d{10})/[^/]*$", 1
        ).cast("long")

    def _empty_changes(self, spark: SparkSession, to_id: int) -> DataFrame:
        return spark.createDataFrame([], self.changelog_read_schema(to_id))

    def materialize_changelog(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> str:
        """Write the per-commit change log for ``snapshot_id`` (default:
        current): the single-commit bucket-pruned diff vs its parent,
        CLASSIFIED — ``insert`` / ``update`` (postimages), plus
        ``update_preimage`` and ``delete`` (preimages). Classification is
        what lets the window fold distinguish a key inserted-then-deleted
        inside a window (nets to nothing) from updated-then-deleted
        (nets to a delete carrying the from-winner preimage).

        This is the DIFF producer — the semantics the capture fast path
        must match: full-ladder CoW merges write their own log from the
        ranked version sets the MERGE window already resolves
        (`cdc.merge._capture_changes_plan` → `write_changelog_rows`,
        O(matched files + batch)); state-preserving rewrites publish
        their empty log directly (`_publish_empty_changelog`); the MoR /
        adaptive-append / branch / tombstone-GC legs (which never rank
        stored state) and the heal paths come HERE for the one extra
        diff per commit, O(touched-bucket state) — a metadata-only
        commit's empty diff is published without one. Capture-vs-diff
        parity is test-pinned (`tests/test_changes.py`).
        Idempotent: re-materializing overwrites atomically (_SUCCESS is
        the readiness marker). Publication is write-to-hidden-tmp +
        rename, so a `stream_changes` consumer tailing the directory
        never lists a half-written commit (on object stores without
        atomic rename, the _SUCCESS check inside the dir is the
        fallback guard).

        On a BRANCH handle this is a deliberate no-op (returns None):
        a staged commit's log under ``_changelog/commit-*`` would leak
        unpublished changes to `stream_changes` consumers tailing the
        directory. `publish_branch(spark=...)` writes the published
        commits' logs in order; until then branch-window `read_changes`
        serves from the snapshot-diff fallback."""
        if self._branch is not None:
            return None
        sid = self.snapshot_id if snapshot_id is None else snapshot_id
        parent = self.manifest(sid, with_files=False)["parent_id"]
        if parent is None:
            raise ValueError("snapshot 0 has no parent to diff against")
        if self.changed_buckets(parent, sid) == set():
            # metadata-only commit: no bucket's file set moved, so the
            # diff is empty by construction — publish it without a job
            return self._publish_changelog(None, sid)
        # single-commit classified snapshot diff (use_changelog=False:
        # this WRITES the log — it must never read one)
        ch = self.classified_changes(spark, parent, sid, use_changelog=False)
        return self._publish_changelog(ch, sid)

    def _publish_changelog(self, ch: DataFrame | None, sid: int) -> str:
        """Atomically publish a classified change DataFrame as commit
        ``sid``'s log: write to a hidden tmp dir, rename into place —
        a `stream_changes` consumer tailing the directory never lists a
        half-written commit (crash-orphaned tmp dirs are swept by
        `expire_snapshots`). ``ch=None`` publishes an EMPTY log as a
        bare ``_SUCCESS`` marker, with no Spark job: every log reader
        passes `changelog_read_schema`, so a dir holding no data file
        reads as an empty frame."""
        import shutil
        import uuid

        path = self._changelog_dir(sid)
        tmp = os.path.join(self.root, CHANGELOG, f".tmp-{uuid.uuid4().hex}")
        if ch is None:
            os.makedirs(tmp)
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
        else:
            ch.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        return path

    def write_changelog_rows(
        self, spark: SparkSession, snapshot_id: int, ch: DataFrame
    ) -> str | None:
        """Publish an ALREADY-CLASSIFIED change set as ``snapshot_id``'s
        log — the write-time capture fast path (`cdc.merge.merge_into`
        computes the single-commit change set from the rows its own LWW
        window already ranked, O(matched files + batch), instead of the
        post-hoc snapshot diff's two touched-bucket state scans). The
        caller guarantees exact `classified_changes` single-commit
        semantics (parity is test-pinned); columns are projected to the
        canonical log schema here so a capture plan carrying extra
        engine columns can never widen the log. Branch handles no-op
        (returns None): staged commits' logs would leak to consumers —
        `publish_branch` writes them in order at publish time.

        Gap guard: the startup heal (`materialize_new_changelogs`)
        assumes a missing log below the highest READY log is a
        deliberate retention sweep — so logs must land in ascending
        order. If the commit(s) just below ``snapshot_id`` lost their
        logs to a crash (commit and log write are non-atomic by
        design), writing this one first would bury that gap mid-history
        where the heal never looks. The guard walks down the missing
        run and materializes it from the diff, stopping at the first
        ready log (retention-swept prefixes below it stay swept) or an
        unhealable commit (expired manifests — the heal skips those
        too, and the window falls back to the diff/unserveable path
        either way). Common case cost: one ``changelog_ready`` stat."""
        if self._branch is not None or not self._heal_log_gap(spark, snapshot_id):
            return None
        cols = [f.name for f in self.schema(snapshot_id).fields] + ["commit_seq"]
        return self._publish_changelog(
            ch.select(*cols, "_change_type"), snapshot_id
        )

    def _heal_log_gap(self, spark: SparkSession, snapshot_id: int) -> bool:
        """`write_changelog_rows`' gap guard: materialize the missing run
        of logs just below ``snapshot_id``, oldest first. False when the
        run is deeper than `GAP_GUARD_MAX` — then no log may be written
        for ``snapshot_id`` either (see there)."""
        prev, fill = snapshot_id - 1, []
        while prev >= 1 and not self.changelog_ready(prev):
            if len(fill) >= GAP_GUARD_MAX:
                # a run this deep is not a crash gap — deeper backfill
                # would turn one merge into O(history) synchronous diff
                # jobs. Leave the WHOLE run (this log included: ascending
                # order is the invariant) to the startup heal.
                return False
            try:
                self.manifest(prev, with_files=False)
                self.manifest(prev - 1, with_files=False)
            except (FileNotFoundError, ValueError):
                break  # unhealable below (expired manifests)
            fill.append(prev)
            prev -= 1
        for sid in reversed(fill):
            self.materialize_changelog(spark, sid)
        return True

    def _publish_empty_changelog(self, spark: SparkSession, sid: int) -> None:
        """Log of a STATE-PRESERVING commit ``sid`` (compaction without
        tombstone GC, `rebucket`, `rebucket_step`): it rewrites files but
        no live row — versions fold to the scan-time LWW winner,
        tombstone winners stay — so its classified change set is empty
        by construction. Publish that directly — no diff, no Spark job —
        behind `write_changelog_rows`' gap guard, so logs keep landing in
        ascending order. No-op unless the changelog is enabled, and on a
        branch handle (see `materialize_changelog`)."""
        if (
            self.changelog_enabled()
            and self._branch is None
            and self._heal_log_gap(spark, sid)
        ):
            self._publish_changelog(None, sid)

    def _fold_grouped(
        self, spark: SparkSession, to_id: int, sids: list[int]
    ) -> tuple[DataFrame, list[str]]:
        """Shared per-key fold over the window's materialized logs: one
        scan relation, ONE partial-aggregating groupBy picking the first
        preimage and the last event per key. min_by/max_by key on MASKED
        commit ids (null = row invisible to that aggregate — verified
        null-skip semantics), because a raw struct min/max cannot order
        map-typed payload columns. _sid is unique per (key, commit), so
        the picks are deterministic. Serves `_fold_changelogs` (net
        upsert/delete) and the classified fold in `classified_changes`
        (insert/update/preimage/delete for delta aggregation)."""
        key_cols = self.key_cols()
        cols = [f.name for f in self.schema(to_id).fields] + ["commit_seq"]
        # ONE scan relation over all per-commit dirs (not a union of N
        # plans); the commit id rides in from the directory name
        logs = _physical_read(
            spark,
            [self._changelog_dir(s) for s in sids],
            self.changelog_read_schema(to_id).fields,
            with_metadata=True,  # changelog_sid_col reads _metadata.file_path
        ).withColumn("_sid", self.changelog_sid_col())
        ev_sid = F.when(F.col("_change_type") != "update_preimage", F.col("_sid"))
        pre_sid = F.when(
            F.col("_change_type").isin("update_preimage", "delete"), F.col("_sid")
        )
        row_s = F.struct(*[F.col(c) for c in cols])
        # row identity hash (same definition as the snapshot diff): lets
        # the fold drop a key whose net state REVERTED to its `from` row
        # inside the window (payload rewritten A→B→A at unchanged seq —
        # only `update_where` can produce it), keeping exact parity with
        # the snapshot diff, which sees identical rows and emits nothing
        ph = lww_payload_hash(
            [f for f in self.changelog_read_schema(to_id).fields if f.name in cols]
        )
        logs = logs.withColumn("_ph", ph)
        g = logs.groupBy(*key_cols).agg(
            F.max_by(row_s, ev_sid).alias("_last"),      # final event's row
            F.max_by("_change_type", ev_sid).alias("_last_ct"),
            F.min_by("_change_type", ev_sid).alias("_first_ct"),
            F.min_by(row_s, pre_sid).alias("_pre"),      # first preimage row
            F.max_by("_ph", ev_sid).alias("_last_ph"),
            F.min_by("_ph", pre_sid).alias("_pre_ph"),
        )
        return g, cols

    @staticmethod
    def _fold_net_noop():
        """A key whose net window state equals its `from` row: key was
        live at `from` (first event not an insert) and the last postimage
        IS the from-row — same seq, same payload hash (the diff's row
        identity). coalesce: a null comparison (missing preimage in a
        legacy/partial log) must KEEP the change, never drop it."""
        return F.coalesce(
            (F.col("_first_ct") != "insert")
            & (F.col("_last.commit_seq") == F.col("_pre.commit_seq"))
            & (F.col("_last_ph") == F.col("_pre_ph")),
            F.lit(False),
        )

    def _fold_changelogs(
        self, spark: SparkSession, to_id: int, sids: list[int]
    ) -> DataFrame:
        """Window fold over materialized per-commit logs: the NET change
        per key, matching the snapshot-diff semantics exactly.

        Per key over the window's classified events (preimage rows
        excluded): take the LAST event — if it is an upsert, emit its
        postimage; if it is a delete, emit a delete UNLESS the FIRST
        event was an insert (key not live at `from` → inserted and
        deleted inside the window → nothing), with the preimage row
        taken from the FIRST event's commit (its ``update_preimage`` or
        ``delete`` row — by definition the state at `from`, since no
        earlier window commit touched the key). The strict LWW total
        order makes feed events' net state differ from `from`; the one
        self-cancelling shape — a payload rewritten A→B→A at unchanged
        seq by two `update_where` commits — is dropped by comparing the
        last postimage to the first preimage under the diff's own row
        identity (seq + payload hash), keeping exact parity with the
        snapshot-diff path. Cost: O(changes in window).
        """
        if not sids:
            return self._empty_changes(spark, to_id)
        g, cols = self._fold_grouped(spark, to_id, sids)
        last_del = F.col("_last_ct") == "delete"
        return emit_change_rows(g, cols, [
            (~last_del & ~self._fold_net_noop(), "_last", "upsert"),
            (last_del & (F.col("_first_ct") != "insert"), "_pre", "delete"),
        ])

    # ------------------------------------------------------------------ #
    # write path (used by merge.py)
    # ------------------------------------------------------------------ #
    _Z_BITS = 16  # per-column resolution ceiling; shrinks to fit 63 bits

    def _zorder_column(self, df: DataFrame, cols: list[str]):
        """Morton (Z-order) sort key over ``cols`` — multi-dimensional
        clustering so `read(where=...)` file-prunes well on EVERY
        clustered column, not just the leading one (linear sort's
        weakness; the Delta OPTIMIZE ZORDER analog).

        Each column is scaled to a 16-bit integer over its min/max in
        the rewrite set (one cheap narrow aggregate — compaction pays a
        second scan of the files it rewrites anyway), then the bits are
        interleaved into one long, all in JVM bitwise expressions
        (whole-stage codegen; no UDF). Per-column resolution shrinks to
        ``63 // n_cols`` bits when 16 bits each would not fit a signed
        long: bit 63 is the sign bit (a set top bit would sort half the
        rows BEFORE all smaller keys) and Java ``shiftleft`` wraps its
        shift mod 64 (bit 79 would silently alias bit 15). Uniform
        binning: heavy value skew degrades toward linear-sort behavior
        on the skewed column — documented, and the stats-pruning
        residual filter keeps results exact regardless. Numeric and
        timestamp columns only (byte-prefix ordering for strings is not
        implemented; refused at property-set time)."""
        nums = [
            F.col(c).cast("double")
            for c in cols  # timestamps cast to epoch-seconds doubles
        ]
        bounds = df.agg(
            *[f(c).alias(f"{i}_{j}") for i, c in enumerate(nums)
              for j, f in enumerate((F.min, F.max))]
        ).collect()[0]
        zbits = min(self._Z_BITS, 63 // max(len(nums), 1))
        top = (1 << zbits) - 1
        scaled = []
        for i, c in enumerate(nums):
            lo, hi = bounds[f"{i}_0"], bounds[f"{i}_1"]
            if lo is None or hi is None or hi <= lo:
                scaled.append(F.lit(0).cast("long"))
                continue
            frac = (c - F.lit(float(lo))) / F.lit(float(hi) - float(lo))
            scaled.append(
                F.coalesce(
                    F.floor(frac * top).cast("long"), F.lit(0).cast("long")
                )
            )
        z = F.lit(0).cast("long")
        for b in range(zbits):
            for i, s in enumerate(scaled):
                bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * len(scaled) + i))
        return z

    def write_snapshot_files(
        self,
        df: DataFrame,
        snapshot_id: int,
        n_buckets: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> list[dict]:
        """Write new data files for a snapshot; return manifest file entries.

        ``df`` must contain the full read-schema (table + engine cols) with
        ``_bucket`` populated. Within each bucket the rows are sorted by
        the canonical ``_key`` and chunked into files of at most
        ``target_file_rows`` rows — key-clustered files with tight
        ``key_min``/``key_max`` stats, the unit of copy-on-write rewrite.

        The directory carries a per-ATTEMPT uuid, not just the snapshot id:
        two racing writers would otherwise both target ``snap-N`` and the
        ``overwrite`` would destroy the eventual winner's files before the
        optimistic-concurrency check in `commit_snapshot` could fire. The
        loser's uuid directory is merely orphaned (referenced by no
        manifest; `expire_snapshots`' orphan sweep reclaims it once a
        commit has advanced past the attempt's target snapshot).
        """
        rel = os.path.join(DATA, f"snap-{snapshot_id:010d}-{uuid.uuid4().hex[:8]}")
        out = os.path.join(self.root, rel)
        if "_fg" not in df.columns:
            df = df.withColumn("_fg", F.lit(-1).cast("long"))
        sort_cols = list(cluster_by or [])
        zexpr = None
        if sort_cols and self.cluster_method() == "zorder":
            # Morton key replaces the linear concatenation; the bounds
            # aggregate runs on the pre-shuffle frame, the expression is
            # applied AFTER the exchange (like _key: derived bytes never
            # cross the shuffle), the sort consumes it, the write drops it
            zexpr = self._zorder_column(df, sort_cols)
            sort_cols = ["_zv"]
        staged = (
            df.drop("_key", "_bh1", "_bh2")
            .withColumn("_pb", F.col("_bucket"))
            .repartition(n_buckets or self.n_buckets(), F.col("_bucket"))
            # derived columns are (re)computed AFTER the exchange so the
            # shuffle never carries bytes reconstructible from the key:
            # _key for clustering/stats/exact-prune, and the raw 64-bit
            # key hashes the bloom build later reads as two int columns
            # (the explicit read schema hides all three from normal scans)
            .withColumn("_key", key_expr(self.key_cols()))
            .select("*", *bloom.hash_pair(names=("_bh1", "_bh2")))
            # prefix (_pb, _fg) satisfies the dynamic-partition writer's
            # required ordering (no second SortExec), _key then guarantees
            # each emitted chunk is key-clustered with tight min/max stats.
            # A maintenance rewrite may interpose `cluster_by` columns so
            # chunks cluster on READ-predicate ranges instead (see the
            # `cluster_by` property for the documented key-range trade).
        )
        if zexpr is not None:
            staged = staged.withColumn("_zv", zexpr)
        staged = staged.sortWithinPartitions("_pb", "_fg", *sort_cols, "_key")
        if zexpr is not None:
            # sort key only; the projection keeps the in-partition order
            staged = staged.drop("_zv")
        (
            staged.write.partitionBy("_pb", "_fg")
            .option("maxRecordsPerFile", self.effective_file_rows())
            .mode("overwrite")
            .parquet(out)
        )
        targets: list[tuple[str, int]] = []
        for dirpath, _dirs, fnames in os.walk(out):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                bucket = next(
                    int(part.split("=")[1])
                    for part in dirpath.split(os.sep)
                    if part.startswith("_pb=")
                )
                targets.append((os.path.join(dirpath, fn), bucket))

        stats_cols = self.stats_cols()
        dict_cols = self.dict_cols()
        dict_cap = self.dict_max_vals()

        def entry_of(t: tuple[str, int]) -> dict:
            full, bucket = t
            pf = pq.ParquetFile(full)
            meta = pf.metadata
            seq_min, seq_max = _col_range(meta, "commit_seq")
            key_min, key_max = _col_range(meta, "_key")
            _del_min, del_max = _col_range(meta, "_deleted")
            col_stats = {}
            null_counts = {}
            for c in stats_cols:
                lo, hi = (_stat_norm(v) for v in _col_range(meta, c))
                if lo is not None and hi is not None:
                    col_stats[c] = [lo, hi]
                nc = _col_nulls(meta, c)
                if nc is not None:
                    # recorded even when min/max is absent: an ALL-NULL
                    # file has no range at all, and the null count is
                    # exactly what lets the pruner drop it from range /
                    # IS NOT NULL scans (and keep it for IS NULL)
                    null_counts[c] = nc
            dicts = {}
            for c in dict_cols:
                vals = _col_dict(pf, c, dict_cap)
                if vals is not None:
                    dicts[c] = vals
            return {
                **({"col_stats": col_stats} if col_stats else {}),
                **({"null_counts": null_counts} if null_counts else {}),
                **({"dicts": dicts} if dicts else {}),
                "path": os.path.relpath(full, self.root),
                "bucket": bucket,
                "rows": meta.num_rows,
                "bytes": os.path.getsize(full),
                "seq_min": seq_min,
                "seq_max": seq_max,
                "key_min": key_min,
                "key_max": key_max,
                # bool col stats: max=True ⇔ file holds a tombstone
                "has_deletes": bool(del_max) if del_max is not None else None,
            }

        # footer reads are I/O-bound metadata (~1-2 ms each); a thread
        # pool keeps this off the commit's serial path (one serial driver
        # second costs ~4 points of N→4N scaling efficiency)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as ex:
            entries = list(ex.map(entry_of, targets))
        return entries

    def build_blooms(self, spark: SparkSession, entries: list[dict]) -> dict[str, dict]:
        """Per-file key bloom sidecars (Iceberg puffin analog), built
        LAZILY: not at write time (that would tax every commit's hot
        path), but the first time a file becomes a rewrite candidate —
        amortized into the match phase that would otherwise exact-scan it.
        Returns ``{path: {"bloom_path", "bloom_m"}}`` updates (the passed
        entry dicts are updated in place too) for `commit_snapshot` to
        fold into carried-forward manifest entries.

        One SHUFFLE-FREE Spark job over the given files, reading ONLY the
        two persisted raw-hash int columns — no string decode, no re-hash.
        Each task builds PARTIAL bitmaps for the files in its scan
        partition inside an Arrow `mapInPandas` (rows of a file are
        contiguous in the scan, so this emits ~one row of m/8 bytes per
        file, no exchange of the 8 B/row hashes); the driver ORs partials
        per file. MERGE uses the result to prove a file holds NO batch key
        without reading it — the prune that keeps per-commit cost O(batch)
        instead of O(table key scan).
        """
        if not entries:
            return {}

        m = bloom.size_bits(max(e["rows"] for e in entries) or 1)

        def build_partials(batches):
            import pandas as pd

            partial: dict[str, "np.ndarray"] = {}
            for pdf in batches:
                for fname, grp in pdf.groupby("f"):
                    bits = partial.get(fname)
                    if bits is None:
                        bits = partial[fname] = bloom.empty(m)
                    for col in ("_bh1", "_bh2"):
                        if grp[col].isna().any():
                            # pre-upgrade file without hash columns — the
                            # all-zero-bitmap guard below drops it
                            continue
                        bloom.set_bits(bits, m, grp[col].to_numpy())
            yield pd.DataFrame(
                {"f": list(partial), "bloom": [b.tobytes() for b in partial.values()]}
            )

        paths = [os.path.join(self.root, e["path"]) for e in entries]
        hash_schema = T.StructType(
            [T.StructField("_bh1", T.LongType()), T.StructField("_bh2", T.LongType())]
        )
        kdf = (
            spark.read.schema(hash_schema)
            .parquet(*paths)
            .select(F.input_file_name().alias("f"), "_bh1", "_bh2")
        )
        import numpy as np

        merged: dict[str, "np.ndarray"] = {}
        for r in kdf.mapInPandas(build_partials, "f string, bloom binary").collect():
            arr = np.frombuffer(r["bloom"], dtype=np.uint8)
            if r["f"] in merged:
                merged[r["f"]] = merged[r["f"]] | arr
            else:
                merged[r["f"]] = arr
        by_real = {
            os.path.realpath(os.path.join(self.root, e["path"])): e for e in entries
        }
        bdir = os.path.join(self.root, BLOOMS)
        os.makedirs(bdir, exist_ok=True)
        updates: dict[str, dict] = {}
        for fname, bits in merged.items():
            real = os.path.realpath(fname.removeprefix("file:"))
            e = by_real.get(real)
            if e is None:
                continue
            if e.get("rows", 0) > 0 and not bits.any():
                # pre-upgrade file without the hash columns: an all-zero
                # bloom would FALSELY reject its keys — leave it bloomless
                # (always exact-scanned) instead
                continue
            name = f"bloom-{uuid.uuid4().hex}.bin"
            bloom.save(os.path.join(bdir, name), bits)
            upd = {"bloom_path": os.path.join(BLOOMS, name), "bloom_m": m}
            e.update(upd)
            updates[e["path"]] = upd
        return updates

    def _rebase_conflict(
        self,
        base_snapshot: int,
        head: dict,
        write_buckets: set[int],
        *,
        advances_offsets: bool,
        evolves_schema: bool,
        sets_properties: bool,
    ) -> str | None:
        """Why a commit computed against ``base_snapshot`` must NOT be
        replayed on top of ``head`` — or ``None`` when the rebase is
        provably safe.

        The bucket check is exact and O(n_buckets): a carried bucket
        keeps its manifest shard NAME, and every path that changes a
        bucket's state (new files, replaced files, unresolved-mark
        add/remove, metadata-only resolve) rewrites its shard under a
        fresh name — so ``base.shard[b] == head.shard[b]`` proves bucket
        ``b``'s files and version-resolution state are byte-identical
        between the two snapshots.
        """
        try:
            bm = self.manifest(base_snapshot, with_files=False)
        except (FileNotFoundError, ValueError):
            return f"base snapshot {base_snapshot} is no longer resolvable"
        if "file_shards" not in bm or "file_shards" not in head:
            return "legacy inline-files manifest (single-writer only)"
        if head["partition_spec"] != bm["partition_spec"]:
            return "partition spec changed concurrently (rebucket)"
        if evolves_schema and head["schema_version"] != bm["schema_version"]:
            # OUR evolution was computed from the base schema; replaying it
            # could silently drop columns the intervening evolution added.
            # (A NON-evolving commit tolerates intervening adds/widening:
            # it carries the head's schema, and its parquet files read
            # fine under the wider schema — missing columns scan as null,
            # narrower types up-cast.)
            return "schema evolved concurrently"
        if advances_offsets and head["offsets"] != bm["offsets"]:
            return "feed cursor advanced concurrently (second ingest writer)"
        if sets_properties and head["properties"] != bm["properties"]:
            return "table properties changed concurrently"
        bs, hs = bm["file_shards"], head["file_shards"]
        clash = sorted(b for b in write_buckets if bs.get(str(b)) != hs.get(str(b)))
        if clash:
            return f"buckets {clash[:8]} changed concurrently"
        return None

    def commit_snapshot_optimistic(
        self, base_snapshot: int, *, max_rebases: int = 5, **kwargs
    ) -> int:
        """Optimistic-concurrency commit: `commit_snapshot` anchored at
        ``base_snapshot``, with Iceberg-style retry when another writer
        advanced the table first.

        On `ConcurrentCommitError` the conflict validator
        (`_rebase_conflict`) decides whether the commit's effects are
        independent of everything that landed in ``(base, head]`` — same
        partition spec, untouched shard names for every bucket this
        commit writes or replaces, cursor/schema/properties rules — and
        if so simply retries at the new head: `commit_snapshot` re-reads
        the parent manifest at call time, so carried buckets, offsets
        default, seq_high and scrub_dirty all fold against the head.
        A genuine conflict raises with the reason; the caller re-plans
        (re-runs the whole operation) or surfaces the error.

        Offsets rule: a commit whose explicit ``offsets`` equal the base
        snapshot's (compact / delete / update — "carry the cursor
        unchanged") is re-expressed as carry-parent, so a rebase adopts
        the head's advanced cursor instead of clobbering it. An ingest
        commit (offsets genuinely advance) conflicts with any concurrent
        cursor move — two writers draining one feed is never safe.

        This makes the classic concurrent pair — ingest loop + a
        maintenance/compaction daemon — converge without coordination.
        """
        if "expected_parent" in kwargs:
            raise ValueError(
                "commit_snapshot_optimistic manages expected_parent itself"
            )
        write_buckets: set[int] = set(kwargs.get("touched_buckets") or ())
        for e in kwargs.get("new_files") or ():
            write_buckets.add(e["bucket"])
        write_buckets |= set(kwargs.get("unresolved_add") or ())
        write_buckets |= set(kwargs.get("unresolved_remove") or ())
        unparseable = False
        for p in kwargs.get("replaced_paths") or ():
            b = self._bucket_of_path(p)
            if b is None:
                unparseable = True
            else:
                write_buckets.add(b)
        advances_offsets = kwargs.get("offsets") is not None
        if advances_offsets:
            try:
                base_off = self.manifest(base_snapshot, with_files=False)["offsets"]
            except (FileNotFoundError, ValueError):
                base_off = None  # refused later by _rebase_conflict
            if kwargs["offsets"] == base_off:
                kwargs["offsets"] = None  # data-only: carry the head's cursor
                advances_offsets = False
        evolves_schema = kwargs.get("schema") is not None
        sets_properties = kwargs.get("properties") is not None
        attempt = base_snapshot
        last: ConcurrentCommitError | None = None
        for _ in range(max_rebases + 1):
            try:
                return self.commit_snapshot(expected_parent=attempt, **kwargs)
            except ConcurrentCommitError as e:
                last = e
                head = self.manifest(with_files=False)
                if head["snapshot_id"] == attempt:
                    # the pointer did NOT move: this is a guard (sid staged
                    # on a branch, stale branch line), not a commit race —
                    # no rebase can clear it, surface it verbatim
                    raise
                reason = (
                    "replaced file outside the bucket layout"
                    if unparseable
                    else self._rebase_conflict(
                        base_snapshot,
                        head,
                        write_buckets,
                        advances_offsets=advances_offsets,
                        evolves_schema=evolves_schema,
                        sets_properties=sets_properties,
                    )
                )
                if reason is not None:
                    raise ConcurrentCommitError(
                        f"cannot rebase commit (base snapshot {base_snapshot}) "
                        f"onto head {head['snapshot_id']}: {reason}"
                    ) from e
                attempt = head["snapshot_id"]
        raise ConcurrentCommitError(
            f"gave up after {max_rebases} rebases; table under heavy "
            "concurrent write load"
        ) from last

    @_with_commit_lock
    def commit_snapshot(
        self,
        new_files: list[dict],
        touched_buckets: set[int] | None = None,
        offsets: dict | None = None,
        schema: T.StructType | None = None,
        lineage_extra: dict | None = None,
        started_at: float | None = None,
        expected_parent: int | None = None,
        replaced_paths: set[str] | None = None,
        entry_updates: dict[str, dict] | None = None,
        unresolved_add: set[int] | None = None,
        unresolved_remove: set[int] | None = None,
        partition_spec: dict | None = None,
        properties: dict | None = None,
        mark_scrub_dirty: bool = False,
    ) -> int:
        """Build + atomically publish the next manifest.

        Carry-forward granularity is the FILE: ``replaced_paths`` names the
        exact data files (manifest-relative paths) this commit supersedes;
        every other live file is carried forward by path, untouched on
        disk. ``touched_buckets`` is the coarse legacy form — it expands to
        "all files of those buckets" (used by full-bucket rewrites such as
        the initial load path in tests). Passing neither replaces nothing
        (pure append / offsets-only commit). ``entry_updates`` folds
        metadata earned since the parent manifest (lazily built bloom
        sidecars) into the carried entries.

        Concurrency: ``expected_parent`` is the optimistic check — a
        second writer fails loudly (`ConcurrentCommitError`) instead of
        silently clobbering the pointer. `commit_snapshot_optimistic`
        layers Iceberg-style validate-and-retry on top so provably
        disjoint writers (ingest + compaction daemon) converge without
        coordination. In-process the whole read→swap section holds the
        per-root commit lock (true atomicity for multi-threaded
        drivers); cross-process the check is best-effort, since POSIX
        rename can't truly CAS (the reference's deployment is one
        cron-driven pipeline: `__main__.py:98-133`).

        ``unresolved_add`` marks buckets whose new files may hold
        superseded key versions (MoR / adaptive appends);
        ``unresolved_remove`` clears buckets a resolve-compaction just
        folded. ``version_base_rows`` is maintained here: a changed
        bucket that ends the commit RESOLVED records its live rows (≈
        distinct keys) as the base; a bucket entering the unresolved set
        keeps its last resolved base (or, for a brand-new bucket, its
        first append's rows — MoR winners are one-per-key, so that IS
        the key count).
        """
        cur = self.manifest(with_files=False)
        if expected_parent is not None and cur["snapshot_id"] != expected_parent:
            raise ConcurrentCommitError(
                f"table advanced to snapshot {cur['snapshot_id']} "
                f"(expected {expected_parent}); another writer is active"
            )
        if offsets is None:  # offsets-only default: carry the parent's
            offsets = cur["offsets"]
        snap = cur["snapshot_id"] + 1
        self._guard_staged_sid(snap)
        dropped = set(replaced_paths or ())
        buckets = touched_buckets if touched_buckets is not None else set()
        upd = entry_updates or {}

        # -- sharded carry-forward: rewrite ONLY changed buckets' shards --
        legacy_files = cur.get("files") if "file_shards" not in cur else None
        changed: set[int] = set(buckets)
        # buckets leaving the unresolved set must recount their base rows
        # even when no file changed (metadata-only resolve): routing them
        # through the shard loop recomputes final rows; entries carry
        # forward verbatim
        changed |= set(unresolved_remove or ())
        for e in new_files:
            changed.add(e["bucket"])
        for p in dropped | set(upd):
            b = self._bucket_of_path(p)
            if b is None:
                # unparseable path (shouldn't happen with our layout):
                # conservatively rewrite every bucket's shard — UNION, not
                # replace: new files may target buckets beyond the old
                # spec's range (a grow rebucket), and dropping them here
                # would orphan their freshly written data
                changed |= set(
                    range(
                        cur["partition_spec"].get("migrating_to")
                        or cur["partition_spec"]["n_buckets"]
                    )
                )
                break
            changed.add(b)
        new_by_bucket: dict[int, list[dict]] = {}
        for e in new_files:
            new_by_bucket.setdefault(e["bucket"], []).append(e)
        if legacy_files is not None:
            # one-time migration of an inline-"files" manifest: shard out
            # every bucket that has entries (or changes)
            parent_by_bucket: dict[int, list[dict]] = {}
            for f in legacy_files:
                parent_by_bucket.setdefault(f["bucket"], []).append(f)
            changed |= set(parent_by_bucket)
            shard_map: dict[str, str] = {}
        else:
            parent_by_bucket = {}
            shard_map = dict(cur["file_shards"])  # unchanged buckets: by NAME
        final_rows_by_bucket: dict[int, int] = {}
        for b in sorted(changed):
            if legacy_files is not None:
                parent_entries = parent_by_bucket.get(b, [])
            else:
                name = shard_map.get(str(b))
                parent_entries = self._load_shard(name) if name else []
            entries = [
                {**f, **upd[f["path"]]} if f["path"] in upd else f
                for f in parent_entries
                if f["path"] not in dropped and f["bucket"] not in buckets
            ] + new_by_bucket.get(b, [])
            final_rows_by_bucket[b] = sum(e.get("rows", 0) or 0 for e in entries)
            if entries:
                shard_map[str(b)] = self._write_shard(snap, b, entries)
            else:
                shard_map.pop(str(b), None)
        # -- version-resolution tracking --------------------------------
        parent_unres = self.unresolved_buckets()  # legacy-mor-aware
        new_unres = (parent_unres | set(unresolved_add or ())) - set(
            unresolved_remove or ()
        )
        new_unres &= {int(k) for k in shard_map}  # empty bucket = resolved
        base = {
            k: v
            for k, v in dict(cur.get("version_base_rows", {})).items()
            if k in shard_map
        }
        for b, rows_b in final_rows_by_bucket.items():
            if rows_b == 0:
                base.pop(str(b), None)
            elif b not in new_unres:
                base[str(b)] = rows_b
            elif str(b) not in base:
                base[str(b)] = rows_b
        manifest = {
            "snapshot_id": snap,
            "parent_id": cur["snapshot_id"],
            "schema": json.loads((schema or self.schema()).json()),
            "schema_version": cur["schema_version"] + (1 if schema is not None else 0),
            "partition_spec": partition_spec or cur["partition_spec"],
            "file_shards": shard_map,
            "offsets": offsets,
            "properties": cur["properties"] if properties is None else properties,
            "unresolved_buckets": sorted(new_unres),
            "version_base_rows": base,
            # header high-water mark over every stored commit_seq — folded
            # incrementally, so `seq_high()` is O(1) metadata (deletes mint
            # their tombstone seq from it without a full shard walk). None
            # in the parent (legacy manifest) stays None until a caller
            # backfills it via seq_high()'s slow path.
            "seq_high": (
                max(
                    cur["seq_high"],
                    max((f.get("seq_max") or 0 for f in new_files), default=0),
                )
                if cur.get("seq_high") is not None
                else None
            ),
            # monotone OR-fold: once raw payload bytes may be on disk the
            # flag stays set (see `scrub_dirty`); legacy parents without
            # the field are conservatively dirty
            "scrub_dirty": bool(cur.get("scrub_dirty", True)) or mark_scrub_dirty,
        }
        # lineage written before the pointer swap: an uncommitted snapshot's
        # lineage is orphaned (readers join lineage ↞ committed manifests)
        dur_ms = int((time.time() - started_at) * 1000) if started_at else None
        lineage = {
            "snapshot_id": snap,
            # wall-clock commit instant — the `snapshot_as_of` time-travel
            # index (metadata only; never feeds any data computation, so
            # engine determinism is unaffected)
            "committed_at": time.time(),
            "batch_id": offsets.get("batch_id"),
            "partitions": [
                {
                    "partition": f"bucket={f['bucket']}",
                    "seq_min": f["seq_min"],
                    "seq_max": f["seq_max"],
                    "rows_written": f["rows"],
                    "bytes": f["bytes"],
                }
                for f in new_files
            ],
            "duration_ms": dur_ms,
            **(lineage_extra or {}),
        }
        # tmp+fsync+rename like the manifest: the pointer swap is fsynced
        # AFTER this, but journal reordering could otherwise persist the
        # pointer without the lineage body — and `snapshot_as_of` /
        # `changed_buckets` json.load committed sids' lineage
        lpath = os.path.join(self.root, LINEAGE, f"lineage-{snap:010d}.json")
        ltmp = lpath + f".tmp-{uuid.uuid4().hex}"
        with open(ltmp, "w") as f:
            json.dump(lineage, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ltmp, lpath)
        self._write_manifest(manifest)
        return snap

    def compact(
        self,
        spark: SparkSession,
        min_files_per_bucket: int = 2,
        buckets: list[int] | None = None,
        drop_tombstones_below: int | None = None,
        resolve_versions: bool | None = None,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """Maintenance: fold a bucket's accumulated small files into one
        (Iceberg ``rewrite_data_files`` analog). File-granular MERGE makes
        commits append-mostly, so buckets accrue one small file per commit;
        compaction restores read efficiency without changing any row.

        ``resolve_versions`` (default: automatic — on for merge-on-read
        tables) folds superseded key versions down to the LWW winner
        during the rewrite, reclaiming the space MoR's append-only
        commits accumulate and restoring CoW-speed reads for the
        compacted buckets. Tombstone winners are preserved (see below).

        Tombstones are preserved by default — they guard against
        late-arriving OLDER events resurrecting deleted keys.
        ``drop_tombstones_below`` is the GC watermark: the CALLER asserts
        that no event with ``seq`` below it can ever arrive (e.g. the feed
        source's retention horizon), and tombstones older than it are
        physically dropped. Offsets are carried unchanged; the commit is
        data-movement only.

        ``cluster_by`` (default: the table's ``cluster_by`` property)
        sorts each bucket by those columns before chunking, tightening
        the per-file ``col_stats`` ranges `read(where=...)` skips on —
        run it on time-correlated columns to turn a retention-window
        scan from O(table) files into O(window) files.
        """
        if cluster_by is None:
            cluster_by = self.cluster_by() or None
        # scoped compaction loads ONLY the requested buckets' shards —
        # the auto-compaction hook calls this per commit, so it must stay
        # O(batch) like the rest of the ingest loop, not O(live files)
        m = self.manifest(with_files=False)
        files = (
            self.files_for_buckets(set(buckets))
            if buckets is not None
            else self.manifest()["files"]
        )
        per_bucket: dict[int, list[dict]] = {}
        for f in files:
            per_bucket.setdefault(f["bucket"], []).append(f)

        def gc_candidate(f: dict) -> bool:
            # manifest stats prove absence: a file with no tombstones, or
            # whose oldest row is already >= the watermark, holds nothing
            # droppable. Missing stats → conservative include.
            if drop_tombstones_below is None:
                return False
            if f.get("has_deletes") is False:
                return False
            smin = f.get("seq_min")
            return smin is None or smin < drop_tombstones_below

        todo = {
            b: fs
            for b, fs in per_bucket.items()
            if (buckets is None or b in buckets)
            and (len(fs) >= min_files_per_bucket or any(gc_candidate(f) for f in fs))
        }
        if not todo:
            return {"compacted_buckets": [], "files_before": 0, "files_after": 0}
        replaced = {f["path"] for fs in todo.values() for f in fs}
        df = self.read_raw(spark, buckets=sorted(todo))
        if resolve_versions is None:
            # automatic: fold versions whenever any compacted bucket may
            # hold them — a whole-MoR table, or a CoW table's adaptive-
            # append buckets (the unresolved set covers both)
            resolve_versions = (
                self.merge_mode() == "mor"
                or bool(self.unresolved_buckets() & set(todo))
            )
        if resolve_versions:
            df = _lww_latest_versions(df, key_cols=self.key_cols())
        if drop_tombstones_below is not None:
            df = df.filter(
                ~(
                    F.coalesce(F.col("_deleted"), F.lit(False))
                    & (F.col("commit_seq") < F.lit(drop_tombstones_below))
                )
            )
        started = time.time()
        entries = self.write_snapshot_files(
            df, self.snapshot_id + 1, cluster_by=cluster_by
        )
        # optimistic data-only commit (offsets=None carries the parent's
        # cursor): a compaction daemon racing the ingest loop rebases
        # cleanly as long as the ingest landed in other buckets; a clash
        # on a compacted bucket raises and the caller just re-runs —
        # compaction is re-plannable by construction
        snap = self.commit_snapshot_optimistic(
            m["snapshot_id"],
            new_files=entries,
            offsets=None,
            replaced_paths=replaced,
            lineage_extra={
                "compaction": True,
                "resolved_versions": resolve_versions,
                **({"cluster_by": cluster_by} if cluster_by else {}),
            },
            started_at=started,
            # a version-resolving rewrite leaves its buckets one-row-per-
            # key: clear them from the unresolved set (base rows reset in
            # commit_snapshot)
            unresolved_remove=set(todo) if resolve_versions else None,
        )
        # a CLI-only compact must not leave a hole in the per-commit log
        # (the ingest loop's materialize_new_changelogs sees it ready and
        # skips). Dropping tombstones can resurrect superseded versions
        # or erase a deleted key's last trace, so that leg keeps the diff.
        if drop_tombstones_below is None:
            self._publish_empty_changelog(spark, snap)
        elif self.changelog_enabled():
            self.materialize_changelog(spark, snap)
        return {
            "compacted_buckets": sorted(todo),
            "files_before": len(replaced),
            "files_after": len(entries),
        }

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Bucket-spec evolution: rewrite the table onto a different hash
        bucket count — the operational answer to "raise ``n_buckets``
        with table size" (a spec sized for 1 TB starves a 100 TB table's
        write parallelism and makes each bucket's file set too large to
        prune well).

        One-shot full rewrite: a single key-partitioned shuffle, fully
        parallel across the cluster, committed atomically (readers keep
        the old spec until the pointer swap; pinned/time-travel reads of
        older snapshots keep resolving with THEIR manifest's spec).
        Superseded key versions are folded during the rewrite (the
        rewrite touches every row anyway), so the table comes out fully
        resolved; tombstone winners are preserved, same as `compact`.
        Logically a no-op: `read_changes` windows spanning the rebucket
        see no spurious changes — the lineage marker makes bucket
        pruning fall back to the (spec-independent) full diff, and the
        per-commit changelog is written empty, never diffed.

        At 100 TB prefer power-of-two growth: with ``hash % 2n``, every
        new bucket index is congruent to its old index mod ``n``, so a
        future incremental variant can migrate one old bucket at a time.
        The one-shot rewrite here is the simple, always-correct form —
        run it as rare scheduled maintenance, like a major compaction."""
        m = self.manifest()  # ONE full-manifest load: spec + files + offsets
        if m["partition_spec"].get("migrating_to"):
            raise ValueError(
                "an incremental rebucket is in progress — drive it to "
                "completion with rebucket_step() before a full rewrite"
            )
        old_n = m["partition_spec"]["n_buckets"]
        if new_n_buckets == old_n:
            return {"from_buckets": old_n, "to_buckets": old_n, "rewritten": False}
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        files = m["files"]
        replaced = {f["path"] for f in files}
        unres = set(m.get("unresolved_buckets") or [])
        new_spec = dict(m["partition_spec"], n_buckets=new_n_buckets)
        started = time.time()
        entries = self._rewrite_retagged(
            spark,
            files,
            target_n=new_n_buckets,
            resolve=bool(unres),
            next_sid=m["snapshot_id"] + 1,
            write_n_buckets=new_n_buckets,
        )
        snap = self.commit_snapshot(
            new_files=entries,
            offsets=m["offsets"],
            replaced_paths=replaced,
            partition_spec=new_spec,
            lineage_extra={"rebucket": {"from": old_n, "to": new_n_buckets}},
            started_at=started,
            expected_parent=m["snapshot_id"],
            unresolved_remove=unres or None,
        )
        # keep the per-commit log contiguous even when no ingest run
        # follows (CLI-only flow): a gap would silently disable the fold
        # path for every window spanning this commit
        self._publish_empty_changelog(spark, snap)
        return {
            "from_buckets": old_n,
            "to_buckets": new_n_buckets,
            "rewritten": True,
            "files_before": len(replaced),
            "files_after": len(entries),
        }

    def _rewrite_retagged(
        self,
        spark: SparkSession,
        files: list[dict],
        target_n: int,
        resolve: bool,
        next_sid: int,
        write_n_buckets: int,
    ) -> list[dict]:
        """Shared rewrite core of `rebucket` / `rebucket_step`: read
        exactly ``files``, optionally fold superseded versions to their
        LWW winners (tombstone winners preserved), re-tag every row with
        its ``hash % target_n`` bucket and write the new file set. ONE
        definition so the two spec-evolution paths cannot drift."""
        if not files:
            return []
        key_cols = self.key_cols()
        paths = [os.path.join(self.root, f["path"]) for f in files]
        df = self.scan_files(spark, paths)
        if resolve:
            df = _lww_latest_versions(df, key_cols=key_cols)
        df = df.withColumn("_bucket", bucket_expr(target_n, key_cols))
        return self.write_snapshot_files(
            df,
            next_sid,
            n_buckets=write_n_buckets,
            cluster_by=self.cluster_by() or None,
        )

    def begin_rebucket(
        self, new_n_buckets: int, spark: SparkSession | None = None
    ) -> int:
        """Start an INCREMENTAL bucket-spec growth: a metadata-only
        commit marking the spec as migrating to ``new_n_buckets`` (an
        integer multiple of the current count — the congruence that
        makes per-bucket migration sound, see `effective_bucket_expr`).

        Nothing moves yet: with no bucket migrated the effective mapping
        is unchanged. `rebucket_step` then rewrites a few old buckets at
        a time — bounded maintenance slices a 100 TB table can actually
        schedule, unlike `rebucket`'s one-shot full rewrite — while
        ingest, reads, compaction and incremental consumers keep running
        against the mixed id space between steps."""
        self._require_main("begin_rebucket")
        m = self.manifest(with_files=False)
        spec = m["partition_spec"]
        if spec.get("migrating_to"):
            raise ValueError(
                f"already migrating to {spec['migrating_to']} buckets "
                f"({len(spec.get('migrated') or [])}/{spec['n_buckets']} done)"
            )
        n = spec["n_buckets"]
        if new_n_buckets <= n or new_n_buckets % n != 0:
            raise ValueError(
                f"incremental rebucket must GROW by an integer factor: "
                f"{n} -> {new_n_buckets} is not (use rebucket() for "
                "arbitrary counts)"
            )
        if spark is None and self.changelog_enabled():
            raise ValueError(
                "changelog-enabled table: begin_rebucket needs `spark` to "
                "materialize this commit's (empty) log — a skipped log is "
                "a permanent gap"
            )
        snap = self.commit_snapshot(
            [],
            partition_spec={**spec, "migrating_to": new_n_buckets, "migrated": []},
            lineage_extra={
                "rebucket_begin": {"from": n, "to": new_n_buckets}
            },
            expected_parent=m["snapshot_id"],
        )
        if spark is not None and self.changelog_enabled():
            self.materialize_changelog(spark, snap)
        return snap

    def rebucket_step(self, spark: SparkSession, max_buckets: int = 1) -> dict:
        """Migrate the next ``max_buckets`` old buckets to the target
        spec: read exactly their files, fold superseded versions (the
        rewrite touches every row anyway, same as `compact`), re-tag
        rows with their new-space ids and commit the swap — O(stepped
        buckets), never O(table). The final step atomically completes
        the migration (the spec becomes the plain target count).

        Logically a no-op per step: the lineage ``rebucket`` marker makes
        window pruning across it fall back to the spec-independent full
        diff, and the per-commit changelog is written empty, never
        diffed."""
        self._require_main("rebucket_step")
        m = self.manifest(with_files=False)
        spec = m["partition_spec"]
        to = spec.get("migrating_to")
        if not to:
            raise ValueError("no incremental rebucket in progress — begin_rebucket first")
        n = spec["n_buckets"]
        migrated = set(spec.get("migrated") or [])
        pending = [b for b in range(n) if b not in migrated]
        todo = pending[: max(1, max_buckets)]
        files = self.files_for_buckets(set(todo))
        replaced = {f["path"] for f in files}
        unres_todo = self.unresolved_buckets() & set(todo)
        started = time.time()
        entries = self._rewrite_retagged(
            spark,
            files,
            target_n=to,
            resolve=bool(unres_todo),
            next_sid=m["snapshot_id"] + 1,
            write_n_buckets=max(1, len(todo) * (to // n)),
        )
        done = migrated | set(todo)
        if len(done) == n:  # final step completes the spec atomically
            new_spec = {
                k: v
                for k, v in spec.items()
                if k not in ("migrating_to", "migrated")
            }
            new_spec["n_buckets"] = to
        else:
            new_spec = {**spec, "migrated": sorted(done)}
        snap = self.commit_snapshot(
            new_files=entries,
            offsets=m["offsets"],
            replaced_paths=replaced,
            partition_spec=new_spec,
            lineage_extra={
                "rebucket": {"step": sorted(todo), "from": n, "to": to}
            },
            started_at=started,
            expected_parent=m["snapshot_id"],
            unresolved_remove=unres_todo or None,
        )
        self._publish_empty_changelog(spark, snap)
        return {
            "stepped": sorted(todo),
            "migrated": len(done),
            "pending": n - len(done),
            "complete": len(done) == n,
            "files_rewritten": len(replaced),
            "files_after": len(entries),
        }

    def expire_snapshots(
        self,
        keep_last: int = 2,
        changelog_keep_last: int | None = None,
        orphan_grace_s: float = 600.0,
        older_than: float | None = None,
        dry_run: bool = False,
    ) -> dict:
        """Maintenance GC: drop old snapshot manifests and delete data files
        no retained snapshot references (Iceberg `expireSnapshots` analog).

        The current snapshot is always retained. Safe against crashes: files
        are deleted only after their manifests are gone, and the `_current`
        pointer never moves — a reader pinned to a retained snapshot is
        unaffected, and readers of expired snapshots were already stale.

        ``changelog_keep_last``: materialized per-commit change logs are
        KEPT by default even for expired snapshots — that is the point of
        the changelog (CDC consumers fold windows whose interior
        snapshots are gone; retention is decoupled, as in Delta CDF).
        Pass an int to also drop logs older than the last N commits.

        ``orphan_grace_s``: the orphan data-file sweep skips attempt
        directories modified within this window. An optimistic writer
        mid-rebase has files on disk whose target snapshot id is already
        <= current (a competitor won the id) but whose commit is about
        to reference them at head+1 — the id test alone would reclaim
        them out from under it. Age is the discriminator (Iceberg's
        ``remove_orphan_files`` ``older_than`` horizon): anything still
        unreferenced after the grace has no live writer. Pass 0 to force
        the old id-only behavior (tests / known-quiescent tables).

        ``older_than`` (epoch seconds): when given, expiry becomes
        AGE-gated (Iceberg ``expireOlderThan(ts).retainLast(n)``): a
        snapshot is dropped only if it is beyond ``keep_last`` AND its
        lineage ``committed_at`` is provably before ``older_than`` — a
        snapshot whose commit instant is unknown (pre-upgrade lineage,
        torn file) is RETAINED, since deleting what cannot be proven old
        is the wrong default for a GC. The time-travel contract this
        preserves: `read(as_of_timestamp=t)` keeps working for every
        ``t >= older_than``.

        ``dry_run``: compute the full report — expired snapshots, dead
        files, orphan sweeps, reclaimable bytes — but delete NOTHING
        (the GC preview an operator wants before the first destructive
        run on a production table).
        """
        self._require_main("expire_snapshots")
        snaps = self.snapshots()
        current = self.snapshot_id
        tail = snaps[-keep_last:] if keep_last > 0 else []  # [-0:] = whole list!
        if older_than is not None:
            # age gate: additionally retain every candidate committed at
            # or after the horizon (or whose instant is unknowable)
            for s in snaps:
                if s in tail or s == current:
                    continue
                try:
                    with open(
                        os.path.join(self.root, LINEAGE, f"lineage-{s:010d}.json")
                    ) as f:
                        at = json.load(f).get("committed_at")
                except (FileNotFoundError, json.JSONDecodeError):
                    at = None
                if at is None or at >= older_than:
                    tail = [s, *tail]
        # tagged snapshots are pinned until drop_tag — the whole point of
        # a tag (tags always resolve: expiry is the only path that drops
        # snapshots, and it retains every ref here). Live branches pin
        # their HEAD (ids beyond `current`, so outside `snaps`): the
        # head's manifest references every shard/file/bloom the branch
        # still needs — shards superseded inside the branch are fair
        # game, exactly like main history.
        retained = set(tail) | {current}
        branch_heads = []  # live branches pin their HEAD manifest
        for name, v in self.refs().items():
            if isinstance(v, dict) and v.get("type") == "branch":
                try:
                    h = self.branch_handle(name)
                    head_sid = h.manifest(with_files=False)["snapshot_id"]
                except (FileNotFoundError, ValueError):
                    continue  # half-dropped branch: nothing to pin
                if head_sid <= current:
                    # a STALE branch (no staged commits; published line
                    # moved past its base) points INSIDE main history —
                    # retain its head like a tag, or the still-live
                    # pointer would dangle
                    retained.add(head_sid)
                else:
                    branch_heads.append(h.manifest())  # staged head: pin contents
            elif v in snaps:
                retained.add(v)
        expired = [s for s in snaps if s not in retained]
        live_files: set[str] = set()
        live_blooms: set[str] = set()
        live_shards: set[str] = set()
        retained_manifests = [self.manifest(s) for s in retained] + branch_heads
        for m in retained_manifests:
            live_shards |= set(m.get("file_shards", {}).values())
            for f in m["files"]:
                live_files.add(f["path"])
                if f.get("bloom_path"):
                    live_blooms.add(f["bloom_path"])
        dead_files: set[str] = set()
        dead_blooms: set[str] = set()
        for s in expired:
            for f in self.manifest(s)["files"]:
                dead_files.add(f["path"])
                if f.get("bloom_path"):
                    dead_blooms.add(f["bloom_path"])
        dead_files -= live_files
        dead_blooms -= live_blooms
        for s in expired if not dry_run else ():
            os.remove(self._manifest_path(s))
            lpath = os.path.join(self.root, LINEAGE, f"lineage-{s:010d}.json")
            if os.path.exists(lpath):
                os.remove(lpath)
        # shard sweep: manifest shards referenced by NO retained manifest
        # (expired snapshots' rewritten shards + crashed-commit orphans).
        # The grace window covers the expire-beside-a-live-writer race:
        # a commit writes its shards BEFORE the pointer swap, so a
        # fresh unreferenced shard may belong to an in-flight commit —
        # sweeping it would leave the landed manifest naming a deleted
        # shard (every read of that bucket FileNotFoundError, and the
        # file list is unrecoverable since later commits carry the shard
        # by name). Older-than-grace unreferenced shards are provably
        # dead (commits are seconds, not minutes).
        grace_cutoff = time.time() - orphan_grace_s

        def _past_grace(path: str) -> bool:
            try:
                return os.path.getmtime(path) < grace_cutoff
            except OSError:
                return False  # vanished / unreadable: skip this sweep

        mdir = os.path.join(self.root, MANIFESTS)
        for fn in os.listdir(mdir):
            if fn.startswith("shard-") and fn.endswith(".json") and fn not in live_shards:
                full = os.path.join(mdir, fn)
                if not dry_run and _past_grace(full):
                    os.remove(full)
        removed_bytes = 0
        for rel in dead_files | dead_blooms:
            full = os.path.join(self.root, rel)
            if os.path.exists(full):
                removed_bytes += os.path.getsize(full)
                if not dry_run:
                    os.remove(full)
        # orphan sweep: sidecars referenced by NO retained manifest (lazy
        # blooms built in a merge that crashed before its commit). A
        # swept bloom raced by a landing merge would only degrade that
        # file to an always-candidate at probe time (unreadable-sidecar
        # fallback in lake/bloom.open_sidecar), but `validate` would
        # report it missing forever (build_blooms only builds for entries
        # WITHOUT a bloom_path) — the same grace window keeps fresh
        # sidecars safe.
        bdir = os.path.join(self.root, BLOOMS)
        if os.path.isdir(bdir):
            for fn in os.listdir(bdir):
                rel = os.path.join(BLOOMS, fn)
                if rel not in live_blooms:
                    full = os.path.join(bdir, fn)
                    if _past_grace(full):
                        removed_bytes += os.path.getsize(full)
                        if not dry_run:
                            os.remove(full)
        # orphan DATA-file sweep: attempt directories referenced by NO
        # manifest at all — a crash between `write_snapshot_files` and
        # `commit_snapshot`, or an optimistic-concurrency loser, leaves a
        # fully-written per-attempt uuid dir that no dead_files pass can
        # ever see (it was never in a manifest). The embedded snapshot id
        # guards the single in-flight writer: an attempt targeting
        # current+1 may be a commit in progress, so only attempts whose
        # target is <= the CURRENT snapshot are provably dead (their
        # commit either lost the race or was superseded by a resume with
        # a fresh uuid). Retained-manifest files survive by the per-file
        # live check, so pinned time-travel reads are unaffected.
        import re
        import shutil

        orphan_files = 0
        ddir = os.path.join(self.root, DATA)
        if os.path.isdir(ddir):
            now = time.time()
            for dname in sorted(os.listdir(ddir)):
                m = re.match(r"snap-(\d{10})-", dname)
                if not m or int(m.group(1)) > current:
                    continue
                droot = os.path.join(ddir, dname)
                if not os.path.isdir(droot):
                    continue
                try:
                    if now - os.path.getmtime(droot) < orphan_grace_s:
                        continue  # possibly an in-flight rebasing writer
                except OSError:
                    continue
                kept_any = False
                for dirpath, _dirs, fnames in os.walk(droot):
                    for fn in fnames:
                        full = os.path.join(dirpath, fn)
                        rel = os.path.relpath(full, self.root)
                        if rel in live_files:
                            kept_any = True
                        elif fn.endswith(".parquet"):
                            removed_bytes += os.path.getsize(full)
                            if not dry_run:
                                os.remove(full)
                            orphan_files += 1
                if not kept_any and not dry_run:
                    # nothing live left — drop writer markers (_SUCCESS)
                    # and the empty partition tree in one go
                    shutil.rmtree(droot, ignore_errors=True)
        removed_changelogs = 0
        cdir = os.path.join(self.root, CHANGELOG)
        if os.path.isdir(cdir):
            horizon = (
                current - changelog_keep_last
                if changelog_keep_last is not None
                else None
            )
            for dname in sorted(os.listdir(cdir)):
                # crash orphans: a materialize that died between the tmp
                # write and the rename (hidden, so never read)
                dead = dname.startswith(".tmp-")
                m = re.match(r"commit-(\d{10})$", dname)
                if not dead and m and horizon is not None:
                    dead = int(m.group(1)) <= horizon
                if dead:
                    full = os.path.join(cdir, dname)
                    for dirpath, _dirs, fnames in os.walk(full):
                        for fn in fnames:
                            removed_bytes += os.path.getsize(
                                os.path.join(dirpath, fn)
                            )
                    if not dry_run:
                        shutil.rmtree(full, ignore_errors=True)
                    if not dname.startswith(".tmp-"):
                        removed_changelogs += 1
        return {
            "expired_snapshots": expired,
            "removed_files": len(dead_files),
            "removed_orphan_files": orphan_files,
            "removed_changelogs": removed_changelogs,
            "removed_bytes": removed_bytes,
            **({"dry_run": True} if dry_run else {}),
        }

    def lineage(self, snapshot_id: int | None = None) -> list[dict]:
        """Lineage entries for committed snapshots (optionally one)."""
        committed = set(self.snapshots())
        out = []
        ldir = os.path.join(self.root, LINEAGE)
        for fn in sorted(os.listdir(ldir)):
            sid = int(fn.split("-")[1].split(".")[0])
            if sid not in committed:
                continue
            if snapshot_id is not None and sid != snapshot_id:
                continue
            with open(os.path.join(ldir, fn)) as f:
                out.append(json.load(f))
        return out

    # ------------------------------------------------------------------ #
    # metadata tables (Iceberg `history` / `files` / `partitions` analog)
    # ------------------------------------------------------------------ #
    # Observability as DataFrames, so operational questions — which
    # buckets are hot, how many files are under-sized, when did snapshot
    # N land and what did it do — are ordinary queries. All three are
    # built from driver-held metadata (lineage files, manifest shards):
    # the engine already keeps that at O(files) driver scale by design,
    # and the rows are parallelized out immediately.

    #: op-marker keys in lineage entries, checked in order; absent → "write"
    _HISTORY_OPS = (
        "bootstrap", "rollback", "rebucket_begin", "rebucket_step",
        "rebucket", "set_properties", "alter_columns", "update_where",
        "resolved_metadata_only", "compaction",
    )

    def history(self, spark: SparkSession) -> DataFrame:
        """One row per retained commit: what landed, when, and how big.
        ``operation`` is derived from the lineage entry's marker keys
        (plain ingest merges carry none → ``write``); ``detail`` is the
        raw lineage JSON for anything schema'd columns don't surface."""
        rows = []
        for e in self.lineage():
            op = next((k for k in self._HISTORY_OPS if k in e), "write")
            parts = e.get("partitions") or []
            rows.append(
                (
                    int(e["snapshot_id"]),
                    # pre-upgrade lineage entries predate the field (same
                    # tolerance as `snapshot_as_of` / the expire age gate)
                    float(e["committed_at"])
                    if e.get("committed_at") is not None
                    else None,
                    op,
                    int(e["batch_id"]) if e.get("batch_id") is not None else None,
                    len(parts),
                    int(sum(p.get("rows_written") or 0 for p in parts)),
                    int(sum(p.get("bytes") or 0 for p in parts)),
                    len(e.get("files_replaced") or [])
                    if isinstance(e.get("files_replaced"), list)
                    else int(e.get("files_replaced") or 0),
                    bool(e.get("adaptive_append")),
                    json.dumps({k: v for k, v in e.items() if k != "partitions"}),
                )
            )
        schema = (
            "snapshot_id long, committed_at double, operation string, "
            "batch_id long, files_written int, rows_written long, "
            "bytes_written long, files_replaced int, adaptive_append boolean, "
            "detail string"
        )
        return spark.createDataFrame(rows, schema).orderBy("snapshot_id")

    def file_entries(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """The manifest's file list as a DataFrame (Iceberg `files`):
        one row per live data file with its bucket, row/byte counts,
        seq/key ranges, bloom presence and recorded column stats
        (JSON — stats columns vary per table)."""
        rows = [
            (
                f["path"],
                int(f["bucket"]),
                int(f.get("rows") or 0),
                int(f.get("bytes") or 0),
                f.get("seq_min"),
                f.get("seq_max"),
                f.get("key_min"),
                f.get("key_max"),
                f.get("bloom_path") is not None,
                bool(f.get("has_deletes")),
                json.dumps(f["col_stats"]) if f.get("col_stats") else None,
                json.dumps(f["dicts"]) if f.get("dicts") else None,
            )
            for f in self.manifest(snapshot_id)["files"]
        ]
        schema = (
            "path string, bucket int, rows long, bytes long, "
            "seq_min long, seq_max long, key_min string, key_max string, "
            "has_bloom boolean, has_deletes boolean, col_stats string, "
            "dicts string"
        )
        return spark.createDataFrame(rows, schema).orderBy("bucket", "path")

    def bucket_summary(
        self, spark: SparkSession, snapshot_id: int | None = None
    ) -> DataFrame:
        """Per-bucket layout health (Iceberg `partitions` analog): file
        and row counts, total bytes, smallest file (compaction debt) and
        whether the bucket is unresolved (scan-time LWW window due)."""
        unres = self.unresolved_buckets(snapshot_id)
        f = self.file_entries(spark, snapshot_id)
        return (
            f.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("int").alias("files"),
                F.sum("rows").alias("rows"),
                F.sum("bytes").alias("bytes"),
                F.min("rows").alias("min_file_rows"),
                F.min("seq_min").alias("seq_min"),
                F.max("seq_max").alias("seq_max"),
            )
            .withColumn(
                "unresolved",
                F.col("bucket").isin([int(b) for b in unres])
                if unres
                else F.lit(False),
            )
            .orderBy("bucket")
        )


_INT_ORDER = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_FLOAT_ORDER = [T.FloatType(), T.DoubleType()]


def _parse_dtype(dt) -> T.DataType:
    """DataType passthrough, or a DDL type string ('long', 'array<int>',
    'map<string,string>', ...) parsed via Spark's own DDL parser so the
    CLI and the API accept the same spellings."""
    if isinstance(dt, T.DataType):
        return dt
    if not isinstance(dt, str):
        raise ValueError(f"invalid column type: {dt!r}")
    simple = {
        "string": T.StringType(), "long": T.LongType(),
        "bigint": T.LongType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "short": T.ShortType(),
        "byte": T.ByteType(), "double": T.DoubleType(),
        "float": T.FloatType(), "boolean": T.BooleanType(),
        "binary": T.BinaryType(), "date": T.DateType(),
        "timestamp": T.TimestampType(),
    }.get(dt.strip().lower())
    if simple is not None:
        return simple
    try:
        # complex DDL ('array<int>', 'map<string,string>', 'decimal(12,2)')
        # — Spark's own parser, needs an active session
        return T._parse_datatype_string(dt)
    except Exception:
        raise ValueError(f"unparseable column type: {dt!r}") from None


def _widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types along a safe widening chain; None = conflict."""
    for order in (_INT_ORDER, _FLOAT_ORDER):
        if a in order and b in order:
            return order[max(order.index(a), order.index(b))]
    return None


def _utc_bound(v):
    """Naive datetimes in `read(where=...)` bounds mean UTC (the engine
    stores timestamps UTC-adjusted); make that explicit so Spark's
    session-timezone interpretation of naive literals can't diverge
    from the manifest pruning."""
    import datetime as _dt

    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=_dt.timezone.utc)
    return v


def _norm_where(where: dict) -> dict:
    """Normalize a `where` spec dict (shared by read / update / delete).

    Accepted forms per column:
      * ``(lo, hi)``      — inclusive range, either side None = open
                            (naive datetimes → UTC, see `_utc_bound`);
      * ``"is null"``     — rows where the column IS NULL (aliases:
                            ``"null"``, ``"is_null"``);
      * ``"not null"``    — rows where the column IS NOT NULL (aliases:
                            ``"is not null"``, ``"not_null"``);
      * ``{"in": [...]}`` — membership (values normalized like bounds).
    Unknown forms raise (silently ignoring a typo'd spec would scan —
    correct but the opposite of what the caller asked to prune)."""
    out = {}
    for c, spec in where.items():
        if isinstance(spec, str):
            s = spec.strip().lower().replace("_", " ")
            if s in ("is null", "null"):
                out[c] = "is null"
            elif s in ("not null", "is not null"):
                out[c] = "not null"
            else:
                raise ValueError(
                    f"bad where spec for {c!r}: {spec!r} (expected a "
                    "(lo, hi) range, 'is null', 'not null', or "
                    "{'in': [...]})"
                )
        elif isinstance(spec, dict):
            if set(spec) != {"in"}:
                raise ValueError(f"bad where spec for {c!r}: {spec!r}")
            out[c] = {"in": [_utc_bound(v) for v in spec["in"]]}
        else:
            lo, hi = spec
            out[c] = (_utc_bound(lo), _utc_bound(hi))
    return out


def _where_cond(where: dict):
    """The exact residual/matching predicate a normalized `where` spec
    means, as one Column — shared by `read` (residual filter) and
    `update_where` (match guard) so pruning and filtering can never
    disagree on semantics."""
    cond = F.lit(True)
    for c, spec in where.items():
        if spec == "is null":
            cond = cond & F.col(c).isNull()
        elif spec == "not null":
            cond = cond & F.col(c).isNotNull()
        elif isinstance(spec, dict):
            vals = spec["in"]
            cond = cond & (
                F.col(c).isin(vals) if vals else F.lit(False)  # IN () is empty
            )
        else:
            lo, hi = spec
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
    return cond


def _ranges_overlap(f: dict, lo: str, hi: str) -> bool:
    """Conservative manifest-entry vs ``[lo, hi]`` key-range
    intersection test: missing key stats → candidate."""
    fmin, fmax = f.get("key_min"), f.get("key_max")
    if fmin is None or fmax is None:
        return True
    return not (fmax < lo or fmin > hi)


def _stat_norm(v):
    """Canonical JSON-safe, order-preserving form for a stats value or a
    `read(where=...)` bound: datetimes/dates → epoch MICROseconds (naive
    treated as UTC — the engine stores timestamps UTC-adjusted), ints/
    floats/strs pass through. Returns None for types with no canonical
    order (callers treat that as "unknown — keep the file")."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, _dt.date):
        return int(
            _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc).timestamp()
            * 1_000_000
        )
    if isinstance(v, bool) or not isinstance(v, (int, float, str)):
        return None
    return v


#: a manifest entry's verdict on a `where` spec (`_stats_verdict`),
#: ordered so a file's verdict is the MIN over its columns: one NONE
#: column empties the file, and ALL needs every column ALL
NONE, SOME, ALL = range(3)


def _stat(f: dict, kind: str, col: str, priors: dict[str, list[str]]):
    """The ``kind`` stat (``col_stats`` / ``null_counts`` / ``dicts``) a
    manifest entry records for ``col``: under its current name, else
    under a prior name a pre-rename file recorded it by (``priors``:
    logical column → prior physical names). None when not recorded."""
    st = f.get(kind) or {}
    for name in (col, *priors.get(col, ())):
        v = st.get(name)
        if v is not None:
            return v
    return None


def _stats_verdict(where: dict, priors: dict[str, list[str]] | None = None):
    """Manifest-entry evaluator for a `_norm_where`-normalized spec: maps
    an entry to NONE (its recorded stats PROVE no row matches — the file
    is pruned), ALL (they prove EVERY row matches — `count_rows` counts
    it from metadata) or SOME (neither — it scans). Missing stats,
    unknown columns and incomparable types give SOME: a wrong NONE
    would drop rows and a wrong ALL would miscount, while SOME only
    costs I/O, because every caller filters the scanned rows exactly.
    One evaluator serves both questions (Iceberg keeps an inclusive and
    a strict evaluator side by side), so pruning and proving cannot
    drift apart.

    Per column (`_col_verdict`), NONE checked before ALL:
      * ``"is null"`` — NONE on a zero null count, ALL when every row is
        null (``null_counts`` == ``rows``);
      * ``"not null"`` — NONE on an all-null file, ALL on zero nulls;
      * range ``(lo, hi)`` / ``{"in": [...]}`` — NONE on an all-null
        file (SQL comparison with NULL is never true) or when the value
        dictionary, then the ``col_stats`` min/max range, misses the
        spec; ALL on zero nulls plus the dictionary, or else the range
        (stored min >= lo, stored max <= hi), inside the spec. Parquet
        stat truncation is directionally safe both ways: stored min <=
        true min and stored max >= true max.

    A range bound `_stat_norm` cannot canonicalize is read as OPEN for
    pruning (the conservative reading) and bars ALL, where an open
    reading would FABRICATE a proof; an IN list holding such a value
    gives SOME outright."""
    priors = priors or {}
    specs: dict[str, object] = {}
    for c, spec in where.items():
        if isinstance(spec, dict):
            pts = [_stat_norm(v) for v in spec["in"]]
            # an IN value is a point interval
            spec = None if any(p is None for p in pts) else ([(p, p) for p in pts], True)
        elif not isinstance(spec, str):
            lo, hi = (_stat_norm(b) for b in spec)  # _stat_norm(None) is None
            exact = all(n is not None or b is None for b, n in zip(spec, (lo, hi)))
            spec = ([(lo, hi)], exact)
        specs[c] = spec

    def verdict(f: dict) -> int:
        return min(
            (
                _col_verdict(
                    spec,
                    f.get("rows"),
                    *(_stat(f, k, c, priors) for k in ("null_counts", "dicts", "col_stats")),
                )
                for c, spec in specs.items()
            ),
            default=ALL,
        )

    return verdict


def _col_verdict(spec, rows, nulls, dv, rng) -> int:
    """One column's `_stats_verdict`. ``spec`` is ``"is null"``, ``"not
    null"``, None (an IN list with an unnormalizable value) or
    ``(intervals, exact)``: closed `_stat_norm` intervals, a None end
    open, and whether every given bound canonicalized. ``nulls`` /
    ``dv`` / ``rng`` are the entry's null count, value dictionary and
    min/max range, None when not recorded."""
    all_null = nulls is not None and nulls == rows
    if spec == "is null":
        return NONE if nulls == 0 else ALL if all_null else SOME
    if all_null:
        return NONE  # NULL never satisfies NOT NULL, a range or IN
    if spec == "not null":
        return ALL if nulls == 0 else SOME
    if spec is None:
        return SOME
    ivs, exact = spec

    def inside(a, b):  # stored [a, b] lies within one spec interval
        return any((lo is None or a >= lo) and (hi is None or b <= hi) for lo, hi in ivs)

    # every row must compare TRUE, so any null — or an unrecorded null
    # count — defeats an ALL proof
    provable = exact and nulls == 0
    proven = False
    if dv is not None:
        # exact membership beats min/max: a file whose RANGE spans the
        # probed values but whose recorded value SET misses them is
        # provably empty (the low-cardinality equality/IN case ranges
        # cannot serve). An empty dict = all values null.
        try:
            hits = [inside(v, v) for v in dv]
        except TypeError:
            provable = False  # incomparable types — the dict decides nothing
        else:
            if not any(hits):
                return NONE
            proven = all(hits)
    if rng and rng[0] is not None and rng[1] is not None:
        try:
            if all(
                (lo is not None and rng[1] < lo) or (hi is not None and rng[0] > hi)
                for lo, hi in ivs
            ):
                return NONE
            proven = proven or inside(*rng)
        except TypeError:
            pass  # incomparable types — the range decides nothing
    return ALL if provable and proven else SOME


def _col_nulls(meta, col: str) -> int | None:
    """Total null count of a column from Parquet row-group stats (no
    data read). None when the column is absent or ANY row group lacks a
    null count — a partial sum would undercount and make the pruner
    drop files it must keep."""
    try:
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        ci = names.get(col)
        if ci is None:
            return None
        total = 0
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_null_count:
                return None
            total += st.null_count
        return total
    except Exception:
        return None


#: distinct-value cap above which a file records no dictionary — the
#: bail-out that bounds the write-path read for high-cardinality columns
#: to roughly one Arrow batch (the scan stops the moment the cap breaks)
_DICT_MAX_VALS = 16


def _col_dict(pf, col: str, cap: int = _DICT_MAX_VALS) -> list | None:
    """Distinct NON-NULL values of a column, from a capped streaming read
    of the (typically dictionary-encoded) column — or None when the
    column is missing, any value has no canonical JSON-safe form, or the
    file holds more than ``cap`` distinct values (pruners treat None as
    "no dictionary — keep the file"). Values are `_stat_norm`-canonical
    so the pruner compares them to spec bounds on equal terms."""
    try:
        import pyarrow.compute as pc

        if col not in pf.schema_arrow.names:
            return None
        seen: set = set()
        for batch in pf.iter_batches(columns=[col], batch_size=1 << 16):
            for v in pc.unique(batch.column(0)).to_pylist():
                if v is None:
                    continue
                nv = _stat_norm(v)
                if nv is None:
                    return None
                seen.add(nv)
            if len(seen) > cap:
                return None
        return sorted(seen)
    except Exception:
        return None


def _col_range(meta, col: str):
    """min/max of a column from Parquet row-group stats (no data read).
    Missing column / missing stats → (None, None), which pruners must
    treat as "unknown — always a candidate" (conservative)."""
    lo, hi = None, None
    try:
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        ci = names.get(col)
        if ci is None:
            return None, None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                continue
            mn = st.min.decode() if isinstance(st.min, bytes) else st.min
            mx = st.max.decode() if isinstance(st.max, bytes) else st.max
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    except Exception:
        return None, None
    return lo, hi

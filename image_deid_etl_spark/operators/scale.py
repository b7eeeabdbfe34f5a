"""Scale-adaptive execution helpers shared by the CPU-heavy operators.

Two problems these solve (round-6 optimization, guide §2):

* **Under-parallel scans** (guide §2.5 "input skew … repartition
  immediately after the read"): this harness's tables are single-row-group
  Parquet files, so a scan — and every map-side expression fused into its
  stage (md5 shingles, regex chains, hyperplane folds) — runs as ONE task
  regardless of core count. A Parquet row group cannot be split across
  tasks, so no `maxPartitionBytes`/`minPartitionNum` setting helps; the
  only way to spread the per-row CPU is one cheap round-robin shuffle of
  the (small) input. `fan_out` does that ADAPTIVELY: it repartitions only
  when the plan's current partition count is below the session's default
  parallelism, so on a real cluster — where a 100 TB scan already has
  thousands of splits — it is a structural no-op and never adds an
  exchange.

* **Self-join re-execution** (guide §2.4 "two operations keyed the same
  way can often share one exchange"): a DataFrame referenced on both
  sides of a join (LSH band tables, shingle inverted indexes) is planned
  as two independent subtrees, and broadcast-hash self-joins make
  exchange reuse impossible (one side is a BroadcastExchange, the other
  streams) — the whole upstream DAG runs once PER REFERENCE. `shared`
  materializes such a frame exactly once per query invocation via an
  eager `localCheckpoint`, so N references cost one computation plus N
  reads of the materialized blocks. This is per-invocation plan surgery,
  not cross-run caching: every fresh call of a query builder recomputes
  from the Parquet inputs. (Only a table file's schema outlives a call:
  `plans.queries._t` memoizes Spark's inferred schema per file identity,
  never data.)

`band_pairs` is the one banded-pair generator every LSH-family operator
(MinHash and SimHash dedup, sign-bit kNN, embedding near-dup) runs its
candidate stage through, so the pair-shuffle policy lives here once.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition `df` up to the session's default
    parallelism — but ONLY when its current plan yields fewer partitions
    (the small-file / single-row-group case). On an input that is already
    at least core-parallel (any real at-scale scan) this returns `df`
    unchanged, so the extra exchange exists exactly where the alternative
    is idle cores.
    """
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # exotic plans where .rdd compilation fails: skip
        return df
    if current >= target:
        return df
    return df.repartition(target)


def sorted_fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Globally order `df` by `cols` (equivalent to `orderBy(*cols)`) at
    EXPLICIT width: range-repartition into `defaultParallelism` partitions
    and sort within each. An implicit `orderBy` leaves the partition count
    to AQE coalescing, whose 1 MB-floor byte heuristic under-parallelizes
    CPU-heavy downstream projections over small-byte inputs (observed: 8
    partitions on 32 cores for a 6 MB corpus whose per-row regex work was
    the actual cost). The explicit partition count is never below the
    session's core count, and on a real cluster defaultParallelism is the
    executor-core total — the same floor a final output sort wants.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(target, *cols).sortWithinPartitions(*cols)


def shared(df: DataFrame) -> DataFrame:
    """Materialize `df` once (eager localCheckpoint) so a plan that
    references it several times — both sides of a self-join, a build side
    reused across stages — computes it once instead of once per
    reference. Storage is executor-local MEMORY_AND_DISK, reclaimed by
    the ContextCleaner when the frame is garbage-collected; at 100 TB the
    frames passed here are derived aggregates (signatures, band keys,
    inverted-index entries) orders of magnitude smaller than the corpus.

    ``SPARK_GRAFT_NO_SHARED=1`` disables the materialization (returns
    `df` unchanged) — used by plan capture so `explain` shows the full
    DAG instead of a `Scan ExistingRDD` leaf, and by A/B measurement of
    the materialization itself. Never set it in production paths.
    """
    if os.environ.get("SPARK_GRAFT_NO_SHARED"):
        return df
    return df.localCheckpoint(eager=True)


def band_pairs(
    banded: DataFrame,
    id_col: str,
    key: str,
    probe: Callable[[str], Column] | None = None,
) -> DataFrame:
    """Distinct candidate pairs from a band table: rows of `banded` that
    share a `key` value pair up, each unordered pair once, as
    ``id_a < id_b``. Every other column of `banded` is carried out once
    per side, as ``<col>_a`` / ``<col>_b``.

    ``probe`` maps the key column's name to an array of keys that the
    QUERY (a) side probes instead of its own key — e.g. multi-probe LSH's
    Hamming-1 neighbours. The candidate (b) side always stays home-only.

    Plan policy, owned here so every LSH-family operator shares it:

    * the band table is `shared` — a broadcast-hash self-join cannot
      reuse exchanges between its sides, so both would otherwise re-run
      the whole signature DAG upstream;
    * repartition THEN dedup: pair duplication is only ~bands×, so a
      pre-shuffle partial dedup barely shrinks the stream while its
      per-task hash map must hold the task's whole pair set ("aggregate
      before you shuffle" does not pay off for near-unique keys;
      measured 68 s → ~8 s at sf1.0 on the kNN candidate stage).
      Shuffling the raw pairs and deduping once per key range is the
      cheap order.
    """
    banded = shared(banded)
    carried = [c for c in banded.columns if c not in (id_col, key)]
    a = banded
    if probe is not None:
        a = banded.select(id_col, *carried, F.explode(probe(key)).alias(key))
    a, b = a.alias("a"), banded.alias("b")
    return (
        a.join(b, on=key)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carried],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carried],
        )
        .repartition("id_a")
        .dropDuplicates()
    )

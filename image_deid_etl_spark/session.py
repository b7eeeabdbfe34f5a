"""SparkSession construction with scale-oriented defaults.

Single place where every entry point (tests, bench, CLI, driver contract)
builds its session, so the tuning story is consistent:

* AQE on — runtime coalescing of shuffle partitions + skew-join splitting
  (the reference has no skew story at all; a mega-study is one slow 1-vCPU
  job, see BASELINE.md "implied ceiling").
* Arrow on — every Python-side transform in this engine is a vectorized
  pandas UDF / mapInPandas; nothing crosses the JVM boundary row-at-a-time.
* master and shuffle.partitions sized to the cores this process may run
  on, overridable via env for the two-parallelism scaling benchmark
  (local[1] vs local[N]).
* Generated code compiled once per process — Spark's codegen class
  cache (an LRU, default 100 entries) is sized to this engine's
  working set, so a repeated query reuses its compiled whole-stage
  classes instead of recompiling them (DESIGN.md "Driver-side fixed
  cost").
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores a default session runs on: ``$SPARK_GRAFT_CPUS``, else the
    cores this process may be scheduled on (its CPU affinity)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def build_session(
    app_name: str = "image-deid-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[local_cpus()]``.
    ``shuffle_partitions`` defaults to the core count — at 100 TB on a real
    cluster you would size this to ~2-3x total cores / target ~128-256 MB
    per shuffle partition; AQE coalesces the excess at runtime either way.
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # int64 micros (not legacy INT96): the encoding Iceberg/Delta
        # standardize on, and the only one parquet writes min/max stats
        # for — required for `stats_cols` data skipping on timestamps
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # reliable checkpoint() files (connected_components' opt-in
        # checkpoint_dir) are only GC'd by the ContextCleaner when this
        # is on; the flag is read once at session start, so set it here
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # floor on scan parallelism (r6): with fewer than `cpus` split
        # bins Spark shrinks split size so a small multi-row-group file
        # (e.g. one 132 MB fact table = 2 default splits) scans core-wide;
        # a no-op on any at-scale input, whose scans already exceed the
        # floor (Spark can never split below row-group granularity)
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Codegen class cache (static conf, LRU, Spark default 100). The
        # working set measured in one process (sf0.01, 4 cores): 840
        # distinct classes for all 75 catalog queries (toPandas + noop),
        # 86 more for trickle_cdc-shaped ticks (ingest, compaction,
        # read_changes, lookup_keys). A cyclic workload larger than the
        # cache evicts every class before its reuse: at 100 a warm pass
        # of the 17 headline queries recompiled ~216 classes, a warm full
        # sweep ~1 070 and a warm CDC tick 50 (+12 per lookup_keys); at
        # 2048 (the smallest power of two >= 2x the 926-class union) the
        # first two fall to 0 and 16-28, the tick to 0. Bounded, because
        # a few queries emit new code on every build (DESIGN.md). Cost:
        # Metaspace after 5 full sweeps 190.2 MB vs 184.9 MB.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors — the ``spark-submit --py-files``
    mechanism, done programmatically so pandas UDFs defined inside the
    package unpickle on workers regardless of the driver's cwd.

    The cache path is keyed by (checkout path, uid, newest source mtime)
    so two checkouts — or two users — never share a zip, and a stale zip
    is never shipped for edited code. The archive is staged and published
    with an atomic rename so a concurrent session cannot read a
    half-written file.
    """
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    newest_src = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _dirs, fns in os.walk(pkg_dir)
        for f in fns
        if f.endswith(".py")
    )
    key = hashlib.sha256(
        f"{pkg_dir}:{os.getuid()}:{newest_src}".encode()
    ).hexdigest()[:16]
    zip_path = os.path.join(
        tempfile.gettempdir(), f"image_deid_etl_spark_pyfiles_{key}.zip"
    )
    if not os.path.exists(zip_path):
        staging = tempfile.mkdtemp()
        try:
            shutil.copytree(pkg_dir, os.path.join(staging, os.path.basename(pkg_dir)))
            tmp_zip = shutil.make_archive(
                os.path.join(staging, "pkg"), "zip", staging,
                os.path.basename(pkg_dir),
            )
            os.replace(tmp_zip, zip_path)  # atomic publish
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    spark.sparkContext.addPyFile(zip_path)

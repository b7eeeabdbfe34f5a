"""Catalog table reads (`plans.queries._t`): Spark infers each table
file's schema once; later reads of the same file reuse it and run no
inference job, and a rewritten file is inferred again."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from image_deid_etl_spark.plans.queries import _t

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs `fn` launches, counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"table_reads_{next(_GROUPS)}"
    sc.setJobGroup(group, "schema memo probe")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_memoized_schema_is_sparks_inferred_schema(spark, sf_dir):
    for name in TABLES:
        p = f"{sf_dir}/{name}.parquet"
        assert _t(spark, sf_dir, name).schema == spark.read.parquet(p).schema, name


def test_second_read_of_a_file_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "x.parquet")
    assert _jobs(spark, lambda: _t(spark, str(tmp_path), "x")) >= 1  # inference
    assert _jobs(spark, lambda: _t(spark, str(tmp_path), "x")) == 0
    assert sorted(r.a for r in _t(spark, str(tmp_path), "x").collect()) == [1, 2, 3]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "x.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert _t(spark, str(tmp_path), "x").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["u", "v", "w"]}), path)
    df = _t(spark, str(tmp_path), "x")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert sorted(tuple(r) for r in df.collect()) == [(1, "u"), (2, "v"), (3, "w")]

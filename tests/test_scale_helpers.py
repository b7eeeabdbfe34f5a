"""Unit pins for the r6 scale-adaptive execution helpers
(`operators/scale.py`): fan_out's no-op-on-parallel-input contract,
sorted_fan_out's global order, shared()'s single-computation
semantics, and band_pairs' pair contract — the properties every r6
plan-surgery site relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from image_deid_etl_spark.operators.scale import band_pairs, fan_out, shared, sorted_fan_out


def test_fan_out_widens_narrow_input(spark):
    df = spark.range(0, 10_000, 1, 1)  # one partition, like a 1-row-group scan
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 10_000


def test_fan_out_is_noop_on_already_parallel_input(spark):
    wide = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, 10_000, 1, wide)  # an at-scale scan is already wide
    out = fan_out(df)
    # must NOT add an exchange (the 100 TB no-regression contract):
    # same plan object back, partition count untouched
    assert out is df
    assert out.rdd.getNumPartitions() == wide


def test_sorted_fan_out_matches_orderby(spark):
    df = spark.range(0, 5_000, 1, 1).select(
        (F.col("id") * 7919 % 5_000).alias("k"), F.col("id").alias("v")
    )
    got = sorted_fan_out(df, "k").collect()
    exp = df.orderBy("k").collect()
    assert [r["k"] for r in got] == [r["k"] for r in exp]
    # and it really is core-wide, not AQE's byte-floor choice
    assert (
        sorted_fan_out(df, "k").rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_shared_computes_once_and_preserves_rows(spark):
    import pyspark.sql.functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counting(x):
        acc.add(1)
        return x

    base = spark.range(0, 100, 1, 4).select(counting("id").alias("x"))
    mat = shared(base)  # eager: computed exactly once, right here
    n_after_materialize = acc.value
    assert n_after_materialize == 100
    # both sides of a self-join read the materialization, not the DAG
    j = mat.alias("a").join(mat.alias("b"), "x").count()
    assert j == 100
    assert acc.value == n_after_materialize  # no re-execution


# (id, key, carried tag): ids 1 and 2 share three keys, id 3 shares one
# with both, id 4 has a key only it holds (a self-match), id 5's key is
# reachable only through the probe of 1, 2 and 3, and id 6 probes into
# id 0's key from the HIGH side (which the lo < hi rule must drop).
BAND_ROWS = [
    (1, "k1", "t1"), (1, "k2", "t1"), (1, "k3", "t1"),
    (2, "k1", "t2"), (2, "k2", "t2"), (2, "k3", "t2"),
    (3, "k1", "t3"),
    (4, "k4", "t4"),
    (5, "pk1", "t5"),
    (0, "pk6", "t0"), (6, "k6", "t6"),
]


def _band_pairs_reference(probe=lambda k: [k]):
    """Plain-Python band join: the a side probes, the b side stays home."""
    return {
        (ia, ib, ta, tb)
        for ia, ka, ta in BAND_ROWS
        for q in probe(ka)
        for ib, kb, tb in BAND_ROWS
        if q == kb and ia < ib
    }


def _band_pairs_rows(spark, probe=None):
    banded = spark.createDataFrame(BAND_ROWS, "doc long, bkey string, tag string")
    out = band_pairs(banded, "doc", "bkey", probe)
    assert out.columns == ["id_a", "id_b", "tag_a", "tag_b"]
    return [tuple(r) for r in out.collect()]


def test_band_pairs_matches_reference(spark):
    rows = _band_pairs_rows(spark)
    assert len(rows) == len(set(rows))  # each pair once, though (1, 2) shares 3 keys
    assert all(a < b for a, b, _, _ in rows)
    assert set(rows) == _band_pairs_reference()
    assert {(a, b) for a, b, _, _ in rows} == {(1, 2), (1, 3), (2, 3)}
    # carried columns land on their own side
    assert all(ta == f"t{a}" and tb == f"t{b}" for a, b, ta, tb in rows)


def test_band_pairs_probe_is_asymmetric_join(spark):
    rows = _band_pairs_rows(spark, lambda k: F.array(k, F.concat(F.lit("p"), k)))
    assert len(rows) == len(set(rows))
    assert set(rows) == _band_pairs_reference(lambda k: [k, "p" + k])
    pairs = {(a, b) for a, b, _, _ in rows}
    assert {(1, 5), (2, 5), (3, 5)} <= pairs  # found only through the probe
    assert (0, 6) not in pairs  # 6 probes 0's key, but only lo may probe

"""Session-level tuning that no single query test can see."""

from __future__ import annotations

#: distinct plans per cycle: more than Spark's default codegen cache
#: (100 entries), well under the size `build_session` sets
N_PLANS = 150


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_cyclic_working_set(spark):
    """A cyclic working set larger than Spark's default codegen cache is
    compiled once: the second cycle reuses every class. With the default
    LRU of 100 entries each plan is evicted before its reuse and the
    second cycle recompiles all of them."""
    # each literal pair is inlined into the generated Java source, so
    # every plan is a distinct cache key
    plans = [
        spark.range(0, 3, 1, 1).selectExpr(f"id * {i} + {i} AS v") for i in range(N_PLANS)
    ]

    def cycle() -> int:
        c0 = _compiles(spark)
        for i, df in enumerate(plans):
            assert [r.v for r in df.collect()] == [i, 2 * i, 3 * i]
        return _compiles(spark) - c0

    first = cycle()
    assert first >= N_PLANS  # the cycle really is larger than the default cache
    assert cycle() == 0

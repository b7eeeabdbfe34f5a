"""Physical-plan assertions: the optimizations the 100 TB story depends on
must be visible in `explain`, not assumed (predicate pushdown into the
Parquet scan, broadcast joins for dims, no Python in JVM-only queries)."""

from __future__ import annotations

from image_deid_etl_spark.plans import QUERIES

#: Physical node names through which rows cross into a Python worker:
#: row/Arrow UDF evaluation, `mapInPandas`/`mapInArrow`, and the grouped
#: and cogrouped `applyInPandas`/`applyInArrow` forms (a substring match
#: also catches `FlatMapGroupsInPandasWithState`).
PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
)


def python_nodes(p: str) -> list[str]:
    return [n for n in PYTHON_NODES if n in p]


def plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:200]


def test_q1_column_pruned(spark, sf_dir):
    p = plan(spark, sf_dir, "q1_pricing_summary")
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_quantity" in read_schema
    # untouched columns must NOT be read
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


def test_q3_broadcasts_dim(spark, sf_dir):
    p = plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # top-k without a full global sort


def test_q5_star_join_broadcasts(spark, sf_dir):
    p = plan(spark, sf_dir, "q5_region_revenue")
    assert p.count("BroadcastHashJoin") >= 3  # supplier, nation, region


def test_frontier_is_broadcast_anti_join(spark, sf_dir):
    p = plan(spark, sf_dir, "frontier_anti_join")
    assert "LeftAnti" in p


def test_native_queries_have_no_python(spark, sf_dir):
    """JVM-only catalog queries must not contain any Python node.

    A subplan behind a `shared` leaf (an eager `localCheckpoint`, e.g.
    `dedup_minhash_lsh`'s band table) prints only as `Scan ExistingRDD`,
    so a Python node inside it stays invisible here — see ROADMAP D3."""
    for name in [
        "q1_pricing_summary", "scrub_content_native", "dedup_exact",
        "dedup_minhash_lsh", "text_quality_scores", "knn_bruteforce_cosine",
    ]:
        assert python_nodes(plan(spark, sf_dir, name)) == [], name


def test_python_node_check_flags_map_in_pandas(spark, sf_dir):
    """Positive control: `seq_packing` packs in a `mapInPandas`, which the
    check above must see (its plan prints `MapInPandas`, not an eval
    node)."""
    assert "MapInPandas" in python_nodes(plan(spark, sf_dir, "seq_packing"))


def test_positional_zip_join_never_single_partition(spark):
    """The distributed zip must not collapse either side to one task
    (round-1 used an unpartitioned Window — an 'Exchange SinglePartition'
    scale-killer)."""
    from pyspark.sql import functions as F

    from image_deid_etl_spark.operators.relational import positional_zip_join

    a = spark.range(1000).select(F.col("id").alias("x"))
    b = spark.range(1000).select((999 - F.col("id")).alias("y"))
    z = positional_zip_join(a, b, ["x"], ["y"])
    p = spark._jvm.PythonSQLUtils.explainString(
        z._jdf.queryExecution(), "formatted"
    )
    # the DATA path must be range-partitioned (parallel), never collapsed:
    # the only allowed single-partition exchanges are the two cumulative
    # sums over the per-partition COUNT aggregates (≤ n_partitions rows)
    assert p.lower().count("rangepartitioning") >= 2
    assert p.count("Exchange SinglePartition") <= 2
    # and the zip is correct: row i of a-sorted pairs with row i of b-sorted
    rows = z.collect()
    assert len(rows) == 1000
    assert all(r["x"] == r["y"] for r in rows)
    # partition-assignment consistency between the offsets and rank
    # branches is guaranteed by exchange reuse — assert it actually
    # happened at runtime (each side's range exchange computed ONCE)
    p_exec = spark._jvm.PythonSQLUtils.explainString(
        z._jdf.queryExecution(), "formatted"
    )
    assert p_exec.count("ReusedExchange") >= 2


def test_whole_stage_codegen_active(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    p = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in p


def test_domain_cap_has_mapside_group_limit(spark, sf_dir):
    """corpus_domain_cap's rank<=k filter must compile to a partial
    (map-side) WindowGroupLimit: each task forwards at most k rows per
    domain BEFORE the shuffle, so a mega-domain never funnels through a
    single task's full sort."""
    p = plan(spark, sf_dir, "corpus_domain_cap")
    assert "WindowGroupLimit" in p
    assert "row_number(), 10, Partial" in p  # map-side, pre-shuffle
    assert "row_number(), 10, Final" in p


def test_top_bigrams_is_partial_agg_plus_takeordered(spark, sf_dir):
    """corpus_top_bigrams must partially aggregate counts map-side (one
    row per distinct bigram per task crosses the shuffle) and take the
    top-k via TakeOrderedAndProject — never a full global sort, and
    never a Python boundary."""
    p = plan(spark, sf_dir, "corpus_top_bigrams")
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "Partial" in p
    assert "Python" not in p


def test_tfidf_shuffle_joins_df_and_limits_window_mapside(spark, sf_dir):
    """tfidf_top_terms must join the per-term df side with a SHUFFLE hash
    join — df is one row per DISTINCT CORPUS TERM, unbounded at 100 TB,
    so it must never be broadcast (r5 VERDICT #3; the one-row N scalar
    may stay a broadcast) — and compile its rank<=3 filter to a map-side
    WindowGroupLimit, so no document's term list funnels a global sort."""
    p = plan(spark, sf_dir, "tfidf_top_terms")
    assert "ShuffledHashJoin" in p
    # the only broadcast allowed is the one-row N scalar (nested-loop /
    # cross); the df-side equi-join must not be a BroadcastHashJoin
    assert "BroadcastHashJoin" not in p
    assert "WindowGroupLimit" in p
    assert "row_number(), 3, Partial" in p
    assert "Python" not in p


def test_curation_pipeline_plan_shape(spark, sf_dir):
    """The composed funnel stays pure codegen: no Python eval node, the
    quota cap keeps its partial (map-side) WindowGroupLimit even after
    composition with the dedup window and the final rollup, and the
    rollup partial-aggregates (map-side combine before the shuffle)."""
    p = plan(spark, sf_dir, "corpus_curation_pipeline")
    assert python_nodes(p) == []
    assert "row_number(), 20, Partial" in p  # cap is map-side bounded
    assert "partial_count" in p  # rollup combines before the exchange

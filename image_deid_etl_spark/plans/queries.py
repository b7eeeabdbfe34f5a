"""The query catalog: every entry pairs a Spark DataFrame plan with the
ANSI-SQL oracle DuckDB runs on the same Parquet tables.

Cross-engine determinism rules (so value-hash comparison is exact):
* money sums go through DECIMAL (exact, associative) and are cast to
  DOUBLE only at the end — no float-summation-order divergence;
* every integer output is cast to BIGINT on both sides;
* floating outputs are either exact single divisions of exact values or
  omitted in favor of ranks;
* all hashing is md5/sha256 over strings (identical hex in both engines);
* every ranking has a total order (explicit tiebreak columns).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..cdc.scrub import duckdb_scrub_expr, scrubbed_native
from ..operators import dedup, multimodal, similarity, text
from ..operators.scale import fan_out, shared, sorted_fan_out
from ..operators.relational import (
    anti_join_frontier,
    asof_nearest,
    copy_number_suffix,
    lww_latest,
    mode_per_group,
    reconcile_sets,
    top_k,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


#: Spark's own inferred schema per table file: realpath → (st_mtime_ns,
#: st_size, schema). A rewritten file no longer matches its entry and is
#: inferred again. Without a given schema every read runs a 1-task
#: inference job; only the schema is memoized, never data.
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:  # not a local file (e.g. a remote URI): Spark infers
        return spark.read.parquet(path)
    ident = (st.st_mtime_ns, st.st_size)
    hit = _SCHEMAS.get(real)
    if hit is None or hit[:2] != ident:
        hit = _SCHEMAS[real] = (*ident, spark.read.parquet(path).schema)
    return spark.read.schema(hit[2]).parquet(path)


def _dec(col, p=12, s=2):
    return (F.col(col) if isinstance(col, str) else col).cast(f"decimal({p},{s})")


# --------------------------------------------------------------------------- #
# TPC-H-style relational core (S1/S6, F*, P*, J1/J3, A*, O*)
# --------------------------------------------------------------------------- #


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — partial-agg heavy scan; filter + projection push
    into the Parquet scan (reference analog: A5/A-group metrics)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    disc1 = _dec(F.lit(1) - F.col("l_discount"), 4, 2)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc1).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey AS o_orderkey, o.o_orderdate AS o_orderdate,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — selective dim broadcast into fact join, top-k."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    revenue = F.sum(_dec("l_extendedprice") * _dec(F.lit(1) - F.col("l_discount"), 4, 2))
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(revenue.cast("double").alias("revenue"))
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("o_orderkey").asc()], 10)


@register(
    "q5_region_revenue",
    """
    SELECT n.n_name AS n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — star join; dims broadcast, one fact shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.sum(_dec("l_extendedprice") * _dec(F.lit(1) - F.col("l_discount"), 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# --------------------------------------------------------------------------- #
# CDC-shaped relational operators (S2, J2/J5/J6/J7/J11, U1-U3, W1-W3, A3/A6/A7)
# --------------------------------------------------------------------------- #


@register(
    "frontier_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def frontier_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/J5/J6 — frontier = all − processed (`orthanc.py:64`)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        anti_join_frontier(c, o, ["c_custkey"])
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "reconcile_two_way_diff",
    """
    SELECT key, 'left_only' AS side
    FROM (SELECT DISTINCT c_custkey AS key FROM customer) a
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = a.key)
    UNION ALL
    SELECT key, 'right_only' AS side
    FROM (SELECT DISTINCT o_custkey AS key FROM orders) b
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = b.key)
    ORDER BY side, key
    """,
)
def reconcile_two_way_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/S15 — two-way listing reconciliation (`orthanc.py:116-153`)."""
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return reconcile_sets(a, b, ["key"]).orderBy("side", "key")


@register(
    "left_join_coalesce_enrich",
    """
    SELECT c.c_custkey AS c_custkey,
           COALESCE(s.n_orders, 0) AS n_orders,
           COALESCE(s.total_spent, 0.0) AS total_spent
    FROM customer c LEFT JOIN (
      SELECT o_custkey, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
      FROM orders GROUP BY o_custkey
    ) s ON c.c_custkey = s.o_custkey
    ORDER BY c_custkey
    """,
)
def left_join_coalesce_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 — coalesce-fill enrichment (`custom_etl.py:306-326`)."""
    c = _t(spark, sf_dir, "customer")
    s = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spent"),
        )
    )
    return (
        c.join(s, c.c_custkey == s.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@register(
    "asof_nearest_value",
    """
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY abs(value - 50.0) ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def asof_nearest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/W1/A7/O3 — nearest-key pick (`custom_etl.py:412-414,446-452`)."""
    ev = _t(spark, sf_dir, "events")
    return (
        asof_nearest(ev, ["user_id"], F.abs(F.col("value") - 50.0), ["event_id"])
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    )


@register(
    "lww_latest_per_key",
    """
    SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
    FROM (
      SELECT user_id, event_type, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id, event_type
    """,
)
def lww_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 — last-writer-wins, the MERGE core semantic."""
    ev = _t(spark, sf_dir, "events")
    return (
        lww_latest(ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "first_event_per_user",
    """
    SELECT user_id, event_type AS first_type, props AS first_props FROM (
      SELECT user_id, event_type, props,
             row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — first-found-wins per group (`custom_etl.py:198-239`)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("first_type"),
            F.col("props").alias("first_props"),
        )
        .orderBy("user_id")
    )


@register(
    "copy_number_suffix",
    """
    SELECT event_id,
           CASE WHEN rn = 1 THEN event_type
                ELSE event_type || ' (' || CAST(rn - 1 AS VARCHAR) || ')' END AS label
    FROM (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts ASC, event_id ASC) AS rn
      FROM events
    ) ORDER BY event_id
    """,
)
def copy_number_suffix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — duplicate-name `(n)` suffix (`custom_etl.py:563-572`)."""
    ev = _t(spark, sf_dir, "events").withColumn("label", F.col("event_type"))
    return (
        copy_number_suffix(ev, ["user_id"], ["ts", "event_id"], "label")
        .select("event_id", "label")
        .orderBy("event_id")
    )


@register(
    "mode_event_type",
    """
    SELECT user_id, event_type AS mode_value, cnt AS mode_count FROM (
      SELECT user_id, event_type, count(*) AS cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type ASC) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — most-frequent value per group (`custom_dicom.py:198-206`)."""
    return mode_per_group(_t(spark, sf_dir, "events"), ["user_id"], "event_type").orderBy(
        "user_id"
    )


@register(
    "topk_customers_by_revenue",
    """
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_custkey
    ORDER BY revenue DESC, o_custkey ASC LIMIT 10
    """,
)
def topk_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3 — deterministic top-k (TakeOrderedAndProject, no full sort)."""
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_dec("o_totalprice")).cast("double").alias("revenue"))
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("o_custkey").asc()], 10)


# --------------------------------------------------------------------------- #
# projection / scalar-function surface (P1-P13, S7)
# --------------------------------------------------------------------------- #


@register(
    "string_projection_suite",
    """
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           lower(trim(c_name)) AS name_norm,
           regexp_replace(split_part(c_name, '#', 2), '^0+', '') AS id_stripped,
           concat_ws('_', c_mktsegment,
                     regexp_replace(split_part(c_name, '#', 2), '^0+', '')) AS label
    FROM customer ORDER BY c_custkey
    """,
)
def string_projection_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4/P10 — zero-pad, zero-strip, normalize, path-part, label build."""
    from ..functions import norm_name, path_part, zero_pad, zero_strip

    c = _t(spark, sf_dir, "customer")
    stripped = zero_strip(path_part("c_name", 2, "#"))
    return c.select(
        "c_custkey",
        zero_pad(F.col("c_custkey").cast("string"), 8).alias("key_padded"),
        norm_name("c_name").alias("name_norm"),
        stripped.alias("id_stripped"),
        F.concat_ws("_", F.col("c_mktsegment"), stripped).alias("label"),
    ).orderBy("c_custkey")


@register(
    "date_histogram",
    """
    SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
    ORDER BY yr, mo
    """,
)
def date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — date parsing/bucketing (`custom_etl.py:241-243`)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy("yr", "mo")
    )


@register(
    "json_props_extract",
    """
    SELECT event_type, CAST(sum(k) AS BIGINT) AS sum_k, count(*) AS n
    FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — semi-structured sidecar extraction (`custom_etl.py:355`)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "part_type_classifier",
    """
    SELECT CASE WHEN lower(p_type) LIKE '%promo%' THEN 'promotional'
                WHEN lower(p_type) LIKE '%economy%' THEN 'budget'
                WHEN lower(p_type) LIKE '%standard%' THEN 'standard'
                ELSE 'other' END AS category,
           count(*) AS n,
           CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
    FROM part WHERE p_size NOT IN (1, 2)
    GROUP BY 1 ORDER BY category
    """,
)
def part_type_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F7 — contains-rule classifier + isin-exclusion filter."""
    from ..functions import classify_by_contains

    p = _t(spark, sf_dir, "part").filter(~F.col("p_size").isin(1, 2))
    cat = classify_by_contains(
        F.col("p_type"),
        [("promo", "promotional"), ("economy", "budget"), ("standard", "standard")],
        "other",
    )
    return (
        p.select(cat.alias("category"), "p_retailprice")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(_dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias(
                "avg_price"
            ),
        )
        .orderBy("category")
    )


@register(
    "scrub_content_native",
    f"""
    SELECT doc_id, sha256({duckdb_scrub_expr('text')}) AS scrubbed_sha
    FROM documents ORDER BY doc_id
    """,
)
def scrub_content_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 — the PHI scrub as pure JVM regexp chain + sha256 invariant.

    r6: sort FIRST, project after. With the projection below the sort,
    the range exchange's sampling job evaluated the whole regex+sha256
    chain a second time, and the chain itself ran inside the 1-split scan
    stage; sorting the raw rows first makes the range exchange both the
    fan-out (the heavy projection runs on the 32 post-shuffle partitions)
    and sample only cheap base rows. Output rows and their order are
    unchanged (projection is narrow/order-preserving)."""
    d = _t(spark, sf_dir, "documents")
    return sorted_fan_out(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.sha2(scrubbed_native(F.col("text")), 256).alias("scrubbed_sha")
    )


# --------------------------------------------------------------------------- #
# training-data operators: dedup / similarity / text / multimodal
# --------------------------------------------------------------------------- #

_SHINGLE_SQL = """
  WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents),
  sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(1, greatest(len(ws) - {nm1}, 0) + 1),
                                 i -> {concat})) AS shingle
    FROM w
  ),
  shn AS (SELECT doc_id, shingle FROM sh WHERE length(shingle) > 0)
"""


def _shingle_cte(n: int) -> str:
    concat = " || ' ' || ".join(f"ws[i+{k}]" for k in range(n))
    return _SHINGLE_SQL.format(nm1=n - 1, concat=concat)


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS rep_id, count(*) AS n_dups
    FROM documents GROUP BY md5(text) ORDER BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d, "doc_id", "text").orderBy("content_hash")


_MINHASH_SQL = (
    _shingle_cte(3)
    + """,
  sig AS (
    SELECT doc_id,
           """
    + ",\n           ".join(
        f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8)
    )
    + """
    FROM shn GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, concat_ws('|', '0', h0, h1) AS band_key FROM sig
    UNION ALL SELECT doc_id, concat_ws('|', '1', h2, h3) FROM sig
    UNION ALL SELECT doc_id, concat_ws('|', '2', h4, h5) FROM sig
    UNION ALL SELECT doc_id, concat_ws('|', '3', h6, h7) FROM sig
  )
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  ORDER BY id_a, id_b
"""
)


@register("dedup_minhash_lsh", _MINHASH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shingle → minhash → band → bucket-join near-dup candidates."""
    d = _t(spark, sf_dir, "documents")
    # r6: `shared` before the final sort — range-bound sampling must not
    # re-execute the pair-dedup stage (see knn_lsh_multiprobe)
    return shared(
        dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, bands=4)
    ).orderBy("id_a", "id_b")


_JACCARD_SQL = (
    _shingle_cte(2)
    + """,
  rare AS (SELECT shingle FROM shn GROUP BY shingle HAVING count(*) <= 10),
  shf AS (SELECT s.doc_id, s.shingle FROM shn s JOIN rare r ON s.shingle = r.shingle),
  sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  )
  SELECT id_a, id_b,
         round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.2
  ORDER BY id_a, id_b
"""
)


@register("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Jaccard over a stop-shingle-pruned inverted index (max_df=10
    bounds the self-join fanout; see operators/dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    # r6: `shared` before the final sort (see knn_lsh_multiprobe)
    return shared(
        dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=2, threshold=0.2, max_df=10)
    ).orderBy("id_a", "id_b")


_SIMHASH_SQL = (
    """
  WITH tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
    FROM documents
  ),
  tk AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
  agg AS (
    SELECT doc_id,
           """
    + ",\n           ".join(
        f"sum(CASE WHEN ascii(substring(md5(tok), {k + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v{k}"
        for k in range(16)
    )
    + """
    FROM tk GROUP BY doc_id
  )
  SELECT doc_id, concat("""
    + ", ".join(f"CASE WHEN v{k} > 0 THEN '1' ELSE '0' END" for k in range(16))
    + """) AS simhash
  FROM agg ORDER BY doc_id
"""
)


@register("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(d, "doc_id", "text", bits=16).orderBy("doc_id")


_SIMHASH_FP_CTE = (
    """
  WITH tok AS (
    SELECT DISTINCT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
    FROM documents
  ),
  tk AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
  agg AS (
    SELECT doc_id,
           """
    + ",\n           ".join(
        f"sum(CASE WHEN ascii(substring(md5(tok), {k + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v{k}"
        for k in range(16)
    )
    + """
    FROM tk GROUP BY doc_id
  ),
  fp AS (
    SELECT doc_id, concat("""
    + ", ".join(f"CASE WHEN v{k} > 0 THEN '1' ELSE '0' END" for k in range(16))
    + """) AS simhash FROM agg
  )
"""
)

_SIMHASH_PAIRS_SQL = (
    _SIMHASH_FP_CTE
    + """,
  banded AS (
    """
    + "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, concat('{b}|', substring(simhash, {b * 4 + 1}, 4)) AS band_key FROM fp"
        for b in range(4)
    )
    + """
  ),
  cand AS (
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
    FROM banded a JOIN banded c USING (band_key)
    WHERE a.doc_id < c.doc_id
  ),
  scored AS (
    SELECT id_a, id_b,
           ("""
    + " + ".join(
        f"CASE WHEN substring(fa.simhash, {i + 1}, 1) <> substring(fb.simhash, {i + 1}, 1) THEN 1 ELSE 0 END"
        for i in range(16)
    )
    + """)::INTEGER AS hamming
    FROM cand
    JOIN fp fa ON fa.doc_id = cand.id_a
    JOIN fp fb ON fb.doc_id = cand.id_b
  )
  SELECT id_a, id_b, hamming FROM scored WHERE hamming <= 2
  ORDER BY id_a, id_b
"""
)


@register("dedup_simhash_pairs", _SIMHASH_PAIRS_SQL)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming-band bucket join (4 bands of 4
    bits — exact recall for hamming <= 3) + exact hamming verification,
    filtered to <= 2 differing bits."""
    d = _t(spark, sf_dir, "documents")
    # r6: `shared` before the final sort (see knn_lsh_multiprobe)
    return shared(
        dedup.simhash_pairs(d, "doc_id", "text", bits=16, bands=4, max_hamming=2)
    ).orderBy("id_a", "id_b")


_WINNOW_SQL = f"""
  WITH g AS (
    SELECT doc_id, pos, {dedup.winnowing_hash_sql("text", 8)} AS ghash
    FROM (SELECT doc_id, text,
                 unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS pos
          FROM documents)
  ),
  wn AS (
    SELECT doc_id, pos,
           min(ghash) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
    FROM g
  )
  SELECT DISTINCT doc_id, fp FROM wn WHERE pos >= 4 ORDER BY doc_id, fp
"""


@register("dedup_winnowing", _WINNOW_SQL)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=8 char-grams, window=4):
    the guaranteed-coverage near-dup fingerprint set per document."""
    d = _t(spark, sf_dir, "documents")
    # r6: `shared` before the sort — the range exchange's sampling job
    # would otherwise run the whole numpy mapInPandas pass a second time
    return shared(
        dedup.winnowing_fingerprints(d, "doc_id", "text", k=8, window=4)
    ).orderBy("doc_id", "fp")


_COS_SQL = """
    list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
"""

_KNN_SQL = f"""
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  s AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e a JOIN e b ON b.vec_id <> a.vec_id
    WHERE a.vec_id < 10
  )
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM s
  ) WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("knn_bruteforce_cosine", _KNN_SQL)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: exact top-5 cosine neighbors for query vecs 0-9."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    # r6: `shared` before the final sort (see knn_lsh_multiprobe)
    return shared(similarity.cosine_knn(e, q, "vec_id", "embedding", k=5)).orderBy(
        "query_id", "rank"
    )


def _band_bucket_sql(dim: int, n_planes: int, band: int) -> str:
    """DuckDB mirror of `similarity.lsh_bucket_banded`."""
    bit_cases = []
    for p in range(n_planes):
        coeffs = similarity._hyperplane(band * n_planes + p, dim)
        arr = "[" + ", ".join(repr(c) for c in coeffs) + "]"
        bit_cases.append(
            f"CASE WHEN list_dot_product(v, CAST({arr} AS DOUBLE[])) >= 0 THEN '1' ELSE '0' END"
        )
    return f"concat('{band}|', " + ", ".join(bit_cases) + ")"


def _lsh_knn_sql(dim: int = 64, n_planes: int = 8, n_bands: int = 2, k: int = 5) -> str:
    banded = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {_band_bucket_sql(dim, n_planes, b)} AS bucket FROM e"
        for b in range(n_bands)
    )
    return f"""
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  banded AS (
    {banded}
  ),
  cand AS (
    SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM banded a JOIN banded c USING (bucket)
    WHERE a.vec_id <> c.vec_id
  ),
  s AS (
    SELECT query_id, neighbor_id,
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM cand JOIN e a ON a.vec_id = cand.query_id
              JOIN e b ON b.vec_id = cand.neighbor_id
  )
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM s
  ) WHERE rank <= {k} ORDER BY query_id, rank
"""


def _lsh_knn_multiprobe_sql(dim: int = 64, n_planes: int = 8, n_bands: int = 2, k: int = 5) -> str:
    banded = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {_band_bucket_sql(dim, n_planes, b)} AS bucket FROM e"
        for b in range(n_bands)
    )
    # Hamming-1 probes, mirrored as string surgery on the bucket. The
    # Spark side derives the bit offset from the '|' separator (instr);
    # mirror that here with strpos so the oracle stays correct for any
    # band-prefix width (n_bands >= 10 would widen "b|" past 2 chars).
    return f"""
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  banded AS (
    {banded}
  ),
  probes AS (
    SELECT vec_id, bucket FROM banded
    UNION ALL
    SELECT vec_id,
           substring(bucket, 1, strpos(bucket, '|') + pos::INT - 1)
           || (CASE WHEN substring(bucket, strpos(bucket, '|') + pos::INT, 1) = '1'
                    THEN '0' ELSE '1' END)
           || substring(bucket, strpos(bucket, '|') + pos::INT + 1, {n_planes}) AS bucket
    FROM banded, (SELECT unnest(range(1, {1 + n_planes})) AS pos) p
  ),
  cand AS (
    SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM probes a JOIN banded c USING (bucket)
    WHERE a.vec_id <> c.vec_id
  ),
  s AS (
    SELECT query_id, neighbor_id,
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM cand JOIN e a ON a.vec_id = cand.query_id
              JOIN e b ON b.vec_id = cand.neighbor_id
  )
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM s
  ) WHERE rank <= {k} ORDER BY query_id, rank
"""


@register("knn_lsh_multiprobe", _lsh_knn_multiprobe_sql())
def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH kNN (Lv et al. 2007): the query side probes its
    home bucket plus every Hamming-1 bucket per band, buying ~3x recall
    at the same bucket granularity (candidates stay equi-join-bounded).
    The oracle replays the exact probe surgery as SQL string ops."""
    e = _t(spark, sf_dir, "embeddings")
    # r6: `shared` before the final sort — the range exchange's sampling
    # pass would otherwise re-execute the whole candidate+scoring stage
    # (measured: 60 s -> ~29 s at sf1.0); the top-k output is tiny (n*k)
    return shared(
        similarity.lsh_bucketed_knn(
            e, "vec_id", "embedding", dim=64, n_planes=8, k=5, n_bands=2, multiprobe=True
        )
    ).orderBy("query_id", "rank")


@register("knn_lsh_bucketed", _lsh_knn_sql())
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: banded sign-bit LSH (8 planes x 2 OR-amplified
    bands — 256 buckets per band bound the candidate fanout; any-band
    agreement recovers recall); equi-join replaces cross join.

    ``multiprobe=False`` here deliberately: this catalog entry is the
    home-bucket-only ablation baseline paired with the probe-free SQL
    oracle. The OPERATOR default is ``multiprobe=True`` (r4) — the
    shipped-default path is the `knn_lsh_multiprobe` entry, and the
    recall test pins the shipped config at >= 0.6 recall@5."""
    e = _t(spark, sf_dir, "embeddings")
    # r6: `shared` before the final sort (see knn_lsh_multiprobe)
    return shared(
        similarity.lsh_bucketed_knn(
            e, "vec_id", "embedding", dim=64, n_planes=8, k=5, n_bands=2, multiprobe=False
        )
    ).orderBy("query_id", "rank")


def _embed_dup_sql(
    dim: int = 64, n_planes: int = 8, n_bands: int = 2, threshold: float = 0.25
) -> str:
    banded = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {_band_bucket_sql(dim, n_planes, b)} AS bucket FROM e"
        for b in range(n_bands)
    )
    return f"""
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  banded AS (
    {banded}
  ),
  cand AS (
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM banded x JOIN banded y USING (bucket)
    WHERE x.vec_id < y.vec_id
  )
  SELECT id_a, id_b
  FROM cand JOIN e a ON a.vec_id = cand.id_a JOIN e b ON b.vec_id = cand.id_b
  WHERE {_COS_SQL} >= {threshold}
  ORDER BY id_a, id_b
"""


@register("dedup_embedding_cosine", _embed_dup_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded sign-bit LSH (8 planes x 2
    OR-amplified bands — 256 buckets/band bound the candidate fanout at
    scale, any-band agreement recovers recall); exact cosine verifies
    within the candidate set."""
    e = _t(spark, sf_dir, "embeddings")
    cand = similarity.lsh_candidate_vectors(
        e, "vec_id", "embedding", dim=64, n_planes=8, n_bands=2, multiprobe=False
    )
    return shared(
        cand.filter(similarity.pair_cosine() >= 0.25).select("id_a", "id_b")
    ).orderBy("id_a", "id_b")


_IVF_SQL = """
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS c
    FROM e ORDER BY vec_id LIMIT 8
  ),
  dist AS (
    -- |v-c|^2 via the dot identity: the exact fold structure the engine
    -- uses, so argmin ties break identically
    SELECT e.vec_id, e.v, cents.ci,
           list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, cents.c)
           + list_dot_product(cents.c, cents.c) AS d
    FROM e CROSS JOIN cents
  ),
  assigned AS (
    SELECT vec_id, v, ci FROM (
      SELECT vec_id, v, ci,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
      FROM dist
    ) WHERE rn = 1
  ),
  probes AS (
    SELECT vec_id AS query_id, v AS qv, ci AS cell FROM (
      SELECT vec_id, v, ci,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) AS rn
      FROM dist WHERE vec_id < 10
    ) WHERE rn <= 3
  ),
  s AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           list_dot_product(p.qv, a.v)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
    FROM probes p JOIN assigned a ON a.ci = p.cell AND a.vec_id <> p.query_id
  )
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM s
  ) WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("knn_ivf", _IVF_SQL)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse quantizer, n_probe cells per query) — the third ANN
    path alongside brute force and LSH. The catalog query pins the
    quantizer to the deterministic init (n_iters=0: centroids are the 8
    lowest-id vectors verbatim) so a bit-exact DuckDB oracle exists; the
    Lloyd-iteration path (n_iters>0) is exercised by the recall-vs-brute-
    force assertion in tests/test_similarity.py."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return similarity.ivf_knn(
        e, q, "vec_id", "embedding", k=5, n_centroids=8, n_probe=3, n_iters=0
    ).orderBy("query_id", "rank")


#: DuckDB replicas of `text.quality_features`' scalar expressions — ONE
#: definition shared by the per-doc score query and the curation-pipeline
#: funnel so the quality gate cannot desynchronize between them
_Q_TOKENS_SQL = (
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)
_Q_MWL_SQL = (
    "round(list_aggregate(list_transform(regexp_split_to_array(trim(text), '\\s+'), "
    "w -> length(w)), 'sum') "
    "/ greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 6)"
)
_Q_PUNCT_SQL = (
    "round(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) "
    "/ greatest(length(text), 1), 6)"
)


@register(
    "text_quality_scores",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           {_Q_TOKENS_SQL} AS n_tokens,
           {_Q_MWL_SQL} AS mean_word_len,
           {_Q_PUNCT_SQL} AS punct_ratio,
           round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                 w -> w IN ('the','a','an','and','or','of','to','in','is','it',
                                            'on','for','as','at','by','with','that','this','be','are')))
                 / greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')), 1), 6) AS stopword_ratio
    FROM documents ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: sort the raw rows FIRST (see scrub_content_native) — the split/
    # regex/array-filter feature chain then runs once, parallel, after the
    # range exchange instead of twice inside a 1-split scan stage
    d = _t(spark, sf_dir, "documents")
    feats = text.quality_features(
        sorted_fan_out(d.select("doc_id", "text"), "doc_id"), "text"
    )
    return feats.select(
        "doc_id",
        F.col("n_chars_m").cast("long").alias("n_chars_m"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
    )


@register(
    "text_oov_ratio",
    """
    WITH tk AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))),
                                          '\\s+')) AS tok
      FROM documents
    ),
    tkn AS (SELECT doc_id, tok FROM tk WHERE length(tok) > 0),
    cnt AS (SELECT tok, count(*) AS cnt FROM tkn GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY cnt DESC, tok ASC LIMIT 500)
    SELECT tkn.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS oov_ratio
    FROM tkn LEFT JOIN vocab v ON tkn.tok = v.tok
    GROUP BY tkn.doc_id ORDER BY tkn.doc_id
    """,
)
def text_oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-vocabulary OOV rate per document: fraction of tokens
    outside the corpus's own top-500 vocabulary (Gopher-style rare-word
    quality signal; see `text.oov_ratio` for the two-shuffle + broadcast
    scale shape and the exact-integer float discipline). Reference
    analog: the validity gating of `custom_etl.py:41-45` (exclude rows a
    cheap corpus-level statistic flags), lifted to token statistics."""
    d = _t(spark, sf_dir, "documents")
    return (
        text.oov_ratio(d, "doc_id", "text", vocab_size=500)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            "oov_ratio",
        )
        .orderBy("doc_id")
    )


#: null text → empty word list on BOTH engines (Spark coalesces too);
#: without the COALESCE the oracle's all-NULL ratios would fall through
#: the CASE to the last language while Spark returns NULL
_LANG_WORDS_SQL = "regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\\s+')"


def _lang_ratio_sql(lang: str) -> str:
    """DuckDB replica of one language's stopword ratio (same int/int →
    double division as Spark), over the pre-computed ``words`` column."""
    from ..operators.text import STOPWORDS_BY_LANG

    sw = ", ".join(f"'{w}'" for w in STOPWORDS_BY_LANG[lang])
    return f"len(list_filter(words, w -> w IN ({sw}))) / greatest(len(words), 1)"


def _lang_ratio_cte(extra_cols: str = "") -> str:
    """Per-document language ratios (`r_en`...). Tokenizes ONCE into a
    MATERIALIZED `words` CTE — the same DuckDB re-evaluation trap the
    packing oracle documents (a non-materialized CTE re-runs the regex
    split once per reference: 8× here)."""
    from ..operators.text import LANG_PRIORITY

    ratios = ", ".join(f"{_lang_ratio_sql(l)} AS r_{l}" for l in LANG_PRIORITY)
    return (
        f"WITH w AS MATERIALIZED ("
        f"SELECT doc_id{extra_cols}, text, {_LANG_WORDS_SQL} AS words FROM documents"
        f") SELECT doc_id{extra_cols}, text, {ratios} FROM w"
    )


def _lang_pred_case(threshold: float = 0.05) -> str:
    """Argmax-with-priority CASE over the CTE's ratio columns — the
    byte-for-byte DuckDB replica of `text.lang_id`."""
    from ..operators.text import LANG_PRIORITY

    best = "greatest(" + ", ".join(f"r_{l}" for l in LANG_PRIORITY) + ")"
    whens = " ".join(
        f"WHEN r_{l} = {best} THEN '{l}'" for l in LANG_PRIORITY[:-1]
    )
    return (
        f"CASE WHEN {best} < {threshold} THEN 'unk' "
        f"{whens} ELSE '{LANG_PRIORITY[-1]}' END"
    )


@register(
    "text_lang_fingerprint",
    f"""
    WITH r AS ({_lang_ratio_cte()})
    SELECT doc_id,
           {_lang_pred_case()} AS lang_pred,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM r ORDER BY doc_id
    """,
)
def text_lang_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.lang_id(F.col("text")).alias("lang_pred"),
        text.bpe_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        text.fingerprint(F.col("text")).alias("fp"),
    ).orderBy("doc_id")


@register(
    "media_binary_meta",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256
    FROM documents ORDER BY media_id
    """,
)
def media_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checkable half: binary payload +
    typed metadata through the real mapInPandas feature extractor."""
    d = _t(spark, sf_dir, "documents")
    # r6: fan_out the payload synthesis (sha256 + Python decode otherwise
    # run inside the 1-split scan stage) and `shared` the small feature
    # output so the sort's sampling job cannot re-run the Python pass
    media = multimodal.synthesize_media(fan_out(d.select("doc_id", "text")), "doc_id", "text")
    feats = multimodal.extract_features(media)
    return shared(
        feats.select("media_id", "kind", "byte_len", "sha256")
    ).orderBy("media_id")


@register(
    "media_features_full",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             sha256(text) AS sha256
      FROM documents
    )
    SELECT media_id, kind, byte_len, sha256,
           ('0x' || substring(sha256, 1, 8))::BIGINT / 4294967296.0 AS feat_mean,
           (CASE kind WHEN 'image' THEN 2048 WHEN 'audio' THEN 512 ELSE 4096 END)::INT AS feat_dim,
           byte_len >= 8 AS valid
    FROM m WHERE byte_len >= 8
    ORDER BY media_id
    """,
)
def media_features_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal feature extraction incl. stub decode + quarantine
    routing. The stub decode's arithmetic (`feat_mean` = first 4 digest
    bytes / 2^32, `feat_dim` = CASE over kind, `valid` = len >= 8) is
    replayed exactly by the SQL oracle, so the mapInPandas fan-out is
    verified end to end, not just rows-only."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(d, "doc_id", "text")
    feats = multimodal.extract_features(media)
    good, _quarantine = multimodal.route_quarantine(feats)
    return good.orderBy("media_id")


# --------------------------------------------------------------------------- #
# CDC semantics + streaming-shaped aggregations
# --------------------------------------------------------------------------- #


@register(
    "cdc_lww_resolve",
    """
    SELECT user_id, event_id AS last_event_id, value AS last_value,
           event_type AS last_type
    FROM (
      SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND event_type <> 'purchase'
    ORDER BY user_id
    """,
)
def cdc_lww_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's LWW-resolve semantic as a pure query: events as a CDC
    feed keyed on user_id, seq = event_id, 'purchase' = delete."""
    ev = _t(spark, sf_dir, "events")
    latest = lww_latest(ev, ["user_id"], [F.col("event_id")])
    return (
        latest.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
            F.col("event_type").alias("last_type"),
        )
        .orderBy("user_id")
    )


@register(
    "cdc_envelope_decode",
    """
    WITH mapped AS (
      SELECT CASE event_type
               WHEN 'signup'   THEN 'add'
               WHEN 'purchase' THEN 'update'
               WHEN 'click'    THEN 'update'
               WHEN 'error'    THEN 'delete'
             END AS op,
             event_id, user_id, props
      FROM events
    )
    SELECT op, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_seq,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT props) AS BIGINT) AS n_props
    FROM mapped WHERE op IS NOT NULL
    GROUP BY op
    UNION ALL
    SELECT 'reject:unknown_op', CAST(count(*) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM events
    WHERE event_type NOT IN ('signup', 'purchase', 'click', 'error')
    ORDER BY op
    """,
)
def cdc_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-envelope round trip (`cdc/envelope.py`): events rendered
    as connector JSON envelopes (c/u/d + one unknown op class), decoded
    back through `decode_envelopes`, and aggregated per decoded op —
    the oracle computes the same aggregate RELATIONALLY (no JSON), so
    any mangling in the op mapping, the before/after image choice, the
    seq extraction or the payload string escaping diverges the hash.
    Map-only decode: the lone shuffle is the final aggregation."""
    from pyspark.sql import types as T

    from ..cdc.envelope import decode_envelopes

    ev = _t(spark, sf_dir, "events")
    op_code = (
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type").isin("purchase", "click"), F.lit("u"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("z"))  # 'view' → unknown-op reject path
    )
    payload = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("props").alias("props"),
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.when(op_code == "d", payload).alias("before"),
                F.when(op_code != "d", payload).alias("after"),
                op_code.alias("op"),
                (F.col("event_id") + F.lit(1700000000000)).alias("ts_ms"),
                F.struct(F.col("event_id").cast("long").alias("lsn")).alias(
                    "source"
                ),
            )
        ).alias("value")
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )
    events, rejects = decode_envelopes(raw, schema)
    decoded = events.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("seq").alias("sum_seq"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("props").alias("n_props"),
    )
    rej = rejects.groupBy(
        F.concat(F.lit("reject:"), F.col("reason")).alias("op")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.lit(None).cast("long").alias("sum_seq"),
        F.lit(None).cast("long").alias("n_users"),
        F.lit(None).cast("long").alias("n_props"),
    )
    return decoded.unionByName(rej).orderBy("op")


@register(
    "fuzzy_levenshtein_match",
    """
    SELECT n_name, r_name, dist FROM (
      SELECT n.n_name AS n_name, r.r_name AS r_name,
             levenshtein(lower(n.n_name), lower(r.r_name)) AS dist,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY levenshtein(lower(n.n_name), lower(r.r_name)) ASC,
                                         r.r_name ASC) AS rn
      FROM nation n CROSS JOIN region r
    ) WHERE rn = 1 ORDER BY n_name
    """,
)
def fuzzy_levenshtein_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — similarity theta-join: best fuzzy label match per key
    (`custom_flywheel.py:68` fuzzywuzzy → native levenshtein + window).
    Cross join is safe only because the label side is a broadcast dim."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    scored = n.crossJoin(F.broadcast(r)).select(
        "n_name",
        "r_name",
        F.levenshtein(F.lower("n_name"), F.lower("r_name")).alias("dist"),
    )
    w = Window.partitionBy("n_name").orderBy(F.col("dist").asc(), F.col("r_name").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_name", "r_name", "dist")
        .orderBy("n_name")
    )


@register(
    "quarantine_routing",
    """
    SELECT dest, count(*) AS n FROM (
      SELECT CASE
        WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) < 30
          THEN 'quarantine_short'
        WHEN round(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))
                   / greatest(length(text), 1), 6) > 0.05
          THEN 'quarantine_punct'
        ELSE 'ok' END AS dest
      FROM documents
    ) GROUP BY dest ORDER BY dest
    """,
)
def quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 — conditional dead-letter routing (`custom_etl.py:528-543`,
    `images.py:46-64`): when/otherwise dest column, counted per route."""
    d = _t(spark, sf_dir, "documents")
    dest = (
        F.when(text.token_count(F.col("text")) < 30, "quarantine_short")
        .when(text.punct_ratio(F.col("text")) > 0.05, "quarantine_punct")
        .otherwise("ok")
    )
    return (
        d.select(dest.alias("dest"))
        .groupBy("dest")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dest")
    )


@register(
    "distinct_mapping_pairs",
    """
    SELECT DISTINCT lang, source FROM documents ORDER BY lang, source
    """,
)
def distinct_mapping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 — multi-column dropDuplicates (`custom_etl.py:284`)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", "source")
        .dropDuplicates(["lang", "source"])
        .orderBy("lang", "source")
    )


@register(
    "session_label_build",
    """
    SELECT o_orderkey,
           concat_ws('_', CAST(abs(datediff('day', DATE '1995-01-01', o_orderdate)) AS VARCHAR),
                     o_orderpriority)
           || (CASE WHEN length(lpad(CAST(o_orderkey % 2400 AS VARCHAR), 4, '0')) < 4 THEN ''
                    ELSE '_' || substring(lpad(CAST(o_orderkey % 2400 AS VARCHAR), 4, '0'), 1, 2)
                         || 'h' || substring(lpad(CAST(o_orderkey % 2400 AS VARCHAR), 4, '0'), 3, 2)
                         || 'm' END) AS label
    FROM orders ORDER BY o_orderkey
    """,
)
def session_label_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P8 — session-label builder (`custom_etl.py:128-175`): datediff
    days + label + `_HHhMMm` time suffix, all native expressions."""
    from ..functions import session_label

    o = _t(spark, sf_dir, "orders")
    hhmm = F.lpad((F.col("o_orderkey") % 2400).cast("string"), 4, "0")
    return o.select(
        "o_orderkey",
        session_label(
            F.lit("1995-01-01").cast("date"),
            F.col("o_orderdate"),
            F.col("o_orderpriority"),
            hhmm,
        ).alias("label"),
    ).orderBy("o_orderkey")


@register(
    "sessionize_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """,
)
def sessionize_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg (batch shape of the streaming path)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


@register(
    "exists_late_orders",
    """
    SELECT o.o_orderkey, o.o_orderpriority FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > TIMESTAMP '2001-06-01'
    )
    ORDER BY o_orderkey
    """,
)
def exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (TPC-H Q4 shape) — Catalyst decorrelates
    to a left-semi join; written in SQL to exercise the parser path too."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_orderpriority FROM orders_v o
        WHERE EXISTS (
          SELECT 1 FROM lineitem_v l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > TIMESTAMP '2001-06-01'
        )
        ORDER BY o_orderkey
        """
    )


@register(
    "not_exists_quiet_customers",
    """
    SELECT c.c_custkey, c.c_mktsegment FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    ORDER BY c_custkey
    """,
)
def not_exists_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS correlated subquery → left-anti join after decorrelation."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment FROM customer_v c
        WHERE NOT EXISTS (
          SELECT 1 FROM orders_v o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
        )
        ORDER BY c_custkey
        """
    )


@register(
    "pivot_event_values",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS click,
           CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user value totals spread across event-type columns
    (Spark `groupBy().pivot()`; oracle uses the CASE-sum equivalent)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.sum(_dec("value")).cast("double"))
        .orderBy("user_id")
    )


@register(
    "cube_event_metrics",
    """
    SELECT event_type, CAST(year(ts) AS BIGINT) AS yr,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE (event_type, year(ts))
    ORDER BY event_type NULLS FIRST, yr NULLS FIRST
    """,
)
def cube_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets extension (absent in the reference, SURVEY §2.4):
    CUBE over (event_type, year) — subtotal rows carry null keys."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.cube("event_type", F.year("ts").cast("long").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .orderBy(F.col("event_type").asc_nulls_first(), F.col("yr").asc_nulls_first())
    )


@register(
    "count_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (the approx_count_distinct slot —
    exact here so the oracle can verify it bit-for-bit)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "running_total_per_user",
    """
    SELECT event_id,
           CAST(sum(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_value
    FROM events ORDER BY event_id
    """,
)
def running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame spec (rowsBetween) — running decimal-exact total."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", F.sum(_dec("value")).over(w).cast("double").alias("running_value")
    ).orderBy("event_id")


# --------------------------------------------------------------------------- #
# Round-2 oracle coverage: operators previously verified only by pytest
# (VERDICT r01 "What's missing" #2) — J2/U2, J9/U4, J10, F8, P9/P10/P12/P15,
# S6+A4, S8(min_by form), A5.
# --------------------------------------------------------------------------- #


@register(
    "coalesce_enrich_fallback",
    """
    WITH dim AS (
      SELECT c_custkey, c_custkey % 100 AS custmod, c_mktsegment
      FROM customer WHERE c_custkey % 3 <> 0
    ),
    hit AS (
      SELECT o.o_orderkey, o.o_custkey % 100 AS custmod, d.c_mktsegment,
             d.c_custkey IS NOT NULL AS matched
      FROM orders o LEFT JOIN dim d ON d.c_custkey = o.o_custkey
    ),
    fdim AS (SELECT custmod, min(c_mktsegment) AS seg FROM dim GROUP BY custmod)
    SELECT o_orderkey, c_mktsegment AS segment FROM hit WHERE matched
    UNION ALL
    SELECT h.o_orderkey, f.seg AS segment
    FROM hit h LEFT JOIN fdim f USING (custmod) WHERE NOT h.matched
    ORDER BY o_orderkey
    """,
)
def coalesce_enrich_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/U2 — primary-key enrich with fallback-key rescue for the misses,
    union of the two join passes (`custom_etl.py:296-301`). A third of the
    dim is withheld so the fallback path genuinely fires."""
    from ..operators.relational import coalesce_key_enrich

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        (F.col("o_custkey") % 100).alias("custmod"),
    )
    dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select("c_custkey", (F.col("c_custkey") % 100).alias("custmod"), "c_mktsegment")
    )
    return (
        coalesce_key_enrich(o, dim, ["c_custkey"], ["custmod"], ["c_mktsegment"])
        .select("o_orderkey", F.col("c_mktsegment").alias("segment"))
        .orderBy("o_orderkey")
    )


@register(
    "zip_positional_ranks",
    """
    WITH a AS (SELECT n_name, row_number() OVER (ORDER BY n_name) AS rn FROM nation),
    b AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS rn
          FROM customer WHERE c_custkey < 25)
    SELECT a.n_name, b.c_custkey FROM a JOIN b USING (rn) ORDER BY n_name
    """,
)
def zip_positional_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/U4 — positional column-wise concat (pandas ``concat(axis=1)``,
    `custom_etl.py:304`) via the distributed zip (range partition + local
    rank + partition offsets; plan-shape pinned by test)."""
    from ..operators.relational import positional_zip_join

    a = _t(spark, sf_dir, "nation").select("n_name")
    b = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 25).select("c_custkey")
    return positional_zip_join(a, b, ["n_name"], ["c_custkey"]).orderBy("n_name")


@register(
    "map_lookup_segment_code",
    """
    SELECT c_custkey,
           CASE c_mktsegment WHEN 'BUILDING' THEN 'BLD'
                             WHEN 'AUTOMOBILE' THEN 'AUT'
                             WHEN 'MACHINERY' THEN 'MCH'
                             ELSE 'OTH' END AS seg_code
    FROM customer ORDER BY c_custkey
    """,
)
def map_lookup_segment_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 — broadcast dict lookup as a `create_map` literal (the
    diagnosis-mapping JSON, `custom_etl.py:422`); misses default via
    coalesce."""
    from ..operators.relational import map_literal_lookup

    c = _t(spark, sf_dir, "customer")
    mapped = map_literal_lookup(
        c, "c_mktsegment",
        {"BUILDING": "BLD", "AUTOMOBILE": "AUT", "MACHINERY": "MCH"},
        "seg_code",
    )
    return mapped.select(
        "c_custkey", F.coalesce(F.col("seg_code"), F.lit("OTH")).alias("seg_code")
    ).orderBy("c_custkey")


@register(
    "missing_value_split",
    """
    WITH ev AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE props END AS props_n
      FROM events
    )
    SELECT event_type,
           CASE WHEN props_n IS NULL THEN 'missed' ELSE 'matched' END AS side,
           count(*) AS n
    FROM ev GROUP BY event_type, side ORDER BY event_type, side
    """,
)
def missing_value_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — missing-value split: route rows into matched/missed branches
    on field presence (`custom_etl.py:296-301` hit/miss partition), then
    summarize both branches."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "props_n",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("props")),
    )
    matched = ev.filter(F.col("props_n").isNotNull()).withColumn("side", F.lit("matched"))
    missed = ev.filter(F.col("props_n").isNull()).withColumn("side", F.lit("missed"))
    return (
        matched.unionByName(missed)
        .groupBy("event_type", "side")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "side")
    )


@register(
    "scalar_fixups_suite",
    """
    SELECT p_partkey,
           regexp_replace(p_brand || '''' || p_name, '''', '_', 'g') AS cleaned,
           CASE WHEN p_size % 3 = 0 THEN ' ' ELSE p_brand END AS fixed,
           CASE WHEN p_size % 2 = 0 THEN p_name ELSE p_name || ' EST' END AS tz_stripped,
           CASE WHEN p_size % 5 = 0
                THEN try_strptime(p_type, '%Y-%m-%d') IS NOT NULL
                ELSE try_strptime(
                       '20' || lpad(CAST(p_size % 30 + 1 AS VARCHAR), 2, '0')
                            || '-03-' || lpad(CAST(p_size % 28 + 1 AS VARCHAR), 2, '0'),
                       '%Y-%m-%d') IS NOT NULL
           END AS is_dt
    FROM part ORDER BY p_partkey
    """,
)
def scalar_fixups_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/P10/P12/P15 — the remaining scalar fixups as one projection
    suite: quote scrubbing, empty-sentinel fix, tz-suffix strip, is_date
    try-parse (`custom_etl.py:328-330,557,625-682,611-623`)."""
    from ..functions import empty_sentinel_fix, is_date, scrub_quotes, strip_tz_suffix

    p = _t(spark, sf_dir, "part")
    sentinel_src = F.when(F.col("p_size") % 3 == 0, F.lit("[]")).otherwise(F.col("p_brand"))
    tz_src = F.when(
        F.col("p_size") % 2 == 0, F.concat(F.col("p_name"), F.lit(":EDT"))
    ).otherwise(F.concat(F.col("p_name"), F.lit(" EST")))
    date_src = F.when(F.col("p_size") % 5 == 0, F.col("p_type")).otherwise(
        F.concat(
            F.lit("20"),
            F.lpad((F.col("p_size") % 30 + 1).cast("string"), 2, "0"),
            F.lit("-03-"),
            F.lpad((F.col("p_size") % 28 + 1).cast("string"), 2, "0"),
        )
    )
    return p.select(
        "p_partkey",
        scrub_quotes(F.concat(F.col("p_brand"), F.lit("'"), F.col("p_name"))).alias("cleaned"),
        empty_sentinel_fix(sentinel_src).alias("fixed"),
        strip_tz_suffix(tz_src).alias("tz_stripped"),
        is_date(date_src).alias("is_dt"),
    ).orderBy("p_partkey")


@register(
    "csv_dim_roundtrip",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
)
def csv_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A4 — the CSV dimension source end to end: write the nation dim
    out as CSV WITH duplicated rows, read it back through the broadcast
    CSV reader (header, explicit schema, key dedup — duplicates are exact
    row copies, so the dedup pick is deterministic), and verify the round
    trip reproduces the table (`main_pipeline.py:31`,
    `external_data_handling.py:9`)."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..sources.readers import read_broadcast_dim_csv

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    # per-invocation dir: a fixed path would race with a concurrent run of
    # the same catalog (overwrite-while-read)
    out = os.path.join(tempfile.mkdtemp(prefix="csvdim_"), "nation_csv")
    nat.unionByName(nat).coalesce(1).write.mode("overwrite").option(
        "header", "true"
    ).csv(out)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    df = read_broadcast_dim_csv(spark, out, dedup_cols=["n_nationkey"], schema=schema)
    return df.orderBy("n_nationkey")


@register(
    "first_nonnull_minby",
    """
    WITH ev AS (
      SELECT user_id, event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE props END AS props_n,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value_n
      FROM events
    )
    SELECT user_id,
           arg_min(props_n, event_id) FILTER (WHERE props_n IS NOT NULL) AS props_n,
           arg_min(value_n, event_id) FILTER (WHERE value_n IS NOT NULL) AS value_n
    FROM ev GROUP BY user_id ORDER BY user_id
    """,
)
def first_nonnull_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/A3 (min_by form) — first non-null value per group by a
    deterministic order key, as a partial-aggregating min_by (the
    early-exit tag scan, `custom_etl.py:198-239`)."""
    from ..operators.relational import first_non_null_per_group

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn(
            "props_n",
            F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("props")),
        )
        .withColumn(
            "value_n",
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("value")),
        )
    )
    return first_non_null_per_group(
        ev, ["user_id"], ["event_id"], ["props_n", "value_n"]
    ).orderBy("user_id")


@register(
    "ingest_gate_counts",
    """
    SELECT event_type, count(*) AS n, count(*) > 0 AS nonempty
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def ingest_gate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — count/emptiness gating summary (the engine's per-batch gate,
    `cdc/engine.py`; reference `__main__.py:126-127`)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), (F.count(F.lit(1)) > 0).alias("nonempty"))
        .orderBy("event_type")
    )


@register(
    "map_props_filtered",
    """
    SELECT event_id, k AS key, val FROM (
      SELECT event_id, 'k' AS k, json_extract_string(props, '$.k') AS val FROM events
      UNION ALL SELECT event_id, 'user', CAST(user_id AS VARCHAR) FROM events
      UNION ALL SELECT event_id, 'etype', event_type FROM events
    ) ORDER BY event_id, k
    """,
)
def map_props_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 map surface — the sidecar-map pipeline end to end: parse the
    JSON props into map<string,string> (`from_json`), enrich via
    `map_concat`, drop blocklisted keys via `map_filter` (the reference's
    sidecar-key deletion, `custom_etl.py:340-359`), and explode to sorted
    (key, value) rows the oracle can hash."""
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    m0 = F.from_json(F.col("props"), T.MapType(T.StringType(), T.StringType()))
    m = F.map_concat(
        m0,
        F.create_map(
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("secret"), F.lit("s3cr3t"),
            F.lit("etype"), F.col("event_type"),
        ),
    )
    mf = F.map_filter(m, lambda k, _v: ~k.isin("secret", "password"))
    return (
        ev.select("event_id", F.explode(mf).alias("key", "val"))
        .orderBy("event_id", "key")
    )


@register(
    "corpus_hash_split",
    """
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE
               WHEN ('0x' || substring(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 < 0.8 THEN 'train'
               WHEN ('0x' || substring(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 < 0.9 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n, min(doc_id) AS min_doc
    FROM assigned GROUP BY lang, split ORDER BY lang, split
    """,
)
def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus staple: leakage-safe deterministic train/val/test
    split by key hash (stable under repartitioning; no Bernoulli row-order
    dependence), summarized per language."""
    d = _t(spark, sf_dir, "documents")
    split = text.hash_split(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
        .orderBy("lang", "split")
    )


_REACH_CTES = (
    _shingle_cte(3).replace("WITH w AS", "WITH RECURSIVE w AS")
    + """,
  sig AS (
    SELECT doc_id,
           """
    + ",\n           ".join(f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8))
    + """
    FROM shn GROUP BY doc_id
  ),
  bands AS (
    SELECT doc_id, concat_ws('|', '0', h0, h1) AS band_key FROM sig
    UNION ALL SELECT doc_id, concat_ws('|', '1', h2, h3) FROM sig
    UNION ALL SELECT doc_id, concat_ws('|', '2', h4, h5) FROM sig
    UNION ALL SELECT doc_id, concat_ws('|', '3', h6, h7) FROM sig
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  ),
  edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL SELECT id_b, id_a FROM pairs
  ),
  verts AS (SELECT DISTINCT src AS v FROM edges),
  reach(v, l) AS (
    SELECT v, v FROM verts
    UNION
    SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v WHERE r.l < e.dst
  )"""
)

_COMPONENTS_SQL = (
    _REACH_CTES
    + """
  SELECT v AS doc_id, min(l) AS component FROM reach GROUP BY v ORDER BY doc_id
"""
)


@register("dedup_components", _COMPONENTS_SQL)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster extraction: MinHash-LSH candidate pairs folded
    into connected components by iterative min-label propagation (the
    unique fixpoint is oracle-checked against a recursive-CTE
    reachability query). The training-data use: keep min-id doc per
    component, drop the rest."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, bands=4)
    comp = dedup.connected_components(pairs)
    return comp.select(
        F.col("v").alias("doc_id"), F.col("label").alias("component")
    ).orderBy("doc_id")


_CANONICAL_SQL = (
    _REACH_CTES
    + """,
  comp AS (SELECT v AS doc_id, min(l) AS component FROM reach GROUP BY v),
  ranked AS (
    SELECT c.component, c.doc_id, length(d.text) AS quality,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY length(d.text) DESC, c.doc_id ASC) AS rn
    FROM comp c JOIN documents d USING (doc_id)
  )
  SELECT component, doc_id, quality,
         CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
  FROM ranked ORDER BY component, doc_id
"""
)


@register("dedup_cluster_canonical", _CANONICAL_SQL)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation step AFTER cluster extraction: per duplicate cluster,
    keep the best-quality document (here: longest text, deterministic
    min-id tie-break) and mark the rest for dropping — the decision a
    training-data pipeline actually executes. Window is per-component
    (clusters are band-bounded, so partitions stay small)."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, bands=4)
    comp = dedup.connected_components(pairs)
    docs = d.select("doc_id", F.length("text").cast("long").alias("quality"))
    return (
        dedup.cluster_canonical(comp, docs, "doc_id", "quality")
        .select("component", "doc_id", "quality", "keep")
        .orderBy("component", "doc_id")
    )


_CONTAM_SQL = (
    _shingle_cte(4)
    + """,
  ev AS (SELECT DISTINCT shingle FROM shn WHERE doc_id % 97 = 0),
  tr AS (SELECT doc_id, shingle FROM shn WHERE doc_id % 97 <> 0),
  tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
  shr AS (SELECT tr.doc_id, count(*) AS n_shared
          FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id)
  SELECT t.doc_id, t.n_shingles, s.n_shared
  FROM tot t JOIN shr s USING (doc_id)
  ORDER BY doc_id
"""
)


@register("corpus_contamination", _CONTAM_SQL)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: train docs sharing distinct word
    4-gram shingles with the eval split (deterministic ``doc_id % 97``
    membership; real pipelines use longer n-grams — fixture texts are
    short). Integer-only counts so the oracle replays exactly;
    downstream thresholds ``n_shared / n_shingles``."""
    d = _t(spark, sf_dir, "documents")
    return dedup.contamination_counts(
        d, "doc_id", "text", F.col("doc_id") % 97 == 0, n=4
    ).orderBy("doc_id")


@register(
    "event_gap_stats",
    """
    WITH g AS (
      SELECT user_id, event_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           count(gap_us) AS n_gaps,
           min(gap_us) AS min_gap_us,
           max(gap_us) AS max_gap_us,
           sum(gap_us)::BIGINT AS total_gap_us
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gap analysis per user — integer-microsecond
    arithmetic (timezone-independent on TIMESTAMP_NTZ) so the oracle
    comparison is exact."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    g = ev.select("user_id", "event_id", (us - F.lag(us).over(w)).alias("gap_us"))
    return (
        g.groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_us").alias("total_gap_us"),
        )
        .orderBy("user_id")
    )


@register(
    "rollup_revenue",
    """
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(n.n_name, 'ALL') AS nation,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders,
           grouping(r.r_name)::BIGINT * 2 + grouping(n.n_name)::BIGINT AS lvl
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY lvl, region, nation
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total) with
    grouping() level markers; sums decimal-exact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
    )
    lvl = (F.grouping("r_name").cast("long") * 2 + F.grouping("n_name").cast("long"))
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.sum(_dec("o_totalprice", 14, 2)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            lvl.alias("lvl"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
            "lvl",
        )
        .orderBy("lvl", "region", "nation")
    )


@register(
    "text_repetition_filter",
    """
    WITH lines AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
    ),
    nb AS (SELECT doc_id, line FROM lines WHERE length(trim(line)) > 0),
    st AS (
      SELECT doc_id,
             count(*) AS n_lines,
             count(DISTINCT line) AS n_distinct
      FROM nb GROUP BY doc_id
    )
    SELECT doc_id, n_lines, n_distinct,
           CAST(round(1.0 - n_distinct / n_lines, 6) AS DOUBLE) AS dup_line_ratio,
           (1.0 - n_distinct / n_lines) > 0.3 AS flagged
    FROM st ORDER BY doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule: duplicate-line fraction per
    document (training corpora drop boilerplate-heavy docs above a
    threshold). Pure codegen: split → explode → two counts."""
    d = _t(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
    ).filter(F.length(F.trim("line")) > 0)
    st = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("line").alias("n_distinct"),
    )
    ratio = F.lit(1.0) - F.col("n_distinct") / F.col("n_lines")
    return st.select(
        "doc_id",
        "n_lines",
        "n_distinct",
        F.round(ratio, 6).cast("double").alias("dup_line_ratio"),
        (ratio > 0.3).alias("flagged"),
    ).orderBy("doc_id")


@register(
    "media_resize_dims",
    """
    WITH img AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0),
    d AS (
      SELECT media_id,
             16 + ('0x' || substring(sha256(text), 1, 2))::INT AS width,
             16 + ('0x' || substring(sha256(text), 3, 2))::INT AS height
      FROM img
    )
    SELECT media_id, width, height,
           CASE WHEN greatest(width, height) <= 64 THEN width
                ELSE (width * 64 // greatest(width, height))::INT END AS out_width,
           CASE WHEN greatest(width, height) <= 64 THEN height
                ELSE (height * 64 // greatest(width, height))::INT END AS out_height
    FROM d ORDER BY media_id
    """,
)
def media_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal RESIZE stage: stub decode (deterministic dims from the
    payload digest — no codecs in this container), exact-integer scaling
    to max side 64 inside the Arrow batch; the SQL oracle replays the
    identical arithmetic, so the whole mapInPandas pipeline is verified."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(d, "doc_id", "text")
    return multimodal.resize_images(media, max_side=64).orderBy("media_id")


@register(
    "media_frame_samples",
    """
    WITH vid AS (
      SELECT doc_id AS media_id, text, (strlen(text) // 64)::BIGINT AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    ),
    fr AS (
      SELECT media_id, text, unnest(range(0, n_frames, 10))::BIGINT AS frame_idx
      FROM vid WHERE n_frames > 0
    )
    SELECT media_id, frame_idx, frame_idx * 64 AS byte_offset,
           sha256(substring(text, (frame_idx * 64 + 1)::INT, 64)) AS frame_sha
    FROM fr ORDER BY media_id, frame_idx
    """,
)
def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal FRAME-SAMPLE stage: stub demux over fixed-size frames,
    every 10th frame emitted with its byte offset and content hash — the
    one-row-fans-out-to-many Arrow batch shape a real demuxer needs. The
    corpus is ASCII, so byte slices == character slices and the SQL
    oracle verifies per-frame content hashes, not just offsets."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.synthesize_media(d, "doc_id", "text")
    return multimodal.sample_frames(media, frame_bytes=64, step=10).orderBy(
        "media_id", "frame_idx"
    )


@register(
    "median_value_by_type",
    """
    WITH r AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, value AS median_value, n AS n_events
    FROM r WHERE rn = (n + 1) // 2
    ORDER BY event_type
    """,
)
def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistic (lower median) per group via rank selection —
    no interpolation arithmetic, so the picked value is an exact copy of
    a table cell and hashes identically cross-engine. The distributed
    shape: one window over the group key, rank filter."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc(), F.col("event_id").asc())
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        r.filter(F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        .select(
            "event_type",
            F.col("value").alias("median_value"),
            F.col("n").alias("n_events"),
        )
        .orderBy("event_type")
    )


_TOKEN_SQL = (
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"
)


def _seq_packing_sql(budget: int = 512, n_shards: int = 4) -> str:
    # replays pack_sequences' greedy loop as a recursive CTE: per shard,
    # rows in doc_id order fold (acc, bin) with the identical
    # overflow-starts-new-bin rule
    shard = (
        "('0x' || substring(md5('shard-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
        f" % {n_shards}"
    )
    return f"""
  WITH RECURSIVE d AS MATERIALIZED (
    -- MATERIALIZED is load-bearing: without it DuckDB re-evaluates the
    -- md5 + regexp_split tokenization once per recursion step (36.7 s at
    -- sf0.1 vs ~1 s materialized)
    SELECT doc_id, {shard} AS shard, COALESCE({_TOKEN_SQL}, 0) AS n_tokens,
           row_number() OVER (PARTITION BY {shard} ORDER BY doc_id) AS rn
    FROM documents
  ),
  pack AS (
    SELECT doc_id, shard, n_tokens, rn, n_tokens AS acc, CAST(0 AS BIGINT) AS bin
    FROM d WHERE rn = 1
    UNION ALL
    SELECT d.doc_id, d.shard, d.n_tokens, d.rn,
           CASE WHEN p.acc + d.n_tokens > {budget} THEN d.n_tokens
                ELSE p.acc + d.n_tokens END,
           CASE WHEN p.acc + d.n_tokens > {budget} THEN p.bin + 1 ELSE p.bin END
    FROM d JOIN pack p ON d.shard = p.shard AND d.rn = p.rn + 1
  )
  SELECT shard, bin, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         min(doc_id) AS first_doc
  FROM pack GROUP BY shard, bin ORDER BY shard, bin
"""


@register("seq_packing", _seq_packing_sql())
def seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-training sequence packing: greedy fixed-token-budget bin
    packing of the corpus, parallelized as n_shards independent
    sequential streams (deterministic md5 shard hash; one shuffle, a
    streaming mapInPandas fold per shard — see `text.pack_sequences`). The oracle
    replays the greedy fold as a recursive CTE. Summarized per
    (shard, bin) so the result pins every bin boundary."""
    d = _t(spark, sf_dir, "documents")
    # r6: fan_out — the tokenize + md5-shard projection otherwise runs
    # inside the 1-split scan stage (the fold itself stays n_shards-wide,
    # fixed by the shard hash semantics)
    packed = text.pack_sequences(fan_out(d.select("doc_id", "text")), budget=512, n_shards=4)
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard", "bin")
    )


_STRAT_RATES = {"en": 0.25, "fr": 0.5, "de": 0.5}


#: DuckDB replica of `text._hash_uniform(doc_id, "strat-v1")` — ONE
#: definition for every stratified-sampling oracle so a reseed cannot
#: desynchronize them
_STRAT_UNIFORM_SQL = (
    "('0x' || substring(md5('strat-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT / 4294967296.0"
)


def _stratified_sample_sql() -> str:
    u = _STRAT_UNIFORM_SQL
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _STRAT_RATES.items()
    )
    return f"""
  WITH kept AS (
    SELECT doc_id, lang
    FROM documents
    WHERE {u} < (CASE {cases} ELSE 1.0 END)
  )
  SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM kept GROUP BY lang ORDER BY lang
"""


@register("corpus_stratified_sample", _stratified_sample_sql())
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation: deterministic per-language subsampling
    (downweight over-represented languages) via the md5-uniform keep
    rule — stable under repartitioning, no Bernoulli row-order
    dependence; rare languages pass through at rate 1.0."""
    d = _t(spark, sf_dir, "documents")
    keep = text.stratified_keep(
        F.col("doc_id"), F.col("lang"), _STRAT_RATES, default_rate=1.0
    )
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@register(
    "lang_confusion",
    f"""
    WITH r AS ({_lang_ratio_cte(", lang")})
    SELECT lang, {_lang_pred_case()} AS lang_pred, count(*) AS n
    FROM r GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation QA: confusion counts of TEXT-derived language vs the
    trusted `lang` column. On the synthetic fixtures every text carries
    only English stopwords, so the matrix collapses to en/unk per label —
    data-bounded, documented in `text.lang_id`; genuinely multilingual
    text fills the diagonal (pinned by unit tests)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", text.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _stratified_derived_sql() -> str:
    u = _STRAT_UNIFORM_SQL
    cases = " ".join(
        f"WHEN lang_pred = '{k}' THEN {v}" for k, v in _STRAT_RATES.items()
    )
    return f"""
  WITH r AS ({_lang_ratio_cte()}),
  pred AS (
    SELECT doc_id, {_lang_pred_case()} AS lang_pred FROM r
  ),
  kept AS (
    SELECT doc_id, lang_pred FROM pred
    WHERE {u} < (CASE {cases} ELSE 1.0 END)
  )
  SELECT lang_pred, count(*) AS n_kept, min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM kept GROUP BY lang_pred ORDER BY lang_pred
"""


@register("corpus_stratified_sample_derived", _stratified_derived_sql())
def corpus_stratified_sample_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling composed with TEXT-derived language instead of
    the trusted `lang` column — the shape a curation pipeline without
    label metadata runs (classify, then downweight). Same deterministic
    md5-uniform keep rule; strata come from `text.lang_id`."""
    d = _t(spark, sf_dir, "documents")
    pred = d.select(
        "doc_id", text.lang_id(F.col("text")).alias("lang_pred")
    )
    keep = text.stratified_keep(
        F.col("doc_id"), F.col("lang_pred"), _STRAT_RATES, default_rate=1.0
    )
    return (
        pred.filter(keep)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang_pred")
    )


@register(
    "corpus_domain_cap",
    """
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('domcap-v1|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT source, doc_id, rk FROM ranked WHERE rk <= 10
    ORDER BY source, doc_id
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping: at most 10 docs per source, picked in
    deterministic md5 order — bounds heavy-tail domains' absolute count
    (the complement of rate-based stratified sampling). The rank<=k
    filter compiles to a map-side WindowGroupLimit, so no single task
    ever sorts a whole mega-domain."""
    d = _t(spark, sf_dir, "documents")
    return (
        text.domain_cap(d, "doc_id", "source", k=10)
        .select("source", "doc_id", "rk")
        .orderBy("source", "doc_id")
    )


def _curation_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _STRAT_RATES.items()
    )
    return f"""
  WITH q AS MATERIALIZED (
    SELECT doc_id, lang, source, text,
           {_Q_TOKENS_SQL} AS n_tokens, {_Q_MWL_SQL} AS mwl, {_Q_PUNCT_SQL} AS pr
    FROM documents
  ),
  ok AS (
    SELECT doc_id, lang, source, text, n_tokens FROM q
    WHERE n_tokens >= 10 AND mwl >= 2 AND mwl <= 12 AND pr <= 0.3
  ),
  ded AS (
    SELECT * FROM (
      SELECT ok.*, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM ok
    ) WHERE doc_id = rep
  ),
  capped AS (
    SELECT * FROM (
      SELECT ded.*,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('domcap-v1|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM ded
    ) WHERE rk <= 20
  ),
  kept AS (
    SELECT * FROM capped WHERE {_STRAT_UNIFORM_SQL} < (CASE {cases} ELSE 1.0 END)
  )
  SELECT lang, count(*) AS n_kept,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM kept GROUP BY lang ORDER BY lang
"""


@register("corpus_curation_pipeline", _curation_sql())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel a pretraining-data pipeline runs
    over `documents`, as ONE composed job: quality gate
    (`text.quality_features`' C4/Gopher rules) → exact-dedup
    keep-canonical (`dedup.exact_keep_canonical`) → per-source quota cap
    (`text.domain_cap`, k=20) → per-language stratified downsample
    (`text.stratified_keep`), summarized per language. Every stage is
    deterministic (shared md5 rules), so the DuckDB oracle replays the
    whole funnel byte-for-byte — the composition pin on top of the four
    stages' individual oracles.

    Scale shape: the quality gate and the sampling filter are map-only;
    dedup is one min-over-window hash shuffle (no self-join back); the
    cap's rank<=k compiles to a map-side WindowGroupLimit so a
    mega-source never sorts in one task; the final rollup is a partial
    aggregation over the (tiny) survivor set."""
    d = _t(spark, sf_dir, "documents")
    feats = text.quality_features(d, "text").filter(F.col("quality_ok"))
    ded = dedup.exact_keep_canonical(feats, "doc_id", "text")
    capped = text.domain_cap(ded, "doc_id", "source", k=20)
    kept = capped.filter(
        text.stratified_keep(
            F.col("doc_id"), F.col("lang"), _STRAT_RATES, default_rate=1.0
        )
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_pii_scan",
    """
    WITH dirty AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact: u' || doc_id || '@ex.org' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' call (212) 555-0187' ELSE '' END AS t
      FROM documents
    ), counts AS (
      SELECT doc_id,
        len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS email,
        len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS ssn,
        len(regexp_extract_all(t, '\\b(\\+?1[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b')) AS phone
      FROM dirty
    )
    SELECT category,
           CAST(matches AS BIGINT) AS matches,
           CAST(docs AS BIGINT) AS docs
    FROM (
      SELECT 'email' AS category, sum(email) AS matches,
             count(CASE WHEN email > 0 THEN 1 END) AS docs FROM counts
      UNION ALL
      SELECT 'phone', sum(phone), count(CASE WHEN phone > 0 THEN 1 END) FROM counts
      UNION ALL
      SELECT 'ssn', sum(ssn), count(CASE WHEN ssn > 0 THEN 1 END) FROM counts
    )
    ORDER BY category
    """,
)
def corpus_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII DETECTION metrics (the measurement half of the deid pipeline —
    scrubbing is verified by `scrub_content_native`; this counts what a
    scanner would flag). The fixtures are clean, so both engines inject
    the same deterministic PII (doc_id-derived emails/SSNs/phones) and
    must then agree on per-category match and document counts — a
    cross-engine pin of the regex dialect itself. Map-side counting;
    the one shuffle is the tiny 3-row aggregate."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" contact: u"), did.cast("string"), F.lit("@ex.org")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" ssn 123-45-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit(" call (212) 555-0187")).otherwise(F.lit("")),
    )
    pats = {
        "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
        "phone": r"\b(\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b",
    }
    counts = d.select(
        *[
            F.size(F.regexp_extract_all(dirty, F.lit(p), 0)).alias(c)
            for c, p in pats.items()
        ]
    )
    parts = [
        counts.agg(
            F.lit(c).alias("category"),
            F.sum(c).cast("long").alias("matches"),
            F.count(F.when(F.col(c) > 0, 1)).cast("long").alias("docs"),
        )
        for c in pats
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("category")


@register(
    "corpus_chunking",
    """
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0
    ), sized AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) <= 64 THEN 1
                  ELSE 1 + CAST(ceil((len(tk) - 64) / 48.0) AS INT) END AS nc
      FROM base
    ), exploded AS (
      SELECT doc_id, tk, unnest(range(0, nc)) AS chunk_id FROM sized
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(tk[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT) AS n_tokens,
           md5(array_to_string(tk[chunk_id*48+1 : chunk_id*48+64], ' ')) AS chunk_hash
    FROM exploded
    ORDER BY doc_id, chunk_id
    """,
)
def corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (`text.chunk_documents`): every document
    split into 64-token windows with 16-token overlap, one row per
    chunk, chunk text md5-hashed so the oracle compares exact content
    cross-engine. Map-only fan-out — the one shuffle is the final sort."""
    d = _t(spark, sf_dir, "documents")
    ch = text.chunk_documents(d, "doc_id", "text", budget=64, overlap=16)
    return ch.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


@register(
    "corpus_top_bigrams",
    """
    WITH words AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT ws[i] || ' ' || ws[i + 1] AS bigram
      FROM words, unnest(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (tokenizer/BPE-merge prep): the top
    20 word bigrams by frequency. Pure codegen — `zip_with` pairs each
    word with its successor array-side (no self-join), the explode feeds
    a partially-aggregating groupBy (map-side combine collapses each
    task's counts before the shuffle), and the top-k is a
    TakeOrderedAndProject, so at 100 TB the shuffled data is one row per
    DISTINCT bigram per task and only 20 rows reach the driver. Tie
    order is total (count desc, bigram asc)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = d.select(
        F.filter(F.split("text", " "), lambda w: w != F.lit("")).alias("ws")
    )
    n = F.size("ws")
    bigrams = words.filter(n >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n - 1),
                F.slice("ws", 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@register(
    "tfidf_top_terms",
    """
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM words GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM words GROUP BY term
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM words),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(round(CAST(tf.tf * n.n_docs AS DOUBLE) / df.df, 6) AS DOUBLE) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term
             ) AS rk
      FROM scored
    )
    SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by raw TF-IDF
    (score = tf * N / df — the log-free variant keeps the oracle
    float-exact: one bigint product, one IEEE division, identical in
    both engines). Shape at 100 TB (r6, VERDICT r5 #3): the tf agg
    partially aggregates before its shuffle and is materialized ONCE
    (`shared`) — df and N are then derived from tf (tf already holds one
    row per (doc, term), so count-per-term == count distinct doc) instead
    of three independent re-executions of the token explode; the df side
    joins back by a SHUFFLE hash join on `term` — never a broadcast: df
    is one row per DISTINCT CORPUS TERM, unbounded on a 100 TB corpus
    (code identifiers), so r5's forced broadcast was the scale-killer.
    N stays a one-row broadcast cross join; the rank<=3 window compiles
    to a map-side WindowGroupLimit. No driver collection anywhere."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    terms = fan_out(d.select("doc_id", "text")).select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).alias("term"),
    )
    tf = shared(terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = tf.join(df.hint("shuffle_hash"), "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.round(
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"), 6
        ).cast("double").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "score", "rk")
        .orderBy("doc_id", "rk")
    )

"""Named query registry: the driver contract surface.

Each entry pairs a Spark DataFrame query (spark, sf_dir) -> DataFrame
with (where SQL-expressible) an ANSI-SQL oracle that DuckDB runs over
the same parquet tables. Column names AND value representations are
kept identical on both sides:

- every aggregate/computed column is aliased the same in both;
- double-valued outputs are rounded (4-6 decimals) on BOTH sides so
  summation-order float noise can't break the value hash;
- year()/count() outputs are cast to fixed widths where the two
  engines' natural types differ.

Queries map 1:1 to SURVEY.md §2 operator rows (noted per entry).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import STOPWORDS, normalize, tokenize
from .operators import relational as R
from .sources.catalog import load_table

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark_fn, oracle_sql) pair."""

    def deco(fn):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_STOPWORDS_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7 phase 0): scan + broadcast join + explode + agg
# + sort + limit in one query — the A1-task2 shape (reference
# Assignment1/task2.py:26-43) on testdata. The oracle is shared with
# solo_flagship_parity (S10): the no-Spark twin must agree with the
# exact same SQL ground truth.
# ---------------------------------------------------------------------------
_FLAGSHIP_ORACLE = """
    SELECT category,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           COUNT(*) AS n
    FROM (
        SELECT UNNEST(string_split(p.p_type, ' ')) AS category,
               l.l_extendedprice
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    GROUP BY category
    ORDER BY avg_price DESC, category ASC
    LIMIT 10
    """


@query("flagship_category_avg", _FLAGSHIP_ORACLE)
def flagship_category_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avg extended price per part-type token, top-10.

    Part is a dimension → broadcast join (no shuffle of lineitem);
    explode of the split tokens stays in codegen; TakeOrderedAndProject
    caps the sort at k rows per partition.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(
            F.explode(F.split("p_type", " ")).alias("category"),
            "l_extendedprice",
        )
        .groupBy("category")
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.col("avg_price").desc(), F.col("category").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A1 + A2 + A3 (+F3) in one multi-metric row (r16 verdict task 8:
# roster consolidation — the former count_global / count_by_year /
# distinct_users trivia counters, r15-green since their debut, merged
# into one oracle row with identical operator evidence). Each metric
# is still computed by its own relational helper (count_rows /
# count_by / distinct_count — reference Assignment1/task1.py:18-29),
# then union'd into (metric, k, n); the year-keyed metric carries its
# key in k, the global metrics carry NULL.
# ---------------------------------------------------------------------------
@query(
    "basic_count_stats",
    """
    SELECT 'count_by_year' AS metric, CAST(year(o_orderdate) AS INTEGER) AS k,
           COUNT(*) AS n
    FROM orders GROUP BY 2
    UNION ALL
    SELECT 'count_global', NULL, COUNT(*) FROM lineitem
    UNION ALL
    SELECT 'distinct_users', NULL, COUNT(DISTINCT o_custkey) FROM orders
    ORDER BY metric, k
    """,
)
def basic_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    null_k = F.lit(None).cast("int")
    by_year = R.count_by(
        orders.select(F.year("o_orderdate").alias("yr")), "yr"
    ).select(
        F.lit("count_by_year").alias("metric"),
        F.col("yr").cast("int").alias("k"),
        "n",
    )
    glob = R.count_rows(lineitem).select(
        F.lit("count_global").alias("metric"), null_k.alias("k"), "n"
    )
    dist = R.distinct_count(orders, "o_custkey", alias="n").select(
        F.lit("distinct_users").alias("metric"), null_k.alias("k"), "n"
    )
    return by_year.unionByName(glob).unionByName(dist).orderBy("metric", "k")


# ---------------------------------------------------------------------------
# O1+O3: top-k by count, ties key-ascending (reference
# Assignment1/task1.py:32; tie rule A1 PDF §4.1.3)
# ---------------------------------------------------------------------------
@query(
    "top_users_by_orders",
    """
    SELECT o_custkey, COUNT(*) AS n
    FROM orders GROUP BY o_custkey
    ORDER BY n DESC, o_custkey ASC LIMIT 10
    """,
)
def top_users_by_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_k_by_count(load_table(spark, sf_dir, "orders"), "o_custkey", 10)


# ---------------------------------------------------------------------------
# A4: algebraic average per key (reference Assignment1/task2.py:37-43)
# ---------------------------------------------------------------------------
@query(
    "avg_price_by_priority",
    """
    SELECT o_orderpriority, ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def avg_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# A7+F1+F4: word count with normalization + stopword filter
# (reference Assignment1/task1.py:40-53)
# ---------------------------------------------------------------------------
@query(
    "word_count_top20",
    f"""
    SELECT word, COUNT(*) AS n
    FROM (
        SELECT UNNEST(string_split_regex(translate(lower(text), '([,.!?:;])', ''), '\\s+')) AS word
        FROM documents
    )
    WHERE word <> '' AND word NOT IN {_STOPWORDS_SQL}
    GROUP BY word
    ORDER BY n DESC, word ASC LIMIT 20
    """,
)
def word_count_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        R.word_count(docs, "text", stopwords=STOPWORDS)
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# J1+P3: left outer join + null filter (reference Assignment1/task2.py:34)
# ---------------------------------------------------------------------------
@query(
    "join_filter_brand_counts",
    """
    SELECT p.p_brand, COUNT(*) AS n,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type IS NOT NULL
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def join_filter_brand_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        lineitem.join(
            F.broadcast(part), lineitem.l_partkey == part.p_partkey, "left"
        )
        .where(F.col("p_type").isNotNull())
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# A5: basket build — key → sorted distinct item list, serialized to a
# string so hashing is representation-stable (reference
# Assignment2/task1.py:28-35)
# ---------------------------------------------------------------------------
@query(
    "baskets_by_customer",
    """
    SELECT o.o_custkey,
           array_to_string(list_sort(list(DISTINCT CAST(l.l_partkey AS VARCHAR))), ',') AS items,
           COUNT(DISTINCT l.l_partkey) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_custkey
    ORDER BY o.o_custkey
    """,
)
def baskets_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    joined = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
    # ONE set aggregate: items and n_items both derive from the same
    # collect_set — a separate countDistinct would force a second
    # distinct-expand pass through the aggregation (measured 15.4 s vs
    # ~5 s at sf0.1).
    return (
        joined.groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_set(F.col("l_partkey").cast("string"))).alias(
                "_set"
            )
        )
        .select(
            "o_custkey",
            F.concat_ws(",", "_set").alias("items"),
            F.size("_set").cast("long").alias("n_items"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# J3+J6: co-occurrence theta-join as equi-join + HAVING (reference's
# O(V^2) driver loop, Assignment4/task1.py:32-47, made distributed)
# ---------------------------------------------------------------------------
@query(
    "cooccurrence_pairs",
    """
    WITH base AS (
        SELECT DISTINCT o.o_custkey AS k, l.l_partkey AS i
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT a.k AS u1, b.k AS u2, COUNT(*) AS n_shared
    FROM base a JOIN base b ON a.i = b.i AND a.k < b.k
    GROUP BY u1, u2
    HAVING COUNT(*) >= 3
    ORDER BY u1, u2
    """,
)
def cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("k"), F.col("l_partkey").alias("i")
    )
    return (
        R.co_occurrence_pairs(pairs, "k", "i", min_shared=3, left_alias="u1", right_alias="u2")
        .orderBy("u1", "u2")
    )


# ---------------------------------------------------------------------------
# §2.5/A14: tie-aware top-k per group via dense_rank (reference
# Assignment6/task3.py:86-97 keeps all ties)
# ---------------------------------------------------------------------------
@query(
    "top_customers_per_segment",
    """
    SELECT c_mktsegment, c_custkey, total, rnk
    FROM (
        SELECT c.c_mktsegment, c.c_custkey,
               ROUND(SUM(o.o_totalprice), 2) AS total,
               CAST(DENSE_RANK() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY ROUND(SUM(o.o_totalprice), 2) DESC
               ) AS INTEGER) AS rnk
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, c.c_custkey
    )
    WHERE rnk <= 3
    ORDER BY c_mktsegment, rnk, c_custkey
    """,
)
def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    totals = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("total").desc())
    return (
        totals.withColumn("rnk", F.dense_rank().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", "total", "rnk")
        .orderBy("c_mktsegment", "rnk", "c_custkey")
    )


# ---------------------------------------------------------------------------
# §2.7: relational INTERSECT (free in the engine; absent in reference)
# ---------------------------------------------------------------------------
@query(
    "customers_in_both_statuses",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_custkey
    """,
)
def customers_in_both_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# A15 (CF building block): Pearson correlation per group.
# Deterministic suffstat formulation (r10 verdict task 1, same scheme
# as operators/recommend): l_quantity is integer-valued and
# l_extendedprice exactly 2-dp, so ×100 gives exact BIGINTs; the six
# integer sufficient statistics are order-independent and the closed
# form + floor-quantization is the identical IEEE tree on both
# engines. Pearson r is invariant under per-column affine scaling, so
# the ×100 drops out. (corr()/covar_samp aggregation is float-order
# dependent — the cf_item_similarities r10 flake class.)
# ---------------------------------------------------------------------------
@query(
    "corr_qty_price_by_flag",
    """
    WITH l2 AS (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity * 100.0) AS BIGINT) AS x6,
               CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS y6
        FROM lineitem
    ),
    ps AS (
        SELECT l_returnflag, COUNT(*) AS n_co,
               SUM(x6) AS sx, SUM(y6) AS sy,
               SUM((x6 * y6) >> 26) AS sxy_hi, SUM((x6 * y6) & 67108863) AS sxy_lo,
               SUM((x6 * x6) >> 26) AS sxx_hi, SUM((x6 * x6) & 67108863) AS sxx_lo,
               SUM((y6 * y6) >> 26) AS syy_hi, SUM((y6 * y6) & 67108863) AS syy_lo,
               MIN(x6) AS mna, MAX(x6) AS mxa,
               MIN(y6) AS mnb, MAX(y6) AS mxb
        FROM l2 GROUP BY 1
    ),
    pf AS (
        SELECT l_returnflag, mna, mxa, mnb, mxb,
               CAST(n_co AS DOUBLE) * (CAST(sxy_hi AS DOUBLE) * 67108864.0 + CAST(sxy_lo AS DOUBLE))
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
               CAST(n_co AS DOUBLE) * (CAST(sxx_hi AS DOUBLE) * 67108864.0 + CAST(sxx_lo AS DOUBLE))
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
               CAST(n_co AS DOUBLE) * (CAST(syy_hi AS DOUBLE) * 67108864.0 + CAST(syy_lo AS DOUBLE))
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        FROM ps
    )
    SELECT l_returnflag,
           CASE WHEN mna <> mxa AND mnb <> mxb AND vx > 0.0 AND vy > 0.0
                THEN FLOOR(cov / (sqrt(vx) * sqrt(vy))
                           * 1000000.0 + 0.5) / 1000000.0
           END AS r
    FROM pf ORDER BY l_returnflag
    """,
)
def corr_qty_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recommend import _pearson_sim, _pearson_suffstat_aggs

    lineitem = load_table(spark, sf_dir, "lineitem")
    scaled = lineitem.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * F.lit(100.0)).cast("long").alias("_xa"),
        F.round(F.col("l_extendedprice") * F.lit(100.0))
        .cast("long")
        .alias("_xb"),
    )
    return (
        scaled.groupBy("l_returnflag")
        .agg(*_pearson_suffstat_aggs())
        .select("l_returnflag", _pearson_sim().alias("r"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# F5+F3+F15: scalar function showcase — JSON extraction, year,
# formatted timestamp (reference Assignment6/task2.py:44-46 JSON pluck;
# Assignment1/task1.py:18 year slice)
# ---------------------------------------------------------------------------
@query(
    "event_props_extract",
    """
    SELECT event_id,
           CAST(year(ts) AS INTEGER) AS yr,
           strftime(ts, '%Y-%m-%d') AS day,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    WHERE event_type = 'click'
    ORDER BY event_id
    """,
)
def event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("event_type") == "click")
        .select(
            "event_id",
            F.year("ts").alias("yr"),
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# P6+U1: membership predicate + bag union (reference stopword filter
# Assignment1/task1.py:52; RS∪unassigned union Assignment5/bfr.py:371)
# ---------------------------------------------------------------------------
@query(
    "union_filtered_event_counts",
    """
    SELECT event_type, COUNT(*) AS n FROM (
        SELECT event_type FROM events WHERE event_type IN ('click', 'view')
        UNION ALL
        SELECT event_type FROM events WHERE value > 100.0
    )
    GROUP BY event_type ORDER BY event_type
    """,
)
def union_filtered_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    a = events.where(F.col("event_type").isin("click", "view")).select("event_type")
    b = events.where(F.col("value") > 100.0).select("event_type")
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# §2.7: relational EXCEPT
# ---------------------------------------------------------------------------
@query(
    "customers_never_final",
    """
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_custkey
    """,
)
def customers_never_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select("o_custkey").distinct()
    b = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b.distinct()).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Grouping-sets capability (absent in reference; free via Catalyst):
# ROLLUP subtotals — TPC-H Q1 shape with hierarchy totals
# ---------------------------------------------------------------------------
@query(
    "rollup_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Pivot capability — status × priority counts as fixed columns
# ---------------------------------------------------------------------------
@query(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
        .withColumnsRenamed({"O": "status_o", "F": "status_f", "P": "status_p"})
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Dictionary-encoding utility (SURVEY §4: replaces the reference's
# driver-side list.index at Assignment3/task1.py:23-25)
# ---------------------------------------------------------------------------
@query(
    "dict_encode_brands",
    """
    SELECT p_brand, CAST(DENSE_RANK() OVER (ORDER BY p_brand) AS INTEGER) AS brand_id
    FROM (SELECT DISTINCT p_brand FROM part)
    ORDER BY brand_id
    """,
)
def dict_encode_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.encoding import dictionary_encode

    part = load_table(spark, sf_dir, "part")
    return dictionary_encode(part, "p_brand", "brand_id").orderBy("brand_id")


# ---------------------------------------------------------------------------
# Dictionary encoding, scale path: dense value-ordered ids with no
# global single-task sort (range partition + local row_number +
# offset join — the zipWithIndex shape in the DataFrame domain).
# Same output contract as the window path, on a ~20k-value domain.
# ---------------------------------------------------------------------------
@query(
    "dict_encode_partkeys_big",
    """
    SELECT l_partkey, CAST(DENSE_RANK() OVER (ORDER BY l_partkey) AS INTEGER) AS part_id
    FROM (SELECT DISTINCT l_partkey FROM lineitem)
    ORDER BY part_id
    """,
)
def dict_encode_partkeys_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.encoding import dictionary_encode_big

    li = load_table(spark, sf_dir, "lineitem")
    return dictionary_encode_big(li, "l_partkey", "part_id").orderBy("part_id")


# ---------------------------------------------------------------------------
# A6 (ordered collect_list): items per order in line-number order,
# serialized for stable hashing (reference Assignment3/task1.py:25)
# ---------------------------------------------------------------------------
@query(
    "order_item_lists",
    """
    SELECT l_orderkey,
           array_to_string(list(CAST(l_partkey AS VARCHAR) ORDER BY l_linenumber, l_partkey), ',') AS parts
    FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """,
)
def order_item_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                    lambda s: s.l_partkey.cast("string"),
                ),
            ).alias("parts")
        )
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# F9+F11 vector math: pairwise cosine + L2 between low-id embeddings
# (computed in double on both sides, rounded to kill sum-order noise)
# ---------------------------------------------------------------------------
@query(
    "embedding_pair_distances",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim,
           ROUND(list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS l2_dist
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 20 AND b.vec_id < 20
    ORDER BY id_a, id_b
    """,
)
def embedding_pair_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.vectors import cosine, l2

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 20)
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine("va", "vb"), 4).alias("cos_sim"),
            F.round(l2("va", "vb"), 4).alias("l2_dist"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# ST2 (batch form): tumbling event-time window — count + sum per
# 1-hour bucket per type (reference windows on processing time,
# Assignment6/task2.py:88; engine is event-time)
# ---------------------------------------------------------------------------
@query(
    "window_tumbling_hourly",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# ST2 sliding window (batch form): 1-hour window, 30-minute slide —
# every event lands in exactly window/slide = 2 buckets
# ---------------------------------------------------------------------------
@query(
    "window_sliding_hourly",
    """
    SELECT window_start, COUNT(*) AS n
    FROM (
        SELECT UNNEST([
            time_bucket(INTERVAL '30 minutes', ts),
            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        ]) AS window_start
        FROM events
    )
    GROUP BY window_start ORDER BY window_start
    """,
)
def window_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# Sessionization: session_window per user with 10-minute gap; SQL
# oracle is the classic gaps-and-islands rewrite
# ---------------------------------------------------------------------------
@query(
    "session_windows_per_user",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '10 minutes' THEN 0 ELSE 1 END AS new_session
        FROM events
    ), islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_no
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM islands GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """,
)
def session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# A12: approximate distinct count (HLL sketch, operators/sketches
# .approx_distinct). No SQL oracle — the register layout is engine
# internals; accuracy vs exact is asserted in pytest
# (tests/test_sketches.py), mirroring the reference's FM grading.
# ---------------------------------------------------------------------------
@query("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return R.approx_distinct_count(events, "user_id", rsd=0.02, alias="n_approx")


# ---------------------------------------------------------------------------
# A13: Bloom filter build + probe (reference Assignment6/task1.py:26-61
# — 6 hash fns over distinct cities, probe = all bits set). Engine:
# distributive bit_or bitmap build + broadcast-data probe; the query
# emits the confusion-matrix summary the reference's grader computes
# (FPR/FNR). FULL oracle: positions use the md5-derived per-index hash
# streams, so DuckDB rebuilds the same position set (membership =
# all k positions present) and the same geometry (m, k derived from
# the member count by the standard sizing formulas). FNR=0 and the
# FPR bound additionally pytest-asserted in tests/test_sketches.py.
# ---------------------------------------------------------------------------
_BLOOM_GEOM_M_SQL = (
    "GREATEST(64, CAST(trunc(-n * ln(0.01) / (ln(2) * ln(2))) AS BIGINT))"
)
_BLOOM_POS_SQL = (
    "CAST(('0x' || substr(md5(concat(i, '|', CAST({v} AS VARCHAR))), 1, 15))"
    " AS BIGINT) % (SELECT m FROM geom)"
)


@query(
    "bloom_probe_custkeys",
    f"""
    WITH members AS (
      SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    geom AS (
      SELECT n, {_BLOOM_GEOM_M_SQL} AS m,
             GREATEST(1, CAST(ROUND({_BLOOM_GEOM_M_SQL} * 1.0 / n * ln(2))
                              AS INTEGER)) AS k
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM members)
    ),
    idx AS (SELECT unnest(range((SELECT k FROM geom))) AS i),
    bpos AS (
      SELECT DISTINCT {_BLOOM_POS_SQL.format(v="key")} AS p
      FROM members CROSS JOIN idx
    ),
    probes AS (SELECT DISTINCT o_custkey AS key FROM orders),
    ppos AS (
      SELECT key, {_BLOOM_POS_SQL.format(v="key")} AS p
      FROM probes CROSS JOIN idx
    ),
    flag AS (
      SELECT key,
             MIN(CASE WHEN p IN (SELECT p FROM bpos) THEN 1 ELSE 0 END) = 1
                 AS maybe_member
      FROM ppos GROUP BY key
    ),
    truth AS (
      SELECT f.key, f.maybe_member, (m2.key IS NOT NULL) AS is_member
      FROM flag f LEFT JOIN members m2 ON f.key = m2.key
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN maybe_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(SUM(CASE WHEN maybe_member AND NOT is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT maybe_member AND is_member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg
    FROM truth
    """,
)
def bloom_probe_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import bloom_build, bloom_probe

    customer = load_table(spark, sf_dir, "customer")
    members = customer.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    sketch = bloom_build(members, "key", expected_items=members.count(), fpp=0.01)
    probes = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    flagged = bloom_probe(probes, sketch, "key")
    truth = flagged.join(
        F.broadcast(members.withColumn("is_member", F.lit(True))), "key", "left"
    ).withColumn("is_member", F.coalesce("is_member", F.lit(False)))
    return truth.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("maybe_member").cast("long")).alias("n_flagged"),
        F.sum(F.col("is_member").cast("long")).alias("n_members"),
        F.sum((F.col("maybe_member") & ~F.col("is_member")).cast("long")).alias(
            "n_false_pos"
        ),
        F.sum((~F.col("maybe_member") & F.col("is_member")).cast("long")).alias(
            "n_false_neg"
        ),
    )


# ---------------------------------------------------------------------------
# X25: Count-Min heavy hitters (Cormode & Muthukrishnan 2005) — the
# frequency-sketch companion to A12/A13: a bounded depth x width
# counter grid over l_partkey occurrences, point-queried for every
# candidate key, top-20 by estimate. FULL oracle: positions use the
# md5-derived per-row hash streams (salt 'cm'), so DuckDB rebuilds
# the identical grid and minima. Overestimate + merge laws are
# pytest-asserted in tests/test_sketches.py.
# ---------------------------------------------------------------------------
_CM_POS_SQL = (
    "CAST(('0x' || substr(md5(concat('cm', i, '|', CAST(key AS VARCHAR))), 1, 15))"
    " AS BIGINT) % 1024"
)


@query(
    "cm_heavy_hitter_partkeys",
    f"""
    WITH vals AS (SELECT l_partkey AS key FROM lineitem),
    idx AS (SELECT unnest(range(4)) AS i),
    sk AS (
      SELECT i, {_CM_POS_SQL} AS pos, COUNT(*) AS c
      FROM vals CROSS JOIN idx GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT key FROM vals),
    cp AS (
      SELECT key, i, {_CM_POS_SQL} AS pos
      FROM cand CROSS JOIN idx
    )
    SELECT key, MIN(c) AS est
    FROM cp JOIN sk USING (i, pos)
    GROUP BY key
    ORDER BY est DESC, key ASC
    LIMIT 20
    """,
)
def cm_heavy_hitter_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import count_min_build, count_min_estimate

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("key")
    )
    sketch = count_min_build(li, "key", width=1024, depth=4)
    est = count_min_estimate(
        li.distinct(), sketch, "key", width=1024, depth=4
    )
    return est.orderBy(F.col("est").desc(), F.col("key").asc()).limit(20)


# ---------------------------------------------------------------------------
# A12/F8: Flajolet-Martin distinct estimate — the reference's exact
# estimator combine (40 hashes, mean-of-4-groups, median of means,
# Assignment6/task2.py:33-76) as one distributed aggregate pass.
# FULL oracle: the estimate is deterministic given the hash family,
# and the md5-derived fold + integer-exact trailing-zeros replay
# bit-for-bit in DuckDB (40 MAX aggregates + the same group-median
# combine). Accuracy vs exact distinct additionally pytest-asserted.
# ---------------------------------------------------------------------------
def _fm_oracle_sql(
    val_sql: str,
    num_hashes: int = 40,
    group_size: int = 4,
    group_col: str | None = None,
    alias: str = "n_estimate",
) -> str:
    """DuckDB replay of operators/sketches.fm_distinct_estimate /
    fm_distinct_estimate_by. ``val_sql`` yields column u (plus
    ``group_col`` when grouped)."""
    from .functions.hashing import FOLD_PRIME, hash_params

    g_sel = f"{group_col}, " if group_col else ""
    g_by = f"GROUP BY {group_col}" if group_col else ""
    g_ord = f"ORDER BY {group_col}" if group_col else ""
    hs = ",\n             ".join(
        f"({a} * f + {b}) % {FOLD_PRIME} AS h{i}"
        for i, (a, b) in (
            (i, hash_params(i, FOLD_PRIME)) for i in range(num_hashes)
        )
    )
    rs = ",\n             ".join(
        f"MAX(CASE WHEN h{i} = 0 THEN 0"
        f" ELSE bit_count((h{i} & -h{i}) - 1) END) AS r{i}"
        for i in range(num_hashes)
    )
    n_groups = num_hashes // group_size
    means = ",\n               ".join(
        "("
        + " + ".join(
            f"pow(2.0, r{g * group_size + j})" for j in range(group_size)
        )
        + f") / {group_size}"
        for g in range(n_groups)
    )
    # Median formula mirrors operators/sketches._fm_median exactly:
    # single middle element for an odd group count, mean of the two
    # middle elements for an even one.
    if n_groups % 2:
        median_sql = f"ROUND(s[{(n_groups + 1) // 2}], 4)"
    else:
        mid = n_groups // 2
        median_sql = f"ROUND((s[{mid}] + s[{mid + 1}]) / 2, 4)"
    return f"""
    WITH v AS ({val_sql}),
    f AS (
      SELECT {g_sel}
             CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15)) AS BIGINT)
             % {FOLD_PRIME} AS f
      FROM v
    ),
    h AS (
      SELECT {g_sel}{hs}
      FROM f
    ),
    r AS (
      SELECT {g_sel}{rs}
      FROM h {g_by}
    ),
    m AS (
      SELECT {g_sel}list_sort([{means}]) AS s FROM r
    )
    SELECT {g_sel}{median_sql} AS {alias}
    FROM m {g_ord}
    """


@query(
    "fm_distinct_users",
    _fm_oracle_sql("SELECT user_id AS u FROM events"),
)
def fm_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import fm_distinct_estimate

    events = load_table(spark, sf_dir, "events")
    return fm_distinct_estimate(events, "user_id")


# ---------------------------------------------------------------------------
# Training-mix construction: per-source corpus shares. The rollup a
# mixing-weights pass starts from (pair with weighted_doc_sample /
# train_test_split_counts for the full mix pipeline). One scan, one
# groupBy; token share rounded to 6dp on both engines.
# ---------------------------------------------------------------------------
@query(
    "source_mix_stats",
    r"""
    WITH t AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / (SELECT SUM(n_tokens) FROM t), 6)
               AS token_share
    FROM t ORDER BY source
    """,
)
def source_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    # Token count inline (the token_counts operator's n_ws_tokens
    # expression) — one scan + one groupBy; joining the operator's
    # DataFrame back on doc_id would scan documents twice.
    per_source = (
        docs.select("source", F.size(tokenize(F.col("text"))).alias("_n_ws"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_n_ws").cast("long").alias("n_tokens"),
        )
    )
    total = per_source.agg(F.sum("n_tokens").alias("_tot"))
    return (
        per_source.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("token_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct estimator, Bar-Yossef et al. 2002 —
# the third cardinality sketch next to FM (reference estimator) and
# HLL (engine-native): mergeable, tunable accuracy (~1/sqrt(k)),
# and — with the md5-derived hash — fully oracle-replayable. Plans as
# distinct-hash projection → TakeOrderedAndProject (per-partition
# top-k, no global sort) → one-row aggregate.
# ---------------------------------------------------------------------------
@query(
    "kmv_distinct_users",
    """
    WITH h AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM events
    ),
    k AS (SELECT h FROM h ORDER BY h LIMIT 256)
    SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
           ELSE ROUND(255.0 * 1152921504606846976.0 / MAX(h), 4)
           END AS n_estimate
    FROM k
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import kmv_distinct_estimate

    events = load_table(spark, sf_dir, "events")
    return kmv_distinct_estimate(events, "user_id", k=256)


# ---------------------------------------------------------------------------
# M4/ST6 batch twin: uniform 100-row sample (distribution-identical
# to a reservoir pass; plans as TakeOrderedAndProject — distributed,
# no driver sequential pass). The sort key is the md5-derived content
# hash of event_id ⊕ seed (a seeded random permutation), so the
# sample is layout-independent AND the oracle replays it exactly.
# The sequential streaming reservoir with the reference's exact
# update rule lives in streaming/reservoir.py and is pytest-verified
# (tests/test_streaming.py).
# ---------------------------------------------------------------------------
@query(
    "reservoir_sample_events",
    """
    SELECT event_id, user_id, event_type
    FROM events
    ORDER BY CAST(('0x' || substr(md5(concat_ws('|', event_id, '7')), 1, 15))
                  AS BIGINT) ASC, event_id ASC
    LIMIT 100
    """,
)
def reservoir_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.reservoir import uniform_sample

    events = load_table(spark, sf_dir, "events")
    return uniform_sample(events, 100, seed=7, id_cols=["event_id"]).select(
        "event_id", "user_id", "event_type"
    )


# ---------------------------------------------------------------------------
# ST4, both halves in one row: per-window EXACT distinct users
# (windowed countDistinct) joined with the per-window Flajolet-Martin
# estimate — the reference's ACTUAL A6-task2 emission shape (one
# (time, truth, estimate) row per window, Assignment6/task2.py:87-91).
# FULL oracle: exact half is plain SQL; the md5-derived FM family
# replays per window in DuckDB (the global HLL twin
# `approx_distinct_users` stays as the engine-native alternative,
# rows-only by nature). Per-window accuracy also pytest-asserted.
# ---------------------------------------------------------------------------
@query(
    "window_distinct_users",
    f"""
    WITH e AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY window_start
    ),
    a AS (
        SELECT * FROM ({_fm_oracle_sql(
            '''SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                      user_id AS u FROM events''',
            group_col="window_start",
            alias="n_users_approx",
        )})
    )
    SELECT e.window_start, e.n_users, a.n_users_approx
    FROM e JOIN a USING (window_start) ORDER BY window_start
    """,
)
def window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import fm_distinct_estimate_by

    events = load_table(spark, sf_dir, "events")
    win = events.select(F.window("ts", "1 hour").alias("w"), "user_id").select(
        F.col("w.start").alias("window_start"), "user_id"
    )
    exact = win.groupBy("window_start").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    approx = fm_distinct_estimate_by(
        win, "user_id", ["window_start"], alias="n_users_approx"
    )
    return exact.join(approx, "window_start").orderBy("window_start")


# ---------------------------------------------------------------------------
# Shared builders for similarity/graph queries
# ---------------------------------------------------------------------------
def _customer_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(customer, part) distinct pairs — the (key, item) relation that
    plays the reference's (user, business) co-review table."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("k"), F.col("l_partkey").alias("i"))
        .distinct()
    )


_BASE_SQL = """
        SELECT DISTINCT o.o_custkey AS k, l.l_partkey AS i
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _cooccurrence_edges(spark: SparkSession, sf_dir: str, tau: int) -> DataFrame:
    return R.co_occurrence_pairs(
        _customer_part_pairs(spark, sf_dir), "k", "i", min_shared=tau,
        left_alias="src", right_alias="dst",
    ).select("src", "dst")


_EDGES_SQL = f"""
        SELECT a.k AS src, b.k AS dst
        FROM ({_BASE_SQL}) a JOIN ({_BASE_SQL}) b ON a.i = b.i AND a.k < b.k
        GROUP BY 1, 2 HAVING COUNT(*) >= {{tau}}
"""


# ---------------------------------------------------------------------------
# M3 ground truth: exact Jaccard similarity self-join at the
# reference's 0.05 threshold (Assignment3/task1.py:104)
# ---------------------------------------------------------------------------
@query(
    "jaccard_pairs_exact",
    f"""
    WITH base AS ({_BASE_SQL}),
    sizes AS (SELECT k, COUNT(*) AS sz FROM base GROUP BY k),
    inter AS (
        SELECT a.k AS a, b.k AS b, COUNT(*) AS i
        FROM base a JOIN base b ON a.i = b.i AND a.k < b.k
        GROUP BY 1, 2
    )
    SELECT inter.a, inter.b,
           ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.a = sa.k JOIN sizes sb ON inter.b = sb.k
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.05
    ORDER BY inter.a, inter.b
    """,
)
def jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import exact_jaccard_pairs

    return exact_jaccard_pairs(
        _customer_part_pairs(spark, sf_dir), "k", "i", threshold=0.05
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# M3: MinHash+LSH near-neighbor pairs (b=32, r=1 — the reference's
# banding at threshold 0.05, Assignment3/task1.py:59-61). FULL oracle:
# the md5-derived item hash and the (a·x+b) mod p family are replayed
# exactly in DuckDB (num_hashes MIN aggregates), band collision is an
# OR over per-band slot equality, and the verify is exact Jaccard —
# so the driver value-hashes the LSH pipeline end-to-end. The pytest
# recall >= 0.8 check vs the exact path (A3 PDF §4.1.4) still runs.
# ---------------------------------------------------------------------------
def _minhash_pairs_ctes(
    items_sql: str,
    num_hashes: int,
    bands: int,
    threshold: float | None,
    max_bucket: int | None = None,
) -> str:
    """CTE chain (splice after ``WITH``) replaying
    operators/similarity.minhash_lsh_pairs over an ``items_sql``
    relation (columns k, i) — same md5_hash60 fold, same
    universal-hash family (functions/hashing.hash_params), same
    banding. Final CTE: ``mh_pairs`` — (a, b, jaccard) when
    ``threshold`` is set (exact-Jaccard verify), (a, b) candidates
    only when ``threshold`` is None (the verify=False contract).

    Candidates are enumerated per (band, slot values) BUCKET — one
    UNION ALL arm per band over the signature relation, which is
    therefore MATERIALIZED (the sf1 LPA CTE-inlining lesson) — and
    DISTINCT-paired within buckets. This is set-identical to the
    pre-r10 all-pairs band-OR theta-join (a pair shares ≥ 1 full
    band ⟺ it shares a bucket) but SCALES in DuckDB: the band-OR
    form was O(n²) and pinned every LSH oracle to sf0.01, the bucket
    form is green at sf0.1/sf1 (SCALE.md r10).

    ``max_bucket`` (NEW r10): when set, additionally replays the
    operator's hot-bucket cap — buckets wider than the cap are
    dropped before pairing, exactly like the Spark side's count+join
    guard."""
    from .functions.hashing import FOLD_PRIME, hash_params

    r = num_hashes // bands
    mins = ",\n             ".join(
        f"MIN(({a} * f + {b}) % {FOLD_PRIME}) AS h{i}"
        for i, (a, b) in (
            (i, hash_params(i, FOLD_PRIME)) for i in range(num_hashes)
        )
    )
    slots = ", ".join(f"s{j}" for j in range(r))
    arms = "\n      UNION ALL ".join(
        f"SELECT k, {b_} AS band, "
        + ", ".join(f"h{b_ * r + j} AS s{j}" for j in range(r))
        + " FROM mh_sig"
        for b_ in range(bands)
    )
    if max_bucket is None:
        cap_cte = ""
        cap_join = ""
    else:
        cap_cte = f"""mh_ok AS (
      SELECT band, {slots} FROM mh_bands
      GROUP BY band, {slots} HAVING COUNT(*) <= {max_bucket}
    ),
    """
        cap_join = f"\n      JOIN mh_ok USING (band, {slots})"
    ctes = f"""mh_items AS ({items_sql}),
    mh_hx AS (
      SELECT k, i,
             CAST(('0x' || substr(md5(i), 1, 15)) AS BIGINT) % {FOLD_PRIME} AS f
      FROM mh_items
    ),
    mh_sig AS MATERIALIZED (
      SELECT k, {mins}
      FROM mh_hx GROUP BY k
    ),
    mh_bands AS MATERIALIZED (
      {arms}
    ),
    {cap_cte}mh_cand AS (
      SELECT DISTINCT a.k AS ka, b.k AS kb
      FROM mh_bands a
      JOIN mh_bands b USING (band, {slots}){cap_join}
      WHERE a.k < b.k
    )"""
    if threshold is None:
        return ctes + ",\n    mh_pairs AS (SELECT ka AS a, kb AS b FROM mh_cand)"
    return (
        ctes
        + f""",
    mh_sets AS (SELECT k, list(DISTINCT i) AS s FROM mh_items GROUP BY k),
    mh_pairs AS (
      SELECT c.ka AS a, c.kb AS b,
             ROUND(len(list_intersect(x.s, y.s)) * 1.0
                   / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
      FROM mh_cand c
      JOIN mh_sets x ON x.k = c.ka JOIN mh_sets y ON y.k = c.kb
      WHERE len(list_intersect(x.s, y.s)) * 1.0
            / len(list_distinct(list_concat(x.s, y.s))) >= {threshold}
    )"""
    )


def _minhash_oracle_sql(
    items_sql: str,
    num_hashes: int,
    bands: int,
    threshold: float,
    key_a: str = "a",
    key_b: str = "b",
    max_bucket: int | None = None,
) -> str:
    """Standalone oracle query over :func:`_minhash_pairs_ctes`."""
    ctes = _minhash_pairs_ctes(
        items_sql, num_hashes, bands, threshold, max_bucket=max_bucket
    )
    return f"""
    WITH {ctes}
    SELECT a AS {key_a}, b AS {key_b}, jaccard
    FROM mh_pairs
    ORDER BY {key_a}, {key_b}
    """


@query(
    "minhash_lsh_pairs",
    _minhash_oracle_sql(
        """
        SELECT DISTINCT o.o_custkey AS k, CAST(l.l_partkey AS VARCHAR) AS i
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """,
        num_hashes=32,
        bands=32,
        threshold=0.05,
        max_bucket=5000,
    ),
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import baskets
    from .operators.similarity import minhash_lsh_pairs

    b = baskets(
        _customer_part_pairs(spark, sf_dir).select(
            "k", F.col("i").cast("string").alias("i")
        ),
        "k",
        "i",
    )
    # Operator-default max_bucket=5000 — this query IS the scale path
    # since r10: the oracle models the hot-bucket cap via per-band
    # bucket enumeration (see _minhash_pairs_ctes), so the old
    # max_bucket=None oracle-fidelity escape hatch is gone. The sf10
    # probe measured the capped/uncapped outputs IDENTICAL at sf0.01,
    # sf1 AND sf10 on this corpus (every dropped candidate fails the
    # verify threshold or re-collides in another band) with the
    # capped wall 2x lower at sf10 (SCALE.md r10).
    return minhash_lsh_pairs(
        b, "k", "items", threshold=0.05, num_hashes=32, bands=32,
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# G1 scale twin (r13 verdict task 1): the LSH-pre-cut co-occurrence
# edge build. Same (customer, part) relation and tau=3 as
# cooccurrence_pairs, but candidates come from the banded-minhash
# bucket join and ONLY those pairs pay the exact shared-item count —
# the Σdᵢ² expansion through a hot item's degree never happens (its
# buckets stay ~degree/|basket| wide; skew receipt in SCALE.md r14).
# On the FLAT synthetic corpus the exact build stays faster (350.6 s
# vs 758.7 s at sf10 — banding can't prune 40-item baskets with 32
# hashes; measured and documented rather than assumed). FULL oracle:
# the same md5-replay CTE chain as minhash_lsh_pairs
# (threshold=None = the candidate contract), then an exact
# list_intersect count >= tau — so the driver value-hashes the whole
# pre-cut pipeline. Output provably refines cooccurrence_pairs
# (pytest-asserted): precision 1.0 with identical n_shared; recall
# governed by banding vs each pair's Jaccard (b=32, r=1 ≈
# 1-(1-J)^32).
# ---------------------------------------------------------------------------
@query(
    "cooccurrence_pairs_lsh",
    f"""
    WITH {_minhash_pairs_ctes(
        '''
        SELECT DISTINCT o.o_custkey AS k, CAST(l.l_partkey AS VARCHAR) AS i
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ''',
        num_hashes=32,
        bands=32,
        threshold=None,
        max_bucket=5000,
    )},
    mh_sets AS (SELECT k, list(DISTINCT i) AS s FROM mh_items GROUP BY k)
    SELECT c.a AS u1, c.b AS u2,
           CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS n_shared
    FROM mh_pairs c
    JOIN mh_sets x ON x.k = c.a
    JOIN mh_sets y ON y.k = c.b
    WHERE len(list_intersect(x.s, y.s)) >= 3
    ORDER BY u1, u2
    """,
)
def cooccurrence_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        R.co_occurrence_pairs_lsh(
            _customer_part_pairs(spark, sf_dir),
            "k",
            "i",
            min_shared=3,
            left_alias="u1",
            right_alias="u2",
            num_hashes=32,
            bands=32,
        )
        .orderBy("u1", "u2")
    )


def _cc_pointer_jump_ctes(rounds: int = 20) -> str:
    """CTE chain computing connected components (component = min
    reachable vertex id) by BOUNDED POINTER JUMPING over a symmetric
    CTE ``undirected(src, dst)`` that the caller provides; final CTE:
    ``comp(id, component)``. Splice after ``WITH``.

    Replaces the recursive-CTE reachability oracle (r10 verdict task
    4): ``reach`` enumerated every (vertex, reachable-vertex) pair —
    Σ|C|² rows, quadratic in component size, which pinned the dedup
    oracles to sf0.01 (SCALE.md). This is the Spark side's own
    algorithm shape (operators/graph.py connected_components:
    min-label hop + pointer jump), spelled as a FIXED number of
    self-join rounds so plain SQL can run it.

    Per round: hop (p ← min(p(v), min over neighbors' p)) then
    shortcut (p ← min(p(v), p(p(v)))). The shortcut at least doubles
    every vertex's min-label reach per round, so ``rounds`` = 20
    converges for any component a 2²⁰ ≈ 1M-vertex corpus can hold —
    far past the sf1/sf10 scales the exact twins' guard admits
    (pytest: exact on a 3000-edge path + random-graph union-find
    parity). Labels only shrink, so extra rounds are no-ops, never
    wrong. Each round is two linear joins — |E| + |V| rows, log-depth
    total — the same reason the Spark loop scales. MATERIALIZED pins
    every round's result AND the edge list itself (the sf1 LPA
    CTE-inlining lesson, re-learned in-round: without ``cc_e`` DuckDB
    inlines ``undirected`` — and the entire upstream LSH-verify DAG
    it references — into all 21 consumers; measured 29 GB of temp
    spill at sf1 before the kill, vs seconds with the edge list
    pinned once)."""
    ctes = [
        "cc_e AS MATERIALIZED (SELECT src, dst FROM undirected)",
        """cc_p0 AS MATERIALIZED (
        SELECT src AS id, LEAST(src, MIN(dst)) AS p
        FROM cc_e GROUP BY src
    )""",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""cc_h{k} AS MATERIALIZED (
        SELECT u.src AS id, MIN(LEAST(pa.p, pb.p)) AS p
        FROM cc_e u
        JOIN cc_p{k - 1} pa ON pa.id = u.src
        JOIN cc_p{k - 1} pb ON pb.id = u.dst
        GROUP BY u.src
    )"""
        )
        ctes.append(
            f"""cc_p{k} AS MATERIALIZED (
        SELECT h.id, LEAST(h.p, pj.p) AS p
        FROM cc_h{k} h JOIN cc_h{k} pj ON pj.id = h.p
    )"""
        )
    ctes.append(f"comp AS (SELECT id, p AS component FROM cc_p{rounds})")
    return ",\n    ".join(ctes)


# ---------------------------------------------------------------------------
# G4: connected components vs a pointer-jumping reachability oracle
# (component = min vertex id reachable) on the tau=3 graph
# ---------------------------------------------------------------------------
@query(
    "graph_components",
    f"""
    WITH undirected AS (
        SELECT src, dst FROM ({_EDGES_SQL.format(tau=3)})
        UNION ALL
        SELECT dst AS src, src AS dst FROM ({_EDGES_SQL.format(tau=3)})
    ),
    {_cc_pointer_jump_ctes()}
    SELECT id, component FROM comp ORDER BY id
    """,
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import connected_components

    edges = _cooccurrence_edges(spark, sf_dir, tau=3)
    return connected_components(edges).orderBy("id")


# ---------------------------------------------------------------------------
# G1 diagnostic: degree distribution of the co-occurrence graph
# ---------------------------------------------------------------------------
@query(
    "graph_degree_distribution",
    f"""
    WITH edges AS ({_EDGES_SQL.format(tau=3)}),
    deg AS (
        SELECT id, COUNT(*) AS degree FROM (
            SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges
        ) GROUP BY id
    )
    SELECT degree, COUNT(*) AS n_vertices
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import degrees

    edges = _cooccurrence_edges(spark, sf_dir, tau=3)
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Triangle count — three-way self-join on canonical edges
# ---------------------------------------------------------------------------
@query(
    "graph_triangle_count",
    f"""
    WITH edges AS ({_EDGES_SQL.format(tau=3)})
    SELECT COUNT(*) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.dst = e2.src
    JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # slim (src, dst) pin (r17): the three-way self-join references
    # the co-occurrence edge build three times and Catalyst executes
    # it once per reference (no cross-alias ReusedExchange —
    # plan-verified); the lazy checkpoint computes it once and the
    # caller's action materializes it.
    edges = _cooccurrence_edges(spark, sf_dir, tau=3).localCheckpoint(eager=False)
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# G2: deterministic LPA community sizes. The operator is synchronous
# with a deterministic tie-break (most votes, then smallest label),
# so a BOUNDED iteration count unrolls exactly into SQL: each round
# is one grouped neighbor-vote join + ROW_NUMBER pick, replayed
# below as l1..l5 CTEs. This converts the last pytest-only graph
# signal into a full driver oracle row (r5 verdict item 8).
# ---------------------------------------------------------------------------
def _lpa_oracle_sql(tau: int, iters: int) -> str:
    # sym is referenced once per unrolled round; MATERIALIZED stops
    # DuckDB from inlining the (expensive) co-occurrence edge
    # derivation into every round — without it the sf1 replay
    # re-derives the edge set ~10x and spills past the box's disk.
    sql = f"""
    WITH sym AS MATERIALIZED (
        SELECT src, dst FROM ({_EDGES_SQL.format(tau=tau)})
        UNION ALL
        SELECT dst AS src, src AS dst FROM ({_EDGES_SQL.format(tau=tau)})
    ),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"""
    prev = "l0"
    for i in range(1, iters + 1):
        sql += f""",
    l{i} AS (
        SELECT id, label FROM (
            SELECT s.dst AS id, l.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.dst
                       ORDER BY COUNT(*) DESC, l.label ASC
                   ) AS rn
            FROM sym s JOIN {prev} l ON s.src = l.id
            GROUP BY s.dst, l.label
        ) WHERE rn = 1
    )"""
        prev = f"l{i}"
    return sql + f"""
    SELECT label, COUNT(*) AS size FROM {prev}
    GROUP BY label ORDER BY size DESC, label ASC"""


@query("graph_lpa_community_sizes", _lpa_oracle_sql(tau=3, iters=5))
def graph_lpa_community_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import label_propagation

    edges = _cooccurrence_edges(spark, sf_dir, tau=3)
    return (
        label_propagation(edges, max_iter=5)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.col("size").desc(), F.col("label").asc())
    )


# ---------------------------------------------------------------------------
# G3: top edge betweenness on the sparser tau=5 graph (rows-only;
# golden-checked on a planted graph in tests/test_graph.py)
# ---------------------------------------------------------------------------
@query("graph_betweenness_top")
def graph_betweenness_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import edge_betweenness

    edges = _cooccurrence_edges(spark, sf_dir, tau=5)
    return (
        edge_betweenness(edges)
        .select("src", "dst", F.round("betweenness", 4).alias("betweenness"))
        .orderBy(F.col("betweenness").desc(), "src", "dst")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# G3 at-scale escape hatch: sampled-roots betweenness (rows-only;
# tolerance vs the exact path asserted in
# tests/test_graph.py::test_betweenness_fixed_roots_approximates).
# At 100x the vertex count the exact O(V·E) Brandes sweep is the
# bottleneck; BFS from a FIXED count of seeded roots rescaled by V/k
# is the documented scale path — this query keeps it exercised at
# bench scale rather than only on the planted-graph pytest.
# n_roots=192, not a root fraction: a fraction keeps |roots|
# proportional to V, so the sweep stays quadratic-family
# (9.2x/decade measured at sf10, SCALE.md r12); a fixed k makes the
# sampled tier O(k·E) — per-decade growth tracks the EDGE count only.
# Graphs with V <= 192 (the sf0.1 tau=5 graph: 37 vertices) run
# exact; sf0.01 (1118 vertices) and every scale tier sample for real.
# ---------------------------------------------------------------------------
@query("graph_betweenness_sampled")
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import edge_betweenness

    edges = _cooccurrence_edges(spark, sf_dir, tau=5)
    return (
        edge_betweenness(edges, n_roots=192, seed=7)
        .select("src", "dst", F.round("betweenness", 4).alias("betweenness"))
        .orderBy(F.col("betweenness").desc(), "src", "dst")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Semantically-checked driver row for the sampled-betweenness tier
# (r8 verdict item 6, the ann_recall_check pattern): n_edges is
# genuinely recomputed by the DuckDB oracle (every graph edge earns
# exact Brandes credit from its endpoint root, so exact-betweenness
# row count == edge count), and mass_ok pins the invariant that makes
# root-sampling-with-V/k-rescale an unbiased estimator: total
# sampled credit mass / total exact mass must sit in [0.7, 1.4].
# r13 (fixed-root knob, k=192 matching graph_betweenness_sampled):
# measured 0.983-0.994 at sf0.01 (V=1118, genuinely sampled at
# 192/1118) across seeds {7,13,42}; sf0.1 (V=37 <= k) runs exact,
# ratio exactly 1.0 on every seed. Per-edge
# max_rel_err is NOT the pinned metric on purpose — the bench tau=5
# graph at sf0.1 has only 19 edges, where per-edge max error is pure
# sampling noise, while the mass ratio stays tight; dropping the
# rescale (ratio→k/V) or double-counting roots (→2.0) still goes
# red on VALUES.
# ---------------------------------------------------------------------------
@query(
    "betweenness_mass_check",
    f"""
    WITH edges AS ({_EDGES_SQL.format(tau=5)})
    SELECT 'sampled_k192' AS method,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           TRUE AS mass_ok
    """,
)
def betweenness_mass_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import edge_betweenness, grouped_adjacency

    edges = _cooccurrence_edges(spark, sf_dir, tau=5)
    # one adjacency build feeds both the exact and the sampled sweep
    adj = grouped_adjacency(edges).localCheckpoint(eager=True)
    exact = edge_betweenness(edges, adjacency=adj).withColumnRenamed(
        "betweenness", "b_exact"
    )
    sampled = edge_betweenness(
        edges, n_roots=192, seed=7, adjacency=adj
    ).withColumnRenamed("betweenness", "b_sampled")
    return exact.join(sampled, ["src", "dst"], "left").agg(
        F.lit("sampled_k192").alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        (
            F.sum(F.coalesce("b_sampled", F.lit(0.0))) / F.sum("b_exact")
        ).between(0.7, 1.4).alias("mass_ok"),
    )


# ---------------------------------------------------------------------------
# G5: Girvan-Newman modularity-guided communities (rows-only:
# inherently iterative driver loop; golden-checked on a planted graph
# in tests/test_graph.py). Bounded removals keep the driver loop
# size-capped per the operator's documented envelope.
# ---------------------------------------------------------------------------
@query("girvan_newman_communities")
def girvan_newman_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import girvan_newman

    edges = _cooccurrence_edges(spark, sf_dir, tau=5)
    assign, _q = girvan_newman(edges, max_removals=3)
    return (
        assign.groupBy("community")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.col("size").desc(), F.col("community").asc())
    )


# ---------------------------------------------------------------------------
# Semantically-checked driver row for the rows-only Girvan-Newman
# tier (the ann_recall_check pattern): n_vertices is the Spark-side
# COUNT of the returned assignment — the DuckDB oracle independently
# recomputes the tau=5 graph's exact vertex count, so a GN loop that
# ever drops or duplicates a vertex mismatches on VALUES. q_ok pins
# the chosen partition's modularity to a sane range: Q is the best
# over POST-removal partitions (the reference never scores the
# initial partition — Assignment4/task2.py:183 `max_mod = -1`, first
# score after the first cut — and neither do we), so the -0.01 floor
# assumes a non-empty graph whose first cut doesn't land below it
# (true at every tested scale: measured best-Q ~0.0 at sf0.001 where
# tau=5 is one dense blob, 0.0015 at sf0.01, 0.89 at sf0.1's 19-edge
# graph, 0.0665 at sf1). q_round pins the EXACT modularity at driver
# scale (r9 verdict ask 5): at sf0.01 the loop is deterministic, so
# both sides emit the literal ROUND(Q,4)=0.0015 gated on that
# scale's unique vertex count (1118); at any other scale both sides
# emit NULL and the loose q_ok range carries the signal. A
# modularity regression at driver scale now flips VALUES red, not
# just n_vertices; the tight per-graph golden lives in
# tests/test_graph.py.
# ---------------------------------------------------------------------------
@query(
    "gn_quality_check",
    f"""
    WITH e5 AS ({_EDGES_SQL.format(tau=5)}),
    nv AS (
        SELECT (SELECT COUNT(DISTINCT v) FROM (
            SELECT src AS v FROM e5 UNION SELECT dst FROM e5
        )) AS n_vertices
    )
    SELECT 'gn_tau5' AS metric,
           n_vertices,
           TRUE AS q_ok,
           CASE WHEN n_vertices = 1118 THEN 0.0015 END::DOUBLE AS q_round
    FROM nv
    """,
)
def gn_quality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import girvan_newman

    edges = _cooccurrence_edges(spark, sf_dir, tau=5)
    assign, q = girvan_newman(edges, max_removals=3)
    return assign.agg(
        F.lit("gn_tau5").alias("metric"),
        F.count(F.lit(1)).alias("n_vertices"),
        F.lit(bool(-0.01 <= q <= 1.0)).alias("q_ok"),
        F.when(
            F.count(F.lit(1)) == 1118, F.lit(round(q, 4))
        ).cast("double").alias("q_round"),
    )


# ---------------------------------------------------------------------------
# M2/ST7: BFR per-round intermediate stats — the reference's graded
# artifact (A5 PDF §4.3 intermediate CSV: round id, discard-set
# size, cluster count, leftovers). Chunks = deterministic vec_id
# ranges over embeddings (S4 ordered-chunk source). Rows-only;
# structural/NMI checks live in tests/test_clustering.py.
# ---------------------------------------------------------------------------
@query("bfr_round_stats")
def bfr_round_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import bfr

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    # Chunk boundaries via exact quantiles (relativeError=0) — a
    # fixed-size sketch merge on the driver, never the id column
    # itself (the r2 version collected every id just to pick 3 cuts).
    cuts = sorted(set(emb.stat.approxQuantile("id", [0.25, 0.5, 0.75], 0.0)))
    lo = None
    chunks = []
    for hi in cuts + [None]:
        c = emb
        if lo is not None:
            c = c.where(F.col("id") >= lo)
        if hi is not None:
            c = c.where(F.col("id") < hi)
        chunks.append(c)
        lo = hi
    _assign, state = bfr(chunks, vec_col="vec", id_col="id", k=8, seed=7)
    return spark.createDataFrame(
        [
            (r["round_id"], r["n_ds_points"], r["n_clusters"], r["n_leftover"])
            for r in state.rounds
        ],
        "round_id int, n_ds_points long, n_clusters int, n_leftover long",
    )


# ---------------------------------------------------------------------------
# A11 ground truth (size-1): frequent single items at support 3
# ---------------------------------------------------------------------------
@query(
    "frequent_items",
    """
    SELECT l_partkey AS item, COUNT(*) AS support
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    GROUP BY l_partkey HAVING COUNT(*) >= 3
    ORDER BY item
    """,
)
def frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    return (
        li.groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# A11 ground truth (size-2): frequent pairs at support 3 — the SQL
# twin of SON/FPGrowth pair output
# ---------------------------------------------------------------------------
@query(
    "frequent_pairs",
    """
    WITH li AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem)
    SELECT a.p AS item1, b.p AS item2, COUNT(*) AS support
    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ORDER BY item1, item2
    """,
)
def frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return R.co_occurrence_pairs(
        lineitem, "l_partkey", "l_orderkey", 3, "item1", "item2", "support"
    ).orderBy("item1", "item2")


# ---------------------------------------------------------------------------
# A11: full SON two-phase over order baskets (rows-only: SON output
# spans all itemset sizes; equality with FPGrowth and DuckDB pair
# brute-force is pytest-asserted in tests/test_itemsets.py).
# Support scales with basket count: a fixed absolute support is
# degenerate at larger scale factors (round-1 lesson — support=3 over
# 150k baskets at sf0.1 is a candidate explosion by definition).
# ---------------------------------------------------------------------------
def _order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import baskets

    li = load_table(spark, sf_dir, "lineitem")
    return baskets(
        li.select("l_orderkey", F.col("l_partkey").cast("string").alias("i")),
        "l_orderkey",
        "i",
    )


# Registered-query support: the testdata's per-item basket frequency
# is scale-invariant (~30 at every sf — the item CATALOG grows with
# the fact table), so a fixed support stays equally selective
# per-item at every scale factor, and 20 keeps phase-1 local
# thresholds >= 2 at 8 partitions (non-degenerate — the round-1
# crash was threshold 1). BUT the total frequent-itemset count
# grows with the catalog (10x at sf1), so SON's driver-resident
# candidate cap fires at sf1 with support 20 — by design (SCALE.md
# finding 1). The env knob lets scale runs raise support without
# touching driver semantics; it feeds the ORACLE f-strings below
# too, so Spark and DuckDB always move together (the driver,
# which never sets it, sees byte-identical SQL).
SON_QUERY_SUPPORT = int(os.environ.get("SPARK_GRAFT_ITEMSET_SUPPORT", "20"))

# Fractional-support mode (r13 verdict task 6): "num/den" makes
# support = ceil(n_baskets * num / den), derived FROM THE DATA by
# both engines — integer-exact ((n*num + den - 1) // den on the
# Spark side, DuckDB's integer `//` in the oracle subquery), so a
# scale run needs no manually-sized absolute. "1/750" reproduces
# support=20 at sf0.01 (14 743 baskets). NOT the default on this
# corpus: per-item basket frequency is scale-INVARIANT here while
# baskets grow, so a fractional threshold empties the mined set past
# sf0.01 — the mode is for the fixed-catalog corpora where
# "fractional support constant ⇒ output constant" actually holds,
# and for unattended scale probes where an empty-but-clean run beats
# a breaker trip (SCALE.md r14).
SON_SUPPORT_FRAC = os.environ.get("SPARK_GRAFT_ITEMSET_SUPPORT_FRAC", "")


def _son_support_sql(frac: str = SON_SUPPORT_FRAC) -> str:
    """The HAVING threshold for the itemset oracles: a literal in
    absolute mode (byte-identical SQL for the driver, which never
    sets either knob), a COUNT-derived integer-ceil subquery over the
    same ``li`` basket relation in fractional mode."""
    if frac:
        num, den = (int(x) for x in frac.split("/"))
        return f"(SELECT (COUNT(DISTINCT o) * {num} + {den} - 1) // {den} FROM li)"
    return str(SON_QUERY_SUPPORT)


def _son_support(
    spark: SparkSession, sf_dir: str, frac: str = SON_SUPPORT_FRAC
) -> int:
    """The absolute support the Spark side mines at — constant in
    absolute mode; ceil(n_baskets * num/den) in fractional mode, via
    the same integer arithmetic the oracle subquery runs."""
    if frac:
        num, den = (int(x) for x in frac.split("/"))
        n = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey")
            .distinct()
            .count()
        )
        return max(1, (n * num + den - 1) // den)
    return SON_QUERY_SUPPORT


# The registered query bounds max_size=3 so the oracle is exact: a
# SQL oracle can only enumerate itemsets of bounded size (1/2/3-way
# self-joins below), and by A-Priori monotonicity the two sides agree
# exactly under the same bound. The UNBOUNDED path is pytest-verified
# (SON == FPGrowth == brute force at sf0.001, tests/test_itemsets.py).
def _itemset_oracle(support_sql: str) -> str:
    return f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey o, CAST(l_partkey AS VARCHAR) p FROM lineitem
    ),
    s1 AS (
      SELECT p AS itemset, CAST(COUNT(*) AS BIGINT) AS support
      FROM li GROUP BY p HAVING COUNT(*) >= {support_sql}
    ),
    s2 AS (
      SELECT a.p || ',' || b.p AS itemset, CAST(COUNT(*) AS BIGINT) AS support
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      GROUP BY 1 HAVING COUNT(*) >= {support_sql}
    ),
    s3 AS (
      SELECT a.p || ',' || b.p || ',' || c.p AS itemset,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM li a
      JOIN li b ON a.o = b.o AND a.p < b.p
      JOIN li c ON b.o = c.o AND b.p < c.p
      GROUP BY 1 HAVING COUNT(*) >= {support_sql}
    )
    SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
    ORDER BY itemset
"""


_ITEMSET_ORACLE = _itemset_oracle(_son_support_sql())


@query("son_itemsets", _ITEMSET_ORACLE)
def son_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.itemsets import son_frequent_itemsets

    b = _order_baskets(spark, sf_dir)
    return (
        son_frequent_itemsets(b, support=_son_support(spark, sf_dir), max_size=3)
        .orderBy("itemset")
    )


# ---------------------------------------------------------------------------
# A11 capability twin: FPGrowth (same bounded-size oracle; FPGrowth
# itself is unbounded, so the size bound is a post-filter)
# ---------------------------------------------------------------------------
@query("fpgrowth_itemsets", _ITEMSET_ORACLE)
def fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.itemsets import fpgrowth_frequent_itemsets

    b = _order_baskets(spark, sf_dir)
    out = fpgrowth_frequent_itemsets(b, support=_son_support(spark, sf_dir))
    return (
        out.where(F.size(F.split("itemset", ",")) <= 3)
        .orderBy("itemset")
    )


# ---------------------------------------------------------------------------
# A8/A9: per-group per-dimension sufficient statistics over the
# vector column — N, mean, population std (the var_pop identity the
# BFR summaries use, reference Assignment5/bfr.py:122-128)
# ---------------------------------------------------------------------------
@query(
    "suffstats_by_label",
    """
    SELECT label, dim, COUNT(*) AS n,
           ROUND(AVG(x), 6) AS mean,
           ROUND(STDDEV_POP(x), 6) AS std
    FROM (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
               UNNEST(embedding::DOUBLE[]) AS x
        FROM embeddings
    )
    GROUP BY label, dim ORDER BY label, dim
    """,
)
def suffstats_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("x"), 6).alias("mean"),
            F.round(F.stddev_pop("x"), 6).alias("std"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# M1: K-Means cluster sizes (rows-only: iterative; parity with an
# in-memory NumPy Lloyd run is pytest-asserted). Runs the reference's
# FULL convergence rules (tol/centroid-repeat/100 rounds) — the
# bounded-input local Lloyd path makes true convergence cheap at
# bench scale (r6 ran a truncated 20 rounds because each round was a
# ~1 s Spark job; 31 rounds to convergence on this corpus, ++-seeded,
# vs 50 sample-seeded — asserted in tests/test_clustering.py).
# ---------------------------------------------------------------------------
@query("kmeans_cluster_sizes")
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    assigned, _ = kmeans(emb, "vec", k=8, seed=7)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# M1 drift guard: the same k-means row with the local fast path
# DISABLED (local_elems_cap=0), so the Arrow-vectorized distributed
# Lloyd pass (_assign_mean_pass + _argmin_sq_l2) gets its own driver
# row instead of relying solely on the forced-distributed parity
# pytest + the sf10 receipt. Rows-only by nature (iterative, like
# every kmeans row); the local/distributed parity is pytest-asserted,
# and at driver scale this is cheap (the sf0.01 corpus is tiny — the
# cost is job latency, bounded by Lloyd's converged iteration count).
# ---------------------------------------------------------------------------
@query("kmeans_cluster_sizes_dist")
def kmeans_cluster_sizes_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    assigned, _ = kmeans(emb, "vec", k=8, seed=7, local_elems_cap=0)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Semantically-checked driver row for the rows-only k-means tier
# (the ann_recall_check pattern): the total sum of squares (WCSS at
# k=1, i.e. squared distance to the global mean) is an exact anchor
# the DuckDB oracle genuinely recomputes dim-by-dim, and
# within_bound pins that the k=8 solution explains at least the
# variance it has always explained (WCSS_k8 / WCSS_k1 <= bound). If
# Lloyd's init or convergence regresses toward a degenerate
# clustering (equal/duplicated centroids, everything in one
# cluster), the ratio rises to ~1.0 and the row goes red on VALUES.
# Everything is seeded, so the ratio is deterministic at a given sf.
# The embeddings are near-random in high dim, so k=8 explains only a
# few percent of variance and the ratio drifts up with n (measured:
# 0.927 at sf0.01, 0.946 at sf0.1) — bound 0.97 is a
# degenerate-solution pin, not a tight quality bar.
# Both WCSS sides run as explode + groupBy(dim) codegen aggregates
# (sx2 - 2*c*sx + n*c^2 against the broadcast centroid dims), not
# per-row HOF trees — one scan each, no shuffle growth at any SF.
# ---------------------------------------------------------------------------
@query(
    "kmeans_wcss_check",
    """
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
    d AS (
        SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM e
    ),
    per_dim AS (
        SELECT SUM(x * x) - COUNT(*) * AVG(x) * AVG(x) AS ss
        FROM d GROUP BY dim
    )
    SELECT 'kmeans_k8_embeddings' AS metric,
           ROUND((SELECT SUM(ss) FROM per_dim), 1) AS exact_anchor,
           TRUE AS within_bound
    """,
)
def kmeans_wcss_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    assigned, centroids = kmeans(emb, "vec", k=8, seed=7)
    cdims = spark.createDataFrame(
        [(j, d, float(c)) for j, cent in enumerate(centroids) for d, c in enumerate(cent)],
        "cluster int, dim int, c double",
    )
    stats = (
        assigned.select("cluster", F.posexplode("vec").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(
            F.sum(F.col("x") * F.col("x")).alias("sx2"),
            F.sum("x").alias("sx"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wcss = stats.join(F.broadcast(cdims), ["cluster", "dim"]).agg(
        F.sum(
            F.col("sx2")
            - 2.0 * F.col("c") * F.col("sx")
            + F.col("n") * F.col("c") * F.col("c")
        ).alias("wcss_k8"),
    )
    k1 = (
        emb.select(F.posexplode("vec").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            (
                F.sum(F.col("x") * F.col("x"))
                - F.sum("x") * F.sum("x") / F.count(F.lit(1))
            ).alias("ss")
        )
        .agg(F.sum("ss").alias("wcss_k1"))
    )
    return wcss.crossJoin(k1).select(
        F.lit("kmeans_k8_embeddings").alias("metric"),
        F.round("wcss_k1", 1).alias("exact_anchor"),
        (F.col("wcss_k8") / F.col("wcss_k1") <= 0.97).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# LLM-pipeline dedup block (SURVEY §7 phase 5). The documents table
# carries generator-planted near-duplicates; word-3-gram shingles
# separate them cleanly (random-pair Jaccard ~0.001, planted ~0.5-1).
# ---------------------------------------------------------------------------
_DOC_SHINGLES_SQL = r"""
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w)-1)]) AS s
        FROM (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(
                           translate(lower(text), '([,.!?:;])', ''), '\s+'),
                       x -> x <> '') AS w
            FROM documents
        )
"""


# Exact dedup via content hash: every doc mapped to its duplicate
# group (canonical = min doc_id). Spark groups on xxhash64(normalized
# text); the oracle groups on the normalized text itself — identical
# equivalence classes barring a 64-bit collision.
@query(
    "exact_dup_doc_groups",
    """
    WITH h AS (
        SELECT doc_id, translate(lower(text), '([,.!?:;])', '') AS norm
        FROM documents
    ),
    g AS (
        SELECT norm, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
        FROM h GROUP BY norm
    )
    SELECT h.doc_id, g.canonical_id, g.group_size
    FROM h JOIN g USING (norm)
    ORDER BY h.doc_id
    """,
)
def exact_dup_doc_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_duplicate_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicate_groups(docs).orderBy("doc_id")


# Near-dup ground truth: exact shingle-set Jaccard >= 0.5 (the
# planted pairs). This is the oracle twin the LSH path is graded
# against (A3 PDF §4.1.4 pattern).
@query(
    "near_dup_docs_exact",
    f"""
    WITH sh AS ({_DOC_SHINGLES_SQL})
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(len(list_intersect(a.s, b.s)) * 1.0
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 1.0
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    ORDER BY a, b
    """,
)
def near_dup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import doc_shingle_pairs
    from .operators.similarity import exact_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = doc_shingle_pairs(docs)
    return exact_jaccard_pairs(pairs, "doc_id", "shingle", threshold=0.5).orderBy(
        "a", "b"
    )


def _lsh_doc_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup doc pairs at Jaccard >= 0.5 from 64x32 MinHash banding
    over word-3-gram shingles, exact-verified → (a, b, ...). The miss
    probability per true pair is ~(1 - 0.25)^32 ~ 1e-4 at s = 0.5.
    max_bucket=None so the DuckDB oracle replays banding exactly (see
    minhash_lsh_pairs_q); shingle buckets are high-cardinality, so no
    bucket approaches a cap even at sf10."""
    from .operators.dedup import doc_shingles
    from .operators.similarity import minhash_lsh_pairs

    return minhash_lsh_pairs(
        doc_shingles(docs), "doc_id", "shingles",
        threshold=0.5, num_hashes=64, bands=32, max_bucket=None,
    )


# Near-dup scale path: MinHash LSH over the same shingle sets
# (64 hashes, 32 bands x 2 rows — collision prob ~1.0 at s=0.5).
# FULL oracle via _minhash_oracle_sql (same replayable hash family);
# recall >= 0.9 vs the exact twin additionally pytest-asserted.
@query(
    "near_dup_docs_lsh",
    _minhash_oracle_sql(
        f"SELECT doc_id AS k, unnest(s) AS i FROM ({_DOC_SHINGLES_SQL})",
        num_hashes=64,
        bands=32,
        threshold=0.5,
    ),
)
def near_dup_docs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _lsh_doc_pairs(docs).orderBy("a", "b")


# SimHash near-dup pairs: 60-bit md5-derived fingerprints, 10x6-bit
# bands, hamming <= 7. FULL oracle: the fingerprint hash
# (functions/hashing.md5_hash60) is replayed bit-for-bit in DuckDB,
# and pigeonhole (7 < 10 bands) makes the banded join's result set
# EQUAL to all-pairs hamming <= 7, which is what the oracle computes.
_SIMHASH_SUMS_SQL = ",\n             ".join(
    f"SUM((h >> {j}) & 1) AS b{j}" for j in range(60)
)
_SIMHASH_FP_SQL = "\n               + ".join(
    f"CASE WHEN b{j} * 2 > n THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END"
    for j in range(60)
)


@query(
    "simhash_doc_pairs",
    f"""
    WITH sh AS ({_DOC_SHINGLES_SQL}),
    hx AS (
      SELECT doc_id, CAST(('0x' || substr(md5(sg), 1, 15)) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(s) AS sg FROM sh)
    ),
    cnt AS (
      SELECT doc_id, COUNT(*) AS n,
             {_SIMHASH_SUMS_SQL}
      FROM hx GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             {_SIMHASH_FP_SQL} AS f
      FROM cnt
    ),
    allf AS (
      SELECT d.doc_id, COALESCE(fp.f, 0) AS f
      FROM documents d LEFT JOIN fp USING (doc_id)
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
    FROM allf a JOIN allf b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 7
    ORDER BY a, b
    """,
)
def simhash_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup_pairs(docs)
    return pairs.select(
        "a", "b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# End-to-end corpus curation funnel — the composed training-data
# pipeline every LLM corpus goes through: raw → exact dedup (content
# hash survivor) → near-dedup (pair drop at Jaccard ≥ 0.5, greedy
# keep-lowest-id) → quality filter (≥ 20 tokens, distinct ratio ≥
# 0.3) → language filter (en). One row per stage with surviving doc
# and whitespace-token counts. Every stage reuses a shipped operator;
# the whole funnel aggregates in ONE pass over per-doc survival flags
# (conditional sums), so the only non-trivial cost is the near-dup
# pair search itself.
#
# TWO variants, differing ONLY in the near-dup pair source:
# - corpus_curation_funnel: exact-Jaccard all-pairs (X18 prefix
#   filter). Ground truth, but the candidate join's shuffle grows
#   superlinearly in corpus size — the r10 sf10 probe measured it
#   EXHAUSTING LOCAL DISK at 500 k docs (SCALE.md r10 section).
# - corpus_curation_funnel_lsh: MinHash-LSH banded candidates (64
#   hashes × 32 bands, collision prob ≈ 0.9999 at s = 0.5) + exact
#   verify — the scale path; same md5 hash family, so the ENTIRE
#   funnel including banding replays as a DuckDB oracle.
# Scale posture: flags are per-doc projections and hash-groupBy
# joins; nothing materializes beyond (doc_id, flags).
# ---------------------------------------------------------------------------
_FUNNEL_NEAR_EXACT_CTE = r"""near_dropped AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    )"""


def _funnel_oracle_sql(near_dropped_ctes: str) -> str:
    """Funnel oracle with a pluggable near-dup stage: the supplied CTE
    chain must end in a ``near_dropped`` CTE with a ``doc_id`` column,
    and may reference ``sh`` (the exact-dedup survivors' distinct
    3-gram shingle arrays)."""
    return (
        r"""
    WITH nrm AS (
      SELECT doc_id, translate(lower(text), '([,.!?:;])', '') AS norm
      FROM documents
    ),
    grp AS (SELECT norm, MIN(doc_id) AS can FROM nrm GROUP BY norm),
    s1 AS (
      SELECT nrm.doc_id
      FROM nrm JOIN grp ON nrm.norm = grp.norm AND nrm.doc_id = grp.can
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w)-1)]) AS s
      FROM (
        SELECT d.doc_id,
               list_filter(
                   string_split_regex(
                       translate(lower(d.text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '') AS w
        FROM documents d JOIN s1 USING (doc_id)
      )
    ),
    """
        + near_dropped_ctes
        + r""",
    tokw AS (
      SELECT doc_id,
             list_filter(
                 string_split_regex(
                     translate(lower(text), '([,.!?:;])', ''), '\s+'),
                 x -> x <> '') AS w,
             len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                 AS n_ws
      FROM documents
    ),
    flags AS (
      SELECT t.doc_id, t.n_ws,
             (s1.doc_id IS NOT NULL) AS k1,
             (s1.doc_id IS NOT NULL AND nd.doc_id IS NULL) AS k2,
             (CAST(len(t.w) AS INTEGER) >= 20
              AND ROUND(len(list_distinct(t.w)) * 1.0
                        / GREATEST(len(t.w), 1), 6) >= 0.3) AS q_ok,
             (greatest(
                  len(list_filter(t.w, x -> list_contains(
                      ['the','a','and','of','to','in','is','it','for','on'], x))),
                  len(list_filter(t.w, x -> list_contains(
                      ['der','die','das','und','ist','ein','zu','nicht','mit'], x))),
                  len(list_filter(t.w, x -> list_contains(
                      ['le','la','les','et','est','un','une','pas','pour'], x))),
                  len(list_filter(t.w, x -> list_contains(
                      ['el','la','los','y','es','un','una','no','para'], x)))) > 0
              AND len(list_filter(t.w, x -> list_contains(
                      ['the','a','and','of','to','in','is','it','for','on'], x)))
                  = greatest(
                  len(list_filter(t.w, x -> list_contains(
                      ['the','a','and','of','to','in','is','it','for','on'], x))),
                  len(list_filter(t.w, x -> list_contains(
                      ['der','die','das','und','ist','ein','zu','nicht','mit'], x))),
                  len(list_filter(t.w, x -> list_contains(
                      ['le','la','les','et','est','un','une','pas','pour'], x))),
                  len(list_filter(t.w, x -> list_contains(
                      ['el','la','los','y','es','un','una','no','para'], x))))
             ) AS en
      FROM tokw t
      LEFT JOIN s1 ON s1.doc_id = t.doc_id
      LEFT JOIN near_dropped nd ON nd.doc_id = t.doc_id
    )
    SELECT * FROM (
      SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_ws) AS BIGINT) AS n_tokens FROM flags
      UNION ALL
      SELECT CAST(1 AS INTEGER), 'exact_dedup',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(n_ws) AS BIGINT)
      FROM flags WHERE k1
      UNION ALL
      SELECT CAST(2 AS INTEGER), 'near_dedup',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(n_ws) AS BIGINT)
      FROM flags WHERE k2
      UNION ALL
      SELECT CAST(3 AS INTEGER), 'quality',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(n_ws) AS BIGINT)
      FROM flags WHERE k2 AND q_ok
      UNION ALL
      SELECT CAST(4 AS INTEGER), 'lang_en',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(n_ws) AS BIGINT)
      FROM flags WHERE k2 AND q_ok AND en
    ) ORDER BY stage_idx
    """
    )


def _corpus_funnel_impl(
    spark: SparkSession,
    sf_dir: str,
    lsh: bool,
    semantic: float | None = None,
    quality_model: float | None = None,
) -> DataFrame:
    from .functions.text import normalize, tokenize
    from .operators.dedup import doc_shingle_pairs, exact_duplicate_groups
    from .operators.similarity import exact_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    # Pin the exact-dup verdict relation: TWO consumers (the near-dup
    # stage's docs1 pre-filter and the final flags join) otherwise
    # each re-run the full-corpus normalize + groupBy behind
    # exact_duplicate_groups. Slim (doc_id + bool), so cheap to pin.
    exact = (
        exact_duplicate_groups(docs)
        .select("doc_id", (F.col("doc_id") == F.col("canonical_id")).alias("_k1"))
        .localCheckpoint(eager=False)
    )
    docs1 = docs.join(exact.where(F.col("_k1")).select("doc_id"), "doc_id")
    if lsh:
        # Scale path: banded LSH candidates + exact verify. Precision
        # is 1.0 by construction (the verify join applies the same
        # threshold), so _nd drops a SUBSET of the exact variant's
        # drops.
        pairs = _lsh_doc_pairs(docs1)
    else:
        pairs = exact_jaccard_pairs(
            doc_shingle_pairs(docs1), "doc_id", "shingle", threshold=0.5
        )
    near_dropped = (
        pairs.select(F.col("b").alias("doc_id"))
        .distinct()
        .withColumn("_nd", F.lit(True))
    )
    # Token count, quality flag, and language flag are all pure
    # projections of the text column — computed in ONE scan instead
    # of three operator DataFrames joined back on doc_id (measured:
    # the join form planned 29 scans of documents across the whole
    # funnel; this form plans 7, and only the dedup branches re-read).
    # Threshold expressions mirror doc_quality_stats/language_id
    # exactly (same rounding before compare — the oracle contract).
    # The normalized token array gets its own stacked projection
    # (the doc_shingles idiom): the quality + language
    # expressions reference it ~25 times and run interpreted, so an
    # inlined tokenize re-ran the regex split per reference per row.
    toks = F.col("_toks")
    n_tok = F.size(toks)
    distinct_ratio = F.round(
        F.size(F.array_distinct(toks))
        / F.greatest(n_tok, F.lit(1)).cast("double"),
        6,
    )
    from .operators.text_analysis import language_pred_exprs_from_tokens

    pred_lang, _score = language_pred_exprs_from_tokens(toks)
    # (import here keeps the funnel's lazy-import convention)
    per_doc = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("n_ws_tokens"),
        tokenize(normalize(F.col("text"))).alias("_toks"),
    ).select(
        "doc_id",
        "n_ws_tokens",
        ((n_tok >= 20) & (distinct_ratio >= 0.3)).alias("_q_ok"),
        (pred_lang == "en").alias("_en"),
    )

    k1 = F.col("_k1")
    k2 = k1 & ~F.coalesce(F.col("_nd"), F.lit(False))
    k3 = k2 & F.col("_q_ok")
    k4 = k3 & F.col("_en")
    flags = (
        per_doc.join(exact, "doc_id")
        .join(near_dropped, "doc_id", "left")
    )
    names = ["raw", "exact_dedup", "near_dedup", "quality", "lang_en"]
    conds = [k1, k2, k3, k4]
    if quality_model is not None:
        # Model-based quality stacked after the heuristic stages —
        # real pipelines run heuristic quality -> model-based quality
        # -> (semantic) dedup. ``quality_model`` is the Pareto alpha
        # of the GPT-3 keep rule. The classifier trains on the FULL
        # corpus (the recipe's weak-label contract, see
        # quality_model.py — runs its bounded eager fit at
        # construction) and the stage keeps survivors whose
        # md5-Pareto draw clears their score. With the None default
        # this branch is never entered and every existing funnel plan
        # is untouched.
        from .operators.quality_model import quality_classifier_scores

        mq = quality_classifier_scores(
            docs, target_value="src0", pareto_alpha=quality_model
        ).select("doc_id", F.col("keep").alias("_mq"))
        flags = flags.join(mq, "doc_id", "left")
        conds.append(conds[-1] & F.coalesce(F.col("_mq"), F.lit(False)))
        names.append("model_quality")
    if semantic is not None:
        # Stack embedding-level SemDeDup AFTER the text stages — real
        # pipelines dedup semantically on what survives near-dup +
        # quality + language, not on the raw corpus. ``semantic`` is
        # the cosine threshold. The flags
        # relation is slim (id + bools + one int) and its survivor
        # set feeds the iterative quantizer (one action per Lloyd
        # round), so it is pinned; with semantic=None this branch is
        # never entered and both registered text-funnel plans are
        # untouched.
        from .operators.ann import semantic_dedup

        flags = flags.localCheckpoint(eager=False)
        # chains off whatever stage precedes it (lang_en, or
        # model_quality when that stage is stacked); conds[-1] IS k4
        # when quality_model is None, so the plans are unchanged
        surv = flags.where(conds[-1]).select("doc_id")
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .join(surv, F.col("vec_id") == F.col("doc_id"))
            .select("vec_id", "embedding")
        )
        sem = semantic_dedup(emb, threshold=semantic).select(
            F.col("vec_id").alias("doc_id"),
            F.col("is_kept").alias("_sem"),
        )
        flags = flags.join(sem, "doc_id", "left")
        # a survivor without an embedding row is not evaluable by the
        # semantic stage — kept (coalesce TRUE), mirroring how the
        # text stages keep docs too short to shingle
        conds.append(conds[-1] & F.coalesce(F.col("_sem"), F.lit(True)))
        names.append("semantic_dedup")

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def _tok(cond):
        return F.sum(F.when(cond, F.col("n_ws_tokens")).otherwise(0)).cast("long")

    aggs = [
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("n_ws_tokens").cast("long").alias("t0"),
    ]
    for i, cond in enumerate(conds, start=1):
        aggs.append(_cnt(cond).alias(f"n{i}"))
        aggs.append(_tok(cond).alias(f"t{i}"))
    row = flags.agg(*aggs)
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(nm).alias("stage"),
                F.col(f"n{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
            )
            for i, nm in enumerate(names)
        ]
    )
    return row.select(F.inline(stages)).orderBy("stage_idx")


@query("corpus_curation_funnel", _funnel_oracle_sql(_FUNNEL_NEAR_EXACT_CTE))
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_funnel_impl(spark, sf_dir, lsh=False)


@query(
    "corpus_curation_funnel_lsh",
    _funnel_oracle_sql(
        _minhash_pairs_ctes(
            "SELECT doc_id AS k, unnest(s) AS i FROM sh",
            num_hashes=64,
            bands=32,
            threshold=0.5,
        )
        + ",\n    near_dropped AS (SELECT DISTINCT b AS doc_id FROM mh_pairs)"
    ),
)
def corpus_curation_funnel_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_funnel_impl(spark, sf_dir, lsh=True)


# X32 × X23 (r16): the funnel with embedding-level SemDeDup stacked
# after the text stages — LSH near-dup path (the scale variant), then
# k-means clusters + within-cluster cosine canonical filter at 0.4 on
# the lang_en survivors. Rows-only by nature (iterative quantizer —
# the same reason semantic_dedup_docs is rows-only); the stage
# arithmetic is pinned by pytest (first five stages IDENTICAL to
# corpus_curation_funnel_lsh, monotone throughout, exact-variant
# stage counts pinned at sf0.01) and the pair stage's cosine math is
# oracle-grounded by embedding_pair_distances.
@query("corpus_curation_funnel_semantic")
def corpus_curation_funnel_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_funnel_impl(spark, sf_dir, lsh=True, semantic=0.4)


# X36 × X23 (r17, verdict task 4): the funnel with the GPT-3
# model-based quality filter stacked after the heuristic stages —
# LSH near-dup path, then logistic-regression scores + md5-Pareto
# keep rule (alpha = 9, the paper's value) on the lang_en survivors.
# Rows-only by nature (iterative L-BFGS training — the
# quality_filter_stats precedent); stage arithmetic pinned by pytest
# (first five stages IDENTICAL to corpus_curation_funnel_lsh,
# monotone throughout, stage counts pinned at sf0.01) and the keep
# rule itself is pytest-pinned in tests/test_quality_model.py.
@query("corpus_curation_funnel_modelq")
def corpus_curation_funnel_modelq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_funnel_impl(spark, sf_dir, lsh=True, quality_model=9.0)


# ---------------------------------------------------------------------------
# Winnowing rolling-hash fingerprints (Schleimer et al. SIGMOD 2003).
# The polynomial hash (base 257 mod 2^31-1) is computed IDENTICALLY
# in Spark and DuckDB — same BIGINT fold per k-gram — so both the
# per-doc stats and the overlap pairs are value-exact oracles.
# ---------------------------------------------------------------------------
_WINNOW_FP_SQL = r"""
    WITH s AS (
      SELECT doc_id,
             regexp_replace(translate(lower(text), '([,.!?:;])', ''),
                            '\s+', '', 'g') AS s
      FROM documents
    ),
    g0 AS (
      SELECT doc_id, s, length(s) - 7 AS ng,
             unnest(range(1, length(s) - 6)) AS pos
      FROM s WHERE length(s) >= 8
    ),
    g AS (
      SELECT doc_id, pos, ng,
             list_reduce(
               list_transform(range(0, 8),
                 j -> CAST(ascii(substr(s, CAST(pos + j AS INTEGER), 1))
                           AS BIGINT)),
               (a, b) -> (a * 257 + b) % 2147483647) AS h
      FROM g0
    ),
    f AS (
      SELECT doc_id, pos, ng,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM g
    ),
    fp AS (SELECT DISTINCT doc_id, fp FROM f WHERE pos <= ng - 3 OR pos = 1)
"""


@query(
    "doc_fingerprint_stats",
    _WINNOW_FP_SQL
    + """
    SELECT d.doc_id,
           CAST(COALESCE(c.n_fps, 0) AS BIGINT) AS n_fps,
           c.min_fp, c.max_fp
    FROM documents d
    LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_fps, MIN(fp) AS min_fp,
               MAX(fp) AS max_fp
        FROM fp GROUP BY doc_id
    ) c USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def doc_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs)
    stats = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )
    return (
        docs.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0).cast("bigint")).alias("n_fps"),
            "min_fp",
            "max_fp",
        )
        .orderBy("doc_id")
    )


@query(
    "fingerprint_overlap_pairs",
    _WINNOW_FP_SQL
    + """
    , kept AS (
      SELECT fp FROM fp GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND 100
    ),
    sh AS (SELECT doc_id, fp.fp FROM fp JOIN kept USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared
    FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= 10
    ORDER BY doc_a, doc_b
    """,
)
def fingerprint_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import fingerprint_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_overlap_pairs(docs).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# LLM-pipeline ANN block: exact cosine top-k (ground truth, oracled)
# + hyperplane-LSH approximate top-k (the scale path; recall
# pytest-asserted). Retires the all-pairs demo as the engine's only
# similarity-search path.
# ---------------------------------------------------------------------------
@query(
    "ann_topk_exact",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
    s AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(p.pv, e.v), 6) AS cos_sim
        FROM p JOIN e ON e.vec_id <> p.probe_id
    )
    SELECT probe_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id
           ) AS INTEGER) AS rnk
    FROM s
    QUALIFY rnk <= 5
    ORDER BY probe_id, rnk
    """,
)
def ann_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    return cosine_topk(emb, probes, k=5).orderBy("probe_id", "rnk")


# FULL oracle: the seeded hyperplanes are deterministic literals
# (np.random.default_rng(7), 24×64 — dim 64 matches the testdata
# embeddings; a dim change would fail loudly as a row mismatch), the
# sign-bit dot products replay with the identical left-associative
# summation order, and the verify is the same rounded cosine the
# green ann_topk_exact oracle already proves cross-engine. A sign
# flip would need |dot| under ~1e-13 — not observable on real draws.
def _ann_lsh_oracle_sql(num_planes: int = 24, bands: int = 8, k: int = 5) -> str:
    import numpy as np

    planes = np.random.default_rng(7).standard_normal((num_planes, 64))
    r = num_planes // bands
    bit_exprs = []
    for i in range(num_planes):
        # float() unwrap: repr of a raw numpy scalar renders as
        # "np.float64(...)" under numpy >= 2.0 — invalid SQL.
        dot = " + ".join(
            f"v[{j + 1}] * {float(planes[i][j])!r}" for j in range(64)
        )
        bit_exprs.append(f"CASE WHEN ({dot}) > 0 THEN 1 ELSE 0 END")
    band_cols = ",\n             ".join(
        "("
        + " + ".join(f"b{b * r + i} * {1 << i}" for i in range(r))
        + f") AS band{b}"
        for b in range(bands)
    )
    bit_cols = ",\n             ".join(
        f"{e} AS b{i}" for i, e in enumerate(bit_exprs)
    )
    band_or = "\n            OR ".join(
        f"(p.band{b} = e.band{b})" for b in range(bands)
    )
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bits AS (
      SELECT vec_id, v,
             {bit_cols}
      FROM base
    ),
    sig AS (
      SELECT vec_id, v,
             {band_cols}
      FROM bits
    ),
    p AS (SELECT * FROM sig WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
             p.v AS pv, e.v AS ev
      FROM p JOIN sig e ON e.vec_id <> p.vec_id
      WHERE {band_or}
    ),
    s AS (
      SELECT probe_id, neighbor_id,
             ROUND(list_cosine_similarity(pv, ev), 6) AS cos_sim
      FROM cand
    )
    SELECT probe_id, neighbor_id, cos_sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id
           ) AS INTEGER) AS rnk
    FROM s
    QUALIFY rnk <= {k}
    ORDER BY probe_id, rnk
    """


@query("ann_topk_lsh", _ann_lsh_oracle_sql())
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import hyperplane_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    # 8 bands x 3 bits: recall ~0.88 at this corpus's weak neighbor
    # angles (top-5 cosine ~0.33); tighter banding trades recall for
    # bucket size — tune r up as clusters tighten.
    # max_bucket=None: oracle fidelity (see minhash_lsh_pairs_q).
    return hyperplane_lsh_topk(
        emb, probes, k=5, num_planes=24, bands=8, max_bucket=None
    ).orderBy("probe_id", "rnk")


# IVF variant: coarse k-means quantizer + inverted-list probe — the
# partition-pruning ANN path (each probe scans ~n_probe/n_list of
# the corpus). Rows-only; recall vs exact pytest-asserted.
@query("ann_topk_ivf")
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    return ivf_topk(
        emb, probes, k=5, n_list=16, n_probe=8
    ).orderBy("probe_id", "rnk")


# X26 IVF-PQ variant: coarse quantizer + product-quantized codes +
# ADC lookup scoring + exact refinement — the memory-compressed ANN
# tier (m_sub codes per vector at rest instead of d floats).
# Rows-only (iterative float training); recall pytest-asserted.
@query("ann_topk_ivfpq")
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    # m_sub=16 (4-dim subspaces at dim 64, still 16x compression) +
    # refine=16: the r7 knobs (m_sub=8, refine=4) measured recall 0.72
    # at sf0.01 but 0.44 at sf0.1 — quantization distortion grows with
    # corpus density, and a 4k shortlist was too shallow. These knobs
    # measure 0.84 at BOTH scales (see ann_recall_check).
    return ivfpq_topk(
        emb, probes, k=5, n_list=16, n_probe=8, m_sub=16, k_codes=32, refine=16
    ).orderBy("probe_id", "rnk")


# ---------------------------------------------------------------------------
# Semantically-checked driver row for the two rows-only ANN tiers
# (r7 verdict item 5): per method, the exact-top-k side (n_probes,
# n_exact_pairs) is genuinely recomputed by the DuckDB oracle, and
# recall_ok pins the expectation avg-recall >= 0.8 — if IVF or IVF-PQ
# recall regresses below the bar, the Spark side emits false and the
# driver row goes red on VALUES, not just rows. Measured recall with
# the shipped knobs: IVF 0.84 (sf0.01) / 0.86 (sf0.1); IVF-PQ 0.84 /
# 0.84. Everything is seeded + md5-sampled, so the values are
# deterministic at a given sf.
# ---------------------------------------------------------------------------
@query(
    "ann_recall_check",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
    s AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(p.pv, e.v), 6) AS cos_sim
        FROM p JOIN e ON e.vec_id <> p.probe_id
    ),
    topk AS (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id
               ) AS rnk
        FROM s QUALIFY rnk <= 5
    )
    SELECT m.method,
           (SELECT COUNT(DISTINCT probe_id) FROM topk) AS n_probes,
           (SELECT COUNT(*) FROM topk) AS n_exact_pairs,
           TRUE AS recall_ok
    FROM (VALUES ('ivf'), ('ivfpq')) m(method)
    ORDER BY method
    """,
)
def ann_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import cosine_topk, ivf_topk, ivf_train_sample, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    # One quantizer-training collect for both methods (r18, VERDICT
    # task 1): ivf_topk and ivfpq_topk compute the IDENTICAL
    # hash-smallest training sample — sharing it drops one full
    # corpus scan + collect from the build phase, bit-identically.
    train = ivf_train_sample(emb, train_cap=4096)
    exact = cosine_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    ivf_hits = (
        ivf_topk(emb, probes, k=5, n_list=16, n_probe=8, train=train)
        .select("probe_id", "neighbor_id")
        .withColumn("_hit_ivf", F.lit(1))
    )
    ivfpq_hits = (
        ivfpq_topk(
            emb, probes, k=5, n_list=16, n_probe=8, m_sub=16, k_codes=32,
            refine=16, train=train,
        )
        .select("probe_id", "neighbor_id")
        .withColumn("_hit_ivfpq", F.lit(1))
    )
    # One pass over the exact side (r18, VERDICT task 1): both
    # methods' hit flags ride the SAME left-join chain and ONE
    # aggregate — the old shape ran a per-method join + aggregate and
    # union'd them, executing the exact top-k's consumer side (and an
    # aggregate exchange) once per method. (probe_id, neighbor_id) is
    # unique in each top-k output, so each left join preserves row
    # multiplicity and the per-method sums/counts are the same values
    # the per-method aggregates produced; the recall expression is
    # the identical sum/count >= 0.8 IEEE comparison.
    # hit sets are <= k x |probes| rows by construction (top-k per
    # probe) at ANY corpus size — broadcast them so the compare joins
    # never exchange the exact side (guide §3.1)
    row = (
        exact.join(F.broadcast(ivf_hits), ["probe_id", "neighbor_id"], "left")
        .join(F.broadcast(ivfpq_hits), ["probe_id", "neighbor_id"], "left")
        .agg(
            F.count_distinct("probe_id").alias("_np"),
            F.count(F.lit(1)).alias("_ne"),
            F.sum(F.coalesce("_hit_ivf", F.lit(0))).alias("_h1"),
            F.sum(F.coalesce("_hit_ivfpq", F.lit(0))).alias("_h2"),
        )
    )
    methods = F.array(
        F.struct(
            F.lit("ivf").alias("method"),
            F.col("_np").alias("n_probes"),
            F.col("_ne").alias("n_exact_pairs"),
            (F.col("_h1") / F.col("_ne") >= 0.8).alias("recall_ok"),
        ),
        F.struct(
            F.lit("ivfpq").alias("method"),
            F.col("_np").alias("n_probes"),
            F.col("_ne").alias("n_exact_pairs"),
            (F.col("_h2") / F.col("_ne") >= 0.8).alias("recall_ok"),
        ),
    )
    return row.select(F.inline(methods)).orderBy("method")


# ---------------------------------------------------------------------------
# SemDeDup (r14 verdict task 5): embedding-level dedup end-to-end —
# k-means semantic clusters → within-cluster cosine pairs (the
# quadratic lives inside one applyInPandas task per cluster; only
# qualifying pairs leave it) → connected components → canonical doc
# per semantic-duplicate group. Rows-only (iterative quantizer); the
# refinement pytest pins semantic groups ⊆ the exact cosine-threshold
# closure, and the pair stage's cosine math is oracle-grounded by
# embedding_pair_distances. threshold=0.4 matches the corpus's
# near-dup regime (max pairwise cosine ≈ 0.51 at sf0.01).
# ---------------------------------------------------------------------------
@query("semantic_dedup_docs")
def semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ann import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4).orderBy("vec_id")


# ---------------------------------------------------------------------------
# A16: TF-IDF top terms per document (A3 PDF §4.2 formula — tf
# normalized by the doc's max term frequency, idf = ln(N/df)).
# ---------------------------------------------------------------------------
_TOKENS_SQL = r"""
        SELECT doc_id,
               UNNEST(list_filter(
                   string_split_regex(
                       translate(lower(text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '')) AS term
        FROM documents
"""


@query(
    "tfidf_top_terms",
    f"""
    WITH tok AS ({_TOKENS_SQL}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    mx AS (SELECT doc_id, MAX(tf) AS max_tf FROM tf GROUP BY 1),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND((tf.tf * 1.0 / mx.max_tf) * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
        FROM tf JOIN mx USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term
           ) AS INTEGER) AS rnk
    FROM scored
    QUALIFY rnk <= 5
    ORDER BY doc_id, rnk
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5).orderBy("doc_id", "rnk")


# ---------------------------------------------------------------------------
# LLM-pipeline text block: per-doc quality stats (corpus filtering
# signals) — fully SQL-expressible.
# ---------------------------------------------------------------------------
@query(
    "doc_quality_stats",
    f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(
                       translate(lower(text), '([,.!?:;])', ''), '\\s+'),
                   x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           ROUND(list_sum([length(x) for x in toks]) * 1.0
                 / GREATEST(len(toks), 1), 6) AS avg_token_len,
           ROUND(len(list_filter(toks, x -> x IN {_STOPWORDS_SQL})) * 1.0
                 / GREATEST(len(toks), 1), 6) AS stopword_ratio,
           ROUND(len(list_distinct(toks)) * 1.0
                 / GREATEST(len(toks), 1), 6) AS distinct_ratio
    FROM w
    ORDER BY doc_id
    """,
)
def doc_quality_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import doc_quality_stats

    docs = load_table(spark, sf_dir, "documents")
    return doc_quality_stats(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# LLM-pipeline token counting: whitespace words + BPE-ish regex
# tokens (letter runs / digit runs / punctuation runs — the
# lookahead-free GPT-2-pretokenizer family, identical under Java
# regex and RE2 so the oracle is exact).
# ---------------------------------------------------------------------------
@query(
    "token_counts_docs",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
                AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+'))
                AS INTEGER) AS n_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import token_counts

    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Unigram-LM perplexity scoring (r14) — the CCNet-style quality
# filter: fit the corpus's own unigram distribution, rank documents
# by 2^cross-entropy. FULL oracle: same normalize+tokenize as the
# rest of the text family, probabilities and log2 replayed exactly;
# double-sum order differences sit ~1e-9 under the 4-dp rounding.
# Only documents with >= 1 token appear (empty docs have no H).
# ---------------------------------------------------------------------------
@query(
    "doc_lm_perplexity",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(
                       translate(lower(text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, SUM(c) AS cnt FROM dtc GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n FROM vocab)
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT) AS n_tokens,
           ROUND(POW(2.0, SUM(d.c * -log2(v.cnt * 1.0 / t.n)) / SUM(d.c)), 4)
               AS ppl
    FROM dtc d JOIN vocab v USING (tok) CROSS JOIN tot t
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import lm_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return lm_perplexity(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Token-distribution drift per corpus slice (r14): KL(P_source ‖
# P_corpus) in bits — the corpus-mixing/source-drift monitor. The
# corpus is the base measure, so every slice token has support and
# the KL is exact with NO smoothing — fully SQL-replayable.
# ---------------------------------------------------------------------------
@query(
    "source_token_kl",
    r"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(
                   string_split_regex(
                       translate(lower(text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    stc AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c) AS n FROM stc GROUP BY 1),
    ctc AS (SELECT tok, SUM(c) AS cc FROM stc GROUP BY 1),
    ctot AS (SELECT SUM(c) AS nc FROM stc)
    SELECT s.source,
           CAST(t.n AS BIGINT) AS n_tokens,
           ROUND(SUM((s.c * 1.0 / t.n)
                     * log2((s.c * 1.0 / t.n) / (v.cc * 1.0 / o.nc))), 6)
               AS kl_bits
    FROM stc s
    JOIN stot t USING (source)
    JOIN ctc v USING (tok)
    CROSS JOIN ctot o
    GROUP BY s.source, t.n
    ORDER BY s.source
    """,
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import source_token_kl as _kl

    docs = load_table(spark, sf_dir, "documents")
    return _kl(docs).orderBy("source")


# ---------------------------------------------------------------------------
# DSIR importance weights (r15, X33): per-doc log2 likelihood ratio of
# the target slice's unigram LM vs the corpus LM, add-one smoothed
# over the corpus vocabulary — Xie et al. 2023's data-selection-via-
# importance-resampling estimator on exact unigrams (integer counts +
# log2, so the oracle is FULL). Target slice: source 'src0'. Sampling
# ∝ 2^log2_w composes with the X22/stratified samplers downstream.
# ---------------------------------------------------------------------------
@query(
    "doc_dsir_weights",
    r"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(
                   string_split_regex(
                       translate(lower(text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2, 3),
    corpus AS (SELECT tok, SUM(c) AS cc FROM dtc GROUP BY 1),
    tgt AS (SELECT tok, SUM(c) AS ct FROM dtc WHERE source = 'src0' GROUP BY 1),
    tot AS (
        SELECT SUM(c) AS nc,
               SUM(CASE WHEN source = 'src0' THEN c ELSE 0 END) AS nt,
               COUNT(DISTINCT tok) AS v
        FROM dtc
    ),
    w AS (
        SELECT corpus.tok,
               log2(((COALESCE(ct, 0) + 1) * 1.0 / (nt + v))
                    / ((cc + 1) * 1.0 / (nc + v))) AS w
        FROM corpus LEFT JOIN tgt USING (tok) CROSS JOIN tot
    )
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT) AS n_tokens,
           ROUND(SUM(d.c * w.w), 4) AS log2_w
    FROM dtc d JOIN w USING (tok)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import dsir_log_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_log_importance(docs, target_value="src0").orderBy("doc_id")


# ---------------------------------------------------------------------------
# DSIR importance RESAMPLING (r16, completing X33): the paper's actual
# deliverable is not the weights but the resampled training subset —
# draw k documents without replacement with probability ∝ 2^log2_w
# (Xie et al. 2023 §2.3 "importance resampling"). Composition of X33
# with the X22 A-ES sampler run in the log domain (w = 2^log2_w would
# over/underflow a double on long documents; the key comparison
# u^(1/w) ⇔ ln(-ln u) − log2_w·ln 2 is exact in log space — see
# streaming/reservoir.weighted_sample_log2). The md5 uniform draw and
# the 4-dp-rounded weight are both bit-replayable in DuckDB, so the
# oracle replays the draw, the log-key, and the tie-broken rank —
# FULL oracle. k=100 of the corpus, target slice 'src0'.
# ---------------------------------------------------------------------------
@query(
    "dsir_resampled_docs",
    r"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(
                   string_split_regex(
                       translate(lower(text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    dtc AS (SELECT doc_id, source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2, 3),
    corpus AS (SELECT tok, SUM(c) AS cc FROM dtc GROUP BY 1),
    tgt AS (SELECT tok, SUM(c) AS ct FROM dtc WHERE source = 'src0' GROUP BY 1),
    tot AS (
        SELECT SUM(c) AS nc,
               SUM(CASE WHEN source = 'src0' THEN c ELSE 0 END) AS nt,
               COUNT(DISTINCT tok) AS v
        FROM dtc
    ),
    w AS (
        SELECT corpus.tok,
               log2(((COALESCE(ct, 0) + 1) * 1.0 / (nt + v))
                    / ((cc + 1) * 1.0 / (nc + v))) AS w
        FROM corpus LEFT JOIN tgt USING (tok) CROSS JOIN tot
    ),
    dw AS (
        SELECT d.doc_id,
               CAST(SUM(d.c) AS BIGINT) AS n_tokens,
               ROUND(SUM(d.c * w.w), 4) AS log2_w
        FROM dtc d JOIN w USING (tok)
        GROUP BY d.doc_id
    ),
    keyed AS (
        SELECT doc_id, n_tokens, log2_w,
               ln(-ln((CAST(('0x' || substr(md5(concat_ws('|', doc_id, '7')),
                                            1, 15)) AS BIGINT)
                       % 4503599627370496 + 0.5) / 4503599627370496.0))
               - log2_w * ln(2) AS ek
        FROM dw
    )
    SELECT doc_id, n_tokens, log2_w FROM (
        SELECT doc_id, n_tokens, log2_w,
               ROW_NUMBER() OVER (ORDER BY ek ASC, doc_id ASC) AS rk
        FROM keyed
    )
    WHERE rk <= 100
    ORDER BY doc_id
    """,
)
def dsir_resampled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import dsir_log_importance
    from .streaming.reservoir import weighted_sample_log2

    docs = load_table(spark, sf_dir, "documents")
    weights = dsir_log_importance(docs, target_value="src0")
    return (
        weighted_sample_log2(weights, 100, "log2_w", seed=7, id_cols=["doc_id"])
        .select("doc_id", "n_tokens", "log2_w")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic exact-quota stratified subsample (r14): exactly k
# documents per source, chosen by md5-hash order — the corpus
# REBALANCING staple (downsample every source to a fixed budget,
# reproducibly, no RNG state). Pure composition: top_k_per_group over
# the replayable md5_hash60, so the oracle is FULL and the sample is
# content-addressed (stable under row order, partitioning, and
# cluster size — the property a resumable 100 TB pipeline needs).
# Strata smaller than k keep all their rows, the same contract as
# SQL's ROW_NUMBER <= k.
# ---------------------------------------------------------------------------
@query(
    "stratified_doc_sample",
    """
    WITH h AS (
        SELECT source, doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY hv, doc_id) AS rn
        FROM h
    )
    WHERE rn <= 20
    ORDER BY source, doc_id
    """,
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.hashing import md5_hash60

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", md5_hash60("doc_id").alias("_hv")
    )
    return (
        R.top_k_per_group(
            docs,
            "source",
            [F.col("_hv").asc(), F.col("doc_id").asc()],
            k=20,
            ties=False,
        )
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


# ---------------------------------------------------------------------------
# X34 sequence packing (r16): concat-and-chunk the corpus into
# 2048-token training sequences in content-addressed md5 order — the
# shard-manifest plan every LLM loader materializes. The Spark side
# runs the two-phase distributed prefix sum (operators/packing.py:
# range-repartition + per-partition subtotals + partition-local
# window — no single-task global window); the oracle replays the
# identical global order with one SQL window, so the plan parity IS
# the scale-safety proof: same answer, distributed scan. FULL oracle.
# ---------------------------------------------------------------------------
@query(
    "packed_sequence_stats",
    r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM documents
    ),
    p AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY hv, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        FROM t WHERE n_tokens > 0
    ),
    s AS (
        SELECT st, st + n_tokens AS e,
               CAST(floor(st / 2048) AS BIGINT) AS first_seq,
               CAST(floor((st + n_tokens - 1) / 2048) AS BIGINT) AS last_seq
        FROM p
    ),
    x AS (
        SELECT unnest(generate_series(first_seq, last_seq)) AS seq_id,
               st, e, first_seq = last_seq AS single
        FROM s
    )
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN single THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_full,
           CAST(SUM(LEAST(e, (seq_id + 1) * 2048)
                    - GREATEST(st, seq_id * 2048)) AS BIGINT) AS n_tokens
    FROM x GROUP BY seq_id ORDER BY seq_id
    """,
)
def packed_sequence_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokenize
    from .operators.packing import packed_sequence_stats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    )
    return packed_sequence_stats(docs, seq_len=2048)


# ---------------------------------------------------------------------------
# X35 domain-mixture reweighting (r16): natural per-source token
# shares vs a target mixture (uniform here — the flattening recipe)
# -> per-source sampling weight (== The Pile's "epochs" column) and
# token allocation at a corpus-sized budget. Completes the mixing
# story around source_mix_stats (shares) and dsir_resampled_docs
# (within-source selection). FULL oracle — ratio math on two engines.
# ---------------------------------------------------------------------------
@query(
    "domain_mixture_weights",
    r"""
    WITH t AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS tt, COUNT(*) AS ns FROM t)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / tt, 6) AS natural_share,
           ROUND(1.0 / ns, 6) AS target_share,
           ROUND((1.0 / ns) / (n_tokens * 1.0 / tt), 6) AS weight,
           CAST(ROUND((1.0 / ns) * tt) AS BIGINT) AS budget_tokens
    FROM t CROSS JOIN tot ORDER BY source
    """,
)
def domain_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import domain_mixture_weights

    docs = load_table(spark, sf_dir, "documents")
    return domain_mixture_weights(docs)


# ---------------------------------------------------------------------------
# X37 BPE merge-candidate counts (r16): iteration one of tokenizer
# training (Sennrich et al. 2016) — adjacent character-pair counts,
# aggregated over DISTINCT words weighted by multiplicity (the
# paper's own zipf cut: corpus tokens >> distinct words), top-50
# merge candidates with deterministic (count desc, pair) tie-break.
# All codegen: explode(sequence) + substr; top-k plans
# TakeOrderedAndProject, not a global window. FULL oracle.
# ---------------------------------------------------------------------------
@query(
    "bpe_pair_counts",
    r"""
    WITH toks AS (
        SELECT unnest(list_filter(
            string_split_regex(
                translate(lower(text), '([,.!?:;])', ''), '\s+'),
            x -> x <> '')) AS w
        FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w HAVING len(w) >= 2),
    ppos AS (SELECT w, c, unnest(generate_series(1, len(w) - 1)) AS i FROM wc),
    agg AS (SELECT substr(w, i, 2) AS pair, CAST(SUM(c) AS BIGINT) AS n
            FROM ppos GROUP BY 1)
    SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe_pair_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, k=50)


# ---------------------------------------------------------------------------
# X37 complete (r17): the BPE merge LOOP + encoder (Sennrich 2016
# §3.2 — operators/bpe.py). The whole training loop is FULL-oracle
# replayable: each Spark iteration (pair-count → deterministic
# argmax → greedy merge fold) maps to one CTE triple (p{k}, m{k},
# w{k+1}), with the merge application as the identical
# whitespace-encoded left fold on both engines (F.aggregate vs
# DuckDB list_reduce). _BPE_N_MERGES pins the loop depth so the
# generated chain and the Spark driver loop agree.
# ---------------------------------------------------------------------------
_BPE_N_MERGES = 16

_BPE_TOKS_SQL = r"""SELECT doc_id,
               unnest(list_filter(string_split_regex(
                   translate(lower(text), '([,.!?:;])', ''), '\s+'),
                   x -> x <> '')) AS w
        FROM documents"""


def _bpe_cte_chain(n_merges: int) -> str:
    """The iterated-CTE replay of bpe_learn: w0 is the corpus→vocab
    collapse; each step k derives overlapping adjacent-pair counts
    (p{k}), the deterministic argmax (m{k}), and the merged
    vocabulary (w{k+1}) via the same greedy left-to-right fold the
    Spark side runs in F.aggregate. Every CTE is MATERIALIZED (the
    pointer-jump precedent): each level references w{k} twice, so
    DuckDB's default inlining would expand 2^n copies of the scan."""
    ctes = [
        f"""w0 AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
               list_transform(generate_series(1, len(w)),
                              i -> substr(w, i, 1)) AS syms
        FROM ({_BPE_TOKS_SQL})
        GROUP BY w
    )"""
    ]
    for k in range(n_merges):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
        SELECT syms[i] AS l, syms[i + 1] AS r, CAST(SUM(c) AS BIGINT) AS n
        FROM (SELECT c, syms, unnest(generate_series(1, len(syms) - 1)) AS i
              FROM w{k} WHERE len(syms) >= 2)
        GROUP BY 1, 2
    ), m{k} AS MATERIALIZED (
        SELECT {k} AS step, l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1
    ), w{k + 1} AS MATERIALIZED (
        SELECT w, c, string_split(list_reduce(syms, (acc, x) ->
            CASE WHEN x = m{k}.r
                      AND (acc = m{k}.l OR ends_with(acc, ' ' || m{k}.l))
                 THEN acc || x ELSE acc || ' ' || x END), ' ') AS syms
        FROM w{k}, m{k}
    )"""
        )
    return "WITH " + ",\n    ".join(ctes)


@query(
    "bpe_learned_merges",
    _bpe_cte_chain(_BPE_N_MERGES)
    + "\n    SELECT step, l, r, n FROM ("
    + " UNION ALL ".join(
        f"SELECT * FROM m{k}" for k in range(_BPE_N_MERGES)
    )
    + ") ORDER BY step",
)
def bpe_learned_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge list itself: (step, l, r, n) in learned
    order. Runs the distributed merge loop at construction (eager
    actions — see bpe_learn's docstring); the result relation is
    driver state re-lifted into a DataFrame, bounded at
    _BPE_N_MERGES rows."""
    from .operators.bpe import bpe_learn

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_learn(docs, n_merges=_BPE_N_MERGES)
    return spark.createDataFrame(
        merges, "step int, l string, r string, n long"
    ).orderBy("step")


@query(
    "bpe_token_counts",
    _bpe_cte_chain(_BPE_N_MERGES)
    + f"""
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens_ws,
           CAST(SUM(COALESCE(len(v.syms), len(d.w))) AS BIGINT)
               AS n_tokens_bpe
    FROM ({_BPE_TOKS_SQL}) d
    LEFT JOIN w{_BPE_N_MERGES} v USING (w)
    GROUP BY d.doc_id ORDER BY d.doc_id""",
)
def bpe_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-tokenizer token counts per document — what X34's
    packing manifests and token budgets should run on instead of
    whitespace counts. The encode table (vocabulary-bound) joins
    broadcast against the per-occurrence explode; the merge folds
    run once per DISTINCT word."""
    from .operators.bpe import bpe_learn, bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    _, words = bpe_learn(docs, n_merges=_BPE_N_MERGES)
    return bpe_token_counts(docs, words).orderBy("doc_id")


@query(
    "packed_sequence_stats_bpe",
    _bpe_cte_chain(_BPE_N_MERGES)
    + f""",
    t AS (
        SELECT d.doc_id,
               CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM ({_BPE_TOKS_SQL}) d
        JOIN w{_BPE_N_MERGES} v USING (w)
        GROUP BY d.doc_id
    ),
    p AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY hv, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        FROM t WHERE n_tokens > 0
    ),
    s AS (
        SELECT st, st + n_tokens AS e,
               CAST(floor(st / 2048) AS BIGINT) AS first_seq,
               CAST(floor((st + n_tokens - 1) / 2048) AS BIGINT) AS last_seq
        FROM p
    ),
    x AS (
        SELECT unnest(generate_series(first_seq, last_seq)) AS seq_id,
               st, e, first_seq = last_seq AS single
        FROM s
    )
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN single THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_full,
           CAST(SUM(LEAST(e, (seq_id + 1) * 2048)
                    - GREATEST(st, seq_id * 2048)) AS BIGINT) AS n_tokens
    FROM x GROUP BY seq_id ORDER BY seq_id""",
)
def packed_sequence_stats_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 × X37: the packing plan fed by LEARNED-tokenizer counts —
    the train-vocab → encode → pack chain a real pipeline ships
    (whitespace-token packing was the r16 placeholder). Same
    two-phase distributed prefix sum; only the token relation
    changes."""
    from .operators.bpe import bpe_learn, bpe_token_counts
    from .operators.packing import packed_sequence_stats

    docs = load_table(spark, sf_dir, "documents")
    _, words = bpe_learn(docs, n_merges=_BPE_N_MERGES)
    counts = bpe_token_counts(docs, words).select(
        "doc_id", F.col("n_tokens_bpe").alias("n_tokens")
    )
    return packed_sequence_stats(counts, seq_len=2048)


# ---------------------------------------------------------------------------
# X36 model-based quality filter (r16): the GPT-3 appendix-A recipe —
# logistic regression on hashed unigram counts, weak-labelled target
# slice ('src0', the DSIR target) vs rest, Pareto-noise keep rule
# with the engine's md5 content-addressed draw. Rows-only by nature
# (distributed L-BFGS float training — the fpgrowth/semantic_dedup
# precedent); the discrimination + keep-rule arithmetic are
# pytest-pinned instead (tests/test_quality_model.py).
# ---------------------------------------------------------------------------
@query("quality_filter_stats")
def quality_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality_model import quality_classifier_stats

    docs = load_table(spark, sf_dir, "documents")
    return quality_classifier_stats(docs, target_value="src0")


# ---------------------------------------------------------------------------
# Language-ID heuristic. The scoring is deterministic (stopword-
# profile coverage argmax with first-profile tie-break), so the
# oracle replays it exactly: same tokenizer, same profile literals,
# same CASE order as the Spark when-chain.
# ---------------------------------------------------------------------------
@query(
    "language_id_docs",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(
                 translate(lower(text), '([,.!?:;])', ''), '\s+'),
                 x -> x <> '') AS w
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
        greatest(len(w), 1) * 1.0 AS n,
        len(list_filter(w, x -> list_contains(
            ['the','a','and','of','to','in','is','it','for','on'], x))) AS c_en,
        len(list_filter(w, x -> list_contains(
            ['der','die','das','und','ist','ein','zu','nicht','mit'], x))) AS c_de,
        len(list_filter(w, x -> list_contains(
            ['le','la','les','et','est','un','une','pas','pour'], x))) AS c_fr,
        len(list_filter(w, x -> list_contains(
            ['el','la','los','y','es','un','una','no','para'], x))) AS c_es
      FROM tok
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN greatest(c_en, c_de, c_fr, c_es) <= 0 THEN 'und'
                  WHEN c_en/n = greatest(c_en/n, c_de/n, c_fr/n, c_es/n) THEN 'en'
                  WHEN c_de/n = greatest(c_en/n, c_de/n, c_fr/n, c_es/n) THEN 'de'
                  WHEN c_fr/n = greatest(c_en/n, c_de/n, c_fr/n, c_es/n) THEN 'fr'
                  ELSE 'es' END AS pred_lang
      FROM sc
    )
    SELECT pred_lang, COUNT(*) AS n_docs
    FROM s GROUP BY pred_lang ORDER BY pred_lang
    """,
)
def language_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import language_id

    docs = load_table(spark, sf_dir, "documents")
    return (
        language_id(docs)
        .groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("pred_lang")
    )


# ---------------------------------------------------------------------------
# A15 full: item-item CF — Pearson similarities over co-rated pairs
# and top-N-neighbor weighted prediction (A3 PDF §4.3). Rating =
# avg quantity a customer ordered of a part.
# ---------------------------------------------------------------------------
_RATINGS_SQL = """
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               ROUND(AVG(l.l_quantity), 6) AS rating
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
"""


def _pearson_pairs_ctes(
    key: str,
    co: str,
    out1: str,
    out2: str,
    extra_join: str = "",
    min_co: int = 3,
) -> str:
    """CTE chain (``r6``, ``_ps``, ``_pf``, ``s0``) replaying
    operators/recommend's DETERMINISTIC suffstat Pearson over the
    ratings CTE ``r`` — splice after a ``WITH r AS (...)``.

    Cross-engine contract (r10 verdict task 1): ratings are 6-dp
    doubles, so ``ROUND(rating*1e6)`` is an exact BIGINT; all six
    sufficient statistics are integer sums (order-independent), with
    each product split into (p >> 26, p & (2^26-1)) halves summed as
    plain BIGINTs — the Spark side's Tungsten-primitive fast path
    (DECIMAL buffers measured 2× the agg wall; operators/recommend
    SPLIT_SHIFT note) — and rejoined as the IDENTICAL IEEE-double
    expression fl(fl(Σhi)·2²⁶ + Σlo) on both engines. The closed form
    + the floor(r·1e6+0.5)/1e6 quantization is likewise the identical
    IEEE tree. Zero variance is detected exactly (MIN == MAX on
    integers). This replaced ROUND(corr(...), 6), whose
    float-summation-order dependence flipped cf_item_similarities
    hash-red in the r10 driver window.
    """
    from .operators.recommend import SPLIT_BASE, SPLIT_SHIFT

    mask = SPLIT_BASE - 1
    rj = "(CAST({n}_hi AS DOUBLE) * {b}.0 + CAST({n}_lo AS DOUBLE))"
    sxy, sxx, syy = (
        rj.format(n=n, b=SPLIT_BASE) for n in ("sxy", "sxx", "syy")
    )
    return f"""r6 AS (
        SELECT u, i, rating,
               CAST(ROUND(rating * 1000000.0) AS BIGINT) AS x6
        FROM r
    ),
    _ps AS (
        SELECT a.{key} AS {out1}, b.{key} AS {out2}, COUNT(*) AS n_co,
               SUM(a.x6) AS sx, SUM(b.x6) AS sy,
               SUM((a.x6 * b.x6) >> {SPLIT_SHIFT}) AS sxy_hi,
               SUM((a.x6 * b.x6) & {mask}) AS sxy_lo,
               SUM((a.x6 * a.x6) >> {SPLIT_SHIFT}) AS sxx_hi,
               SUM((a.x6 * a.x6) & {mask}) AS sxx_lo,
               SUM((b.x6 * b.x6) >> {SPLIT_SHIFT}) AS syy_hi,
               SUM((b.x6 * b.x6) & {mask}) AS syy_lo,
               MIN(a.x6) AS mna, MAX(a.x6) AS mxa,
               MIN(b.x6) AS mnb, MAX(b.x6) AS mxb
        FROM r6 a
        JOIN r6 b ON a.{co} = b.{co} AND a.{key} < b.{key}
        {extra_join}
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_co}
    ),
    _pf AS (
        SELECT {out1}, {out2}, n_co, mna, mxa, mnb, mxb,
               CAST(n_co AS DOUBLE) * {sxy}
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
               CAST(n_co AS DOUBLE) * {sxx}
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
               CAST(n_co AS DOUBLE) * {syy}
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        FROM _ps
    ),
    s0 AS (
        SELECT * FROM (
            SELECT {out1}, {out2}, n_co,
                   CASE WHEN mna <> mxa AND mnb <> mxb
                             AND vx > 0.0 AND vy > 0.0
                        THEN FLOOR(cov / (sqrt(vx) * sqrt(vy))
                                   * 1000000.0 + 0.5) / 1000000.0
                   END AS sim
            FROM _pf
        ) WHERE sim IS NOT NULL
    )"""


# Prediction tail shared by the three CF prediction oracles: exact
# BIGINT micro-unit weighted average (operators/recommend's
# _weighted_pred twin) — Σ(sim_e6·r_e6) and Σ(sim_e6) are integer
# sums, the one division + floor quantization is IEEE-identical on
# both engines. {{sim_src}} must provide (k1, k2, sim); the caller
# splices the cand FROM/JOIN block.
_PRED_TAIL_SQL = """
    top AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY u, i ORDER BY sim6 DESC, nbr
        ) AS rk
        FROM cand
    )
    SELECT u, i,
           FLOOR(CAST(SUM(sim6 * rat6) AS DOUBLE)
                 / (CAST(SUM(sim6) AS DOUBLE) * 1000000.0)
                 * 10000.0 + 0.5) / 10000.0 AS pred
    FROM top WHERE rk <= 5
    GROUP BY u, i
    ORDER BY u, i
"""


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .agg(F.round(F.avg("l_quantity"), 6).alias("rating"))
    )


@query(
    "cf_item_similarities",
    f"""
    WITH r AS ({_RATINGS_SQL}),
    {_pearson_pairs_ctes("i", "u", "i1", "i2")}
    SELECT i1, i2, sim, n_co
    FROM s0
    ORDER BY i1, i2
    """,
)
def cf_item_similarities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recommend import item_similarities

    # cache like the sibling cf_* queries (r18, VERDICT task 3): the
    # Pearson self-join references the ratings aggregate on BOTH
    # sides, and Catalyst plans — and executes — the full scan + join
    # + avg aggregate once per side (plans/r18/cf_item_similarities
    # _before.txt nodes 1-12 vs 13-24, no cross-alias ReusedExchange).
    ratings = _ratings(spark, sf_dir).cache()
    return item_similarities(ratings, min_co=3).orderBy("i1", "i2")


@query(
    "cf_predictions",
    f"""
    WITH r AS ({_RATINGS_SQL}),
    {_pearson_pairs_ctes("i", "u", "i1", "i2")},
    s AS (
        SELECT i1, i2, sim FROM s0
        UNION ALL
        SELECT i2 AS i1, i1 AS i2, sim FROM s0
    ),
    t AS (SELECT u, i FROM r WHERE u < 50),
    cand AS (
        SELECT t.u, t.i, s.i2 AS nbr,
               CAST(ROUND(s.sim * 1000000.0) AS BIGINT) AS sim6,
               r2.x6 AS rat6
        FROM t
        JOIN s ON s.i1 = t.i
        JOIN r6 r2 ON r2.u = t.u AND r2.i = s.i2
        WHERE s.sim > 0
    ),
    {_PRED_TAIL_SQL}
    """,
)
def cf_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recommend import item_similarities, predict_ratings

    ratings = _ratings(spark, sf_dir).cache()
    sims = item_similarities(ratings, min_co=3)
    targets = ratings.where(F.col("u") < 50).select("u", "i")
    return predict_ratings(ratings, sims, targets, top_n=5).orderBy("u", "i")


# ---------------------------------------------------------------------------
# A15 user-based (A3 PDF §4.3 requires both models): user-user
# Pearson over co-rated items + top-N-similar-user weighted
# prediction. Exact mode is the oracle-backed entry; the LSH
# pre-filtered variant below is the scale path (rows-only —
# probabilistic banding recall; agreement pytest-asserted).
# ---------------------------------------------------------------------------
@query(
    "cf_user_predictions",
    f"""
    WITH r AS ({_RATINGS_SQL}),
    {_pearson_pairs_ctes("u", "i", "u1", "u2")},
    s AS (
        SELECT u1, u2, sim FROM s0
        UNION ALL
        SELECT u2 AS u1, u1 AS u2, sim FROM s0
    ),
    t AS (SELECT u, i FROM r WHERE u < 50),
    cand AS (
        SELECT t.u, t.i, s.u2 AS nbr,
               CAST(ROUND(s.sim * 1000000.0) AS BIGINT) AS sim6,
               r2.x6 AS rat6
        FROM t
        JOIN s ON s.u1 = t.u
        JOIN r6 r2 ON r2.u = s.u2 AND r2.i = t.i
        WHERE s.sim > 0
    ),
    {_PRED_TAIL_SQL}
    """,
)
def cf_user_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recommend import predict_ratings_user_based, user_similarities

    ratings = _ratings(spark, sf_dir).cache()
    sims = user_similarities(ratings, min_co=3)
    targets = ratings.where(F.col("u") < 50).select("u", "i")
    return predict_ratings_user_based(ratings, sims, targets, top_n=5).orderBy(
        "u", "i"
    )


# ---------------------------------------------------------------------------
# A16 second half (A3 PDF §4.2): content-based recommendation —
# boolean top-k TF-IDF item profiles (part description text), user
# profiles aggregated from rated items' profiles, boolean-cosine
# prediction keeping pairs >= 0.01.
# ---------------------------------------------------------------------------
@query(
    "content_based_scores",
    f"""
    WITH it AS (
        SELECT p_partkey AS i,
               translate(lower(p_name || ' ' || p_type), '([,.!?:;])', '') AS text
        FROM part
    ),
    tok AS (
        SELECT i, UNNEST(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS term
        FROM it
    ),
    tf AS (SELECT i, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    mx AS (SELECT i, MAX(tf) AS max_tf FROM tf GROUP BY 1),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM it),
    scored AS (
        SELECT tf.i, tf.term,
               ROUND((tf.tf * 1.0 / mx.max_tf) * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
        FROM tf JOIN mx USING (i) JOIN dfreq USING (term) CROSS JOIN n
    ),
    iprof AS (
        SELECT i, term FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY i ORDER BY tfidf DESC, term
            ) AS rnk FROM scored
        ) WHERE rnk <= 5
    ),
    r AS ({_RATINGS_SQL}),
    uterm AS (
        SELECT r.u, ip.term, COUNT(*) AS c
        FROM (SELECT DISTINCT u, i FROM r) r JOIN iprof ip ON ip.i = r.i
        GROUP BY 1, 2
    ),
    uprof AS (
        SELECT u, term FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY u ORDER BY c DESC, term
            ) AS rnk FROM uterm
        ) WHERE rnk <= 20
    ),
    usz AS (SELECT u, COUNT(*) AS nu FROM uprof GROUP BY 1),
    isz AS (SELECT i, COUNT(*) AS ni FROM iprof GROUP BY 1),
    t AS (SELECT u, i FROM r WHERE u < 50),
    inter AS (
        SELECT t.u, t.i, COUNT(*) AS c
        FROM t
        JOIN uprof up ON up.u = t.u
        JOIN iprof ip ON ip.i = t.i AND ip.term = up.term
        GROUP BY 1, 2
    )
    SELECT inter.u AS u, inter.i AS i,
           ROUND(c / sqrt(usz.nu * isz.ni), 6) AS cos_sim
    FROM inter JOIN usz ON usz.u = inter.u JOIN isz ON isz.i = inter.i
    WHERE c / sqrt(usz.nu * isz.ni) >= 0.01
    ORDER BY inter.u, inter.i
    """,
)
def content_based_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.content import content_based_scores, item_profiles, user_profiles

    part = load_table(spark, sf_dir, "part")
    item_docs = part.select(
        F.col("p_partkey").alias("i"),
        F.concat_ws(" ", "p_name", "p_type").alias("text"),
    )
    # Pin the two multi-consumer profile relations (the plan audit
    # counted 47 exchanges here without them — the TF-IDF subtree
    # behind iprof re-planned once per consumer: user_profiles, the
    # item-norm aggregate, and the intersection join; uprof likewise
    # twice). Both are SLIM (two columns) so the slim-vs-fat rule
    # allows the RDD pin; audited plan drops to 12 exchanges, values
    # identical (checked by the FULL oracle).
    iprof = item_profiles(item_docs, k=5).localCheckpoint(eager=False)
    ratings = _ratings(spark, sf_dir).cache()
    uprof = user_profiles(ratings, iprof, k=20).localCheckpoint(eager=False)
    targets = ratings.where(F.col("u") < 50).select("u", "i")
    return content_based_scores(uprof, iprof, targets, min_cos=0.01).orderBy(
        "u", "i"
    )


@query(
    "cf_user_predictions_lsh",
    f"""
    WITH r AS ({_RATINGS_SQL}),
    {_minhash_pairs_ctes(
        "SELECT u AS k, CAST(i AS VARCHAR) AS i FROM r",
        num_hashes=32,
        bands=16,
        threshold=None,
    )},
    {_pearson_pairs_ctes(
        "u", "i", "u1", "u2",
        extra_join="JOIN mh_pairs p ON p.a = a.u AND p.b = b.u",
    )},
    s AS (
        SELECT u1, u2, sim FROM s0
        UNION ALL
        SELECT u2 AS u1, u1 AS u2, sim FROM s0
    ),
    t AS (SELECT u, i FROM r WHERE u < 50),
    cand AS (
        SELECT t.u, t.i, s.u2 AS nbr,
               CAST(ROUND(s.sim * 1000000.0) AS BIGINT) AS sim6,
               r2.x6 AS rat6
        FROM t
        JOIN s ON s.u1 = t.u
        JOIN r6 r2 ON r2.u = s.u2 AND r2.i = t.i
        WHERE s.sim > 0
    ),
    {_PRED_TAIL_SQL}
    """,
)
def cf_user_predictions_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.recommend import (
        predict_ratings_user_based,
        user_candidate_pairs_lsh,
        user_similarities,
    )

    ratings = _ratings(spark, sf_dir).cache()
    cand = user_candidate_pairs_lsh(ratings, threshold=0.02)
    sims = user_similarities(ratings, min_co=3, candidate_pairs=cand)
    targets = ratings.where(F.col("u") < 50).select("u", "i")
    return predict_ratings_user_based(ratings, sims, targets, top_n=5).orderBy(
        "u", "i"
    )


# ---------------------------------------------------------------------------
# O4: sort by derived keys — (set size DESC, lexicographic ASC), the
# reference's itemset/community ordering rule
# (Assignment2/task1.py:133-135, Assignment4/task1.py:67-71).
# ---------------------------------------------------------------------------
@query(
    "largest_baskets",
    """
    SELECT o.o_custkey,
           array_to_string(list_sort(list(DISTINCT CAST(l.l_partkey AS VARCHAR))), ',') AS items,
           COUNT(DISTINCT l.l_partkey) AS n_items
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_custkey
    ORDER BY n_items DESC, items ASC, o.o_custkey ASC
    LIMIT 100
    """,
)
def largest_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Single collect_set aggregate (see baskets_by_customer): size of
    # the sorted set IS the distinct count — no second distinct pass.
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_set(F.col("l_partkey").cast("string"))).alias(
                "_set"
            )
        )
        .select(
            "o_custkey",
            F.concat_ws(",", "_set").alias("items"),
            F.size("_set").cast("long").alias("n_items"),
        )
        .orderBy(
            F.col("n_items").desc(), F.col("items").asc(), F.col("o_custkey").asc()
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# F2: split + trim + explode (reference category split,
# Assignment1/task2.py:37) — on the dash-delimited order priority.
# ---------------------------------------------------------------------------
@query(
    "priority_token_counts",
    """
    SELECT token, COUNT(*) AS n
    FROM (
        SELECT UNNEST(list_transform(
            string_split(o_orderpriority, '-'), x -> trim(x))) AS token
        FROM orders
    )
    GROUP BY token ORDER BY token
    """,
)
def priority_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import split_trim

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.explode(split_trim("o_orderpriority", "-")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing demo: documents' text re-encoded as an opaque
# binary payload column, features extracted via Arrow-batched
# mapInPandas (deterministic fake decoder — see operators/multimodal
# for the stub contract). Rows-only: binary/UDF path is
# engine-specific; shape and determinism pytest-asserted.
# ---------------------------------------------------------------------------
# The fake feature vector is deterministic byte arithmetic
# (sum of every-8th payload byte mod 997), and the documents corpus
# is ASCII (asserted by the oracle-parity test), so the oracle can
# replay it on character positions — proving the mapInPandas plumbing
# end-to-end, not just row counts. A planted constant PNG row (r9
# verdict ask 6) additionally drives the REAL zlib+numpy PNG decoder
# through the same mapInPandas plumbing: its expected feature is
# pinned from the PIXEL CONSTANTS below (never by running the
# decoder), so a decode regression flips the driver row red on
# VALUES.
def _demo_png() -> tuple[bytes, int, int]:
    """Deterministic 16x12 RGB PNG whose row filters cycle through
    all five PNG filter types. Returns (payload, total_bytes,
    f0_mean_ppm): the payload bytes are stable across environments
    (encode_png emits STORED deflate blocks), and f0_mean_ppm is
    derived from the raw pixel constants — independent of
    _decode_png, which must reproduce it through decode + pixel
    stats + the f0_k integerization at query time."""
    import numpy as np

    from .operators.multimodal import encode_png

    w, h = 16, 12
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    px = np.stack(
        [(x * 31 + y * 17) % 256, (x * 13 + y * 7) % 256, (x * 5 + y * 3) % 256],
        axis=-1,
    ).astype(np.uint8)
    payload = encode_png(w, h, px.tobytes(), [i % 5 for i in range(h)])
    # mirror _pixel_features' f0 (R-channel mean / 255) and the
    # query's integerization: k = round(f0 * 997), ppm = round(k *
    # 1e6 / 997) — same float64 op order, half-up like Spark/DuckDB
    f0 = float(px[..., 0].astype(np.float64).sum()) / (255.0 * w * h)
    k = int(np.floor(f0 * 997.0 + 0.5))
    ppm = int(np.floor(k * 1000000.0 / 997.0 + 0.5))
    return payload, len(payload), ppm


_DEMO_PNG_PAYLOAD, _DEMO_PNG_BYTES, _DEMO_PNG_PPM = _demo_png()


def _demo_wav() -> tuple[bytes, int, int]:
    """Deterministic mono 16-bit PCM WAV probe (r11 — the audio twin
    of the PNG probe): a ±8192 square wave, so every sample is
    exactly ±0.25 and the mono RMS (features[0] of _audio_features)
    is EXACTLY 0.25 by construction. f0_mean_ppm is pinned from that
    amplitude constant — never by running _decode_wav, which must
    reproduce it through RIFF parse + PCM scale + RMS at query
    time."""
    import numpy as np

    from .operators.multimodal import encode_wav

    amp = 8192  # /32768 = 0.25, dyadic -> exact in float64
    frames = np.empty((1000, 1), dtype=np.int16)
    frames[0::2, 0] = amp
    frames[1::2, 0] = -amp
    payload = encode_wav(8000, 1, frames)
    f0 = amp / 32768.0
    k = int(np.floor(f0 * 997.0 + 0.5))
    ppm = int(np.floor(k * 1000000.0 / 997.0 + 0.5))
    return payload, len(payload), ppm


_DEMO_WAV_PAYLOAD, _DEMO_WAV_BYTES, _DEMO_WAV_PPM = _demo_wav()


def _demo_gif() -> tuple[bytes, int, int]:
    """Deterministic 6x4 uniform-color GIF probe (r11): every pixel
    is RGB(51, 102, 204), so the R-channel mean (features[0] of
    _pixel_features) is exactly sum(51*24)/(255*24) — pinned from
    those constants, never by running _decode_gif, which must
    reproduce it through LZW decode + palette lookup + pixel stats
    at query time."""
    import numpy as np

    from .operators.multimodal import encode_gif

    w, h = 6, 4
    px = np.tile(np.array([51, 102, 204], dtype=np.uint8), (w * h, 1))
    payload = encode_gif(w, h, px.tobytes())
    f0 = (51.0 * w * h) / (255.0 * w * h)
    k = int(np.floor(f0 * 997.0 + 0.5))
    ppm = int(np.floor(k * 1000000.0 / 997.0 + 0.5))
    return payload, len(payload), ppm


_DEMO_GIF_PAYLOAD, _DEMO_GIF_BYTES, _DEMO_GIF_PPM = _demo_gif()


def _demo_jpeg() -> tuple[bytes, int, int]:
    """Deterministic 8x8 solid-gray baseline JPEG probe (r11): gray
    level 180 means Y=180, Cb=Cr=128 exactly, the single block is
    flat with DC = 8*(180-128) = 416, and the flat quant step 16
    divides it exactly — so _decode_jpeg must reproduce the constant
    180 bit-for-bit through Huffman + dequant + IDCT + color
    transform (encode_jpeg docstring spells the argument). f0 is
    pinned from the gray constant, never by running the decoder."""
    import numpy as np

    from .operators.jpeg import encode_jpeg

    v = 180
    px = np.full((8, 8, 3), v, dtype=np.uint8)
    payload = encode_jpeg(8, 8, px.tobytes())
    f0 = v / 255.0
    k = int(np.floor(f0 * 997.0 + 0.5))
    ppm = int(np.floor(k * 1000000.0 / 997.0 + 0.5))
    return payload, len(payload), ppm


_DEMO_JPEG_PAYLOAD, _DEMO_JPEG_BYTES, _DEMO_JPEG_PPM = _demo_jpeg()


def _demo_flac() -> tuple[bytes, int, int]:
    """Deterministic mono FLAC probe (r13 — drives the r12 pure-
    integer FLAC decoder through an oracle-checked query, not just
    its round-trip pytests): the same ±8192 square wave as the WAV
    probe, Rice-coded through the order-2 fixed predictor, so the
    decoded samples are exactly ±0.25 and the mono RMS (features[0]
    of _audio_features) is EXACTLY 0.25 by construction. f0_mean_ppm
    is pinned from that amplitude constant — never by running
    _decode_flac, which must reproduce it through frame parse + Rice
    decode + fixed-predictor reconstruction + CRC checks at query
    time."""
    import numpy as np

    from .operators.flac import encode_flac

    amp = 8192  # /32768 = 0.25, dyadic -> exact in float64
    frames = np.empty((1000, 1), dtype=np.int64)
    frames[0::2, 0] = amp
    frames[1::2, 0] = -amp
    payload = encode_flac(8000, 1, frames, strategy="fixed2")
    f0 = amp / 32768.0
    k = int(np.floor(f0 * 997.0 + 0.5))
    ppm = int(np.floor(k * 1000000.0 / 997.0 + 0.5))
    return payload, len(payload), ppm


_DEMO_FLAC_PAYLOAD, _DEMO_FLAC_BYTES, _DEMO_FLAC_PPM = _demo_flac()


@query(
    "media_feature_rollup",
    f"""
    WITH f AS (
      SELECT source AS modality, strlen(text) AS n_bytes,
             (list_sum(list_transform(range(1, strlen(text) + 1, 8),
                  i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1))
                            AS BIGINT)))
              % 997) AS f0_k
      FROM documents
    )
    SELECT modality, n_items, total_bytes, f0_mean_ppm FROM (
        SELECT modality, COUNT(*) AS n_items,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               CAST(ROUND(SUM(f0_k) * 1000000.0 / (997.0 * COUNT(*)))
                    AS BIGINT) AS f0_mean_ppm
        FROM f GROUP BY modality
        UNION ALL
        SELECT '_probe_png' AS modality, CAST(1 AS BIGINT) AS n_items,
               CAST({_DEMO_PNG_BYTES} AS BIGINT) AS total_bytes,
               CAST({_DEMO_PNG_PPM} AS BIGINT) AS f0_mean_ppm
        UNION ALL
        SELECT '_probe_wav' AS modality, CAST(1 AS BIGINT) AS n_items,
               CAST({_DEMO_WAV_BYTES} AS BIGINT) AS total_bytes,
               CAST({_DEMO_WAV_PPM} AS BIGINT) AS f0_mean_ppm
        UNION ALL
        SELECT '_probe_gif' AS modality, CAST(1 AS BIGINT) AS n_items,
               CAST({_DEMO_GIF_BYTES} AS BIGINT) AS total_bytes,
               CAST({_DEMO_GIF_PPM} AS BIGINT) AS f0_mean_ppm
        UNION ALL
        SELECT '_probe_jpg' AS modality, CAST(1 AS BIGINT) AS n_items,
               CAST({_DEMO_JPEG_BYTES} AS BIGINT) AS total_bytes,
               CAST({_DEMO_JPEG_PPM} AS BIGINT) AS f0_mean_ppm
        UNION ALL
        SELECT '_probe_flac' AS modality, CAST(1 AS BIGINT) AS n_items,
               CAST({_DEMO_FLAC_BYTES} AS BIGINT) AS total_bytes,
               CAST({_DEMO_FLAC_PPM} AS BIGINT) AS f0_mean_ppm
    ) ORDER BY modality
    """,
)
def media_feature_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    # '_probe_png', not 'png' (r10 advice): a corpus that ever ships
    # source='png' would merge with a bare 'png' probe row on the
    # Spark side while the oracle UNION ALL keeps two rows — the
    # sentinel can't collide with any corpus source value.
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("source").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    ).unionByName(
        # one literal DataFrame for ALL probe rows — a single tiny
        # scan+union stage regardless of probe count (the r10->r11
        # probe cost lesson: each separate union added ~1 s)
        spark.createDataFrame(
            [
                (-1, "_probe_png", bytearray(_DEMO_PNG_PAYLOAD)),
                (-2, "_probe_wav", bytearray(_DEMO_WAV_PAYLOAD)),
                (-3, "_probe_gif", bytearray(_DEMO_GIF_PAYLOAD)),
                (-4, "_probe_jpg", bytearray(_DEMO_JPEG_PAYLOAD)),
                (-5, "_probe_flac", bytearray(_DEMO_FLAC_PAYLOAD)),
            ],
            "media_id long, modality string, payload binary",
        )
    )
    # f0 is k/997 with k an integer in [0, 996]; round(f0*997)
    # recovers k exactly, so both sides sum integers and perform one
    # identical double division — no accumulated-float value ever
    # reaches the driver's hash.
    feats = extract_features(media).withColumn(
        "f0_k",
        F.round(F.element_at("features", 1) * F.lit(997.0)).cast("bigint"),
    )
    return (
        feats.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(
                F.sum("f0_k") * F.lit(1000000.0)
                / (F.lit(997.0) * F.count(F.lit(1)))
            )
            .cast("bigint")
            .alias("f0_mean_ppm"),
        )
        .orderBy("modality")
    )


# ---------------------------------------------------------------------------
# X38 perceptual media dedup (r16): dHash over the REAL pure-Python
# image decoders + Manku-banded Hamming pairing (the simhash scheme
# on the image side). Planted probes drive the full path: image A, a
# pixel-perturbed near-dup A' (dHash Hamming 2 — pinned at build
# time, never by running the decoder in the oracle), and a far image
# C (inverted gradient, Hamming 64 from both). Corpus text payloads
# don't decode → the exact md5-fallback space, where byte-identical
# texts pair at Hamming 0 (validated against exact_duplicate_groups
# by pytest). Rows-only by nature (the decoder is not
# SQL-expressible); tests/test_multimodal.py pins the planted pairs
# and the fallback-equals-exact-dup property.
# ---------------------------------------------------------------------------
def _demo_png_variants() -> tuple[bytes, bytes]:
    """(near-dup of _DEMO_PNG_PAYLOAD, far image): A' bumps a 2x2-ish
    block (+120 luma on rows 5:7 x cols 8:10 — flips exactly 2 dHash
    comparisons); C inverts the gradient (flips all 64)."""
    import numpy as np

    from .operators.multimodal import encode_png

    w, h = 16, 12
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    px = np.stack(
        [(x * 31 + y * 17) % 256, (x * 13 + y * 7) % 256, (x * 5 + y * 3) % 256],
        axis=-1,
    ).astype(np.uint8)
    near = px.astype(int)
    near[5:7, 8:10, :] = np.clip(near[5:7, 8:10, :] + 120, 0, 255)
    far = (255 - px).astype(np.uint8)
    return (
        encode_png(w, h, near.astype(np.uint8).tobytes(), [0] * h),
        encode_png(w, h, far.tobytes(), [0] * h),
    )


def _media_with_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared X38 media relation: corpus texts as undecodable
    binary payloads plus the planted image probes (A, its pixel-
    perturbed near-dup, a far image, and a byte-identical blob twin
    pair for the md5 fallback space)."""
    docs = load_table(spark, sf_dir, "documents")
    near_payload, far_payload = _demo_png_variants()
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("source").alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    ).unionByName(
        spark.createDataFrame(
            [
                (-11, "_probe_img_a", bytearray(_DEMO_PNG_PAYLOAD)),
                (-12, "_probe_img_near", bytearray(near_payload)),
                (-13, "_probe_img_far", bytearray(far_payload)),
                # byte-identical UNDECODABLE payloads: the md5
                # fallback space must pair them at Hamming 0 (the
                # corpus itself has no byte-identical raw texts —
                # its planted dups differ pre-normalization)
                (-14, "_probe_blob_dup", bytearray(b"opaque-blob-payload")),
                (-15, "_probe_blob_dup", bytearray(b"opaque-blob-payload")),
            ],
            "media_id long, modality string, payload binary",
        )
    )


@query("media_phash_pairs")
def media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_near_dup_pairs

    media = _media_with_probes(spark, sf_dir)
    return media_near_dup_pairs(media, bands=8, hamming_max=6).orderBy(
        "a", "b"
    )


# Perceptual pairs → connected components → keep-best canonical per
# perceptual cluster (largest payload, ties to smallest id) —
# dedup_keep_best_docs on the media axis. Rows-only by nature (the
# image decoder is not SQL-expressible); the planted-cluster
# collapse, fallback-space purity, and keep rule are pytest-pinned
# (tests/test_multimodal.py).
@query("media_dedup_canonical")
def media_dedup_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import media_dedup_canonical

    media = _media_with_probes(spark, sf_dir)
    return media_dedup_canonical(media, bands=8, hamming_max=6).orderBy(
        "media_id"
    )


def _exact_dup_edges(docs: DataFrame) -> DataFrame:
    """(a, b) edges joining every exact duplicate (same normalized
    text) to its group's min doc_id."""
    from .operators.dedup import exact_duplicate_groups

    return (
        exact_duplicate_groups(docs)
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select(F.col("doc_id").alias("a"), F.col("canonical_id").alias("b"))
    )


# End-to-end dedup pipeline: exact-hash groups ∪ near-dup (exact
# Jaccard >= 0.5) pairs → connected components → one canonical doc
# (min doc_id) per duplicate cluster; every doc mapped, singletons to
# themselves. The composition a corpus-cleaning pass actually runs:
# transitive closure matters because A≈B and B≈C must collapse to one
# survivor even when A,C aren't directly similar.
@query(
    "dedup_canonical_docs",
    f"""
    WITH h AS (
        SELECT doc_id, translate(lower(text), '([,.!?:;])', '') AS norm
        FROM documents
    ),
    g AS (SELECT norm, MIN(doc_id) AS canonical_id FROM h GROUP BY norm),
    exact_edges AS (
        SELECT h.doc_id AS src, g.canonical_id AS dst
        FROM h JOIN g USING (norm) WHERE h.doc_id <> g.canonical_id
    ),
    sh AS ({_DOC_SHINGLES_SQL}),
    near_edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    ),
    undirected AS (
        SELECT src, dst FROM exact_edges
        UNION SELECT dst, src FROM exact_edges
        UNION SELECT src, dst FROM near_edges
        UNION SELECT dst, src FROM near_edges
    ),
    {_cc_pointer_jump_ctes()}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import cluster_survivors, doc_shingle_pairs
    from .operators.similarity import exact_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    near = exact_jaccard_pairs(
        doc_shingle_pairs(docs), "doc_id", "shingle", threshold=0.5
    )
    return (
        cluster_survivors(
            docs.select("doc_id"),
            "doc_id",
            _exact_dup_edges(docs).unionByName(near.select("a", "b")),
        )
        .select("doc_id", F.col("best_id").alias("canonical_id"))
        .orderBy("doc_id")
    )


# Multimodal frame sampling: 1 media row → 4 frame rows inside
# mapInPandas (the video-pipeline expansion shape). Payload is the
# utf-8 text bytes, duration = byte length (docs are ASCII), so the
# deterministic chunking fake is exactly replayable in SQL.
@query(
    "media_frame_sample",
    """
    WITH d AS (
      SELECT doc_id AS media_id, strlen(text) AS n FROM documents
    )
    SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
           CAST((i * n) // 4 AS INTEGER) AS ts_ms,
           CAST(CASE WHEN i < 3
                THEN GREATEST(LEAST(n - i * GREATEST(n // 4, 1),
                                    GREATEST(n // 4, 1)), 0)
                ELSE GREATEST(n - 3 * GREATEST(n // 4, 1), 0)
           END AS INTEGER) AS n_bytes
    FROM d CROSS JOIN generate_series(0, 3) AS t(i)
    ORDER BY media_id, frame_idx
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.length("text").alias("meta_duration_ms"),
    )
    return (
        sample_frames(media, n_frames=4)
        .select(
            "media_id",
            "frame_idx",
            "ts_ms",
            F.length("frame_payload").cast("int").alias("n_bytes"),
        )
        .orderBy("media_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# §2.4 hypertable-style rollup: the same events scanned ONCE and
# aggregated at two time granularities in one shuffle — the grain
# axis is exploded per row (array of (grain, bucket) structs), so the
# multi-grain continuous-aggregate shape costs a single pass with
# map-side partial aggregation, not one scan per grain. The oracle
# spells it as the equivalent UNION ALL.
# ---------------------------------------------------------------------------
@query(
    "event_rollup_multigrain",
    """
    SELECT grain, bucket, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM (
        SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket,
               event_type, value FROM events
        UNION ALL
        SELECT 'day' AS grain, date_trunc('day', ts) AS bucket,
               event_type, value FROM events
    )
    GROUP BY grain, bucket, event_type
    ORDER BY grain, bucket, event_type
    """,
)
def event_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    grains = F.array(
        F.struct(
            F.lit("hour").alias("grain"),
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        ),
        F.struct(
            F.lit("day").alias("grain"),
            F.date_trunc("day", F.col("ts")).alias("bucket"),
        ),
    )
    return (
        events.select(F.explode(grains).alias("g"), "event_type", "value")
        .groupBy(
            F.col("g.grain").alias("grain"),
            F.col("g.bucket").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("grain", "bucket", "event_type")
    )


# ---------------------------------------------------------------------------
# §2.4 grouping-sets family: CUBE over (returnflag, linestatus) with
# grouping_id disambiguating rolled-up NULLs from data NULLs —
# completes rollup (rollup_revenue) / pivot (pivot_status_by_priority)
# / multi-grain (event_rollup_multigrain). One shuffle: Catalyst
# expands the grouping sets map-side (Expand node), partials combine
# before the exchange.
# ---------------------------------------------------------------------------
@query(
    "revenue_cube",
    """
    SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
           l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            # grouping_id() is only resolvable inside the cube's agg
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .select("gid", "l_returnflag", "l_linestatus", "n", "revenue")
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# §2.4 distribution stats: per-language doc-length percentiles.
# Spark's exact interpolating `percentile` aggregate == DuckDB's
# quantile_cont (both linear interpolation on the sorted values), so
# this is fully oracle-backed. The corpus-scale variant swaps in
# approx_percentile (t-digest-style sketch, mergeable map-side) — the
# exact form here doubles as its accuracy oracle.
# ---------------------------------------------------------------------------
@query(
    "doc_length_percentiles",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
           ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
           ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.5D, 0.9D, 0.99D))")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(pct.getItem(0), 4).alias("p50"),
            F.round(pct.getItem(1), 4).alias("p90"),
            F.round(pct.getItem(2), 4).alias("p99"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Approximate twin of doc_length_percentiles: percentile_approx
# (Spark's GK/t-digest-style mergeable quantile sketch — constant
# memory per group + map-side partial merge, where the exact
# percentile buffers every value per group). Rows-only by nature
# (sketch internals are engine-specific); the rank-error bound vs the
# exact twin is pytest-asserted — the A12-style accuracy contract.
# ---------------------------------------------------------------------------
@query("doc_length_percentiles_approx")
def doc_length_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pct = F.expr(
        "percentile_approx(n_chars, array(0.5D, 0.9D, 0.99D), 10000)"
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(pct.getItem(0).cast("double"), 4).alias("p50"),
            F.round(pct.getItem(1).cast("double"), 4).alias("p90"),
            F.round(pct.getItem(2).cast("double"), 4).alias("p99"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Semantically-checked driver row for the two rows-only sketch tiers
# (the ann_recall_check / betweenness_mass_check pattern): the HLL
# distinct estimate and percentile_approx's rank accuracy are pinned
# against exact anchors the DuckDB oracle genuinely recomputes
# (exact COUNT(DISTINCT) and the exact interpolated median). If
# either sketch degrades past its bound, the Spark side emits
# within_bound=false and the driver row goes red on VALUES, not
# just rows. Bounds: HLL rsd=0.02 -> |rel err| <= 0.05 (2.5
# sigma; the sketch is deterministic for fixed data, so this is a
# regression pin, not a coin flip); percentile_approx accuracy=10000
# -> the returned value's tie-aware rank interval must contain the
# target quantile within eps=0.005.
# ---------------------------------------------------------------------------
@query(
    "sketch_error_check",
    """
    SELECT 'hll_user_id' AS metric,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS DOUBLE)
               AS exact_anchor,
           TRUE AS within_bound
    UNION ALL
    SELECT 'pctl_doc_nchars' AS metric,
           ROUND((SELECT MEDIAN(n_chars) FROM documents), 4) AS exact_anchor,
           TRUE AS within_bound
    ORDER BY metric
    """,
)
def sketch_error_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import approx_distinct

    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    hll_row = events.agg(
        F.count_distinct("user_id").alias("exact"),
        approx_distinct("user_id", rsd=0.02).alias("est"),
    ).select(
        F.lit("hll_user_id").alias("metric"),
        F.col("exact").cast("double").alias("exact_anchor"),
        (
            F.abs(F.col("est").cast("double") / F.col("exact") - 1.0) <= 0.05
        ).alias("within_bound"),
    )
    pcts = [0.5, 0.9, 0.99]
    apx = docs.agg(
        F.expr(
            "percentile_approx(n_chars, array(0.5D, 0.9D, 0.99D), 10000)"
        ).alias("v"),
        F.expr("percentile(n_chars, 0.5D)").alias("p50_exact"),
    )
    targets = apx.select(
        "p50_exact", F.posexplode("v").alias("idx", "val")
    ).withColumn(
        "p", F.element_at(F.array(*[F.lit(p) for p in pcts]), F.col("idx") + 1)
    )
    # Tie-aware rank interval of each approx value in the exact CDF:
    # the sketch is accurate iff p ∈ [frac(< val) - ε, frac(<= val) + ε].
    # The 3-row targets side broadcasts; the fact side is one scan with
    # map-side partial aggregation — no shuffle growth at any SF.
    eps = 0.005
    ranked = (
        docs.crossJoin(F.broadcast(targets))
        .groupBy("idx", "p", "val", "p50_exact")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("n_chars") < F.col("val")).cast("long")).alias("n_lt"),
            F.sum((F.col("n_chars") <= F.col("val")).cast("long")).alias("n_le"),
        )
    )
    pct_row = ranked.agg(
        F.lit("pctl_doc_nchars").alias("metric"),
        F.round(F.first("p50_exact"), 4).alias("exact_anchor"),
        F.bool_and(
            (F.col("n_lt") / F.col("n") - eps <= F.col("p"))
            & (F.col("p") <= F.col("n_le") / F.col("n") + eps)
        ).alias("within_bound"),
    )
    return hll_row.unionByName(pct_row).orderBy("metric")


# ---------------------------------------------------------------------------
# §2.3 broadcast range join: events banded into non-uniform value
# tiers via a BETWEEN theta-join against a tiny literal dim. Catalyst
# plans BroadcastNestedLoopJoin — with a handful of broadcast rows
# the per-row cost is a few comparisons, the correct plan at any fact
# size (the dim is constant-size; nothing shuffles).
# ---------------------------------------------------------------------------
_VALUE_TIERS = [  # (tier, lo inclusive, hi exclusive) — non-uniform on purpose
    ("micro", 0.0, 1.0),
    ("small", 1.0, 20.0),
    ("mid", 20.0, 100.0),
    ("large", 100.0, 250.0),
    ("jumbo", 250.0, 1e9),
]


@query(
    "event_value_tier_counts",
    """
    WITH tiers(tier, lo, hi) AS (VALUES
        ('micro', 0.0, 1.0),
        ('small', 1.0, 20.0),
        ('mid', 20.0, 100.0),
        ('large', 100.0, 250.0),
        ('jumbo', 250.0, 1e9)
    )
    SELECT t.tier, COUNT(*) AS n, ROUND(AVG(e.value), 4) AS avg_value
    FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier
    ORDER BY t.tier
    """,
)
def event_value_tier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("value")
    tiers = spark.createDataFrame(_VALUE_TIERS, "tier string, lo double, hi double")
    return (
        events.join(
            F.broadcast(tiers),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# X20: as-of (point-in-time) join — for each 'view' event, the same
# user's most recent 'purchase' at-or-before it. DuckDB's native ASOF
# JOIN is the oracle; the engine side is the union + running-last
# single-shuffle merge (operators/temporal.py), not a range join.
# ---------------------------------------------------------------------------
@query(
    "asof_last_purchase",
    """
    WITH v AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT v.event_id, v.user_id, v.ts, p.purchase_event_id, p.purchase_ts
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ts >= p.purchase_ts
    ORDER BY v.event_id
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    return asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="purchase_ts",
        inclusive=True,
        how="left",
    ).select(
        "event_id", "user_id", "ts", "purchase_event_id", "purchase_ts"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Scale path: the dedup pipeline with LSH-candidate near-dup
# edges instead of the exact all-pairs plan. At 100 TB the exact
# prefix-filtered self-join is the ORACLE TWIN (dedup_canonical_docs,
# recursive-CTE verified); this variant is what actually ships —
# banded MinHash buckets generate candidates, exact-Jaccard verify
# keeps precision 1.0, so LSH recall < 1 can only MISS edges, never
# fabricate them. Consequence (pytest-asserted): its clusters are a
# REFINEMENT of the exact pipeline's — no false merges, ever.
# Fully oracle-backed: the md5 minhash family + bucket enumeration
# replays the banding, and pointer-jumping CC keeps the oracle
# linear in the edge count (a recursive-CTE closure's Σ|C|² reach
# blow-up would pin it to sf0.01).
# ---------------------------------------------------------------------------
@query(
    "dedup_canonical_docs_lsh",
    f"""
    WITH h AS (
        SELECT doc_id, translate(lower(text), '([,.!?:;])', '') AS norm
        FROM documents
    ),
    g AS (SELECT norm, MIN(doc_id) AS canonical_id FROM h GROUP BY norm),
    exact_edges AS (
        SELECT h.doc_id AS src, g.canonical_id AS dst
        FROM h JOIN g USING (norm) WHERE h.doc_id <> g.canonical_id
    ),
    {_minhash_pairs_ctes(
        f"SELECT doc_id AS k, unnest(s) AS i FROM ({_DOC_SHINGLES_SQL})",
        num_hashes=64,
        bands=32,
        threshold=0.5,
    )},
    undirected AS (
        SELECT src, dst FROM exact_edges
        UNION SELECT dst, src FROM exact_edges
        UNION SELECT a AS src, b AS dst FROM mh_pairs
        UNION SELECT b AS src, a AS dst FROM mh_pairs
    ),
    {_cc_pointer_jump_ctes()}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_canonical_docs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import cluster_survivors

    docs = load_table(spark, sf_dir, "documents")
    return (
        cluster_survivors(
            docs.select("doc_id"),
            "doc_id",
            _exact_dup_edges(docs).unionByName(
                _lsh_doc_pairs(docs).select("a", "b")
            ),
        )
        .select("doc_id", F.col("best_id").alias("canonical_id"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# QUALITY-AWARE canonical selection. The min-id canonical is the
# oracle-friendly convention; what a real pipeline keeps from each
# duplicate cluster is its BEST member — here the longest document
# (n_tokens desc, doc_id tie-break: more content survives,
# deterministic). Same LSH edges + CC as
# dedup_canonical_docs_lsh, plus one window argmax per component —
# all replayed in SQL, FULL oracle.
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_best_docs",
    f"""
    WITH h AS (
        SELECT doc_id, translate(lower(text), '([,.!?:;])', '') AS norm
        FROM documents
    ),
    g AS (SELECT norm, MIN(doc_id) AS canonical_id FROM h GROUP BY norm),
    exact_edges AS (
        SELECT h.doc_id AS src, g.canonical_id AS dst
        FROM h JOIN g USING (norm) WHERE h.doc_id <> g.canonical_id
    ),
    {{mh_ctes}},
    undirected AS (
        SELECT src, dst FROM exact_edges
        UNION SELECT dst, src FROM exact_edges
        UNION SELECT a AS src, b AS dst FROM mh_pairs
        UNION SELECT b AS src, a AS dst FROM mh_pairs
    ),
    {{cc_ctes}},
    q AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(
                   translate(lower(text), '([,.!?:;])', ''), '\\s+'),
                   x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    m AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ),
    best AS (
        SELECT grp, doc_id AS best_id FROM (
            SELECT m.grp, m.doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY m.grp
                       ORDER BY q.n_tokens DESC, m.doc_id) AS rn
            FROM m JOIN q USING (doc_id)
        ) WHERE rn = 1
    )
    SELECT m.doc_id, b.best_id,
           m.doc_id = b.best_id AS is_kept
    FROM m JOIN best b ON b.grp = m.grp
    ORDER BY m.doc_id
    """.format(
        mh_ctes=_minhash_pairs_ctes(
            f"SELECT doc_id AS k, unnest(s) AS i FROM ({_DOC_SHINGLES_SQL})",
            num_hashes=64,
            bands=32,
            threshold=0.5,
        ),
        cc_ctes=_cc_pointer_jump_ctes(),
    ),
)
def dedup_keep_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize, tokenize
    from .operators.dedup import cluster_survivors

    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(tokenize(normalize(F.col("text")))).cast("long").alias("n_tokens"),
    )
    return (
        cluster_survivors(
            sized,
            "doc_id",
            _exact_dup_edges(docs).unionByName(
                _lsh_doc_pairs(docs).select("a", "b")
            ),
            order=[F.col("n_tokens").desc()],
        )
        .select("doc_id", "best_id", "is_kept")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: deterministic hash-based train/test split.
# Assignment is a pure function of the key — affine hash mod 100
# (the F7 universal-hash family over an integer key, so the exact
# arithmetic replays in SQL) — giving a split that is reproducible
# across runs, engines, and backfills, never sampled state. The
# scale property: no shuffle at all — a codegen projection decides
# each row's split at scan time.
# ---------------------------------------------------------------------------
def _split_tagged(docs: DataFrame) -> DataFrame:
    """(doc_id, split): 'train' for 80% of doc_ids, 'test' for the
    rest, by the affine hash ((1103515245 * id + 12345) mod p) mod 100
    that _SPLIT_SQL replays."""
    # pmod the key through the modulus BEFORE the affine multiply:
    # 1103515245 * (doc_id % p) peaks at ~2.4e18 < int64 max, so the
    # projection can never overflow under ANSI mode no matter how
    # large doc_id grows; folding after the multiply would throw for
    # doc_id > ~8.3e9 (identical residues mod p for doc_id >= 0).
    bucket = F.pmod(
        F.pmod(
            F.lit(1103515245) * F.pmod(F.col("doc_id"), F.lit(2147483647))
            + F.lit(12345),
            F.lit(2147483647),
        ),
        F.lit(100),
    )
    return docs.select(
        "doc_id", F.when(bucket < 80, "train").otherwise("test").alias("split")
    )


def _split_grams(docs: DataFrame, tagged: DataFrame) -> DataFrame:
    """(doc_id, split, g): each doc's word-3-gram shingles compressed
    to the 60-bit md5-derived hash, tagged with the doc's split.

    Hashing before the pin means the distinct and the overlap joins
    shuffle 8-byte bigints instead of raw 3-gram strings; the oracle
    replays the identical hash (even a collision collides on both
    engines), so the driver row stays a FULL value check. The lazy
    checkpoint lets every consumer share one (regex-heavy) shingle
    build and documents scan instead of re-running it per consumer.
    """
    from .functions.hashing import md5_hash60
    from .operators.dedup import doc_shingle_pairs

    return (
        doc_shingle_pairs(docs)
        .join(tagged, "doc_id")
        .select("doc_id", "split", md5_hash60("shingle").alias("g"))
        .localCheckpoint(eager=False)
    )


@query(
    "train_test_split_counts",
    """
    WITH tagged AS (
        SELECT doc_id,
               CASE WHEN ((1103515245 * (doc_id % 2147483647) + 12345) % 2147483647) % 100 < 80
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _split_tagged(docs)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# X25 windowed twin: per-day Count-Min heavy-hitter users — the
# sketch's streaming shape: one bounded counter grid PER time window
# (day × depth × width rows total, regardless of event volume), built
# in a single map-side-partial groupBy; a late-data backfill merges
# by (day, i, pos) sum without rescanning history. Top-3 users per
# day by the min-of-counters estimate. FULL oracle (same md5 'cm'
# hash streams, width 256).
# ---------------------------------------------------------------------------
_CM256_POS_SQL = (
    "CAST(('0x' || substr(md5(concat('cm', i, '|', CAST(user_id AS VARCHAR))), 1, 15))"
    " AS BIGINT) % 256"
)


@query(
    "window_heavy_hitter_users",
    f"""
    WITH ev AS (
      -- DuckDB's date_trunc('day', …) yields DATE (hour yields
      -- TIMESTAMP); cast so the column type matches Spark's TIMESTAMP
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
      FROM events
    ),
    idx AS (SELECT unnest(range(4)) AS i),
    grid AS (
      SELECT day, i, {_CM256_POS_SQL} AS pos, COUNT(*) AS c
      FROM ev CROSS JOIN idx GROUP BY 1, 2, 3
    ),
    cand AS (SELECT DISTINCT day, user_id FROM ev),
    est AS (
      SELECT cand.day, cand.user_id, MIN(grid.c) AS est
      FROM (SELECT day, user_id, i, {_CM256_POS_SQL} AS pos
            FROM cand CROSS JOIN idx) cand
      JOIN grid USING (day, i, pos)
      GROUP BY cand.day, cand.user_id
    )
    SELECT day, user_id, est, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT day, user_id, est,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY est DESC, user_id ASC) AS rnk
      FROM est
    ) WHERE rnk <= 3
    ORDER BY day, rnk
    """,
)
def window_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import _cm_pos

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    width, depth = 256, 4
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _cm_pos(F.col("user_id"), i, width).alias("pos"),
                )
                for i in range(depth)
            ]
        )
    ).alias("_cell")
    grid = (
        ev.select("day", cell)
        .select("day", "_cell.i", "_cell.pos")
        .groupBy("day", "i", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = (
        ev.distinct()
        .select("day", "user_id", cell)
        .select("day", "user_id", "_cell.i", "_cell.pos")
    )
    est = (
        cand.join(grid, ["day", "i", "pos"])
        .groupBy("day", "user_id")
        .agg(F.min("c").alias("est"))
    )
    w = Window.partitionBy("day").orderBy(F.col("est").desc(), F.col("user_id").asc())
    return (
        est.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .orderBy("day", "rnk")
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination detection — the train/test overlap check
# every LLM data pipeline runs before evaluation: a test-split
# document is contaminated to the degree its word-3-gram shingles
# also appear ANYWHERE in the train split. Composes the deterministic
# affine-hash split with the hashed shingle relation (_split_grams);
# one exploded-shingle join against the distinct train-gram set.
# FULL oracle.
# ---------------------------------------------------------------------------
_SPLIT_SQL = (
    "CASE WHEN ((1103515245 * (doc_id % 2147483647) + 12345)"
    " % 2147483647) % 100 < 80 THEN 'train' ELSE 'test' END"
)


@query(
    "contamination_ngram_overlap",
    f"""
    WITH tagged AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents),
    sh AS ({_DOC_SHINGLES_SQL}),
    ex AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(UNNEST(s)), 1, 15)) AS BIGINT) AS g
      FROM sh
    ),
    tr AS (
      SELECT DISTINCT g FROM ex JOIN tagged USING (doc_id)
      WHERE split = 'train'
    ),
    te AS (
      SELECT ex.doc_id, ex.g FROM ex JOIN tagged USING (doc_id)
      WHERE split = 'test'
    ),
    per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM te LEFT JOIN tr ON te.g = tr.g
      GROUP BY doc_id
    )
    SELECT doc_id, n_shared, n_total,
           ROUND(n_shared * 1.0 / n_total, 6) AS contamination
    FROM per
    ORDER BY contamination DESC, doc_id ASC
    LIMIT 50
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # pinned: feeds the train-gram distinct AND the test side (4
    # parquet scans measured unpinned; 2 pinned)
    sh = _split_grams(docs, _split_tagged(docs))
    train_grams = (
        sh.where(F.col("split") == "train")
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        sh.where(F.col("split") == "test")
        .join(train_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_shared"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
        .select(
            "doc_id",
            "n_shared",
            "n_total",
            F.round(F.col("n_shared") / F.col("n_total"), 6).alias(
                "contamination"
            ),
        )
        .orderBy(F.col("contamination").desc(), F.col("doc_id").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Benchmark DEcontamination (completing contamination_ngram_overlap
# the way pii_redact_stats completes pii_scan_stats): given the train/test
# overlap scores, actually remove contaminated training documents and
# report what the removal cost — per-source kept/dropped doc and
# whitespace-token counts at overlap threshold 0.5 — plus a
# ZERO-RESIDUAL RE-SCAN: the overlap join re-runs on the survivors
# and the per-source max residual score is emitted (must sit below
# the threshold; real pipelines run exactly this verification pass
# because the dedup stage may have been approximate). Threshold 0.5
# separates the planted near-dup contamination (scores >= 0.545 at
# sf0.01) from background trigram overlap (<= 0.43) with margin on
# both sides. Everything is integer counts over the same md5-hashed
# gram keys as contamination_ngram_overlap — FULL oracle.
# ---------------------------------------------------------------------------
def _decontaminated_corpus_stats_impl(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Shared by the registered query and the planted-probe pytest
    (tests/test_text_cf.py), which injects a synthetic corpus with a
    train doc copying a test doc verbatim and pins the drop."""
    from .functions.text import tokenize

    tagged = _split_tagged(docs)
    # the pinned grams feed the benchmark gram set, the train scoring
    # join AND the residual re-scan
    sh = _split_grams(docs, tagged)
    bench = (
        sh.where(F.col("split") == "test")
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )

    def _overlap_scores(grams: DataFrame) -> DataFrame:
        return (
            grams.join(bench, "g", "left")
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.sum(F.coalesce("_hit", F.lit(0)))
                    / F.count(F.lit(1)),
                    6,
                ).alias("score")
            )
        )

    train_grams = sh.where(F.col("split") == "train").select("doc_id", "g")
    # Every train doc, its source and token count, and its drop
    # verdict (docs too short to shingle have no score — overlap 0,
    # kept). Slim (id, source, int, bool) and consumed twice (rollup
    # + the kept-set re-scan), so pinned.
    flagged = (
        tagged.where(F.col("split") == "train")
        .join(
            docs.select(
                "doc_id",
                "source",
                F.size(tokenize(F.col("text"))).alias("n_ws"),
            ),
            "doc_id",
        )
        .join(_overlap_scores(train_grams), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_ws",
            (F.coalesce("score", F.lit(0.0)) >= threshold).alias("dropped"),
        )
        .localCheckpoint(eager=False)
    )
    kept_ids = flagged.where(~F.col("dropped")).select("doc_id")
    # The residual re-scan: re-run the overlap join on the survivors
    # (NOT a replay of the stored scores — the verification pass).
    rescan = _overlap_scores(train_grams.join(kept_ids, "doc_id"))
    resid = (
        flagged.where(~F.col("dropped"))
        .select("doc_id", "source")
        .join(rescan, "doc_id", "left")
        .groupBy("source")
        .agg(F.max("score").alias("_mr"))
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.sum(F.when(~F.col("dropped"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_kept"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0))
            .cast("long")
            .alias("n_docs_dropped"),
            F.sum(F.when(~F.col("dropped"), F.col("n_ws")).otherwise(0))
            .cast("long")
            .alias("n_tokens_kept"),
            F.sum(F.when(F.col("dropped"), F.col("n_ws")).otherwise(0))
            .cast("long")
            .alias("n_tokens_dropped"),
        )
        .join(resid, "source", "left")
        .select(
            "source",
            "n_docs_kept",
            "n_docs_dropped",
            "n_tokens_kept",
            "n_tokens_dropped",
            F.coalesce("_mr", F.lit(0.0)).alias("max_residual"),
        )
        .orderBy("source")
    )


@query(
    "decontaminated_corpus_stats",
    f"""
    WITH tagged AS (SELECT doc_id, {_SPLIT_SQL} AS split FROM documents),
    sh AS ({_DOC_SHINGLES_SQL}),
    ex AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(UNNEST(s)), 1, 15)) AS BIGINT) AS g
      FROM sh
    ),
    bench AS (
      SELECT DISTINCT g FROM ex JOIN tagged USING (doc_id)
      WHERE split = 'test'
    ),
    tr AS (
      SELECT ex.doc_id, ex.g FROM ex JOIN tagged USING (doc_id)
      WHERE split = 'train'
    ),
    scores AS (
      SELECT doc_id,
             ROUND(SUM(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 6) AS score
      FROM tr LEFT JOIN bench ON tr.g = bench.g
      GROUP BY doc_id
    ),
    train AS (
      SELECT t.doc_id, d.source,
             len(list_filter(string_split_regex(d.text, '\\s+'),
                             x -> x <> '')) AS n_ws,
             COALESCE(s.score, 0) >= 0.5 AS dropped
      FROM tagged t
      JOIN documents d USING (doc_id)
      LEFT JOIN scores s USING (doc_id)
      WHERE t.split = 'train'
    ),
    kept AS (SELECT doc_id, source FROM train WHERE NOT dropped),
    rescan AS (
      SELECT tr.doc_id,
             ROUND(SUM(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 6) AS score
      FROM tr JOIN kept USING (doc_id)
      LEFT JOIN bench ON tr.g = bench.g
      GROUP BY tr.doc_id
    ),
    resid AS (
      SELECT kept.source, MAX(rescan.score) AS mr
      FROM kept LEFT JOIN rescan USING (doc_id)
      GROUP BY kept.source
    ),
    roll AS (
      SELECT source,
             CAST(SUM(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_kept,
             CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_docs_dropped,
             CAST(SUM(CASE WHEN NOT dropped THEN n_ws ELSE 0 END) AS BIGINT)
                 AS n_tokens_kept,
             CAST(SUM(CASE WHEN dropped THEN n_ws ELSE 0 END) AS BIGINT)
                 AS n_tokens_dropped
      FROM train GROUP BY source
    )
    SELECT roll.source, n_docs_kept, n_docs_dropped,
           n_tokens_kept, n_tokens_dropped,
           COALESCE(resid.mr, 0.0) AS max_residual
    FROM roll LEFT JOIN resid ON roll.source = resid.source
    ORDER BY roll.source
    """,
)
def decontaminated_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _decontaminated_corpus_stats_impl(docs, threshold=0.5)


# ---------------------------------------------------------------------------
# X28: intra-document repetition score (the Gopher/C4-style quality
# signal): fraction of a doc's word-3-grams that are duplicates of an
# earlier gram in the SAME doc. Pure single-scan projection — the
# n-gram build, distinct, and ratio are all codegen; no shuffle
# except the output sort. FULL oracle.
# ---------------------------------------------------------------------------
@query(
    "doc_repetition_scores",
    r"""
    WITH grams AS (
      SELECT doc_id,
             [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
              for i in range(1, len(w)-1)] AS g
      FROM (
          SELECT doc_id,
                 list_filter(
                     string_split_regex(
                         translate(lower(text), '([,.!?:;])', ''), '\s+'),
                     x -> x <> '') AS w
          FROM documents
      )
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           ROUND(1.0 - len(list_distinct(g)) * 1.0 / len(g), 6) AS rep_ratio
    FROM grams WHERE len(g) > 0
    ORDER BY doc_id
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import normalize, tokenize, word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    # explode → groupBy count/countDistinct rather than per-row
    # size/array_distinct expressions: the big gram-building HOF tree
    # runs interpreted, and Catalyst's project-collapse/filter-pushdown
    # clones it into every referencing expression (4 evaluations/row
    # measured 22 s at sf0.1); the exploded form builds each doc's
    # grams ONCE and aggregates with map-side partials — the same
    # rewrite that fixed MinHash/SimHash signatures.
    # The token array gets its own stacked projection (the
    # doc_shingles idiom, guide §1.2 "per-task work"): inlined, the
    # regex split is re-evaluated inside the n-gram HOF's per-element
    # lambda — O(tokens²) regex work per doc, measured 7.9 s at sf0.1
    # where this form runs ~1 s. CollapseProject keeps the alias
    # intact because it is non-cheap and referenced more than once.
    # explode_outer + null filter, not plain explode (the
    # doc_shingle_pairs trap): InferFiltersFromGenerate would push a
    # size()>0 predicate below the token Project, re-inlining the
    # whole expression into a per-row Filter.
    toks = docs.select(
        "doc_id", tokenize(normalize(F.col("text"))).alias("_toks")
    )
    ex = toks.select(
        "doc_id", F.explode_outer(word_ngrams(F.col("_toks"), 3)).alias("_g")
    ).where(F.col("_g").isNotNull())
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.countDistinct("_g").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_ngrams"), 6
            ).alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: quality-weighted per-stratum sampling
# (Efraimidis-Spirakis A-ES via streaming/reservoir.weighted_sample)
# — longer docs drawn proportionally more often within each language,
# the training-mix construction primitive. Rows-only: selection is
# engine-rand-specific; the size law, membership, determinism, and
# weight dominance are pytest-asserted.
# ---------------------------------------------------------------------------
@query(
    "weighted_doc_sample",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             pow(
               (CAST(('0x' || substr(md5(concat_ws('|', doc_id, '7')), 1, 15))
                     AS BIGINT) % 4503599627370496 + 0.5) / 4503599627370496.0,
               1.0 / n_chars) AS wk
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY wk DESC, doc_id ASC) AS rk
      FROM keyed
    )
    SELECT lang, doc_id, n_chars FROM ranked
    WHERE rk <= 10
    ORDER BY lang, doc_id
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X22: A-ES weighted per-stratum sample. FULL oracle: the content-
    hash uniform draw is md5-derived (bit-identical in DuckDB), so the
    oracle replays u, the A-ES key u^(1/w), and the tie-broken window
    rank exactly. Cross-engine pow() last-ulp differences could in
    principle flip a rank at the k-boundary, but only when two keys
    agree to ~15 significant digits — not observable on real draws."""
    from .streaming.reservoir import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(
            docs, 10, "n_chars", strata=["lang"], seed=7, id_cols=["doc_id"]
        )
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# A1-task3 twin: partition-layout introspection — per-partition row
# counts under the default scan layout vs an explicit hash
# repartition (reference Assignment1/task3.py:33-34 'glom().map(len)'
# and :66-70 custom partitionBy). Rows-only: partition ids and counts
# are engine/layout-specific by nature; the balance property is
# pytest-asserted.
# ---------------------------------------------------------------------------
@query("partition_layout_stats")
def partition_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    default = (
        li.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("layout", F.lit("default"))
    )
    custom = (
        li.repartition(8, "l_orderkey")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("layout", F.lit("hash8"))
    )
    return default.unionByName(custom).select(
        "layout", "pid", "n_rows"
    ).orderBy("layout", "pid")


# ---------------------------------------------------------------------------
# S10: single-node no-Spark path (reference Assignment1/task2.py:61-151,
# the '--if_spark no_spark' branch — the one SURVEY §2 row that had no
# implementation until r11). solo.py recomputes the flagship query with
# pyarrow + numpy in the driver process — no Spark job at all — and this
# driver row replays that result against the SAME DuckDB oracle the
# Spark flagship uses, so the artifact records "the no-Spark twin agrees
# with SQL ground truth" every round. Driver-side compute is the
# operator's semantics here, not an anti-pattern: S10 exists to answer
# the reference's own question (single-node vs cluster at this scale),
# and the scale path remains flagship_category_avg.
# ---------------------------------------------------------------------------
@query("solo_flagship_parity", _FLAGSHIP_ORACLE)
def solo_flagship_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .solo import flagship_category_avg_solo

    rows = flagship_category_avg_solo(sf_dir)
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "category string, avg_price double, n bigint",
    )


# ---------------------------------------------------------------------------
# X30: duplicated n-gram spans across documents — the discovery half of
# exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", at word-8-gram
# granularity): every 8-token span appearing in 2+ distinct documents,
# ranked by document reach. Spark side: explode each doc into its
# sliding 8-gram spans with transform(sequence(...), slice) — all
# codegen, no Python in the hot path — then a two-level aggregate.
# Scale: the shuffle is the distinct (gram, doc_id) pair stream (same
# order of magnitude as the corpus token stream) with map-side partial
# dedup; hot spans cannot skew a reducer because partial aggregation
# collapses each (gram, doc_id) pair before the exchange. For 100 TB
# corpora, pair this discovery query with doc_fingerprint_stats'
# winnowing to cut candidate docs first.
# ---------------------------------------------------------------------------
_DUP_SPAN_N = 8


@query(
    "duplicate_ngram_spans",
    f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id,
             array_to_string(list_slice(w, g, g + {_DUP_SPAN_N - 1}), ' ')
               AS gram
      FROM words, UNNEST(generate_series(1, len(w) - {_DUP_SPAN_N - 1}))
           AS t(g)
      WHERE len(w) >= {_DUP_SPAN_N}
    )
    SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
    FROM grams
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, gram ASC
    LIMIT 25
    """,
)
def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _rank_dup_spans(_dup_span_grams(docs))


def _dup_span_grams(docs: DataFrame, n: int = _DUP_SPAN_N) -> DataFrame:
    """X30 core: explode ``(doc_id, text)`` into one row per sliding
    word ``n``-gram span — transform(sequence) + slice, all codegen,
    no Python in the hot path. Shared by the uncut X30 query and the
    winnowing-restricted twin below (and their pytests)."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    return words.where(F.size("w") >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.array_join(F.slice("w", i, n), " "),
            )
        ).alias("gram"),
    )


def _rank_dup_spans(grams: DataFrame, limit: int = 25) -> DataFrame:
    """X30 ranking: spans reaching >= 2 distinct docs, by document
    reach then occurrence count; (n_docs, n_occ, gram) is a total
    order (gram is the grouping key), so the top-``limit`` cut is
    deterministic across engines."""
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occ").desc(), F.col("gram").asc()
        )
        .limit(limit)
    )


# ---------------------------------------------------------------------------
# X31: PII scan over the document corpus — per-source counts of email /
# phone / SSN / Luhn-checked card / IPv4 matches, the detection half
# of a scrubbing stage (the redaction half is the same patterns
# through regexp_replace).
# The synthetic corpus contains no PII, so — exactly like the planted
# PNG in media_feature_rollup — three probe documents with known PII
# under the collision-proof source '_probe_pii' are unioned on BOTH
# engines; the driver row then checks that two independent regex
# engines (Java util.regex in Spark, RE2 in DuckDB) agree match-for-
# match on the same payloads. Patterns deliberately stay in the
# dialect intersection (no lookaround, ASCII classes only). Scale:
# one stateless scan, regexp in codegen, no shuffle past the per-
# source partial agg.
# ---------------------------------------------------------------------------
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# r16 (r15 verdict task 6): SSN and payment-card coverage. The SSN
# shape (3-2-4) and the phone shape (3-3-4) are disjoint regex
# languages, and \b keeps either from firing inside a longer digit
# run, so the no-overlapping-matches parity property holds. Card
# candidates are 16 digits in 4-groups with optional -/space
# separators; DETECTION additionally Luhn-checks each candidate
# (pure integer arithmetic over the digit sequence — replayable in
# DuckDB), while REDACTION conservatively scrubs every candidate
# (a typo'd card is still worth scrubbing) and reports the
# candidate count, so scrub parity is against card_candidates.
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_PII_CARD = r"\b\d{4}(?:[- ]?\d{4}){3}\b"
_PII_PROBES = [
    (-901, "reach me at alice@example.com or bob.smith+test@mail.example.org thanks"),
    (-902, "call 415-555-0143 or 650-555-0100 backup host 10.0.0.1"),
    (-903, "server 192.168.1.100 peers 172.16.254.3 and 8.8.8.8 admin root@10.1.1.5"),
    (-904, "ssn 123-45-6789 alt 987-65-4321 for records"),
    (-905, "card 4539-1488-0343-6467 or 4111 1111 1111 1111 bogus 1234-5678-9012-3456 done"),
]


def _luhn_valid(c: Column) -> Column:
    """Luhn checksum validity of the digit string inside ``c``
    (separators stripped): from the rightmost digit, every second
    digit doubles (minus 9 when the double exceeds 9) and the total
    must be ≡ 0 (mod 10). Pure integer arithmetic over an
    F.aggregate(sequence) — JVM-side, no UDF — and bit-identical in
    DuckDB (``_luhn_sql`` mirrors it term for term)."""
    ds = F.regexp_replace(c, "[^0-9]", "")
    length = F.length(ds)

    def _term(i: Column) -> Column:
        d = F.substr(ds, i, F.lit(1)).cast("int")
        dbl = d * F.lit(2)
        # 1-based position-from-right = length - i + 1; double when even
        return F.when(
            (length - i) % 2 == 1,
            dbl - F.when(dbl > 9, 9).otherwise(0),
        ).otherwise(d)

    total = F.aggregate(
        F.sequence(F.lit(1), length), F.lit(0), lambda acc, i: acc + _term(i)
    )
    return total % 10 == 0


def _luhn_sql(var: str) -> str:
    """The DuckDB mirror of ``_luhn_valid`` for a lambda variable
    named ``var`` — same stripped digit string, same per-position
    doubling rule, same mod-10 test (all BIGINT arithmetic)."""
    ds = f"regexp_replace({var}, '[^0-9]', '', 'g')"
    dig = f"CAST(substr({ds}, CAST(i AS INTEGER), 1) AS BIGINT)"
    return (
        f"list_sum(list_transform(range(1, length({ds}) + 1), "
        f"i -> CASE WHEN (length({ds}) - i) % 2 = 1 "
        f"THEN 2 * {dig} - CASE WHEN 2 * {dig} > 9 THEN 9 ELSE 0 END "
        f"ELSE {dig} END)) % 10 = 0"
    )
_PII_PROBES_SQL = " UNION ALL ".join(
    f"SELECT CAST({doc_id} AS BIGINT) AS doc_id, '{text}' AS text, "
    "'_probe_pii' AS source"
    for doc_id, text in _PII_PROBES
)


@query(
    "pii_scan_stats",
    f"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL {_PII_PROBES_SQL}
    ),
    scanned AS (
      SELECT source,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
             len(regexp_extract_all(text, '{_PII_SSN}')) AS n_ssns,
             len(list_filter(regexp_extract_all(text, '{_PII_CARD}'),
                             c -> {_luhn_sql("c")})) AS n_cards,
             len(regexp_extract_all(text, '{_PII_CARD}')) AS n_card_cands,
             len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ips
      FROM corpus
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_phones + n_ssns + n_cards + n_ips
                         > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_emails) AS BIGINT) AS emails,
           CAST(SUM(n_phones) AS BIGINT) AS phones,
           CAST(SUM(n_ssns) AS BIGINT) AS ssns,
           CAST(SUM(n_cards) AS BIGINT) AS cards,
           CAST(SUM(n_card_cands) AS BIGINT) AS card_candidates,
           CAST(SUM(n_ips) AS BIGINT) AS ips
    FROM scanned
    GROUP BY source
    ORDER BY source
    """,
)
def pii_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.unionByName(
        spark.createDataFrame(
            [(doc_id, text, "_probe_pii") for doc_id, text in _PII_PROBES],
            "doc_id long, text string, source string",
        )
    )
    card_cands = F.regexp_extract_all("text", F.lit(_PII_CARD), 0)
    scanned = corpus.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), 0)).alias(
            "n_phones"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_SSN), 0)).alias(
            "n_ssns"
        ),
        F.size(F.filter(card_cands, _luhn_valid)).alias("n_cards"),
        F.size(card_cands).alias("n_card_cands"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), 0)).alias("n_ips"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("n_emails")
                    + F.col("n_phones")
                    + F.col("n_ssns")
                    + F.col("n_cards")
                    + F.col("n_ips")
                    > 0,
                    1,
                ).otherwise(0)
            ).alias("docs_with_pii"),
            F.sum("n_emails").alias("emails"),
            F.sum("n_phones").alias("phones"),
            F.sum("n_ssns").alias("ssns"),
            F.sum("n_cards").alias("cards"),
            F.sum("n_card_cands").alias("card_candidates"),
            F.sum("n_ips").alias("ips"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X31 redaction half: scrub the same PII patterns through
# regexp_replace (sequentially: email -> phone -> SSN -> card ->
# IPv4, so a count at each stage is exactly the number of substrings
# that stage replaced), then RE-SCAN the redacted corpus and prove
# zero residual matches. The card stage scrubs every CANDIDATE
# (Luhn-valid or not — conservative: a typo'd card is still worth
# scrubbing), so its parity column is the detection query's
# card_candidates. Counts parity with pii_scan_stats is
# pytest-asserted (the synthetic corpus + probes contain no
# overlapping matches, so stage-wise counts equal the detection
# query's whole-text counts). Replacement tokens ('<EMAIL>' etc.)
# contain no digits/@/dots so they can never create a new match.
# DuckDB needs the explicit 'g' flag (its regexp_replace is
# first-match by default; Spark's is global). Scale: one stateless
# scan, regexp in codegen, no shuffle past the per-source partial agg
# — same shape as the detection query.
# ---------------------------------------------------------------------------
@query(
    "pii_redact_stats",
    f"""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL {_PII_PROBES_SQL}
    ),
    s1 AS (
      SELECT source,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
             regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM corpus
    ),
    s2 AS (
      SELECT source, n_emails,
             len(regexp_extract_all(t1, '{_PII_PHONE}')) AS n_phones,
             regexp_replace(t1, '{_PII_PHONE}', '<PHONE>', 'g') AS t2
      FROM s1
    ),
    s3 AS (
      SELECT source, n_emails, n_phones,
             len(regexp_extract_all(t2, '{_PII_SSN}')) AS n_ssns,
             regexp_replace(t2, '{_PII_SSN}', '<SSN>', 'g') AS t3
      FROM s2
    ),
    s4 AS (
      SELECT source, n_emails, n_phones, n_ssns,
             len(regexp_extract_all(t3, '{_PII_CARD}')) AS n_cards,
             regexp_replace(t3, '{_PII_CARD}', '<CARD>', 'g') AS t4
      FROM s3
    ),
    s5 AS (
      SELECT source, n_emails, n_phones, n_ssns, n_cards,
             len(regexp_extract_all(t4, '{_PII_IPV4}')) AS n_ips,
             regexp_replace(t4, '{_PII_IPV4}', '<IP>', 'g') AS redacted
      FROM s4
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(n_phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(n_ssns) AS BIGINT) AS ssns_redacted,
           CAST(SUM(n_cards) AS BIGINT) AS cards_redacted,
           CAST(SUM(n_ips) AS BIGINT) AS ips_redacted,
           CAST(SUM(len(regexp_extract_all(redacted, '{_PII_EMAIL}'))
                  + len(regexp_extract_all(redacted, '{_PII_PHONE}'))
                  + len(regexp_extract_all(redacted, '{_PII_SSN}'))
                  + len(regexp_extract_all(redacted, '{_PII_CARD}'))
                  + len(regexp_extract_all(redacted, '{_PII_IPV4}'))) AS BIGINT)
             AS residual_matches
    FROM s5
    GROUP BY source
    ORDER BY source
    """,
)
def pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.unionByName(
        spark.createDataFrame(
            [(doc_id, text, "_probe_pii") for doc_id, text in _PII_PROBES],
            "doc_id long, text string, source string",
        )
    )
    redacted = redact_pii(corpus)
    return (
        redacted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("emails_redacted"),
            F.sum("n_phones").alias("phones_redacted"),
            F.sum("n_ssns").alias("ssns_redacted"),
            F.sum("n_cards").alias("cards_redacted"),
            F.sum("n_ips").alias("ips_redacted"),
            F.sum("n_residual").alias("residual_matches"),
        )
        .orderBy("source")
    )


def redact_pii(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Sequential PII scrub (email -> phone -> SSN -> card -> IPv4)
    with per-stage replaced counts and a post-scrub residual re-scan.
    Adds columns ``n_emails n_phones n_ssns n_cards n_ips redacted
    n_residual`` (counts are the number of substrings each stage's
    regexp_replace rewrote — counted on that stage's INPUT text, so
    they are exact even if an earlier stage's replacement changed the
    surrounding text; n_cards counts CANDIDATES, Luhn-checked
    detection is pii_scan_stats' job). The whole thing is a single
    codegen projection; no shuffle."""

    def _n(col: str, pat: str) -> Column:
        return F.size(F.regexp_extract_all(col, F.lit(pat), 0))

    return (
        corpus.withColumn("n_emails", _n(text_col, _PII_EMAIL))
        .withColumn("_t1", F.regexp_replace(text_col, _PII_EMAIL, "<EMAIL>"))
        .withColumn("n_phones", _n("_t1", _PII_PHONE))
        .withColumn("_t2", F.regexp_replace("_t1", _PII_PHONE, "<PHONE>"))
        .withColumn("n_ssns", _n("_t2", _PII_SSN))
        .withColumn("_t3", F.regexp_replace("_t2", _PII_SSN, "<SSN>"))
        .withColumn("n_cards", _n("_t3", _PII_CARD))
        .withColumn("_t4", F.regexp_replace("_t3", _PII_CARD, "<CARD>"))
        .withColumn("n_ips", _n("_t4", _PII_IPV4))
        .withColumn("redacted", F.regexp_replace("_t4", _PII_IPV4, "<IP>"))
        .withColumn(
            "n_residual",
            _n("redacted", _PII_EMAIL)
            + _n("redacted", _PII_PHONE)
            + _n("redacted", _PII_SSN)
            + _n("redacted", _PII_CARD)
            + _n("redacted", _PII_IPV4),
        )
        .drop("_t1", "_t2", "_t3", "_t4")
    )


# ---------------------------------------------------------------------------
# X30 x X4 composition: exact-substring dup-span discovery restricted
# to docs that share a winnowing fingerprint overlap — the documented
# 100 TB shape (SCALE.md: "pair it with X4"). The uncut X30 explodes
# EVERY doc into its ~|tokens| spans; here the fingerprint stage
# (X4's overlap pairs: winnow -> df-capped fp self-join -> >= 10
# shared fps) first cuts the corpus to candidate near-dup docs, and
# only those docs pay the span explode + shuffle. Measured candidate
# fractions on the synthetic corpora: 73 % at 500 docs (sf0.01),
# 9.2 % at 5 k (sf0.1), 0.9 % at 50 k (sf1), 0.008 % at 500 k (sf10)
# — the planted near-dup mass is ~constant while the corpus grows,
# so at scale the candidate set is orders of magnitude smaller than
# the corpus, exactly a real crawl's shape (receipts in SCALE.md:
# the uncut/winnowed walls cross over at sf10). Recall
# contract: a span survives iff its docs ALSO share >= 10 winnowing
# fingerprints (near-dup docs, not incidental 8-gram echoes) — the
# pytest pins both the containment direction and the planted-dup
# recall. The candidate join is AQE-sized (the distinct candidate
# list is small by construction; AQE converts to broadcast at
# runtime — no manual hint that would pin a 100 TB-unsafe strategy).
# ---------------------------------------------------------------------------
@query(
    "duplicate_ngram_spans_winnowed",
    _WINNOW_FP_SQL
    + f"""
    , kept AS (
      SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 100
    ),
    sh AS (SELECT doc_id, fp.fp FROM fp JOIN kept USING (fp)),
    cpair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
      HAVING COUNT(*) >= 10
    ),
    cand AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM cpair
        UNION ALL SELECT doc_b AS doc_id FROM cpair
      )
    ),
    words AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS w
      FROM documents d JOIN cand USING (doc_id)
    ),
    grams AS (
      SELECT doc_id,
             array_to_string(list_slice(w, g, g + {_DUP_SPAN_N - 1}), ' ')
               AS gram
      FROM words, UNNEST(generate_series(1, len(w) - {_DUP_SPAN_N - 1}))
           AS t(g)
      WHERE len(w) >= {_DUP_SPAN_N}
    )
    SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
    FROM grams
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, gram ASC
    LIMIT 25
    """,
)
def duplicate_ngram_spans_winnowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _rank_dup_spans(_dup_span_grams(winnow_candidate_docs(docs)))


def winnow_candidate_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The X4 candidate cut for X30: keep only docs that appear in at
    least one winnowing fingerprint-overlap pair (X4 defaults:
    char-8-grams, window 4, >= 10 shared fps, df cap 100)."""
    from .operators.dedup import fingerprint_overlap_pairs

    pairs = fingerprint_overlap_pairs(docs, id_col=id_col, text_col=text_col)
    cand = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    return docs.join(cand, id_col)


# The driver records only the first 50 names that all_queries() returns,
# so this order is part of the contract. A new query must be listed here.
_DRIVER_ORDER = [
    "flagship_category_avg",
    "fpgrowth_itemsets",
    "gn_quality_check",
    "graph_betweenness_sampled",
    "graph_betweenness_top",
    "graph_components",
    "graph_lpa_community_sizes",
    "jaccard_pairs_exact",
    "kmeans_cluster_sizes",
    "kmeans_cluster_sizes_dist",
    "language_id_docs",
    "near_dup_docs_exact",
    "priority_token_counts",
    "simhash_doc_pairs",
    "son_itemsets",
    "source_token_kl",
    "stratified_doc_sample",
    "token_counts_docs",
    "top_customers_per_segment",
    "train_test_split_counts",
    "union_filtered_event_counts",
    "window_heavy_hitter_users",
    "domain_mixture_weights",
    "packed_sequence_stats",
    "media_phash_pairs",
    "corpus_curation_funnel_semantic",
    "bpe_learned_merges",
    "bpe_token_counts",
    "packed_sequence_stats_bpe",
    "basic_count_stats",
    "window_distinct_users",
    "corpus_curation_funnel_modelq",
    "media_dedup_canonical",
    "ann_recall_check",
    "ann_topk_exact",
    "ann_topk_ivf",
    "asof_last_purchase",
    "avg_price_by_priority",
    "betweenness_mass_check",
    "bloom_probe_custkeys",
    "cf_item_similarities",
    "cf_predictions",
    "cf_user_predictions",
    "cf_user_predictions_lsh",
    "content_based_scores",
    "cooccurrence_pairs",
    "cooccurrence_pairs_lsh",
    "corr_qty_price_by_flag",
    "window_tumbling_hourly",
    "window_sliding_hourly",
    "customers_in_both_statuses",
    "customers_never_final",
    "doc_repetition_scores",
    "embedding_pair_distances",
    "event_props_extract",
    "event_rollup_multigrain",
    "fm_distinct_users",
    "frequent_items",
    "frequent_pairs",
    "girvan_newman_communities",
    "graph_degree_distribution",
    "graph_triangle_count",
    "join_filter_brand_counts",
    "kmeans_wcss_check",
    "kmv_distinct_users",
    "largest_baskets",
    "media_feature_rollup",
    "media_frame_sample",
    "order_item_lists",
    "partition_layout_stats",
    "pivot_status_by_priority",
    "reservoir_sample_events",
    "revenue_cube",
    "rollup_revenue",
    "session_windows_per_user",
    "sketch_error_check",
    "solo_flagship_parity",
    "source_mix_stats",
    "suffstats_by_label",
    "tfidf_top_terms",
    "top_users_by_orders",
    "weighted_doc_sample",
    "word_count_top20",
    "minhash_lsh_pairs",
    "near_dup_docs_lsh",
    "dedup_canonical_docs_lsh",
    "corpus_curation_funnel_lsh",
    "semantic_dedup_docs",
    "doc_dsir_weights",
    "pii_scan_stats",
    "dsir_resampled_docs",
    "decontaminated_corpus_stats",
    "quality_filter_stats",
    "bpe_pair_counts",
    "dedup_keep_best_docs",
    "corpus_curation_funnel",
    "pii_redact_stats",
    "contamination_ngram_overlap",
    "ann_topk_ivfpq",
    "ann_topk_lsh",
    "approx_distinct_users",
    "baskets_by_customer",
    "bfr_round_stats",
    "cm_heavy_hitter_partkeys",
    "dedup_canonical_docs",
    "dict_encode_brands",
    "dict_encode_partkeys_big",
    "doc_fingerprint_stats",
    "doc_length_percentiles",
    "doc_length_percentiles_approx",
    "doc_lm_perplexity",
    "doc_quality_stats",
    "duplicate_ngram_spans",
    "duplicate_ngram_spans_winnowed",
    "event_value_tier_counts",
    "exact_dup_doc_groups",
    "fingerprint_overlap_pairs",
]


_V = TypeVar("_V")


def _driver_sorted(mapping: dict[str, _V]) -> dict[str, _V]:
    return {name: mapping[name] for name in _DRIVER_ORDER if name in mapping}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _driver_sorted(SPARK_QUERIES)


def all_oracles() -> dict[str, str]:
    return _driver_sorted(ORACLES)

"""Relational operator battery (SURVEY.md §2.2-2.7) over the TPC-H-ish
driver tables, each with a DuckDB oracle.

Cross-engine determinism rules used throughout (see oracle.py header):
- float sums → DECIMAL sums cast back to double (exact, order-free)
- ranking → unique-key tie-breaks (row_number deterministic)
- rounding → bround ↔ round_even at ≤5 dp only
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.contract import register


def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


# ---------------------------------------------------------------- dedups --

@register(
    "a1_dedup_first",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q_a1(spark, sf_dir):
    """A1 first-wins dedup (reference noise_graph_join.py:33) with a
    deterministic order key."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        _orders(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "a2_dedup_max",
    """
    SELECT l_orderkey, max(l_quantity) AS max_qty, max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q_a2(spark, sf_dir):
    """A2 dedup-keep-max (reference utils.py:112-141)."""
    return _li(spark, sf_dir).groupBy("l_orderkey").agg(
        F.max("l_quantity").alias("max_qty"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "a5_argmax_set",
    """
    WITH mx AS (SELECT l_orderkey, max(l_quantity) AS mq FROM lineitem GROUP BY l_orderkey)
    SELECT l.l_orderkey,
           array_to_string(list_sort(list(l.l_linenumber)), ',') AS argmax_lines
    FROM lineitem l JOIN mx ON l.l_orderkey = mx.l_orderkey AND l.l_quantity = mx.mq
    GROUP BY l.l_orderkey
    """,
)
def q_a5(spark, sf_dir):
    """A5 row-wise argmax-set (reference utils.py:202-218), set-valued
    output stringified for engine-neutral hashing."""
    li = _li(spark, sf_dir)
    mx = li.groupBy("l_orderkey").agg(F.max("l_quantity").alias("mq"))
    return (
        li.join(mx, "l_orderkey")
        .filter(F.col("l_quantity") == F.col("mq"))
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",", F.transform(F.sort_array(F.collect_list("l_linenumber")),
                                 lambda x: x.cast("string"))
            ).alias("argmax_lines")
        )
    )


@register(
    "a8_quantile_nearest",
    """
    SELECT l_returnflag,
           lst[CAST(floor(0.7 * (len(lst) - 1) + 0.5) AS BIGINT) + 1] AS q70
    FROM (SELECT l_returnflag, list_sort(list(l_quantity)) AS lst
          FROM lineitem GROUP BY l_returnflag)
    """,
)
def q_a8(spark, sf_dir):
    """A8 exact nearest-rank quantile (reference noise_graph_join.py:93,
    pandas interpolation='nearest') — NOT percentile_approx."""
    g = _li(spark, sf_dir).groupBy("l_returnflag").agg(
        F.sort_array(F.collect_list("l_quantity")).alias("lst")
    )
    idx = (F.floor(F.lit(0.7) * (F.size("lst") - 1) + F.lit(0.5)) + 1).cast("int")
    return g.select("l_returnflag", F.element_at("lst", idx).alias("q70"))


@register(
    "a11_gated_mean",
    """
    SELECT l_orderkey, n,
           CASE WHEN n >= 4 THEN round_even(CAST(s AS DOUBLE) / n, 2) END AS gated_mean
    FROM (SELECT l_orderkey, count(*) AS n,
                 sum(CAST(l_quantity AS DECIMAL(18,4))) AS s
          FROM lineitem GROUP BY l_orderkey)
    """,
)
def q_a11(spark, sf_dir):
    """A11 conditional mean with sample-size gate (reference
    green_view_join_v1.py:56-91); decimal sum → order-independent."""
    g = _li(spark, sf_dir).groupBy("l_orderkey").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s"),
    )
    return g.select(
        "l_orderkey", "n",
        F.when(F.col("n") >= 4, F.bround(F.col("s").cast("double") / F.col("n"), 2)).alias(
            "gated_mean"
        ),
    )


@register(
    "a12_global_stats",
    """
    SELECT max(o_orderkey) AS max_key, count(DISTINCT o_custkey) AS n_cust,
           count(*) AS n FROM orders
    """,
)
def q_a12(spark, sf_dir):
    """A12 global max/nunique/count (reference noise_graph_join.py:116-120)."""
    return _orders(spark, sf_dir).agg(
        F.max("o_orderkey").alias("max_key"),
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n"),
    )


@register(
    "a13_histogram",
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem GROUP BY 1, 2",
)
def q_a13(spark, sf_dir):
    return _li(spark, sf_dir).groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt")
    )


@register(
    "a14_mean",
    """
    SELECT round_even(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / count(*), 4)
           AS mean_price
    FROM lineitem
    """,
)
def q_a14(spark, sf_dir):
    """A14 golden-mean oracle (reference test mean 33.20)."""
    return _li(spark, sf_dir).agg(
        F.bround(
            F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double") / F.count("*"),
            4,
        ).alias("mean_price")
    )


# ----------------------------------------------------------------- joins --

@register(
    "j6_left_join",
    """
    SELECT o.o_orderstatus, count(*) AS n,
           count(*) FILTER (WHERE c.c_custkey IS NULL) AS n_unmatched
    FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 7 != 0) c
      ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderstatus
    """,
)
def q_j6(spark, sf_dir):
    """J6 equi left join with count invariants (noise_graph_join.py:122-125)."""
    o = _orders(spark, sf_dir)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_custkey") % 7 != 0
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_unmatched"),
        )
    )


@register(
    "j9_lookup_default",
    """
    SELECT l_returnflag, CAST(sum(coalesce(length(p.p_name), -1)) AS BIGINT) AS s
    FROM lineitem l LEFT JOIN (SELECT * FROM part WHERE p_partkey % 3 = 0) p
      ON l.l_partkey = p.p_partkey
    GROUP BY l_returnflag
    """,
)
def q_j9(spark, sf_dir):
    """J9 broadcast lookup with default (reference dict .get default,
    green_view_join_v1.py:138-141)."""
    li = _li(spark, sf_dir)
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_partkey") % 3 == 0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .groupBy("l_returnflag")
        .agg(F.sum(F.coalesce(F.length("p_name"), F.lit(-1))).alias("s"))
    )


@register(
    "j10_id_remap",
    """
    WITH dense AS (
      SELECT n_nationkey, row_number() OVER (ORDER BY n_name) - 1 AS dense_id FROM nation
    )
    SELECT s.s_suppkey, d.dense_id FROM supplier s JOIN dense d
      ON s.s_nationkey = d.n_nationkey
    """,
)
def q_j10(spark, sf_dir):
    """J10 id-remap join (reference otp id dict, otp_graph_import.py:76-83):
    dense ids via row_number, applied by equi-join."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dense = n.withColumn(
        "dense_id", F.row_number().over(Window.orderBy("n_name")) - 1
    ).select("n_nationkey", "dense_id")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return s.join(F.broadcast(dense), s.s_nationkey == dense.n_nationkey).select(
        "s_suppkey", "dense_id"
    )


@register(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def q_topk(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _orders(spark, sf_dir)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


# ------------------------------------------------------------------ sets --

@register(
    "u_union_distinct",
    """
    SELECT DISTINCT k FROM (
      SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier
    )
    """,
)
def q_union(spark, sf_dir):
    """U1/U4 union + distinct (reference U4, otp_graph_import_test.py:32)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").alias("k")
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_nationkey").alias("k")
    )
    return c.unionByName(s).distinct()


@register(
    "u_anti_join",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderkey % 5 = 0)
    """,
)
def q_anti(spark, sf_dir):
    """U3 set difference as left_anti (reference graph_export.py:78-79).
    Subtracted side filtered so the result is non-degenerate."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = (
        _orders(spark, sf_dir)
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey")


# -------------------------------------------------------- scalar / window --

@register(
    "f11_regex_parse",
    """
    SELECT CAST(regexp_extract(o_orderpriority, '(\\d+)', 1) AS INT) AS prio, count(*) AS cnt
    FROM orders GROUP BY 1
    """,
)
def q_f11(spark, sf_dir):
    """F11 dB-class string parse (reference noise_data_preprocessing.py:118)."""
    return (
        _orders(spark, sf_dir)
        .select(F.regexp_extract("o_orderpriority", r"(\d+)", 1).cast("int").alias("prio"))
        .groupBy("prio")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "f12_bucketing",
    """
    SELECT CASE WHEN l_quantity >= 40 THEN 40 WHEN l_quantity >= 30 THEN 30
                WHEN l_quantity >= 20 THEN 20 WHEN l_quantity >= 10 THEN 10
                ELSE 0 END AS bucket, count(*) AS cnt
    FROM lineitem GROUP BY 1
    """,
)
def q_f12(spark, sf_dir):
    """F12 noise-range bucketing (reference graph_export/utils.py:44-52)."""
    b = (
        F.when(F.col("l_quantity") >= 40, 40)
        .when(F.col("l_quantity") >= 30, 30)
        .when(F.col("l_quantity") >= 20, 20)
        .when(F.col("l_quantity") >= 10, 10)
        .otherwise(0)
    )
    return _li(spark, sf_dir).select(b.alias("bucket")).groupBy("bucket").agg(
        F.count("*").alias("cnt")
    )


@register(
    "f16_dense_id",
    """
    SELECT l_returnflag, l_linestatus,
           dense_rank() OVER (ORDER BY l_returnflag, l_linestatus) AS way_id
    FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
    """,
)
def q_f16(spark, sf_dir):
    """F16 way-id synthesis via dense_rank (reference graph_export.py:38-43).

    DISTINCT runs FIRST (map-side-combined shuffle over all rows), so
    the unavoidable single-partition global window ranks only the
    handful of distinct keys — never the full table."""
    w = Window.orderBy("l_returnflag", "l_linestatus")
    return (
        _li(spark, sf_dir)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .withColumn("way_id", F.dense_rank().over(w))
    )


@register(
    "f_ring_area_centroid",
    f"""
    WITH p AS ({synth.sql_polylines()}),
    t AS (
      SELECT edge_id, xs, ys, len(xs) AS n,
             list_transform(range(1, len(xs) + 1),
               i -> xs[i] * ys[(i % len(xs)) + 1] - xs[(i % len(xs)) + 1] * ys[i]) AS ct
      FROM p
    ),
    a AS (
      SELECT edge_id, xs, ys, n, ct,
             list_reduce(ct, (u, v) -> u + v) / CAST(2 AS DOUBLE) AS a_signed
      FROM t
    )
    SELECT edge_id,
           abs(list_reduce(ct, (u, v) -> u + v)) / CAST(2 AS DOUBLE) AS ring_area,
           CASE WHEN abs(a_signed) > 1e-9 THEN
             list_reduce(list_transform(range(1, n + 1),
               i -> (xs[i] + xs[(i % n) + 1]) * ct[i]), (u, v) -> u + v)
             / (CAST(6 AS DOUBLE) * a_signed) END AS cx,
           CASE WHEN abs(a_signed) > 1e-9 THEN
             list_reduce(list_transform(range(1, n + 1),
               i -> (ys[i] + ys[(i % n) + 1]) * ct[i]), (u, v) -> u + v)
             / (CAST(6 AS DOUBLE) * a_signed) END AS cy
    FROM a
    """,
)
def q_ring_area_centroid(spark, sf_dir):
    """Native geometry SCALARS over coordinate-array columns: shoelace
    area + centroid as pure Column folds (operators/geometry.
    polygon_area_expr / polygon_centroid_expr) — ring math without WKB
    decode or UDF, inside whole-stage codegen. Oracle = the identical
    sequential folds in DuckDB, so even the centroid doubles match
    bit-for-bit; degenerate rings NULL out under the same float
    guard."""
    from hope_graph_builder_spark.operators.geometry import (
        polygon_area_expr,
        polygon_centroid_expr,
    )

    p = synth.page_polylines(spark, sf_dir)
    cx, cy = polygon_centroid_expr(F.col("xs"), F.col("ys"))
    return p.select(
        "edge_id",
        polygon_area_expr(F.col("xs"), F.col("ys")).alias("ring_area"),
        cx.alias("cx"),
        cy.alias("cy"),
    )


@register(
    "j_props_parse",
    """
    WITH e AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 13 = 0 THEN '{broken' ELSE props END AS props
      FROM events
    ),
    p AS (
      SELECT event_id, event_type,
             CASE WHEN json_valid(props)
                  THEN try_cast(json_extract_string(props, '$.k') AS INT)
             END AS k
      FROM e
    )
    SELECT event_type,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(count(k) AS BIGINT) AS n_parsed,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM p GROUP BY event_type
    """,
)
def q_props_parse(spark, sf_dir):
    """Typed semi-structured extraction (operators/web
    .parse_json_fields): the props JSON bag with every 13th row
    corrupted — extraction must yield NULL (not crash, even under
    ANSI mode) and the typed aggregate must replay exactly, n_parsed
    counting only well-formed rows."""
    from hope_graph_builder_spark.operators.web import parse_json_fields

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit("{broken"))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    p = parse_json_fields(e, "props", {"k": "int"})
    return p.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"),
        F.count("k").cast("long").alias("n_parsed"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@register(
    "f18_combined",
    """
    SELECT event_id,
           round_even(coalesce(CASE WHEN event_id % 3 = 0 THEN value / 100.0 END,
                               least(1.0, value / 200.0 + 0.6 * (value / 50.0))), 6) AS combined
    FROM events
    """,
)
def q_f18(spark, sf_dir):
    """F18 combined-GVI formula shape (reference green_view_join_v1.py:94-115):
    coalesce(primary, min(1.0, b + 0.6*c))."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = F.when(F.col("event_id") % 3 == 0, F.col("value") / 100.0)
    return e.select(
        "event_id",
        F.bround(
            F.coalesce(a, F.least(F.lit(1.0), F.col("value") / 200.0 + 0.6 * (F.col("value") / 50.0))),
            6,
        ).alias("combined"),
    )


@register(
    "pivot_status",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS O,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot (layer-union→pivot is the engine's J1 rewrite; this is the
    generic relational form)."""
    return (
        _li(spark, sf_dir)
        .withColumn("q", F.col("l_quantity").cast("decimal(18,4)"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("q").cast("double"))
    )

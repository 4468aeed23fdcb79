"""Operator-coverage query registry (driver contract, SURVEY.md §2).

Each entry: a PySpark callable `(spark, sf_dir) -> DataFrame` plus (where
SQL-expressible) an equivalent DuckDB oracle SQL string over the same
parquet tables. Column names are aliased identically on both sides (the
driver sorts columns by name and value-hashes).

Conventions for engine-agnostic comparability:
- double aggregates rounded (round(x, 2)) on BOTH sides;
- integer sums cast to BIGINT on BOTH sides (DuckDB sums to HUGEINT);
- timestamps rendered as 'yyyy-MM-dd HH:mm:ss' strings on BOTH sides;
- arrays rendered as sorted comma-joined strings.

Every query family cites the reference operator row it covers
(SURVEY.md §2.x, reference file:line in the row).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ocds_entity_extract_spark.functions.text import (
    cbmei_id_reformat,
    collapse_ws,
    simple_name,
)

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


# =====================================================================
# §2.4 aggregations
# =====================================================================

@query(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(sum(l_quantity) / count(*), 2)                            AS avg_qty,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """A8/A13/A17 hash-agg with decomposable avg (TPC-H Q1 shape).
    Filter pushes to the parquet scan; partial agg map-side."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "conditional_role_sums",
    """
    SELECT l_linestatus,
           round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END), 2) AS returned_price,
           round(sum(CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END), 2) AS accepted_price,
           round(sum(CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END), 2) AS neutral_price,
           count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS returned_count,
           count(CASE WHEN l_quantity > 25 THEN 1 END)    AS big_qty_count
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_conditional_role_sums(spark, sf_dir):
    """A8/A14: role-bucketed conditional sums (reference extract.js:216-225,
    546-578 buyer/supplier/funder counters; 72-81 overprice gates)."""
    li = _t(spark, sf_dir, "lineitem")
    w = lambda flag: F.when(F.col("l_returnflag") == flag, F.col("l_extendedprice")).otherwise(F.lit(0.0))  # noqa: E731
    return li.groupBy("l_linestatus").agg(
        F.round(F.sum(w("R")), 2).alias("returned_price"),
        F.round(F.sum(w("A")), 2).alias("accepted_price"),
        F.round(F.sum(w("N")), 2).alias("neutral_price"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("returned_count"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("big_qty_count"),
    )


@query(
    "weighted_avg_unit_price",
    """
    SELECT p.p_brand,
           round(sum(l.l_extendedprice * l.l_quantity) / sum(l.l_quantity), 2) AS avg_unit_price,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_weighted_avg(spark, sf_dir):
    """A13: running average decomposed to sum*qty/sum(qty)
    (reference extract.js:62-66 avgUnitPrice) — order-independent."""
    li, part = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity"),
                2,
            ).alias("avg_unit_price"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "supplier_date_range",
    f"""
    SELECT l_suppkey,
           strftime(min(l_shipdate), '{TS_FMT_DUCK}') AS first_ship,
           strftime(max(l_shipdate), '{TS_FMT_DUCK}') AS last_ship,
           count(*) AS n_ship
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q_supplier_date_range(spark, sf_dir):
    """A7/A15: min/max date merge (reference extract.js:83-96 first/last
    purchase dates; 271-301 earliest-date min)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.date_format(F.min("l_shipdate"), TS_FMT_SPARK).alias("first_ship"),
        F.date_format(F.max("l_shipdate"), TS_FMT_SPARK).alias("last_ship"),
        F.count(F.lit(1)).alias("n_ship"),
    )


@query(
    "nation_segments_collect",
    """
    SELECT n.n_name,
           array_to_string(list_sort(list_distinct(list(c.c_mktsegment))), ',') AS segments,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_nation_segments_collect(spark, sf_dir):
    """A3-A6 set-union merges (collect_set ≙ other_names/identifiers/
    classification/source dedup, reference extract.js:621-702)."""
    c, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "precedence_max",
    """
    SELECT o_custkey, max(o_orderpriority) AS max_priority,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def q_precedence_max(spark, sf_dir):
    """A16 order-independent precedence via max() (reference
    extract.js:310-318 company->institution move as fixpoint)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max("o_orderpriority").alias("max_priority"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "region_nation_rollup",
    """
    SELECT coalesce(r.r_name, 'ALL') AS region, coalesce(n.n_name, 'ALL') AS nation,
           CAST(count(c.c_custkey) AS BIGINT) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q_region_nation_rollup(spark, sf_dir):
    """Hierarchy rollup ≙ the reference's manual country/state/municipality
    3-level accumulation (reference extract.js:580-607)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_bal",
        )
    )


@query(
    "salted_group_agg",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_salted_group_agg(spark, sf_dir):
    """Explicit two-level salted aggregation for hot keys (north_rule skew
    path; SURVEY.md §4.2). Result provably equals the plain GROUP BY —
    DuckDB oracles the plain form."""
    e = _t(spark, sf_dir, "events")
    lvl1 = (
        e.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
        .groupBy("user_id", "_salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv"))
    )
    return lvl1.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).alias("total_value"),
    )


# =====================================================================
# §2.3 joins
# =====================================================================

@query(
    "dim_broadcast_join",
    """
    SELECT r.r_name, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_dim_broadcast_join(spark, sf_dir):
    """J2/J3 broadcast hash joins (reference productIndex/classifier dict
    probes, index.js:75-79 / classify.js:16-24). broadcast() forced."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@query(
    "orders_lineitem_join",
    """
    SELECT o.o_orderpriority, count(*) AS n_lines,
           round(sum(l.l_quantity), 2) AS sum_qty,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_orders_lineitem_join(spark, sf_dir):
    """J4 shuffle equi-join + hash agg (reference party↔release nested
    loop, extract.js:657-688)."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@query(
    "exists_semi_join",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
    GROUP BY o.o_orderpriority
    """,
)
def q_exists_semi_join(spark, sf_dir):
    """P5/J6 semi-join (reference buyer-release filter,
    extract.js:610-619)."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") >= 48)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "no_orders_anti_join",
    """
    SELECT c.c_mktsegment, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q_no_orders_anti_join(spark, sf_dir):
    """Anti-join: entities never referenced (edge-cleaning family, P7)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "disjunctive_min_join",
    f"""
    SELECT p_partkey, strftime(min(d), '{TS_FMT_DUCK}') AS first_seen
    FROM (
      SELECT p.p_partkey, l.l_shipdate AS d
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT p.p_partkey, l.l_shipdate AS d
      FROM part p JOIN lineitem l ON l.l_suppkey = p.p_partkey
    ) GROUP BY p_partkey
    """,
)
def q_disjunctive_min_join(spark, sf_dir):
    """J5 disjunctive equi-join as union-of-equi-joins + min (reference
    earliest-date scan matching id OR memberOf id OR contactPoint id,
    extract.js:271-290)."""
    p, li = _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    a = p.join(li, li.l_partkey == p.p_partkey).select("p_partkey", F.col("l_shipdate").alias("d"))
    b = p.join(li, li.l_suppkey == p.p_partkey).select("p_partkey", F.col("l_shipdate").alias("d"))
    return (
        a.unionByName(b)
        .groupBy("p_partkey")
        .agg(F.date_format(F.min("d"), TS_FMT_SPARK).alias("first_seen"))
    )


@query(
    "normalized_key_join",
    """
    SELECT replace(p.p_brand, '#', '') AS brand_norm,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(p.p_size) AS BIGINT) AS total_size
    FROM part p
    GROUP BY replace(p.p_brand, '#', '')
    """,
)
def q_normalized_key_join(spark, sf_dir):
    """J7/F2: equi-join/group on a normalized key (reference dot-strip id
    match, extract.js:1302,1328)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.withColumn("brand_norm", F.regexp_replace("p_brand", "#", ""))
        .groupBy("brand_norm")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_size").cast("bigint").alias("total_size"),
        )
    )


# =====================================================================
# §2.5 window / first-wins
# =====================================================================

@query(
    "first_order_window",
    f"""
    SELECT c_custkey, first_orderkey, first_orderdate FROM (
      SELECT o_custkey AS c_custkey, o_orderkey AS first_orderkey,
             strftime(o_orderdate, '{TS_FMT_DUCK}') AS first_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
    WHERE rn = 1
    """,
)
def q_first_order_window(spark, sf_dir):
    """A2 first-wins over a deterministic order (reference first-mention
    attribute semantics; SURVEY.md §2.5 window mapping)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("first_orderdate"),
        )
    )


# =====================================================================
# §2.6 set operations
# =====================================================================

@query(
    "union_by_name",
    """
    SELECT kind, count(*) AS n, CAST(count(DISTINCT nationkey) AS BIGINT) AS n_nations
    FROM (
      SELECT 'customer' AS kind, c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_nationkey AS nationkey FROM supplier
    ) GROUP BY kind
    """,
)
def q_union_by_name(spark, sf_dir):
    """U2/U3 union of branch DataFrames (reference companies+institutions
    single sink group, stream.js:8-10 / six membership kinds union)."""
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    a = c.select(F.lit("customer").alias("kind"), F.col("c_nationkey").alias("nationkey"))
    b = s.select(F.lit("supplier").alias("kind"), F.col("s_nationkey").alias("nationkey"))
    return a.unionByName(b).groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("nationkey").cast("bigint").alias("n_nations"),
    )


# =====================================================================
# §2.7 scalar functions
# =====================================================================

@query(
    "scalar_text_fns",
    """
    SELECT p_partkey,
           regexp_replace(trim(p_name), '\\s+', ' ', 'g')  AS name_norm,
           trim(regexp_replace(lower(strip_accents(p_name)), '[^a-z0-9]+', '-', 'g'), '-') AS name_slug,
           concat(p_brand, '_', p_type) AS brand_type_id
    FROM part
    """,
)
def q_scalar_text_fns(spark, sf_dir):
    """F1 whitespace collapse (classify.js:19), simpleName slug (§2.9),
    F4 id concat (extract.js:358...)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        collapse_ws("p_name").alias("name_norm"),
        simple_name("p_name").alias("name_slug"),
        F.concat_ws("_", "p_brand", "p_type").alias("brand_type_id"),
    )


# DuckDB twin of functions/text.cbmei_id_reformat over the expression `e`.
_CBMEI_SQL = (
    "CASE WHEN strpos({e}, '.') > 0 THEN {e}"
    " WHEN length({e}) >= 12 THEN substr({e}, 1, 3) || '.' || substr({e}, 4, 3)"
    " || '.' || substr({e}, 7, 4) || '.' || substr({e}, 11)"
    " ELSE {e} END"
)


@query(
    "cbmei_id_reformat",
    f"""
    SELECT p_partkey, {_CBMEI_SQL.format(e='raw')} AS product_id
    FROM (SELECT p_partkey, lpad(CAST(p_partkey * 37 AS VARCHAR), 12, '0') AS raw
          FROM part)
    """,
)
def q_cbmei_reformat(spark, sf_dir):
    """F3 CBMEI 12-char dotted id reformat (reference extract.js:142-153)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        cbmei_id_reformat(
            F.lpad((F.col("p_partkey") * 37).cast("string"), 12, "0")
        ).alias("product_id"),
    )


@query(
    "content_hash_ids",
    f"""
    SELECT o_orderkey,
           sha256(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                            strftime(o_orderdate, '{TS_FMT_DUCK}'),
                            CAST(CAST(round(o_totalprice, 0) AS BIGINT) AS VARCHAR))) AS doc_hash
    FROM orders
    """,
)
def q_content_hash_ids(spark, sf_dir):
    """S9/F11 content-hash ids with pinned field order (reference
    insert.js:37 object-hash; our canonicalization contract §7.3)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.sha2(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                F.date_format("o_orderdate", TS_FMT_SPARK),
                F.round("o_totalprice", 0).cast("bigint").cast("string"),
            ),
            256,
        ).alias("doc_hash"),
    )


@query(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_events_json_extract(spark, sf_dir):
    """JSON prop extraction (duck-typed optional fields P1 analogue);
    Spark side uses get_json_object (real operator), oracle regexp."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "events_hourly",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def q_events_hourly(spark, sf_dir):
    """F5/F10 timestamp functions + time-bucketed agg."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), TS_FMT_SPARK).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "earliest_event_per_user",
    f"""
    SELECT user_id, strftime(min(ts), '{TS_FMT_DUCK}') AS first_ts,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_earliest_event(spark, sf_dir):
    """A7 earliest-date min (reference mergeDates, extract.js:271-301)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.date_format(F.min("ts"), TS_FMT_SPARK).alias("first_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# =====================================================================
# §2.2 array predicates (P2/J9) + §2.6 identifiers assembly (A4/X5)
# + product entity summary (A9-A15, reference extract.js:108-140)
# =====================================================================

@query(
    "exists_array_struct",
    """
    WITH arrs AS (
      SELECT o_custkey, list(struct_pack(k := o_orderkey, s := o_orderstatus)) AS orders_arr
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey,
           CAST(len(orders_arr) AS BIGINT) AS n_orders
    FROM arrs
    WHERE len(list_filter(orders_arr, x -> x.s = 'F')) > 0
    """,
)
def q_exists_array_struct(spark, sf_dir):
    """P2 source-type array predicate: `F.exists` over an array<struct>
    (≙ reference isPurchase scanning record.source for a matching id,
    extract.js:181-187) — the predicate runs on the assembled array, not a
    pre-explode filter."""
    o = _t(spark, sf_dir, "orders")
    arrs = o.groupBy("o_custkey").agg(
        F.collect_list(
            F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("s"))
        ).alias("orders_arr")
    )
    return (
        arrs.filter(F.exists("orders_arr", lambda x: x["s"] == F.lit("F")))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.size("orders_arr").cast("bigint").alias("n_orders"),
        )
    )


@query(
    "array_contains_membership",
    """
    WITH arrs AS (
      SELECT l_orderkey, list_distinct(list(l_suppkey)) AS supps
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey AS orderkey, CAST(len(supps) AS BIGINT) AS n_suppliers
    FROM arrs WHERE list_contains(supps, 42)
    """,
)
def q_array_contains_membership(spark, sf_dir):
    """J9 contract-id membership: `array_contains` over a collected id set
    (≙ reference contractIDs.includes(contract.id), extract.js:1325)."""
    li = _t(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("supps"))
    return arrs.filter(F.array_contains("supps", F.lit(42))).select(
        F.col("l_orderkey").alias("orderkey"),
        F.size("supps").cast("bigint").alias("n_suppliers"),
    )


@query(
    "identifiers_dedup",
    """
    WITH ids AS (
      SELECT c_nationkey, 'segment:' || c_mktsegment AS ident FROM customer
      UNION ALL
      SELECT c_nationkey, 'keymod:' || CAST(c_custkey % 10 AS VARCHAR) AS ident
      FROM customer
    )
    SELECT c_nationkey AS nationkey,
           CAST(count(DISTINCT ident) AS BIGINT) AS n_identifiers,
           string_agg(DISTINCT ident, ',' ORDER BY ident) AS identifiers
    FROM ids GROUP BY c_nationkey
    """,
)
def q_identifiers_dedup(spark, sf_dir):
    """A4/X5 identifiers assembly: (id, scheme) structs from two sources,
    set-union-deduped per group (≙ identifier + additionalIdentifiers
    concat with (id, scheme) dedup, reference extract.js:630-643,
    739-748); rendered sorted per the array convention."""
    c = _t(spark, sf_dir, "customer")
    ids = c.select(
        "c_nationkey",
        F.struct(
            F.lit("segment").alias("scheme"), F.col("c_mktsegment").alias("id")
        ).alias("ident"),
    ).unionByName(
        c.select(
            "c_nationkey",
            F.struct(
                F.lit("keymod").alias("scheme"),
                (F.col("c_custkey") % 10).cast("string").alias("id"),
            ).alias("ident"),
        )
    )
    return (
        ids.groupBy("c_nationkey")
        .agg(F.collect_set("ident").alias("_set"))
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.size("_set").cast("bigint").alias("n_identifiers"),
            F.array_join(
                F.array_sort(
                    F.transform("_set", lambda s: F.concat_ws(":", s.scheme, s.id))
                ),
                ",",
            ).alias("identifiers"),
        )
    )


@query(
    "product_summary",
    f"""
    SELECT l_partkey AS partkey,
           round(sum(l_quantity), 2) AS total_qty,
           round(sum(l_extendedprice) / sum(l_quantity), 2) AS avg_unit_price,
           CAST(sum(CASE WHEN l_extendedprice / l_quantity > p_retailprice
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overpriced,
           strftime(min(l_shipdate), '{{TS_FMT_DUCK}}') AS first_purchase,
           strftime(max(l_shipdate), '{{TS_FMT_DUCK}}') AS last_purchase
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY l_partkey
    """.replace("{TS_FMT_DUCK}", TS_FMT_DUCK),
)
def q_product_summary(spark, sf_dir):
    """Product entity summary (≙ reference handleItem/product counters,
    extract.js:108-140): per-product quantity totals, DECOMPOSED average
    unit price (sum/sum — associative, unlike a naive running average),
    overprice gates vs the reference price, first/last purchase dates.
    The part dim joins BROADCAST (small side)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            F.round(F.sum("l_extendedprice") / F.sum("l_quantity"), 2).alias(
                "avg_unit_price"
            ),
            F.sum(
                F.when(
                    F.col("l_extendedprice") / F.col("l_quantity")
                    > F.col("p_retailprice"),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("n_overpriced"),
            F.date_format(F.min("l_shipdate"), TS_FMT_SPARK).alias("first_purchase"),
            F.date_format(F.max("l_shipdate"), TS_FMT_SPARK).alias("last_purchase"),
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            "total_qty",
            "avg_unit_price",
            "n_overpriced",
            "first_purchase",
            "last_purchase",
        )
    )

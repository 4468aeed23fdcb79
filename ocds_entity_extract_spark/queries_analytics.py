"""Advanced-analytics operator coverage: as-of / range joins, top-k per
group, cube / pivot reshapes, stratified sampling, multi-resolution
rollups, sliding windows.

These extend the engine beyond the reference's own operator set toward
what a large-scale training-data pipeline needs (point-in-time feature
joins, windowed labeling, stratified corpus sampling, hypertable-style
rollups). Every query follows the registry conventions in queries.py
(identical column aliases both sides, doubles rounded, timestamps
rendered as strings, BIGINT casts).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocds_entity_extract_spark.functions.phash import (
    portable_hash64,
    portable_hash64_sql,
)
from ocds_entity_extract_spark.operators.dedup import SHINGLE_N
from ocds_entity_extract_spark.queries import TS_FMT_DUCK, TS_FMT_SPARK, _t, query


# =====================================================================
# as-of join (point-in-time feature lookup)
# =====================================================================

@query(
    "asof_join_events",
    f"""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS pts, max(value) AS pvalue
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '{TS_FMT_DUCK}') AS click_ts,
           strftime(p.pts, '{TS_FMT_DUCK}') AS purchase_ts,
           round(p.pvalue, 2) AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.pts
    """,
)
def q_asof_join_events(spark, sf_dir):
    """For every click, the user's most recent purchase at-or-before the
    click (point-in-time-correct: no future leakage). Spark side is the
    union+window as-of operator (operators/asof.py — one shuffle, stays in
    codegen); the oracle is DuckDB's native ASOF LEFT JOIN, a genuinely
    independent implementation of the same semantics."""
    from ocds_entity_extract_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    joined = asof_join(
        clicks,
        purch,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["pvalue"],
        matched_ts_col="_pts",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("click_ts"),
        F.date_format("_pts", TS_FMT_SPARK).alias("purchase_ts"),
        F.round("pvalue", 2).alias("last_purchase_value"),
    )


# =====================================================================
# range join (windowed attribution)
# =====================================================================

@query(
    "range_join_attribution",
    """
    WITH s AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    ),
    c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT s.event_id,
           CAST(count(*) AS BIGINT) AS n_clicks,
           round(sum(c.value), 2) AS click_value
    FROM s JOIN c
      ON s.user_id = c.user_id
     AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id
    """,
)
def q_range_join_attribution(spark, sf_dir):
    """Clicks within 1h after each signup (windowed attribution). Spark
    side is the binned-equi-join rewrite (operators/asof.py
    range_join_binned — bounded fan-out, no nested loop); the oracle is a
    plain inequality join."""
    from ocds_entity_extract_spark.operators.asof import range_join_binned

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), "value"
    )
    joined = range_join_binned(
        signups, clicks, key="user_id", left_ts="ts", right_ts="cts",
        window_seconds=3600,
    )
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value"),
    )


# =====================================================================
# top-k per group (window ranking)
# =====================================================================

@query(
    "topk_per_group",
    """
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY p_brand ORDER BY revenue DESC, l_partkey
      ) AS rk
      FROM rev
    )
    SELECT p_brand, l_partkey, revenue, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    """Top-3 revenue parts per brand. Ranking key is the ROUNDED revenue
    (+ partkey tiebreak) so engine-level float-summation order can never
    flip the ranking between Spark and the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    )
    return (
        rev.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "l_partkey", "revenue", "rk")
    )


# =====================================================================
# cube / grouping-sets aggregation
# =====================================================================

@query(
    "cube_agg",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_agg(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets in one
    pass (Catalyst expands to a single Expand + hash-agg — one shuffle,
    partial aggs apply)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


# =====================================================================
# pivot (long -> wide reshape)
# =====================================================================

@query(
    "pivot_orderstatus",
    """
    SELECT n.n_name,
           round(sum(CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice END), 2) AS status_o,
           round(sum(CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice END), 2) AS status_f,
           round(sum(CASE WHEN o.o_orderstatus = 'P' THEN o.o_totalprice END), 2) AS status_p
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_pivot_orderstatus(spark, sf_dir):
    """Order value per nation pivoted wide by status. The pivot value list
    is EXPLICIT (['O','F','P']) — without it Spark runs an extra distinct
    job to discover values and the output schema becomes data-dependent."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wide = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return wide.select(
        "n_name",
        F.col("O").alias("status_o"),
        F.col("F").alias("status_f"),
        F.col("P").alias("status_p"),
    )


# =====================================================================
# stratified deterministic sampling (training-corpus curation)
# =====================================================================

_STRATA_SQL = "CASE WHEN lang = 'en' THEN 20 ELSE 50 END"


@query(
    "stratified_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {portable_hash64_sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 100
          < {_STRATA_SQL}
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic downsampling: 20% of 'en' docs, 50% of
    everything else, selected by a portable content hash — the same rows
    on ANY engine, any partitioning, any run (unlike df.sample, whose
    output is partitioning-dependent). This is the scalable corpus-
    curation primitive: a pure filter, no shuffle, fully pushed into the
    scan stage."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        portable_hash64(
            F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
        ),
        F.lit(100),
    )
    rate = F.when(F.col("lang") == "en", 20).otherwise(50)
    return d.filter(bucket < rate).select("doc_id", "lang")


# =====================================================================
# hypertable-style multi-resolution rollup
# =====================================================================

@query(
    "hypertable_rollup",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket, event_type,
             CAST(count(*) AS BIGINT) AS n_events, sum(value) AS sv
      FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts,
           event_type, n_events, round(sv, 2) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS grain,
           strftime(date_trunc('day', bucket), '{TS_FMT_DUCK}') AS bucket_ts,
           event_type, CAST(sum(n_events) AS BIGINT) AS n_events,
           round(sum(sv), 2) AS sum_value
    FROM hourly GROUP BY 2, 3
    """,
)
def q_hypertable_rollup(spark, sf_dir):
    """Hour + day rollups in one result (hypertable continuous-aggregate
    pattern). The DAY grain is aggregated FROM THE HOURLY ROLLUP, not from
    raw events — one corpus pass total; the second agg runs over ~720
    rows. At 100 TB this cascade (raw -> hour -> day -> month) is the
    only affordable shape; re-scanning raw per grain would multiply the
    corpus reads by the grain count."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("value").alias("sv"),
        )
    )
    hour_out = hourly.select(
        F.lit("hour").alias("grain"),
        F.date_format("bucket", TS_FMT_SPARK).alias("bucket_ts"),
        "event_type",
        "n_events",
        F.round("sv", 2).alias("sum_value"),
    )
    day_out = (
        hourly.groupBy(
            F.date_trunc("day", "bucket").alias("dbucket"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
        )
        .select(
            F.lit("day").alias("grain"),
            F.date_format("dbucket", TS_FMT_SPARK).alias("bucket_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return hour_out.unionByName(day_out)


# =====================================================================
# iterative PageRank (fixed-point, bit-identical across engines)
# =====================================================================

_PAGERANK_EDGES_CTE = """
    SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
           's' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    UNION
    SELECT 's' || CAST(l.l_suppkey AS VARCHAR) AS src,
           'c' || CAST(o.o_custkey AS VARCHAR) AS dst
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _pagerank_oracle_sql() -> str:
    from ocds_entity_extract_spark.operators.graph import (
        ITERATIONS,
        pagerank_sql_unrolled,
    )

    return (
        pagerank_sql_unrolled(_PAGERANK_EDGES_CTE)
        + f"\nSELECT node, rank_int FROM r{ITERATIONS} WHERE rank_int >"
        " (SELECT r_init FROM nn)"
    )


@query("pagerank_copurchase", _pagerank_oracle_sql())
def q_pagerank_copurchase(spark, sf_dir):
    """PageRank over the customer<->supplier co-purchase graph — the
    iterative-DataFrame-join pattern (driver loop + localCheckpoint
    lineage truncation, same machinery as the CC operator) under the
    value-hash gate: fixed-point BIGINT arithmetic makes all 8 iterations
    bit-identical between Spark and the DuckDB unrolled-CTE twin. Output
    filtered to above-initial-rank nodes (the salient ones)."""
    from ocds_entity_extract_spark.operators.graph import pagerank_fixed_point

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    )
    ranks = pagerank_fixed_point(edges)
    n_nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .count()
    )
    from ocds_entity_extract_spark.operators.graph import DEFAULT_SCALE

    return ranks.filter(F.col("rank_int") > DEFAULT_SCALE // n_nodes)


# =====================================================================
# graph-quality metrics: degree + triangle counts (KG sanity stats)
# =====================================================================

_COSUPPLIER_EDGES_CTE = """
    SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
"""


@query(
    "triangle_counts",
    f"""
    WITH edges AS ({_COSUPPLIER_EDGES_CTE}),
    sym AS (
      SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
    ),
    deg AS (SELECT node, count(*) AS degree FROM sym GROUP BY node),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tnodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcnt AS (SELECT node, count(*) AS n_tri FROM tnodes GROUP BY node)
    SELECT d.node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS triangles
    FROM deg d LEFT JOIN tcnt t ON t.node = d.node
    """,
)
def q_triangle_counts(spark, sf_dir):
    """Per-node degree + triangle participation over the co-supplier graph
    (suppliers sharing an order) — the graph-quality stats a KG build
    publishes next to its entity/edge counts (clustering structure,
    hub detection). Edge-iterator algorithm with id-ordered orientation
    (a<b<c): each triangle is enumerated exactly once from its lowest
    vertex, so intermediates stay bounded by sum of deg(v)^2 over the
    oriented (forward-degree) graph — the standard scalable formulation.
    100 TB shape: edge construction self-joins within an order key (order
    size is bounded), then two equi-joins on node keys; all shuffles are
    key-partitioned, AQE handles skewed hub nodes."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("a"), F.col("b.l_suppkey").alias("b")
        )
        .distinct()
    )
    sym = edges.select(F.col("a").alias("node")).unionByName(
        edges.select(F.col("b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(e3, ["x", "z"])
    tnodes = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    tcnt = tnodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    return deg.join(tcnt, "node", "left").select(
        "node",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("triangles"),
    )


# =====================================================================
# end-to-end corpus curation (quality -> dedup -> split)
# =====================================================================

@query(
    "corpus_curation",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             len(string_split_regex(text, '\\s+')) AS n_tokens,
             sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    ),
    filtered AS (
      SELECT * FROM scored
      WHERE n_tokens >= 20 AND CAST(n_chars AS DOUBLE) / n_tokens <= 12
    ),
    deduped AS (
      SELECT * FROM filtered
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT CASE
             WHEN {portable_hash64_sql("'split:' || CAST(doc_id AS VARCHAR)")}
                  % 100 < 90 THEN 'train'
             ELSE 'holdout'
           END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM deduped
    GROUP BY 1, 2
    """,
)
def q_corpus_curation(spark, sf_dir):
    """The full training-corpus curation chain as ONE plan: quality
    filter (token count + chars/token) -> exact near-identity dedup
    (normalized sha256 fingerprint, min-doc_id winner) -> deterministic
    hash split -> per-(split, lang) accounting.

    Plan shape at 100 TB: the filter and fingerprint are scan-local; the
    dedup is the only corpus-sized shuffle, and it is a pure
    HASH aggregation (`min_by` first-wins, exactly the reference's
    keep-lowest-id rule), not a row_number window — partial aggregation
    collapses duplicate fingerprints map-side so the wire carries one
    partial per (task, distinct fp), and no task ever SORTS its partition.
    Two formulations were rejected by `.explain` + measurement (round 5):
    the window (shuffles EVERY surviving row, full sort on fp) and
    `min_by(struct(...))` (a struct buffer is not hash-agg-able, Spark
    silently falls back to SortAggregate on both sides of the exchange).
    The string winner column (`lang`) would force the same fallback, so
    it is dictionary-encoded to an int64 (`xxhash64`) for the agg and
    decoded afterwards with a broadcast of the distinct-lang dim — the
    dim scan prunes to the one tiny column, and a 64-bit hash over a
    bounded lang-tag vocabulary cannot realistically collide (<1e-11 at
    1e4 tags; the sf0.01 value-hash oracle would catch one regardless).
    The split/accounting agg rides the tiny dedup output. Every stage
    reuses the operators verified individually (quality_scores,
    doc_fingerprints, dataset_split) — this query pins their COMPOSITION
    under one value hash."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
    from ocds_entity_extract_spark.functions.text import collapse_ws

    scored = d.select(
        "doc_id",
        F.xxhash64("lang").alias("lang_code"),
        "n_chars",
        n_tok.alias("n_tokens"),
        F.sha2(F.lower(collapse_ws("text")), 256).alias("fp"),
    )
    filtered = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_chars").cast("double") / F.col("n_tokens") <= 12)
    )
    lang_dim = d.select("lang").distinct().withColumn(
        "lang_code", F.xxhash64("lang")
    )
    deduped = (
        filtered.groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang_code", "doc_id").alias("lang_code"),
            F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        )
        .join(F.broadcast(lang_dim), "lang_code")
        .select("doc_id", "lang", "n_tokens")
    )
    split = F.when(
        F.pmod(
            portable_hash64(
                F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
            ),
            F.lit(100),
        )
        < 90,
        F.lit("train"),
    ).otherwise(F.lit("holdout"))
    return deduped.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# =====================================================================
# percentile / quantile profiling
# =====================================================================

@query(
    "value_percentiles",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_cont(value, 0.5), 2) AS p50,
           round(quantile_cont(value, 0.9), 2) AS p90,
           round(quantile_cont(value, 0.99), 2) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, verified value-for-value). At 100 TB swap for
    `percentile_approx` (t-digest sketch, mergeable partial aggregation);
    the exact version is the oracle-checkable twin that bounds the
    sketch's error."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 2).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 2).alias("p99"),
    )


@query("value_percentiles_approx")  # rows-only: sketch output is
# approximate by construction — a strict value hash would gate on sketch
# internals, so closeness to the exact twin is pytest-gated instead
# (test_plans::test_percentile_approx_within_tolerance)
def q_value_percentiles_approx(spark, sf_dir):
    """The PRODUCTION percentile path: `percentile_approx` (a mergeable
    quantile sketch with map-side partial aggregation — the only shape
    that survives 100 TB; exact `percentile` implies a full per-group
    sort, a scale-killer). Accuracy 10000 bounds rank error at ~1/10000;
    q:value_percentiles keeps the exact, oracle-hashed semantics and the
    companion test asserts the sketch stays within tolerance of it."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.percentile_approx("value", F.lit(0.5), F.lit(10000)), 2).alias("p50"),
        F.round(F.percentile_approx("value", F.lit(0.9), F.lit(10000)), 2).alias("p90"),
        F.round(F.percentile_approx("value", F.lit(0.99), F.lit(10000)), 2).alias("p99"),
    )


# =====================================================================
# Structured Streaming under the value-hash gate
# =====================================================================

_DRAIN_TIMEOUT_S = 300


def _drained_stream(spark, sf_dir, table, schema, build, sink, output_mode):
    """Stream `table` through `build` into the memory sink `sink`, drained
    with trigger(availableNow), and return the sink's table. File-stream
    sources require a DIRECTORY, so the single-file test table is exposed
    through a symlinked temp dir (a real deployment streams a
    directory/Kafka topic anyway). A drain that has not finished in
    `_DRAIN_TIMEOUT_S` is stopped and raises: its sink holds a partial
    result."""
    import hashlib
    import pathlib
    import tempfile

    src = pathlib.Path(sf_dir) / f"{table}.parquet"
    key = hashlib.md5(str(src).encode()).hexdigest()[:10]
    d = pathlib.Path(tempfile.gettempdir()) / f"sg_stream_{key}" / table
    d.mkdir(parents=True, exist_ok=True)
    link = d / src.name
    if not link.is_symlink():
        link.symlink_to(src)

    name = f"{sink}_{key}"
    q = (
        build(spark.readStream.schema(schema).parquet(str(d)))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(_DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream {name} not drained in {_DRAIN_TIMEOUT_S}s")
    return spark.table(name)


@query(
    "streaming_hourly_counts",
    f"""
    SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour_ts,
           event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_hourly_counts(spark, sf_dir):
    """Windowed streaming aggregation, drained with trigger(availableNow)
    and compared value-for-value against the batch oracle — the
    batch/stream unification guarantee (same DataFrame surface, same
    results) checked by the driver gate, not just by pytest.

    The watermark bounds aggregation state for unbounded streams; with an
    availableNow drain over a bounded source it never discards data, so
    the result must equal the batch GROUP BY."""
    agg = _drained_stream(
        spark, sf_dir, "events",
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
        lambda stream: stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "q_stream_hourly", "complete",
    )
    return agg.select(
        F.date_format("w.start", TS_FMT_SPARK).alias("hour_ts"),
        "event_type",
        "n",
    )


@query(
    "streaming_dedup_exact",
    """
    SELECT DISTINCT lang, md5(text) AS content_md5 FROM documents
    """,
)
def q_streaming_dedup_exact(spark, sf_dir):
    """Exact content dedup ON THE STREAM — the on-arrival dedup an ingest
    pipeline runs before anything else touches a new batch: streaming
    dropDuplicates over (lang, content fingerprint), drained with
    trigger(availableNow) and value-hash-compared against the batch
    DISTINCT oracle. Append mode + a single stateful operator; the dedup
    state is keyed by the 16-byte fingerprint, not the document, so state
    is O(distinct contents), and on an unbounded deployment a watermark on
    the arrival time bounds it further (bounded drain here, so none is
    needed — nothing is ever late)."""
    return _drained_stream(
        spark, sf_dir, "documents",
        "doc_id long, text string, lang string, source string, n_chars long",
        lambda stream: stream.select(
            "lang", F.md5(F.col("text").cast("binary")).alias("content_md5")
        ).dropDuplicates(["lang", "content_md5"]),
        "q_stream_dedup", "append",
    )


# =====================================================================
# sliding-window aggregation (moving average)
# =====================================================================

@query(
    "sliding_window_avg",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(bucket, '{TS_FMT_DUCK}') AS bucket_ts, n,
           round(avg(n) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 2) AS ma3
    FROM hourly
    """,
)
def q_sliding_window_avg(spark, sf_dir):
    """3-hour moving average of hourly event counts per type: pre-agg to
    hours first (shrinks the window input from O(events) to O(hours)),
    then a rows-frame window — the cheap formulation at any scale."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-2, Window.currentRow)
    )
    return hourly.select(
        "event_type",
        F.date_format("bucket", TS_FMT_SPARK).alias("bucket_ts"),
        "n",
        F.round(F.avg("n").over(w), 2).alias("ma3"),
    )


# =====================================================================
# LLM-training curation: packing, repetition, PII, decontamination
# =====================================================================

_PACK_WINDOW = 2048


@query(
    "sequence_packing",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(regexp_extract_all(text,
               ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tok,
             CAST((sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tok) // {_PACK_WINDOW} AS BIGINT) AS bin
      FROM toks
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM packed GROUP BY source, bin
    """,
)
def q_sequence_packing(spark, sf_dir):
    """Contiguous sequence packing for LLM training: documents are packed
    into ~{W}-token bins per source shard (bin = exclusive running token
    count // W). Deterministic (ordered by doc_id), one window per shard
    — at 100 TB the PARTITION BY shard key is what keeps the prefix sum
    parallel instead of one global sequence. Greedy best-fit packing is
    inherently sequential; contiguous packing is the distributed-friendly
    standard and its fill loss is the (reported) tokens-vs-capacity gap."""
    from ocds_entity_extract_spark.queries_ml import BPE_RE

    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).cast(
        "bigint"
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.select("source", "doc_id", n_tok.alias("n_tok")).withColumn(
        "bin",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / _PACK_WINDOW).cast(
            "bigint"
        ),
    )
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens"),
    )


@query(
    "repetition_ratio",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
           round(1.0 - CAST(len(list_distinct(string_split_regex(text, '\s+')))
                            AS DOUBLE)
                       / len(string_split_regex(text, '\s+')), 4) AS rep_ratio
    FROM documents
    """,
)
def q_repetition_ratio(spark, sf_dir):
    """Word-repetition ratio per document (Gopher-style repetition
    filter signal): 1 - distinct/total words. Scan-local, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.round(
            1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
        ).alias("rep_ratio"),
    )


_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+"
_PII_PHONE_RE = "tel[.:]? [0-9]{2,3} [0-9]{4} [0-9]{4}"


@query(
    "pii_scrub",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contacto: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com tel. 55 1234 5678' AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '[EMAIL]',
                                             'g'),
                              '{_PII_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
    FROM aug
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails, phone numbers) with per-doc counts; the
    scrubbed text is verified by md5 so the REDACTED OUTPUT — not just the
    counts — is value-gated. The test corpus carries no organic PII, so a
    deterministic contact line is appended per doc before scrubbing
    (documented synthesis; the operator itself is corpus-agnostic).
    Scan-local regexp_replace — no shuffle, pushes to the scan stage."""
    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contacto: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel. 55 1234 5678"),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL_RE, "[EMAIL]"),
        _PII_PHONE_RE,
        "[PHONE]",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


@query(
    "decontamination",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(t[i:i+{SHINGLE_N - 1}], ' ')
               for i in range(1, greatest(len(t) - {SHINGLE_N - 1}, 1) + 1)]))
               AS s
      FROM toks
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
    SELECT sh.doc_id,
           CAST(count(DISTINCT sh.s) AS BIGINT) AS n_overlap
    FROM sh JOIN bench USING (s)
    WHERE sh.doc_id % 97 <> 0
    GROUP BY sh.doc_id
    """,
)
def q_decontamination(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any word n-gram
    with the (deterministic doc_id%97) eval set, with overlap counts.
    Plan: shingle both sides once, semi-join on the shingle — the eval
    side is tiny and broadcast, so the corpus side never shuffles. At
    100 TB hash the shingles (portable_hash64) and broadcast the eval
    hash set; n rises to 8-13 on real vocabulary."""
    from ocds_entity_extract_spark.operators.dedup import with_word_shingles

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = with_word_shingles(d).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").cast("bigint").alias("n_overlap"))
    )


# =====================================================================
# URL canonicalization dedup (crawl-frontier collapse)
# =====================================================================

# Messy-URL synthesis, written once in engine-neutral SQL (|| concat,
# floor-division via floor(x/100.0), CASE) so the Spark side (F.expr) and
# the DuckDB oracle run the IDENTICAL construction: six deterministic
# crawl-variant families of the same logical page (case-shifted
# scheme/host, www. prefix, :443 default port, trailing slash, utm_*
# tracking params, #fragment).
_URL_MESSY_SQL = """
    CASE CAST(floor(doc_id / 100.0) AS BIGINT) % 6
      WHEN 0 THEN 'https://site' || CAST((doc_id % 100) % 7 AS STRING)
        || '.example/a/' || CAST(doc_id % 100 AS STRING)
        || '?page=' || CAST((doc_id % 100) % 4 AS STRING)
      WHEN 1 THEN 'HTTPS://WWW.Site' || CAST((doc_id % 100) % 7 AS STRING)
        || '.EXAMPLE/a/' || CAST(doc_id % 100 AS STRING)
        || '?page=' || CAST((doc_id % 100) % 4 AS STRING)
      WHEN 2 THEN 'https://site' || CAST((doc_id % 100) % 7 AS STRING)
        || '.example:443/a/' || CAST(doc_id % 100 AS STRING)
        || '/?page=' || CAST((doc_id % 100) % 4 AS STRING)
      WHEN 3 THEN 'https://site' || CAST((doc_id % 100) % 7 AS STRING)
        || '.example/a/' || CAST(doc_id % 100 AS STRING)
        || '?utm_source=feed&page=' || CAST((doc_id % 100) % 4 AS STRING)
      WHEN 4 THEN 'https://site' || CAST((doc_id % 100) % 7 AS STRING)
        || '.example/a/' || CAST(doc_id % 100 AS STRING)
        || '?page=' || CAST((doc_id % 100) % 4 AS STRING)
        || '&utm_campaign=x#frag'
      ELSE 'https://www.site' || CAST((doc_id % 100) % 7 AS STRING)
        || '.example/a/' || CAST(doc_id % 100 AS STRING)
        || '/?page=' || CAST((doc_id % 100) % 4 AS STRING) || '#top'
    END
"""

_URL_PREF_RE = "^[^:]+://[^/?#]+"


@query(
    "url_dedup_canonical",
    f"""
    WITH docs_url AS (
      SELECT doc_id, {_URL_MESSY_SQL} AS messy_url FROM documents
    ),
    parts AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(
               lower(regexp_extract(messy_url, '{_URL_PREF_RE}')),
               '^https://www\\.', 'https://'), ':443$', '') AS pref,
             substring(messy_url,
               length(regexp_extract(messy_url, '{_URL_PREF_RE}')) + 1)
               AS rest
      FROM docs_url
    ),
    canon AS (
      SELECT doc_id,
             pref || regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(regexp_replace(
                         rest, '#.*$', ''),
                       'utm_[a-z]+=[^&#]*&?', '', 'g'),
                     '[?&]+$', ''),
                   '/\\?', '?'),
                 '/$', '') AS canonical_url
      FROM parts
    )
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keep_doc,
           count(*) AS n_variants
    FROM canon GROUP BY canonical_url
    """,
)
def q_url_dedup_canonical(spark, sf_dir):
    """Crawl-URL canonicalization dedup: normalize scheme/host case, strip
    `www.`, the https default port, tracking (`utm_*`) query params,
    fragments and trailing slashes, then collapse crawl variants of the
    same logical page to one survivor (min doc_id) with a variant count.
    This is the frontier-dedup step a Common-Crawl-style pipeline runs
    BEFORE content dedup (reference processes one URL-keyed doc store;
    extract.js keys everything by url). Plan: every normalization is a
    built-in regexp (whole-stage codegen, no UDF), then ONE hash-agg
    shuffle on the canonical key with partial aggregation map-side —
    at 100 TB this is a single exchange on a high-cardinality key, the
    same shape as dedup_exact."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_MESSY_SQL).alias("messy_url")
    )
    pref = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("messy_url", _URL_PREF_RE, 0)),
            r"^https://www\.", "https://"),
        ":443$", "")
    rest = F.expr(
        f"substring(messy_url, length(regexp_extract(messy_url, "
        f"'{_URL_PREF_RE}', 0)) + 1)"
    )
    for pat, repl in (
        ("#.*$", ""),
        ("utm_[a-z]+=[^&#]*&?", ""),
        ("[?&]+$", ""),
        (r"/\?", "?"),
        ("/$", ""),
    ):
        rest = F.regexp_replace(rest, pat, repl)
    return (
        d.select("doc_id", F.concat(pref, rest).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc"),
            F.count("*").alias("n_variants"),
        )
    )

"""Iterative graph algorithms as DataFrame-join loops.

Connected components live in operators/cc.py; this module adds PageRank —
the canonical "iterative joins with a driver loop" pattern the KG needs
for entity salience ranking (which canonical entities matter most).

Determinism: ranks are FIXED-POINT BIGINTs (micro-units of
`DEFAULT_SCALE`), all updates are integer multiply/divide — no float summation-order drift, so
any engine (Spark, DuckDB, hand computation) produces bit-identical ranks
at every iteration. That is what lets an ITERATIVE algorithm sit under
the driver's value-hash oracle gate (see queries_analytics.pagerank_*).

Scale design (10^9+ nodes):
- edges are shuffled ONCE onto `src` and stay partitioned; each iteration
  is one join (ranks ⋈ edges on src — co-partitioned after the first
  round) + one groupBy(dst) with map-side partial sums.
- ranks is O(nodes) — orders of magnitude smaller than edges; the
  per-round `localCheckpoint` truncates the lineage chain exactly like
  the CC loop (cc.py), keeping round N's plan O(1) instead of O(N).
- dangling mass: every node gets the teleport term; nodes without
  out-edges simply contribute nothing (their mass re-enters via
  teleport only — the standard simplification when ranking, not
  measure-preserving, which ranking doesn't need).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SCALE = 1_000_000_000_000   # 1e12 micro-units
DAMPING_NUM, DAMPING_DEN = 85, 100  # d = 0.85 as an exact ratio
CHECKPOINT_EVERY = 2                # rounds between rank-lineage truncations
ITERATIONS = 8                      # rounds, as the DuckDB twin unrolls


def pagerank_fixed_point(edges: DataFrame) -> DataFrame:
    """(src, dst) directed edges -> (node, rank_int) after `ITERATIONS`.

    With S = DEFAULT_SCALE: rank0 = S // N for every node appearing as src
    or dst; rank_{t+1}(v) = (15*S)//(100*N) + (85 * sum_{u->v} rank_t(u)//outdeg(u))//100

    Integer divisions make the recurrence exactly reproducible on any
    engine. Returns (node string, rank_int bigint).
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    teleport = (DAMPING_DEN - DAMPING_NUM) * DEFAULT_SCALE // (DAMPING_DEN * n_nodes)

    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # edges with out-degree attached, partitioned once on src and reused
    # every round (the rank join below re-keys only the tiny ranks table)
    e_deg = e.join(outdeg, "src").localCheckpoint(eager=False)

    ranks = nodes.withColumn("rank_int", F.lit(DEFAULT_SCALE // n_nodes).cast("bigint"))
    for i in range(ITERATIONS):
        contribs = (
            e_deg.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                # `div` is exact integral division on BIGINT — `/` would
                # route through DOUBLE and lose exactness near 2^53
                F.expr("div(rank_int, outdeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sc"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport).cast("bigint")
                    + F.expr(
                        f"div({DAMPING_NUM} * coalesce(sc, 0L), {DAMPING_DEN})"
                    )
                ).alias("rank_int"),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < ITERATIONS:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_sql_unrolled(edges_cte: str) -> str:
    """DuckDB twin of `pagerank_fixed_point` over `ITERATIONS` rounds as an
    UNROLLED CTE chain (standard SQL forbids aggregation in a recursive
    term, so each iteration is its own CTE over the previous one —
    mechanical and exact).

    `edges_cte` must be a CTE body selecting (src, dst), referenced here
    as `e`. Emits CTEs: e, nodes, nn(n, tele), deg, r0..r{ITERATIONS};
    the caller SELECTs FROM r{ITERATIONS}.
    """
    parts = [
        f"e AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        (
            "nn AS (SELECT count(*) AS n,"
            f" CAST(({DAMPING_DEN - DAMPING_NUM} * {DEFAULT_SCALE})"
            f" // ({DAMPING_DEN} * count(*)) AS BIGINT) AS tele,"
            f" CAST({DEFAULT_SCALE} // count(*) AS BIGINT) AS r_init"
            " FROM nodes)"
        ),
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "r0 AS (SELECT node, (SELECT r_init FROM nn) AS rank_int FROM nodes)",
    ]
    for i in range(1, ITERATIONS + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            f" sum({prev}.rank_int // deg.outdeg) AS sc"
            f" FROM e JOIN deg USING (src)"
            f" JOIN {prev} ON {prev}.node = e.src"
            f" GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST((SELECT tele FROM nn)"
            f" + ({DAMPING_NUM} * coalesce(c{i}.sc, 0)) // {DAMPING_DEN}"
            f" AS BIGINT) AS rank_int"
            f" FROM nodes LEFT JOIN c{i} USING (node))"
        )
    return "WITH " + ",\n".join(parts)

"""Connected components over the sameAs edge graph (canonicalization).

Replaces the reference's implicit alias resolution (exact dict-key equality,
reference extract.js:1380-1382) with true graph canonicalization: every
entity id is rewritten to the lexicographic minimum id of its similarity
component.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) as pure DataFrame joins —
O(log n) rounds, no GraphFrames/GraphX dependency:

- large-star: for each node u, connect every LARGER neighbor to
  min(N(u) ∪ {u});
- small-star: for each node u, connect every smaller-or-equal neighbor
  (and u) to the minimum.

Scale notes (north_rule: hot-domain/hot-entity skew):
- min-neighbor is computed via groupBy().min() — decomposable, partially
  aggregated map-side, so hub nodes never materialize an adjacency list;
- the per-round join on the hub key is covered by AQE skew-join splitting
  (enabled in session.py);
- `localCheckpoint()` each round truncates the logical-plan lineage, which
  otherwise grows exponentially and stalls the driver at scale;
- convergence: the input is oriented larger -> smaller id and both star
  steps only emit edges to a smaller id, so the edge set is the fixpoint
  exactly when it is a star forest — every src has one dst and no dst is
  also a src (each centre is then its component's minimum). One aggregate
  `isEmpty()` before each round checks that, so an input that already is
  a star forest (e.g. disjoint pairs) runs no round at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.session import local_frame

# star rounds before `connected_components` gives up (rounds grow about as
# log2 of the longest path)
MAX_ITER = 20


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mn = sym.groupBy("src").agg(F.min("dst").alias("_mnb"))
    mn = mn.select("src", F.least("_mnb", F.col("src")).alias("m"))
    out = (
        sym.join(mn, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    dird = edges.select(
        F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
    ).filter(F.col("hi") != F.col("lo"))
    mn = dird.groupBy("hi").agg(F.min("lo").alias("m"))
    lo_edges = (
        dird.join(mn, "hi")
        .filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("src"), F.col("m").alias("dst"))
    )
    hi_edges = mn.select(F.col("hi").alias("src"), F.col("m").alias("dst"))
    return lo_edges.union(hi_edges).filter(F.col("src") != F.col("dst")).distinct()


def _is_star_forest(edges: DataFrame) -> bool:
    """Every src has exactly one dst and no dst is also a src."""
    ends = edges.select(F.col("src").alias("node"), "dst").unionByName(
        edges.select(F.col("dst").alias("node"), F.lit(None).alias("dst"))
    )
    deg = ends.groupBy("node").agg(
        F.count("dst").alias("n_out"), F.count(F.lit(1)).alias("n_all")
    )
    return deg.filter(
        (F.col("n_out") > 1) | ((F.col("n_out") == 1) & (F.col("n_all") > 1))
    ).isEmpty()


def union_find(pairs) -> dict:
    """Undirected (a, b) pairs -> {node: component min node} for every node
    in a pair. Shared by the small-graph CC fast path below and the
    driver-side linking (operators/linking.linking_canon_dict)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_driver_side(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: union-find on the collected edge list.

    The size-adaptive analogue of a broadcast join: below the threshold the
    distributed star loop is pure scheduling overhead (dozens of tiny jobs),
    while the edge list fits trivially in driver memory. Same output
    contract as the distributed path (canonical = component min id).
    """
    roots = union_find((r["src"], r["dst"]) for r in edges.collect())
    schema = edges.select(
        F.col("src").alias("entity_id"), F.col("src").alias("canonical_id")
    ).schema
    return local_frame(edges.sparkSession, roots.items(), schema)


def connected_components(
    edges: DataFrame,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """(src, dst) undirected edges -> (entity_id, canonical_id) mapping.

    Every node in the input graph appears exactly once; canonical_id is the
    component's minimum id. Nodes not present in `edges` are their own
    canonical id (callers coalesce on join).

    Size-adaptive strategy: the deduped edge set is counted once; at or
    below `small_graph_threshold` edges the component structure is solved
    driver-side (union-find — O(E α(E)), one collect), above it the
    alternating-star distributed loop runs. Pass ``small_graph_threshold=0``
    to force the distributed path. The loop runs until the edge set is a
    star forest (see the module docstring) and raises RuntimeError if
    `MAX_ITER` rounds do not reach one.
    """
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if small_graph_threshold and cur.count() <= small_graph_threshold:
        return _cc_driver_side(cur)
    rounds = 0
    while not _is_star_forest(cur):
        if rounds == MAX_ITER:
            raise RuntimeError(
                f"connected_components: no star-forest fixpoint after {MAX_ITER} rounds"
            )
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        rounds += 1

    # converged star edges: src -> dst(=component min). Roots map to selves.
    children = cur.select(F.col("src").alias("entity_id"), F.col("dst").alias("canonical_id"))
    roots = cur.select(F.col("dst").alias("entity_id")).distinct().withColumn(
        "canonical_id", F.col("entity_id")
    )
    return children.unionByName(roots).distinct()


def canonical_mapping(
    all_ids: DataFrame,
    edges: DataFrame,
    small_graph_threshold: int,
) -> DataFrame:
    """All distinct ids + sameAs edges -> total (entity_id, canonical_id) map
    (identity for singleton nodes). ``small_graph_threshold`` passes through
    to `connected_components` — 0 forces the distributed star loop (used by
    the forced-distributed scaling evidence, bench/pipeline_job.py)."""
    cc = connected_components(edges, small_graph_threshold=small_graph_threshold)
    return (
        all_ids.select("entity_id")
        .distinct()
        .join(cc, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("canonical_id", F.col("entity_id")).alias("canonical_id"),
        )
    )

"""Entity linking: MinHash-LSH blocking + candidate scoring -> sameAs edges.

The reference resolves aliases only by exact id equality (dict key probe,
reference extract.js:1380-1382); the web-scale north rule requires fuzzy
alias resolution. Design:

1. slug -> character 3-gram shingle array (computed once per DISTINCT
   entity id — dedup first, so the cost is O(|entities|), not O(|mentions|)).
2. Shingles are EXPLODED to rows and hashed once, then the K minhashes
   are `groupBy(id).agg(min((a_i * h + b_i) mod p) ...)` — the classic
   MapReduce minhash. This keeps every expression inside WholeStageCodegen
   with map-side partial aggregation; the alternative (K higher-order
   `transform` columns) is interpreted, and Catalyst's CollapseProject
   inlines the shingle construction into every one of the K expressions —
   measured ~50x slower at sf0.1.
3. LSH bands: r minhashes hashed per band; explode only the B band keys
   (B ~ 8 rows per entity) -> self-join on (band_id, band_hash).
   Hot buckets (degenerate shingle patterns) are CAPPED at
   `max_bucket_size` before the self-join — the standard LSH skew guard:
   a bucket of size m yields m^2/2 pairs, so one hot bucket can dominate
   the whole job at 100 TB scale.
4. Exact-similarity verification on the candidate pairs over the HASHED
   shingle sets (array_intersect on longs — pair count is LSH-bounded,
   and 64-bit hashes make set equality exact up to negligible collisions).
5. A cheap prefix block (first `prefix_len` slug chars) unioned in as a
   secondary blocker — catches prefix-preserving aliases LSH may drop at
   the band boundary; same cap + verification applies.

Output: undirected verified edges (src, dst, containment, jaccard) with
src < dst, feeding connected components (operators/cc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.operators.cc import union_find

DEFAULT_NUM_HASHES = 16
DEFAULT_BAND_SIZE = 2          # r: minhashes per band -> B = K / r bands
# verification: overlap coefficient |A∩B| / min(|A|,|B|) — robust for the
# dominant alias shapes (token-prefix drops: the shorter slug's shingles are
# a subset of the longer's), where plain Jaccard of a short alias vs a long
# canonical dips into the same range as sibling-entity pairs.
DEFAULT_CONTAINMENT_THRESHOLD = 0.80
DEFAULT_MIN_INTERSECT = 6
# cap 16 / prefix 14 (round 4, tuned against datagen ground truth at the
# 108k-surface scaling corpus): LSH buckets of 17-64 members are
# boilerplate-driven (shared first names / legal suffixes / institution
# keywords) and contribute ~2M of 4.5M candidate pairs while carrying
# almost no true alias pairs — true pairs share RARE shingles, so their
# buckets are small. The longer prefix block is what actually recovers
# prefix-preserving aliases: at 10 chars a first name ("alejandra-") IS the
# whole prefix, so person prefix-buckets were hot and capped away; at 14
# the bucket key includes surname material and stays tiny. Measured
# (closure pairs vs ground truth, 108k surfaces): cap64/plen10
# P=.989 R=.991 at 23-39s; cap16/plen14 P=.991 R=.989 at ~11s — 2-3.5x
# cheaper for 0.3pp recall, both sides of the 0.95 gate with margin.
DEFAULT_MAX_BUCKET = 16
DEFAULT_PREFIX_LEN = 14


def with_shingles(df: DataFrame, col: str = "entity_id", n: int = 3) -> DataFrame:
    """Add `shingles`: distinct character n-grams of the slug column."""
    return df.withColumn(
        "shingles",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(length({col}) - {n - 1}, 1)),"
            f" i -> substring({col}, i, {n})))"
        ),
    )


def minhash_signatures(
    hashed: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    keep_shingle_sets: bool = False,
    keep_minhashes: bool = False,
) -> DataFrame:
    """(id, _h) rows, one hashed shingle per row -> (id, [sh_hashed,
    n_shingles,] bands [, mh0..]) in ONE shuffle: a grouped min per affine
    family member (codegen + map-side combine; see functions/phash). The
    one signature builder of entity linking and document dedup.

    With `keep_shingle_sets` the distinct hashed shingle set rides along
    for later exact verification (small per-id sets like entity slugs;
    document dedup verifies a candidate subset instead, see
    operators/dedup.minhash_candidate_pairs)."""
    from ocds_entity_extract_spark.functions.phash import (
        MERSENNE_P,
        affine_minhash,
        minhash_params,
    )

    # projected once, not re-derived inside each of the K aggregates
    hashed = hashed.withColumn("_h31", F.pmod(F.col("_h"), F.lit(MERSENNE_P)))
    aggs = [
        F.min(affine_minhash(F.col("_h31"), a, b)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    if keep_shingle_sets:
        aggs.append(F.collect_set("_h").alias("sh_hashed"))
    sig = hashed.groupBy(id_col).agg(*aggs)
    n_bands = num_hashes // band_size
    # band key: the band's minhashes joined as a string — engine-agnostic
    # (no second-level hash needed; the join key is what matters)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    sig = sig.withColumn("bands", bands)
    if keep_shingle_sets:
        sig = sig.withColumn("n_shingles", F.size("sh_hashed"))
    if not keep_minhashes:
        sig = sig.drop(*[f"mh{i}" for i in range(num_hashes)])
    return sig


def minhash_signature_table(
    df_with_shingles: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    keep_shingle_sets: bool = True,
    keep_minhashes: bool = False,
    hash_family: str = "portable",
) -> DataFrame:
    """(id, shingles) -> (id, [n_shingles, sh_hashed,] bands) in ONE shuffle.

    explode -> hash once per shingle -> `minhash_signatures` (the
    md5-derived "portable" family is bit-identical in DuckDB, so
    signatures sit under the driver's value-hash gate).

    `hash_family` picks the per-shingle hash: "portable" (md5-derived,
    DuckDB-twin-able — the oracle-gated default) or "fast" (xxhash64,
    ~5x cheaper per shingle — the production family; see
    functions/phash.shingle_hash); any other name raises ValueError.
    Verification is family-independent (containment over an injectively
    hashed shingle set equals containment over the raw set), so only LSH
    candidate RECALL can move between families — the golden P/R gate is
    pytest-run for both (tests/test_linking_cc.py)."""
    from ocds_entity_extract_spark.functions.phash import shingle_hash

    hash_fn = shingle_hash(hash_family)
    hashed = df_with_shingles.select(
        id_col, F.explode("shingles").alias("_s")
    ).select(id_col, hash_fn("_s").alias("_h"))
    return minhash_signatures(
        hashed, id_col, num_hashes, band_size, keep_shingle_sets, keep_minhashes
    )


def _bucket_pairs(
    buckets: DataFrame, keys: list[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Bucketed rows -> (src, dst) pairs (src < dst) in ONE bounded shuffle.

    Hot buckets (over `max_bucket` members) are removed by a windowed
    count over the SAME hash partitioning the collect uses — Catalyst
    reuses the exchange, so cap + collect cost one shuffle total
    (replaces the former hot-agg + broadcast-anti-join preamble: two
    extra stage barriers whose fixed latency dominated at bench scale).
    A hot bucket only ever streams through the window's spill-to-disk
    sorter, never into an in-memory member array — the collect_list
    below sees at most `max_bucket` rows per bucket by construction;
    then each bucket's sorted member array explodes into its m(m-1)/2
    pairs. May emit a pair from several buckets — callers dedup
    downstream.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    grouped = (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    return grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(_ids, (x, i) ->"
                " transform(slice(_ids, i + 2, size(_ids) - i - 1),"
                " y -> named_struct('src', x, 'dst', y))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")


def _spread(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Explicit repartition to defaultParallelism, AQE-coalescing-proof.

    The session deliberately coalesces small shuffles by SIZE
    (parallelismFirst=false) because the CC loop's KB-sized exchanges
    drown in per-task scheduling otherwise. The entity-LINKING stages are
    the opposite case: their inputs are small in BYTES (108k slugs ≈ 3 MB)
    but CPU-DENSE per byte (per-shingle md5, windowed bucket counts, pair
    explosion, set intersections) — AQE sees 3 MB, plans 1 task, and the
    whole stage runs single-threaded at any core count (measured: the
    signature build was ~12 s FLAT from local[2] to local[8]). An explicit
    numPartitions pins the exchange width so the dense map work spreads;
    the tiny extra shuffle is noise. Cluster analogue: same call, same
    reason — bytes-based coalescing misjudges CPU-dense stages regardless
    of cluster size."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols) if cols else df.repartition(n)


def _lsh_pairs(sig: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Signature table -> LSH candidate (src, dst) pairs, src < dst
    (see `_bucket_pairs` for the single-shuffle pair generation)."""
    buckets = sig.select(id_col, F.explode("bands").alias("b")).select(
        id_col,
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_hash").alias("band_hash"),
    )
    return _bucket_pairs(
        _spread(buckets, ["band_id", "band_hash"]),
        ["band_id", "band_hash"], id_col, max_bucket,
    )


def _prefix_pairs(
    base: DataFrame, id_col: str, max_bucket: int, prefix_len: int
) -> DataFrame:
    """Secondary blocker: exact slug-prefix buckets (capped) -> pairs,
    single-shuffle via `_bucket_pairs`."""
    pref = base.select(
        F.col(id_col), F.substring(id_col, 1, prefix_len).alias("pfx")
    ).filter(F.length(id_col) >= prefix_len)
    return _bucket_pairs(_spread(pref, ["pfx"]), ["pfx"], id_col, max_bucket)


def verified_edges(
    entities: DataFrame,
    id_col: str = "entity_id",
    threshold: float = DEFAULT_CONTAINMENT_THRESHOLD,
    min_intersect: int = DEFAULT_MIN_INTERSECT,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    hash_family: str = "portable",
) -> DataFrame:
    """Candidate pairs -> exact-similarity-verified sameAs edges.

    Score = overlap coefficient (containment) of the exact hashed-shingle
    sets; an edge also needs `min_intersect` shared shingles so trivially
    short slugs cannot reach the threshold by chance. The signature table
    is built once and reused for blocking AND verification (three
    consumers -> cached; it is O(|distinct entities|), far smaller than
    the mention stream — at cluster scale persist to DISK_ONLY instead).

    `hash_family`: "portable" (the oracled default) or "fast" (xxhash64,
    the production family) — see `minhash_signature_table`.

    Cache lifecycle: long-lived sessions (query harnesses) should call
    ``spark.catalog.clearCache()`` between jobs; otherwise repeated
    invocations accumulate executor storage.
    """
    base = entities.select(id_col).distinct()
    sig = minhash_signature_table(
        _spread(with_shingles(base, id_col)), id_col, num_hashes, band_size,
        hash_family=hash_family,
    ).cache()

    pairs = (
        _lsh_pairs(sig, id_col, max_bucket)
        .unionByName(_prefix_pairs(base, id_col, max_bucket, prefix_len))
        .transform(lambda df: _spread(df, ["src", "dst"]))
        .dropDuplicates()
    )

    sh = sig.select(F.col(id_col), F.col("sh_hashed"))
    joined = (
        pairs.join(
            sh.withColumnRenamed(id_col, "src").withColumnRenamed("sh_hashed", "sh_src"),
            "src",
        ).join(
            sh.withColumnRenamed(id_col, "dst").withColumnRenamed("sh_hashed", "sh_dst"),
            "dst",
        )
    )
    inter = F.size(F.array_intersect("sh_src", "sh_dst"))
    containment = inter / F.least(F.size("sh_src"), F.size("sh_dst"))
    jac = inter / F.size(F.array_union("sh_src", "sh_dst"))
    return (
        joined.withColumn("containment", containment)
        .withColumn("jaccard", jac)
        .filter(
            (F.col("containment") >= threshold) & (inter >= F.lit(min_intersect))
        )
        .select("src", "dst", "containment", "jaccard")
    )


def verified_edges_py(
    slugs: list[str],
    threshold: float = DEFAULT_CONTAINMENT_THRESHOLD,
    min_intersect: int = DEFAULT_MIN_INTERSECT,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    n: int = 3,
    hash_family: str = "portable",
) -> list[tuple[str, str, float, float]]:
    """Exact Python twin of `verified_edges` for driver-side execution.

    Same shingling (`with_shingles`), same per-shingle hash family
    ("portable" = md5-derived, "fast" = bit-exact XXH64 twin of Spark's
    xxhash64 — functions/phash.fast_hash64_py), same seeded affine minhash
    family, same LSH band + capped bucket + prefix blocking, same
    containment/jaccard verification — the edge SET is identical to
    `verified_edges(..., hash_family=...)` by construction (parity-tested
    in tests/test_linking_cc.py for BOTH families). Below `small linking
    threshold` id counts the distributed path is ~15 sub-second shuffle
    stages of pure scheduling latency; this is the size-adaptive escape
    hatch, the same argument as `cc._cc_driver_side` and a broadcast join.
    """
    from collections import defaultdict

    from ocds_entity_extract_spark.functions.phash import (
        MERSENNE_P,
        minhash_params,
        shingle_hash_py,
    )

    _h64 = shingle_hash_py(hash_family)

    ids = sorted(set(slugs))
    params = minhash_params(num_hashes)
    n_bands = num_hashes // band_size

    hs: dict[str, frozenset[int]] = {}
    bands: dict[str, list[str]] = {}
    for s in ids:
        grams = {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}
        hset = frozenset(_h64(g) for g in grams)
        hs[s] = hset
        h31 = [h % MERSENNE_P for h in hset]
        mh = [min((a * h + b) % MERSENNE_P for h in h31) for a, b in params]
        bands[s] = [
            ",".join(str(mh[b * band_size + j]) for j in range(band_size))
            for b in range(n_bands)
        ]

    buckets: dict[tuple, list[str]] = defaultdict(list)
    for s in ids:
        for b_id, b_hash in enumerate(bands[s]):
            buckets[("b", b_id, b_hash)].append(s)
        if len(s) >= prefix_len:
            buckets[("p", s[:prefix_len])].append(s)

    pairs: set[tuple[str, str]] = set()
    for members in buckets.values():
        if 2 <= len(members) <= max_bucket:
            ms = sorted(members)
            for i, x in enumerate(ms):
                for y in ms[i + 1 :]:
                    pairs.add((x, y))

    edges = []
    for src, dst in sorted(pairs):
        inter = len(hs[src] & hs[dst])
        if inter < min_intersect:
            continue
        containment = inter / min(len(hs[src]), len(hs[dst]))
        if containment >= threshold:
            jac = inter / len(hs[src] | hs[dst])
            edges.append((src, dst, containment, jac))
    return edges


def linking_canon_dict(
    slugs: list[str], hash_family: str = "portable"
) -> dict[str, str]:
    """ids -> {entity_id: canonical_id} via `verified_edges_py` + union-find,
    identity entries for singletons. The driver-side twin of
    `canonical_mapping(ids, verified_edges(ids, hash_family=...))` as a
    plain dict — the zero-shuffle assembly path (plans/pipeline.py)
    broadcasts it to the Python workers."""
    edges = verified_edges_py(slugs, hash_family=hash_family)
    roots = union_find((src, dst) for src, dst, _c, _j in edges)
    return {s: roots.get(s, s) for s in sorted(set(slugs))}

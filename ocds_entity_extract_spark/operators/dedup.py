"""Document deduplication operators for the training-data pipeline.

- exact dedup: hash-groupBy (see queries.q_dedup_exact)
- MinHash-LSH: word n-gram shingles -> K minhashes -> banded buckets ->
  candidate self-join (same native machinery as entity linking, reused at
  document granularity)
- SimHash: 64-bit token-hash sign-vote signature, Arrow-batched
- n-gram Jaccard: exact verification inside blocks

Scale notes: shingling/minhashing are narrow per-row Column expressions;
the only shuffles are the band-bucket self-join (bucket-capped) and the
block join. Hot buckets are capped exactly as in operators/linking.py.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType


def with_word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Add `shingles`: distinct word n-grams (joined with single spaces)."""
    toks = F.split(F.col(text_col), r"\s+")
    return df.withColumn("_toks", toks).withColumn(
        "shingles",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(size(_toks) - {n - 1}, 1)),"
            f" i -> concat_ws(' ', slice(_toks, i, {n}))))"
        ),
    ).drop("_toks")


def _hashed_shingles(
    docs: DataFrame, id_col: str, text_col: str, hash_family: str, *carry: str
) -> DataFrame:
    """ONE corpus pass: (id, *carry, hs) with `hs` the hashed word-shingle
    array, materialized so signatures and verification both reuse it.

    Right-sizes the scan first: a small/compacted parquet input can come
    back as fewer partitions than cores (one file => ONE task), serializing
    the expensive shingle+hash projection. It repartitions up to the
    default parallelism only when the scan under-splits — a real multi-TB
    input already has >= cores partitions and skips this (the shuffle ships
    raw text, so it must never trigger when the scan is already wide).

    The table is a localCheckpoint (blocks GC-released when the query
    ends, no harness-lifetime cache leak; an intermediate table at cluster
    scale), so shingling+hashing never run twice and the signature explode
    reads cheap materialized arrays — ~10x cheaper than exploding the fused
    shingle-construction+hash chain (measured 2.7s vs 0.24s for 260k
    shingles at sf0.1)."""
    from ocds_entity_extract_spark.functions.phash import shingle_hash

    hash_fn = shingle_hash(hash_family)
    src = docs.select(id_col, text_col, *carry)
    target = docs.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    return (
        with_word_shingles(src, text_col)
        .select(
            id_col,
            *carry,
            F.transform("shingles", lambda s: hash_fn(s)).alias("hs"),
        )
        .localCheckpoint(eager=False)
    )


def _verified(
    sh: DataFrame, pairs: DataFrame, id_col: str, threshold: float, *carry: str
) -> DataFrame:
    """Candidate (id_a, id_b, *carry) pairs -> (id_a, id_b, *carry,
    jaccard) with exact Jaccard >= threshold over the hashed shingle sets.

    Verification touches only CANDIDATES: each pair explodes to two
    (pair, side) rows which join the materialized shingle table via a
    BROADCAST probe — full-corpus shingle arrays never leave their input
    partitions; only candidate rows reach the (tiny) regroup shuffle. The
    groupBy also dedups pairs emitted by several LSH bands, so no separate
    distinct pass is needed."""
    pe = pairs.select(
        "id_a",
        "id_b",
        *carry,
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias(id_col), F.lit("a").alias("side")),
                F.struct(F.col("id_b").alias(id_col), F.lit("b").alias("side")),
            )
        ).alias("m"),
    ).select("id_a", "id_b", *carry, F.col(f"m.{id_col}").alias(id_col), "m.side")
    joined = (
        sh.select(id_col, "hs")
        .join(F.broadcast(pe), id_col)
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("side") == "a", F.col("hs")), True).alias("sh_a"),
            F.first(F.when(F.col("side") == "b", F.col("hs")), True).alias("sh_b"),
            *[F.first(c).alias(c) for c in carry],
        )
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return joined.withColumn("jaccard", F.round(jac, 4)).filter(
        F.col("jaccard") >= threshold
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 2,
    max_bucket: int = 64,
    jaccard_threshold: float = 0.5,
    hash_family: str = "portable",
) -> DataFrame:
    """documents -> verified near-dup pairs (id_a, id_b, jaccard).

    Signature build is the codegen path (explode the materialized hashed
    shingles -> grouped affine mins, see linking.minhash_signatures)
    WITHOUT shingle sets riding the shuffle: at document granularity each
    set is O(tokens), so shipping every doc's set through the signature agg
    re-ships ~the corpus (the round-1 bottleneck — 6.3s of a 38s bench).
    Verification instead broadcast-probes only the candidates (`_verified`).

    The default hash family is md5-derived (functions/phash), so the DuckDB
    oracle reproduces the FULL path — shingles, signatures, banding, bucket
    cap, exact-Jaccard verification — value-for-value. hash_family='fast'
    swaps the per-shingle md5 for xxhash64 — the production path at 100 TB
    (md5 buys DuckDB value-hash parity, not quality). Signatures/buckets
    differ between families, but the verified pair OUTPUT is
    equality-tested between the two in test_dedup_similarity; the
    exact-Jaccard verification is on the chosen family's hashed shingle
    sets either way. Any other family name raises ValueError.
    """
    from ocds_entity_extract_spark.operators.linking import (
        _lsh_pairs,
        minhash_signatures,
    )

    sh = _hashed_shingles(docs, id_col, text_col, hash_family)
    sig = minhash_signatures(
        sh.select(id_col, F.explode("hs").alias("_h")), id_col, num_hashes, band_size
    )
    pairs = (
        _lsh_pairs(sig, id_col, max_bucket)
        .withColumnRenamed("src", "id_a")
        .withColumnRenamed("dst", "id_b")
    )
    return _verified(sh, pairs, id_col, jaccard_threshold).select(
        "id_a", "id_b", "jaccard"
    )


def minhash_incremental_pairs(
    docs: DataFrame,
    is_new_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 2,
    max_bucket: int = 64,
    jaccard_threshold: float = 0.5,
    hash_family: str = "portable",
) -> DataFrame:
    """Incremental dedup: verified near-dup pairs TOUCHING a new document.

    The production shape at corpus scale — a new crawl batch is deduped
    against the existing corpus plus itself, never corpus x corpus. Emits
    (id_a, id_b, jaccard, new_side) with id_a < id_b, where at least one
    side has `is_new_col` true and new_side in ('a','b','both') says which.
    Output is EXACTLY the full-dedup pair set restricted to new-touching
    pairs (same signatures, same global bucket cap, same exact-Jaccard
    verification) — so a batch-at-a-time run converges to the same clusters
    the full run finds, batch by batch.

    Cost shape: buckets with no new member are dropped BEFORE pair
    explosion (a bool-or over the same window partitioning the cap uses —
    one exchange serves cap + liveness + collect), and each surviving
    bucket emits only its new-touching pairs, so pair volume is
    O(|new| * bucket) instead of O(|corpus| * bucket). At a real deployment
    the history side's signatures and bucket counts come from a stored
    index (the signature table is the natural Iceberg side output of the
    previous run) so only the new batch's text is shingled; here both
    sides recompute from text because the sandbox oracle needs the whole
    path deterministic from the input table.
    """
    from pyspark.sql.window import Window

    from ocds_entity_extract_spark.operators.linking import minhash_signatures

    sh = _hashed_shingles(
        docs.withColumn("_new", F.col(is_new_col)), id_col, text_col,
        hash_family, "_new",
    )
    sig = minhash_signatures(
        sh.select(id_col, F.explode("hs").alias("_h")), id_col, num_hashes, band_size
    )
    buckets = (
        sig.join(sh.select(id_col, "_new"), id_col)
        .select(id_col, "_new", F.explode("bands").alias("b"))
        .select(
            id_col,
            "_new",
            F.col("b.band_id").alias("band_id"),
            F.col("b.band_hash").alias("band_hash"),
        )
    )
    w = Window.partitionBy("band_id", "band_hash")
    grouped = (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .withColumn("_any_new", F.max(F.col("_new").cast("int")).over(w))
        .filter((F.col("_bsz") <= max_bucket) & (F.col("_any_new") == 1))
        .groupBy("band_id", "band_hash")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), "_new"))
            ).alias("_ids")
        )
        .filter(F.size("_ids") >= 2)
    )
    pairs = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ids, (x, i) ->"
                    " transform(slice(_ids, i + 2, size(_ids) - i - 1),"
                    " y -> named_struct('id_a', x.i, 'na', x._new,"
                    "                   'id_b', y.i, 'nb', y._new))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.na", "p.id_b", "p.nb")
        .filter(F.col("na") | F.col("nb"))
        .dropDuplicates(["id_a", "id_b"])
    )
    new_side = (
        F.when(F.col("na") & F.col("nb"), F.lit("both"))
        .when(F.col("na"), F.lit("a"))
        .otherwise(F.lit("b"))
    )
    return _verified(sh, pairs, id_col, jaccard_threshold, "na", "nb").select(
        "id_a", "id_b", "jaccard", new_side.alias("new_side")
    )


def _simhash64_py(t: str | None) -> int | None:
    """Row-at-a-time reference implementation (parity oracle for the
    vectorized UDF below; NOT used in any hot path)."""
    if t is None:
        return None
    votes = [0] * 64
    for tok in t.split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    sig = 0
    for i in range(64):
        if votes[i] > 0:
            sig |= 1 << i
    # wrap to signed 64-bit for Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig


@F.pandas_udf(LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens; md5-based token hashes
    (stdlib-deterministic on every executor; DuckDB-reproducible).

    Vectorized: tokens are deduplicated across the Arrow batch (Zipf — a
    batch shares most of its vocabulary), each UNIQUE token is md5-hashed
    once, `np.unpackbits` turns the digests into a (vocab, 64) ±1 matrix,
    and per-doc bit votes are one `np.add.at` scatter-sum. Replaces the
    per-token 64-iteration Python inner loop (~50x less interpreter work;
    parity-tested against `_simhash64_py`).
    """
    import numpy as np

    toks_per_doc = [t.split() if isinstance(t, str) else None for t in text]
    n = len(toks_per_doc)
    counts = np.array([len(d) if d else 0 for d in toks_per_doc], dtype=np.int64)
    flat = [tok for d in toks_per_doc if d for tok in d]
    votes = np.zeros((n, 64), dtype=np.int64)
    if flat:
        uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
        digests = b"".join(hashlib.md5(u.encode()).digest()[:8] for u in uniq)
        bits = np.unpackbits(
            np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8), axis=1
        ).astype(np.int64)
        # unpackbits is MSB-first on big-endian bytes: column j <-> bit 63-j
        pm = 2 * bits - 1
        doc_idx = np.repeat(np.arange(n), counts)
        np.add.at(votes, doc_idx, pm[inv])
    sig_bits = (votes > 0).astype(np.uint8)
    sig = (
        np.packbits(sig_bits, axis=1)
        .view(">u8")
        .reshape(-1)
        .astype(np.uint64)
        .view(np.int64)  # two's-complement wrap to Spark LongType
    )
    out = pd.Series(sig, dtype="object")
    out[[d is None for d in toks_per_doc]] = None
    return out


def with_simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("simhash", simhash64(F.col(text_col)))


def simhash_near_pairs(
    docs: DataFrame, id_col: str = "doc_id", max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup join: block on 4 x 16-bit chunks (pigeonhole: any
    pair within hamming distance <= 6 shares at least one exact chunk when
    split into 4), verify hamming via bit_count(xor)."""
    sh = with_simhash(docs).select(id_col, "simhash")
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("simhash", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk"))
    a = chunks.select(
        "chunk_id", "chunk", F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = chunks.select(
        "chunk_id", "chunk", F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b")
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    block_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact word n-gram Jaccard >= threshold within blocks (block join
    bounds the pair count; at scale the block is an LSH bucket).

    Shingles are hashed to 64-bit longs BEFORE the self-join: the block
    join is quadratic within each block, so the per-pair intersect work and
    the shuffled array payload both shrink (~8 bytes vs full n-gram
    strings); Jaccard over distinct 64-bit hashes equals Jaccard over the
    strings up to negligible collision probability.
    """
    sh = with_word_shingles(
        docs.select(id_col, block_col, text_col), text_col, n
    ).withColumn("sh_h", F.expr("transform(shingles, s -> xxhash64(s))"))
    a = sh.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_a"), F.col("sh_h").alias("sh_a")
    )
    b = sh.select(
        F.col(block_col).alias("blk"), F.col(id_col).alias("id_b"), F.col("sh_h").alias("sh_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("blk").alias(block_col), "id_a", "id_b", "jaccard")
    )

"""Dedup family (exact / MinHash / SimHash / n-gram Jaccard / embedding)
and similarity search operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.operators.dedup import (
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    with_simhash,
    with_word_shingles,
)
from ocds_entity_extract_spark.operators.similarity import (
    ann_topk_bruteforce,
    ann_topk_lsh,
    with_lsh_bucket,
)

DOCS = [
    (1, "a", "the quick brown fox jumps over the lazy dog in the park"),
    (2, "a", "the quick brown fox jumps over the lazy dog in a park"),   # near-dup of 1
    (3, "a", "completely different text about spark shuffles and joins here"),
    (4, "b", "the quick brown fox jumps over the lazy dog in the park"), # exact dup of 1
    (5, "b", "unrelated words entirely distinct vocabulary nothing shared at all"),
]
DOCS_SCHEMA = "doc_id long, source string, text string"


def _docs(spark):
    return spark.createDataFrame(DOCS, DOCS_SCHEMA)


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = with_word_shingles(df).collect()[0]["shingles"]
    assert out == ["a b c", "b c d"]


def test_minhash_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(_docs(spark), jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert (1, 4) in pairs       # exact dup has jaccard 1.0
    assert all({a, b} != {3, 5} for a, b in pairs)


def test_minhash_fast_family_pair_parity(spark, small_corpus):
    """The xxhash64 production family vs the md5 oracle family: the
    verification metric is family-INDEPENDENT (exact Jaccard over the
    distinct shingle sets — 64-bit hash collisions are negligible), so
    every pair both families surface must carry the identical jaccard, and
    clear near-dups (>= 0.7, where 2-row banding recall is ~1) must be
    found by BOTH. At the 0.5 detection threshold LSH banding is
    probabilistic per family, so borderline pairs may differ — bounded to
    a small fraction of the union."""
    from ocds_entity_extract_spark.functions.html import extract_text_bytes

    def pairs(df, fam):
        return {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in minhash_candidate_pairs(df, hash_family=fam).collect()
        }

    toy = _docs(spark)
    assert pairs(toy, "portable") == pairs(toy, "fast") != {}
    # an unknown family name is an error, not a silent fallback to md5
    with pytest.raises(ValueError, match="hash_family"):
        minhash_candidate_pairs(toy, hash_family="xxhash")

    pages, _, _ = small_corpus
    texts = [extract_text_bytes(p["html"]) for p in pages[:120]]
    rows = [(i, t) for i, t in enumerate(texts)]
    # plant near-dups: one-word perturbations of every 4th text
    rows += [
        (1000 + i, t.replace("hoy", "ayer", 1))
        for i, t in enumerate(texts)
        if i % 4 == 0
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    a, b = pairs(corpus, "portable"), pairs(corpus, "fast")
    common = a.keys() & b.keys()
    assert len(common) > 10
    assert all(a[k] == b[k] for k in common)          # same exact jaccard
    hi_a = {k for k, j in a.items() if j >= 0.7}
    hi_b = {k for k, j in b.items() if j >= 0.7}
    assert hi_a == hi_b                                # clear dups identical
    sym = (a.keys() | b.keys()) - common
    assert len(sym) <= 0.15 * len(a.keys() | b.keys()), (len(sym), len(common))


def test_simhash_properties(spark):
    rows = {r["doc_id"]: r["simhash"] for r in with_simhash(_docs(spark)).collect()}
    assert rows[1] == rows[4]            # identical text -> identical signature
    assert rows[1] != rows[5]
    # near-dup: small hamming distance
    h = bin((rows[1] ^ rows[2]) & ((1 << 64) - 1)).count("1")
    assert h <= 12, h


def test_simhash_near_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]) for r in simhash_near_pairs(_docs(spark), max_hamming=12).collect()
    }
    assert (1, 4) in pairs
    assert (1, 2) in pairs


def test_ngram_jaccard_blocked(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.2).collect()
    }
    assert (1, 2) in out
    assert (1, 4) not in out             # different block ('a' vs 'b')
    assert all(v >= 0.2 for v in out.values())


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0], 0),
    (1, [0.9, 0.1, 0.0, 0.0], 0),
    (2, [0.0, 1.0, 0.0, 0.0], 1),
    (3, [1.0, 0.05, 0.0, 0.0], 0),
    (4, [-1.0, 0.0, 0.0, 0.0], 1),
]


def _vecs(spark):
    return spark.createDataFrame(
        VECS, "vec_id long, embedding array<float>, label int"
    )


def test_bruteforce_topk_order(spark):
    rows = ann_topk_bruteforce(_vecs(spark), query_vec_id=0, k=3).collect()
    assert [r["vec_id"] for r in rows] == [3, 1, 2]
    assert rows[0]["score"] >= rows[1]["score"] >= rows[2]["score"]


def test_lsh_bucket_deterministic(spark):
    a = {r["vec_id"]: r["bucket"] for r in with_lsh_bucket(_vecs(spark), dim=4).collect()}
    b = {r["vec_id"]: r["bucket"] for r in with_lsh_bucket(_vecs(spark), dim=4).collect()}
    assert a == b


def test_lsh_topk_subset_of_bucket(spark):
    rows = ann_topk_lsh(_vecs(spark), query_vec_id=0, k=3, n_planes=2).collect()
    got = [r["vec_id"] for r in rows]
    # close vectors share the query's hyperplane signs; opposite vector must not
    assert 4 not in got
    assert len(got) >= 1


def test_simhash_vectorized_parity(spark):
    """The numpy-vectorized simhash64 UDF must reproduce the row-at-a-time
    reference implementation bit-for-bit (incl. None, empty, unicode)."""
    from ocds_entity_extract_spark.operators.dedup import _simhash64_py, simhash64

    texts = [
        "hello world hello", "a b c d e", "", "único camión über straße",
        "x", None, "the the the and and", "  leading and trailing  ",
        "tabs\tand\nnewlines mixed tokens",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r["t"]: r["s"] for r in df.select("t", simhash64("t").alias("s")).collect()}
    for t in texts:
        assert got[t] == _simhash64_py(t), repr(t)


def test_portable_hash_matches_python_md5(spark):
    """functions/phash.portable_hash64 == int(md5_hex[:15], 16) — the
    contract every DuckDB oracle relies on."""
    import hashlib

    from pyspark.sql import functions as F

    from ocds_entity_extract_spark.functions.phash import (
        portable_hash64,
        portable_hash64_py,
    )

    vals = ["hello", "ab cd ef", "Grupo Aurora S.A.", "ñandú", ""]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", portable_hash64(F.col("s")).alias("h"))
        .collect()
    )
    for r in rows:
        assert r["h"] == int(hashlib.md5(r["s"].encode()).hexdigest()[:15], 16)
        assert r["h"] == portable_hash64_py(r["s"])


def test_ann_ivf_contains_bucket_topk(spark):
    """IVF result is the exact top-k within the probed buckets and scores
    are sane (<= brute-force best)."""
    from ocds_entity_extract_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bf = ann_topk_bruteforce(e, 0, 10).collect()
    ivf = ann_topk_ivf(e, 0, 10).collect()
    assert len(ivf) == 10
    assert ivf[0]["score"] <= bf[0]["score"]
    ivf_ids = {r["vec_id"] for r in ivf}
    assert 0 not in ivf_ids


def test_canonical_docs_keep_best(spark):
    """dedup_canonical_docs contract on a hand-built corpus: one survivor
    per near-dup cluster, chosen by (n_chars DESC, doc_id ASC); singleton
    docs survive as their own cluster."""
    from ocds_entity_extract_spark.queries_ml import q_dedup_canonical_docs
    import os
    import tempfile

    base = " ".join(f"tok{i}" for i in range(40))
    rows = [
        # near-dup cluster {1, 2, 3}: doc 2 is longest -> kept
        (1, base, "en", "s", 100),
        (2, base + " extra", "en", "s", 106),
        (3, base + " other", "en", "s", 106),
        # singleton
        (9, " ".join(f"zz{i}" for i in range(40)), "en", "s", 50),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["cluster_id"]: (r["kept_doc_id"], r["cluster_size"])
            for r in q_dedup_canonical_docs(spark, d).collect()
        }
    # doc 2 wins the (n_chars DESC, doc_id ASC) tie-break over doc 3
    assert out[1] == (2, 3)
    assert out[9] == (9, 1)
    assert set(out) == {1, 9}


def test_incremental_equals_restricted_full(spark):
    """minhash_incremental_pairs == minhash_candidate_pairs restricted to
    new-touching pairs (same signatures, same global bucket cap): the
    bucket-liveness pruning and new-side pair filter are cost-only."""
    from pyspark.sql import functions as F

    from ocds_entity_extract_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_incremental_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") % 5 == 0).alias("is_new")
    )
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"], r["new_side"])
        for r in minhash_incremental_pairs(docs, "is_new").collect()
    }
    flags = {r["doc_id"]: r["is_new"] for r in docs.select("doc_id", "is_new").collect()}
    full = {
        (
            r["id_a"],
            r["id_b"],
            r["jaccard"],
            "both"
            if flags[r["id_a"]] and flags[r["id_b"]]
            else ("a" if flags[r["id_a"]] else "b"),
        )
        for r in minhash_candidate_pairs(docs.select("doc_id", "text")).collect()
        if flags[r["id_a"]] or flags[r["id_b"]]
    }
    assert inc == full
    assert len(inc) > 0
    with pytest.raises(ValueError, match="hash_family"):
        minhash_incremental_pairs(docs, "is_new", hash_family="xxhash")


def test_incremental_boundary_batches(spark):
    """Boundary batches: no new docs -> empty output; all docs new ->
    exactly the full pair set with new_side='both' everywhere."""
    from pyspark.sql import functions as F

    from ocds_entity_extract_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_incremental_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    none_new = docs.withColumn("is_new", F.lit(False))
    assert minhash_incremental_pairs(none_new, "is_new").count() == 0

    all_new = docs.withColumn("is_new", F.lit(True))
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"], r["new_side"])
        for r in minhash_incremental_pairs(all_new, "is_new").collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["jaccard"], "both")
        for r in minhash_candidate_pairs(docs).collect()
    }
    assert inc == full and len(inc) > 0


def test_canonical_docs_no_pairs_corpus(spark):
    """A corpus with NO near-dups: every doc survives as its own cluster
    of size 1 (the left-join + coalesce singleton path)."""
    import os
    import tempfile

    from ocds_entity_extract_spark.queries_ml import q_dedup_canonical_docs

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(30)), "en", "s", 30 + i)
        for i in range(6)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = q_dedup_canonical_docs(spark, d).collect()
    assert sorted((r["cluster_id"], r["kept_doc_id"], r["cluster_size"]) for r in out) \
        == [(i, i, 1) for i in range(6)]

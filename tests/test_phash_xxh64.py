"""Driver-side XXH64 twin parity vs Spark's JVM xxhash64.

`functions/phash.xxh64_py` must be bit-identical to `F.xxhash64(string)`
(seed 42, UTF-8 bytes) for EVERY input length class — that identity is what
lets the driver-side linking twin (`linking.verified_edges_py`,
hash_family="fast") emit the exact edge set the distributed plan emits."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.functions.phash import fast_hash64_py, xxh64_py


def _spark_hashes(spark, strings):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    return [r["h"] for r in df.select(F.xxhash64("s").alias("h")).collect()]


def test_xxh64_matches_spark_all_length_classes(spark):
    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz áéíóúñü-0123456789日本語"
    # lengths straddling every branch of the algorithm: <4, 4-7, 8-31,
    # exactly 32, >32, and long tails
    strings = [""]
    for n in (1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 31, 32, 33, 63, 64, 100, 257):
        for _ in range(6):
            strings.append("".join(rng.choice(alphabet) for _ in range(n)))
    got = [fast_hash64_py(s) for s in strings]
    want = _spark_hashes(spark, strings)
    assert got == want


def test_xxh64_signed_range():
    # results are SIGNED 64-bit longs, matching Spark's LongType
    vals = [xxh64_py(bytes([i]) * i) for i in range(0, 80)]
    assert all(-(1 << 63) <= v < (1 << 63) for v in vals)
    assert any(v < 0 for v in vals)


def test_linking_families_same_golden_edges(spark):
    """Both hash families clear the alias-pair golden on the same slugs and
    the driver twin matches the distributed plan per family."""
    from ocds_entity_extract_spark.operators.linking import (
        verified_edges,
        verified_edges_py,
    )

    slugs = [
        "constructora-aurora-del-norte-s-a-de-c-v",
        "constructora-aurora-del-norte",
        "grupo-balderas-victoria-s-a",
        "grupo-balderas-victoria",
        "secretaria-de-salud-de-jalisco",
        "secretaria-de-salud",
        "instituto-nacional-electoral",
        "juan-garcia-lopez",
        "juan-garcia",
    ]
    df = spark.createDataFrame([(s,) for s in slugs], "entity_id string")
    for fam in ("portable", "fast"):
        dist = {
            (r["src"], r["dst"])
            for r in verified_edges(df, hash_family=fam).select(
                "src", "dst"
            ).collect()
        }
        drv = {(s, d) for s, d, _c, _j in verified_edges_py(slugs, hash_family=fam)}
        assert dist == drv, fam
        # the true alias pairs are found under either family
        assert ("constructora-aurora-del-norte",
                "constructora-aurora-del-norte-s-a-de-c-v") in dist
        assert ("grupo-balderas-victoria", "grupo-balderas-victoria-s-a") in dist
    # an unknown family name is an error, not a silent fallback to md5
    with pytest.raises(ValueError, match="hash_family"):
        verified_edges(df, hash_family="xxhash")
    with pytest.raises(ValueError, match="hash_family"):
        verified_edges_py(slugs, hash_family="xxhash")

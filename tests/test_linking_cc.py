"""MinHash-LSH linking + connected components."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.operators.cc import (
    canonical_mapping,
    connected_components,
)
from ocds_entity_extract_spark.operators.linking import (
    _bucket_pairs,
    minhash_signature_table,
    verified_edges,
    with_shingles,
)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "entity_id string")


def test_shingles(spark):
    df = with_shingles(_ids(spark, ["abcd"]))
    assert df.collect()[0]["shingles"] == ["abc", "bcd"]


def test_minhash_deterministic(spark):
    def bands():
        sig = minhash_signature_table(
            with_shingles(_ids(spark, ["grupo-aurora"])), "entity_id"
        )
        return sig.collect()[0]["bands"]

    assert bands() == bands()


def test_alias_pairs_found_and_verified(spark):
    ids = [
        "grupo-aurora-delta-s-a-de-c-v",
        "grupo-aurora-delta",                 # suffix-drop alias
        "grupo-aurora-delta-sa-de-cv",       # suffix-abbrev alias
        "juan-perez-garcia",
        "juan-perez",                        # middle-drop alias
        "secretaria-de-salud-de-jalisco",
        "secretaria-de-salud",               # place-drop alias
        "secretaria-de-cultura",             # different institution — no edge
        "constructora-omega-s-c",            # unrelated
    ]
    edges = {
        (r["src"], r["dst"]) for r in verified_edges(_ids(spark, ids)).collect()
    }
    assert ("grupo-aurora-delta", "grupo-aurora-delta-s-a-de-c-v") in edges
    assert ("grupo-aurora-delta-s-a-de-c-v", "grupo-aurora-delta-sa-de-cv") in edges or (
        "grupo-aurora-delta-sa-de-cv",
        "grupo-aurora-delta-s-a-de-c-v",
    ) in edges
    assert ("juan-perez", "juan-perez-garcia") in edges
    assert ("secretaria-de-salud", "secretaria-de-salud-de-jalisco") in edges
    for s, d in edges:
        assert "secretaria-de-cultura" not in (s, d)
        assert "constructora-omega-s-c" not in (s, d)


def test_bucket_cap_guards_hot_buckets(spark):
    # a 100-member bucket is over the cap of 10 and emits nothing (uncapped
    # it would emit 4950 pairs); a 5-member bucket emits exactly its 10
    hot = [("hot", f"h{i:03d}") for i in range(100)]
    small = [("small", f"s{i}") for i in range(5)]
    buckets = spark.createDataFrame(hot + small, "key string, entity_id string")
    pairs = {
        (r["src"], r["dst"])
        for r in _bucket_pairs(buckets, ["key"], "entity_id", 10).collect()
    }
    assert pairs == {
        (f"s{i}", f"s{j}") for i in range(5) for j in range(i + 1, 5)
    }


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("x", "y")],
        "src string, dst string",
    )
    cc = {
        r["entity_id"]: r["canonical_id"] for r in connected_components(edges).collect()
    }
    assert cc["a"] == "a" and cc["b"] == "a" and cc["c"] == "a"
    assert cc["d"] == "d" and cc["e"] == "d"
    assert cc["x"] == "x" and cc["y"] == "x"


def test_connected_components_chain_and_star(spark):
    # long chain exercises multi-round convergence
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    cc = {
        r["entity_id"]: r["canonical_id"] for r in connected_components(edges).collect()
    }
    assert set(cc.values()) == {"n00"}
    assert len(cc) == 16


def test_cc_driver_vs_distributed_parity(spark):
    """Size-adaptive fast path (union-find) must equal the distributed
    star-loop on the same graph."""
    import random

    rng = random.Random(7)
    edges_py = {(f"n{rng.randint(0, 60):02d}", f"n{rng.randint(0, 60):02d}") for _ in range(80)}
    edges_py = [(a, b) for a, b in edges_py if a != b]
    edges = spark.createDataFrame(edges_py, "src string, dst string")
    fast = {
        (r["entity_id"], r["canonical_id"])
        for r in connected_components(edges).collect()
    }
    dist = {
        (r["entity_id"], r["canonical_id"])
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    assert fast == dist


def test_canonical_mapping_includes_singletons(spark):
    all_ids = _ids(spark, ["a", "b", "zz-singleton"])
    edges = spark.createDataFrame([("b", "a")], "src string, dst string")
    m = {r["entity_id"]: r["canonical_id"] for r in canonical_mapping(all_ids, edges).collect()}
    assert m == {"a": "a", "b": "a", "zz-singleton": "zz-singleton"}


def test_driver_side_linking_matches_distributed(spark, pages_df):
    """The size-adaptive driver-side linking+CC fast path emits EXACTLY the
    distributed chain's mapping (same blocking, same hash family, same
    verification, same union contract) on the corpus surface dim."""
    from ocds_entity_extract_spark.operators.cc import canonical_mapping
    from ocds_entity_extract_spark.operators.linking import (
        linking_canon_dict,
        verified_edges,
        verified_edges_py,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans_fused,
        surface_dim,
    )

    ids = surface_dim(detect_spans_fused(pages_df)).select("entity_id")
    slugs = [r["entity_id"] for r in ids.distinct().collect()]
    assert len(slugs) > 50

    dist_edges = sorted(
        (r["src"], r["dst"]) for r in verified_edges(ids).collect()
    )
    py_edges = sorted((s, d) for s, d, _c, _j in verified_edges_py(slugs))
    assert dist_edges == py_edges and len(py_edges) > 0

    dist_map = sorted(
        map(tuple, canonical_mapping(ids, verified_edges(ids)).collect())
    )
    assert dist_map == sorted(linking_canon_dict(slugs).items())


def test_build_triples_driver_vs_distributed_linking(spark, pages_df):
    """build_triples emits the identical triple set whichever linking and
    assembly path the size thresholds select."""
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    t_fast = {tuple(r) for r in build_triples(spark, pages_df).triples.collect()}
    assert len(t_fast) > 0
    for kw in (
        {"max_driver_linking": 0},
        # the fully forced plan: distributed linking, star CC, and the
        # join + distinct assembly with AQE-decided joins
        {
            "max_driver_linking": 0,
            "cc_small_graph_threshold": 0,
            "surface_broadcast": "aqe",
        },
    ):
        slow = build_triples(spark, pages_df, **kw)
        assert {tuple(r) for r in slow.triples.collect()} == t_fast, kw
    # an unknown mode name is an error, not a silent fallback to "auto"
    with pytest.raises(ValueError, match="surface_broadcast"):
        build_triples(spark, pages_df, surface_broadcast="x")


def test_build_triples_parity_on_coined_corpus(spark, monkeypatch):
    """Round-4 scaling evidence companion: on a corpus whose entity
    universe extends past the handcrafted vocabulary into COINED tokens
    (datagen._coined_token — the regime the 4M-page scaling corpus runs
    in), the engine's own adaptive plan and the fully-forced distributed
    plan (the exact knobs bench/pipeline_job.py's SPARK_GRAFT_MODE=
    distributed sets) emit the identical triple set, and the golden
    linking quality holds (precision/recall >= 0.95, the BASELINE gate)."""
    import ocds_entity_extract_spark.datagen as dg
    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    # shrink the handcrafted phase so the coined phase engages at unit-test
    # cost (the real caps make universe build O(minutes))
    monkeypatch.setattr(dg, "_HC_PERSON", 20)
    monkeypatch.setattr(dg, "_HC_COMPANY", 25)
    monkeypatch.setattr(dg, "_HC_INST", 20)
    pages, golden, aux = dg.generate_corpus(
        n_pages=350, seed=7, n_person=60, n_company=70, n_inst=50
    )
    # the coined phase genuinely engaged: some entity carries a coined
    # 8-char token (4 syllables of 2 chars) absent from the handcrafted
    # vocabularies
    coined = [
        e for e in aux["entities"]
        if any(len(w) == 8 and w.isalpha() and w[0].isupper()
               for w in e.name.split())
    ]
    assert len(coined) > 50

    df = spark.createDataFrame(pages, schema=PAGES_SCHEMA)
    fast = build_triples(spark, df)
    dist = build_triples(
        spark,
        df,
        max_driver_linking=0,
        cc_small_graph_threshold=0,
        surface_broadcast="aqe",
    )
    t_fast = {tuple(r) for r in fast.triples.collect()}
    t_dist = {tuple(r) for r in dist.triples.collect()}
    assert t_fast == t_dist and len(t_fast) > 0

    # linking quality on the coined corpus (golden P/R, BASELINE >= 0.95)
    for pred in ("mentions", "sameAs", "type"):
        got = {t for t in t_fast if t[1] == pred}
        want = {t for t in golden if t[1] == pred}
        tp = len(got & want)
        prec = tp / len(got) if got else 1.0
        rec = tp / len(want) if want else 1.0
        assert prec >= 0.95 and rec >= 0.95, (pred, prec, rec)

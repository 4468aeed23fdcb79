#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] plus the full KG pipeline
on a deterministic synthetic corpus, and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "triples_per_sec": ...}

Timing excludes JVM startup (session built first, one warmup action).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "orders_lineitem_join",
    "dim_broadcast_join",
    "exists_semi_join",
    "first_order_window",
    "salted_group_agg",
    "supplier_date_range",
    "dedup_exact",
    "url_dedup_canonical",
    "dedup_minhash_docs",
    "dedup_minhash_docs_fast",
    "simhash_docs",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "token_stats_total",
    "doc_fingerprints",
    "dedup_clusters",
    "kg_merged_entities",
    "kg_merged_entities_salted",
    "kg_pipeline_triples",
    "kg_pipeline_products",
    "events_sessionize",
    "asof_join_events",
    "corpus_curation",
    "tfidf_top_terms",
]

KG_PAGES = int(os.environ.get("SPARK_GRAFT_KG_PAGES", "60000"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from ocds_entity_extract_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup action

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    timings: dict[str, float] = {}
    total = 0.0
    # median of >= 3 reps per query: single-rep (and best-of-2) numbers on
    # a co-tenant box cannot separate plan regressions from ±25-30% window
    # noise (round-2 finding); the median is the steady-state cost, the min
    # goes to stderr only, so the JSON line stays short
    for name in HEADLINE:
        fn = qs[name]
        els = []
        for rep in range(reps):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            els.append(time.time() - t0)
        els.sort()
        med = els[len(els) // 2] if reps % 2 else (els[reps // 2 - 1] + els[reps // 2]) / 2
        timings[name] = round(med, 3)
        total += med
        print(
            f"# {name}: {n} rows, median {med:.2f}s min {els[0]:.2f}s"
            f" ({reps} reps)",
            file=sys.stderr,
        )

    # Skew context for the salted-merge comparison (round-3 verdict ask #3):
    # the kg_merged template corpus is deliberately hot-keyed — report what
    # fraction of all mentions the hottest entity owns, so the
    # kg_merged_entities vs kg_merged_entities_salted timings above can be
    # read as "salted vs unsalted merge under N% single-key skew".
    from pyspark.sql import functions as F_

    _ents = qs["kg_merged_entities"](spark, sf_dir)
    _hot = _ents.agg(
        (F_.max("mention_count") / F_.sum("mention_count")).alias("f")
    ).collect()[0]["f"]
    hot_key_fraction = round(float(_hot), 4)
    print(
        f"# merge skew: hottest entity owns {hot_key_fraction:.1%} of "
        f"mentions; unsalted {timings['kg_merged_entities']}s vs salted "
        f"{timings['kg_merged_entities_salted']}s (medians above)",
        file=sys.stderr,
    )

    # ANN quality: recall@10 vs brute force, averaged over 3 query ids.
    # Context for reading the number: this corpus's per-query top-10 sits
    # at cosine ~0.3-0.4 (the random-direction noise floor, no true near
    # neighbors), so recall is bounded by candidate fraction — LSH probes
    # ~31% of vectors, IVF ~25%; random guessing would score ~those rates.
    from ocds_entity_extract_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_ivf,
        ann_topk_lsh,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    emb.count()
    lsh_r, lsh2_r, ivf_r = [], [], []
    for qid in (0, 17, 33):
        bf = {r["vec_id"] for r in ann_topk_bruteforce(emb, qid).collect()}
        # DEFAULT path (cost-safe since round 5: radius scales with
        # n_planes — radius 1 at the bench's n_planes=4, ~31% candidate
        # fraction) is the headline recall; radius 2 kept as the
        # recall-vs-fraction diagnostic (~69% of the corpus at 4 planes)
        lsh = {r["vec_id"] for r in ann_topk_lsh(emb, qid, n_planes=4, dim=64).collect()}
        lsh2 = {
            r["vec_id"]
            for r in ann_topk_lsh(
                emb, qid, n_planes=4, dim=64, probe_hamming=2
            ).collect()
        }
        ivf = {r["vec_id"] for r in ann_topk_ivf(emb, qid).collect()}
        lsh_r.append(len(bf & lsh) / max(len(bf), 1))
        lsh2_r.append(len(bf & lsh2) / max(len(bf), 1))
        ivf_r.append(len(bf & ivf) / max(len(bf), 1))
    emb.unpersist()
    ann_recall = sum(lsh_r) / len(lsh_r)
    ann_recall2 = sum(lsh2_r) / len(lsh2_r)
    ivf_recall = sum(ivf_r) / len(ivf_r)
    print(
        f"# ann recall@10 vs brute force (3 queries): lsh(default h<=1 @ "
        f"4 planes)={ann_recall:.2f} lsh(h<=2)={ann_recall2:.2f} "
        f"ivf(default n_probe=12)={ivf_recall:.2f}",
        file=sys.stderr,
    )

    # KG pipeline throughput (pages -> triples) on the seeded corpus
    from ocds_entity_extract_spark.datagen import generate_corpus
    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    pages_rows, _, _ = generate_corpus(n_pages=KG_PAGES, seed=42)
    pages = (
        spark.createDataFrame(pages_rows, schema=PAGES_SCHEMA)
        .repartition(cpus * 2)
        .cache()
    )
    pages.count()  # materialize input outside the timed window
    # best-of-2: single-box wall clock swings ±20-30% (page cache, DVFS,
    # JIT); the minimum is the least-contaminated estimate. Both runs are
    # printed to stderr.
    kg_el, n_triples = None, 0
    for rep in range(2):
        t0 = time.time()
        n_triples = build_triples(spark, pages).triples.count()
        el = time.time() - t0
        print(f"# kg_pipeline rep{rep}: {el:.2f}s", file=sys.stderr)
        kg_el = el if kg_el is None else min(kg_el, el)
    timings["kg_pipeline"] = round(kg_el, 3)
    total += kg_el
    tps = n_triples / kg_el if kg_el > 0 else 0.0
    pps = KG_PAGES / kg_el if kg_el > 0 else 0.0
    print(
        f"# kg_pipeline: {n_triples} triples from {KG_PAGES} pages in "
        f"{kg_el:.2f}s ({tps:.0f} triples/s)",
        file=sys.stderr,
    )

    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_kg_pipeline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "reps": reps,
                "sf": sf,
                "kg_pages": KG_PAGES,
                "kg_triples": n_triples,
                "triples_per_sec": round(tps, 1),
                "pages_per_sec": round(pps, 1),
                "ann_recall_at_10": round(ann_recall, 3),
                "ann_recall_at_10_probe2": round(ann_recall2, 3),
                "ann_ivf_recall_at_10": round(ivf_recall, 3),
                "merge_hot_key_fraction": hot_key_fraction,
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()

"""End-to-end correctness gate: full pipeline vs golden triple set.

BASELINE.md target: triple precision AND recall >= 0.95 on the deterministic
synthetic corpus, plus permutation invariance of the whole pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.functions.classify import load_classifier_override
from ocds_entity_extract_spark.plans.pipeline import build_triples
from ocds_entity_extract_spark.schemas import CLASSIFIER_SCHEMA, PAGES_SCHEMA


def _run(spark, pages_rows, aux, **kw):
    pages = spark.createDataFrame(pages_rows, schema=PAGES_SCHEMA)
    override = None
    if aux["classifier_override"]:
        override = load_classifier_override(
            spark,
            spark.createDataFrame(aux["classifier_override"], schema=CLASSIFIER_SCHEMA),
        )
    res = build_triples(spark, pages, override, **kw)
    got = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    return got, res


def _pr(got: set, golden: set) -> tuple[float, float]:
    tp = len(got & golden)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(golden) if golden else 0.0
    return precision, recall


@pytest.fixture(scope="module")
def pipeline_run(spark, small_corpus):
    pages_rows, golden, aux = small_corpus
    got, res = _run(spark, pages_rows, aux)
    return got, golden, res


def test_overall_pr(pipeline_run):
    got, golden, _ = pipeline_run
    precision, recall = _pr(got, golden)
    assert precision >= 0.95, f"precision {precision:.4f}\nFP sample: {sorted(got - golden)[:15]}"
    assert recall >= 0.95, f"recall {recall:.4f}\nFN sample: {sorted(golden - got)[:15]}"


def test_per_predicate_pr(pipeline_run):
    got, golden, _ = pipeline_run
    for pred in ("mentions", "type", "sameAs", "memberOf", "inArea", "partOf",
                 "mentionsProduct"):
        g = {t for t in got if t[1] == pred}
        gg = {t for t in golden if t[1] == pred}
        precision, recall = _pr(g, gg)
        assert precision >= 0.90, (pred, precision, sorted(g - gg)[:10])
        assert recall >= 0.90, (pred, recall, sorted(gg - g)[:10])


def test_product_docs_exact(spark, small_corpus, pipeline_run):
    """Product documents (A12-A15, reference extract.js:40-140) must equal
    the datagen golden EXACTLY: every counter, both conditional overprice
    sums, the decomposed running average and the min/max purchase dates
    (float fields compared at 1e-9 — the Spark sums and the Python fold
    add the same addends in different orders)."""
    _, _, aux = small_corpus
    _, _, res = pipeline_run
    got = {r["product_id"]: r.asDict() for r in res.products.collect()}
    exp = {a["product_id"]: a for a in aux["products"]}
    assert got.keys() == exp.keys() and len(got) > 5
    float_cols = (
        "purchase_amount", "avg_unit_price", "amount_over_all",
        "amount_over_with_overcost", "quantity_lost_all",
        "quantity_lost_with_overcost",
    )
    for pid, e in exp.items():
        g = got[pid]
        assert g["description"] == e["description"], pid
        assert g["purchase_count"] == e["purchase_count"], pid
        assert g["purchase_quantity"] == e["purchase_quantity"], pid
        assert g["first_purchase_date"] == e["first_purchase_date"], pid
        assert g["last_purchase_date"] == e["last_purchase_date"], pid
        for c in float_cols:
            assert abs(g[c] - e[c]) < 1e-9, (pid, c, g[c], e[c])


def test_permutation_invariance(spark, small_corpus):
    """Shuffling input page order must not change the emitted triple set
    (SURVEY.md §5.2 property test)."""
    pages_rows, golden, aux = small_corpus
    got_a, _ = _run(spark, pages_rows[:120], aux)
    got_b, _ = _run(spark, list(reversed(pages_rows[:120])), aux)
    assert got_a == got_b

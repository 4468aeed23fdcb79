"""Sink layer: partitioned triple write + lineage + metrics; incremental
checkpoint/resume (idempotent re-runs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocds_entity_extract_spark.materialize import materialize_triples, with_triple_id
from ocds_entity_extract_spark.sources.catalog import Catalog
from ocds_entity_extract_spark.streaming.incremental import (
    N_CHUNKS,
    pending_pages,
    run_incremental,
    with_chunk,
)

TRIPLES = [
    ("u1", "mentions", "e1"),
    ("u2", "mentions", "e2"),
    ("e1", "type", "person"),
    ("e2", "sameAs", "e1"),
]


def _triples(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


def test_triple_id_stable(spark):
    a = {r["_id"] for r in with_triple_id(_triples(spark)).collect()}
    b = {r["_id"] for r in with_triple_id(_triples(spark).repartition(3)).collect()}
    assert a == b and len(a) == 4


def test_materialize_lineage_metrics(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    metrics = materialize_triples(cat, _triples(spark), run_id="r1")
    assert metrics["triples_total"] == 4.0
    assert metrics["triples_mentions"] == 2.0
    stored = cat.read("triples")
    assert stored.count() == 4
    assert set(stored.columns) == {"subj", "pred", "obj", "_id"}
    lineage = cat.read("lineage")
    assert lineage.count() == 3  # one row per pred partition
    assert cat.read("metrics").count() == 4


def test_materialize_rerun_idempotent(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    materialize_triples(cat, _triples(spark), run_id="r1")
    materialize_triples(cat, _triples(spark), run_id="r2")
    # dynamic partition overwrite: second run replaces, never duplicates
    assert cat.read("triples").count() == 4


PAGES = [(f"https://d{i % 3}.mx/{i}",) for i in range(30)]


def test_incremental_resume(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    pages = spark.createDataFrame(PAGES, "url string")

    def process(subset):
        return subset.select(
            F.col("url").alias("subj"),
            F.lit("seen").alias("pred"),
            F.lit("x").alias("obj"),
            "chunk",
        )

    n1 = run_incremental(cat, pages, "scope1", process)
    assert 0 < n1 <= N_CHUNKS
    out1 = cat.read("triples_incremental").count()
    assert out1 == 30

    # second run: everything committed -> no pending work
    n2 = run_incremental(cat, pages, "scope1", process)
    assert n2 == 0
    assert pending_pages(cat, pages, "scope1").count() == 0
    # and output unchanged (idempotent)
    assert cat.read("triples_incremental").count() == 30


def test_incremental_new_pages_only(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    pages = spark.createDataFrame(PAGES[:20], "url string")

    def process(subset):
        return subset.select(
            F.col("url").alias("subj"),
            F.lit("seen").alias("pred"),
            F.lit("x").alias("obj"),
            "chunk",
        )

    run_incremental(cat, pages, "s", process)
    # grow the input; only chunks not yet committed are reprocessed — a
    # new url within a committed chunk is not pending (chunk-granular
    # watermark, documented)
    more = spark.createDataFrame(PAGES, "url string")
    committed = [r["chunk"] for r in with_chunk(pages).select("chunk").distinct().collect()]
    new = with_chunk(more.subtract(pages))
    in_committed = new.filter(F.col("chunk").isin(committed)).count()
    assert in_committed > 0
    assert pending_pages(cat, more, "s").count() == new.count() - in_committed

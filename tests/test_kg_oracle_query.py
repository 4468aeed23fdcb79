"""The KG queries and their DuckDB oracles.

Three invariants:
1. The size-adaptive linking escape hatch is invisible: forcing the
   DISTRIBUTED linking+CC path produces the byte-identical triple set the
   driver-side union-find path produces on the same template corpus.
2. The template page text the oracles start from (_kg_tpl_text_sql) is,
   whitespace-collapsed, the extractor's text of the template html.
3. Every KG oracle value-hash-matches its real Spark plan at sf0.001 —
   the same gate tools/check_queries.py applies at sf0.01.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

KG_QUERIES = [
    "kg_pipeline_triples",
    "kg_pipeline_entities",
    "kg_pipeline_products",
    "kg_triples",
    "kg_entities",
]


@pytest.fixture(scope="module")
def template_pages(spark):
    from ocds_entity_extract_spark.queries_ml import _kg_template_pages

    return _kg_template_pages(spark.read.parquet(f"{SF_DIR}/documents.parquet"))


def _triples_set(df):
    return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


def test_driver_vs_distributed_linking_same_triples(spark, template_pages):
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    driver_side = _triples_set(
        build_triples(spark, template_pages).triples
    )
    distributed = _triples_set(
        build_triples(spark, template_pages, max_driver_linking=0).triples
    )
    assert driver_side == distributed
    assert len(driver_side) > 0
    spark.catalog.clearCache()


def test_template_text_sql_matches_extractor(template_pages):
    duckdb = pytest.importorskip("duckdb")

    from ocds_entity_extract_spark.functions.html import extract_text_bytes
    from ocds_entity_extract_spark.queries_ml import _kg_tpl_text_sql

    spark_text = {
        r["url"]: extract_text_bytes(bytes(r["html"]))
        for r in template_pages.select("url", "html").collect()
    }
    con = duckdb.connect()
    sql_text = dict(
        con.sql(
            "SELECT 'https://docs.example.mx/' || CAST(doc_id AS VARCHAR),"
            rf" trim(regexp_replace({_kg_tpl_text_sql()}, '\s+', ' ', 'g'))"
            f" FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    assert len(sql_text) == len(spark_text) > 0
    differ = sorted(u for u, t in sql_text.items() if spark_text.get(u) != t)
    assert not differ, f"{len(differ)} pages differ, e.g. {differ[:3]}"


@pytest.mark.parametrize("name", KG_QUERIES)
def test_oracle_matches_spark_at_sf0001(spark, name):
    duckdb = pytest.importorskip("duckdb")

    import __spark_entry__ as entry
    from tools.check_queries import frame_hash

    sdf = entry.queries()[name](spark, SF_DIR).toPandas()
    spark.catalog.clearCache()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.sql(entry.oracle_sql()[name]).df()

    assert len(sdf) > 0
    assert frame_hash(sdf) == frame_hash(odf)

from __future__ import annotations

import pytest

from ocds_entity_extract_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus():
    """Deterministic 300-page corpus + golden triples (seed=42)."""
    from ocds_entity_extract_spark.datagen import generate_corpus

    pages, golden, aux = generate_corpus(n_pages=300, seed=42)
    return pages, golden, aux


@pytest.fixture(scope="session")
def pages_df(spark, small_corpus):
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    pages, _, _ = small_corpus
    return spark.createDataFrame(pages, schema=PAGES_SCHEMA)


@pytest.fixture(scope="session")
def no_doc_edges(spark):
    """Empty (member_edges, contact_edges, inst_regions) frames shaped like
    build_triples' outputs: the document inputs of a mention-only corpus."""
    return (
        spark.createDataFrame(
            [], "url string, member_canon string, role string,"
            " org_canon string, is_purchase boolean",
        ),
        spark.createDataFrame(
            [], "canonical_id string, contact_type string, contact_value string"
        ),
        spark.createDataFrame(
            [], "entity_id string, country_name string, region string,"
            " locality string, gov_level string",
        ),
    )

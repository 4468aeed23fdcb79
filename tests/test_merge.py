"""Entity merge aggregation (SURVEY.md §2.4): merge rules, order
independence (the property replacing the reference's cursor-order
semantics), and salted == unsalted equivalence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ocds_entity_extract_spark.operators.merge import (
    merge_entities,
    merge_entities_salted,
)

TS = lambda s: dt.datetime(2025, 1, 1, 0, 0, s)  # noqa: E731

ROWS = [
    # url, warc_ts, domain, surface, name_norm, entity_id, entity_type
    ("u3", TS(30), "d2", "Acme SA", "Acme SA", "acme-sa", "company"),
    ("u1", TS(10), "d1", "ACME S.A.", "ACME S.A.", "acme-sa", "person"),
    ("u2", TS(20), "d1", "Acme SA", "Acme SA", "acme-sa", "institution"),
    ("u1", TS(10), "d1", "Solo Uno", "Solo Uno", "solo-uno", "person"),
]
SCHEMA = (
    "url string, warc_ts timestamp, domain string, surface string,"
    " name_norm string, entity_id string, entity_type string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_merge_rules(spark):
    out = {r["entity_id"]: r for r in merge_entities(_df(spark, ROWS)).collect()}
    acme = out["acme-sa"]
    assert acme["name"] == "ACME S.A."            # A2 first-wins by (ts, url)
    assert acme["entity_type"] == "institution"   # A16 precedence
    assert acme["mention_count"] == 3
    assert acme["page_count"] == 3
    assert acme["first_seen"] == TS(10) and acme["last_seen"] == TS(30)
    assert acme["sources"] == ["d1", "d2"]        # A6 sorted set-union
    assert acme["other_names"] == ["Acme SA"]     # A3 minus primary
    assert out["solo-uno"]["mention_count"] == 1


def test_order_independence(spark):
    """Permutation invariance: input order must not change the result
    (SURVEY.md §7.3 — replaces reference cursor-order dependence)."""
    a = merge_entities(_df(spark, ROWS)).collect()
    b = merge_entities(_df(spark, list(reversed(ROWS))).repartition(5)).collect()
    key = lambda r: r["entity_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_salted_equals_unsalted(spark):
    plain = merge_entities(_df(spark, ROWS)).collect()
    salted = merge_entities_salted(_df(spark, ROWS)).collect()
    key = lambda r: r["entity_id"]  # noqa: E731
    assert sorted([r.asDict() for r in plain], key=lambda d: d["entity_id"]) == sorted(
        [r.asDict() for r in salted], key=lambda d: d["entity_id"]
    )

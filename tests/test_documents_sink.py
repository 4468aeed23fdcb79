"""Entity/membership document assembly + NDJSON grouped sink."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from ocds_entity_extract_spark.plans.documents import (
    entity_documents,
    membership_documents,
    write_ndjson_grouped,
)

ENT_SCHEMA = (
    "entity_id string, name string, entity_type string,"
    " other_names array<string>, mention_count long, page_count long,"
    " first_seen timestamp, last_seen timestamp, sources array<string>"
)


def _entities(spark):
    rows = [
        ("acme-sa", "ACME S.A.", "company", ["Acme"], 5, 3,
         "2025-01-01 00:00:00", "2025-01-02 00:00:00", ["d1"]),
        ("acme", "Acme", "person", [], 2, 2,
         "2025-01-03 00:00:00", "2025-01-03 00:00:00", ["d2"]),
        ("solo-inst", "Instituto Solo", "institution", [], 1, 1,
         "2025-01-04 00:00:00", "2025-01-04 00:00:00", ["d1"]),
    ]
    df = spark.createDataFrame(rows, ENT_SCHEMA.replace("timestamp", "string"))
    return df.withColumn("first_seen", F.col("first_seen").cast("timestamp")).withColumn(
        "last_seen", F.col("last_seen").cast("timestamp")
    ).withColumn("source_runs", F.array().cast("array<string>"))


def _mapping(spark):
    return spark.createDataFrame(
        [("acme-sa", "acme"), ("acme", "acme"), ("solo-inst", "solo-inst")],
        "entity_id string, canonical_id string",
    )


def test_entity_documents_merge_aliases(spark, no_doc_edges):
    docs = {
        r["id"]: r
        for r in entity_documents(_entities(spark), _mapping(spark), *no_doc_edges).collect()
    }
    acme = docs["acme"]
    # alias group folded: type precedence company > person, counters summed
    assert acme["entity_type"] == "company"
    assert acme["classification"] == ["company"]
    assert acme["counters"]["mentions"] == 7
    assert acme["counters"]["pages"] == 5
    assert set(acme["sources"]) == {"d1", "d2"}
    assert acme["name"] == "ACME S.A."        # earliest first_seen wins
    assert "Acme" in acme["other_names"]
    assert docs["solo-inst"]["entity_type"] == "institution"
    assert len(acme["_id"]) == 64


def test_membership_documents(spark):
    m = spark.createDataFrame(
        [("u1", "acme-sa", "gerente", "solo-inst"),
         ("u2", "acme", "gerente", "solo-inst")],
        "url string, person_id string, role string, org_id string",
    )
    docs = membership_documents(m, _mapping(spark)).collect()
    assert len(docs) == 1                      # canonicalized to one edge
    d = docs[0]
    assert d["id"] == "acme_solo-inst"
    assert d["evidence_pages"] == 2


def test_ndjson_grouped_sink(spark, tmp_path, no_doc_edges):
    docs = entity_documents(_entities(spark), _mapping(spark), *no_doc_edges)
    out = str(tmp_path / "ndjson")
    write_ndjson_grouped(docs, out)
    files = glob.glob(f"{out}/entity_type=*/*.json")
    assert files
    groups = {f.split("entity_type=")[1].split("/")[0] for f in files}
    assert groups == {"company", "institution"}
    rec = json.loads(open(sorted(files)[0]).readline())
    assert "id" in rec and "_id" in rec

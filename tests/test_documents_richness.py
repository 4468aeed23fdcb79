"""Entity-doc parity features: subclassification, identifiers arrays,
parent_id, per-role counters, area inference (VERDICT r01 missing #1/#2/#5).

≙ reference institution doc assembly (extract.js:859-891), company subtype
(732-737), identifiers concat+dedup (630-643, 739-748), per-role counters
(216-268, 546-578), area machinery (897-982)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocds_entity_extract_spark.plans.areas import infer_institution_regions
from ocds_entity_extract_spark.plans.documents import entity_documents

ENT_SCHEMA = (
    "entity_id string, name string, entity_type string,"
    " other_names array<string>, mention_count long, page_count long,"
    " first_seen string, last_seen string, sources array<string>"
)


def _entities(spark):
    rows = [
        ("grupo-delta-s-a-de-c-v", "Grupo Delta S.A. de C.V.", "company",
         [], 3, 2, "2025-01-01 00:00:00", "2025-01-02 00:00:00", ["d1"]),
        ("grupo-delta", "Grupo Delta", "company",
         [], 2, 2, "2025-01-03 00:00:00", "2025-01-03 00:00:00", ["d2"]),
        ("secretaria-de-salud", "Secretaría de Salud", "institution",
         [], 4, 3, "2025-01-01 00:00:00", "2025-01-05 00:00:00", ["d1"]),
        ("direccion-de-obras", "Dirección de Obras", "institution",
         [], 1, 1, "2025-01-02 00:00:00", "2025-01-02 00:00:00", ["d1"]),
        ("banco-central-x", "Banco Central X", "institution",
         [], 1, 1, "2025-01-02 00:00:00", "2025-01-02 00:00:00", ["d2"]),
        ("juan-perez-lopez", "Juan Pérez López", "person",
         [], 2, 2, "2025-01-02 00:00:00", "2025-01-02 00:00:00", ["d1"]),
    ]
    df = spark.createDataFrame(rows, ENT_SCHEMA)
    return df.withColumn("first_seen", F.col("first_seen").cast("timestamp")).withColumn(
        "last_seen", F.col("last_seen").cast("timestamp")
    ).withColumn("source_runs", F.array().cast("array<string>"))


def _mapping(spark):
    # grupo-delta (suffix-less alias) is the canonical of the company pair
    return spark.createDataFrame(
        [("grupo-delta-s-a-de-c-v", "grupo-delta"),
         ("grupo-delta", "grupo-delta"),
         ("secretaria-de-salud", "secretaria-de-salud"),
         ("direccion-de-obras", "direccion-de-obras"),
         ("banco-central-x", "banco-central-x"),
         ("juan-perez-lopez", "juan-perez-lopez")],
        "entity_id string, canonical_id string",
    )


def _member_edges(spark):
    return spark.createDataFrame(
        [("u1", "juan-perez-lopez", "director general", "grupo-delta"),
         ("u2", "juan-perez-lopez", "titular", "secretaria-de-salud"),
         ("u3", "juan-perez-lopez", "director general", "secretaria-de-salud"),
         ("u4", "direccion-de-obras", "titular", "secretaria-de-salud")],
        "url string, member_canon string, role string, org_canon string",
    ).withColumn("is_purchase", F.lit(False))


def _docs(spark, no_doc_edges):
    _, contact_edges, inst_regions = no_doc_edges
    return {
        r["id"]: r
        for r in entity_documents(
            _entities(spark), _mapping(spark), _member_edges(spark),
            contact_edges, inst_regions,
        ).collect()
    }


def test_company_subtype_from_alias_slug(spark, no_doc_edges):
    """Subtype survives even when the canonical alias is suffix-less
    (≙ laundry.companyType on the full legal name, extract.js:732-737)."""
    d = _docs(spark, no_doc_edges)["grupo-delta"]
    assert d["entity_type"] == "company"
    assert d["subclassification"] == ["s-a-de-c-v"]


def test_institution_subclass_chain(spark, no_doc_edges):
    d = _docs(spark, no_doc_edges)
    # keyword institutions -> keyword subclass (details.classification analogue)
    assert d["secretaria-de-salud"]["subclassification"] == ["secretaria"]
    assert d["direccion-de-obras"]["subclassification"] == ["direccion"]
    # banco leads the chain (funder analogue, extract.js:860-862)
    assert d["banco-central-x"]["subclassification"] == ["banco"]
    # persons carry no subclassification
    assert d["juan-perez-lopez"]["subclassification"] == []


def test_parent_id_orgs_only(spark, no_doc_edges):
    d = _docs(spark, no_doc_edges)
    # org-org membership -> parent_id (extract.js:866-868)
    assert d["direccion-de-obras"]["parent_id"] == "secretaria-de-salud"
    # persons never get parent_id (their memberships are role counters)
    assert d["juan-perez-lopez"]["parent_id"] is None
    assert d["secretaria-de-salud"]["parent_id"] is None


def test_role_counters_and_member_counts(spark, no_doc_edges):
    d = _docs(spark, no_doc_edges)
    juan = d["juan-perez-lopez"]["counters"]["membership_count"]
    assert juan["director_general"] == 2
    assert juan["titular"] == 1
    assert juan["presidente"] == 0
    # org hosts 2 distinct members (juan + direccion)
    assert d["secretaria-de-salud"]["counters"]["members"] == 2
    assert d["grupo-delta"]["counters"]["members"] == 1


def test_identifiers_set_union(spark, no_doc_edges):
    d = _docs(spark, no_doc_edges)["grupo-delta"]
    ids = {(r["scheme"], r["id"]) for r in d["identifiers"]}
    # both alias slugs under 'slug' + both source domains under 'domain'
    assert ids == {
        ("slug", "grupo-delta"),
        ("slug", "grupo-delta-s-a-de-c-v"),
        ("domain", "d1"),
        ("domain", "d2"),
    }


def test_entity_documents_without_memberships(spark, no_doc_edges):
    docs = entity_documents(_entities(spark), _mapping(spark), *no_doc_edges).collect()
    d = {r["id"]: r for r in docs}["direccion-de-obras"]
    assert d["parent_id"] is None
    assert d["counters"]["membership_count"]["titular"] == 0
    # without a parent, non-banco keyword institutions keep their keyword
    assert d["subclassification"] == ["direccion"]


def test_infer_institution_regions(spark):
    aliases = spark.createDataFrame(
        [("secretaria-de-salud-de-jalisco", "secretaria-de-salud-de-jalisco"),
         ("secretaria-de-salud-de-jalisco", "secretaria-de-salud"),
         ("instituto-de-cultura-de-nuevo-leon", "instituto-de-cultura-de-nuevo-leon"),
         ("consejo-nacional", "consejo-nacional")],
        "canonical_id string, alias_slug string",
    )
    rows = {r["entity_id"]: r for r in infer_institution_regions(aliases, spark).collect()}
    assert rows["secretaria-de-salud-de-jalisco"]["region"] == "Jalisco"
    assert rows["instituto-de-cultura-de-nuevo-leon"]["region"] == "Nuevo León"
    assert "consejo-nacional" not in rows          # no place suffix -> no row
    assert rows["secretaria-de-salud-de-jalisco"]["gov_level"] == "region"

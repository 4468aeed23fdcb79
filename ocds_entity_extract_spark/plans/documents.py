"""Entity output documents (Popolo-style) + NDJSON stream sink.

≙ the reference's six output kinds (SURVEY.md §1.3): person
(extract.js:1220-1292), company (704-783), institution (831-989),
state/area (785-829), membership (1102-1218), each a JSON document; and the
NDJSON stdout sink with fixed group order (stream.js:3-42) / per-collection
DB sink (insert.js:3-45).

Spark-first: one nested-struct DataFrame per kind, union'd with an
`entity_type` discriminator; the `[SPLIT]`-delimited group concat becomes
`partitionBy(entity_type)` — one directory per group, same information,
parallel writers. Content-hash `_id` stamped with pinned field order
(≙ insert.js:37 object-hash; SURVEY.md §7.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.functions.classify import (
    company_subtype_col,
    subclassification_col,
)
from ocds_entity_extract_spark.functions.text import membership_id
from ocds_entity_extract_spark.operators.merge import TYPE_RANK, rank_type, type_rank

# role buckets for per-role counters (≙ the reference's fixed
# contract_count{buyer,supplier,funder} buckets, extract.js:216-268/546-578).
# 'funcionario' is the contactPoint-person membership role (≙ createPerson's
# third arg + the encargado membership, extract.js:372-390).
ROLE_BUCKETS: dict[str, tuple[str, ...]] = {
    "director_general": ("director general", "directora general"),
    "titular": ("titular",),
    "presidente": ("presidente", "presidenta"),
    "gerente": ("gerente",),
    "funcionario": ("funcionario",),
}

# connector tokens never contributing an initial (mirror of the mention
# grammar's _CONN set, operators/mentions.py)
_INITIALS_SKIP = ("de", "del", "la", "las", "los", "y", "e")


def initials_col(slug_col) -> F.Column:
    """Initials identifier id from an entity slug: first character of each
    non-connector alpha token, joined — the webtext analogue of
    `laundry.simpleName(party.initials)` (reference extract.js:882-887,
    where `initials` is a party input field; a web entity's initials are
    derived from its laundered name instead). Empty (no identifier) when
    fewer than two contributing tokens."""
    c = F.col(slug_col) if isinstance(slug_col, str) else slug_col
    toks = F.filter(
        F.split(c, "-"),
        lambda t: (~t.isin(*_INITIALS_SKIP)) & t.rlike("^[a-z]"),
    )
    return F.when(
        F.size(toks) >= 2,
        F.array_join(F.transform(toks, lambda t: F.substring(t, 1, 1)), ""),
    ).otherwise(F.lit(""))


def entity_documents(
    entities: DataFrame,
    mapping: DataFrame,
    member_edges: DataFrame,
    contact_edges: DataFrame,
    inst_regions: DataFrame,
    contact_persons: DataFrame | None = None,
) -> DataFrame:
    """Merged entities -> canonical output documents.

    - canonicalized id (sameAs mapping applied; alias rows folded into the
      canonical doc's other_names)
    - classification array ≙ the reference's classification field;
      subclassification ≙ institution subclass chain (extract.js:859-873)
      + company legal-suffix subtype (extract.js:732-737)
    - identifiers: (id, scheme) struct array, set-union-deduped across the
      alias group ≙ identifier + additionalIdentifiers assembly
      (extract.js:630-643, 739-748) — every alias slug under scheme
      'slug', every source domain under scheme 'domain'
    - parent_id: min org the entity is a member of (orgs only) ≙ the
      memberOf parent (extract.js:866-868)
    - counters struct ≙ contract_count/purchase_count role buckets:
      mention/page counts plus per-role membership counts
      (`membership_count.{director_general,titular,presidente,gerente}`)
      and `member_count` (members hosted as the parent org)

    - contact_details: array<struct(type,value)> set-union of the page-level
      contacts (email | tel) attributed to the entity ≙ the contactPoint
      consumption (extract.js:889-891); empty array when none seen
    - gov_level (institutions only, ≙ extract.js:893-895 + the stamp at
      522-524): the web analogue derives it from the name instead of a
      party field — 'municipio'/'ayuntamiento'-led => city,
      place-suffixed (state dim probe) or 'gobierno'-led => region,
      any other institution keyword => country (federal default);
      NULL for companies/persons (the reference only stamps institutions)

    `member_edges` is PipelineResult.member_edges
    (url, member_canon, role, org_canon, is_purchase); `contact_edges` is
    PipelineResult.contact_edges (canonical_id, contact_type,
    contact_value); `inst_regions` is PipelineResult.inst_regions;
    `contact_persons` is PipelineResult.contact_persons (entity-shaped
    rows for NEW contactPoint persons, ≙ createPerson extract.js:372-390 —
    unioned in as already-canonical person docs; their 'funcionario'
    memberships arrive via member_edges like everyone else's).
    Pass empty frames for a mention-only corpus — the derived fields come
    out zero/null/empty.

    Counter families (≙ the reference's contract_count vs purchase_count
    split gated on isPurchase(metadata.source), extract.js:546-578): each
    membership edge counts toward `counters.contract_count.{role}` or
    `counters.purchase_count.{role}` by its page's `is_purchase` flag
    (product-bearing page = purchase); `counters.membership_count.{role}`
    stays the family-blind total.

    Entities whose membership roles include 'funcionario' carry it as an
    extra classification entry (≙ otherTypes, extract.js:380).
    """
    canon = (
        entities.join(mapping, "entity_id")
        .groupBy("canonical_id")
        .agg(
            F.min_by("name", F.struct("first_seen", "entity_id")).alias("name"),
            F.max(type_rank("entity_type")).alias("_rank"),
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.concat(F.array("name"), F.col("other_names"))
                        )
                    )
                )
            ).alias("_all_names"),
            F.array_sort(F.collect_set("entity_id")).alias("_alias_slugs"),
            F.max(company_subtype_col(F.col("entity_id"))).alias("_subtype"),
            F.sum("mention_count").alias("mention_count"),
            F.sum("page_count").alias("page_count"),
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("sources")))).alias(
                "sources"
            ),
            # crawl-run provenance set (≙ reference sourceRun,
            # extract.js:674-682) — unioned across merged aliases exactly
            # like sources
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("source_runs")))
            ).alias("source_runs"),
        )
    )

    if contact_persons is not None:
        # NEW contactPoint persons enter as already-canonical singleton
        # docs (their slug is their canonical id; the pipeline has already
        # excluded slugs the mapping knows)
        canon = canon.unionByName(
            contact_persons.select(
                F.col("entity_id").alias("canonical_id"),
                "name",
                F.lit(TYPE_RANK["person"]).alias("_rank"),
                F.array("name").alias("_all_names"),
                F.array("entity_id").alias("_alias_slugs"),
                F.lit(None).cast("string").alias("_subtype"),
                "mention_count",
                "page_count",
                "first_seen",
                "last_seen",
                "sources",
                "source_runs",
            )
        )

    is_purch = F.col("is_purchase")
    one_if = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    role_aggs = []
    for bucket, roles in ROLE_BUCKETS.items():
        in_bucket = F.col("role").isin(*roles)
        role_aggs += [
            one_if(in_bucket).alias(f"n_{bucket}"),
            one_if(in_bucket & ~is_purch).alias(f"n_{bucket}_contract"),
            one_if(in_bucket & is_purch).alias(f"n_{bucket}_purchase"),
        ]
    as_member = member_edges.groupBy(
        F.col("member_canon").alias("canonical_id")
    ).agg(
        *role_aggs,
        F.min(
            F.when(F.col("org_canon") != F.col("member_canon"), F.col("org_canon"))
        ).alias("_parent_id"),
    )
    as_parent = member_edges.groupBy(
        F.col("org_canon").alias("canonical_id")
    ).agg(F.countDistinct("member_canon").cast("long").alias("member_count"))
    per_entity_contacts = contact_edges.groupBy("canonical_id").agg(
        F.array_sort(
            F.collect_set(
                F.struct(
                    F.col("contact_type").alias("type"),
                    F.col("contact_value").alias("value"),
                )
            )
        ).alias("_contacts")
    )
    regions = inst_regions.select(
        F.col("entity_id").alias("canonical_id"),
        F.col("gov_level").alias("_region_gov"),
    )
    canon = (
        canon.join(as_member, "canonical_id", "left")
        .join(as_parent, "canonical_id", "left")
        .join(per_entity_contacts, "canonical_id", "left")
        .join(regions, "canonical_id", "left")
    )

    etype = rank_type("_rank")
    subclass = subclassification_col(
        F.col("canonical_id"),
        etype,
        F.col("_subtype"),
        # parent_id only counts for the unidad-compradora rule when the
        # entity is an org (persons use role counters instead)
        F.col("_parent_id").isNotNull(),
    )
    first_tok = F.element_at(F.split(F.col("canonical_id"), "-"), 1)
    gov_level = F.when(
        etype == "institution",
        F.when(first_tok.isin("municipio", "ayuntamiento"), F.lit("city"))
        .when(F.col("_region_gov").isNotNull(), F.col("_region_gov"))
        .when(first_tok == "gobierno", F.lit("region"))
        .otherwise(F.lit("country")),
    )
    # initials identifier (≙ party.initials -> identifiers,
    # extract.js:882-887 — institution assembly), derived from the
    # canonical slug; empty when < 2 contributing tokens
    _initials = initials_col("canonical_id")
    identifiers = F.array_sort(
        F.array_distinct(
            F.concat(
                F.transform(
                    "_alias_slugs",
                    lambda s: F.struct(s.alias("id"), F.lit("slug").alias("scheme")),
                ),
                F.transform(
                    "sources",
                    lambda d: F.struct(d.alias("id"), F.lit("domain").alias("scheme")),
                ),
                F.when(
                    (etype == "institution") & (_initials != ""),
                    F.array(
                        F.struct(
                            _initials.alias("id"),
                            F.lit("initials").alias("scheme"),
                        )
                    ),
                ).otherwise(
                    F.array().cast("array<struct<id:string,scheme:string>>")
                ),
            )
        )
    )
    classification = F.when(
        F.coalesce(F.col("n_funcionario"), F.lit(0)) > 0,
        F.array(etype, F.lit("funcionario")),
    ).otherwise(F.array(etype))
    doc = canon.select(
        F.col("canonical_id").alias("id"),
        "name",
        etype.alias("entity_type"),
        classification.alias("classification"),
        F.filter(F.array(subclass), lambda x: x.isNotNull()).alias(
            "subclassification"
        ),
        F.when(etype != "person", F.col("_parent_id")).alias("parent_id"),
        gov_level.alias("gov_level"),
        identifiers.alias("identifiers"),
        F.coalesce(
            F.col("_contacts"),
            F.array().cast("array<struct<type:string,value:string>>"),
        ).alias("contact_details"),
        F.array_remove(F.col("_all_names"), F.col("name")).alias("other_names"),
        F.struct(
            F.col("mention_count").alias("mentions"),
            F.col("page_count").alias("pages"),
            F.struct(
                *[
                    F.coalesce(F.col(f"n_{bucket}"), F.lit(0)).alias(bucket)
                    for bucket in ROLE_BUCKETS
                ]
            ).alias("membership_count"),
            # contract vs purchase families (≙ extract.js:546-578, gated on
            # the page-level isPurchase analogue); membership_count above
            # stays the family-blind total
            F.struct(
                *[
                    F.coalesce(F.col(f"n_{bucket}_contract"), F.lit(0)).alias(
                        bucket
                    )
                    for bucket in ROLE_BUCKETS
                ]
            ).alias("contract_count"),
            F.struct(
                *[
                    F.coalesce(F.col(f"n_{bucket}_purchase"), F.lit(0)).alias(
                        bucket
                    )
                    for bucket in ROLE_BUCKETS
                ]
            ).alias("purchase_count"),
            F.coalesce(F.col("member_count"), F.lit(0)).alias("members"),
        ).alias("counters"),
        "sources",
        "source_runs",
        "first_seen",
        "last_seen",
    )
    # content-hash id, pinned field order (id|name|type) — stable across runs
    return doc.withColumn(
        "_id",
        F.sha2(F.concat_ws("|", "id", "name", "entity_type"), 256),
    )


def membership_documents(
    memberships: DataFrame, mapping: DataFrame | None = None
) -> DataFrame:
    """(url, person_id, role, org_id) candidates -> membership edge docs
    {id: person_canon_org_canon, role, person_id, organization_id}
    (≙ the six membership constructors' common shape, extract.js:1102-1218).

    With `mapping=None` the input is PipelineResult.member_edges
    (url, member_canon, role, org_canon), already canonical: re-joining it
    through the mapping would drop the 'funcionario' edges of NEW contact
    persons, whose slugs no mapping holds."""
    if mapping is None:
        m = memberships.withColumnRenamed("member_canon", "person_canon")
    else:
        m = (
            memberships.join(
                mapping.withColumnRenamed("entity_id", "person_id"), "person_id"
            )
            .withColumnRenamed("canonical_id", "person_canon")
            .join(mapping.withColumnRenamed("entity_id", "org_id"), "org_id")
            .withColumnRenamed("canonical_id", "org_canon")
        )
    return (
        m.groupBy("person_canon", "org_canon")
        .agg(
            F.min("role").alias("role"),
            F.countDistinct("url").alias("evidence_pages"),
        )
        .select(
            membership_id("person_canon", "org_canon").alias("id"),
            "role",
            F.col("person_canon").alias("person_id"),
            F.col("org_canon").alias("organization_id"),
            "evidence_pages",
        )
        .withColumn(
            "_id",
            F.sha2(F.concat_ws("|", "id", "role"), 256),
        )
    )


def write_ndjson_grouped(df: DataFrame, path: str) -> None:
    """NDJSON stream sink: one directory per entity_type (≙ stream.js
    [SPLIT] groups / insert.js per-collection inserts), parallel JSON
    writers."""
    df.write.mode("overwrite").partitionBy("entity_type").json(path)

"""Mention-type classification: person | company | institution.

Re-derives the reference's decision procedure (reference extract.js:13-33,
SURVEY.md §2.9) for the web-scale pipeline. Precedence:

1. classifier-CSV override by exact whitespace-normalized name
   (reference classify.js:19-21 incl. `\\s+`->' ' normalization and
   last-file-wins duplicate handling) — a BROADCAST hash join;
2. institution keyword rule (first word ≙ the subclass keyword logic,
   reference extract.js:859-873);
3. company legal-suffix heuristic (≙ laundry.isCompany,
   reference extract.js:28) — suffix match on the slugged name;
4. default person (reference extract.js:31-32).

The heuristic part is pure Column expressions (`with_entity_type`: JVM,
codegen), run once per distinct surface.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.functions.text import collapse_ws
from ocds_entity_extract_spark.schemas import CLASSIFIER_SCHEMA

# institution first-word keywords, accent-stripped lowercase
INSTITUTION_KEYWORDS = [
    "secretaria", "instituto", "universidad", "comision", "consejo",
    "direccion", "hospital", "tribunal", "fondo", "banco", "ministerio",
    "ayuntamiento", "fiscalia", "servicio", "gobierno", "municipio",
    "procuraduria", "auditoria", "camara", "sistema",
]

# legal-suffix patterns over the *slug* (simple_name output): deterministic,
# already lowercased/de-accented/dash-separated.
COMPANY_SUFFIX_SLUG_RE = (
    r"-(s-a(-de-c-v)?|s-a-b(-de-c-v)?|sa(-de-cv)?|sab(-de-cv)?|s-de-r-l"
    r"(-de-c-v)?|s-de-rl|s-c|sc|s-r-l|inc|llc|ltd|corp|sapi(-de-cv)?"
    r"|s-a-p-i(-de-c-v)?)$"
)


def heuristic_type_col(slug) -> F.Column:
    """Keyword/suffix heuristic as one Column expr (no override applied)."""
    first_tok = F.element_at(F.split(slug, "-"), 1)
    return (
        F.when(first_tok.isin(INSTITUTION_KEYWORDS), F.lit("institution"))
        .when(slug.rlike(COMPANY_SUFFIX_SLUG_RE), F.lit("company"))
        .otherwise(F.lit("person"))
    )


def company_subtype_col(slug) -> F.Column:
    """Legal-suffix subtype of a company slug ('s-a-de-c-v', 'llc', ...) or
    NULL — ≙ laundry.companyType feeding company subclassification
    (reference extract.js:732-737)."""
    c = F.col(slug) if isinstance(slug, str) else slug
    return F.nullif(F.regexp_extract(c, COMPANY_SUFFIX_SLUG_RE, 1), F.lit(""))


def subclassification_col(slug, entity_type, company_subtype, has_parent) -> F.Column:
    """Entity subclassification, reference precedence re-expressed:

    institution (reference extract.js:859-873):
      1. 'banco' when the name leads with banco (funder-role analogue);
      2. the institution keyword itself (≙ party.details.classification —
         the only classification signal a web mention carries);
      3. 'unidad-compradora' when a memberOf parent exists
         (extract.js:866-868);
      4. 'dependencia' default (extract.js:871).
    company: the legal-suffix subtype (≙ laundry.companyType,
      extract.js:732-737) — pass the group-level `company_subtype`
      (aggregated over alias slugs: the canonical alias may be the
      suffix-less form).
    person: NULL (the reference emits no person subclassification).
    """
    first_tok = F.element_at(F.split(slug, "-"), 1)
    inst = (
        F.when(first_tok == F.lit("banco"), F.lit("banco"))
        .when(first_tok.isin([k for k in INSTITUTION_KEYWORDS if k != "banco"]), first_tok)
        .when(has_parent, F.lit("unidad-compradora"))
        .otherwise(F.lit("dependencia"))
    )
    return (
        F.when(entity_type == "institution", inst)
        .when(entity_type == "company", company_subtype)
        .otherwise(F.lit(None).cast("string"))
    )


def load_classifier_override(spark, paths_or_df) -> DataFrame:
    """classifier CSV(s) -> (name_norm, override_type) broadcast dim.

    Reference semantics (classify.js): files concatenated in argument order,
    keys whitespace-normalized, duplicate names last-write-wins. Re-expressed
    order-independently: tag each row with (file_order, line_order) and keep
    `max_by` — same result as sequential overwrite, but distributed. The file
    order is each path's argument index: one multi-path read would number
    rows by scan partition, and Spark packs file splits largest-first, not in
    argument order.
    """
    if isinstance(paths_or_df, DataFrame):
        df = paths_or_df.withColumn("_ord", F.monotonically_increasing_id())
    else:
        reader = spark.read.schema(CLASSIFIER_SCHEMA)
        df = reduce(DataFrame.unionByName, [
            reader.csv(p).withColumn(
                "_ord", F.struct(F.lit(i), F.monotonically_increasing_id())
            )
            for i, p in enumerate(paths_or_df)
        ])
    return (
        df.select(collapse_ws("name").alias("name_norm"), "type", "_ord")
        .groupBy("name_norm")
        .agg(F.max_by("type", "_ord").alias("override_type"))
    )


def with_entity_type(mentions: DataFrame, override: DataFrame | None = None) -> DataFrame:
    """mentions -> + entity_type column, full §2.9 precedence.

    The override dim joins BROADCAST (it is the reference's in-memory
    classifier dict, reference classify.js:16-24 / extract.js:189-195);
    the heuristic is pure codegen.
    """
    heur = heuristic_type_col(F.col("entity_id"))
    if override is None:
        return mentions.withColumn("entity_type", heur)
    joined = mentions.join(
        F.broadcast(override), mentions["name_norm"] == override["name_norm"], "left"
    ).drop(override["name_norm"])
    return joined.withColumn(
        "entity_type", F.coalesce(F.col("override_type"), heur)
    ).drop("override_type")

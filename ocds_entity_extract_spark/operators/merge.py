"""Entity aggregation: mentions -> one merged row per entity id.

This is the Spark re-expression of the reference's entire mutable-entity-store
machinery (reference index.js:48-55 dicts + extract.js:1380-1382 probe +
handlePerson/handleCompany/handleInstitution upsert-merge bodies,
extract.js:197-226/228-269/303-608). The sequential upsert-with-merge is,
relationally, a grouped aggregation per entity id — Spark executes it with
map-side partial aggregation + shuffle + final merge, which is exactly what
makes it scale past one driver heap.

Merge-rule mapping (SURVEY.md §2.4):
- A1 dedup by id            -> groupBy("entity_id")
- A2 first-wins attributes  -> min_by(surface, (warc_ts, url)) over the
  canonical order (warc_ts, url) — order-independent replacement for the
  reference's cursor-order dependence (SURVEY.md §7.3)
- A3 other_names set-union  -> array_sort(collect_set(name_norm)) minus name
- A6 source set-union       -> array_sort(collect_set(domain))
- A7 earliest date min      -> min(warc_ts)   (≙ extract.js:271-301)
- A16 type precedence       -> max(type_rank): institution > company > person;
  "any mention institutional => institution" is the order-independent fixpoint
  of the reference's company->institution move (extract.js:310-318)
- A17 counts                -> count(*), count(distinct url)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# A16 precedence order, the ONE table every reader uses (the Column helpers
# below, the driver-side type branch of plans/pipeline, the document
# roll-up of plans/documents). Highest rank first; the last entry is the
# default, so any type not listed ranks as person.
TYPE_RANK = {"institution": 3, "company": 2, "person": 1}
RANK_TYPE = {r: t for t, r in TYPE_RANK.items()}
# `merge_entities_salted` spreads each entity over SALT_BUCKETS reducers.
SALT_BUCKETS = 16


def _case(col, pairs, default) -> F.Column:
    """CASE WHEN col = k THEN v ... ELSE default, in `pairs` order."""
    c = F.col(col) if isinstance(col, str) else col
    (k0, v0), *rest = pairs
    out = F.when(c == k0, F.lit(v0))
    for k, v in rest:
        out = out.when(c == k, F.lit(v))
    return out.otherwise(F.lit(default))


def type_rank(col) -> F.Column:
    """person=1 < company=2 < institution=3 (A16 precedence order)."""
    return _case(col, list(TYPE_RANK.items())[:-1], TYPE_RANK["person"])


def rank_type(col) -> F.Column:
    return _case(col, list(RANK_TYPE.items())[:-1], "person")


def source_run() -> F.Column:
    """Crawl-run id of the `warc_ts` capture timestamp: the monthly crawl bucket
    (Common-Crawl-style run granularity). ≙ the reference's sourceRun
    provenance distinction (extract.js:674-682), which stamps each source
    with the extraction run it came from — here derived from the capture
    time so it is stable across re-runs of the engine itself."""
    return F.date_format(F.col("warc_ts"), "yyyy-MM")


def merge_entities(mentions: DataFrame) -> DataFrame:
    """Classified mentions -> merged entities table (one shuffle on id).

    `name_norm` rides in the first-wins ordering struct so two different
    surfaces on the same (warc_ts, url) resolve deterministically.
    `source_runs` (crawl-run set, ≙ reference sourceRun extract.js:674-682)
    rides the same shuffle as a second collect_set.
    """
    first_order = F.struct(F.col("warc_ts"), F.col("url"), F.col("name_norm"))
    agg = (
        mentions.withColumn("_rank", type_rank("entity_type"))
        .groupBy("entity_id")
        .agg(
            F.min_by("name_norm", first_order).alias("name"),
            rank_type(F.max("_rank")).alias("entity_type"),
            F.array_sort(F.collect_set("name_norm")).alias("_names"),
            F.count(F.lit(1)).alias("mention_count"),
            F.countDistinct("url").alias("page_count"),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
            F.array_sort(F.collect_set("domain")).alias("sources"),
            F.array_sort(F.collect_set(source_run())).alias("source_runs"),
        )
    )
    return agg.withColumn(
        "other_names", F.array_remove(F.col("_names"), F.col("name"))
    ).drop("_names")


def merge_entities_salted(mentions: DataFrame) -> DataFrame:
    """Two-level (salted) variant for HOT entity keys (north_rule skew path).

    Level 1 groups on (id, salt) — spreads a hot entity over `SALT_BUCKETS`
    reducers; level 2 merges the per-salt partials. Every aggregate used is
    decomposable (min_by/min/max/count/sum/set-union), so the two-level
    result is identical to the one-level result (tested).

    Note: countDistinct(url) is re-derived exactly: level 1 keeps the distinct
    url *set* per (id, salt) — bounded by the salt bucket's page subset — and
    level 2 unions+sizes. For truly unbounded url sets per entity switch
    page_count to approx_count_distinct at the call site.
    """
    first_order = F.struct(F.col("warc_ts"), F.col("url"), F.col("name_norm"))
    lvl1 = (
        mentions.withColumn("_rank", type_rank("entity_type"))
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(SALT_BUCKETS)))
        .groupBy("entity_id", "_salt")
        .agg(
            F.min_by("name_norm", first_order).alias("p_name"),
            F.min(first_order).alias("p_order"),
            F.max("_rank").alias("p_rank"),
            F.collect_set("name_norm").alias("p_names"),
            F.count(F.lit(1)).alias("p_mentions"),
            F.collect_set("url").alias("p_urls"),
            F.min("warc_ts").alias("p_first"),
            F.max("warc_ts").alias("p_last"),
            F.collect_set("domain").alias("p_sources"),
            F.collect_set(source_run()).alias("p_runs"),
        )
    )
    agg = lvl1.groupBy("entity_id").agg(
        F.min_by("p_name", "p_order").alias("name"),
        rank_type(F.max("p_rank")).alias("entity_type"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("p_names")))).alias(
            "_names"
        ),
        F.sum("p_mentions").alias("mention_count"),
        F.size(F.array_distinct(F.flatten(F.collect_list("p_urls")))).cast(
            "long"
        ).alias("page_count"),
        F.min("p_first").alias("first_seen"),
        F.max("p_last").alias("last_seen"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("p_sources")))).alias(
            "sources"
        ),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("p_runs")))).alias(
            "source_runs"
        ),
    )
    return agg.withColumn(
        "other_names", F.array_remove(F.col("_names"), F.col("name"))
    ).drop("_names")

"""Triple materialization: partitioned tables + per-partition lineage +
metrics + content-hash ids.

≙ reference sink layer (insert.js / stream.js) re-expressed:
- content-hash `_id` (insert.js:37 object-hash)  -> sha2(canonical concat)
  with PINNED column order (SURVEY.md §7.3 canonicalization contract);
- run timestamp stamp (insert.js:38)             -> the commit time on
  the lineage rows only (no current_timestamp in the data path, so ids and
  content hashes stay deterministic);
- per-type counts report (index.js:108-129)      -> metrics rows;
- per-partition lineage rows (north_rule)        -> row_count + content
  hash per (pred) partition, committed with the data.

Layout: triples partitioned by `pred` (low cardinality, prunes predicate-
scoped reads) — the analogue of the reference's per-entity-type collections.
At cluster scale add `bucket(subj)` via Iceberg partition transforms.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.session import local_frame
from ocds_entity_extract_spark.sources.catalog import Catalog


def with_triple_id(triples: DataFrame) -> DataFrame:
    """Stable content-hash id, pinned field order subj|pred|obj."""
    return triples.withColumn(
        "_id", F.sha2(F.concat_ws("|", "subj", "pred", "obj"), 256)
    )


def materialize_triples(
    cat: Catalog, triples: DataFrame, run_id: str
) -> dict[str, float]:
    """Write the `triples` table partitioned by pred; append lineage +
    metrics rows stamped with the commit time. Returns the metrics dict."""
    table = "triples"
    run_ts = dt.datetime.now(dt.timezone.utc)
    stamped = with_triple_id(triples)
    cat.overwrite_partitions(table, stamped, partition_by=["pred"])

    # ONE aggregate job over the written table: its rows feed both the
    # lineage table (appended as a driver-side LocalRelation) and the
    # metrics
    per_pred = (
        cat.read(table)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.lower(F.hex(F.expr("bit_xor(xxhash64(_id))"))).alias("content_hash"),
        )
        .collect()
    )
    cat.append("lineage", local_frame(
        cat.spark,
        [
            (run_id, table, r["pred"], r["row_count"], r["content_hash"], run_ts)
            for r in per_pred
        ],
        "run_id string, stage string, partition_key string, row_count bigint,"
        " content_hash string, committed_ts timestamp",
    ))

    counts = {r["pred"]: r["row_count"] for r in per_pred}
    metrics = {f"triples_{k}": float(v) for k, v in counts.items()}
    metrics["triples_total"] = float(sum(counts.values()))
    mdf = local_frame(
        cat.spark,
        [(run_id, k, v) for k, v in metrics.items()],
        "run_id string, metric string, value double",
    )
    cat.append("metrics", mdf)
    return metrics

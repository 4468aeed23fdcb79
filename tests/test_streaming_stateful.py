"""applyInPandasWithState running entity profiles: final state == batch agg."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocds_entity_extract_spark.streaming.stateful import running_entity_profiles
from ocds_entity_extract_spark.streaming.stream_mentions import (
    run_to_memory_available_now,
    stream_pages,
    streaming_mentions,
)
from tests.test_streaming_mentions import _write_pages


def test_stateful_profiles_match_batch(spark, tmp_path):
    path = _write_pages(tmp_path, n_pages=60, n_files=3)

    profiles = running_entity_profiles(
        streaming_mentions(stream_pages(spark, path, max_files_per_trigger=1))
    )
    run_to_memory_available_now(profiles, "profiles", output_mode="update")

    # update mode emits one row per updated entity per micro-batch; the LAST
    # row per entity is the final state.
    got = {
        r["entity_id"]: (r["mention_count"], r["first_seen"], r["last_seen"])
        for r in spark.sql(
            "SELECT * FROM profiles ORDER BY mention_count ASC"
        ).collect()
    }

    from ocds_entity_extract_spark.functions.classify import with_entity_type
    from ocds_entity_extract_spark.operators.mentions import detect_mentions

    batch = (
        with_entity_type(detect_mentions(spark.read.parquet(path)))
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("warc_ts").alias("first_seen"),
            F.max("warc_ts").alias("last_seen"),
        )
    )
    want = {
        r["entity_id"]: (r["n"], r["first_seen"], r["last_seen"])
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0

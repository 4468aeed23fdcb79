"""Structured Streaming mention stage: streaming result == batch result.

The streaming plan reuses the exact batch transformations (one DataFrame
surface), so the windowed counts from a drained stream must equal the same
aggregation computed in batch over the same files.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocds_entity_extract_spark.datagen import generate_corpus
from ocds_entity_extract_spark.functions.classify import with_entity_type
from ocds_entity_extract_spark.operators.mentions import detect_mentions
from ocds_entity_extract_spark.streaming.stream_mentions import (
    run_to_memory_available_now,
    stream_pages,
    windowed_mention_counts,
)

PAGES_PA_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write_pages(tmp_path, n_pages=80, n_files=4):
    rows, _, _ = generate_corpus(n_pages=n_pages, seed=11)
    chunk = -(-len(rows) // n_files)
    out = tmp_path / "pages_stream"
    out.mkdir()
    for i in range(n_files):
        part = rows[i * chunk:(i + 1) * chunk]
        if part:
            pq.write_table(
                pa.Table.from_pylist(part, schema=PAGES_PA_SCHEMA),
                str(out / f"part-{i:05d}.parquet"),
            )
    return str(out)


def test_streaming_counts_match_batch(spark, tmp_path):
    path = _write_pages(tmp_path)

    stream = stream_pages(spark, path, max_files_per_trigger=2)
    assert stream.isStreaming
    counts = windowed_mention_counts(stream)
    run_to_memory_available_now(counts, "stream_counts")

    got = {
        (str(r["window_start"]), r["entity_type"]): r["mention_count"]
        for r in spark.sql("SELECT * FROM stream_counts").collect()
    }

    batch = (
        with_entity_type(detect_mentions(spark.read.parquet(path)))
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "entity_type")
        .agg(F.count(F.lit(1)).alias("mention_count"))
        .select(F.col("win.start").alias("window_start"), "entity_type", "mention_count")
    )
    want = {
        (str(r["window_start"]), r["entity_type"]): r["mention_count"]
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0

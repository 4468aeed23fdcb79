"""Declared StructType schemas for the pipeline's input tables.

The reference is schema-on-read (every access guarded by hasOwnProperty,
e.g. reference extract.js:8,42,62); here the inputs have a fixed declared
schema so Catalyst can prune columns and push filters to the parquet scan.

`PAGES_SCHEMA` is the exact `input_hint` shape from BASELINE.json:
pages(url string, warc_ts timestamp, html binary, text string, lang string).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# classifier override CSV (reference classify.js:4-34): name -> type
CLASSIFIER_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("type", StringType(), False),
    ]
)

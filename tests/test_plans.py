"""Physical-plan assertions: the plans we ship are the plans we want
(pushdown, broadcast, partial aggregation, no gratuitous shuffles).
These guard the 100 TB design properties, not just correctness."""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import re

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.session import local_frame


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_filter_pushdown_and_pruning(spark, sf_dir):
    """pricing_summary: shipdate filter reaches the parquet scan; only the
    needed columns are read."""
    from ocds_entity_extract_spark.queries import SPARK_QUERIES

    plan = plan_of(SPARK_QUERIES["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "HashAggregate" in plan  # partial+final hash agg


def test_broadcast_join_in_dim_query(spark, sf_dir):
    from ocds_entity_extract_spark.queries import SPARK_QUERIES

    plan = plan_of(SPARK_QUERIES["dim_broadcast_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mentions_stage_is_narrow(spark, pages_df):
    """pages -> mentions is shuffle-free: the span extraction has no
    Exchange, and the mention probe adds none to the surface dim's
    distinct, which it broadcasts."""
    from ocds_entity_extract_spark.functions.classify import with_entity_type
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans_fused,
        mentions_via_dim,
        surface_dim,
    )

    spans = detect_spans_fused(pages_df)
    dim = with_entity_type(surface_dim(spans))
    assert "Exchange" not in plan_of(spans)
    probe = plan_of(mentions_via_dim(spans, dim, broadcast=True))
    assert "BroadcastHashJoin" in probe
    assert probe.count("+- Exchange") == plan_of(dim).count("+- Exchange")


def test_classifier_override_broadcasts(spark, pages_df, small_corpus):
    from ocds_entity_extract_spark.functions.classify import (
        load_classifier_override,
        with_entity_type,
    )
    from ocds_entity_extract_spark.operators.mentions import (
        detect_spans_fused,
        surface_dim,
    )
    from ocds_entity_extract_spark.schemas import CLASSIFIER_SCHEMA

    _, _, aux = small_corpus
    override = load_classifier_override(
        spark, spark.createDataFrame(aux["classifier_override"], CLASSIFIER_SCHEMA)
    )
    plan = plan_of(
        with_entity_type(surface_dim(detect_spans_fused(pages_df)), override)
    )
    assert "BroadcastHashJoin" in plan


def test_merge_shuffle_budget(spark):
    """merge_entities: at most two Exchanges — the groupBy on entity_id
    plus the distinct-expand stage that exact countDistinct(url) needs.
    (At 100 TB switch page_count to approx_count_distinct -> one Exchange.)"""
    from ocds_entity_extract_spark.operators.merge import merge_entities

    df = spark.createDataFrame(
        [("u", "2025-01-01 00:00:00", "d", "A B", "A B", "a-b", "person")],
        "url string, warc_ts string, domain string, surface string,"
        " name_norm string, entity_id string, entity_type string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    plan = plan_of(merge_entities(df))
    # count Exchange NODES in the plan tree (each node also reappears in the
    # detail section, so count the tree-branch form)
    assert plan.count("- Exchange") <= 2


def test_percentile_approx_within_tolerance(spark):
    """The production percentile path (mergeable percentile_approx sketch)
    must stay within sketch tolerance of the exact oracle-hashed twin on
    the bench events table: p50/p90/p99 within 1% relative (accuracy
    10000 => rank error ~1e-4; generous margin for interpolation, since
    percentile_approx returns an actual sample, quantile_cont
    interpolates)."""
    import os

    from ocds_entity_extract_spark.queries_analytics import (
        q_value_percentiles,
        q_value_percentiles_approx,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    exact = {r["event_type"]: r for r in q_value_percentiles(spark, sf_dir).collect()}
    approx = {
        r["event_type"]: r for r in q_value_percentiles_approx(spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys() and exact
    for et, e in exact.items():
        a = approx[et]
        assert a["n"] == e["n"]
        for c in ("p50", "p90", "p99"):
            rel = abs(a[c] - e[c]) / max(abs(e[c]), 1e-9)
            assert rel <= 0.01, (et, c, e[c], a[c])


def test_corpus_curation_dedup_is_pure_hash_agg(spark, sf_dir):
    """The curation dedup (keep lowest doc_id per fingerprint) must plan
    as HashAggregate with map-side partials — NOT a row_number window
    (shuffles every surviving row, sorts each reducer partition) and NOT
    a min_by(struct) (whose struct buffer silently falls back to
    SortAggregate on both sides of the exchange). The string winner
    column is dictionary-encoded to int64 for the agg and decoded via a
    broadcast of the distinct-lang dim (round-5 rewrite; the A/B is in
    the query docstring)."""
    from ocds_entity_extract_spark.queries_analytics import q_corpus_curation

    plan = plan_of(q_corpus_curation(spark, sf_dir))
    assert "SortAggregate" not in plan
    assert "Window" not in plan
    assert "- Sort" not in plan  # no sort anywhere in the tree
    assert "BroadcastHashJoin" in plan  # lang decode is map-side
    assert plan.count("partial_min_by") >= 1  # map-side combine present


def _rdd_scans(plan: str) -> list[str]:
    """For each `Scan ExistingRDD` node, the call that made its RDD, as its
    formatted Arguments line names it: `localCheckpoint`, or the Python
    parallelize path of a list-built createDataFrame."""
    return re.findall(
        r"\) Scan ExistingRDD.*\n(?:.*\n)*?Arguments: .*?RDD\[\d+\] at (\w+)", plan
    )


@pytest.mark.parametrize(
    "kw",
    [{}, dict(max_driver_linking=0, cc_small_graph_threshold=0, surface_broadcast="aqe")],
)
def test_triples_plan_reads_no_python_rdd(spark, small_corpus, kw):
    """Driver-built tables (geo dims, the driver-side mapping and small
    triples, the CC fast path) plan as JVM LocalTableScans: the triple plan
    scans no RDD except the forced plan's own localCheckpoints, so no task
    starts a Python worker to unpickle driver rows."""
    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.schemas import PAGES_SCHEMA

    pages, _, _ = small_corpus
    pages_df = local_frame(
        spark, [tuple(p[f] for f in PAGES_SCHEMA.names) for p in pages], PAGES_SCHEMA
    )
    plan = plan_of(build_triples(spark, pages_df, **kw).triples)
    scans = _rdd_scans(plan)
    assert set(scans) <= {"localCheckpoint"}
    assert bool(scans) == bool(kw)  # only the forced plan checkpoints
    assert "LocalTableScan" in plan


def test_geo_dims_are_local_table_scans(spark):
    from ocds_entity_extract_spark.functions.geo import country_dim, mx_state_dim

    for dim in (country_dim(spark), mx_state_dim(spark)):
        plan = plan_of(dim)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_frame_round_trip(spark):
    """local_frame keeps values, nulls and types for zero rows, a null
    string, and the bigint/double/timestamp columns of the metrics and
    checkpoints tables, from a DDL string or a StructType."""
    from pyspark.sql.types import LongType, StructField, StructType

    ts = dt.datetime(2025, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    rows = [("a", 2**40, 1.5, ts), (None, -1, None, None)]
    ddl = "s string, n bigint, d double, ts timestamp"
    df = local_frame(spark, rows, ddl)
    assert df.schema.simpleString() == "struct<s:string,n:bigint,d:double,ts:timestamp>"
    got = df.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).collect()
    assert [tuple(r) for r in got] == [
        ("a", 2**40, 1.5, "2025-01-02 03:04:05"),
        (None, -1, None, None),
    ]

    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema and empty.collect() == []

    schema = StructType(
        [StructField(c, LongType(), False) for c in ("entity_id", "canonical_id")]
    )
    ids = local_frame(spark, [(7, 3), (3, 3)], schema)
    assert ids.schema == schema
    assert sorted(tuple(r) for r in ids.collect()) == [(3, 3), (7, 3)]

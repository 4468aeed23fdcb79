"""As-of (point-in-time) join — a training-data-pipeline operator Spark
lacks natively.

For each left row, attach the payload of the LATEST right row with the
same key and ``right_ts <= left_ts`` (backward as-of, inclusive) — the
point-in-time-correct feature lookup used to join a label stream against
a feature/state stream without leaking the future.

Spark-first design — NOT a per-key loop and NOT an inequality join:

  tag left/right, align schemas, ``unionByName`` →
  one window ``partitionBy(key).orderBy(ts, side)`` →
  ``F.last(payload, ignorenulls=True)`` carries the most recent right
  payload forward → keep left rows.

Cost model: exactly ONE shuffle (the window partitioning), then a linear
per-key merge — same exchange an equi-join on ``key`` would pay, with no
range-explosion. An inequality join (``l.key = r.key AND r.ts <= l.ts``)
would be a broadcast-nested-loop in Spark — O(|L|·|R|) per key — and a
per-key ``applyInPandas`` would ship both streams to Python. The union +
ordered-window formulation stays entirely in WholeStageCodegen.

Skew: a hot key serializes its own merge (inherent to as-of semantics —
the carry is a prefix scan). At 100 TB, pre-bucket both sides by (key,
coarse time bucket) and run the same plan per bucket, carrying the last
right row of the previous bucket as a seed row (classic distributed
prefix-scan split); not needed at bench scale.

Ties: a right row at exactly ``left_ts`` IS visible (inclusive, matching
DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``); right rows must be unique per
(key, ts) — pre-aggregate duplicates or the carried payload is
order-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_SIDE = "_asof_side"
_TS = "_asof_ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    matched_ts_col: str,
) -> DataFrame:
    """Backward as-of join; returns all left columns + right ``payload``
    columns (null where no right row precedes the left row), plus the
    matched right timestamp as ``matched_ts_col`` (for tolerance filtering
    by the caller).
    """
    r_types = dict(right.dtypes)

    l_tagged = left.withColumn(_SIDE, F.lit(1)).withColumn(
        _TS, F.col(left_ts)
    )
    for c in payload:
        l_tagged = l_tagged.withColumn(c, F.lit(None).cast(r_types[c]))
    l_tagged = l_tagged.withColumn(
        "_r_ts", F.lit(None).cast("timestamp")
    )

    l_types = dict(left.dtypes)
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias(_TS),
        F.col(right_ts).alias("_r_ts"),
        F.lit(0).alias(_SIDE),
        *[F.col(c) for c in payload],
    )
    for c in left.columns:
        if c not in (key,):
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(l_types[c]))

    both = l_tagged.unionByName(r_tagged)

    # right rows sort before left rows at equal ts (side 0 < 1) => inclusive
    w = (
        Window.partitionBy(key)
        .orderBy(_TS, _SIDE)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry ONE struct of (payload..., right ts): last(ignorenulls) skips
    # LEFT rows (whole struct null there) but keeps a matched right row
    # whose individual payload FIELDS are null — carrying columns
    # separately would skip those fields and resurrect an older row's
    # value while matched_ts_col reported the newer match
    matched = F.struct(
        *[F.col(c).alias(c) for c in payload], F.col("_r_ts").alias(_TS)
    )
    carried = both.withColumn(
        "_m",
        F.last(F.when(F.col(_SIDE) == 0, matched), ignorenulls=True).over(w),
    )
    for c in payload:
        carried = carried.withColumn(c, F.col("_m")[c])
    carried = carried.withColumn(matched_ts_col, F.col("_m")[_TS])

    out_cols = list(left.columns) + payload + [matched_ts_col]
    return carried.filter(F.col(_SIDE) == 1).select(*out_cols)


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Equi-join rewrite of the interval join ``r.ts in [l.ts, l.ts + W)``
    for rows sharing ``key``.

    Spark has no range-join optimizer rule (a raw inequality join plans as
    a nested loop), so the scalable formulation BINS time into W-second
    bins: each left row lands in the two bins its window touches, each
    right row in one, the join is a plain shuffled equi-join on
    (key, bin), and the exact range predicate filters residuals afterward.
    Fan-out is two per left row, not the pair count.

    Returns the joined rows (all left columns + right's ts/payload) for
    the caller to aggregate.
    """
    # floor division (not double-divide + cast, which truncates toward
    # zero): pre-1970 timestamps are negative and must land in the
    # FLOOR bin or boundary-straddling pairs are silently dropped
    def _bin_of(ts_col):
        return F.floor(ts_col / F.lit(window_seconds)).cast("bigint")

    l_binned = left.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                _bin_of(F.unix_timestamp(left_ts)),
                _bin_of(F.unix_timestamp(left_ts) + window_seconds),
            )
        ),
    )
    r_binned = right.withColumn(
        "_bin", _bin_of(F.unix_timestamp(right_ts))
    )
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    return (
        l_binned.alias("l")
        .join(r_binned.alias("r"), [key, "_bin"])
        .filter((rt >= lt) & (rt < lt + F.expr(f"INTERVAL {window_seconds} SECOND")))
        .drop("_bin")
    )

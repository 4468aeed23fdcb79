"""Local mimic of the driver's correctness gate: run each __spark_entry__
query at sf0.01 against its DuckDB oracle; compare row count, schema, and
order-insensitive value hash. Usage:

    python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if v == int(v) and abs(v) < 1e15 else repr(round(v, 6))
    return str(v)


def frame_hash(df) -> tuple[int, list[str], str]:
    """(row_count, sorted col names, order-insensitive value hash)."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        "|".join(norm_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from ocds_entity_extract_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="check-queries")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        finally:
            # queries that cache internals (linking signatures, pipeline
            # dims) must not accumulate executor storage across the sweep
            spark.catalog.clearCache()
        el = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only {len(sdf)} rows, spark {el:.1f}s")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        el_duck = time.time() - t0
        sn, sc, sh = frame_hash(sdf)
        on, oc, oh = frame_hash(odf)
        status = "OK  " if (sn, sh) == (on, oh) and sc == oc else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status}  {name}: spark({sn},{sh}) duck({on},{oh}) cols {'=' if sc == oc else f'{sc} vs {oc}'} spark {el:.1f}s duck {el_duck:.1f}s")
        if status == "FAIL" and sn and on:
            import pandas as pd

            with pd.option_context("display.width", 200):
                print("  spark head:", sdf[sorted(sdf.columns)].head(3).to_dict("records"))
                print("  duck  head:", odf[sorted(odf.columns)].head(3).to_dict("records"))
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

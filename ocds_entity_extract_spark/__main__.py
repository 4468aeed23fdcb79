"""CLI driver — option parity with the reference's command line (S1).

Reference (index.js:13-31, command-line-args):
    -d/--database  -c/--collection  -h/--host  -p/--port
    -o/--output (db|stream)  -x/--classifiers (multiple)  -t/--test

Spark-first remapping (a lakehouse has no Mongo host/port):
    -d/--database    warehouse ROOT directory (≙ the Mongo database)
    -c/--collection  pages table under the root (≙ the Mongo collection);
                     a parquet directory with the input_hint schema
    -o/--output      'db'     -> materialized catalog tables (triples +
                                entity/area/membership/product docs;
                                ≙ insert.js)
                     'stream' -> NDJSON directories grouped by type
                                (≙ stream.js [SPLIT] groups; parallel
                                writers instead of a stdout collect)
    -x/--classifiers classifier CSVs, argument order, last-file-wins
                     (≙ classify.js concat semantics)
    -t/--test        run the pipeline, print the counts report, write
                     nothing, exit 1 (≙ index.js:96-102 test branch)
    --master/--out-dir are Spark-runtime extras (no reference analogue).

Counts report ≙ index.js:108-129 per-kind summary lines.

Usage:
    python -m ocds_entity_extract_spark -d /data/warehouse -c pages \
        -x extra1.csv extra2.csv -o db
"""

from __future__ import annotations

import argparse
import os
import time


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="ocds_entity_extract_spark")
    ap.add_argument("-d", "--database", help="warehouse root directory")
    ap.add_argument("-c", "--collection", help="pages table name under the root")
    ap.add_argument(
        "-o", "--output", default="stream", help="sink: 'db' or 'stream'"
    )
    ap.add_argument(
        "-x", "--classifiers", nargs="+", default=None, metavar="CSV",
        help="classifier CSV paths (concat order, last-wins)",
    )
    ap.add_argument("-t", "--test", action="store_true", help="dry run + counts")
    ap.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[*]"))
    ap.add_argument("--out-dir", default=None, help="stream-output directory")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    # reference-parity validation (index.js:24-31): missing db/collection
    # and unsupported output values are hard errors, not argparse errors
    if not args.database or not args.collection:
        print("ERROR: no database or collection specified.")
        return 1
    if args.output not in ("db", "stream"):
        print(f"ERROR: unsupported output value {args.output}")
        print("Supported values are: \n* db\n* stream")
        return 1

    t0 = time.time()
    from ocds_entity_extract_spark.functions.classify import load_classifier_override
    from ocds_entity_extract_spark.plans.documents import (
        entity_documents,
        membership_documents,
        write_ndjson_grouped,
    )
    from ocds_entity_extract_spark.plans.pipeline import build_triples
    from ocds_entity_extract_spark.session import get_spark

    spark = get_spark(app_name="ocds-entity-extract", master=args.master)
    pages = spark.read.parquet(os.path.join(args.database, args.collection))
    override = (
        load_classifier_override(spark, args.classifiers)
        if args.classifiers
        else None
    )
    res = build_triples(spark, pages, override)
    ent_docs = entity_documents(
        res.entities,
        res.mapping,
        res.member_edges,
        contact_edges=res.contact_edges,
        inst_regions=res.inst_regions,
        contact_persons=res.contact_persons,
    )
    mem_docs = membership_documents(res.member_edges)
    # states and countries, written between the entity and membership docs
    # (≙ insert.js:3-45 order persons, companies, institutions, states, ...)
    area_docs = res.area_nodes.withColumnRenamed("area_id", "id")

    if not args.test:
        if args.output == "db":
            from ocds_entity_extract_spark.materialize import materialize_triples
            from ocds_entity_extract_spark.sources.catalog import Catalog

            cat = Catalog(spark, args.database)
            materialize_triples(cat, res.triples, run_id=f"cli-{int(t0)}")
            cat.replace_table("entity_docs", ent_docs, partition_by=["entity_type"])
            cat.replace_table("area_docs", area_docs)
            cat.replace_table("membership_docs", mem_docs)
            cat.replace_table("product_docs", res.products)
        else:
            out = args.out_dir or os.path.join(args.database, "out")
            write_ndjson_grouped(ent_docs, os.path.join(out, "entities"))
            area_docs.write.mode("overwrite").json(os.path.join(out, "areas"))
            mem_docs.write.mode("overwrite").json(os.path.join(out, "memberships"))
            res.products.write.mode("overwrite").json(os.path.join(out, "products"))
            res.triples.write.mode("overwrite").partitionBy("pred").json(
                os.path.join(out, "triples")
            )

    # counts report ≙ index.js:108-129
    by_type = dict(
        ent_docs.groupBy("entity_type").count().rdd.map(tuple).collect()
    )
    n_mem = mem_docs.count()
    n_prod = res.products.count()
    n_triples = res.triples.count()
    print("-------------------------------")
    for kind, label in (
        ("person", "Persons"),
        ("company", "Companies"),
        ("institution", "Institutions"),
    ):
        print(f"{label} found: {by_type.get(kind, 0)}")
    print(f"Memberships found: {n_mem}")
    print(f"Products found: {n_prod}")
    print(f"Triples emitted: {n_triples}")
    print(f"Duration: {time.time() - t0:.1f}s")
    if args.test:
        print("Testing complete.")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

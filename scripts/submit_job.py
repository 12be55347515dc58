#!/usr/bin/env python
"""spark-submit entry point for the encode/decode/verify pipeline.

Cluster usage (north_rule: ships via --py-files to multi-executor clusters):

    python -c "from colonnade_spark.shipping import package_zip; print(package_zip())"
    spark-submit --py-files /tmp/colonnade_spark_pyfiles.zip \\
        scripts/submit_job.py encode \\
        --input  s3://bucket/corpus_parquet \\
        --warehouse s3://bucket/encoded_wh \\
        --n-buckets 4096 --mode resume

    spark-submit ... scripts/submit_job.py verify --input ... --warehouse ...

Local sandbox usage (no spark-submit needed):

    python scripts/submit_job.py encode --input /tmp/corpus --warehouse /tmp/wh \\
        --generate 100000

All config via CLI/env — no hardcoded paths.  In local mode a SparkSession is
created here; under spark-submit the existing session is picked up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(args):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active:
        return active
    from colonnade_spark.session import get_spark

    return get_spark("colonnade_submit", cores=args.cores)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("action", choices=["encode", "decode", "decode-giant",
                                   "verify", "lineage"])
    ap.add_argument("--input", help="input parquet path (corpus schema)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--stripe-bytes", type=int, default=4 << 20)
    ap.add_argument("--mode", default="error", choices=["error", "overwrite", "resume"])
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--generate", type=int, default=0,
                    help="generate a synthetic corpus of N files at --input first")
    ap.add_argument("--columns", default=None,
                    help="decode: comma-separated column subset")
    ap.add_argument("--zone", default=None, metavar="COL:LO:HI",
                    action="append",
                    help="decode: zone-map stripe pruning on an integer or "
                         "string column (bounds parsed per the column's "
                         "manifest type; superset semantics — apply the "
                         "exact filter after).  Repeatable: multiple "
                         "--zone flags AND together")
    args = ap.parse_args()

    from colonnade_spark import engine
    from colonnade_spark.plan import corpus_plan
    from colonnade_spark.shipping import ensure_shipped

    spark = _spark(args)
    ensure_shipped(spark)
    plan = corpus_plan()

    if args.action == "encode":
        if args.generate:
            from colonnade_spark.corpus import generate_corpus

            if not os.path.exists(os.path.join(args.input, "_SUCCESS")):
                generate_corpus(spark, args.generate).write.mode(
                    "overwrite").parquet(args.input)
        df = spark.read.parquet(args.input)
        manifest = engine.encode_table(
            spark, df, plan, args.warehouse, n_buckets=args.n_buckets,
            stripe_bytes=args.stripe_bytes, mode=args.mode,
            input_token=args.input)
        print(json.dumps(manifest))
    elif args.action == "decode":
        out = os.path.join(args.warehouse, "decoded_parquet")
        cols = args.columns.split(",") if args.columns else None
        # bounds stay strings: decode_table converts them by the column's
        # type (int() on integer columns) and rejects unmapped types
        zone = []
        for z in args.zone or []:
            zc, lo, hi = z.split(":")
            zone.append((zc, lo, hi))
        engine.decode_table(spark, args.warehouse, columns=cols,
                            zone_filter=zone or None) \
            .write.mode("overwrite").parquet(out)
        print(json.dumps({"decoded_to": out, "columns": cols,
                          "zone_filter": [list(z) for z in zone] or None}))
    elif args.action == "decode-giant":
        # chunked giant-cell decode: one parquet row per fragment — the
        # bounded-row-size path for cells past the 2 GiB arrow ceiling
        if not args.columns or "," in args.columns:
            raise SystemExit("decode-giant needs --columns with ONE column")
        out = os.path.join(args.warehouse, "giant_chunks_parquet")
        engine.decode_giant_cells(spark, args.warehouse, args.columns) \
            .write.mode("overwrite").parquet(out)
        print(json.dumps({"chunks_to": out, "column": args.columns}))
    elif args.action == "verify":
        df = spark.read.parquet(args.input)
        print(json.dumps(engine.verify_roundtrip(spark, df, plan, args.warehouse)))
    else:
        engine.lineage_table(spark, args.warehouse).show(50, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

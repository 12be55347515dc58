"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship end-to-end run — encode the sf0.001 documents table as a
source-code corpus through the full engine (salted staging → per-bucket
stripe/encode with checkpoint markers → decode → sha256 verify) and return a
per-language summary with compression ratios.

``queries`` / ``oracle_sql``: one entry per implemented operator
(SURVEY.md §2 mapping + training-data ops); see colonnade_spark/queries.py.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full encode→decode→verify of documents@sf0.001; returns a
    per-lang summary (rows, bytes in/out, compression pct, sha_ok)."""
    from pyspark.sql import functions as F

    from colonnade_spark import engine
    from colonnade_spark.plan import plan
    from colonnade_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string")).alias("path"),
        F.md5(F.concat_ws("\x00", "source", F.col("doc_id").cast("string")))
        .alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"))
    p = (plan().headed("repo").headed("path").headed("commit")
         .headed("lang").headed("content")
         .with_keys("repo", "path", "commit").with_partition_col("repo"))
    wh = tempfile.mkdtemp(prefix="colonnade_entry_")
    engine.encode_table(spark, corpus, p, wh, n_buckets=4,
                        stripe_bytes=1 << 20, mode="overwrite",
                        input_token="entry_sf0.001")
    ver = engine.verify_roundtrip(spark, corpus, p, wh)
    lin = engine.lineage_table(spark, wh)
    summary = (lin.groupBy("column")
               .agg(F.sum("n_rows").alias("rows_encoded"),
                    F.sum("bytes_in").alias("bytes_in"),
                    F.sum("bytes_out").alias("bytes_out"))
               .withColumn("pct_of_plain",
                           F.round(F.col("bytes_out") * 100.0 / F.col("bytes_in"), 1))
               .withColumn("roundtrip_ok", F.lit(ver["ok"]))
               .withColumn("mismatches", F.lit(ver["mismatches"]))
               .orderBy("column"))
    return summary


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from colonnade_spark.queries import registry

    return {name: fn for name, (fn, _sql) in registry().items()}


def oracle_sql() -> dict[str, str]:
    from colonnade_spark.queries import registry

    return {name: sql for name, (_fn, sql) in registry().items() if sql}

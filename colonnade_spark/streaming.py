"""Structured Streaming ingestion into the blocks warehouse.

The reference's streaming surface is incremental pull-based chunk encode
with resumable parser state (`encodeCsvStream`,
/root/reference/siphon/src/Siphon.hs:122-137; continuation-resume
Siphon.hs:612-616).  The Spark-native generalization is file-source
``readStream`` → ``foreachBatch`` → one *resumable encode job per
micro-batch*:

* each micro-batch encodes into its own sub-warehouse
  (``<warehouse>/batch=<id>``) through the engine's single-pass encode
  (salted buckets encoded inside the shuffle, per-bucket checkpoint
  markers, lineage);
* Structured Streaming's checkpoint gives exactly-once batch ids — a
  crashed run replays only unfinished batches, and byte-determinism makes
  the replay idempotent (the engine-level analog of the reference's parser
  continuations);
* the decode side unions every batch's blocks — a reader never needs
  cross-batch state (blocks are row-aligned and self-describing).

This is ingestion micro-batching, not event-time analytics; the windowed /
watermark aggregation shape lives in ``queries.q_events_window`` (the same
``F.window`` operator Structured Streaming plans incrementally).
"""

from __future__ import annotations

import glob
import os
import urllib.parse

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

from . import engine
from .plan import EncodePlan


def footer_schema(spark, input_path: str):
    """The Spark schema of a parquet input directory (or file), as
    ``spark.read.parquet(input_path).schema`` infers it, with no Spark job:
    the footer of the first visible file is read and typed in the JVM by
    Spark's own converter (``ParquetFileFormat.readSchemaFromFooter``, under
    the session's parquet settings), then made nullable, as ``DataSource``
    makes an inferred schema.  Files whose names start with ``_`` or ``.``
    are skipped, as Spark skips them.  A footer Spark cannot type (e.g.
    nanosecond INT64 timestamps) raises the error Spark's inference raises.

    Local paths and ``file:`` URIs are listed with pyarrow, in one call: a
    Hadoop listing walked entry by entry through py4j pays a socket round
    trip per entry, and stream input directories grow with every trigger.
    Other URIs (cluster storage, read through Spark's Hadoop configuration)
    and glob patterns are inferred by Spark itself, one job.

    Raises ``FileNotFoundError`` when there is no visible file, and
    ``ValueError`` on a ``key=value/`` partitioned layout, whose partition
    columns no footer holds."""
    import pyarrow.fs as pafs
    from pyspark.sql.types import _parse_datatype_json_string

    scheme = urllib.parse.urlsplit(input_path).scheme
    if scheme not in ("", "file") or any(c in input_path for c in "*?[{"):
        return spark.read.parquet(input_path).schema
    fs, root = pafs.FileSystem.from_uri(input_path) if scheme else \
        (pafs.LocalFileSystem(), os.path.abspath(input_path))
    first = root
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.Directory:
        entries = sorted((e for e in fs.get_file_info(pafs.FileSelector(root))
                          if not e.base_name.startswith(("_", "."))),
                         key=lambda e: e.base_name)
        parted = [e.base_name for e in entries
                  if e.type == pafs.FileType.Directory and "=" in e.base_name]
        if parted:
            raise ValueError(f"{input_path}: partitioned layout ({parted[0]}/);"
                             f" a parquet footer holds no partition columns")
        files = [e.path for e in entries if e.type == pafs.FileType.File]
        if not files:
            raise FileNotFoundError(f"no parquet file under {input_path}")
        first = files[0]
    elif info.type != pafs.FileType.File:
        raise FileNotFoundError(f"no parquet file at {input_path}")
    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(jvm.java.io.File(first).toURI())
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, path.getFileSystem(conf).getFileStatus(path),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(path, footer),
        parquet.ParquetToSparkSchemaConverter(state.conf()))
    return _parse_datatype_json_string(schema.asNullable().json())


def _file_stream(spark, input_path: str, max_files_per_trigger: int):
    """A parquet file-stream source over ``input_path``, its schema read by
    :func:`footer_schema`, ``max_files_per_trigger`` files per
    micro-batch."""
    return (spark.readStream.schema(footer_schema(spark, input_path))
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(input_path))


def _parquet_sink(df, out_dir: str, checkpoint_dir: str):
    """Append ``df``'s stream to parquet under ``out_dir``, draining the
    available input (``availableNow``); returns the finished query."""
    q = (df.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_encode(spark, input_path: str, warehouse: str, plan: EncodePlan,
                  *, checkpoint_dir: str | None = None, n_buckets: int = 4,
                  stripe_bytes: int = 4 << 20, max_files_per_trigger: int = 1):
    """Ingest a growing directory of parquet files into the warehouse.

    Runs with ``availableNow`` semantics: processes everything currently
    available (in ``max_files_per_trigger``-file micro-batches) and stops.
    Re-invoking later picks up only NEW files (the streaming checkpoint
    remembers processed ones) — incremental ingestion with engine-level
    resume inside each batch.  Returns the finished query.
    """
    checkpoint_dir = checkpoint_dir or os.path.join(warehouse, "_stream_ckpt")
    os.makedirs(warehouse, exist_ok=True)

    def handle_batch(df, batch_id: int) -> None:
        sub = os.path.join(warehouse, f"batch={batch_id}")
        engine.encode_table(spark, df, plan, sub, n_buckets=n_buckets,
                            stripe_bytes=stripe_bytes, mode="resume",
                            input_token=f"stream_batch_{batch_id}")

    q = (_file_stream(spark, input_path, max_files_per_trigger)
         .writeStream.foreachBatch(handle_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_windowed_counts(spark, input_path: str, out_dir: str, *,
                           checkpoint_dir: str, ts_col: str = "ts",
                           key_col: str = "event_type",
                           window: str = "1 hour",
                           watermark: str = "30 minutes",
                           max_files_per_trigger: int = 1):
    """Event-time windowed aggregation with a WATERMARK over a file stream —
    the late-data shape of Structured Streaming: windows finalize once the
    watermark (max seen event time − ``watermark``) passes their end, and
    events arriving later than the watermark are dropped, not double
    counted.  Append-mode parquet sink; the watermark state lives in the
    streaming checkpoint, so late data across RESTARTS is handled too
    (re-invoke with the same checkpoint).  Returns after draining available
    input (``availableNow``)."""
    from pyspark.sql import functions as F

    agg = (_file_stream(spark, input_path, max_files_per_trigger)
           .withWatermark(ts_col, watermark)
           .groupBy(F.window(ts_col, window), key_col)
           .agg(F.count("*").alias("n_events")))
    return _parquet_sink(agg.select(F.col("window.start").alias("win_start"),
                                    key_col, "n_events"),
                         out_dir, checkpoint_dir)


def stream_dedup_exact(spark, input_path: str, *, checkpoint_dir: str,
                       out_dir: str, text_col: str = "content",
                       max_files_per_trigger: int = 1,
                       timeout_minutes: int = 0):
    """Streaming exact deduplication — a CUSTOM STATEFUL operator via
    ``applyInPandasWithState``: state is keyed by the content hash; the
    first arrival of each distinct content passes through, every later
    duplicate (same batch or any later batch) is dropped.  The training-
    pipeline "dedup the firehose" shape: state is partitioned by key (scales
    horizontally) and checkpointed (restart-safe).  Appends survivors to
    ``out_dir`` and returns after draining available input."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _file_stream(spark, input_path, max_files_per_trigger)
    out_schema = src.schema
    src = src.withColumn("__h", F.sha2(F.col(text_col), 256))

    def keep_first(key, pdfs, state: GroupState):
        seen = state.exists
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if not seen:
                seen = True
                state.update((1,))
                yield pdf.iloc[[0]].drop(columns=["__h"])
            # later rows of this key (this batch or later ones): duplicates

    return _parquet_sink(
        src.groupBy("__h").applyInPandasWithState(
            keep_first, outputStructType=out_schema, stateStructType="n int",
            outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout),
        out_dir, checkpoint_dir)


def stream_dedup_near(spark, input_path: str, *, checkpoint_dir: str,
                      out_dir: str, text_col: str = "content",
                      threshold: float = 0.8, n_hashes: int = 64,
                      max_kept_per_bucket: int = 8,
                      max_files_per_trigger: int = 1):
    """Streaming NEAR-duplicate dedup — the stateful-streaming analog of
    :func:`textops.dedup_near_keep_first`: state is keyed by the document's
    64-bit SimHash (near-identical documents collide), and within a bucket
    each arrival is verified against the MinHash signatures of the
    already-kept documents (estimated Jaccard >= ``threshold`` → dropped).
    Both signatures ride the stream as stateless vectorized projections;
    only signatures (never text) live in state.

    Recall contract (the streaming pigeonhole): only candidates whose
    SimHash collides EXACTLY are compared — hamming>0 near-dups pass
    through, to be swept by the batch operator's multi-band LSH.  State per
    bucket is capped at ``max_kept_per_bucket`` signatures (degenerate
    buckets are boilerplate that exact dedup already catches).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, LongType

    from .textops import minhash_signature_batch, simhash_batch

    @F.pandas_udf(LongType())
    def sim_udf(s: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(s.tolist()))

    @F.pandas_udf(ArrayType(LongType()))
    def minsig_udf(s: pd.Series) -> pd.Series:
        return pd.Series(minhash_signature_batch(s.tolist(), n_hashes))

    src = _file_stream(spark, input_path, max_files_per_trigger)
    out_schema = src.schema
    src = (src.withColumn("__sim", sim_udf(F.col(text_col)))
           .withColumn("__msig", minsig_udf(F.col(text_col))))

    def keep_novel(key, pdfs, state: GroupState):
        kept = np.array(state.get[0], dtype=np.int64).reshape(-1, n_hashes) \
            if state.exists else np.empty((0, n_hashes), dtype=np.int64)
        for pdf in pdfs:
            emit_rows = []
            for i in range(len(pdf)):
                sig = np.asarray(pdf["__msig"].iloc[i], dtype=np.int64)
                if kept.size:
                    est = (kept == sig).mean(axis=1).max()
                    if est >= threshold:
                        continue                      # near-dup of a kept doc
                emit_rows.append(i)
                if len(kept) < max_kept_per_bucket:
                    kept = np.vstack([kept, sig])
            if emit_rows:
                yield pdf.iloc[emit_rows].drop(columns=["__sim", "__msig"])
        state.update((kept.ravel().tolist(),))

    return _parquet_sink(
        src.groupBy("__sim").applyInPandasWithState(
            keep_novel, outputStructType=out_schema,
            stateStructType="sigs array<bigint>", outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout),
        out_dir, checkpoint_dir)


def batch_warehouses(warehouse: str) -> list:
    return sorted(glob.glob(os.path.join(warehouse, "batch=*")),
                  key=lambda p: int(p.rsplit("=", 1)[1]))


def stream_decode(spark, warehouse: str):
    """Decode every ingested batch's blocks in ONE read over all (batch
    warehouse, bucket) files; the batches must share one plan and schema
    (one plan governs the stream; checked by engine.decode_warehouses)."""
    subs = batch_warehouses(warehouse)
    if not subs:
        raise FileNotFoundError(f"no ingested batches under {warehouse}")
    return engine.decode_warehouses(spark, subs)


def stream_manifest(warehouse: str) -> dict:
    """Merged manifest over all ingested batches (corpus totals)."""
    subs = batch_warehouses(warehouse)
    manifests = [engine.read_manifest(s) for s in subs]
    return {
        "batches": len(manifests),
        "rows": sum(m["rows"] for m in manifests),
        "bytes_in": sum(m["bytes_in"] for m in manifests),
        "bytes_out": sum(m["bytes_out"] for m in manifests),
        "plan_hash": manifests[-1]["plan_hash"] if manifests else None,
    }


def stream_sessionize(spark, input_path: str, *, checkpoint_dir: str,
                      out_dir: str, ts_col: str = "ts",
                      key_col: str = "user_id", gap: str = "30 minutes",
                      watermark: str = "1 hour",
                      max_files_per_trigger: int = 1):
    """Streaming gap-based sessionization via Spark's NATIVE
    ``session_window`` (merging event-time windows: a session extends
    while events arrive within ``gap`` of its current end and finalizes
    once the watermark passes end+gap).  The streaming twin of
    ``queries.q_events_sessionize`` — same 30-min-gap semantics, but
    incremental with checkpointed state: a restart resumes open sessions
    instead of recomputing (re-invoke with the same checkpoint).
    Append-mode parquet sink; returns after draining available input."""
    from pyspark.sql import functions as F

    agg = (_file_stream(spark, input_path, max_files_per_trigger)
           .withWatermark(ts_col, watermark)
           .groupBy(F.session_window(ts_col, gap), key_col)
           .agg(F.count("*").alias("n_events"),
                F.min(ts_col).alias("first_ts")))
    return _parquet_sink(
        agg.select(key_col, F.col("session_window.start").alias("sess_start"),
                   F.col("session_window.end").alias("sess_end"),
                   "n_events", "first_ts"),
        out_dir, checkpoint_dir)

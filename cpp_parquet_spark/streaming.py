"""Structured Streaming ingestion into the encode pipeline.

The engine's durable layer is batch + manifest-resume (SURVEY.md §3.3);
this module adds the streaming front door for sources that arrive
continuously (file drops, Kafka): each micro-batch flows through the
same salted-partition + codec kernels via ``foreachBatch`` and commits
pages + manifest rows atomically per batch, so the result is readable
with :func:`cpp_parquet_spark.engine.decode_dataset` exactly like a
batch run — and exactly-once per micro-batch comes from pairing Spark's
streaming checkpoint with an attempt-unique manifest run_id carrying the
epoch as its prefix (replays are detected by prefix, crashed attempts
leave only orphan pages that committed readers never see).

At scale: each micro-batch is an independent bounded encode job (one
shuffle), so throughput tuning is identical to the batch path;
``maxFilesPerTrigger`` bounds batch size the way bytes-per-part planning
bounds parts.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import _read_manifest, run_encode
from .partitioning import EncodeConfig


def stream_encode(spark: SparkSession, src_dir: str, schema, dst: str,
                  cfg: EncodeConfig, checkpoint: str | None = None,
                  max_files_per_trigger: int = 16,
                  dedup_exact: bool = False, text_col: str = "content",
                  **trigger_kwargs):
    """Start a file-source stream that encodes every micro-batch.

    Returns the StreamingQuery (caller stops/awaits it). Pages land under
    ``dst/pages``, manifest rows under ``dst/manifest`` with
    ``run_id = batch-<epoch_id>-<attempt uuid>`` — the lineage that makes
    replays idempotent: a committed epoch is skipped (prefix match), and a
    crashed attempt's pages are orphans the manifest join drops
    (engine.read_committed_pages).

    ``dedup_exact=True`` drops exact duplicates ACROSS micro-batches
    before encoding: a stateful streaming ``dropDuplicates`` on
    sha256(text) whose state lives in the query checkpoint, so a doc
    ingested in batch 3 is recognized as a duplicate of batch 0's copy
    (and across restarts of the same checkpoint). State grows with one
    32-byte hash per distinct doc — at 10^12 docs pair it with a
    retention policy (``dropDuplicatesWithinWatermark`` once the source
    carries event time) or periodic state compaction."""
    checkpoint = checkpoint or os.path.join(dst, "_checkpoint")

    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(src_dir))
    if dedup_exact:
        reader = (reader.withColumn(
            "__h", F.sha2(F.col(text_col).cast("binary"), 256))
            .dropDuplicates(["__h"]).drop("__h"))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ss = batch_df.sparkSession
        # run_id must be ATTEMPT-unique, not just epoch-unique: if a prior
        # attempt crashed after pages.write but before the manifest commit,
        # an epoch-keyed run_id would re-append pages under the same id and
        # the manifest join could not tell the two copies apart. With a
        # per-attempt uuid suffix the crashed attempt's pages stay orphans
        # (no manifest row ever names their run_id) and read_committed_pages
        # drops them; the replay guard matches on the epoch PREFIX.
        epoch_prefix = f"batch-{epoch_id}-"
        run_id = epoch_prefix + uuid.uuid4().hex[:8]
        try:
            already = (_read_manifest(ss, dst)
                       .filter(F.col("run_id").startswith(epoch_prefix))
                       .limit(1).count())
        except Exception:
            already = 0
        if already:            # checkpoint replay of a committed batch
            return
        run_encode(ss, batch_df, dst, cfg, run_id=run_id, resume=False)

    return (reader.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(**(trigger_kwargs or {"availableNow": True}))
            .start())


def window_agg(df: DataFrame, window: str = "1 hour",
               ts_col: str = "ts", key_col: str = "event_type") -> DataFrame:
    """Event-time tumbling-window aggregation (shared batch/stream
    expression): per (window, key) event count + value sum. In batch it
    is an ordinary groupBy; under a watermarked stream the identical
    expression becomes Spark's stateful windowed aggregate — one
    definition, two execution modes, which is the point of the
    Structured Streaming front door (same answer either way)."""
    return (df.groupBy(F.window(F.col(ts_col), window).alias("win"),
                       F.col(key_col))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    key_col, "n_events", "sum_value"))


def sessionize(df: DataFrame, gap: str = "30 minutes",
               ts_col: str = "ts", key_col: str = "user_id") -> DataFrame:
    """Gap-based sessionization (shared batch/stream expression): merge a
    key's events into sessions separated by more than ``gap`` of event
    time, via Spark's ``session_window`` — in batch an ordinary groupBy,
    under a watermarked stream the MERGING stateful session aggregate.
    Session end follows Spark's contract: last event time + gap.

    Scale shape: one shuffle on the session key; state (streaming) is
    bounded by the watermark horizon per key. The DuckDB oracle
    (`events_sessionize`) reproduces it exactly with a lag-gap running
    sum — pinning that session_window's merge semantics equal the
    textbook definition."""
    return (df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                       F.col(key_col))
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(key_col,
                    # events.ts is timestamp_ntz; session runs in UTC so
                    # the cast is the identity instant (see pagecodec tsn)
                    F.unix_micros(F.col("w.start").cast("timestamp"))
                     .alias("session_start_us"),
                    F.unix_micros(F.col("w.end").cast("timestamp"))
                     .alias("session_end_us"),
                    "n_events", "sum_value"))


def stream_dedup_exact(spark: SparkSession, src_dir: str, schema,
                       dst: str, text_col: str = "content",
                       checkpoint: str | None = None,
                       max_files_per_trigger: int = 16):
    """Cross-micro-batch EXACT dedup at ingest (first-seen wins), the
    streaming face of ``dedup.exact_*``: a custom stateful operator
    (``applyInPandasWithState``) keyed by sha256(text) whose state is a
    single seen flag per key — a duplicate arriving in ANY later
    micro-batch is dropped, not just within-batch (which is all a plain
    ``dropDuplicates`` inside ``foreachBatch`` can see).

    Scale shape: one shuffle on the 256-bit content key per micro-batch;
    state is one boolean per distinct document — the same cardinality a
    batch exact-dedup's groupBy would shuffle, held incrementally in the
    checkpoint-backed state store instead of recomputed per run. (For
    bounded state under unbounded streams, key the state by a rolling
    retention window via GroupStateTimeout — deliberately NOT defaulted
    here, because training-corpus dedup wants corpus-lifetime keys.)

    Survivors append to parquet under ``dst/unique``; returns the
    StreamingQuery."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyspark.sql.types import StructType
    checkpoint = checkpoint or os.path.join(dst, "_dedup_checkpoint")
    if isinstance(schema, str):               # DDL string form
        schema = StructType.fromDDL(schema)
    cols = [f.name for f in schema.fields]
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(src_dir)
           .withColumn("__k", F.sha2(F.col(text_col).cast("binary"), 256)))

    out_type = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                         for f in schema.fields)

    def fn(key, pdfs, state):
        if state.exists:                 # key already emitted: drop all
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][cols]
        state.update((True,))
        if first is not None:
            yield first

    out = src.groupBy("__k").applyInPandasWithState(
        fn, outputStructType=out_type, stateStructType="seen boolean",
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)

    return (out.writeStream.format("parquet")
            .option("path", os.path.join(dst, "unique"))
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def windowed_event_counts(spark: SparkSession, src_dir: str, schema,
                          dst: str, window: str = "1 hour",
                          watermark: str = "2 hours",
                          checkpoint: str | None = None,
                          max_files_per_trigger: int = 1):
    """Watermarked event-time windowed aggregation over a file stream.

    Late-data semantics (the watermark contract): a window is emitted —
    APPEND mode, exactly once — only after the watermark (max observed
    event time minus ``watermark``) passes its end; events arriving
    later than the watermark allows are dropped, bounding state. At
    100 TB-scale ingest this is what keeps per-key window state finite:
    state holds only windows newer than the watermark horizon,
    independent of total stream length. Finalized windows append to
    parquet under ``dst`` (a durable sink that supports checkpoint
    recovery, so stop/restart continues the same query); returns the
    StreamingQuery."""
    checkpoint = checkpoint or os.path.join(dst, "_win_checkpoint")
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(src_dir)
           .withWatermark("ts", watermark))
    out = window_agg(src, window)
    return (out.writeStream.format("parquet")
            .option("path", os.path.join(dst, "windows"))
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def running_ingest_stats(spark: SparkSession, src_dir: str, schema,
                         group_col: str = "lang", text_col: str = "content",
                         checkpoint: str | None = None,
                         query_name: str = "ingest_stats",
                         max_files_per_trigger: int = 16):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-group RUNNING ingest totals (docs, content bytes) maintained in
    the state store across micro-batches — the monitoring feed a 100 TB
    ingest wants alongside the encode (per-language volume, skew drift,
    arrival-rate anomalies) without rescanning committed pages.

    Emits one row per (group, micro-batch) to an in-memory sink named
    ``query_name``: (g, batch_docs, total_docs, total_bytes) where the
    totals are cumulative over the query's lifetime (checkpoint-backed —
    they survive restarts). Returns the StreamingQuery.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    checkpoint = checkpoint or os.path.join(src_dir, "_stats_checkpoint")
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(src_dir)
           .select(F.col(group_col).alias("g"),
                   F.octet_length(F.col(text_col)).alias("nb")))

    def fn(key, pdfs, state):
        docs = 0
        nbytes = 0
        for pdf in pdfs:
            docs += len(pdf)
            nbytes += int(pdf["nb"].sum())
        td, tb = state.get if state.exists else (0, 0)
        td, tb = td + docs, tb + nbytes
        state.update((td, tb))
        yield pd.DataFrame({"g": [key[0]], "batch_docs": [docs],
                            "total_docs": [td], "total_bytes": [tb]})

    out = src.groupBy("g").applyInPandasWithState(
        fn,
        outputStructType=("g string, batch_docs long, "
                          "total_docs long, total_bytes long"),
        stateStructType="docs long, bytes long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)

    return (out.writeStream.format("memory").queryName(query_name)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())

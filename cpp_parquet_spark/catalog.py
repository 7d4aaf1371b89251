"""Dataset observability: commit history and physical layout description.

The operational front door a table format owes its users (Delta's
`DESCRIBE HISTORY` / Iceberg's snapshots+files metadata tables, here
over this engine's manifest + sidecar layout). Everything is
metadata-only: these scans read the manifest and the pages table's
small columns, never page blobs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import (_read_deletes, _read_manifest, live_manifest,
                     read_committed_pages)


def history(spark: SparkSession, dst: str) -> DataFrame:
    """Commit log of a durable dataset, one row per operation, newest
    first: encode/append runs, compactions and purges (rows carrying
    ``replaces`` tombstones), and row-level delete sidecars.

    Columns: committed_at, op, run_id, parts, rows, enc_bytes,
    supersedes (count of tombstoned parts)."""
    m = _read_manifest(spark, dst)
    repl_n = F.size(F.coalesce(F.col("replaces"), F.array()))
    runs = (m.withColumn("_r", repl_n)
            .groupBy("run_id")
            .agg(F.max("committed_at").alias("committed_at"),
                 F.count("*").alias("parts"),
                 F.sum("num_rows").alias("rows"),
                 F.sum("enc_bytes").alias("enc_bytes"),
                 F.sum("_r").alias("supersedes"))
            .withColumn("op", F.when(F.col("supersedes") > 0, "rewrite")
                              .otherwise("append"))
            .select("committed_at", "op", "run_id", "parts", "rows",
                    "enc_bytes", "supersedes"))
    dels = _read_deletes(spark, dst)
    if dels is not None:
        drows = (dels.groupBy("delete_id")
                 .agg(F.max("created_at").alias("committed_at"),
                      F.count("*").alias("parts"),
                      F.sum("n_del").alias("rows"),
                      F.sum(F.octet_length("bitmap")).alias("enc_bytes"))
                 .select("committed_at", F.lit("delete").alias("op"),
                         F.col("delete_id").alias("run_id"), "parts",
                         "rows", "enc_bytes",
                         F.lit(0).cast("bigint").alias("supersedes")))
        runs = runs.unionByName(drows)
    return runs.orderBy(F.col("committed_at").desc())


def describe_dataset(spark: SparkSession, dst: str) -> DataFrame:
    """Physical layout per column over the LIVE dataset: codec mix,
    pages, raw/encoded bytes and the compression ratio — the view a
    user checks to see what the auto-selector actually picked and what
    it bought. Metadata-only (never reads the ``data`` blobs)."""
    pages = read_committed_pages(spark, dst).filter(F.col("col_idx") >= 0)
    return (pages.groupBy("column", "codec")
            .agg(F.count("*").alias("pages"),
                 F.sum("num_values").alias("values"),
                 F.sum("null_count").alias("nulls"),
                 F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("enc_bytes").alias("enc_bytes"))
            .withColumn("ratio", F.round(
                F.col("raw_bytes") / F.greatest(F.col("enc_bytes"),
                                                F.lit(1)), 3))
            .orderBy("column", "codec"))


def dataset_summary(spark: SparkSession, dst: str) -> dict:
    """One driver-side dict: live parts/rows/bytes, runs, delete
    sidecar counts — the health line a scheduler would log."""
    live = live_manifest(_read_manifest(spark, dst))
    agg = live.agg(F.count("*").alias("parts"),
                   F.countDistinct("run_id").alias("runs"),
                   F.sum("num_rows").alias("rows"),
                   F.sum("raw_bytes").alias("raw_bytes"),
                   F.sum("enc_bytes").alias("enc_bytes")).collect()[0]
    out = {k: (int(agg[k]) if agg[k] is not None else 0)
           for k in ("parts", "runs", "rows", "raw_bytes", "enc_bytes")}
    dels = _read_deletes(spark, dst)
    out["delete_sidecars"] = int(dels.count()) if dels is not None else 0
    if dels is not None:
        out["rows_deleted_pending"] = int(
            dels.agg(F.sum("n_del")).collect()[0][0] or 0)
    return out

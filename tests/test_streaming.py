"""Structured Streaming ingestion (cpp_parquet_spark.streaming)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from cpp_parquet_spark.engine import decode_dataset, verify_roundtrip
from cpp_parquet_spark.partitioning import EncodeConfig
from cpp_parquet_spark.streaming import stream_encode
from cpp_parquet_spark.synth import repofiles

CFG = EncodeConfig(keys=("repo",), salt_from=("path",), num_parts=4,
                   order_keys=("path",), table_name="repofiles")


def _drop_files(src: str, drops: list[tuple[str, int]], rows_per_file: int):
    os.makedirs(src, exist_ok=True)
    for name, seed in drops:
        tbl = repofiles(rows_per_file, seed=seed)
        pq.write_table(tbl, os.path.join(src, f"{name}.parquet"))


def test_stream_encode_two_waves(spark, tmp_path):
    src = str(tmp_path / "incoming")
    dst = str(tmp_path / "enc")
    _drop_files(src, [("a", 100), ("b", 101)], 300)
    schema = ("repo string, path string, commit string, "
              "lang string, content string")

    q = stream_encode(spark, src, schema, dst, CFG)
    q.awaitTermination(120)

    # second wave: new files; "c" repeats seed 100 -> byte-identical rows
    # under a new filename, which streaming must append (the parts
    # already exist), not part-level-resume away
    _drop_files(src, [("c", 100), ("d", 102)], 300)
    q2 = stream_encode(spark, src, schema, dst, CFG)
    q2.awaitTermination(120)

    decoded = decode_dataset(spark, dst)
    assert decoded.count() == 4 * 300

    src_df = spark.read.parquet(f"{src}/*.parquet")
    res = verify_roundtrip(src_df, decoded, "content")
    assert res["sha256_match_rate"] == 1.0

    # ROW-level multiset equality (per-column sha256 above cannot catch
    # cross-column misalignment): multi-run parts share part_id AND
    # page_id across runs, so decode_table's page sort must include
    # run_id or columns can zip rows from different micro-batches
    cols = ["repo", "path", "commit", "lang", "content"]
    d, s = decoded.select(*cols), src_df.select(*cols)
    assert d.exceptAll(s).count() == 0
    assert s.exceptAll(d).count() == 0

    # manifest lineage: one run_id per micro-batch, all distinct
    manifest = spark.read.parquet(f"{dst}/manifest")
    run_ids = {r["run_id"] for r in manifest.select("run_id").distinct().collect()}
    assert all(r.startswith("batch-") for r in run_ids)
    assert len(run_ids) >= 2


def test_stream_replay_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "incoming")
    dst = str(tmp_path / "enc")
    _drop_files(src, [("x", 500)], 200)
    schema = ("repo string, path string, commit string, "
              "lang string, content string")

    ckpt = str(tmp_path / "ckpt")
    q = stream_encode(spark, src, schema, dst, CFG, checkpoint=ckpt)
    q.awaitTermination(120)
    n1 = decode_dataset(spark, dst).count()

    # new checkpoint dir => the same files replay as epoch 0 again; the
    # manifest run_id guard must make this a no-op
    q2 = stream_encode(spark, src, schema, dst, CFG,
                       checkpoint=str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    n2 = decode_dataset(spark, dst).count()
    assert n1 == n2 == 200


def test_stream_dedup_exact_across_batches(spark, tmp_path):
    """Cross-batch stateful dedup: the same content dropped as two files
    (forced into separate micro-batches via maxFilesPerTrigger=1) must be
    encoded exactly once — state in the checkpoint, not per-batch."""
    from cpp_parquet_spark.streaming import stream_encode

    src = str(tmp_path / "incoming")
    dst = str(tmp_path / "enc")
    _drop_files(src, [("a", 100)], 150)
    _drop_files(src, [("b", 100)], 150)   # identical content, second file
    _drop_files(src, [("c", 101)], 150)   # genuinely new content

    q = stream_encode(spark, src, ("repo string, path string, commit "
                                   "string, lang string, content string"),
                      dst, CFG, dedup_exact=True, max_files_per_trigger=1)
    q.awaitTermination(180)

    decoded = decode_dataset(spark, dst)
    src_df = spark.read.parquet(f"{src}/*.parquet")
    n_distinct = src_df.select("content").distinct().count()
    # one survivor per distinct content corpus-wide: file b (an exact
    # copy of file a) contributes nothing, and the synth pool's internal
    # repeats collapse too
    assert decoded.count() == n_distinct
    assert n_distinct < src_df.count() - 150   # b was fully deduped
    # surviving contents == the distinct source contents, byte-exact
    dh = {r["h"] for r in decoded.select(
        F.sha2(F.col("content").cast("binary"), 256).alias("h")).collect()}
    sh = {r["h"] for r in src_df.select(
        F.sha2(F.col("content").cast("binary"), 256).alias("h"))
        .distinct().collect()}
    assert dh == sh


def test_running_ingest_stats_stateful(spark, tmp_path):
    """applyInPandasWithState: per-group totals must accumulate ACROSS
    micro-batches (cumulative, checkpoint-backed state)."""
    from cpp_parquet_spark.streaming import running_ingest_stats

    src = str(tmp_path / "incoming")
    _drop_files(src, [("a", 100), ("b", 101), ("c", 102)], 200)

    q = running_ingest_stats(
        spark, src, ("repo string, path string, commit string, "
                     "lang string, content string"),
        checkpoint=str(tmp_path / "ckpt"),
        query_name="ingest_stats_t", max_files_per_trigger=1)
    q.awaitTermination(180)

    rows = spark.table("ingest_stats_t").collect()
    src_df = spark.read.parquet(f"{src}/*.parquet")
    want = {r["lang"]: (r["n"], r["b"]) for r in
            src_df.groupBy("lang")
            .agg(F.count("*").alias("n"),
                 F.sum(F.octet_length("content")).alias("b")).collect()}
    # final cumulative row per group == the batch ground truth
    last = {}
    for r in rows:
        cur = last.get(r["g"])
        if cur is None or r["total_docs"] > cur[0]:
            last[r["g"]] = (r["total_docs"], r["total_bytes"])
    assert last == want
    # statefulness: some group saw >= 2 micro-batches with growing totals
    from collections import Counter
    per_group = Counter(r["g"] for r in rows)
    assert max(per_group.values()) >= 2
    for g in per_group:
        tot = sorted(r["total_docs"] for r in rows if r["g"] == g)
        bat = [r["batch_docs"] for r in rows if r["g"] == g]
        assert tot[-1] == sum(bat)        # cumulative == sum of batches


def test_windowed_event_counts_watermark(spark, tmp_path):
    """Watermarked tumbling-window agg: finalized windows match the batch
    answer; a window still inside the watermark horizon is withheld; a
    late event beyond the horizon is dropped (and cannot re-open an
    already-emitted window). Two sequential availableNow runs over one
    checkpoint = two micro-batches with the watermark persisted between
    them, exactly like a restart of a long-running ingest."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa

    from cpp_parquet_spark.streaming import window_agg, windowed_event_counts

    src = str(tmp_path / "events_in")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2026, 1, 1, 0, 0, 0)

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type", "value"])
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        tbl = tbl.set_column(1, "ts", tbl.column("ts").cast(pa.timestamp("us")))
        pq.write_table(tbl, os.path.join(src, f"{name}.parquet"))

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double")
    ckpt = str(tmp_path / "ckpt")

    # wave 1: hours 0..3, max ts 03:30 -> watermark 01:30 at the end of
    # the run, finalizing exactly window [00:00, 01:00)
    write("w1", [(i, base + dt.timedelta(minutes=30 * i), i % 3, "click", 1.0)
                 for i in range(8)])
    dst = str(tmp_path / "win_out")
    q = windowed_event_counts(spark, src, schema, dst, window="1 hour",
                              watermark="2 hours", checkpoint=ckpt)
    q.awaitTermination(120)
    got1 = {(r["win_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(f"{dst}/windows").collect()}
    assert got1 == {(0, "click"): (2, 2.0)}

    # wave 2 against the restored watermark (01:30): one in-flight event
    # (hour 3) + one LATE event (00:05, behind the watermark -> dropped,
    # must NOT re-open the already-emitted hour-0 window)
    write("w2", [(100, base + dt.timedelta(hours=3, minutes=40), 1, "click", 1.0),
                 (101, base + dt.timedelta(minutes=5), 1, "click", 99.0)])
    q2 = windowed_event_counts(spark, src, schema, dst, window="1 hour",
                               watermark="2 hours", checkpoint=ckpt)
    q2.awaitTermination(120)
    got2 = {(r["win_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(f"{dst}/windows").collect()}
    # final watermark 01:40 -> no further window end <= 01:40 exists; in
    # particular NO hour-0 re-emission carrying the late 99.0: the sink
    # still holds exactly the wave-1 row
    assert got2 == got1

    # batch form over the on-time rows agrees on the finalized window
    batch = window_agg(spark.read.parquet(src).filter(F.col("event_id") < 100))
    bmap = {(r["win_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
            for r in batch.collect()}
    assert bmap[(0, "click")] == got1[(0, "click")]


def test_sessionize_batch_semantics(spark):
    """Gap merge, session end = last event + gap, per-key isolation."""
    import datetime as dt
    from cpp_parquet_spark.streaming import sessionize
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 1.0), (1, t0 + 10 * m, 2.0),       # one session (gap 10m)
        (1, t0 + 50 * m, 4.0),                     # 40m gap -> new session
        (2, t0 + 5 * m, 8.0),                      # other key, own session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    out = {(r["user_id"], r["session_start_us"]): r
           for r in sessionize(df, "30 minutes").collect()}
    us = lambda d: int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    gap = 30 * 60 * 1_000_000
    s1 = out[(1, us(t0))]
    assert s1["n_events"] == 2 and s1["sum_value"] == 3.0
    assert s1["session_end_us"] == us(t0 + 10 * m) + gap
    s2 = out[(1, us(t0 + 50 * m))]
    assert s2["n_events"] == 1 and s2["session_end_us"] == us(t0 + 50 * m) + gap
    assert out[(2, us(t0 + 5 * m))]["n_events"] == 1


def test_stream_then_compact_and_sql(spark, tmp_path):
    """Streaming accretes small per-batch parts; compaction merges them
    without changing the decoded relation, and the SQL front door reads
    the dataset either way."""
    from cpp_parquet_spark.engine import (
        _Snapshot, compact_parts, register_sql)
    src = str(tmp_path / "in2")
    dst = str(tmp_path / "enc2")
    _drop_files(src, [("a", 100), ("b", 101)], 200)
    schema = ("repo string, path string, commit string, "
              "lang string, content string")
    q = stream_encode(spark, src, schema, dst, CFG)
    q.awaitTermination(120)
    _drop_files(src, [("c", 102)], 200)
    q2 = stream_encode(spark, src, schema, dst, CFG)
    q2.awaitTermination(120)

    pre = _Snapshot.read(spark, dst).manifest.num_rows
    res = compact_parts(spark, dst, min_bytes=1 << 30, target_bytes=1 << 30)
    assert res["parts_compacted"] == pre and res["bins"] >= 1
    view = register_sql(spark, dst, "enc_stream")
    got = spark.sql(
        f"SELECT count(*) AS n, count(DISTINCT sha2(cast(content as binary), 256)) AS d "
        f"FROM {view}").collect()[0]
    assert got["n"] == 3 * 200
    src_df = spark.read.parquet(f"{src}/*.parquet")
    assert got["d"] == src_df.select("content").distinct().count()

    # ROW-level roundtrip (not just per-column counts/hashes): streaming
    # micro-batches reuse the same hash part-id space, so compaction bins
    # hold parts with equal part_id from different run_ids — the page
    # renumber window must order by (part_id, run_id, page_id) or columns
    # interleave the sources differently and rows zip misaligned. Full
    # multiset equality over whole rows catches any such misalignment.
    cols = ["repo", "path", "commit", "lang", "content"]
    decoded = decode_dataset(spark, dst).select(*cols)
    src_rows = src_df.select(*cols)
    assert decoded.exceptAll(src_rows).count() == 0
    assert src_rows.exceptAll(decoded).count() == 0


def test_stream_dedup_exact_cross_batch(spark, tmp_path):
    """Cross-micro-batch stateful dedup: a duplicate document arriving in
    a LATER micro-batch must be dropped (first-seen wins), which plain
    within-batch dropDuplicates cannot do."""
    from cpp_parquet_spark.streaming import stream_dedup_exact

    src = str(tmp_path / "incoming")
    dst = str(tmp_path / "uniq")
    # file "a" and file "c" are byte-identical corpora (same seed) in
    # different files -> guaranteed to land in different micro-batches
    # with max_files_per_trigger=1; "b" is distinct
    _drop_files(src, [("a", 100), ("b", 101)], 150)
    schema = ("repo string, path string, commit string, "
              "lang string, content string")
    q = stream_dedup_exact(spark, src, schema, dst,
                           checkpoint=str(tmp_path / "ck"),
                           max_files_per_trigger=1)
    q.awaitTermination(180)
    _drop_files(src, [("c", 100)], 150)       # exact dupes of wave "a"
    q2 = stream_dedup_exact(spark, src, schema, dst,
                            checkpoint=str(tmp_path / "ck"),
                            max_files_per_trigger=1)
    q2.awaitTermination(180)

    got = spark.read.parquet(f"{dst}/unique")
    src_df = spark.read.parquet(f"{src}/*.parquet")
    n_distinct = src_df.select("content").distinct().count()
    # one survivor per distinct content, nothing more
    assert got.count() == n_distinct
    assert got.select("content").distinct().count() == n_distinct
    # survivors are real source rows
    assert got.exceptAll(src_df).count() == 0


def test_stream_encode_with_block_codec_and_bss(spark, tmp_path):
    """E9/E10 compose with the streaming path: zstd-wrapped pages written
    by micro-batches decode sha256-identically, and the per-page blk
    marker is present on compressible pages."""
    import json as _json

    from dataclasses import replace

    src = str(tmp_path / "in_blk")
    dst = str(tmp_path / "enc_blk")
    _drop_files(src, [("a", 100)], 300)
    schema = ("repo string, path string, commit string, "
              "lang string, content string")
    q = stream_encode(spark, src, schema, dst,
                      replace(CFG, block_codec="zstd"))
    q.awaitTermination(120)

    from cpp_parquet_spark.engine import read_committed_pages
    pages = read_committed_pages(spark, dst)
    blks = [(_json.loads(r["params"]) or {}).get("blk")
            for r in pages.filter(F.col("column") == "content")
                          .select("params").collect()]
    assert "zstd" in blks   # big text pages compressed

    decoded = decode_dataset(spark, dst)
    src_df = spark.read.parquet(src)
    res = verify_roundtrip(src_df, decoded, "content")
    assert res["sha256_match_rate"] == 1.0


def test_stream_then_delete_and_time_travel(spark, tmp_path):
    """Deletion vectors over STREAMED runs (batch-<epoch>-<uuid> run ids
    in the same hash part-id space): rows deleted across micro-batches
    drop from every read, and an as_of snapshot taken before the delete
    still sees them."""
    import datetime
    import time as _time

    from cpp_parquet_spark.engine import decode_dataset, delete_where_in
    src = str(tmp_path / "in3")
    dst = str(tmp_path / "enc3")
    _drop_files(src, [("a", 100), ("b", 101)], 150)
    schema = ("repo string, path string, commit string, "
              "lang string, content string")
    q = stream_encode(spark, src, schema, dst, CFG)
    q.awaitTermination(120)
    _time.sleep(0.8)
    t_before = datetime.datetime.now()
    _time.sleep(0.8)
    src_df = spark.read.parquet(f"{src}/*.parquet")
    victim = src_df.select("repo").distinct().orderBy("repo").first()[0]
    n_victim = src_df.filter(F.col("repo") == victim).count()
    assert n_victim > 0
    st = delete_where_in(spark, dst, "repo", [victim])
    assert st["rows_deleted"] == n_victim
    now = decode_dataset(spark, dst)
    assert now.count() == 300 - n_victim
    assert now.filter(F.col("repo") == victim).count() == 0
    snap = decode_dataset(spark, dst, as_of=t_before)
    assert snap.count() == 300
    assert snap.filter(F.col("repo") == victim).count() == n_victim

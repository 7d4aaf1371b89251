"""Durable layer: manifest lineage, checkpoint resume (kill-after-K then
rerun converges with no duplicate parts), determinism of re-encodes, and
orphan-page isolation (SURVEY.md §5.2 item 5)."""

import os
import shutil

import pytest

from pyspark.sql import functions as F

from cpp_parquet_spark import synth
from cpp_parquet_spark.engine import (decode_dataset, encode_table,
                                      run_encode, verify_roundtrip,
                                      read_committed_pages)
from cpp_parquet_spark.partitioning import EncodeConfig, with_part_id

CFG = EncodeConfig(keys=("repo",), salt_from=("path",), num_parts=8,
                   order_keys=("repo", "path"), table_name="repofiles")


@pytest.fixture()
def repofiles(spark):
    return spark.read.parquet(synth.fixture_path("sf0.001"))


def test_resume_after_partial_run(spark, repofiles, tmp_path):
    dst = str(tmp_path / "enc")
    # simulate a run killed after 3 of 8 parts: encode a part_id subset
    subset = with_part_id(repofiles, CFG).filter(F.col("__part_id") < 3) \
        .drop("__part_id")
    s1 = run_encode(spark, subset, dst, CFG, run_id="attempt1")
    assert s1["parts"] == 3
    # rerun over the FULL input: only the missing 5 parts are encoded
    s2 = run_encode(spark, repofiles, dst, CFG, run_id="attempt2")
    assert s2["parts"] == 8
    manifest = spark.read.parquet(os.path.join(dst, "manifest"))
    per_run = {r["run_id"]: r["c"] for r in
               manifest.groupBy("run_id").agg(F.count("*").alias("c")).collect()}
    assert per_run == {"attempt1": 3, "attempt2": 5}
    # no duplicate parts
    assert manifest.select("part_id").distinct().count() == 8
    assert manifest.count() == 8
    dec = decode_dataset(spark, dst)
    r = verify_roundtrip(repofiles, dec, "content")
    assert r["mismatched_hashes"] == 0


def test_resume_noop_when_complete(spark, repofiles, tmp_path):
    dst = str(tmp_path / "enc")
    run_encode(spark, repofiles, dst, CFG, run_id="first")
    s2 = run_encode(spark, repofiles, dst, CFG, run_id="second")
    manifest = spark.read.parquet(os.path.join(dst, "manifest"))
    assert manifest.filter(F.col("run_id") == "second").count() == 0
    assert s2["parts"] == 8


def test_deterministic_bytes_across_runs(spark, repofiles, tmp_path):
    """Same input + config => byte-identical encoded pages (resume-stable
    codec selection, SURVEY.md §7 M5)."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    run_encode(spark, repofiles, a, CFG, run_id="x")
    run_encode(spark, repofiles, b, CFG, run_id="y")
    def fingerprint(d):
        return (d.filter(F.col("col_idx") >= 0)  # meta rows carry wall times
                 .select(F.xxhash64("part_id", "column", "page_id", "codec",
                                    "params", "data").alias("x"))
                 .agg(F.expr("bit_xor(x)").alias("h"),
                      F.count("*").alias("c")).collect()[0])
    ha, hb = fingerprint(read_committed_pages(spark, a)), \
        fingerprint(read_committed_pages(spark, b))
    assert (ha["h"], ha["c"]) == (hb["h"], hb["c"])


def test_orphan_pages_ignored(spark, repofiles, tmp_path):
    """Pages whose run never committed a manifest row must not be decoded."""
    dst = str(tmp_path / "enc")
    run_encode(spark, repofiles, dst, CFG, run_id="good")
    # forge an orphan: append pages with a run_id absent from the manifest
    pages = encode_table(repofiles.limit(50), CFG) \
        .withColumn("run_id", F.lit("orphan"))
    pages.write.mode("append").partitionBy("run_id") \
        .parquet(os.path.join(dst, "pages"))
    committed = read_committed_pages(spark, dst)
    assert committed.filter(F.col("run_id") == "orphan").count() == 0
    dec = decode_dataset(spark, dst)
    assert dec.count() == repofiles.count()


def test_pages_partitioned_by_run_prunes_files(spark, repofiles, tmp_path):
    """Resume attempts must not relist prior runs' page files: the sink is
    partitioned by run_id, so a run_id filter prunes at the directory
    level (the 100 TB resume-cost guarantee)."""
    dst = str(tmp_path / "enc")
    subset = with_part_id(repofiles, CFG).filter(F.col("__part_id") < 3) \
        .drop("__part_id")
    run_encode(spark, subset, dst, CFG, run_id="attempt1")
    run_encode(spark, repofiles, dst, CFG, run_id="attempt2")
    pages_dir = os.path.join(dst, "pages")
    assert sorted(d for d in os.listdir(pages_dir)
                  if d.startswith("run_id=")) == \
        ["run_id=attempt1", "run_id=attempt2"]
    only2 = (spark.read.parquet(pages_dir)
             .filter(F.col("run_id") == "attempt2"))
    plan = only2._jdf.queryExecution().executedPlan().toString()
    # run_id is a directory partition column => the filter lands in
    # PartitionFilters (file-level pruning), not as a data filter
    pf = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "run_id" in pf.split("PartitionFilters")[1].split("]")[0], plan
    # and the pruned scan really only touches attempt2's directory
    assert only2.count() > 0
    rows = only2.select(F.input_file_name().alias("f")).distinct().collect()
    assert all("run_id=attempt2" in r["f"] for r in rows), rows[:3]


def test_run_sidecar_written(spark, repofiles, tmp_path):
    """S5: per-run lineage sidecar with config + input snapshot + totals."""
    import json
    dst = str(tmp_path / "enc")
    run_encode(spark, repofiles, dst, CFG, run_id="r1")
    for p in [os.path.join(dst, "RUN.json"),
              os.path.join(dst, "runs", "r1.json")]:
        with open(p) as f:
            doc = json.load(f)
        assert doc["run_id"] == "r1"
        assert doc["table"] == "repofiles"
        assert doc["config"]["num_parts"] == 8
        assert doc["summary"]["rows"] == repofiles.count()
        assert doc["input"]["schema"].startswith("struct<")


def test_manifest_lineage_fields(spark, repofiles, tmp_path):
    dst = str(tmp_path / "enc")
    run_encode(spark, repofiles, dst, CFG, run_id="r1")
    m = spark.read.parquet(os.path.join(dst, "manifest"))
    row = m.first()
    for f in ["table", "part_id", "num_pages", "num_rows", "raw_bytes",
              "enc_bytes", "codecs", "columns", "run_id", "num_parts",
              "committed_at", "encode_wall_s"]:
        assert f in m.columns, f
    assert row["num_rows"] > 0 and row["encode_wall_s"] is not None
    total = m.agg(F.sum("num_rows")).collect()[0][0]
    assert total == repofiles.count()


def test_reconcile_manifests_setops(spark, repofiles, tmp_path):
    """Set-op audit: two deterministic attempts reconcile to empty; a
    divergent attempt (different page size => different page counts)
    surfaces rows from both sides."""
    from cpp_parquet_spark.engine import reconcile_manifests
    from dataclasses import replace
    a, b, c = (str(tmp_path / x) for x in "abc")
    run_encode(spark, repofiles, a, CFG, run_id="x")
    run_encode(spark, repofiles, b, CFG, run_id="y")
    run_encode(spark, repofiles, c, replace(CFG, page_bytes=4096),
               run_id="z")
    ma, mb, mc = (spark.read.parquet(os.path.join(d, "manifest"))
                  for d in (a, b, c))
    assert reconcile_manifests(ma, mb).count() == 0
    div = reconcile_manifests(ma, mc)
    assert div.count() > 0
    assert {r["side"] for r in div.select("side").distinct().collect()} \
        == {"a", "b"}


def test_compact_parts_end_to_end(spark, sf_dir, tmp_path):
    """Small-part compaction: page-move (no re-encode) merge, atomic
    manifest+tombstone commit, decode equality, resume still no-op."""
    from dataclasses import replace
    from cpp_parquet_spark.engine import (
        COMPACT_PART_BASE, _Snapshot, compact_parts, decode_dataset,
        read_committed_pages, run_encode, verify_roundtrip)
    from cpp_parquet_spark.partitioning import EncodeConfig
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "ds")
    cfg = EncodeConfig(keys=("source",), salt_from=(), num_parts=8,
                       order_keys=("doc_id",), table_name="documents")
    run_encode(spark, df, dst, cfg)
    pre_parts = _Snapshot.read(spark, dst).manifest.num_rows
    assert pre_parts >= 2
    res = compact_parts(spark, dst, min_bytes=1 << 30, target_bytes=1 << 30)
    assert res["bins"] >= 1 and res["parts_compacted"] == pre_parts
    live = _Snapshot.read(spark, dst).manifest
    assert live.num_rows == res["bins"]
    assert not [p for p in live["part_id"].to_pylist()
                if p < COMPACT_PART_BASE]
    # decoded content identical to source after the move
    dec = decode_dataset(spark, dst)
    assert dec.count() == df.count()
    assert verify_roundtrip(df, dec, "text")["mismatched_hashes"] == 0
    # resume on the same input: superseded part ids still gate the
    # anti-join, so nothing re-encodes and committed pages are unchanged
    before = read_committed_pages(spark, dst).count()
    out2 = run_encode(spark, df, dst, cfg)
    assert read_committed_pages(spark, dst).count() == before
    assert out2["rows"] == df.count()       # live totals, no double count
    # second compaction: single live bin -> no-op
    res2 = compact_parts(spark, dst, min_bytes=1 << 30)
    assert res2["bins"] == 0


def test_submit_entry_auto_block_codec(spark, sf_dir, tmp_path, monkeypatch):
    """tools/submit_encode --block-codec auto: the stats pass picks the E9
    codec from byte entropy BEFORE planning (so the plan routes floats to
    bss/listb), and the decode-verify leg proves bit-identity."""
    import json
    import sys

    import tools.submit_encode as se

    printed = []
    monkeypatch.setattr("builtins.print",
                        lambda *a, **k: printed.append(a[0] if a else ""))
    # keep the session alive for the rest of the suite
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    dst = str(tmp_path / "auto_blk")
    se.main(["--src", sf_dir, "--table", "documents", "--dst", dst,
             "--parts", "4", "--keys", "source", "--salt-from", "doc_id",
             "--order-keys", "doc_id", "--stats-pass",
             "--block-codec", "auto", "--decode-verify"])
    summary = json.loads(printed[-1])
    assert summary["block_codec"] == "zstd"
    assert summary["verify"]["sha256_match_rate"] == 1.0
    assert summary["enc_bytes"] < summary["raw_bytes"]

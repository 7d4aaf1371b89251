"""Row-level deletes via deletion-vector sidecars (round 3 — the
Iceberg-v2/Delta deletion-vector analogue): delete_where_in writes one
bitmap per affected (part_id, run_id); every decode entry point applies
them; compaction leaves deleted parts in place."""

import os

import pytest
from pyspark.sql import functions as F

from cpp_parquet_spark.engine import (EncodeConfig, compact_parts,
                                      decode_dataset, decode_where,
                                      decode_where_eq, delete_where_in,
                                      read_live_pages, register_sql,
                                      run_encode)


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _make(spark, docs, dst, **cfg_over):
    cfg = EncodeConfig(keys=("doc_id",), salt_from=("doc_id",), num_parts=4,
                       order_keys=("doc_id",), bloom_cols=("doc_id",),
                       table_name="docs_del", **cfg_over)
    run_encode(spark, docs.select("doc_id", "text", "lang"), dst, cfg,
               run_id="r1", resume=False)
    return cfg


def test_delete_int_values_all_paths(spark, docs, tmp_path):
    dst = str(tmp_path / "d1")
    _make(spark, docs, dst)
    total = decode_dataset(spark, dst).count()
    st = delete_where_in(spark, dst, "doc_id", [1, 5, 7, 10 ** 9])
    assert st["rows_deleted"] == 3
    out = decode_dataset(spark, dst)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert out.count() == total - 3
    assert ids.isdisjoint({1, 5, 7})
    # projection decode drops the same rows
    assert decode_dataset(spark, dst, columns=["text"]).count() == total - 3
    # zone-pruned decode drops them
    w = decode_where(read_live_pages(spark, dst), "doc_id", 0, 10, spark)
    assert {r["doc_id"] for r in w.collect()} == set(range(11)) - {1, 5, 7}
    # bloom point lookup on a deleted key returns nothing
    assert decode_where_eq(read_live_pages(spark, dst), "doc_id", 5,
                           spark).count() == 0
    # SQL front door
    view = register_sql(spark, dst, view="docs_del_v")
    assert spark.sql(f"SELECT count(*) c FROM {view}").collect()[0]["c"] \
        == total - 3


def test_delete_string_values_and_or_combining(spark, docs, tmp_path):
    dst = str(tmp_path / "d2")
    _make(spark, docs, dst)
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    victim = sorted(langs)[0]
    n_victim = docs.filter(F.col("lang") == victim).count()
    total = docs.count()
    st1 = delete_where_in(spark, dst, "lang", [victim])
    assert st1["rows_deleted"] == n_victim
    # overlapping second delete: doc 0..4 regardless of lang
    delete_where_in(spark, dst, "doc_id", [0, 1, 2, 3, 4])
    out = decode_dataset(spark, dst)
    expect = docs.filter((F.col("lang") != victim)
                         & (~F.col("doc_id").isin([0, 1, 2, 3, 4]))).count()
    assert out.count() == expect
    assert out.filter(F.col("lang") == victim).count() == 0
    # text content of survivors is untouched (full bit identity)
    src = docs.filter((F.col("lang") != victim)
                      & (~F.col("doc_id").isin([0, 1, 2, 3, 4]))) \
              .select("doc_id", "text", "lang")
    assert out.exceptAll(src).count() == 0
    assert src.exceptAll(out).count() == 0


def test_delete_across_appended_runs(spark, docs, tmp_path):
    dst = str(tmp_path / "d3")
    cfg = EncodeConfig(keys=("doc_id",), salt_from=("doc_id",), num_parts=2,
                       order_keys=("doc_id",), table_name="docs_del")
    a = docs.filter(F.col("doc_id") < 50).select("doc_id", "text")
    b = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)) \
            .select("doc_id", "text")
    run_encode(spark, a, dst, cfg, run_id="ra", resume=False)
    run_encode(spark, b, dst, cfg, run_id="rb", resume=False)
    st = delete_where_in(spark, dst, "doc_id", [10, 60])   # one per run
    assert st["rows_deleted"] == 2
    out = decode_dataset(spark, dst)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == set(range(100)) - {10, 60}


def test_empty_delete_is_noop(spark, docs, tmp_path):
    dst = str(tmp_path / "d4")
    _make(spark, docs, dst)
    st = delete_where_in(spark, dst, "doc_id", [])
    assert st == {"parts": 0, "rows_deleted": 0}
    assert not os.path.exists(os.path.join(dst, "deletes"))


def test_compaction_leaves_deleted_parts(spark, docs, tmp_path):
    dst = str(tmp_path / "d5")
    _make(spark, docs, dst)
    total = decode_dataset(spark, dst).count()
    delete_where_in(spark, dst, "doc_id", [3])
    # tiny parts => all compactable except the delete-protected ones
    st = compact_parts(spark, dst, min_bytes=1 << 30)
    out = decode_dataset(spark, dst)
    assert out.count() == total - 1
    assert out.filter(F.col("doc_id") == 3).count() == 0
    # the affected parts kept their original ids (not compacted away)
    from cpp_parquet_spark.engine import _read_deletes
    dels = _read_deletes(spark, dst)
    live = read_live_pages(spark, dst).select("part_id").distinct()
    del_parts = {r["part_id"] for r in dels.select("part_id").collect()}
    live_parts = {r["part_id"] for r in live.collect()}
    assert del_parts <= live_parts


def test_purge_rewrites_and_supersedes(spark, docs, tmp_path):
    """purge_deletes applies the vectors, supersedes the vectored parts
    via replaces tombstones, and leaves decode output identical."""
    from cpp_parquet_spark.engine import (_read_deletes, _Snapshot,
                                          purge_deletes)
    dst = str(tmp_path / "p1")
    cfg = _make(spark, docs, dst)
    delete_where_in(spark, dst, "doc_id", [1, 5, 7])
    before = sorted(tuple(r) for r in decode_dataset(spark, dst).collect())
    st = purge_deletes(spark, dst, cfg)
    assert st["parts_rewritten"] > 0 and st["rows_purged"] == 3
    after = sorted(tuple(r) for r in decode_dataset(spark, dst).collect())
    assert after == before
    # no live vectored parts remain; second purge is a no-op
    dels = _read_deletes(spark, dst)
    live = _Snapshot.read(spark, dst).manifest
    live = set(zip(live["part_id"].to_pylist(), live["run_id"].to_pylist()))
    assert not {tuple(r) for r in dels.select("part_id", "run_id")
                .distinct().collect()} & live
    assert purge_deletes(spark, dst, cfg)["parts_rewritten"] == 0
    # compaction is allowed again on the rewritten parts
    compact_parts(spark, dst, min_bytes=1 << 30)
    assert sorted(tuple(r) for r in
                  decode_dataset(spark, dst).collect()) == before


def test_purge_all_rows_deleted_tombstone_only(spark, docs, tmp_path):
    """Deleting every row of the dataset exercises the tombstone-only
    manifest path (no new pages, targets still superseded)."""
    from cpp_parquet_spark.engine import purge_deletes
    dst = str(tmp_path / "p2")
    cfg = _make(spark, docs, dst)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    delete_where_in(spark, dst, "doc_id", ids)
    st = purge_deletes(spark, dst, cfg)
    assert st["parts_rewritten"] > 0
    assert decode_dataset(spark, dst).count() == 0


def test_scan_column_honors_deletes(spark, docs, tmp_path):
    """Single-column page-pruned scans mask their slice of the deletion
    bitmap via page row-offsets (broadcast join; blobs never shuffle)."""
    from cpp_parquet_spark.engine import scan_column
    dst = str(tmp_path / "d6")
    _make(spark, docs, dst)
    delete_where_in(spark, dst, "doc_id", [1, 5, 7, 11, 13])
    pages = read_live_pages(spark, dst)
    ids = sorted(r["doc_id"] for r in
                 scan_column(pages, "doc_id", lo=0, hi=20).collect())
    assert ids == [i for i in range(21) if i not in (1, 5, 7, 11, 13)]
    assert scan_column(pages, "doc_id").count() == docs.count() - 5


def test_upsert_replaces_and_appends(spark, docs, tmp_path):
    """MERGE-style upsert: same-key rows replaced, new keys appended,
    untouched rows bit-identical."""
    from cpp_parquet_spark.engine import upsert
    dst = str(tmp_path / "u1")
    cfg = _make(spark, docs, dst)
    batch = (docs.filter(F.col("doc_id") < 20)
             .select("doc_id",
                     F.concat(F.lit("U:"), F.col("text")).alias("text"),
                     "lang")
             .unionByName(
                 docs.filter(F.col("doc_id") < 5)
                     .select((F.col("doc_id") + 1000000).alias("doc_id"),
                             "text", F.lit("zz").alias("lang"))))
    st = upsert(spark, batch, dst, cfg, "doc_id")
    assert st["rows_replaced"] == 20
    out = decode_dataset(spark, dst)
    want = (docs.filter(F.col("doc_id") >= 20)
                .select("doc_id", "text", "lang")
                .unionByName(batch))
    assert out.exceptAll(want).count() == 0
    assert want.exceptAll(out).count() == 0
    # idempotence: re-running the same upsert converges to the same table
    upsert(spark, batch, dst, cfg, "doc_id")
    out2 = decode_dataset(spark, dst)
    assert out2.exceptAll(want).count() == 0
    assert want.exceptAll(out2).count() == 0


def test_time_travel_snapshots(spark, docs, tmp_path):
    """as_of reads reconstruct the table at a past commit: appends,
    deletes, and compactions after the cutoff are invisible (page files
    are only superseded, never destroyed)."""
    import datetime
    import time

    dst = str(tmp_path / "tt1")
    cfg = EncodeConfig(keys=("doc_id",), salt_from=("doc_id",), num_parts=2,
                       order_keys=("doc_id",), bloom_cols=("doc_id",),
                       table_name="tt")
    run_encode(spark, docs.filter(F.col("doc_id") < 250)
               .select("doc_id", "text"), dst, cfg, run_id="r1",
               resume=False)
    time.sleep(0.8)
    t1 = datetime.datetime.now()
    time.sleep(0.8)
    run_encode(spark, docs.filter(F.col("doc_id") >= 250)
               .select("doc_id", "text"), dst, cfg, run_id="r2",
               resume=False)
    time.sleep(0.8)
    t2 = datetime.datetime.now()
    time.sleep(0.8)
    delete_where_in(spark, dst, "doc_id", [5, 300])
    time.sleep(0.8)
    t3 = datetime.datetime.now()
    time.sleep(0.8)
    compact_parts(spark, dst, min_bytes=1 << 30)

    a1 = decode_dataset(spark, dst, as_of=t1)
    assert a1.count() == 250
    assert a1.filter(F.col("doc_id") >= 250).count() == 0
    assert a1.filter(F.col("doc_id") == 5).count() == 1   # delete is later
    assert decode_dataset(spark, dst, as_of=t2).count() == 500
    a3 = decode_dataset(spark, dst, as_of=t3)
    assert a3.count() == 498
    assert decode_dataset(spark, dst).count() == 498
    # string form works too
    assert decode_dataset(
        spark, dst,
        as_of=t1.isoformat(sep=" ", timespec="milliseconds")).count() == 250
    # snapshot SQL view
    v = register_sql(spark, dst, view="tt_snap", as_of=t1)
    assert spark.sql(f"SELECT count(*) c FROM {v}").collect()[0]["c"] == 250


def test_vacuum_removes_only_fully_superseded_runs(spark, docs, tmp_path):
    """vacuum removes a run's page files only when EVERY part of the run
    is superseded and the retention window passed; partially-superseded
    runs are protected; decode is unaffected."""
    import os as _os

    from cpp_parquet_spark.engine import purge_deletes, vacuum
    dst = str(tmp_path / "v1")
    cfg = EncodeConfig(keys=("doc_id",), salt_from=("doc_id",), num_parts=2,
                       order_keys=("doc_id",), table_name="v")
    run_encode(spark, docs.select("doc_id", "text"), dst, cfg,
               run_id="r1", resume=False)
    compact_parts(spark, dst, min_bytes=1 << 30)     # supersedes all of r1
    assert vacuum(spark, dst, retain_hours=1.0)["runs_removed"] == []
    v = vacuum(spark, dst, retain_hours=0.0)
    assert v["runs_removed"] == ["r1"] and v["bytes_freed"] > 0
    assert not _os.path.exists(_os.path.join(dst, "pages", "run_id=r1"))
    assert decode_dataset(spark, dst).count() == docs.count()
    # partially superseded run is protected
    dst2 = str(tmp_path / "v2")
    cfg2 = _make(spark, docs, dst2)
    delete_where_in(spark, dst2, "doc_id", [7])
    purge_deletes(spark, dst2, cfg2)                 # one part rewritten
    assert vacuum(spark, dst2, retain_hours=0.0)["runs_removed"] == []
    assert decode_dataset(spark, dst2).count() == docs.count() - 1


def test_rewrite_dataset_layout_evolution(spark, docs, tmp_path):
    """rewrite_dataset re-lays the whole live table under a new config
    (hash -> range clustering + blooms): decode identical, pending
    deletes applied, zone pruning effective, old run vacuumable."""
    from cpp_parquet_spark.engine import (prune_parts, rewrite_dataset,
                                          vacuum)
    from cpp_parquet_spark.partitioning import plan_range_bounds
    dst = str(tmp_path / "rw1")
    _make(spark, docs, dst)
    delete_where_in(spark, dst, "doc_id", [2, 9])
    before = sorted(tuple(r) for r in decode_dataset(spark, dst).collect())
    bounds = plan_range_bounds(docs, "doc_id", 4)
    cfg2 = EncodeConfig(keys=("doc_id",), salt_from=(), num_parts=4,
                        order_keys=("doc_id",), range_on="doc_id",
                        range_bounds=bounds, bloom_cols=("doc_id",),
                        table_name="docs_del")
    st = rewrite_dataset(spark, dst, cfg2)
    assert st["parts_rewritten"] > 0 and st["rows"] == len(before)
    after = sorted(tuple(r) for r in decode_dataset(spark, dst).collect())
    assert after == before
    pages = read_live_pages(spark, dst)
    total = pages.select("part_id").distinct().count()
    surv = prune_parts(pages, "doc_id", 0, 50).count()
    # range layout actually prunes; on failure dump the zone rows —
    # this asserted flaky once (r3) and did not reproduce in 90 reruns
    assert surv < total, (
        surv, total, bounds,
        sorted(map(tuple, pages.filter(F.col("column") == "doc_id")
                   .select("part_id", "run_id", "page_id",
                           "min_v", "max_v").collect())))
    v = vacuum(spark, dst, retain_hours=0.0)
    assert "r1" in v["runs_removed"]
    assert sorted(tuple(r) for r in
                  decode_dataset(spark, dst).collect()) == before


def test_vacuum_reclaims_orphan_attempts(spark, docs, tmp_path):
    """A crashed attempt leaves a pages/run_id dir with no manifest row:
    reads already ignore it; vacuum reclaims it after the retention
    window (dir mtime), never touching committed runs."""
    import os as _os
    import shutil as _shutil

    from cpp_parquet_spark.engine import vacuum
    dst = str(tmp_path / "v3")
    cfg = EncodeConfig(keys=("doc_id",), salt_from=("doc_id",), num_parts=2,
                       order_keys=("doc_id",), table_name="v")
    run_encode(spark, docs.select("doc_id", "text"), dst, cfg,
               run_id="r1", resume=False)
    orphan = _os.path.join(dst, "pages", "run_id=crashed1")
    _shutil.copytree(_os.path.join(dst, "pages", "run_id=r1"), orphan)
    assert decode_dataset(spark, dst).count() == docs.count()
    assert vacuum(spark, dst, retain_hours=1.0)["orphans_removed"] == []
    v = vacuum(spark, dst, retain_hours=0.0)
    assert v["orphans_removed"] == ["crashed1"]
    assert not _os.path.exists(orphan)
    assert _os.path.exists(_os.path.join(dst, "pages", "run_id=r1"))
    assert decode_dataset(spark, dst).count() == docs.count()


def test_delete_where_range_basic(spark, tmp_path):
    from cpp_parquet_spark.engine import (decode_dataset, delete_where_range,
                                          run_encode)
    from cpp_parquet_spark.partitioning import EncodeConfig
    dst = str(tmp_path / "dr")
    df = spark.createDataFrame(
        [(i, f"k{i % 3}", i * 10) for i in range(100)],
        "id long, k string, v long")
    cfg = EncodeConfig(keys=("k",), salt_from=("id",), num_parts=4,
                       table_name="t")
    run_encode(spark, df, dst, cfg, run_id="r1")
    out = delete_where_range(spark, dst, "v", lo=200, hi=490)
    assert out["rows_deleted"] == 30          # v in {200,210,...,490}
    got = sorted(r["id"] for r in decode_dataset(spark, dst).collect())
    assert got == [i for i in range(100) if not (200 <= i * 10 <= 490)]
    # idempotent: same predicate again deletes the same rows, no change
    delete_where_range(spark, dst, "v", lo=200, hi=490)
    assert decode_dataset(spark, dst).count() == 70


def test_delete_where_range_half_open_and_nulls(spark, tmp_path):
    from cpp_parquet_spark.engine import (decode_dataset, delete_where_range,
                                          run_encode)
    from cpp_parquet_spark.partitioning import EncodeConfig
    dst = str(tmp_path / "dr2")
    rows = [(1, "a", 5), (2, "a", None), (3, "b", 50), (4, "b", 500)]
    df = spark.createDataFrame(rows, "id long, k string, v long")
    cfg = EncodeConfig(keys=("k",), salt_from=(), num_parts=2,
                       table_name="t")
    run_encode(spark, df, dst, cfg, run_id="r1")
    delete_where_range(spark, dst, "v", lo=40)   # v >= 40; NULL never matches
    got = sorted(r["id"] for r in decode_dataset(spark, dst).collect())
    assert got == [1, 2]


def test_delete_where_range_timestamp_zone_domain(spark, tmp_path):
    import datetime
    from cpp_parquet_spark.engine import (decode_dataset, delete_where_range,
                                          run_encode)
    from cpp_parquet_spark.partitioning import EncodeConfig
    dst = str(tmp_path / "dr3")
    base = datetime.datetime(2024, 1, 1)
    rows = [(i, "k", base + datetime.timedelta(days=i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, k string, ts timestamp_ntz")
    cfg = EncodeConfig(keys=("k",), salt_from=("id",), num_parts=2,
                       table_name="t")
    run_encode(spark, df, dst, cfg, run_id="r1")
    # retention: drop everything before Jan 4 (epoch-us zone domain)
    cutoff = int(datetime.datetime(2024, 1, 4,
                 tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    out = delete_where_range(spark, dst, "ts", hi=cutoff - 1)
    assert out["rows_deleted"] == 3
    got = sorted(r["id"] for r in decode_dataset(spark, dst).collect())
    assert got == list(range(3, 10))

"""Every pages frame planned on the driver from one metadata snapshot
(engine._Snapshot): building a local durable read's frame runs no Spark
job, a derived frame plans with at most two, both metadata readers
(pyarrow files and Spark) agree, the pruned plan returns exactly what a
full decode plus filter returns, and no kept-part set omits a part that
holds a match. Small pruned reads and deletes finish on the driver
(``_DRIVER_DECODE_BYTES``) with the same rows and bitmaps as the Spark
path."""

import datetime
import random
import shutil
import time
import uuid
from dataclasses import replace
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cpp_parquet_spark import engine
from cpp_parquet_spark.codecs.pagecodec import PageCorruptError
from cpp_parquet_spark.engine import (EncodeConfig, add_column,
                                      compact_parts, decode_dataset,
                                      decode_table, decode_where,
                                      decode_where_eq, decode_where_in,
                                      delete_where_in, delete_where_range,
                                      encode_table, read_live_pages,
                                      run_encode, table_changes)

CFG = EncodeConfig(keys=("source",), salt_from=("doc_id",), num_parts=4,
                   order_keys=("doc_id",), bloom_cols=("doc_id",),
                   table_name="snap")
COLS = ["doc_id", "text", "lang", "n_chars"]


def plan_jobs(spark, build):
    """(build(), number of Spark jobs it launched): jobs are counted
    through a job group read back from the status tracker."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan jobs")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()     # status store caught up
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: plan nodes of a distributed decode: a Python task or a shuffle
_DISTRIBUTED = ("ArrowEvalPython", "FlatMapGroupsInArrow", "MapInArrow",
                "Exchange")


def _on_driver(df) -> bool:
    """The frame's executed plan runs no Python task and no shuffle."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return not any(node in plan for node in _DISTRIBUTED)


@pytest.fixture(scope="module")
def lake(spark, sf_dir, tmp_path_factory):
    """Appends, a compaction, deletes, an ``as_of`` cut, a backfilled
    ``add_column``, then an append WITHOUT the bloom index carrying the
    new column and one more delete (of a row from that append and of
    one from before the cut). Returns (dst, t_mid, truth per state)
    where truth is the row list each state must decode to."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path_factory.mktemp("snap") / "lake")
    src = docs.select(*COLS)
    run_encode(spark, src.filter("doc_id < 200"), dst, CFG, run_id="a1",
               resume=False)
    run_encode(spark, src.filter("doc_id >= 200 AND doc_id < 350"), dst,
               CFG, run_id="a2", resume=False)
    assert compact_parts(spark, dst, min_bytes=1 << 30,
                         run_id="c1")["parts_compacted"] >= 2
    run_encode(spark, src.filter("doc_id >= 350 AND doc_id < 420"), dst,
               CFG, run_id="a3", resume=False)
    delete_where_in(spark, dst, "doc_id", [5, 260, 400])
    time.sleep(1.1)
    t_mid = datetime.datetime.now()
    time.sleep(1.1)
    add_column(spark, dst, "n_mod", "n_chars % 7", CFG, run_id="x1")
    run_encode(spark, src.filter("doc_id >= 420")
               .withColumn("n_mod", F.col("n_chars") % 7), dst,
               replace(CFG, bloom_cols=()), run_id="a4", resume=False)
    delete_where_in(spark, dst, "doc_id", [430, 11])
    rows = [r.asDict() for r in docs.select(*COLS).collect()]
    then = [r for r in rows
            if r["doc_id"] < 420 and r["doc_id"] not in (5, 260, 400)]
    now = [dict(r, n_mod=r["n_chars"] % 7) for r in rows
           if r["doc_id"] not in (5, 260, 400, 430, 11)]
    return dst, t_mid, {"now": now, "then": then}


def _multiset(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


def _rows_by_pair(spark, snap):
    """Every live pair's decoded rows, one job: the oracle for "a kept
    set never omits a part holding a match"."""
    pairs = sorted(snap.page_pairs())
    live = snap.frame(spark)
    frames = [decode_table(engine._keep_parts(live, {p}, ["part_id", "run_id"]),
                           spark, columns=live._cps_columns)
              .withColumn("__pair", F.lit(i)) for i, p in enumerate(pairs)]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    got: dict = {p: [] for p in pairs}
    for r in out.collect():
        d = r.asDict()
        got[pairs[d.pop("__pair")]].append(d)
    return got


def test_plan_runs_no_spark_jobs(spark, lake):
    dst, t_mid, _ = lake
    reads = {
        "plain": lambda: decode_dataset(spark, dst),
        "where": lambda: decode_dataset(spark, dst,
                                        where=("n_chars", 100, 300)),
        "columns": lambda: decode_dataset(spark, dst,
                                          columns=["doc_id", "lang"]),
        "as_of": lambda: decode_dataset(spark, dst, as_of=t_mid),
        "lookup": lambda: decode_where_eq(read_live_pages(spark, dst),
                                          "doc_id", 42, spark),
        "table_changes": lambda: table_changes(spark, dst, t_mid),
    }
    on_driver = {"where", "lookup"}     # under the cap on this lake
    for name, build in reads.items():
        df, jobs = plan_jobs(spark, build)
        assert jobs == 0, (name, jobs)
        if name in on_driver:
            # decoded at the call: the frame is a local relation
            assert _on_driver(df), name
            continue
        # the helper does see jobs: forcing the frame launches some
        _, forced = plan_jobs(spark, df.count)
        assert forced >= 1, name


def test_derived_frame_plans_with_two_jobs(spark, sf_dir, lake):
    """A frame without a carried snapshot (an in-memory encode_table
    frame, a filtered durable read) plans a lookup with ONE collect of
    its metadata and the probed column's bloom rows: one job, plus the
    encode's shuffle-map job for the in-memory frame."""
    dst = lake[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(*COLS)
    frames = {
        "encode_table": lambda: encode_table(docs, CFG),
        "filtered": lambda: read_live_pages(spark, dst)
        .filter(F.col("part_id") >= 0),
    }
    lookups = {
        "eq": ({42}, lambda p: decode_where_eq(p, "doc_id", 42, spark)),
        "in": ({42, 7}, lambda p: decode_where_in(p, "doc_id", [42, 7],
                                                  spark)),
    }
    for fname, frame in frames.items():
        for lname, (ids, lookup) in lookups.items():
            df, jobs = plan_jobs(spark, lambda: lookup(frame()))
            assert jobs <= 2, (fname, lname, jobs)
            assert {r["doc_id"] for r in df.collect()} == ids, (fname, lname)


@pytest.mark.parametrize("source,state,cap", [
    ("file", "now", None), ("file", "then", None),
    ("spark", "now", None), ("spark", "then", None),
    ("file", "now", 0), ("file", "then", 0)],
    ids=["now", "then", "spark-now", "spark-then", "now-cap0", "then-cap0"])
def test_planner_matches_brute_force(spark, sf_dir, lake, source, state,
                                     cap, monkeypatch):
    """Both metadata readers plan every read exactly as the other, and
    as brute force: the local pyarrow reader, and the Spark reader that
    a dataset elsewhere takes (forced here on the same lake). The local
    reader's reads finish on the driver under the default cap and in a
    Spark job with the cap at 0 (then only a read that keeps no page
    stays on the driver); the rows are the same. A lookup and a range
    on derived frames (an in-memory encode_table frame, a filtered
    read) take the Spark path and return the same rows."""
    dst, t_mid, truth = lake
    as_of = t_mid if state == "then" else None
    want = truth[state]
    cols = COLS + (["n_mod"] if state == "now" else [])
    ref = engine._Snapshot.read(spark, dst, as_of=as_of)    # pyarrow
    if source == "spark":
        monkeypatch.setattr(engine, "_local_root", lambda dst: None)
    if cap is not None:
        monkeypatch.setattr(engine, "_DRIVER_DECODE_BYTES", cap)
    driver = source == "file" and cap is None
    pages = read_live_pages(spark, dst, as_of=as_of)
    snap = pages._cps_snapshot
    assert (snap.source is not None) == (source == "spark")
    assert [c for c, _ in pages._cps_columns] == cols
    assert (snap.live, snap.del_pairs, snap.layout()) == \
        (ref.live, ref.del_pairs, ref.layout())
    assert sorted(snap.manifest.to_pylist(), key=str) == \
        sorted(ref.manifest.to_pylist(), key=str)
    by_pair = _rows_by_pair(spark, snap)
    assert _multiset([r for rs in by_pair.values() for r in rs], cols) \
        == _multiset(want, cols)
    everything = snap.page_pairs()
    assert everything == ref.page_pairs()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    schema = docs.withColumn("n_mod", F.col("n_chars") % 7) \
        .select(*cols).schema
    derived = [encode_table(spark.createDataFrame(
                   [tuple(r[c] for c in cols) for r in want], schema), CFG),
               read_live_pages(spark, dst, as_of=as_of)
               .filter(F.col("part_id") >= 0)]

    def check(got_df, kept, match, on_derived=None, proj=None):
        hits = [r for r in want if match(r)]
        want_rows = _multiset(hits, cols)
        got = [r.asDict() for r in got_df.collect()]
        assert _multiset(got, proj or cols) == _multiset(hits, proj or cols)
        if kept is None or kept:
            assert _on_driver(got_df) == driver
        holding = {p for p, rs in by_pair.items() if any(map(match, rs))}
        assert holding <= (everything if kept is None else kept)
        for frame in ([] if on_derived is None else derived):
            df = on_derived(frame)
            assert _multiset([r.asDict() for r in df.collect()],
                             cols) == want_rows
            assert not want_rows or not _on_driver(df)

    rng = random.Random(7)
    ids = sorted(r["doc_id"] for r in want)
    # deleted before the cut, deleted after it, absent
    points = rng.sample(ids, 4) + [260, 11, 10 ** 7]
    for i, v in enumerate(points):
        kept = snap.bloom_pairs("doc_id", [v])
        assert kept == ref.bloom_pairs("doc_id", [v])
        check(decode_where_eq(pages, "doc_id", v, spark), kept,
              lambda r, v=v: r["doc_id"] == v,
              None if i % 2 else
              lambda p, v=v: decode_where_eq(p, "doc_id", v, spark))
    for i in range(3):
        vals = rng.sample(ids, 5) + [10 ** 7]
        kept = snap.bloom_pairs("doc_id", vals)
        assert kept == ref.bloom_pairs("doc_id", vals)
        check(decode_where_in(pages, "doc_id", vals, spark), kept,
              lambda r, vals=vals: r["doc_id"] in vals,
              None if i else
              lambda p, vals=vals: decode_where_in(p, "doc_id", vals, spark))
    # no bloom rows for lang: the lookup keeps every part (a scan)
    assert snap.bloom_pairs("lang", ["en"]) is None
    check(decode_where_eq(pages, "lang", "en", spark), None,
          lambda r: r["lang"] == "en")
    if state == "now":
        # the append after add_column has no bloom rows: its parts are
        # kept for every probe, an absent one included
        a4 = {p for p in everything if p[1] == "a4"}
        assert a4 and a4 <= snap.bloom_pairs("doc_id", [10 ** 7])
    tags = dict(pages._cps_columns)
    ranges = [("doc_id", lo, lo + rng.randint(0, 60))
              for lo in rng.sample(ids, 2)]
    ranges += [("n_chars", 150, 250), ("n_chars", None, 120),
               ("lang", "de", "en"), ("doc_id", 10 ** 6, None)]
    if state == "now":
        ranges.append(("n_mod", 2, 3))
    for i, (col, lo, hi) in enumerate(ranges):
        def match(r, col=col, lo=lo, hi=hi):
            v = r[col]
            return v is not None and (lo is None or v >= lo) \
                and (hi is None or v <= hi)
        kept = snap.zone_pairs(col, lo, hi, tags[col])
        assert kept == ref.zone_pairs(col, lo, hi, tags[col])
        check(decode_dataset(spark, dst, where=(col, lo, hi), as_of=as_of),
              kept, match,
              None if i % 3 else
              lambda p, col=col, lo=lo, hi=hi: decode_where(
                  p, col, lo, hi, spark))
        # the where column decodes for its filter but is not projected
        proj = [c for c in cols if c != col][:2]
        check(decode_dataset(spark, dst, where=(col, lo, hi), as_of=as_of,
                             columns=proj), kept, match, proj=proj)


def test_spark_planning_matches_snapshot(spark, lake, monkeypatch):
    """A dataset that is not on a local filesystem takes its metadata
    through Spark, and an ``as_of`` form only Spark parses gets its
    cut-off from Spark's own cast; every plan returns the same rows."""
    dst, t_mid, _ = lake
    spark_only = t_mid.astimezone(datetime.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f UTC")
    with pytest.raises(ValueError):
        datetime.datetime.fromisoformat(spark_only)
    assert engine._as_of_micros(spark, spark_only) == \
        engine._as_of_micros(spark, t_mid)
    # a form neither parses: with ANSI off Spark's cast gives NULL, which
    # must not read as "no as_of" (the current state)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ValueError):
            decode_dataset(spark, dst, as_of="not a time")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    reads = [
        lambda: decode_dataset(spark, dst),
        lambda: decode_dataset(spark, dst, where=("n_chars", 100, 300)),
        lambda: decode_dataset(spark, dst, columns=["doc_id", "lang"],
                               as_of=t_mid),
        lambda: decode_where_in(read_live_pages(spark, dst), "doc_id",
                                [42, 260, 430, 431, 10 ** 7], spark),
        lambda: table_changes(spark, dst, t_mid),
    ]
    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    want = [rows(read()) for read in reads]
    assert rows(decode_dataset(spark, dst, columns=["doc_id", "lang"],
                               as_of=spark_only)) == want[2]
    monkeypatch.setattr(engine, "_local_root", lambda dst: None)
    assert read_live_pages(spark, dst)._cps_snapshot.source is not None
    assert [rows(read()) for read in reads] == want


@pytest.mark.parametrize("run_id", ["1e10", "0123", "12d"])
def test_numeric_looking_run_id_reads_back(spark, sf_dir, tmp_path, run_id):
    """A dataset whose only run id reads as a number (a double for
    ``1e10`` and ``12d``, the int 123 for ``0123``) keeps every row:
    run_id is read as the string it was written as."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = docs.select("doc_id", "lang")
    dst = str(tmp_path / "rid")
    out = run_encode(spark, src, dst, CFG, run_id=run_id, resume=False)
    assert out["rows"] == src.count()
    got = sorted(tuple(r) for r in decode_dataset(spark, dst).collect())
    assert got == sorted(tuple(r) for r in src.collect())


def test_delete_bitmaps_match_across_cap(spark, sf_dir, tmp_path,
                                         monkeypatch):
    """delete_where_in and delete_where_range write byte-identical
    bitmaps and report the same counts whether their kernel runs on the
    driver (under the cap) or in a Spark job (cap 0), over an indexed
    and an un-indexed run."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(*COLS)
    base = str(tmp_path / "base")
    run_encode(spark, docs.filter("doc_id < 300"), base, CFG, run_id="b1",
               resume=False)
    run_encode(spark, docs.filter("doc_id >= 300"), base,
               replace(CFG, bloom_cols=()), run_id="b2", resume=False)
    want = [docs.filter(F.col("doc_id").isin(3, 150, 310)).count(),
            docs.filter("n_chars BETWEEN 100 AND 180").count()]
    assert 0 < want[1] < docs.count()
    routes = []
    real = engine._Snapshot.driver_pages

    def spy(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        routes.append(out is not None)
        return out

    monkeypatch.setattr(engine._Snapshot, "driver_pages", spy)
    got = {}
    for cap in (engine._DRIVER_DECODE_BYTES, 0):
        monkeypatch.setattr(engine, "_DRIVER_DECODE_BYTES", cap)
        dst = str(tmp_path / f"cap{cap}")
        shutil.copytree(base, dst)
        routes.clear()
        res = [delete_where_in(spark, dst, "doc_id", [3, 150, 310, 10 ** 7]),
               delete_where_range(spark, dst, "n_chars", 100, 180)]
        assert routes == [cap > 0] * 2, cap
        assert [r["rows_deleted"] for r in res] == want, cap
        bitmaps = sorted(map(tuple, spark.read.parquet(f"{dst}/deletes")
                             .select("part_id", "run_id", "n_rows",
                                     "n_del", "bitmap").collect()))
        got[cap] = ([(r["parts"], r["rows_deleted"]) for r in res], bitmaps)
    assert got[engine._DRIVER_DECODE_BYTES] == got[0]


def test_driver_path_empty_results_keep_schema(spark, tmp_path):
    """A driver-path read that keeps no row returns an empty frame with
    the dataset's schema, on a table with timestamp, date, decimal and
    array columns: no bloom survivor, a deleted key, and a range outside
    every zone."""
    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(hours=i),
             base.date() + datetime.timedelta(days=i),
             Decimal(i * 7) / 100, [i, i + 1]) for i in range(300)]
    src = spark.createDataFrame(
        rows, "k int, ts timestamp, d date, m decimal(10,2), arr array<int>")
    cfg = EncodeConfig(keys=("k",), salt_from=("k",), num_parts=4,
                       order_keys=("k",), bloom_cols=("k",),
                       table_name="typed")
    dst = str(tmp_path / "typed")
    run_encode(spark, src, dst, cfg, run_id="t1", resume=False)
    delete_where_in(spark, dst, "k", [7])
    schema = decode_dataset(spark, dst).schema
    assert read_live_pages(spark, dst)._cps_snapshot.bloom_pairs(
        "k", [10 ** 6]) == set()
    reads = {
        "no bloom survivor": lambda: decode_where_eq(
            read_live_pages(spark, dst), "k", 10 ** 6, spark),
        "deleted key": lambda: decode_where_eq(
            read_live_pages(spark, dst), "k", 7, spark),
        "outside every zone": lambda: decode_dataset(
            spark, dst, where=("k", 10 ** 6, None)),
    }
    for name, read in reads.items():
        df = read()
        assert _on_driver(df), name
        assert df.schema == schema, name
        assert df.collect() == [], name
        assert df.toArrow().num_rows == 0, name


def test_corrupt_page_raises_at_call(spark, sf_dir, tmp_path):
    """A flipped byte in a kept page blob raises PageCorruptError from
    the driver-path lookup itself, not later at collect, and a later
    read of other parts on the same session still succeeds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(*COLS)
    dst = str(tmp_path / "crc")
    run_encode(spark, docs, dst, replace(CFG, page_crc=True), run_id="c1",
               resume=False)
    snap = engine._Snapshot.read(spark, dst)
    bad = snap.bloom_pairs("doc_id", [42])
    edits: dict = {}
    for r in snap.meta.to_pylist():
        if (r["part_id"], r["run_id"]) in bad and r["column"] == "text":
            edits.setdefault(snap.files[r["__file"]], []).append(r["__row"])
    assert edits
    for path, at in edits.items():
        t = pq.ParquetFile(path).read()
        blobs = t["data"].to_pylist()
        for i in at:
            b = bytearray(blobs[i])
            b[len(b) // 2] ^= 0xFF
            blobs[i] = bytes(b)
        j = t.schema.get_field_index("data")
        pq.write_table(t.set_column(j, t.schema.field(j),
                                    pa.array(blobs, t.schema.field(j).type)),
                       path)
    with pytest.raises(PageCorruptError):
        decode_where_eq(read_live_pages(spark, dst), "doc_id", 42, spark)
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    other = next(v for v in ids
                 if not snap.bloom_pairs("doc_id", [v]) & bad)
    got = decode_where_eq(read_live_pages(spark, dst), "doc_id", other,
                          spark)
    assert [r["doc_id"] for r in got.collect()] == [other]

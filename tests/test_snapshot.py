"""Durable reads planned on the driver from one metadata snapshot
(engine._Snapshot): building a read's frame runs no Spark job, the
pruned plan returns exactly what a full decode plus filter returns, and
no kept-part set omits a part that holds a match."""

import datetime
import random
import time
import uuid
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from cpp_parquet_spark import engine
from cpp_parquet_spark.engine import (EncodeConfig, add_column,
                                      compact_parts, decode_dataset,
                                      decode_table, decode_where_eq,
                                      decode_where_in, delete_where_in,
                                      read_live_pages, run_encode)

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


@pytest.fixture(scope="module")
def lake(spark, sf_dir, tmp_path_factory):
    """Appends, a compaction, deletes, an ``as_of`` cut, a backfilled
    ``add_column``, then an append WITHOUT the bloom index carrying the
    new column and one more delete. Returns (dst, t_mid, truth per
    state) where truth is the row list each state must decode to."""
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
    delete_where_in(spark, dst, "doc_id", [430])
    rows = [r.asDict() for r in docs.select(*COLS).collect()]
    then = [r for r in rows
            if r["doc_id"] < 420 and r["doc_id"] not in (5, 260, 400)]
    now = [dict(r, n_mod=r["n_chars"] % 7) for r in rows
           if r["doc_id"] not in (5, 260, 400, 430)]
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
    }
    for name, build in reads.items():
        df, jobs = plan_jobs(spark, build)
        assert jobs == 0, (name, jobs)
        # the helper does see jobs: forcing the frame launches some
        _, forced = plan_jobs(spark, df.count)
        assert forced >= 1, name


@pytest.mark.parametrize("state", ["now", "then"])
def test_planner_matches_brute_force(spark, lake, state):
    dst, t_mid, truth = lake
    as_of = t_mid if state == "then" else None
    want = truth[state]
    cols = COLS + (["n_mod"] if state == "now" else [])
    pages = read_live_pages(spark, dst, as_of=as_of)
    snap = pages._cps_snapshot
    assert [c for c, _ in pages._cps_columns] == cols
    by_pair = _rows_by_pair(spark, snap)
    assert _multiset([r for rs in by_pair.values() for r in rs], cols) \
        == _multiset(want, cols)
    everything = snap.page_pairs()

    def check(got_df, kept, match):
        got = [r.asDict() for r in got_df.collect()]
        assert _multiset(got, cols) == \
            _multiset([r for r in want if match(r)], cols)
        holding = {p for p, rs in by_pair.items() if any(map(match, rs))}
        assert holding <= (everything if kept is None else kept)

    rng = random.Random(7)
    ids = sorted(r["doc_id"] for r in want)
    points = rng.sample(ids, 4) + [260, 10 ** 7]    # deleted, absent
    for v in points:
        check(decode_where_eq(pages, "doc_id", v, spark),
              snap.bloom_pairs("doc_id", [v]),
              lambda r, v=v: r["doc_id"] == v)
    for _ in range(3):
        vals = rng.sample(ids, 5) + [10 ** 7]
        check(decode_where_in(pages, "doc_id", vals, spark),
              snap.bloom_pairs("doc_id", vals),
              lambda r, vals=vals: r["doc_id"] in vals)
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
    for col, lo, hi in ranges:
        def match(r, col=col, lo=lo, hi=hi):
            v = r[col]
            return v is not None and (lo is None or v >= lo) \
                and (hi is None or v <= hi)
        check(decode_dataset(spark, dst, where=(col, lo, hi), as_of=as_of),
              snap.zone_pairs(col, lo, hi, tags[col]), match)


def test_spark_planning_matches_snapshot(spark, lake, monkeypatch):
    """A dataset the snapshot cannot read (not on a local filesystem, or
    an ``as_of`` form only Spark parses) plans with Spark jobs; both
    plans return the same rows."""
    dst, t_mid, _ = lake
    reads = [
        lambda: decode_dataset(spark, dst),
        lambda: decode_dataset(spark, dst, where=("n_chars", 100, 300)),
        lambda: decode_dataset(spark, dst, columns=["doc_id", "lang"],
                               as_of=t_mid),
        lambda: decode_where_in(read_live_pages(spark, dst), "doc_id",
                                [42, 260, 430, 431, 10 ** 7], spark),
    ]
    want = [sorted(tuple(r) for r in read().collect()) for read in reads]
    monkeypatch.setattr(engine._Snapshot, "read",
                        classmethod(lambda cls, *a, **k: None))
    assert not hasattr(read_live_pages(spark, dst), "_cps_snapshot")
    assert [sorted(tuple(r) for r in read().collect())
            for read in reads] == want


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

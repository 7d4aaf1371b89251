"""Physical-plan shape assertions (SURVEY.md §4.2-4.3).

The scale story rests on plan properties, not vibes: one exchange in the
encode pass, broadcast joins where a side is small, column pruning into
the parquet scan. These tests pin them so a refactor can't silently
regress the 100 TB shape.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cpp_parquet_spark.engine import encode_table, run_encode
from cpp_parquet_spark.partitioning import EncodeConfig


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


CFG = EncodeConfig(keys=("source",), salt_from=("doc_id",), num_parts=8,
                   order_keys=("doc_id",), table_name="documents")


def test_encode_has_exactly_one_exchange(docs):
    plan = _plan(encode_table(docs, CFG))
    assert plan.count("Exchange") == 1, plan
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan


def test_encode_scan_prunes_to_encodable_columns(spark, sf_dir):
    # pages-side aggregations must not read the heavy `data` blob column
    import os
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        run_encode(spark, df, d, CFG)
        pages = spark.read.parquet(os.path.join(d, "pages"))
        agg = pages.groupBy("column").agg(F.sum("enc_bytes").alias("b"))
        plan = _plan(agg)
        scan_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
        assert "data" not in scan_line.split("ReadSchema")[1], scan_line


def test_broadcast_join_on_small_dim(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey) \
         .groupBy("c_mktsegment").agg(F.count("*").alias("n"))
    assert "BroadcastHashJoin" in _plan(j)


def test_resume_antijoin_is_broadcast(spark, sf_dir, tmp_path):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "enc")
    run_encode(spark, df, dst, CFG)
    # second run: the anti-join against the manifest must broadcast the
    # (tiny) done-parts side, not shuffle the source
    from cpp_parquet_spark.partitioning import with_part_id
    done = spark.read.parquet(f"{dst}/manifest").select("part_id").distinct()
    src = with_part_id(df.select("doc_id", "text"), CFG)
    anti = src.join(F.broadcast(done),
                    src["__part_id"] == done["part_id"], "left_anti")
    plan = _plan(anti)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_brute_topk_reduces_before_exchange(spark, sf_dir):
    """Two-phase top-k: the scored corpus must flow into the per-partition
    Python reducer with NO prior exchange; only the (k x parts) survivors
    hit the rank window's shuffle."""
    from cpp_parquet_spark.similarity import brute_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(brute_topk(emb, [0, 1, 2], k=5))
    py = next(i for i, ln in enumerate(plan.splitlines())
              if "MapInPandas" in ln or "PythonMapIn" in ln or "MapIn" in ln)
    upstream = plan.splitlines()[py:]          # operators BELOW the reducer
    # broadcast of the tiny query side is fine; a hash/range repartition of
    # the scored corpus is the regression this test guards against
    assert not any(("Exchange hashpartitioning" in ln or
                    "Exchange rangepartitioning" in ln) for ln in upstream), plan
    assert "Window" in plan, plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = df.filter(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "LessThanOrEqual(l_shipdate" in plan, plan
    scan_line = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    read = scan_line.split("ReadSchema")[1]
    assert "l_quantity" in read and "l_extendedprice" not in read


def test_zone_prune_scan_skips_data_column(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """The snapshot's Spark reader (a dataset not on a local filesystem)
    collects page metadata with a query whose parquet scans never read
    the `data` blobs; its bloom-row query reads `data` only under the
    codec and column filter."""
    from cpp_parquet_spark import engine
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "zp")
    run_encode(spark, df, dst, CFG)
    monkeypatch.setattr(engine, "_local_root", lambda dst: None)
    snap = engine._Snapshot.read(spark, dst)
    plan = _plan(engine._meta_query(snap.source))
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines
    for ln in scan_lines:
        assert "data" not in ln.split("ReadSchema")[1], ln
    plan = _plan(engine._bloom_query(snap.source, "doc_id"))
    blob_scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln
                  and "data" in ln.split("ReadSchema")[1]]
    assert blob_scans
    for ln in blob_scans:
        pushed = ln.split("PushedFilters")[1].split("ReadSchema")[0]
        assert "EqualTo(codec,__bloom__)" in pushed, ln
        assert "EqualTo(column,doc_id)" in pushed, ln


def test_scan_column_reads_only_hot_pages_metadata_filter(spark, sf_dir,
                                                          tmp_path):
    """scan_column's page filter lands in the scan as pushed filters on
    (column, col_idx) — the pruning happens before any decode kernel."""
    import os
    from cpp_parquet_spark.engine import scan_column
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "zs")
    run_encode(spark, df, dst, CFG)
    pages = spark.read.parquet(os.path.join(dst, "pages"))
    plan = _plan(scan_column(pages, "n_chars", lo=100, hi=200))
    assert "PushedFilters" in plan and "column" in plan.split(
        "PushedFilters")[1][:400], plan


def test_no_shuffle_encode_has_zero_exchanges(docs):
    cfg = EncodeConfig(no_shuffle=True, order_keys=("doc_id",),
                       table_name="documents")
    plan = _plan(encode_table(docs, cfg))
    assert plan.count("Exchange") == 0, plan
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan


def test_pushdown_decode_part_filter_reaches_parquet(spark, sf_dir,
                                                     tmp_path, monkeypatch):
    """decode_where applies the surviving part ids as a LITERAL
    In(part_id) predicate so the pages-parquet scan skips row groups
    (a broadcast semi join alone would scan every blob first). The
    driver cap is 0 so this small lake takes the distributed path."""
    from cpp_parquet_spark import engine
    from cpp_parquet_spark.engine import decode_where, read_committed_pages
    monkeypatch.setattr(engine, "_DRIVER_DECODE_BYTES", 0)
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "lit")
    run_encode(spark, df, dst, CFG)
    pages = read_committed_pages(spark, dst)
    plan = _plan(decode_where(pages, "n_chars", lo=100, hi=200,
                              spark=spark))
    pushed = [seg[:500] for seg in plan.split("PushedFilters")[1:]]
    assert any("In(part_id" in seg for seg in pushed), plan


def test_delete_and_snapshot_paths_stay_broadcast(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """Deletion-vector reads keep the 100 TB shape: survivors and
    sidecars attach via literal filters planned on the driver, or via
    broadcast joins above the literal cap — no full-data exchange enters
    the decode or scan plan because deletes exist."""
    from cpp_parquet_spark import engine
    from cpp_parquet_spark.engine import (decode_dataset, delete_where_in,
                                          read_live_pages, run_encode,
                                          scan_column)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "pl1")
    cfg = EncodeConfig(keys=("doc_id",), salt_from=("doc_id",), num_parts=4,
                       order_keys=("doc_id",), bloom_cols=("doc_id",),
                       table_name="pl")
    run_encode(spark, docs.select("doc_id", "text"), dst, cfg,
               run_id="r1", resume=False)
    delete_where_in(spark, dst, "doc_id", [1, 2])
    dec = decode_dataset(spark, dst)
    plan = _plan(dec)
    # the live (part_id, run_id) cut of pages and delete sidecars is a
    # literal filter: no join at all, and the only exchange is the
    # groupBy(part_id) reassembly shuffle
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert plan.count("Exchange(") + plan.count("Exchange hashpartitioning") \
        == 1, plan
    # above the literal cap the cuts are broadcast semi joins, same rows
    monkeypatch.setattr(engine, "_MAX_LITERAL_PRUNE", 0)
    capped = decode_dataset(spark, dst)
    plan = _plan(capped)
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange(") + plan.count("Exchange hashpartitioning") \
        <= 2, plan
    assert sorted(map(tuple, capped.collect())) == \
        sorted(map(tuple, dec.collect()))
    sc = scan_column(read_live_pages(spark, dst), "doc_id", lo=0, hi=50)
    plan2 = _plan(sc)
    # bitmap/offset aux join must be broadcast, never a sort-merge join
    assert "SortMergeJoin" not in plan2, plan2


def test_sampling_ops_are_shuffle_free(docs):
    """sample/upsample/split are one codegen pass on the scan — zero
    Exchange; decontaminate's only exchange is the per-doc count (the
    bench-gram probe is broadcast, the corpus never shuffles)."""
    from cpp_parquet_spark import sampling, textops
    plan = _plan(sampling.sample_domains(docs, {"src1": 0.5}))
    assert plan.count("Exchange") == 0, plan
    plan = _plan(sampling.upsample_domains(docs, {"src1": 2.5}))
    assert plan.count("Exchange") == 0, plan
    plan = _plan(sampling.split_holdout(docs))
    assert plan.count("Exchange") == 0, plan
    bench = docs.limit(50)
    plan = _plan(textops.decontaminate(docs, bench, n=4))
    assert "BroadcastHashJoin" in plan, plan
    # corpus-side exchanges: the final groupBy(id) + its sort — no
    # shuffle of the gram explosion itself
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dedup_lines_owner_agg_is_partial(docs):
    """The owner groupBy must partial-aggregate map-side (HashAggregate
    before the exchange) so hot boilerplate lines combine locally, and
    the reassembly groupBy is keyed on doc_id only."""
    from cpp_parquet_spark.dedup import dedup_lines
    plan = _plan(dedup_lines(docs))
    # two-phase aggregate: partial_min / partial count appear upstream
    # of the exchange (join strategy itself is AQE's call — the owner
    # table is per-distinct-line and may or may not fit broadcast)
    assert "partial_min" in plan or "partial_" in plan, plan


def test_column_agg_fast_never_reads_blobs(spark, sf_dir, tmp_path):
    """The metadata-only aggregate's parquet scans must exclude the
    `data` blob column entirely — the whole point of the __agg__/zone
    sidecar path is answering SUM/COUNT/MIN/MAX with zero page-blob IO,
    and on a 100 TB table the blob column IS the table."""
    import os
    from cpp_parquet_spark.engine import column_agg_fast, read_live_pages
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dst = str(tmp_path / "af")
    run_encode(spark, df, dst, CFG)
    pages = read_live_pages(spark, dst)
    out = column_agg_fast(pages, "n_chars")
    plan = _plan(out)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines
    for ln in scan_lines:
        assert "data" not in ln.split("ReadSchema")[1], ln
    # and exactly one pass over the pages: per-part partials + global
    # combine, no multi-distinct Expand (plan cost receipt)
    assert "Expand" not in plan

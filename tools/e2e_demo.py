#!/usr/bin/env python
"""End-to-end 100x-shape demo: the production runbook, timed per stage.

One script drives the full durable lifecycle over the 2 GB north-rule
table exactly as a 100 TB job would run it (same plans, same configs,
only the byte count differs):

  1. synth/scan        read the 800k-row (~2 GB content) repofiles input
  2. plan              quantile range bounds on `repo` (metadata-sized)
  3. encode            range-clustered layout + per-part blooms on
                       `commit` + RUN.json lineage, ONE wide exchange
  4. append            a second (resumable) run over extra rows — proves
                       the manifest anti-join and multi-run layout
  5. compact           small-part maintenance (no re-encode, one narrow
                       shuffle of moved bytes)
  6. range query       decode_where on the range column: parts pruned by
                       zone maps on the driver, from the read's metadata
                       snapshot (no Spark job, no page blob)
  7. point lookup      bloom-pruned equality on `commit`
  8. projection        decode_dataset(columns=[...]) — blob scan touches
                       only the projected columns
  9. SQL front door    register_sql + a plain spark.sql aggregate
 10. export            standard-parquet interchange via our writer,
                       read back by Spark's JVM parquet reader
 11. format front door registered Spark format: write with per-rg
                       blooms, bloom-pruned point lookup via pushed
                       filters (spark.read.format("cpp_parquet"))

Prints one JSON line with per-stage walls + pruning/size receipts.
Usage: python tools/e2e_demo.py [--rows 800000] [--cpus 32] [--dst DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int,
                    default=int(os.environ.get("E2E_ROWS", "800000")))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--dst", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from cpp_parquet_spark.engine import (compact_parts, decode_dataset,
                                          read_committed_pages,
                                          register_sql, run_encode)
    from cpp_parquet_spark.partitioning import (EncodeConfig,
                                                plan_num_parts,
                                                plan_range_bounds)
    from cpp_parquet_spark.session import get_spark
    from cpp_parquet_spark.synth import repofiles

    dst = args.dst or tempfile.mkdtemp(prefix="e2e_demo_")
    out: dict = {"rows": args.rows, "cpus": args.cpus, "dst": dst,
                 "stages": {}, "stage_walls": {}}
    spark = get_spark(f"local[{args.cpus}]", app="e2e_demo")

    def stage(name):
        class _T:
            def __enter__(self):
                self.t0 = time.monotonic()
                return self
            def __exit__(self, *a):
                out["stages"][name] = round(time.monotonic() - self.t0, 3)
                print(f"  [{name}] {out['stages'][name]} s", flush=True)
        return _T()

    def timed_min(name, fn, reps=2):
        """Query stages are rerunnable: min-of-reps so one co-tenant
        bandwidth flare doesn't misreport a pruned query as slow (see
        BENCH.md measurement caveat); every wall is recorded."""
        walls = []
        result = None
        for _ in range(reps):
            t0 = time.monotonic()
            result = fn()
            walls.append(round(time.monotonic() - t0, 3))
        out["stages"][name] = min(walls)
        out["stage_walls"][name] = walls
        print(f"  [{name}] {walls} s", flush=True)
        return result

    # -- 1. input (cached synth parquet; small row groups => wide scan)
    with stage("scan"):
        import pyarrow.parquet as pq
        from cpp_parquet_spark.synth import CACHE
        cache = os.path.abspath(CACHE)
        os.makedirs(cache, exist_ok=True)
        src = os.path.join(cache, f"repofiles_n{args.rows}.parquet")
        if not os.path.exists(src):
            pq.write_table(repofiles(args.rows, seed=42), src,
                           row_group_size=8192)
        df = spark.read.parquet(src)
        content_bytes = int(df.agg(
            F.sum(F.octet_length("content"))).collect()[0][0])
        out["content_bytes"] = content_bytes

    # main run gets ~7/8 of rows; the rest arrives as stage-4's append
    split = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(8))
    df_main, df_late = df.filter(split != 0), df.filter(split == 0)

    # -- 2. plan: range layout on repo (low-cardinality string domain)
    with stage("plan"):
        nparts = plan_num_parts(content_bytes, target=16 << 20,
                                min_parts=2 * args.cpus)
        bounds = plan_range_bounds(df_main, "repo", max(nparts // 4, 4))
        cfg = EncodeConfig(keys=("repo",), salt_from=("path",),
                           salt_buckets=4, num_parts=nparts,
                           order_keys=("repo", "path"),
                           range_on="repo", range_bounds=bounds,
                           bloom_cols=("commit",),
                           table_name="repofiles")
        out["num_parts"] = nparts
        out["range_buckets"] = len(bounds) + 1

    # -- 3. encode (durable: pages + manifest + RUN.json)
    with stage("encode"):
        s = run_encode(spark, df_main, dst, cfg)
        out["encode_summary"] = {k: s[k] for k in ("parts", "rows",
                                                   "enc_bytes")
                                 if k in s}

    # -- 4. append the late rows (manifest keeps runs disjoint)
    with stage("append"):
        run_encode(spark, df_late, dst, cfg, resume=False)

    # -- 5. compact small parts (maintenance; no decode)
    with stage("compact"):
        out["compact"] = compact_parts(spark, dst, min_bytes=4 << 20,
                                       target_bytes=32 << 20)

    pages = read_committed_pages(spark, dst)
    total_parts = pages.select("part_id", "run_id").distinct().count()
    out["live_parts"] = total_parts

    # -- 6. range query via zone maps (pick a mid-domain repo range)
    lo_hi = sorted(r["repo"] for r in
                   df.select("repo").distinct().collect())
    lo = lo_hi[len(lo_hi) // 3]
    hi = lo_hi[len(lo_hi) // 3 + max(len(lo_hi) // 10, 1)]
    from cpp_parquet_spark.engine import (decode_where, decode_where_eq,
                                          in_prune, prune_parts)
    surviving = prune_parts(pages, "repo", lo, hi).count()
    out["range_parts_scanned"] = f"{surviving}/{total_parts}"
    out["range_rows"] = timed_min(
        "range_query",
        lambda: decode_where(pages, "repo", lo, hi, spark).count())

    # -- 7. bloom point lookup on commit
    probe = df.select("commit").first()["commit"]
    bloom_parts = in_prune(pages, "commit", [probe]).count()
    out["bloom_parts_scanned"] = f"{bloom_parts}/{total_parts}"
    out["point_rows"] = timed_min(
        "point_lookup",
        lambda: decode_where_eq(pages, "commit", probe).count())

    # -- 8. projection pushdown (2 of 5 columns)
    n_proj = timed_min(
        "projection",
        lambda: decode_dataset(spark, dst,
                               columns=["repo", "lang"]).count())
    assert n_proj == args.rows, (n_proj, args.rows)

    # -- 9. SQL front door
    view = register_sql(spark, dst)
    agg = timed_min("sql", lambda: spark.sql(f"""
            SELECT lang, count(*) AS n,
                   sum(octet_length(content)) AS bytes
            FROM {view} GROUP BY lang ORDER BY bytes DESC
        """).collect())
    out["sql_view"] = view
    out["sql_groups"] = len(agg)

    # -- 10. archival re-encode (E9 zstd + E10 byte-stream-split): the
    # max-compression mode a cold-tier copy would run; non-durable (size
    # receipt only), decode unchanged because blocks unwrap per page
    with stage("archive_encode"):
        from dataclasses import replace

        from cpp_parquet_spark.engine import encode_table
        zrow = (encode_table(df, replace(cfg, block_codec="zstd",
                                         table_name="repofiles_zstd"))
                .agg(F.sum("raw_bytes").alias("raw"),
                     F.sum("enc_bytes").alias("enc")).collect()[0])
        out["archive_zstd"] = {
            "enc_bytes": int(zrow["enc"]),
            "vs_raw": round(zrow["enc"] / zrow["raw"], 4)}

    # -- 11. row lifecycle: delete (vector sidecars) -> time-travel
    # snapshot -> purge rewrite -> vacuum retention cleanup — the
    # GDPR-removal runbook a training-data lake needs, on the same
    # durable dataset the earlier stages built
    with stage("export_interchange"):
        # hand the table to the outside world: standard .parquet files
        # from OUR writer (one per partition, Statistics + PageIndex),
        # read straight back by Spark's JVM parquet reader
        from cpp_parquet_spark.export import export_parquet
        exp_dir = dst.rstrip("/") + "_export"     # sibling: never in
        # the dataset root, so vacuum/purge cannot mistake it for a run
        man = export_parquet(df, exp_dir).collect()
        n_exp = int(spark.read.parquet(exp_dir).count())
        out["export"] = {
            "files": sum(1 for r in man if r.file),
            "bytes": int(sum(r.bytes or 0 for r in man)),
            "rows_via_spark_jvm_reader": n_exp}
        assert n_exp == df.count()

    with stage("format_front_door"):
        # round-5 surface: the registered Spark format — write with
        # per-row-group blooms, point-look-up through Catalyst's pushed
        # filters (stats + SBBF pruning before any data task)
        from cpp_parquet_spark.datasource import CppParquetDataSource
        spark.dataSource.register(CppParquetDataSource)
        ds_dir = dst.rstrip("/") + "_format"
        (df.select("repo", "path", "commit", "lang")
         .write.format("cpp_parquet").mode("overwrite")
         .option("path", ds_dir).option("bloom", "commit")
         .option("row_group_rows", "100000").save())
        back = spark.read.format("cpp_parquet").load(ds_dir)
        needle = df.select("commit").first()[0]
        n_hit = back.filter(F.col("commit") == needle).count()
        out["format_front_door"] = {
            "rows": int(back.count()), "needle_rows": int(n_hit)}
        assert n_hit >= 1

    with stage("lifecycle"):
        import datetime

        from cpp_parquet_spark.engine import (decode_dataset,
                                              delete_where_in,
                                              purge_deletes, vacuum)
        t_before = datetime.datetime.now()
        time.sleep(0.3)
        vic = [r["repo"] for r in
               df.select("repo").distinct().limit(2).collect()]
        dstats = delete_where_in(spark, dst, "repo", vic)
        n_now = decode_dataset(spark, dst, columns=["repo"]).count()
        n_then = decode_dataset(spark, dst, columns=["repo"],
                                as_of=t_before).count()
        pstats = purge_deletes(spark, dst, cfg)
        vstats = vacuum(spark, dst, retain_hours=0.0)
        out["lifecycle"] = {
            "rows_deleted": dstats["rows_deleted"],
            "rows_now": int(n_now), "rows_at_snapshot": int(n_then),
            "parts_rewritten": pstats["parts_rewritten"],
            "vacuumed_runs": len(vstats["runs_removed"]),
            "bytes_freed": vstats["bytes_freed"]}

    total = round(sum(out["stages"].values()), 3)
    out["total_s"] = total
    out["encode_gbps"] = round(
        content_bytes / (out["stages"]["encode"]
                         + out["stages"]["append"]) / 1e9, 4)
    spark.stop()
    if args.dst is None:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(dst.rstrip("/") + "_export", ignore_errors=True)
        shutil.rmtree(dst.rstrip("/") + "_format", ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

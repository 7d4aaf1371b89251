"""Per-layer ledger of a traced run (``--trace 1``).

Each layer is timed from outside the package, by calling its public
functions: partitioning (part ids and the exchange), engine (encode,
decode, pruning, manifest), codecs (page kernels alone), export,
interop and datasource (plan_row_groups). README.md lists the
end-to-end metric each of these should move.
"""

from __future__ import annotations

import io
import os
import statistics
import sys
import time

import pyarrow as pa

import tracing

#: the codec kernels timed alone; a workload whose columns admit none of
#: a codec reports 0 for it (README.md)
CODECS = ("plain", "dict", "rle", "for", "delta", "bitpack", "dfloat", "bss",
          "fsst", "prefix", "listi")
#: rows per kernel page and minimum timed wall per (column, codec)
KERNEL_ROWS = 8192
KERNEL_MIN_S = 0.02


def _median(values):
    """Median of a run's samples; None when the operation never succeeded."""
    return statistics.median(values) if values else None


def _timed(fn, min_s: float = KERNEL_MIN_S) -> tuple[float, object]:
    """Seconds per call, repeating ``fn`` until ``min_s`` has passed."""
    n, t0 = 0, time.perf_counter()
    while True:
        out = fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / n, out


def kernel_slices(tbl: pa.Table, rows: int = KERNEL_ROWS):
    """(column, tag, values) pages cut from the workload's own input."""
    from cpp_parquet_spark.codecs import pagecodec
    from pyspark.sql.pandas.types import from_arrow_type
    out = []
    for name in tbl.column_names:
        arr = tbl.column(name).slice(0, rows).combine_chunks()
        tag = pagecodec.spark_type_tag(from_arrow_type(arr.type))
        if tag is not None:
            out.append((name, tag, arr))
    return out


def codec_table(tbl: pa.Table) -> dict[str, dict]:
    """Per codec: raw bytes, encode and decode seconds summed over every
    column it is legal for, each codec forced; single thread, in-process
    through pagecodec.encode_page / decode_page."""
    from cpp_parquet_spark.codecs import pagecodec
    acc = {c: {"raw": 0, "enc_s": 0.0, "dec_s": 0.0, "out": 0, "cols": []}
           for c in CODECS}
    for name, tag, arr in kernel_slices(tbl):
        for codec in pagecodec.legal_codecs(tag):
            if codec not in acc:
                continue
            try:
                enc_s, page = _timed(
                    lambda: pagecodec.encode_page(arr, tag, codec))
            except ValueError:
                continue          # not applicable to this column's values
            if page["codec"] != codec:
                continue          # fell back (dfloat on non-decimal data)
            dec_s, back = _timed(lambda: pagecodec.decode_page(
                page["data"], page["params"], codec, tag,
                page["num_values"], page["null_count"]))
            if len(back) != len(arr):
                raise AssertionError(f"{codec} on {name}: row count changed")
            a = acc[codec]
            a["raw"] += arr.nbytes
            a["out"] += page["enc_bytes"]
            a["enc_s"] += enc_s
            a["dec_s"] += dec_s
            a["cols"].append(name)
    return acc


def pyarrow_reference(tbl: pa.Table) -> dict[str, dict]:
    """pyarrow's C++ parquet writer and reader on the same page slices,
    single-threaded, in memory (reference figures, not metrics)."""
    import pyarrow.parquet as pq
    out = {}
    for name, _tag, arr in kernel_slices(tbl):
        t = pa.table({name: arr})

        def write():
            buf = io.BytesIO()
            pq.write_table(t, buf, use_dictionary=True, compression="none")
            return buf.getvalue()

        w_s, blob = _timed(write)
        r_s, _ = _timed(lambda: pq.read_table(pa.BufferReader(blob),
                                              use_threads=False))
        out[name] = {"raw": arr.nbytes, "write_s": w_s, "read_s": r_s,
                     "bytes": len(blob)}
    return out


def ledger(b) -> dict:
    """All per-layer metrics of one traced run of ``Bench`` ``b`` (whose
    pipeline has already run, traced)."""
    from pyspark.sql import functions as F
    from cpp_parquet_spark import engine, export, interop, partitioning
    spark, wl, tr, facts = b.spark, b.wl, b.tr, dict(b.facts)
    m: dict[str, tuple[float, str]] = {}

    def leg(name, fn):
        with tr.span("layer." + name):
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    # ingest legs, cumulative, on the first timed append's input
    src = spark.read.parquet(b.input_files[1])
    cols, _ = engine.encodable_columns(src)
    cfg = b.cfg
    m["ingest.source_s"] = (leg("ingest.source", lambda: noop(src))[0], "s")
    m["ingest.exchange_s"] = (leg("ingest.exchange", lambda: noop(
        partitioning.cluster_by_part(partitioning.with_part_id(
            src.select(*cols), cfg), cfg)))[0], "s")
    enc_s = leg("ingest.encode", lambda: noop(engine.encode_table(src, cfg)))[0]
    m["ingest.encode_s"] = (enc_s, "s")
    run_s = leg("ingest.run_encode", lambda: engine.run_encode(
        spark, src, os.path.join(b.run_dir, "legs_lake"), cfg,
        run_id="legs", resume=False))[0]      # named: README.md, "Run ids"
    m["ingest.commit_s"] = (run_s - enc_s, "s")
    m["ingest.cpu_s"] = (sum(b.cpu.get("ingest", [])), "s")
    m["ingest.select_s"] = (facts["ingest.select_s"], "s")
    m["ingest.page_encode_s"] = (facts["ingest.page_encode_s"], "s")

    # codec choice, exact counts from the written pages files
    for c in CODECS:
        m[f"pages.{c}"] = (facts.get(f"pages.{c}", 0), "count")
        m[f"bytes.{c}"] = (facts.get(f"bytes.{c}", 0), "bytes")

    # codec kernels alone
    with tr.span("layer.codecs"):
        table = codec_table(b.tbl)
    for c, a in table.items():
        m[f"codec.{c}.enc_mbps"] = (a["raw"] / 1e6 / a["enc_s"]
                                    if a["enc_s"] else 0.0, "MB/s")
        m[f"codec.{c}.dec_mbps"] = (a["raw"] / 1e6 / a["dec_s"]
                                    if a["dec_s"] else 0.0, "MB/s")

    # scan legs, cumulative
    live = lambda: engine.read_live_pages(spark, b.dst)  # noqa: E731
    m["scan.manifest_s"] = (leg("scan.manifest", lambda: live().count())[0], "s")
    m["scan.pages_s"] = (leg("scan.pages",
                             lambda: noop(live().select("data")))[0], "s")
    empty = "part_id int"

    def bridge():
        p = live()
        return noop(p.groupBy("part_id").applyInArrow(
            lambda t: pa.table({"part_id": pa.array([], pa.int32())}), empty))
    m["scan.bridge_s"] = (leg("scan.bridge", bridge)[0], "s")
    m["scan.decode_s"] = (leg("scan.decode", lambda: noop(
        engine.decode_table(live(), spark)))[0], "s")
    m["scan.cpu_s"] = (_median(b.cpu.get("scan")), "s")

    # lookup and range pruning
    v = b.keys.lookups[1]
    prune_s, kept = leg("lookup.prune", lambda: engine.eq_prune(
        live(), wl.key, v).collect())
    m["lookup.prune_s"] = (prune_s, "s")
    m["lookup.parts_kept"] = (len(kept), "count")
    m["lookup.parts_total"] = (live().filter(F.col("col_idx") >= 0).select(
        "part_id", "run_id").distinct().count(), "count")
    m["lookup.cpu_s"] = (_median(b.cpu.get("lookup")), "s")
    lo, hi = b.keys.ranges[0]
    prune_s, kept = leg("range.prune", lambda: engine.prune_parts(
        live(), wl.range_col, lo, hi).collect())
    m["range.prune_s"] = (prune_s, "s")
    m["range.parts_kept"] = (len(kept), "count")
    m["range.cpu_s"] = (_median(b.cpu.get("range")), "s")

    # writes
    m["delete.parts"] = (facts.get("delete.parts"), "count")
    m["delete.rows"] = (facts.get("delete.rows"), "count")
    m["compact.parts"] = (facts.get("compact.parts"), "count")
    m["compact.bytes_moved"] = (facts.get("compact.bytes_moved"), "bytes")

    # standard-parquet stack: single-file, single-thread interop
    sl = b.tbl.slice(0, wl.rows // wl.appends).combine_chunks()
    arrays = {n: sl.column(n).combine_chunks() for n in sl.column_names}
    path = os.path.join(b.run_dir, "interop_slice.parquet")
    w_s = leg("interop.write", lambda: interop.write_parquet(
        path, arrays, bloom=frozenset({wl.key})))[0]
    r_s = leg("interop.read",
              lambda: interop.read_parquet_with_our_codecs(path))[0]
    m["interop.write_mbps"] = (sl.nbytes / 1e6 / w_s, "MB/s")
    m["interop.read_mbps"] = (sl.nbytes / 1e6 / r_s, "MB/s")
    files = b.export_files
    plan_s, all_rg = leg("pscan.plan", lambda: export.plan_row_groups(files))
    m["pscan.plan_s"] = (plan_s, "s")
    plan_s, kept_rg = leg("plookup.plan", lambda: export.plan_row_groups(
        files, eqs=[(wl.key, v)]))
    m["plookup.plan_s"] = (plan_s, "s")
    m["plookup.rg_kept"] = (len(kept_rg), "count")
    m["plookup.rg_total"] = (len(all_rg), "count")
    m["pscan.wall_s"] = (_median(b.walls.get("pscan")), "s")
    m["plookup.wall_s"] = (_median(b.walls.get("plookup")), "s")
    m["export.files"] = (facts.get("export.files"), "count")
    m["export.row_groups"] = (facts.get("export.row_groups"), "count")

    # runtime
    m["jvm.jit_s"] = (facts["jvm.jit_s"], "s")
    m["jvm.gc_s"] = (facts["jvm.gc_s"], "s")
    m["host.steal_s"] = (facts["host.steal_s"], "s")
    m["proc.peak_rss_mb"] = (tracing.tree_peak_rss_mb(), "MB")

    # self time per span, summed over each headline operation's calls
    # (diagnostics on stderr; README.md, "What the traced runs showed")
    per_op: dict[str, dict[str, float]] = {}
    for root in tr.roots("op."):
        selfs = tr.self_times(root)
        acc = per_op.setdefault(root["name"], {})
        for k, v in selfs.items():
            acc[k] = acc.get(k, 0.0) + v
    for op, acc in per_op.items():
        tot = sum(acc.values())
        print(f"[perfbench] self time {op}: " + ", ".join(
            f"{k} {v:.2f} s ({100 * v / tot:.0f}%)"
            for k, v in sorted(acc.items(), key=lambda kv: -kv[1])),
            file=sys.stderr)
    m["trace.overhead_s"] = (len(tr.spans) * tracing.span_cost_s(), "s")
    tr.dump(os.path.join(os.getcwd(), ".bench_out",
                         f"trace-{wl.name}-seed{b.seed}.json"))
    return {k: {"value": None if v is None else float(v), "unit": u}
            for k, (v, u) in m.items()}

"""The encode/decode/verify pipelines (SURVEY.md §3.2-3.3).

Lifecycle of ``encode_table``::

    scan -> with_part_id (deterministic salted hash)  [narrow]
         -> repartition(num_parts, __part_id) + sortWithinPartitions  [the
            ONE wide exchange of the encode pass]
         -> mapInArrow(encode kernel)   [JVM->Python Arrow boundary; numpy
            kernels; per-page codec auto-selection]
         -> pages DataFrame (one row per encoded page)

``decode_table`` reverses it with a single groupBy(part_id).applyInArrow.
``run_encode`` adds the durable layer: pages parquet + per-partition
manifest with run/attempt lineage; reruns anti-join the manifest and only
encode missing parts (checkpoint resume, BASELINE.json:14). Orphan pages
from a crashed run are ignored by readers because a read keeps only the
(part_id, run_id) pairs the committed manifest names.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from collections.abc import Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .codecs import fsst, pagecodec
from .interop import read_rows
from .partitioning import (EncodeConfig, cluster_by_part, effective_parts,
                           with_part_id)
from .select import choose_codec_arrow

PAGES_SCHEMA = T.StructType([
    T.StructField("table", T.StringType()),
    T.StructField("part_id", T.IntegerType()),
    T.StructField("column", T.StringType()),
    T.StructField("col_idx", T.IntegerType()),
    T.StructField("page_id", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("type", T.StringType()),
    T.StructField("params", T.StringType()),
    T.StructField("data", T.BinaryType()),
    T.StructField("num_values", T.LongType()),
    T.StructField("null_count", T.LongType()),
    T.StructField("raw_bytes", T.LongType()),
    T.StructField("enc_bytes", T.LongType()),
    # zone map (canonical text, see pagecodec.page_minmax); NULL = unknown
    T.StructField("min_v", T.StringType()),
    T.StructField("max_v", T.StringType()),
])

_PAGES_ARROW = pa.schema([
    ("table", pa.string()), ("part_id", pa.int32()), ("column", pa.string()),
    ("col_idx", pa.int32()), ("page_id", pa.int32()), ("codec", pa.string()),
    ("type", pa.string()), ("params", pa.string()), ("data", pa.binary()),
    ("num_values", pa.int64()), ("null_count", pa.int64()),
    ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("min_v", pa.string()), ("max_v", pa.string()),
])

META_COL = "__part_meta__"


def _spark_arrow_type(tag: str):
    """Arrow type for Spark's Arrow bridge: 32-bit-offset string/binary
    (not large_*), tz-aware us timestamps; parameterized tags (dec:p:s)
    via pagecodec.arrow_type_for. The ONE place both decode paths read."""
    override = {"str": pa.string(), "bin": pa.binary(),
                "ts": pa.timestamp("us", tz="UTC"),
                "arrs": pa.list_(pa.string()),
                "arrb": pa.list_(pa.binary())}
    if tag in override:
        return override[tag]
    if tag in pagecodec.ARROW_TYPE:
        return pagecodec.ARROW_TYPE[tag]
    return pagecodec.arrow_type_for(tag)


def _page_cuts(arr: pa.Array, tag: str, page_bytes: int, rows_max: int) -> list[int]:
    """Cut offsets (ascending, ending at len) so each page ~page_bytes."""
    n = len(arr)
    if n == 0:
        return []
    if tag in ("str", "bin"):
        a = arr.cast(pa.large_binary()) if not pa.types.is_large_binary(arr.type) else arr
        buf_off = np.frombuffer(a.buffers()[1], dtype=np.int64, count=n + 1,
                                offset=a.offset * 8)
        cum = buf_off - buf_off[0]
        targets = np.arange(1, int(cum[-1] // page_bytes) + 2) * page_bytes
        cuts = np.unique(np.searchsorted(cum, targets).clip(1, n))
    elif tag in pagecodec.ARRS_TAGS:
        # variable-width children: per-row bytes = child string bytes in
        # the row's offset window (child offsets gathered at the outer
        # list boundaries)
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=n + 1,
                             offset=arr.offset * 4).astype(np.int64)
        child = arr.flatten()
        cl = child.cast(pa.large_binary()) if not pa.types.is_large_binary(
            child.type) else child
        coffs = np.frombuffer(cl.buffers()[1], dtype=np.int64,
                              count=len(cl) + 1, offset=cl.offset * 8)
        cum = coffs[offs - offs[0]] - coffs[0] + 4 * (offs - offs[0])
        targets = np.arange(1, int(cum[-1] // page_bytes) + 2) * page_bytes
        cuts = np.unique(np.searchsorted(cum, targets).clip(1, n))
    elif tag in pagecodec.ARR_TAGS:
        w = pagecodec.ARR_ELEM_W[tag]
        offs = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=n + 1,
                             offset=arr.offset * 4).astype(np.int64)
        cum = (offs - offs[0]) * w
        targets = np.arange(1, int(cum[-1] // page_bytes) + 2) * page_bytes
        cuts = np.unique(np.searchsorted(cum, targets).clip(1, n))
    else:
        w = (16 if pagecodec.is_dec38(tag)
             else 8 if tag in ("i64", "f64", "ts", "tsn")
             or pagecodec.is_dec(tag)
             else 4 if tag in ("i32", "f32", "date")
             else 2 if tag == "i16" else 1)
        rows = min(rows_max, max(1024, page_bytes // w))
        cuts = np.arange(rows, n + rows, rows).clip(None, n)
    cuts = np.unique(np.concatenate((cuts, [n])))
    # enforce rows_max
    return [int(c) for c in cuts]


#: bloom probes per value (standard double hashing off one 64-bit hash)
_BLOOM_K = 4


def _bloom_hashes(arr: pa.Array, tag: str) -> np.ndarray | None:
    """Deterministic 64-bit value hashes for bloom build/probe — pandas'
    keyed SipHash (hash_array), identical across runs, platforms, and the
    driver-side probe, with no per-row Python (cython object loop)."""
    import pandas as pd
    work = arr.drop_null() if arr.null_count else arr
    if len(work) == 0:
        return None
    if tag in ("i64", "i32", "i16", "i8", "ts", "tsn"):
        if tag in ("ts", "tsn"):
            work = work.cast(pa.int64())
        return pd.util.hash_array(
            work.to_numpy(zero_copy_only=False).astype(np.int64))
    if tag in pagecodec.STR_TAGS:
        return pd.util.hash_array(
            work.to_numpy(zero_copy_only=False).astype(object))
    # floats/arrays: equality pruning is not meaningful; date/decimal:
    # no int/str probe form on the lookup side — absence means "scan"
    return None


def _probe_hashes(values: list) -> np.ndarray | None:
    """Bloom hashes of lookup values (all str/bytes or all int); None
    for an empty list."""
    import numbers
    if not values:
        return None
    if all(isinstance(v, (str, bytes)) for v in values):
        return _bloom_hashes(pa.array([v.decode() if isinstance(v, bytes)
                                       else v for v in values]), "str")
    if all(isinstance(v, numbers.Integral)      # incl. numpy integer
           and not isinstance(v, (bool, np.bool_)) for v in values):
        return _bloom_hashes(pa.array([int(v) for v in values], pa.int64()),
                             "i64")
    raise TypeError(
        "bloom probes must be all-str/bytes or all-int, got "
        f"{sorted({type(v).__name__ for v in values})}")


def _bloom_maybe(params: list[str], data: pa.Array,
                 hashes: np.ndarray) -> np.ndarray:
    """The bloom probe: row i (``params[i]``, ``data[i]`` of one
    ``__bloom__`` sidecar) MAYBE holds any of ``hashes``. Each row is
    probed at its own bit count ``m`` (rows are grouped by m), so a
    dataset whose bloom_bits changed between appends never computes a
    wrong bit position — a silent false NEGATIVE."""
    ms = np.array([int(json.loads(p)["m"]) for p in params], np.int64)
    h1s = [int(h) & 0xFFFFFFFF for h in hashes]
    h2s = [int(h) >> 32 for h in hashes]
    hit = np.zeros(len(ms), dtype=bool)
    for m in np.unique(ms):
        idx = np.nonzero(ms == m)[0]
        buf = np.concatenate(
            [np.frombuffer(data[int(i)].as_py(), np.uint8)
             for i in idx]).reshape(len(idx), int(m) // 8)
        for h1, h2 in zip(h1s, h2s):
            ok = np.ones(len(idx), dtype=bool)
            for ki in range(_BLOOM_K):
                p = (h1 + ki * h2) % int(m)
                ok &= (buf[:, p // 8] >> (p % 8)) & 1 == 1
            hit[idx] |= ok
    return hit


_HLL_P = 12                     # 2^12 registers = 4 KiB per (part, column)


def _hll_registers(h: np.ndarray, p: int = _HLL_P) -> np.ndarray:
    """HyperLogLog register array (uint8, 2^p) from 64-bit value hashes:
    idx = top p bits, rho = leading-zero count of the remaining 64-p
    bits + 1. bit_length via float64 log2 — exact for v < 2^52 and at
    worst one-off at power-of-two boundaries above (a deterministic,
    negligible perturbation of an already-approximate sketch)."""
    m = 1 << p
    reg = np.zeros(m, dtype=np.uint8)
    idx = (h >> np.uint64(64 - p)).astype(np.int64)
    rem = h & np.uint64((1 << (64 - p)) - 1)
    bl = np.zeros(h.shape[0], dtype=np.int64)
    nz = rem > 0
    bl[nz] = np.floor(np.log2(rem[nz].astype(np.float64))).astype(np.int64) + 1
    rho = (64 - p) - bl + 1
    np.maximum.at(reg, idx, rho.astype(np.uint8))
    return reg


def _hll_estimate(reg: np.ndarray) -> float:
    """Standard HLL estimator with the linear-counting small-range
    correction (Flajolet et al. 2007)."""
    m = reg.shape[0]
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / np.sum(np.exp2(-reg.astype(np.float64)))
    zeros = int(np.count_nonzero(reg == 0))
    if est <= 2.5 * m and zeros:
        est = m * np.log(m / zeros)
    return float(est)


def _exact_int_sum(arr: pa.Array, tag: str) -> tuple[int, int] | None:
    """Exact integer sum of a part's column slice for the ``__agg__``
    sidecar: (sum, n_nonnull), or None for non-summable tags.

    Exactness without per-row Python: each int64 is split into an
    arithmetic-shifted high word and an unsigned low word, summed in
    <=2^20-value chunks so every partial sum stays within 2^52 — naive
    ``np.sum`` over int64 silently wraps on extreme values (e.g. four
    2^62 values). The recombined total is a Python int (arbitrary
    precision); callers store it as decimal text and Spark aggregates
    across parts in decimal(38,0), which covers 10^12 rows of any int64
    values (< 10^31)."""
    if tag == "bool":
        work = arr.drop_null() if arr.null_count else arr
        if len(work) == 0:
            return 0, 0
        v = work.to_numpy(zero_copy_only=False)
        return int(np.count_nonzero(v)), len(work)
    if tag not in ("i64", "i32", "i16", "i8", "ts", "tsn", "date") \
            and not pagecodec.is_dec(tag):
        return None
    work = arr.drop_null() if arr.null_count else arr
    n = len(work)
    if n == 0:
        return 0, 0
    if pagecodec.is_dec(tag):          # unscaled int64 (precision<=18)
        v = pagecodec.dec_unscaled(work)
    else:
        if tag in ("ts", "tsn"):
            work = work.cast(pa.int64())
        elif tag == "date":
            work = work.cast(pa.int32())
        v = work.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    hi = v >> 32                            # arithmetic shift keeps sign
    lo = (v & np.int64(0xFFFFFFFF)).astype(np.uint64)
    s = 0
    step = 1 << 20
    for i in range(0, n, step):
        s += (int(hi[i:i + step].sum(dtype=np.int64)) << 32) \
             + int(lo[i:i + step].sum(dtype=np.uint64))
    return s, n


def _agg_sum_text(s: int, tag: str) -> str:
    """Sidecar text form of an exact sum: plain integer text, except
    decimal tags where the unscaled sum is rendered SCALED (point
    inserted ``scale`` digits from the right) so the reader can cast it
    straight to decimal(38, scale) without knowing the unscaled domain."""
    if not pagecodec.is_dec(tag):
        return str(s)
    return pagecodec.dec_text(s, pagecodec.dec_precision_scale(tag)[1])


def make_encode_kernel(cols: list[str], tags: list[str], cfg: EncodeConfig,
                       plan: dict[tuple[int, str], str] | None = None):
    """Returns a mapInArrow kernel: Iterator[RecordBatch] -> Iterator[RecordBatch].

    ``plan`` maps (part_id, column) -> codec from the cluster-level
    sampling pass (stats.plan_decisions); unplanned chunks fall back to
    page-local measurement (select.choose_codec_arrow)."""
    overrides = dict(cfg.codec_overrides)
    plan = plan or {}
    page_bytes, rows_max = cfg.page_bytes, cfg.page_rows_max
    table_name = cfg.table_name
    block = cfg.block_codec
    page_crc = cfg.page_crc
    bloom_cols = set(cfg.bloom_cols)
    bloom_bits = cfg.bloom_bits
    ndv_sketch = cfg.ndv_sketch
    ndv_cols = set(cfg.ndv_cols)

    prof_dir = os.environ.get("CPS_KERNEL_PROF")

    def kernel(batches):
        counters: dict[tuple[int, str], int] = {}
        part_rows: dict[int, int] = {}
        part_t0: dict[int, float] = {}
        out_rows: list[dict] = []
        prof = {"encode_s": 0.0, "select_s": 0.0, "pages": 0, "bytes": 0,
                "wall_t0": time.monotonic()}
        # codec decision per (part, column): chosen on the first page, reused
        # for the rest — selection + FSST training amortize over the whole
        # column chunk instead of repeating per page (deterministic: parts
        # arrive whole and sorted, so the first page is stable across runs)
        decisions: dict[tuple[int, str], tuple[str, object]] = {}
        # per-(part, column) bloom bit arrays + hashed-value counts
        blooms: dict[tuple[int, str], np.ndarray] = {}
        bloom_n: dict[tuple[int, str], int] = {}
        # per-(part, column) exact integer sums: (sum, n_nonnull, nulls).
        # Unconditional (one vectorized pass per slice, no config): feeds
        # the metadata-only SUM/AVG path (column_agg_fast), the O(1)
        # answer a 100 TB planner wants for integer/bool/decimal columns.
        agg_sums: dict[tuple[int, str], tuple[int, int, int]] = {}
        # per-(part, column) HyperLogLog registers for metadata-only NDV
        # (column_ndv_fast). Int-family columns always (int hashing is
        # memcpy-cheap); string columns only when bloom-indexed — their
        # value hashes are already computed for the bloom, so the sketch
        # rides for free instead of adding an object-hash pass over
        # e.g. the content column.
        hlls: dict[tuple[int, str], np.ndarray] = {}
        hll_n: dict[tuple[int, str], int] = {}

        def flush():
            nonlocal out_rows
            if not out_rows:
                return None
            cols_out = {k: [r[k] for r in out_rows] for k in _PAGES_ARROW.names}
            batch = pa.RecordBatch.from_pydict(cols_out, schema=_PAGES_ARROW)
            out_rows = []
            return batch

        for batch in batches:
            pids = batch.column("__part_id").to_numpy(zero_copy_only=False)
            if pids.shape[0] == 0:
                continue
            bounds = np.flatnonzero(np.diff(pids)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [pids.shape[0]]))
            for s, e in zip(starts.tolist(), ends.tolist()):
                part = int(pids[s])
                part_t0.setdefault(part, time.monotonic())
                part_rows[part] = part_rows.get(part, 0) + (e - s)
                for ci, (col, tag) in enumerate(zip(cols, tags)):
                    arr = batch.column(col).slice(s, e - s)
                    arr = pagecodec.to_arrow(arr, tag)
                    h = None
                    if col in bloom_cols or col in ndv_cols \
                            or (ndv_sketch and tag in ("i64", "i32",
                                                       "ts", "tsn")):
                        h = _bloom_hashes(arr, tag)
                    if h is not None and col in bloom_cols:
                        key = (part, col)
                        bb = blooms.get(key)
                        if bb is None:
                            bb = blooms[key] = np.zeros(bloom_bits,
                                                        dtype=bool)
                        h1 = h & np.uint64(0xFFFFFFFF)
                        h2 = h >> np.uint64(32)
                        for ki in range(_BLOOM_K):
                            bb[((h1 + np.uint64(ki) * h2)
                                % np.uint64(bloom_bits))
                               .astype(np.int64)] = True
                        bloom_n[key] = bloom_n.get(key, 0) + h.shape[0]
                    if h is not None:
                        key = (part, col)
                        r = hlls.get(key)
                        if r is None:
                            r = hlls[key] = np.zeros(1 << _HLL_P,
                                                     dtype=np.uint8)
                        np.maximum(r, _hll_registers(h), out=r)
                        hll_n[key] = hll_n.get(key, 0) + h.shape[0]
                    sm = _exact_int_sum(arr, tag)
                    if sm is not None:
                        key = (part, col)
                        s0, n0, z0 = agg_sums.get(key, (0, 0, 0))
                        agg_sums[key] = (s0 + sm[0], n0 + sm[1],
                                         z0 + arr.null_count)
                    prev = 0
                    for cut in _page_cuts(arr, tag, page_bytes, rows_max):
                        piece = arr.slice(prev, cut - prev)
                        prev = cut
                        codec = overrides.get(col)
                        ftab = None
                        if codec is None:
                            dec = decisions.get((part, col))
                            if dec is None:
                                t_sel = time.monotonic()
                                planned = plan.get((part, col))
                                if planned in pagecodec.legal_codecs(tag):
                                    codec0, ftab0 = planned, None
                                else:
                                    codec0, ftab0 = choose_codec_arrow(
                                        piece, tag, block)
                                if codec0 == "fsst" and ftab0 is None:
                                    # train the chunk-wide table once on the
                                    # first page (256 KiB cap); selection's
                                    # ~16 KiB sample table is only a probe
                                    ftab0 = fsst.train(piece)
                                    if ftab0 is None:   # untrainable page
                                        codec0 = "plain"
                                dec = (codec0, ftab0)
                                decisions[(part, col)] = dec
                                prof["select_s"] += time.monotonic() - t_sel
                            codec, ftab = dec
                        t_enc = time.monotonic()
                        row = pagecodec.encode_page(piece, tag, codec, ftab,
                                                    block, crc=page_crc)
                        prof["encode_s"] += time.monotonic() - t_enc
                        prof["pages"] += 1
                        prof["bytes"] += row["raw_bytes"]
                        pid = counters.get((part, col), 0)
                        counters[(part, col)] = pid + 1
                        zmin, zmax = pagecodec.page_minmax(piece, tag)
                        row.update(table=table_name, part_id=part, column=col,
                                   col_idx=ci, page_id=pid,
                                   min_v=zmin, max_v=zmax)
                        out_rows.append(row)
            b = flush()
            if b is not None:
                yield b
        # bloom sidecar rows: col_idx=-2 keeps them out of every data-page
        # consumer (manifest agg, zone scans, decode discovery all filter
        # col_idx >= 0); decode_part skips them by codec
        for (part, col), bb in blooms.items():
            out_rows.append({
                "table": table_name, "part_id": part, "column": col,
                "col_idx": -2, "page_id": 0, "codec": "__bloom__",
                "type": "meta",
                "params": json.dumps({"m": bloom_bits, "k": _BLOOM_K}),
                "data": np.packbits(bb, bitorder="little").tobytes(),
                "num_values": bloom_n[(part, col)], "null_count": 0,
                "raw_bytes": 0, "enc_bytes": bloom_bits // 8,
                "min_v": None, "max_v": None,
            })
        # exact-sum sidecar rows (col_idx=-2, same conventions as blooms):
        # min_v carries the arbitrary-precision sum as decimal text;
        # num_values/null_count carry the summed/nulls split. Compaction
        # moves them with the part (sum-of-sums stays correct) and
        # rewrites regenerate them (this kernel emits unconditionally).
        # HLL sidecar rows (mergeable across parts via register max)
        for (part, col), reg in hlls.items():
            out_rows.append({
                "table": table_name, "part_id": part, "column": col,
                "col_idx": -2, "page_id": 0, "codec": "__hll__",
                "type": "meta", "params": json.dumps({"p": _HLL_P}),
                "data": reg.tobytes(),
                "num_values": hll_n[(part, col)], "null_count": 0,
                "raw_bytes": 0, "enc_bytes": reg.shape[0],
                "min_v": None, "max_v": None,
            })
        tagof = dict(zip(cols, tags))
        for (part, col), (s, n, nn) in agg_sums.items():
            out_rows.append({
                "table": table_name, "part_id": part, "column": col,
                "col_idx": -2, "page_id": 0, "codec": "__agg__",
                "type": "meta", "params": json.dumps({"agg": "sum"}),
                "data": b"", "num_values": n, "null_count": nn,
                "raw_bytes": 0, "enc_bytes": 0,
                "min_v": _agg_sum_text(s, tagof[col]), "max_v": None,
            })
        # one meta row per part seen by this task: wall time + row count
        for part, nrows in part_rows.items():
            wall = time.monotonic() - part_t0[part]
            out_rows.append({
                "table": table_name, "part_id": part, "column": META_COL,
                "col_idx": -1, "page_id": 0, "codec": "__meta__",
                "type": "meta",
                "params": json.dumps({"wall_s": round(wall, 4)}),
                "data": b"", "num_values": nrows, "null_count": 0,
                "raw_bytes": 0, "enc_bytes": 0,
                "min_v": None, "max_v": None,
            })
        b = flush()
        if b is not None:
            yield b
        if prof_dir:
            prof["wall_s"] = time.monotonic() - prof.pop("wall_t0")
            with open(os.path.join(prof_dir,
                                   f"kprof-{os.getpid()}-"
                                   f"{int(time.monotonic()*1e6)}.json"),
                      "w") as f:
                json.dump({k: round(v, 3) if isinstance(v, float) else v
                           for k, v in prof.items()}, f)

    return kernel


def encodable_columns(df: DataFrame,
                      ignore_columns: Sequence[str] | None = None
                      ) -> tuple[list[str], list[str]]:
    """Schema -> (column names, type tags) for the encode kernel.

    FAILS LOUDLY: a column whose Spark type has no page tag (MapType,
    StructType, nested arrays, interval types, ...) raises ``ValueError``
    naming every offender, unless the caller lists it in
    ``ignore_columns`` (an explicit "yes, drop these from the encoded
    table" allowlist). Silent column drops are how data quietly goes
    missing at 100 TB — an error at plan time is the only safe default."""
    ignore = set(ignore_columns or ())
    cols, tags, unsupported = [], [], []
    for f in df.schema.fields:
        if f.name in ignore:
            continue
        tag = pagecodec.spark_type_tag(f.dataType)
        if tag is None:
            unsupported.append(f"{f.name} ({f.dataType.simpleString()})")
        else:
            cols.append(f.name)
            tags.append(tag)
    if unsupported:
        raise ValueError(
            "unsupported column types for encode: "
            + ", ".join(unsupported)
            + ". Flatten them first (e.g. map/struct -> scalar columns, "
            "nested arrays -> one list level) or pass "
            "ignore_columns=[...] to drop them explicitly.")
    return cols, tags


def encode_table(df: DataFrame, cfg: EncodeConfig,
                 plan: dict[tuple[int, str], str] | None = None,
                 ignore_columns: Sequence[str] | None = None) -> DataFrame:
    """DataFrame -> pages DataFrame (pure transformation, no writes).

    ``plan``: optional (part_id, column) -> codec decisions from
    stats.plan_decisions (the sampling pass); without it each column
    chunk self-selects on its first page.

    ``ignore_columns``: explicit allowlist of columns to DROP from the
    encoded table; any other unsupported-type column raises (see
    encodable_columns)."""
    cols, tags = encodable_columns(df, ignore_columns)
    if not cols:
        raise ValueError("no encodable columns")
    prepared = cluster_by_part(with_part_id(df.select(*cols), cfg), cfg)
    kernel = make_encode_kernel(cols, tags, cfg, plan)
    pages = prepared.mapInArrow(kernel, PAGES_SCHEMA)
    # column layout rides along so decode_table needn't run a discovery job
    pages._cps_columns = list(zip(cols, tags))  # type: ignore[attr-defined]
    return pages


def _out_schema(columns: list[tuple[str, str]]) -> T.StructType:
    """The Spark schema of decoded rows of ``columns`` [(name, tag), ...]."""
    return T.StructType([T.StructField(c, pagecodec.spark_type_for(t))
                         for c, t in columns])


def _blob_views(col) -> list:
    """Zero-copy page blobs: numpy views over an Arrow binary column's
    data buffer instead of to_pylist's per-blob bytes copies (~the whole
    compressed dataset re-copied once per decode); every consumer
    (np.frombuffer, zlib.crc32/decompress) takes the buffer protocol."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if not len(col):
        return []
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(col.buffers()[1], width, count=len(col) + 1,
                         offset=col.offset * np.dtype(width).itemsize)
    vals = np.frombuffer(col.buffers()[2], np.uint8, count=int(offs[-1]))
    return [vals[offs[i]:offs[i + 1]] for i in range(len(col))]


def decode_part(tbl: pa.Table, columns: list[tuple[str, str]]) -> pa.Table:
    """One part's pages (and its ``__delete__`` rows) -> its rows of
    ``columns`` [(name, tag), ...]: the ONE decode kernel. The grouped
    and colocated paths of ``decode_table`` and the driver path
    (``_driver_decode``) differ only in how pages reach it."""
    cols = [c for c, _ in columns]
    tags = [t for _, t in columns]
    out_arrow = pa.schema(
        [(c, _spark_arrow_type(t)) for c, t in zip(cols, tags)])
    # run_id MUST be a page sort key when present: streaming appends
    # reuse the hash part-id space, so one part_id can hold pages from
    # several runs with overlapping page_ids — without run_id in the
    # order, Arrow's stable sort breaks the tie by shuffle-arrival
    # order, which can differ per column, zipping rows from different
    # runs together (same bug class as the compact_parts window fix)
    has_run = "run_id" in tbl.column_names
    tbl = tbl.sort_by([("col_idx", "ascending"), ("run_id", "ascending"),
                       ("page_id", "ascending")] if has_run else
                      [("col_idx", "ascending"), ("page_id", "ascending")])
    colnames = tbl.column("column").to_pylist()
    params = tbl.column("params").to_pylist()
    codecs = tbl.column("codec").to_pylist()
    types_ = tbl.column("type").to_pylist()
    nvals = tbl.column("num_values").to_pylist()
    nnull = tbl.column("null_count").to_pylist()
    datas = _blob_views(tbl.column("data"))
    # schema evolution: appended runs may add or drop columns, so a
    # part can hold pages for different column sets per run. Decode
    # per (column, run) and splice NULL runs where a column is absent
    # — without this, a column missing from one run would zip rows
    # from DIFFERENT runs together (silent misalignment) or shear
    # the table (unequal column lengths).
    run_ids = (tbl.column("run_id").to_pylist() if has_run
               else [""] * len(colnames))
    arrays: dict[tuple[str, str], list] = {}
    run_rows: dict[str, int] = {}
    col_rows: dict[tuple[str, str], int] = {}
    del_bits: dict[str, list] = {}      # run -> deletion bitmaps (OR'd)
    for i in range(len(colnames)):
        # any "__"-prefixed codec except deletion vectors is a
        # metadata sidecar (bloom / agg / meta), never a data page
        if colnames[i] == META_COL or (codecs[i].startswith("__")
                                       and codecs[i] != "__delete__"):
            continue
        if codecs[i] == "__delete__":
            del_bits.setdefault(run_ids[i], []).append(
                (datas[i], int(nvals[i])))
            continue
        arr = pagecodec.decode_page(datas[i], params[i], codecs[i],
                                    types_[i], int(nvals[i]), int(nnull[i]))
        key = (colnames[i], run_ids[i])
        arrays.setdefault(key, []).append(arr)
        col_rows[key] = col_rows.get(key, 0) + len(arr)
    for (c, r), n in col_rows.items():
        prev = run_rows.setdefault(r, n)
        if prev != n:
            raise ValueError(
                f"run {r!r}: column {c!r} decodes {n} rows but a "
                f"sibling column decodes {prev} — corrupt part")
    runs = sorted(run_rows)          # matches the (run_id, page_id) sort
    out = []
    for c, t in zip(cols, tags):
        want = pagecodec.arrow_type_for(t)
        chunks = []
        for r in runs:
            got = arrays.get((c, r))
            if got is not None:
                chunks.extend(got)
            elif run_rows[r]:
                chunks.append(pa.nulls(run_rows[r], want))
        if not chunks:
            out.append(pa.nulls(0, want))
            continue
        # NO combine_chunks: it is a full copy of the decoded
        # payload (measured ~41 ms / 50 MB even for one chunk);
        # pa.table accepts chunked columns and to_batches slices
        # them zero-copy
        merged = pa.chunked_array(chunks)
        out.append(merged.cast(want) if merged.type != want else merged)
    result = pa.table(out, schema=out_arrow)
    if del_bits:
        # deletion vectors (row-level delete sidecars): OR the
        # bitmaps per run, splice into one keep mask over the runs'
        # concatenation order, one filter pass
        keeps = []
        for r in runs:
            n = run_rows[r]
            dead = np.zeros(n, dtype=bool)
            for blob, n_rows in del_bits.get(r, ()):
                if n_rows != n:
                    raise ValueError(
                        f"run {r!r}: deletion vector covers {n_rows} "
                        f"rows but the run decodes {n} — stale sidecar")
                dead |= np.unpackbits(np.asarray(blob, np.uint8),
                                      count=n).view(bool)
            keeps.append(~dead)
        mask = np.concatenate(keeps) if keeps else np.ones(0, bool)
        result = result.filter(pa.array(mask))
    return result


def decode_table(pages: DataFrame, spark: SparkSession | None = None,
                 columns: list[tuple[str, str]] | None = None,
                 colocated: bool = False) -> DataFrame:
    """pages DataFrame -> original rows (grouped per-part reassembly).

    ``columns`` = [(name, tag), ...] in col_idx order; when omitted, taken
    from the layout the frame carries (``encode_table``, a durable
    read's snapshot), else discovered with a (costly) distinct scan over
    the pages (``_column_layout``).

    ``colocated=True`` skips the groupBy SHUFFLE and reassembles per
    PHYSICAL partition (one mapInArrow pass): legal ONLY when every
    part's pages live inside one partition — true for `encode_table`
    output (each encode task emits whole parts) and anything that
    preserves its partitioning (cache/filter/select), NOT after a
    repartition or an arbitrary disk read. Honest local measurement
    (248 MB cell, local[32]): NO wall-clock win — the decode wall is
    dominated by the JVM<->Python Arrow bridge of the page blobs (a
    null kernel behind the same groupBy costs 0.65 s of the 0.91 s
    total), and a local "shuffle" is a memory copy. The case for this
    path is a REAL cluster, where the grouped plan moves every encoded
    blob across the network once; decoding where the pages already sit
    is the standard locality win. Output is bit-identical to the
    grouped path (hash-pinned). A page_id-prefix guard raises on the
    common violation (a part's page run not starting at 0 in its
    partition); prefer the default grouped path when unsure."""
    columns = columns or _column_layout(pages)
    cols = [c for c, _ in columns]
    has_run = "run_id" in pages.columns
    out_schema = _out_schema(columns)

    def decode(tbl: pa.Table) -> pa.Table:
        return decode_part(tbl, columns)

    if colocated:
        want_cols = set(cols)

        def decode_partition(batches):
            import pyarrow.compute as pc
            got = list(batches)
            if not got:
                return
            tbl = pa.Table.from_batches(got)
            if tbl.num_rows == 0:
                return
            for pid in pc.unique(tbl.column("part_id")).to_pylist():
                sub = tbl.filter(pc.equal(tbl.column("part_id"), pid))
                # guards against the two colocation violations a
                # repartition can introduce: (a) a part's PAGE RUN
                # split across partitions — every (column, run) run
                # must start at page_id 0 here; (b) a part's COLUMNS
                # split across partitions (e.g. repartition("column"))
                # — the data columns present must be exactly the
                # requested set, else two partitions would each emit
                # the part's rows with complementary NULL columns
                first = (sub.group_by(
                    ["column", "run_id"] if has_run else ["column"])
                    .aggregate([("page_id", "min")])
                    .column("page_id_min"))
                if len(first) and pc.max(first).as_py() != 0:
                    raise ValueError(
                        f"decode_table(colocated=True): part {pid} is "
                        "split across partitions (page run does not "
                        "start at 0) — use the default grouped path")
                present = {c for c in
                           pc.unique(sub.column("column")).to_pylist()
                           if c in want_cols}
                if present and present != want_cols:
                    raise ValueError(
                        f"decode_table(colocated=True): part {pid} "
                        f"holds columns {sorted(present)} of requested "
                        f"{sorted(want_cols)} — columns split across "
                        "partitions (or a schema-evolved dataset); use "
                        "the default grouped path")
                yield from decode_part(sub, columns).to_batches()
        return pages.mapInArrow(decode_partition, out_schema)

    return pages.groupBy("part_id").applyInArrow(decode, out_schema)


# zone-map text -> SQL cast target per tag (see pagecodec.page_minmax);
# strings compare as-is, the int family (incl. epoch-us timestamps and
# 0/1 bools) as long, floats as double
_ZONE_CAST = {"i32": "long", "i64": "long", "i16": "long", "i8": "long",
              "bool": "long", "ts": "long",
              "tsn": "long", "date": "long", "f32": "double", "f64": "double"}


def _zone_cast(tag: str | None) -> str | None:
    """SQL cast target for a tag's zone text, incl. parameterized
    decimals (round 4: decimal zones are scaled decimal text and prune
    in the decimal(38, s) domain)."""
    if tag is None:
        return None
    if pagecodec.is_dec(tag) or pagecodec.is_dec38(tag):
        return f"decimal(38,{pagecodec.dec_precision_scale(tag)[1]})"
    return _ZONE_CAST.get(tag)


def _zone_lit(v, cast: str | None):
    """Bound literal in the zone compare domain: decimal bounds go
    through a text cast so callers may pass str/Decimal/int/float."""
    if cast is not None and cast.startswith("decimal"):
        return F.lit(str(v)).cast(cast)
    return F.lit(v)


def _first_by_name(layout) -> list[tuple[str, str]]:
    """(name, tag) pairs in col_idx order, each name once: appended runs
    may place the same column at a different col_idx (schema
    evolution), and a column dropped by a later run still decodes (as
    NULL for runs that lack it)."""
    seen: set = set()
    out = []
    for c, t in layout:
        if c not in seen:
            seen.add(c)
            out.append((c, t))
    return out


def _column_layout(pages: DataFrame) -> list[tuple[str, str]]:
    """The table's columns [(name, tag), ...] in col_idx order: the
    layout the frame carries (``encode_table`` output, a durable read's
    snapshot), else its snapshot's — taken over the FULL frame, as
    discovery on a pruned frame could see no part and yield a
    zero-column schema."""
    hint = getattr(pages, "_cps_columns", None)
    return hint if hint is not None else _snapshot_of(pages).layout()


def _column_tag(pages: DataFrame, column: str,
                columns: list[tuple[str, str]] | None) -> str | None:
    tags = dict(columns or ())
    if column not in tags:
        tags = dict(_column_layout(pages))
    return tags.get(column)


def prune_parts(pages: DataFrame, column: str, lo=None, hi=None,
                tag: str | None = None) -> DataFrame:
    """part_ids whose zone maps for ``column`` may intersect [lo, hi], as
    a local DataFrame planned on the driver from the frame's snapshot
    (``_Snapshot.zone_pairs``), which reads page metadata only — the
    analogue of parquet footer/row-group statistics pruning
    (parquet.thrift:882-889). Conservative by construction: a
    page with NULL min/max (binary/list column, all-null page, long
    string, NaN float) keeps its part. ``lo``/``hi`` use the zone text
    domain: numbers for numeric columns, epoch MICROseconds for
    timestamps, 0/1 for bools, raw strings for string columns, and
    decimal values (str/Decimal/number, e.g. "123.45") for decimal
    columns — round 4: decimal zones prune in the decimal(38, s)
    domain instead of the old never-prunes NULL zones."""
    pairs = _snapshot_of(pages).zone_pairs(
        column, lo, hi, tag or _column_tag(pages, column, None))
    return _pairs_frame(pages.sparkSession, {p[:1] for p in pairs},
                        ["part_id"])


def decode_where(pages: DataFrame, column: str, lo=None, hi=None,
                 spark: SparkSession | None = None,
                 columns: list[tuple[str, str]] | None = None,
                 more: list[tuple] | None = None) -> DataFrame:
    """Predicate-pushdown decode: skip whole parts via zone maps, then
    apply the residual row filter after decoding the survivors.

    Parts (not pages) are the pruning unit because page cuts are
    per-column independent — dropping one column's page would misalign
    row reassembly across columns. The (part_id, run_id)s are pruned on
    the driver from the frame's snapshot (``_snapshot_of``): a durable
    read's frame (``read_live_pages``) plans with no Spark job, any
    other frame with one collect of its metadata rows.

    Which path decodes: on a local durable read's frame whose surviving
    data pages decode to at most ``_DRIVER_DECODE_BYTES``, the decode
    runs on the driver, EAGERLY at this call (``_driver_decode``): the
    result is a local relation, and a corrupt page raises here. Driver
    memory then also holds those decoded rows (at most the cap) besides
    the snapshot. Above the cap, and on any other frame, the survivors
    decode lazily in ``decode_table``'s grouped Spark job.

    ``more``: extra conjunctive predicates [(column, lo, hi), ...] —
    each prunes independently and the surviving-part sets intersect
    (AND semantics), then every residual filter applies post-decode."""
    return _decode_where(spark or pages.sparkSession, _snapshot_of(pages),
                         lambda: pages, columns or _column_layout(pages),
                         _column_layout(pages),
                         [(column, lo, hi)] + list(more or []))


def _decode_where(spark: SparkSession, snap: "_Snapshot", frame,
                  columns: list[tuple[str, str]],
                  layout: list[tuple[str, str]], preds: list[tuple]
                  ) -> DataFrame:
    """``decode_where`` over a snapshot and the ``layout`` of its pages
    frame; ``frame()`` builds that frame only when the read goes the
    distributed way."""
    tags = {**dict(layout), **dict(columns)}
    parts = set.intersection(*[snap.zone_pairs(col, plo, phi, tags.get(col))
                               for col, plo, phi in preds])

    def keep(t: pa.Table):
        import pyarrow.compute as pc
        masks = [_range_mask(t[col], tags.get(col), plo, phi)
                 for col, plo, phi in preds if col in t.column_names]
        masks = [m for m in masks if m is not None]
        return functools.reduce(pc.and_, masks) if masks else None

    out = _driver_decode(spark, snap, parts, columns, layout, keep)
    if out is None:
        out = decode_table(_keep_parts(frame(), parts, snap.keys), spark,
                           columns=columns)
    for col, plo, phi in preds:
        tag = tags.get(col)
        c = F.col(col)
        cast = None
        if tag in ("ts", "tsn"):  # zone domain is epoch microseconds
            c = F.unix_micros(c.cast("timestamp"))
        elif tag == "date":       # zone domain is epoch days
            c = F.datediff(c, F.lit("1970-01-01"))
        elif tag == "bool":
            c = c.cast("long")
        elif tag and (pagecodec.is_dec(tag) or pagecodec.is_dec38(tag)):
            cast = _zone_cast(tag)  # bounds are decimal text/values
        if plo is not None:
            out = out.filter(c >= _zone_lit(plo, cast))
        if phi is not None:
            out = out.filter(c <= _zone_lit(phi, cast))
    return out


def _per_part(t: pa.Table, fn) -> list:
    """``fn`` over each part's rows of pages table ``t``: the driver's
    ``groupBy("part_id")``."""
    t = t.sort_by("part_id")
    ids = t["part_id"].to_numpy()
    cuts = [0, *(np.flatnonzero(np.diff(ids)) + 1), len(ids)]
    return [fn(t.slice(a, b - a)) for a, b in zip(cuts[:-1], cuts[1:])
            if b > a]


def _driver_decode(spark: SparkSession, snap: "_Snapshot", kept: set | None,
                   columns: list[tuple[str, str]],
                   layout: list[tuple[str, str]], keep) -> DataFrame | None:
    """The ``kept`` pairs (None: every live pair) of a frame with
    ``layout`` decoded to ``columns`` on the driver, or None when the
    read goes the distributed way (``_Snapshot.driver_pages``). The
    pages are read with pyarrow and decoded by ``decode_part`` per part;
    ``keep(table)`` gives a mask that keeps at least every row the
    caller's Spark filter keeps (or None), so fewer rows cross into the
    JVM; that filter, applied after, stays exact. The result is a local
    relation: no Python task, no shuffle, no page blob bridged."""
    have = {c for c, _ in layout}
    pages = snap.driver_pages(kept, [c for c, _ in columns if c in have])
    if pages is None:
        return None
    out_arrow = pa.schema([(c, _spark_arrow_type(t)) for c, t in columns])
    parts = _per_part(pages, lambda p: decode_part(p, columns))
    t = pa.concat_tables(parts) if parts else out_arrow.empty_table()
    mask = keep(t) if t.num_rows else None
    if mask is not None:
        t = t.filter(mask)
    return _local_frame(spark, t, _out_schema(columns))


def _local_frame(spark: SparkSession, t: pa.Table,
                 schema: T.StructType) -> DataFrame:
    """``t`` as a local relation, sent as its non-empty record batches,
    or one empty batch when it has no row: pyspark 4.1's
    ``createDataFrame`` drops the rows that follow two empty batches,
    and cannot rebuild a nested column that has no chunk at all."""
    batches = [b for b in t.to_batches() if b.num_rows]
    t = (pa.Table.from_batches(batches, t.schema) if batches
         else t.schema.empty_table())
    return spark.createDataFrame(t, schema=schema)


def _range_mask(arr: pa.ChunkedArray, tag: str | None, lo, hi):
    """Decoded values that may lie in [lo, hi] (zone domain, see
    ``prune_parts``): keeps at least every row ``decode_where``'s Spark
    filter keeps; None when the bounds do not compare in Arrow."""
    import pyarrow.compute as pc
    from decimal import ROUND_HALF_UP, Decimal
    if tag in ("ts", "tsn"):
        arr = arr.cast(pa.int64())
    elif tag == "date":
        arr = arr.cast(pa.int32())
    elif tag == "bool":
        arr = arr.cast(pa.int8())
    try:
        if tag == "tsn":
            # Spark reads the wall time in the session time zone: widen
            # by a day, more than any zone offset
            day = 86_400_000_000
            lo, hi = (None if lo is None else lo - day,
                      None if hi is None else hi + day)
        elif tag and (pagecodec.is_dec(tag) or pagecodec.is_dec38(tag)):
            # Spark casts a bound to decimal(38, s), rounding half up
            q = Decimal(1).scaleb(-pagecodec.dec_precision_scale(tag)[1])
            lo, hi = (None if b is None else
                      Decimal(str(b)).quantize(q, ROUND_HALF_UP)
                      for b in (lo, hi))
        conds = []
        if lo is not None:
            conds.append(pc.greater_equal(arr, pa.scalar(lo)))
        if hi is not None:
            conds.append(pc.less_equal(arr, pa.scalar(hi)))
        if not conds:
            return None
        m = functools.reduce(pc.and_, conds)
        if tag in pagecodec.FLOAT_TAGS:     # Spark orders NaN above all
            m = pc.or_(m, pc.is_nan(arr))
        return pc.fill_null(m, False)
    except (pa.ArrowException, TypeError, ValueError, ArithmeticError):
        return None


def scan_column(pages: DataFrame, column: str, lo=None, hi=None,
                columns: list[tuple[str, str]] | None = None) -> DataFrame:
    """Single-column scan with PAGE-level zone pruning (finer than
    decode_where's part level): only the pages of ``column`` whose zones
    may intersect [lo, hi] are decoded — legal because a one-column
    result needs no cross-column row alignment. For aggregates over a
    selective range (count/sum/min/max) this reads and decodes a
    fraction of one column's bytes; the residual filter still applies,
    so results equal `decode + filter` exactly."""
    tag = _column_tag(pages, column, columns)
    cast = _zone_cast(tag)
    mn = F.col("min_v").cast(cast) if cast else F.col("min_v")
    mx = F.col("max_v").cast(cast) if cast else F.col("max_v")
    keep = F.lit(True)
    if lo is not None:
        keep = keep & F.coalesce(mx >= _zone_lit(lo, cast), F.lit(True))
    if hi is not None:
        keep = keep & F.coalesce(mn <= _zone_lit(hi, cast), F.lit(True))
    hot = (pages.filter((F.col("column") == column) & (F.col("col_idx") >= 0))
                .filter(keep)
                .select("data", "params", "codec", "type",
                        "num_values", "null_count"))
    # deletion vectors: when the pages frame carries __delete__ sidecar
    # rows (read_live_pages), each decoded page masks its slice of the
    # (part, run) bitmap. The bitmap + page row-offset attach via a
    # BROADCAST join (both metadata-sized), so the blob stream still
    # never shuffles; absent deletes, the plan is unchanged.
    has_dels = bool(_snapshot_of(pages).del_pairs)
    if has_dels:
        from pyspark.sql.window import Window
        del_rows = pages.filter(F.col("codec") == DELETE_CODEC)
        pkeys = _pair_keys(pages)
        base = pages.filter((F.col("column") == column)
                            & (F.col("col_idx") >= 0))
        w = Window.partitionBy(*pkeys).orderBy("page_id") \
                  .rowsBetween(Window.unboundedPreceding, -1)
        offs = (base.select(*pkeys, "page_id", "num_values")
                .withColumn("row_off",
                            F.coalesce(F.sum("num_values").over(w),
                                       F.lit(0))))
        dmap = (del_rows.groupBy(*pkeys)
                .agg(F.collect_list("data").alias("bitmaps")))
        aux = (offs.join(dmap, pkeys, "left")
                   .select(*pkeys, "page_id", "row_off", "bitmaps"))
        hot = (base.filter(keep)
               .join(F.broadcast(aux), pkeys + ["page_id"])
               .select("data", "params", "codec", "type",
                       "num_values", "null_count", "row_off", "bitmaps"))
    out_arrow = pa.schema([(column, _spark_arrow_type(tag))])
    out_schema = T.StructType(
        [T.StructField(column, pagecodec.spark_type_for(tag))])

    def decode_pages(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            datas = _blob_views(b.column("data"))
            params = b.column("params").to_pylist()
            codecs_ = b.column("codec").to_pylist()
            types_ = b.column("type").to_pylist()
            nvals = b.column("num_values").to_pylist()
            nnull = b.column("null_count").to_pylist()
            if has_dels:
                row_offs = b.column("row_off").to_pylist()
                bitmaps = b.column("bitmaps").to_pylist()
            arrs = []
            for i in range(b.num_rows):
                arr = pagecodec.decode_page(
                    datas[i], params[i], codecs_[i],
                    types_[i], int(nvals[i]), int(nnull[i]))
                if has_dels and bitmaps[i]:
                    off, n = int(row_offs[i]), len(arr)
                    dead = np.zeros(n, dtype=bool)
                    for blob in bitmaps[i]:
                        bits = np.unpackbits(
                            np.frombuffer(blob, np.uint8))
                        dead |= bits[off: off + n].view(bool)
                    if dead.any():
                        arr = arr.filter(pa.array(~dead))
                arrs.append(arr)
            # one output batch PER PAGE: no combine_chunks copy of
            # the decoded payload (the cast is offset-width only)
            want = out_arrow.field(0).type
            for arr in arrs:
                if arr.type != want:
                    arr = arr.cast(want)
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                yield pa.RecordBatch.from_arrays([arr], schema=out_arrow)

    out = hot.mapInArrow(decode_pages, out_schema)
    c = F.col(column)
    if tag in ("ts", "tsn"):
        c = F.unix_micros(c.cast("timestamp"))
    elif tag == "date":
        c = F.datediff(c, F.lit("1970-01-01"))
    elif tag == "bool":
        c = c.cast("long")
    if lo is not None:
        out = out.filter(c >= F.lit(lo))
    if hi is not None:
        out = out.filter(c <= F.lit(hi))
    return out


# ---------------------------------------------------------------------------
# durable layer: pages + manifest on disk, resumable
# ---------------------------------------------------------------------------

#: read schemas of the durable layout. Every reader passes them, so no
#: read runs a schema-inference job and ``run_id`` stays the string it
#: was written as: partition-value inference would type a lone
#: ``run_id=1e10`` directory as a double and ``run_id=0123`` as 123.
PAGES_READ_SCHEMA = T.StructType(
    PAGES_SCHEMA.fields + [T.StructField("run_id", T.StringType())])

#: written by manifest_from_pages (run_encode, compact_parts,
#: _rewrite_parts); ``replaces`` only on compaction/rewrite rows
MANIFEST_SCHEMA = T.StructType([
    T.StructField("table", T.StringType()),
    T.StructField("part_id", T.IntegerType()),
    T.StructField("num_pages", T.LongType()),
    T.StructField("raw_bytes", T.LongType()),
    T.StructField("enc_bytes", T.LongType()),
    T.StructField("codecs", T.ArrayType(T.StringType())),
    T.StructField("columns", T.ArrayType(T.StringType())),
    T.StructField("num_rows", T.LongType()),
    T.StructField("encode_wall_s", T.DoubleType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("num_parts", T.IntegerType()),
    T.StructField("committed_at", T.TimestampType()),
    T.StructField("replaces", T.ArrayType(T.StructType([
        T.StructField("part_id", T.IntegerType()),
        T.StructField("run_id", T.StringType())]))),
])

#: written by _delete_pass
DELETES_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_del", T.LongType()),
    T.StructField("bitmap", T.BinaryType()),
    T.StructField("delete_id", T.StringType()),
    T.StructField("created_at", T.TimestampType()),
])


def manifest_from_pages(pages_meta: DataFrame, run_id: str,
                        cfg: EncodeConfig) -> DataFrame:
    data_pages = pages_meta.filter(F.col("col_idx") >= 0)
    meta_rows = (pages_meta.filter(F.col("column") == META_COL)
                 .groupBy("table", "part_id")
                 .agg(F.sum("num_values").alias("num_rows"),
                      F.sum(F.get_json_object("params", "$.wall_s")
                             .cast("double")).alias("encode_wall_s")))
    agg = (data_pages.groupBy("table", "part_id")
           .agg(F.count("*").alias("num_pages"),
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes"),
                F.array_sort(F.collect_set("codec")).alias("codecs"),
                F.array_sort(F.collect_set("column")).alias("columns")))
    return (agg.join(meta_rows, ["table", "part_id"], "left")
               .withColumn("run_id", F.lit(run_id))
               .withColumn("num_parts", F.lit(effective_parts(cfg)))
               .withColumn("committed_at", F.current_timestamp()))


def run_encode(spark: SparkSession, df: DataFrame, dst: str,
               cfg: EncodeConfig, run_id: str | None = None,
               plan: dict[tuple[int, str], str] | None = None,
               resume: bool = True,
               ignore_columns: Sequence[str] | None = None) -> dict:
    """Durable, resumable encode. Returns summary stats (driver-side).

    ``plan``: stats-pass codec decisions (stats.plan_decisions); must be
    identical across resume attempts for bit-stable reruns — it is, given
    the same input + fraction + seed (deterministic sample and kernel).

    ``resume=False`` skips the done-parts anti-join (streaming
    micro-batches append new rows to parts that already exist)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    pages_dir = os.path.join(dst, "pages")
    manifest_dir = os.path.join(dst, "manifest")
    done = None
    if resume and _exists(spark, manifest_dir):
        done = _read_manifest(spark, dst).select("part_id").distinct()
    cols, tags = encodable_columns(df, ignore_columns)
    src = with_part_id(df.select(*cols), cfg)
    if done is not None:
        src = src.join(F.broadcast(done),
                       src["__part_id"] == done["part_id"], "left_anti")
    prepared = cluster_by_part(src, cfg)
    pages = prepared.mapInArrow(make_encode_kernel(cols, tags, cfg, plan),
                                PAGES_SCHEMA)
    pages = pages.withColumn("run_id", F.lit(run_id))
    # pages land under pages/run_id=<id>/ so every later read that filters
    # on run_id PRUNES FILES: manifest building and resume attempts never
    # rescan prior runs' page files (at 100 TB re-listing old runs'
    # footers per attempt would dominate resume cost)
    pages.write.mode("append").partitionBy("run_id").parquet(pages_dir)
    # manifest from the just-committed pages (column pruning: the heavy
    # `data` column is never read here; partition pruning: only this
    # run's directory is listed)
    written = (_read_pages(spark, pages_dir)
               .filter(F.col("run_id") == run_id).drop("data", "run_id"))
    manifest = manifest_from_pages(written, run_id, cfg)
    manifest.write.mode("append").parquet(manifest_dir)
    # totals over LIVE rows only, so compaction-superseded parts don't
    # double-count
    import pyarrow.compute as pc
    live = _Snapshot.read(spark, dst, deletes=False).manifest
    out = {"run_id": run_id, "parts": live.num_rows,
           "rows": pc.sum(live["num_rows"]).as_py(),
           "raw_bytes": pc.sum(live["raw_bytes"]).as_py(),
           "enc_bytes": pc.sum(live["enc_bytes"]).as_py()}
    _write_run_sidecar(df, dst, cfg, run_id, resume, out)
    return out


def _read_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """Read a run_id-partitioned pages dir (``PAGES_READ_SCHEMA``)."""
    return spark.read.schema(PAGES_READ_SCHEMA).parquet(pages_dir)


def _read_manifest(spark: SparkSession, dst: str) -> DataFrame:
    """Manifest reader (``MANIFEST_SCHEMA``; ``replaces`` is NULL on
    plain encode rows)."""
    return (spark.read.schema(MANIFEST_SCHEMA)
            .parquet(os.path.join(dst, "manifest")))


# --- read planning ------------------------------------------------------------
#
# Every pages frame plans from ONE metadata snapshot on the driver
# (``_Snapshot``): the live set, the layout, zone and bloom survivors
# are answered there, so building a read's frame runs no Spark job for
# a local dataset: each job costs ~70-100 ms of scheduling whatever the
# data size, and a lookup planned with Spark jobs launched 23 of them
# before its own frame ran.

#: the pages' small columns: everything a plan needs, never a page blob
_META_COLS = ["part_id", "run_id", "column", "col_idx", "type", "codec",
              "min_v", "max_v", "raw_bytes"]

#: a read whose kept data pages decode to at most this many bytes
#: (their ``raw_bytes``) finishes on the driver (``_driver_decode``): no
#: Python task, no shuffle, no page blob crossing into the JVM. Kernels
#: decode 60-140 MB/s per thread, so 32 MiB costs about what the fixed
#: ~0.3 s of a Spark decode does; the measured sweep is in CHANGES.md.
_DRIVER_DECODE_BYTES = 32 << 20

#: the page columns a decode needs beyond ``_META_COLS``
_PAGE_READ_COLS = ["page_id", "params", "data", "num_values", "null_count"]

_ARROW_PAIR = [("part_id", pa.int32()), ("run_id", pa.string())]


def _local_root(dst: str) -> str | None:
    """Filesystem path of a local dataset, None for any other scheme
    (those take their metadata through Spark)."""
    if dst.startswith("file:"):
        from urllib.parse import urlparse
        return urlparse(dst).path
    return None if "://" in dst else dst


def _as_of_micros(spark: SparkSession, as_of) -> int:
    """``F.lit(as_of).cast("timestamp")`` as epoch microseconds: on the
    driver for a datetime (naive = local time, pyspark's own
    conversion), a date or an ISO string (without a zone: the session
    time zone); any other form takes Spark's own cast, one job. A form
    that cast cannot read either raises ``ValueError``: a NULL cut-off
    must not read as "no ``as_of``"."""
    import datetime as dt
    from zoneinfo import ZoneInfo
    try:
        tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
        t = as_of
        if isinstance(t, str):
            t = dt.datetime.fromisoformat(t.strip())
            if t.tzinfo is None:
                t = t.replace(tzinfo=tz)
        elif isinstance(t, dt.date) and not isinstance(t, dt.datetime):
            t = dt.datetime.combine(t, dt.time(), tzinfo=tz)
        if isinstance(t, dt.datetime):
            return T.TimestampType().toInternal(t)
    except (ValueError, KeyError, OSError):
        pass
    micros = spark.range(1).select(
        F.unix_micros(F.lit(as_of).cast("timestamp"))).first()[0]
    if micros is None:
        raise ValueError(f"as_of {as_of!r} is not a timestamp")
    return micros


def _zone_may_hit(mn, mx, lo, hi, conv) -> bool:
    """The zone keep predicate for one page: the page may hold a value
    in [lo, hi]. A NULL zone, or a bound that does not compare in the
    zone's domain, keeps the page."""
    try:
        if lo is not None and mx is not None and conv(mx) < lo:
            return False
        if hi is not None and mn is not None and conv(mn) > hi:
            return False
    except (TypeError, ValueError, ArithmeticError):
        pass
    return True


def _zone_domain(cast: str | None):
    """Zone text -> comparable Python value, per ``_zone_cast`` target."""
    from decimal import Decimal
    if cast is None:
        return str
    if cast.startswith("decimal"):
        return lambda v: Decimal(str(v))
    return int if cast == "long" else float


def _meta_query(pages: DataFrame) -> DataFrame:
    """A pages frame's metadata rows (``_META_COLS``): the parquet scan
    under it never reads ``data``."""
    return pages.select(*[c for c in _META_COLS if c in pages.columns])


def _bloom_query(pages: DataFrame, column: str) -> DataFrame:
    """``column``'s bloom rows with their ``params`` and ``data``: the
    blob column is read only under the codec and column filter."""
    return (pages.filter((F.col("codec") == "__bloom__")
                         & (F.col("column") == column))
            .select(*[c for c in _META_COLS if c in pages.columns],
                    "params", "data"))


def _pair_keys(pages: DataFrame) -> list[str]:
    """The pruning unit of a pages frame: (part_id, run_id) when it has
    run ids (appended runs reuse the hash part-id space), else part_id."""
    return ["part_id", "run_id"] if "run_id" in pages.columns else ["part_id"]


class _Snapshot:
    """The plan input of a pages frame, taken once on the driver: the
    live (part_id, run_id) set (``replaces`` tombstones and the ``as_of``
    cut-off applied), the live manifest and delete rows that apply, and
    the pages' metadata rows (``_META_COLS``, never a page blob). From
    these it answers, without a Spark job: the column layout, zone-map
    survivors and bloom survivors; ``frame`` turns a dataset's live set
    into the pages DataFrame to decode. It is the only planner: every
    pages frame carries one (``_cps_snapshot``) or gets one
    (``_snapshot_of``).

    Two readers bring the metadata to the driver:

    - a dataset on a local filesystem is read with pyarrow: the
      manifest and the ``deletes/`` index at ``read``, the live runs'
      metadata columns at first use, and a probed column's bloom rows
      page by page (``interop.read_rows``);
    - any other dataset, and any other frame (``of``: an in-memory
      ``encode_table`` frame, a filtered or joined read), is read with
      Spark ``toArrow()``: the same tables from explicit-schema queries
      (``_meta_query``, ``_bloom_query``), one collect each.

    Driver memory is the same for both: one metadata row per live page,
    one manifest row per part and one delete row per (part, delete),
    plus one bloom row (params and the ``bloom_bits`` bit array) per
    indexed part of each probed column."""

    def __init__(self, keys: list[str], live: set, del_pairs: set):
        self.keys = keys                # the pair columns (_pair_keys)
        self.live = live                # live pairs
        self.del_pairs = del_pairs      # live pairs with delete rows
        self.manifest = None            # a dataset's live manifest rows
        self.deletes = None             # ... and its live delete rows
        self.dst = None
        self.cutoff = None              # as_of, epoch us, or None
        self.pages_dir = None           # pyarrow reader: local pages dir
        self.source = None              # Spark reader: the queried frame
        self.files: list[str] = []      # pyarrow reader: meta's __file
        self._blooms: dict = {}         # column -> its bloom rows

    @classmethod
    def read(cls, spark: SparkSession, dst: str, as_of=None,
             deletes: bool = True) -> "_Snapshot":
        """A durable dataset's snapshot: the live manifest and delete
        rows now, the pages' metadata at first use."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        root = _local_root(dst)
        local = root is not None and os.path.isdir(
            os.path.join(root, "manifest"))
        cutoff = None if as_of is None else _as_of_micros(spark, as_of)

        def load(sub, schema, spark_read, stamp):
            """One metadata table, cut at ``as_of``."""
            t = schema.empty_table()
            if local and os.path.isdir(os.path.join(root, sub)):
                t = ds.dataset(os.path.join(root, sub), format="parquet",
                               schema=schema).to_table()
            elif not local and (df := spark_read(spark, dst)) is not None:
                t = _to_arrow(df, schema)
            return t if cutoff is None else t.filter(
                pc.less_equal(t[stamp].cast(pa.int64()), cutoff))

        mani = load("manifest", _MANIFEST_ARROW, _read_manifest,
                    "committed_at")
        tomb = pc.list_flatten(mani["replaces"])
        dead = set(zip(pc.struct_field(tomb, [0]).to_pylist(),
                       pc.struct_field(tomb, [1]).to_pylist()))
        mani = _where_pairs(mani, lambda p: p not in dead)
        live = set(zip(mani["part_id"].to_pylist(),
                       mani["run_id"].to_pylist()))
        dels = _DELETES_ARROW.empty_table()
        if deletes:
            dels = _where_pairs(load("deletes", _DELETES_ARROW,
                                     _read_deletes, "created_at"),
                                live.__contains__)
        snap = cls(["part_id", "run_id"], live,
                   set(zip(dels["part_id"].to_pylist(),
                           dels["run_id"].to_pylist())))
        snap.manifest, snap.deletes = mani, dels
        snap.dst, snap.cutoff = dst, cutoff
        pages_dir = os.path.join(dst, "pages")
        if live and local and os.path.isdir(os.path.join(root, "pages")):
            snap.pages_dir = os.path.join(root, "pages")
        elif live and not local and _exists(spark, pages_dir):
            runs = ", ".join(_sql_str(r) for r in sorted({r for _, r in live}))
            snap.source = (_read_pages(spark, pages_dir)
                           .filter(f"run_id IN ({runs})"))
        return snap

    @classmethod
    def of(cls, pages: DataFrame, probe: str | None = None) -> "_Snapshot":
        """A frame's snapshot from ONE Spark collect of its metadata
        rows; with ``probe`` the same collect brings that column's bloom
        rows. Every pair the frame holds is live."""
        import pyarrow.compute as pc
        query = _meta_query(pages)
        if probe is not None:
            query = query.withColumns({
                "params": F.lit(None).cast("string"),
                "data": F.lit(None).cast("binary")}).unionByName(
                    _bloom_query(pages, probe))
        t = query.toArrow()
        keys = _pair_keys(pages)
        meta = t
        if probe is not None:
            meta = t.filter(pc.is_null(t["data"])).drop_columns(
                ["params", "data"])
        pairs = list(zip(*(meta[k].to_pylist() for k in keys)))
        snap = cls(keys, set(pairs),
                   {p for p, c in zip(pairs, meta["codec"].to_pylist())
                    if c == DELETE_CODEC})
        snap.meta = meta
        snap.source = pages
        if probe is not None:
            snap._blooms[probe] = t.filter(pc.is_valid(t["data"]))
        return snap

    @functools.cached_property
    def meta(self) -> pa.Table:
        """The live pairs' metadata rows, read at first use; the pyarrow
        reader adds each row's file (``__file``) and position
        (``__row``)."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        t = _META_SCHEMA.empty_table()
        if self.source is not None:
            t = _to_arrow(_meta_query(self.source), _META_SCHEMA)
        elif self.pages_dir is not None:
            runs = sorted({r for _, r in self.live})
            parts = []
            pages = ds.dataset(
                self.pages_dir, format="parquet", schema=_PAGES_DS_SCHEMA,
                partitioning=ds.partitioning(
                    pa.schema([("run_id", pa.string())]), flavor="hive"))
            for frag in pages.get_fragments(
                    filter=ds.field("run_id").isin(runs)):
                t = pq.ParquetFile(frag.path).read(
                    columns=[c for c in _META_COLS if c != "run_id"])
                n = t.num_rows
                rid = ds.get_partition_keys(frag.partition_expression)
                t = (t.append_column("run_id",
                                     pa.array([rid["run_id"]] * n, pa.string()))
                     .select(_META_COLS).cast(_META_SCHEMA)
                     .append_column("__file", pa.array(
                         np.full(n, len(self.files), np.int32)))
                     .append_column("__row", pa.array(
                         np.arange(n, dtype=np.int64))))
                parts.append(t)
                self.files.append(frag.path)
            t = pa.concat_tables(parts) if parts else _META_SCHEMA.empty_table()
        live = pa.Table.from_pylist(
            [{"part_id": p, "run_id": r} for p, r in self.live],
            schema=pa.schema(_ARROW_PAIR))
        return t.join(live, ["part_id", "run_id"], join_type="left semi")

    def _rows(self, *names, where=None) -> list:
        t = self.meta if where is None else self.meta.filter(where)
        return list(zip(*(t[n].to_pylist() for n in names)))

    def layout(self, pairs: set | None = None) -> list[tuple[str, str]]:
        """The columns [(name, tag), ...] in col_idx order, of ``pairs``
        when given, else of every live pair."""
        return _first_by_name(
            (c, t) for _, c, t in sorted(self.layout_rows(pairs)))

    def layout_rows(self, pairs: set | None = None) -> set:
        """The (col_idx, column, type) triples of the data pages."""
        import pyarrow.compute as pc
        where = pc.greater_equal(self.meta["col_idx"], 0)
        if pairs is None:
            return set(self._rows("col_idx", "column", "type", where=where))
        k = len(self.keys)
        rows = self._rows(*self.keys, "col_idx", "column", "type",
                          where=where)
        return {r[k:] for r in rows if r[:k] in pairs}

    def page_pairs(self) -> set:
        """Live pairs that hold any page row."""
        return set(self._rows(*self.keys))

    def zone_pairs(self, column: str, lo, hi, tag: str | None) -> set:
        """Pairs whose zone maps for ``column`` may intersect [lo, hi]
        (bounds in the zone domain, see ``prune_parts``); with no bound,
        every pair holding a page of ``column``."""
        import pyarrow.compute as pc
        cast = _zone_cast(tag)
        conv = _zone_domain(cast)
        if cast is not None and cast.startswith("decimal"):
            # bounds may be str/Decimal/int/float, as in _zone_lit
            lo, hi = (None if b is None else conv(b) for b in (lo, hi))
        m = self.meta
        k = len(self.keys)
        keep: set = set()
        for r in self._rows(*self.keys, "min_v", "max_v",
                            where=pc.and_(pc.equal(m["column"], column),
                                          pc.greater_equal(m["col_idx"], 0))):
            if r[:k] not in keep and _zone_may_hit(*r[k:], lo, hi, conv):
                keep.add(r[:k])
        return keep

    def sidecar_pairs(self, column: str, codec: str) -> set:
        """Pairs holding a ``codec`` sidecar row for ``column``."""
        import pyarrow.compute as pc
        m = self.meta
        return set(self._rows(*self.keys, where=pc.and_(
            pc.equal(m["codec"], codec), pc.equal(m["column"], column))))

    def _bloom_rows(self, column: str) -> pa.Table:
        """``column``'s bloom rows (keys, ``params``, ``data``), read once.
        The pyarrow reader locates them from the metadata rows and
        decodes only the parquet pages of ``params``/``data`` that hold
        them (a ``data`` page may also hold page blobs); the Spark reader
        collects ``_bloom_query``."""
        if column in self._blooms:
            return self._blooms[column]
        if self.source is not None:
            t = _bloom_query(self.source, column).toArrow()
        else:
            import pyarrow.compute as pc
            m = self.meta
            t = self._read_at(m.filter(pc.and_(
                pc.equal(m["codec"], "__bloom__"),
                pc.equal(m["column"], column))), ["params", "data"])
        self._blooms[column] = t
        return t

    def _read_at(self, t: pa.Table, names: list[str]) -> pa.Table:
        """Metadata rows ``t`` of the pyarrow reader, in file order, with
        the pages' ``names`` columns read at their ``__file`` / ``__row``
        positions (``interop.read_rows``: only the parquet pages holding
        those rows are decoded)."""
        t = t.sort_by([("__file", "ascending"), ("__row", "ascending")])
        fidx = t["__file"].to_numpy()
        pos = t["__row"].to_numpy()
        files = np.unique(fidx)
        for c in names:
            got = [read_rows(self.files[int(f)], c, pos[fidx == f])
                   for f in files]
            t = t.append_column(c, pa.chunked_array(
                got, None if got else _PAGES_DS_SCHEMA.field(c).type))
        return t

    def driver_pages(self, pairs: set | None, columns: list[str],
                     deletes: bool = True) -> pa.Table | None:
        """The data pages of ``columns`` in ``pairs`` (None: every live
        pair), with the pairs' delete rows unless ``deletes`` is False,
        read on the driver as a pages table — or None when the read must
        go the distributed way: a snapshot of the Spark reader, or kept
        pages that decode to more than ``_DRIVER_DECODE_BYTES``. Delete
        rows come from ``deletes`` (cut at ``as_of`` and to live pairs),
        their bitmaps from ``deletes/``."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        if self.pages_dir is None:
            return None
        m = self.meta
        m = m.filter(pc.and_(pc.greater_equal(m["col_idx"], 0),
                             pc.is_in(m["column"],
                                      pa.array(columns, pa.string()))))
        if pairs is not None:
            m = _where_pairs(m, pairs.__contains__)
        if (pc.sum(m["raw_bytes"]).as_py() or 0) > _DRIVER_DECODE_BYTES:
            return None
        t = self._read_at(m, _PAGE_READ_COLS).select(
            _PAIR_KEYS + ["column", "col_idx", "codec", "type"]
            + _PAGE_READ_COLS)
        d = self.deletes
        if pairs is not None:
            d = _where_pairs(d, pairs.__contains__)
        if not deletes or not d.num_rows:
            return t
        ids = set(zip(*(d[c].to_pylist() for c in _DELETE_ID)))
        b = ds.dataset(os.path.join(os.path.dirname(self.pages_dir),
                                    "deletes"),
                       format="parquet", schema=_BITMAPS_ARROW).to_table(
            filter=ds.field("part_id").isin(sorted({k[0] for k in ids})))
        b = b.filter(pa.array(
            [k in ids for k in zip(*(b[c].to_pylist() for c in _DELETE_ID))],
            pa.bool_()))
        n = b.num_rows
        dels = pa.table({
            "part_id": b["part_id"], "run_id": b["run_id"],
            "column": pa.array([DELETE_CODEC] * n), "col_idx":
            pa.array(np.full(n, -1, np.int32)), "codec":
            pa.array([DELETE_CODEC] * n), "type": pa.array(["bin"] * n),
            "page_id": pa.array(np.zeros(n, np.int32)),
            "params": pa.array(["{}"] * n), "data": b["bitmap"],
            "num_values": b["n_rows"], "null_count": b["n_del"]})
        return pa.concat_tables([t, dels.cast(t.schema)])

    def bloom_hits(self, column: str, hashes: np.ndarray) -> set:
        """Pairs whose bloom rows for ``column`` MAYBE hold any of
        ``hashes`` (``_probe_hashes``)."""
        if not self.sidecar_pairs(column, "__bloom__"):
            return set()
        return self._maybe_pairs(column, hashes)

    def _maybe_pairs(self, column: str, hashes: np.ndarray) -> set:
        t = self._bloom_rows(column)
        maybe = _bloom_maybe(t["params"].to_pylist(), t["data"], hashes)
        pairs = zip(*(t[k].to_pylist() for k in self.keys))
        return {p for p, h in zip(pairs, maybe) if h} & self.live

    def bloom_pairs(self, column: str, values: list) -> set | None:
        """Bloom MAYBE-hit pairs for ``values`` plus every pair with no
        bloom row for ``column`` (absence means scan); None when the
        column has no bloom rows at all."""
        indexed = self.sidecar_pairs(column, "__bloom__")
        if not indexed:
            return None
        hashes = _probe_hashes(values)
        hits = set() if hashes is None else self._maybe_pairs(column, hashes)
        return hits | (self.page_pairs() - indexed)

    def frame(self, spark: SparkSession) -> DataFrame:
        """A dataset's pages plus delete rows of every live pair, planned
        without a job: explicit-schema reads of the live runs, cut by
        ``_keep_parts`` (literal ``run_id IN`` and pair filters).
        Carries the snapshot and its layout like ``encode_table`` output
        carries ``_cps_columns``."""
        if self.source is not None:
            pages = self.source
        elif self.meta.num_rows:
            # Spark lists only the live runs' directories, not every run's
            pages_dir = os.path.join(self.dst, "pages")
            run_dirs = sorted({os.path.basename(os.path.dirname(f))
                               for f in self.files})
            pages = (spark.read.schema(PAGES_READ_SCHEMA)
                     .option("basePath", pages_dir)
                     .parquet(*[os.path.join(pages_dir, d) for d in run_dirs]))
        else:
            pages = spark.createDataFrame([], PAGES_READ_SCHEMA)
        if self.del_pairs:
            dels = (spark.read.schema(DELETES_SCHEMA)
                    .parquet(os.path.join(self.dst, "deletes")))
            if self.cutoff is not None:
                dels = dels.filter(
                    f"created_at <= timestamp_micros({self.cutoff})")
            # positional: _deletes_as_page_rows emits PAGES_READ_SCHEMA order
            pages = pages.union(_deletes_as_page_rows(dels))
        # one cut for both sides: Spark pushes it through the union into
        # each scan (run_id IN becomes the pages' partition filter)
        pages = _keep_parts(pages, self.live, self.keys)
        pages._cps_snapshot = self             # type: ignore[attr-defined]
        pages._cps_columns = self.layout()     # type: ignore[attr-defined]
        return pages


def _snapshot_of(pages: DataFrame, probe: str | None = None) -> _Snapshot:
    """The snapshot a frame carries (a durable read's), else one taken
    from the frame (``_Snapshot.of``) and cached on it. A frame's
    snapshot is taken at its first plan: a frame over files that later
    grow plans from what they held then."""
    snap = getattr(pages, "_cps_snapshot", None)
    if snap is None:
        snap = _Snapshot.of(pages, probe)
        pages._cps_snapshot = snap             # type: ignore[attr-defined]
    return snap


def _where_pairs(t: pa.Table, keep) -> pa.Table:
    """Rows of ``t`` whose (part_id, run_id) satisfies ``keep``."""
    return t.filter(pa.array(
        [keep(p) for p in zip(t["part_id"].to_pylist(),
                              t["run_id"].to_pylist())], pa.bool_()))


def _to_arrow(df: DataFrame, schema: pa.Schema) -> pa.Table:
    """``schema``'s columns of ``df``, collected with ``toArrow()``."""
    return df.select(*schema.names).toArrow().cast(schema)


_PAGES_DS_SCHEMA = _PAGES_ARROW.append(pa.field("run_id", pa.string()))
_META_SCHEMA = pa.schema([_PAGES_DS_SCHEMA.field(c) for c in _META_COLS])
_MANIFEST_ARROW = pa.schema(_ARROW_PAIR + [
    ("table", pa.string()), ("num_rows", pa.int64()),
    ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("num_parts", pa.int32()), ("committed_at", pa.timestamp("us")),
    ("replaces", pa.list_(pa.struct(_ARROW_PAIR)))])
_DELETES_ARROW = pa.schema(_ARROW_PAIR + [("delete_id", pa.string()),
                                          ("created_at", pa.timestamp("us"))])
_PAIR_KEYS = [k for k, _ in _ARROW_PAIR]
_DELETE_ID = _PAIR_KEYS + ["delete_id"]       # one delete row's key
_BITMAPS_ARROW = pa.schema(_ARROW_PAIR + [
    ("delete_id", pa.string()), ("n_rows", pa.int64()),
    ("n_del", pa.int64()), ("bitmap", pa.binary())])


def read_committed_pages(spark: SparkSession, dst: str,
                         as_of=None) -> DataFrame:
    """Pages of the LIVE manifest pairs — orphans from crashed runs and
    compaction-superseded parts both drop out. ``as_of`` reads the
    snapshot as of that commit timestamp. Planned from a ``_Snapshot``
    (see ``read_live_pages`` for its cost) that rides on the frame."""
    return _Snapshot.read(spark, dst, as_of, deletes=False).frame(spark)


#: compacted parts get ids above this base so they never collide with
#: with_part_id's hash range (bounded by effective_parts(cfg))
COMPACT_PART_BASE = 1 << 24


def compact_parts(spark: SparkSession, dst: str,
                  min_bytes: int = 8 << 20, target_bytes: int = 64 << 20,
                  run_id: str | None = None) -> dict:
    """Small-part compaction for a durable dataset (the lakehouse
    small-files maintenance op): live parts under ``min_bytes`` of
    encoded data are merged into ~``target_bytes`` bins.

    Pages are SELF-CONTAINED (codec params + zone maps per page), so
    compaction never decodes: it rewrites part_id to the bin id and
    renumbers page_id per (bin, column) ordered by (source part, page) —
    every column of a source part keeps the same relative position, so
    per-part row alignment is preserved and ``decode_table`` on a bin
    concatenates sources in a consistent order. One narrow shuffle sized
    by the moved bytes; the plan is metadata-only on the driver (one
    manifest row per part).

    Commit protocol: new pages land under pages/run_id=<id>/ (invisible
    until a manifest row points at them), then ONE manifest append adds
    the bin rows WITH their ``replaces`` tombstones — crash before the
    append leaves harmless orphan pages (existing invariant), never a
    duplicate or a hole."""
    from pyspark.sql.window import Window
    run_id = run_id or uuid.uuid4().hex[:12]
    snap = _Snapshot.read(spark, dst)
    rows = snap.manifest.to_pylist()
    # parts carrying deletion vectors stay uncompacted: moving their
    # pages would re-key the (part_id, run_id) the bitmaps point at.
    # (A rewrite-compaction that APPLIES the vectors is the eventual
    # maintenance op; until then exclusion is the safe semantics.)
    small = sorted((r for r in rows if r["enc_bytes"] < min_bytes
                    and (r["part_id"], r["run_id"]) not in snap.del_pairs),
                   key=lambda r: (r["table"], r["part_id"]))
    out = {"run_id": run_id, "bins": 0, "parts_compacted": 0,
           "bytes_moved": 0}
    if len(small) < 2:
        return out
    bins: list[list] = []
    cur: list = []
    cur_bytes = 0
    for r in small:                       # deterministic first-fit
        if cur and (cur_bytes + r["enc_bytes"] > target_bytes
                    or cur[0]["table"] != r["table"]):
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append(r)
        cur_bytes += r["enc_bytes"]
    bins.append(cur)
    bins = [b for b in bins if len(b) >= 2]   # singleton move = no-op
    if not bins:
        return out
    base = COMPACT_PART_BASE + max(
        (r["part_id"] - COMPACT_PART_BASE + 1 for r in rows
         if r["part_id"] >= COMPACT_PART_BASE), default=0)
    mapping = [(r["part_id"], r["run_id"], base + i)
               for i, b in enumerate(bins) for r in b]
    map_df = spark.createDataFrame(
        mapping, "part_id int, run_id string, new_part int")
    pages_dir = os.path.join(dst, "pages")
    src = _read_pages(spark, pages_dir).join(F.broadcast(map_df),
                                             ["part_id", "run_id"])
    # run_id MUST be an ordering key: streaming appends reuse the hash
    # part-id space per micro-batch, so a bin can hold two source parts
    # with equal part_id but different run_id. Without run_id in the
    # order, each (bin, column) window resolves the tie independently
    # and columns interleave the sources differently -> decode_table
    # zips misaligned columns (silent row corruption).
    w = Window.partitionBy("new_part", "column") \
              .orderBy("part_id", "run_id", "page_id")
    moved = (src.withColumn("page_id", F.row_number().over(w) - 1)
             .withColumn("part_id", F.col("new_part"))
             .drop("new_part", "run_id")
             .withColumn("run_id", F.lit(run_id)))
    moved.write.mode("append").partitionBy("run_id").parquet(pages_dir)
    written = (_read_pages(spark, pages_dir)
               .filter(F.col("run_id") == run_id).drop("data", "run_id"))
    nparts = rows[0]["num_parts"] if rows else 0
    cfg = EncodeConfig(keys=(), salt_from=(), num_parts=int(nparts or 0))
    mani = manifest_from_pages(written, run_id, cfg)
    from collections import defaultdict
    by_bin: dict[int, list] = defaultdict(list)
    for p, rid, np_ in mapping:
        by_bin[np_].append({"part_id": p, "run_id": rid})
    repl_df = spark.createDataFrame(
        [(k, v) for k, v in by_bin.items()],
        "part_id int, replaces array<struct<part_id:int,run_id:string>>")
    mani = mani.join(F.broadcast(repl_df), "part_id", "left")
    mani.write.mode("append").parquet(os.path.join(dst, "manifest"))
    out.update(bins=len(bins), parts_compacted=len(mapping),
               bytes_moved=int(sum(r["enc_bytes"] for b in bins for r in b)))
    return out


def _write_run_sidecar(df: DataFrame, dst: str, cfg: EncodeConfig,
                       run_id: str, resume: bool, summary: dict) -> None:
    """S5 job-level lineage sidecar (SURVEY.md §2.2): one JSON per run
    under ``runs/``, plus ``RUN.json`` pointing at the latest — input
    snapshot (schema + file sample), config, code version, totals."""
    try:
        import subprocess
        sha = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=5).stdout.strip() or None
    except Exception:
        sha = None
    try:
        in_files = df.inputFiles()
    except Exception:
        in_files = []
    doc = {
        "run_id": run_id,
        "table": cfg.table_name,
        "resume": resume,
        "config": {
            "keys": list(cfg.keys), "salt_from": list(cfg.salt_from),
            "salt_buckets": cfg.salt_buckets,
            "num_parts": effective_parts(cfg),
            "range_on": cfg.range_on, "range_bounds": list(cfg.range_bounds),
            "zorder_on": list(cfg.zorder_on),
            "zorder_bounds": [list(b) for b in cfg.zorder_bounds],
            "zorder_bits": cfg.zorder_bits,
            "order_keys": list(cfg.order_keys),
            "page_bytes": cfg.page_bytes,
            "codec_overrides": dict(cfg.codec_overrides),
        },
        "input": {"schema": df.schema.simpleString(),
                  "num_files": len(in_files), "files_sample": in_files[:3]},
        "summary": {k: (int(v) if v is not None else None)
                    for k, v in summary.items() if k != "run_id"},
        "git_sha": sha,
        "committed_at_epoch_s": int(time.time()),
    }
    runs_dir = os.path.join(dst, "runs")
    try:
        os.makedirs(runs_dir, exist_ok=True)
        with open(os.path.join(runs_dir, f"{run_id}.json"), "w") as f:
            json.dump(doc, f, indent=1)
        with open(os.path.join(dst, "RUN.json"), "w") as f:
            json.dump(doc, f, indent=1)
    except OSError:
        pass    # non-local dst (e.g. object store): sidecar is best-effort


def decode_dataset(spark: SparkSession, dst: str,
                   where: tuple | None = None,
                   columns: list[str] | None = None,
                   as_of=None) -> DataFrame:
    """Decode a durable dataset; ``where=(column, lo, hi)`` pushes the
    predicate down to the on-disk zone maps (decode_where), so a
    selective range decodes a fraction of parts.

    The read is planned on the driver from one metadata snapshot
    (``read_live_pages``): building the returned frame runs no Spark
    job. Driver memory: one metadata row per live page, plus the
    manifest and delete index (one row per part).

    Which path decodes: with ``where`` on a local dataset whose
    surviving data pages decode to at most ``_DRIVER_DECODE_BYTES``, the
    decode runs on the driver, EAGERLY at this call, and the result is
    a local relation (``decode_where``); no pages frame is built. Driver
    memory then also holds those decoded rows, at most the cap. Above
    the cap, on a dataset elsewhere, and for every read without
    ``where``, the rows decode lazily in ``decode_table``'s Spark job.

    ``as_of`` (datetime or ISO timestamp string): time-travel snapshot —
    the table as committed at that instant (appends, compactions, purges
    and row-level deletes after it are invisible; possible because page
    files are only ever superseded, never destroyed).

    ``columns``: projection pushdown for wide tables — only the named
    columns' page blobs are scanned and decoded (the pages parquet is
    filtered on its ``column`` metadata field BEFORE any blob read, so a
    2-column projection of a 100-column table never touches the other
    98 columns' bytes). The ``where`` column is decoded for its residual
    filter even when not projected, then dropped."""
    snap = _Snapshot.read(spark, dst, as_of)
    layout = snap.layout()
    if columns is not None:
        known = [c for c, _ in layout]
        missing = [c for c in columns if c not in known]
        if missing:
            raise ValueError(f"decode_dataset: unknown columns {missing}; "
                             f"dataset has {known}")
        need = set(columns) | ({where[0]} if where is not None else set())
        layout = [(c, t) for c, t in layout if c in need]

    def frame() -> DataFrame:
        pages = snap.frame(spark)
        if columns is not None:
            # DELETE_CODEC rows must survive the projection: deletion
            # vectors apply to every decode regardless of which columns
            # are read
            pages = pages.filter(F.col("column").isin(
                [c for c, _ in layout] + [DELETE_CODEC]))
            # keep the layout and snapshot on the filtered frame
            # (decode_table and decode_where read them)
            pages._cps_columns = layout        # type: ignore[attr-defined]
            pages._cps_snapshot = snap         # type: ignore[attr-defined]
        return pages

    if where is not None:
        out = _decode_where(spark, snap, frame, layout, layout, [where])
    else:
        out = decode_table(frame(), spark)
    return out.select(*columns) if columns is not None else out


def eq_prune(pages: DataFrame, column: str, value) -> DataFrame:
    """Part ids whose bloom filter MAYBE contains ``value``, probed on
    the driver against the frame's snapshot, which reads only the
    column's bloom rows (16 KiB per part — never the data blobs; at
    100 TB the bloom rows are ~0.03% of the dataset). Requires the
    column in ``EncodeConfig.bloom_cols`` at encode time; zone maps
    handle range predicates, blooms handle point lookups on
    hash-distributed columns where min/max never prunes."""
    return in_prune(pages, column, [value])


def in_prune(pages: DataFrame, column: str, values: list) -> DataFrame:
    """IN-list variant: part ids whose bloom maybe-contains ANY of the
    probe values — all probes checked in ONE pass over the column's
    bloom rows (``_Snapshot.bloom_hits``), returned as a local
    DataFrame. Parts with no bloom row are not in it (callers that
    must scan them use ``_Snapshot.bloom_pairs``).

    Safe across mixed encode runs: each bloom row's own ``m`` (bit
    count) is honored (``_bloom_maybe``), so a dataset whose bloom_bits
    changed between appends never computes a wrong bit position (which
    would be a silent false NEGATIVE). When the pages carry ``run_id``
    (durable datasets), the result keeps it: appended runs reuse the
    hash part-id space, so (part_id, run_id) is the true pruning unit —
    part_id alone would let run B's bloom veto run A's pages."""
    hs = _probe_hashes(values)
    hits = (set() if hs is None
            else _snapshot_of(pages, column).bloom_hits(column, hs))
    return _pairs_frame(pages.sparkSession, hits, _pair_keys(pages))


def _pairs_frame(spark: SparkSession, pairs: set,
                 keys: list[str]) -> DataFrame:
    """A local DataFrame of (part_id[, run_id]) key tuples."""
    return spark.createDataFrame(
        sorted(pairs), "part_id int, run_id string" if len(keys) == 2
        else "part_id int")


#: survivor lists up to this size are applied as a LITERAL part_id
#: IN-filter (driver-side, metadata-sized) so the parquet scan can skip
#: whole row groups via min/max stats — a broadcast semi join alone
#: still SCANS every page blob before dropping the losers, which at
#: 100 TB makes a point lookup cost a full-table read
_MAX_LITERAL_PRUNE = 32768


def _keep_parts(pages: DataFrame, survivors: set,
                keys: list[str]) -> DataFrame:
    """pages restricted to the survivor (part_id[, run_id]) key tuples.

    With run ids the cut starts with a literal ``run_id IN (...)``: on
    the run-partitioned pages that prunes whole run directories. Up to
    ``_MAX_LITERAL_PRUNE`` survivors the rest is a literal
    ``part_id IN (...)``, which the parquet reader pushes down to prune
    row groups before the blob column is materialized, plus the exact
    pair predicate; above it a broadcast semi join against a local frame
    of the survivors. Filters are SQL text: one py4j call, where a
    Column per literal costs several."""
    rows = sorted(survivors)
    if not rows:
        return pages.limit(0)
    cut = []
    if len(keys) == 2:
        runs = ", ".join(_sql_str(r) for r in sorted({r for _, r in rows}))
        cut.append(f"run_id IN ({runs})")
    if len(rows) > _MAX_LITERAL_PRUNE:
        local = _pairs_frame(pages.sparkSession, survivors, keys)
        if cut:
            pages = pages.filter(cut[0])
        return pages.join(F.broadcast(local), keys, "left_semi")
    cut.append(f"part_id IN ({', '.join(str(p) for p in sorted({r[0] for r in rows}))})")
    if len(keys) == 2:
        pairs = ", ".join(f"({p}, {_sql_str(r)})" for p, r in rows)
        cut.append(f"(part_id, run_id) IN ({pairs})")
    return pages.filter(" AND ".join(cut))


def _sql_str(v: str) -> str:
    """A Spark SQL string literal of ``v``."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def decode_where_in(pages: DataFrame, column: str, values: list,
                    spark: SparkSession | None = None) -> DataFrame:
    """Batched point-lookup decode: one bloom probe for the whole IN
    list, decode the surviving parts once, exact residual filter.

    The probe runs on the driver against the frame's snapshot
    (``_Snapshot.bloom_pairs``), which then also holds the probed
    column's bloom rows (one per indexed part): on a durable read's
    frame (``read_live_pages``) planning runs no Spark job, on any other
    frame one collect of its metadata and those bloom rows. Parts
    without a bloom row for the column are kept, and a column with no
    bloom rows at all (not in ``bloom_cols`` at encode time) decodes in
    full — an absent index must mean "scan", never "empty result".

    On a local durable read's frame whose surviving data pages decode to
    at most ``_DRIVER_DECODE_BYTES``, the decode runs on the driver,
    EAGERLY at this call, and returns a local relation (see
    ``decode_where``; driver memory then also holds those decoded rows);
    otherwise the survivors decode lazily in a Spark job."""
    if not values:
        return decode_table(pages.limit(0), spark,
                            columns=_column_layout(pages))
    snap = _snapshot_of(pages, column)
    cols_hint = _column_layout(pages)
    survivors = snap.bloom_pairs(column, values)
    tag = dict(cols_hint).get(column)
    out = _driver_decode(spark or pages.sparkSession, snap, survivors,
                         cols_hint, cols_hint,
                         lambda t: _in_mask(t[column], tag, values))
    if out is None:
        kept = pages
        if survivors is not None:
            kept = _keep_parts(pages, survivors, snap.keys)
        out = decode_table(kept, spark, columns=cols_hint)
    return out.filter(F.col(column).isin(values))


def _in_mask(arr: pa.ChunkedArray, tag: str | None, values: list):
    """Decoded values that may equal one of ``values``: keeps at least
    every row ``isin(values)`` keeps; None when the values do not
    compare in Arrow (a timestamp literal takes Spark's time zone)."""
    import pyarrow.compute as pc
    if tag in ("ts", "tsn"):
        return None
    try:
        vs = pa.array([v for v in values if v is not None])
        m = pc.is_in(arr, value_set=vs.cast(arr.type), skip_nulls=True)
        if tag in pagecodec.FLOAT_TAGS:     # Spark: NaN equals NaN
            m = pc.or_(m, pc.is_nan(arr))
        return pc.fill_null(m, False)
    except (pa.ArrowException, TypeError, ValueError, ArithmeticError):
        return None


def decode_where_eq(pages: DataFrame, column: str, value,
                    spark: SparkSession | None = None) -> DataFrame:
    """Point-lookup decode: bloom-prune parts, decode survivors, apply
    the exact equality filter (blooms admit false positives, never false
    negatives — correctness never depends on the filter; a column with
    no bloom rows falls back to a full decode)."""
    return decode_where_in(pages, column, [value], spark)


# --- row-level deletes: deletion-vector sidecars ------------------------------
#
# The Iceberg-v2 / Delta deletion-vector analogue for this engine: a
# delete writes one bitmap per affected (part_id, run_id) into
# ``dst/deletes/`` (position i set = row i of that run's slice of the
# part is deleted, positions in the canonical (run_id, page_id) decode
# order). Data pages are never rewritten — the GDPR/poisoned-document
# removal path for a training-data lake costs one narrow column scan +
# tiny sidecars, not a table rewrite. decode_table applies the vectors
# for every decode entry point (decode_dataset, decode_where*, the SQL
# front door) because the sidecars ride the pages DataFrame as
# ``__delete__`` rows. compact_parts leaves deleted parts uncompacted
# (moving pages would re-key the bitmaps).

DELETE_CODEC = "__delete__"


def _read_deletes(spark: SparkSession, dst: str) -> DataFrame | None:
    d = os.path.join(dst, "deletes")
    if not _exists(spark, d):
        return None
    return spark.read.schema(DELETES_SCHEMA).parquet(d)


def _delete_pass(spark: SparkSession, dst: str, snap: "_Snapshot",
                 column: str, pairs: set | None, make_mask) -> dict:
    """Shared deletion-vector machinery (delete_where_in /
    delete_where_range): decode ONLY ``column``'s pages of the
    pruned-in ``pairs`` of the dataset's snapshot ``snap`` (None: every
    live pair), mark rows where ``make_mask(decoded_arrow_array)`` is
    True, and append one position bitmap per affected (part_id, run_id)
    to ``dst/deletes/`` (positions in the canonical (run_id, page_id)
    decode order). When those pages decode to at most
    ``_DRIVER_DECODE_BYTES`` on a local dataset, the kernel runs on the
    driver over the pages ``_Snapshot.driver_pages`` reads; otherwise in
    a grouped Spark job. Idempotent: re-deleting the same predicate
    rewrites the same bitmaps (sidecars OR together at decode)."""
    out_schema = T.StructType([
        T.StructField("part_id", T.IntegerType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_del", T.LongType()),
        T.StructField("bitmap", T.BinaryType()),
    ])
    out_arrow = pa.schema([
        ("part_id", pa.int32()), ("run_id", pa.string()),
        ("n_rows", pa.int64()), ("n_del", pa.int64()),
        ("bitmap", pa.binary())])

    def kernel(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by([("run_id", "ascending"), ("page_id", "ascending")])
        part = int(tbl.column("part_id")[0].as_py())
        runs = tbl.column("run_id").to_pylist()
        params = tbl.column("params").to_pylist()
        codecs = tbl.column("codec").to_pylist()
        types_ = tbl.column("type").to_pylist()
        nvals = tbl.column("num_values").to_pylist()
        nnull = tbl.column("null_count").to_pylist()
        datas = _blob_views(tbl.column("data"))
        out = {"part_id": [], "run_id": [], "n_rows": [], "n_del": [],
               "bitmap": []}
        by_run: dict[str, list] = {}
        for i in range(len(runs)):
            by_run.setdefault(runs[i], []).append(i)
        for r, idxs in by_run.items():
            masks = []
            for i in idxs:
                arr = pagecodec.decode_page(
                    datas[i], params[i], codecs[i],
                    types_[i], int(nvals[i]), int(nnull[i]))
                masks.append(make_mask(arr))
            mask = np.concatenate(masks)
            nd = int(mask.sum())
            if nd:
                out["part_id"].append(part)
                out["run_id"].append(r)
                out["n_rows"].append(mask.shape[0])
                out["n_del"].append(nd)
                out["bitmap"].append(np.packbits(mask).tobytes())
        return pa.Table.from_pydict(out, schema=out_arrow)

    pages = snap.driver_pages(pairs, [column], deletes=False)
    if pages is not None:
        found = _local_frame(spark, pa.concat_tables(
            [out_arrow.empty_table(), *_per_part(pages, kernel)]), out_schema)
    else:
        hot = snap.frame(spark).filter(
            (F.col("column") == column) & (F.col("col_idx") >= 0))
        if pairs is not None:
            hot = _keep_parts(hot, pairs, snap.keys)
        found = (hot.select("part_id", "run_id", "page_id", "codec", "type",
                            "params", "data", "num_values", "null_count")
                 .groupBy("part_id").applyInArrow(kernel, out_schema))
    delete_id = uuid.uuid4().hex[:12]
    (found.withColumn("delete_id", F.lit(delete_id))
          .withColumn("created_at", F.current_timestamp())
          .write.mode("append").parquet(os.path.join(dst, "deletes")))
    mine = (_read_deletes(spark, dst)
            .filter(F.col("delete_id") == delete_id)
            .agg(F.count("*").alias("parts"),
                 F.sum("n_del").alias("rows_deleted")).collect()[0])
    return {"parts": int(mine["parts"] or 0),
            "rows_deleted": int(mine["rows_deleted"] or 0),
            "delete_id": delete_id}


def delete_where_in(spark: SparkSession, dst: str, column: str,
                    values: list) -> dict:
    """Mark rows where ``column IN values`` as deleted (str/bin/int
    columns — the bloom-probe family). Bloom sidecars prune the parts
    scanned when present; only the predicate column's pages are decoded.
    Idempotent: re-deleting the same values rewrites the same bitmaps
    (sidecars OR together at decode)."""
    if not values:
        return {"parts": 0, "rows_deleted": 0}
    snap = _Snapshot.read(spark, dst, deletes=False)

    def make_mask(arr: pa.Array) -> np.ndarray:
        import pyarrow.compute as pc
        vs = pa.array(values)
        if vs.type != arr.type:
            vs = vs.cast(arr.type)
        m = pc.fill_null(pc.is_in(arr, value_set=vs), False)
        return m.to_numpy(zero_copy_only=False)

    return _delete_pass(spark, dst, snap, column,
                        snap.bloom_pairs(column, values), make_mask)


def delete_where_range(spark: SparkSession, dst: str, column: str,
                       lo=None, hi=None) -> dict:
    """Mark rows where ``lo <= column <= hi`` as deleted (either bound
    may be None for a half-open range) — the retention op
    (``DELETE WHERE ts < cutoff``). Zone maps prune: only parts whose
    per-page [min, max] may intersect the range decode the predicate
    column (absence of a zone means scan, never a skipped row); NULLs
    never match (SQL comparison semantics). ``lo``/``hi`` use the zone
    domain — the same caller convention as :func:`decode_where` /
    :func:`prune_parts`: epoch MICROSECONDS for ts/tsn columns, epoch
    DAYS for date columns, the value itself otherwise. Idempotent like
    delete_where_in."""
    if lo is None and hi is None:
        return {"parts": 0, "rows_deleted": 0}
    snap = _Snapshot.read(spark, dst, deletes=False)
    tag = dict(snap.layout()).get(column)

    def make_mask(arr: pa.Array) -> np.ndarray:
        import pyarrow.compute as pc
        a = arr
        if tag in ("ts", "tsn"):      # zone domain is epoch microseconds
            a = a.cast(pa.int64())
        elif tag == "date":           # zone domain is epoch days
            a = a.cast(pa.int32())
        conds = []
        if lo is not None:
            conds.append(pc.greater_equal(a, pa.scalar(lo).cast(a.type)))
        if hi is not None:
            conds.append(pc.less_equal(a, pa.scalar(hi).cast(a.type)))
        m = conds[0] if len(conds) == 1 else pc.and_(conds[0], conds[1])
        return pc.fill_null(m, False).to_numpy(zero_copy_only=False)

    return _delete_pass(spark, dst, snap, column,
                        snap.zone_pairs(column, lo, hi, tag), make_mask)



def _deletes_as_page_rows(dels: DataFrame) -> DataFrame:
    """Deletion sidecars -> pages-schema rows (codec __delete__, run_id =
    the TARGET run) so they ride every part-grained pruning join into
    decode_table, which applies them."""
    return dels.selectExpr(
        "'' AS `table`", "part_id", f"'{DELETE_CODEC}' AS `column`",
        "-1 AS col_idx", "0 AS page_id", f"'{DELETE_CODEC}' AS codec",
        "'bin' AS type", "'{}' AS params", "bitmap AS data",
        "n_rows AS num_values", "n_del AS null_count", "0L AS raw_bytes",
        "CAST(octet_length(bitmap) AS BIGINT) AS enc_bytes",
        "CAST(NULL AS STRING) AS min_v", "CAST(NULL AS STRING) AS max_v",
        "run_id")


def read_live_pages(spark: SparkSession, dst: str, as_of=None) -> DataFrame:
    """Committed pages + deletion-vector rows: THE read entry point for
    decodes that must honor row-level deletes. Sidecars for superseded
    parts drop out via the same live-manifest semi join as pages.
    ``as_of`` (datetime/ISO string) gives a time-travel snapshot:
    manifest rows AND delete sidecars created later are excluded.

    The read is planned on the driver: one ``_Snapshot`` (manifest,
    delete index and the pages' metadata columns) fixes the live
    (part_id, run_id) set, and the frame is built from it with
    explicit-schema reads and literal filters. For a local dataset the
    snapshot is read with pyarrow and no Spark job runs until the frame
    does; any other dataset's metadata comes through Spark
    ``toArrow()``, a job per table. The snapshot rides on the frame
    (``_cps_snapshot``, with the layout in ``_cps_columns``) so that
    decode_where / decode_where_in prune on the driver too. Driver
    memory: one metadata row per live page, plus the manifest and the
    delete index (one row per part); a bloom probe adds the probed
    column's bloom rows. A frame derived from this one (filtered,
    joined) takes its own snapshot at its first plan: one collect of its
    metadata rows (``_snapshot_of``).

    Which path decodes: ``decode_where`` / ``decode_where_in`` on this
    frame (of a local dataset) decode on the driver, EAGERLY at their
    call, when the surviving data pages decode to at most
    ``_DRIVER_DECODE_BYTES``; driver memory then also holds those
    decoded rows. A derived frame, and every read above the cap,
    decodes lazily in a Spark job."""
    return _Snapshot.read(spark, dst, as_of).frame(spark)


def table_changes(spark: SparkSession, dst: str, from_ts,
                  to_ts=None) -> DataFrame:
    """NET change-data-feed between two snapshots (the Delta CDF /
    Iceberg incremental-read analogue at snapshot granularity): every
    row visible at ``to_ts`` but not at ``from_ts`` is returned with
    ``_change_type='insert'``, every row visible at ``from_ts`` but not
    at ``to_ts`` with ``'delete'``. ``to_ts=None`` means "now". Net
    semantics: a row appended AND deleted inside the window is in
    neither snapshot, hence in neither output — consumers see exactly
    the delta that turns snapshot A into snapshot B (the contract an
    incremental downstream materialization needs).

    Metadata-pruned, which is what makes this usable at 100 TB: the two
    manifests are compared first (metadata-only), and ONLY (part, run)s
    whose liveness changed — plus parts that gained deletion vectors
    inside the window — have their blobs decoded. An append of 0.1% of
    the table decodes 0.1% of the table, not two full snapshots. Layout
    rewrites (compact_parts / rewrite_dataset / purge of already-counted
    vectors) decode on both sides and cancel in the multiset diff, so
    they correctly report no logical change (at the cost of decoding the
    rewritten parts — schedule CDC reads before heavy maintenance when
    that matters). The diff itself is ``exceptAll`` both ways: one
    shuffle over only the changed parts' rows. The two snapshots are
    compared on the driver, so planning runs no Spark job for a local
    dataset."""
    a = _Snapshot.read(spark, dst, as_of=from_ts)
    b = _Snapshot.read(spark, dst, as_of=to_ts)
    # vectors written inside the window change a part's VISIBLE rows
    # without touching the manifest: decode those parts on both sides
    ids = [set(zip(*(snap.deletes[c].to_pylist()
                     for c in ("part_id", "run_id", "delete_id"))))
           for snap in (a, b)]
    changed = {r[:2] for r in ids[1] - ids[0]} & a.live & b.live
    # one explicit columns hint across BOTH snapshots so schema evolution
    # inside the window diffs cleanly (a column added by a later run is
    # NULL on the A side) and an all-empty candidate set still yields a
    # typed empty frame instead of a zero-column one
    hint = _first_by_name(
        (c, t) for _, c, t in sorted(a.layout_rows() | b.layout_rows()))
    dfA, dfB = (decode_table(_keep_parts(snap.frame(spark),
                                         (snap.live - other.live) | changed,
                                         snap.keys), spark, columns=hint)
                for snap, other in ((a, b), (b, a)))
    return (dfB.exceptAll(dfA)
            .withColumn("_change_type", F.lit("insert"))
            .unionByName(dfA.exceptAll(dfB)
                         .withColumn("_change_type", F.lit("delete"))))


def purge_deletes(spark: SparkSession, dst: str, cfg: EncodeConfig,
                  run_id: str | None = None) -> dict:
    """Rewrite maintenance op (the counterpart to compact_parts for
    deletion vectors): re-encode the live (part, run)s that carry
    vectors with the vectors APPLIED, superseding the originals via
    ``replaces`` tombstones in ONE manifest append — the same crash-safe
    commit protocol as compaction (orphan pages before the append are
    harmless; never duplicates or holes). Sidecars of superseded parts
    stop matching the live manifest, so no sidecar file surgery happens.

    Scheduling guidance at 100 TB: deletes stay cheap as sidecars; run
    purge when the deleted fraction justifies a rewrite of the affected
    parts (it re-encodes ONLY those parts, not the table)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    out = {"run_id": run_id, "parts_rewritten": 0, "rows_purged": 0}
    snap = _Snapshot.read(spark, dst)
    tpairs = sorted(snap.del_pairs)
    if not tpairs:
        return out
    old_rows, new_rows = _rewrite_parts(spark, snap, cfg, run_id, tpairs)
    out.update(parts_rewritten=len(tpairs),
               rows_purged=int(old_rows - new_rows))
    return out


def _rewrite_parts(spark: SparkSession, snap: _Snapshot, cfg: EncodeConfig,
                   run_id: str, tpairs: list[tuple[int, str]],
                   transform=None) -> tuple:
    """Shared rewrite machinery (purge_deletes, rewrite_dataset,
    update_where): decode the target (part, run)s of the dataset's
    snapshot ``snap`` (read with its deletes) with deletion vectors
    applied, optionally apply ``transform`` (DataFrame -> DataFrame, a
    row-level rewrite such as UPDATE's SET projection — must preserve
    the schema), re-encode under ``cfg`` in a fresh run, supersede the
    targets via ``replaces`` tombstones in ONE crash-safe manifest
    append. Returns (old_live_rows, new_rows)."""
    import pyarrow.compute as pc
    dst = snap.dst
    want = set(tpairs)
    old_rows = pc.sum(_where_pairs(snap.manifest, want.__contains__)
                      ["num_rows"]).as_py() or 0
    kept = _keep_parts(snap.frame(spark), want, snap.keys)
    decoded = decode_table(kept, spark,           # vectors applied here
                           columns=snap.layout(want))
    if transform is not None:
        decoded = transform(decoded)
    # re-encode through the standard pipeline under a fresh run_id —
    # (part_id, run_id) uniqueness makes hash-id reuse safe, and
    # cfg.bloom_cols/block_codec/range layout/etc. apply to the output
    cols, tags = encodable_columns(decoded)
    src = with_part_id(decoded.select(*cols), cfg)
    prepared = cluster_by_part(src, cfg)
    pages_dir = os.path.join(dst, "pages")
    new_pages = (prepared.mapInArrow(make_encode_kernel(cols, tags, cfg),
                                     PAGES_SCHEMA)
                 .withColumn("run_id", F.lit(run_id)))
    new_pages.write.mode("append").partitionBy("run_id").parquet(pages_dir)
    written = (_read_pages(spark, pages_dir)
               .filter(F.col("run_id") == run_id).drop("data", "run_id"))
    mani = manifest_from_pages(written, run_id, cfg)
    tomb = [{"part_id": p, "run_id": r} for p, r in tpairs]
    n_new = mani.count()
    new_rows = (mani.agg(F.sum("num_rows")).collect()[0][0] or 0) \
        if n_new else 0
    if n_new:
        # every rewritten row carries the full tombstone list —
        # the snapshot's tombstone set kills each target once
        tomb_col = F.array(*[
            F.struct(F.lit(p).cast("int").alias("part_id"),
                     F.lit(r).alias("run_id")) for p, r in tpairs])
        mani = mani.withColumn("replaces", tomb_col)
    else:
        # every row of every target was deleted: commit a tombstone-only
        # manifest row (no pages reference it, so reads see nothing)
        mani = spark.createDataFrame(
            [("", -1, 0, 0, 0, [], [], 0, None, run_id, 0, tomb)],
            "table string, part_id int, num_pages bigint, raw_bytes bigint,"
            "enc_bytes bigint, codecs array<string>, columns array<string>,"
            "num_rows bigint, encode_wall_s double, run_id string,"
            "num_parts int,"
            "replaces array<struct<part_id:int,run_id:string>>") \
            .withColumn("committed_at", F.current_timestamp())
    mani.write.mode("append").parquet(os.path.join(dst, "manifest"))
    return old_rows, new_rows


def rewrite_dataset(spark: SparkSession, dst: str, cfg: EncodeConfig,
                    run_id: str | None = None) -> dict:
    """Layout evolution (Iceberg rewrite-data-files analogue): rewrite
    the ENTIRE live table under a new EncodeConfig — switch to range
    clustering for zone-pruned scans, add bloom columns, change the
    block codec or part sizing — superseding every live part in one
    crash-safe manifest append. Deletion vectors are applied during the
    rewrite (subsumes purge_deletes for the whole table). Old page
    files stay until ``vacuum``, so time travel across the rewrite
    keeps working."""
    run_id = run_id or uuid.uuid4().hex[:12]
    snap = _Snapshot.read(spark, dst)
    tpairs = sorted(snap.live)
    if not tpairs:
        return {"run_id": run_id, "parts_rewritten": 0, "rows": 0}
    old_rows, new_rows = _rewrite_parts(spark, snap, cfg, run_id, tpairs)
    return {"run_id": run_id, "parts_rewritten": len(tpairs),
            "rows": int(new_rows), "rows_purged": int(old_rows - new_rows)}


def add_column(spark: SparkSession, dst: str, name: str, expr: str,
               cfg: EncodeConfig, run_id: str | None = None) -> dict:
    """ALTER TABLE ADD COLUMN ... with BACKFILL (the CoW companion to
    the engine's append-time schema evolution): every live part is
    rewritten with ``name`` computed as the SQL expression ``expr`` over
    the existing row, committed through the same single ``replaces``
    manifest append as rewrite_dataset (atomic; deletion vectors applied
    during the rewrite; old snapshots keep time-travel reading the
    pre-evolution schema). Append-time evolution already lets NEW runs
    carry new columns with old runs decoding NULL — add_column is for
    the other direction: a derived/backfilled value materialized across
    ALL existing rows (e.g. a quality score or token count computed once
    instead of per query). Raises if the column already exists."""
    run_id = run_id or uuid.uuid4().hex[:12]
    snap = _Snapshot.read(spark, dst)
    if name in dict(snap.layout()):
        raise ValueError(f"column {name!r} already exists in {dst}")
    tpairs = sorted(snap.live)
    if not tpairs:
        return {"run_id": run_id, "parts_rewritten": 0, "rows": 0}

    def transform(d: DataFrame) -> DataFrame:
        return d.withColumn(name, F.expr(expr))

    old_rows, new_rows = _rewrite_parts(spark, snap, cfg, run_id, tpairs,
                                        transform=transform)
    return {"run_id": run_id, "parts_rewritten": len(tpairs),
            "rows": int(new_rows)}


def drop_column(spark: SparkSession, dst: str, name: str,
                cfg: EncodeConfig, run_id: str | None = None) -> dict:
    """ALTER TABLE DROP COLUMN (CoW): rewrite every live part without
    ``name`` — one atomic ``replaces`` manifest append; old snapshots
    still time-travel to the full schema. For a metadata-only drop
    (no rewrite), read through ``decode_dataset(columns=...)`` instead —
    this op is for physically reclaiming the column's bytes."""
    run_id = run_id or uuid.uuid4().hex[:12]
    snap = _Snapshot.read(spark, dst)
    tpairs = sorted(snap.live)
    if not tpairs:
        return {"run_id": run_id, "parts_rewritten": 0, "rows": 0}

    def transform(d: DataFrame) -> DataFrame:
        if name not in d.columns:
            raise ValueError(f"column {name!r} not present")
        return d.drop(name)

    old_rows, new_rows = _rewrite_parts(spark, snap, cfg, run_id, tpairs,
                                        transform=transform)
    return {"run_id": run_id, "parts_rewritten": len(tpairs),
            "rows": int(new_rows)}


def column_stats_fast(pages: DataFrame, column: str,
                      columns: list[tuple[str, str]] | None = None
                      ) -> DataFrame:
    """count/min/max of one column WITHOUT reading any page blob — the
    O(metadata) aggregate path a 100 TB table needs for planner-style
    questions. Sources of exactness:

    - ``n`` (non-null count): sum(num_values - null_count) over the
      column's pages, minus the popcounts of any deletion-vector
      sidecars riding the frame (their ``null_count`` field carries
      n_del). Exact — except when deletes AND column nulls coexist (a
      deleted row might be one of the nulls), where ``n`` comes back
      NULL for the caller to fall back.
    - ``min_v``/``max_v``: aggregated from the per-page zone maps, which
      store EXACT page min/max. Legal only when every page with present
      values carries a zone (numeric/ts/date columns always do;
      NaN-bearing float pages and long strings record "unknown") AND no
      deletion vectors exist (a deleted row could be the extremum).
      When not legal the min/max columns come back NULL — the caller
      falls back to ``scan_column``; the count stays exact either way.
    """
    tag = _column_tag(pages, column, columns)
    cast = _zone_cast(tag)
    hot = pages.filter((F.col("column") == column) & (F.col("col_idx") >= 0))
    dels = pages.filter(F.col("codec") == DELETE_CODEC)
    dkeys = ([F.col("part_id"), F.col("run_id")]
             if "run_id" in pages.columns else [F.col("part_id")])
    drow = dels.agg(F.coalesce(F.sum("null_count"), F.lit(0)).alias("nd"),
                    F.count("*").alias("rows"),
                    F.count_distinct(*dkeys).alias("uniq")).collect()[0]
    n_del = int(drow["nd"])
    has_dels = bool(n_del)
    # >1 delete sidecar on one (part, run) may mark OVERLAPPING rows:
    # decode ORs the bitmaps but sum(n_del) double-counts — count blind
    del_overlap = int(drow["rows"]) > int(drow["uniq"])
    mn = F.col("min_v").cast(cast) if cast else F.col("min_v")
    mx = F.col("max_v").cast(cast) if cast else F.col("max_v")
    agg = hot.agg(
        (F.coalesce(F.sum(F.col("num_values") - F.col("null_count")),
                    F.lit(0)) - F.lit(int(n_del))).alias("n"),
        F.coalesce(F.sum("null_count"), F.lit(0)).alias("nulls"),
        F.min(mn).alias("zmin"), F.max(mx).alias("zmax"),
        F.max(F.when(F.col("min_v").isNull()
                     & (F.col("null_count") < F.col("num_values")), 1)
              .otherwise(0)).alias("unknown"))
    blind = F.col("unknown") == 1
    n_blind = F.lit(False)
    if has_dels:
        blind = F.lit(True)
        n_blind = (F.col("nulls") > 0) | F.lit(del_overlap)
    return agg.select(
        F.when(~n_blind, F.col("n")).cast("long").alias("n"),
        F.when(~blind, F.col("zmin")).alias("min_v"),
        F.when(~blind, F.col("zmax")).alias("max_v"))


def column_agg_fast(pages: DataFrame, column: str,
                    columns: list[tuple[str, str]] | None = None
                    ) -> DataFrame:
    """count/nulls/SUM/AVG/min/max of one column WITHOUT reading any page
    blob — extends :func:`column_stats_fast` with the exact-sum path over
    the ``__agg__`` sidecar rows the encode kernel writes per
    (part, column) for integer/bool/timestamp/date/decimal columns.

    Sum legality (else ``sum_v``/``avg_v``/``nulls`` come back NULL and
    the caller falls back to a real scan):

    - every part holding data pages for the column must carry at least
      one ``__agg__`` row (pre-sidecar datasets, or non-summable tags
      like float/string, fail this — absence means scan, never a wrong
      number);
    - no deletion vectors may exist (a deleted row's value is still
      inside the stored sums).

    Sums are aggregated in decimal(38,0) (decimal columns: scale-aware
    decimal(38,s)) — exact for 10^12 rows of any int64 values; ``avg_v``
    is sum/count in double. ``n``/``min_v``/``max_v`` keep
    :func:`column_stats_fast` semantics and blindness rules. The whole
    answer — legality checks included — is ONE metadata-only Spark job
    (conditional aggregates over the page frame), so the wall is a
    metadata scan, not five job launches. Result: one row
    (n, nulls, sum_v, avg_v, min_v, max_v)."""
    tag = _column_tag(pages, column, columns)
    sum_t = "decimal(38,0)"
    if pagecodec.is_dec(tag):
        sum_t = f"decimal(38,{pagecodec.dec_precision_scale(tag)[1]})"
    cast = _zone_cast(tag)
    rel = pages.filter((F.col("column") == column)
                       | (F.col("codec") == DELETE_CODEC))
    is_data = (F.col("col_idx") >= 0) & (F.col("column") == column)
    is_agg = F.col("codec") == "__agg__"
    is_del = F.col("codec") == DELETE_CODEC
    mn = F.col("min_v").cast(cast) if cast else F.col("min_v")
    mx = F.col("max_v").cast(cast) if cast else F.col("max_v")
    # two-level aggregation: per-part partials (every measure here is
    # distributive), then one global combine — a single tiny shuffle,
    # no multi-distinct Expand; per-part has_data/has_agg flags make the
    # coverage check a max() instead of two count_distincts. Grouping
    # MUST include run_id when present: appended runs reuse the hash
    # part-id space, so a part_id can hold a pre-sidecar run AND a
    # sidecar-bearing run — part_id-only coverage would call that
    # covered and return a silently partial sum.
    gkeys = _pair_keys(pages)
    per = rel.groupBy(*gkeys).agg(
        F.coalesce(F.sum(F.when(is_data, F.col("num_values")
                                - F.col("null_count"))),
                   F.lit(0)).alias("present"),
        F.coalesce(F.sum(F.when(is_data, F.col("null_count"))),
                   F.lit(0)).alias("nulls_d"),
        F.min(F.when(is_data, mn)).alias("zmin"),
        F.max(F.when(is_data, mx)).alias("zmax"),
        # any data page with present values but an unknown zone (NaN
        # floats, long strings) blinds min/max — same rule as
        # column_stats_fast
        F.max(F.when(is_data & F.col("min_v").isNull()
                     & (F.col("null_count") < F.col("num_values")), 1)
              .otherwise(0)).alias("unknown"),
        F.coalesce(F.sum(F.when(is_del, F.col("null_count"))),
                   F.lit(0)).alias("n_del"),
        F.max(F.when(is_del, 1).otherwise(0)).alias("has_dels"),
        # >1 delete sidecar on one (part, run) may mark OVERLAPPING rows:
        # decode ORs the bitmaps but sum(n_del) would double-count, so
        # the count goes blind instead of wrong
        F.coalesce(F.sum(F.when(is_del, 1)), F.lit(0)).alias("del_rows"),
        F.sum(F.when(is_agg, F.col("min_v").cast(sum_t))).alias("sum_v"),
        F.coalesce(F.sum(F.when(is_agg, F.col("num_values"))),
                   F.lit(0)).alias("n_summed"),
        F.coalesce(F.sum(F.when(is_agg, F.col("null_count"))),
                   F.lit(0)).alias("nulls_a"),
        F.max(F.when(is_data, 1).otherwise(0)).alias("has_data"),
        F.max(F.when(is_agg, 1).otherwise(0)).alias("has_agg"))
    a = per.agg(
        F.coalesce(F.sum("present"), F.lit(0)).alias("present"),
        F.coalesce(F.sum("nulls_d"), F.lit(0)).alias("nulls_d"),
        F.min("zmin").alias("zmin"), F.max("zmax").alias("zmax"),
        F.coalesce(F.max("unknown"), F.lit(0)).alias("unknown"),
        F.coalesce(F.sum("n_del"), F.lit(0)).alias("n_del"),
        F.coalesce(F.max("has_dels"), F.lit(0)).alias("has_dels"),
        F.coalesce(F.max("del_rows"), F.lit(0)).alias("max_del_rows"),
        F.sum("sum_v").alias("sum_v"),
        F.coalesce(F.sum("n_summed"), F.lit(0)).alias("n_summed"),
        F.coalesce(F.sum("nulls_a"), F.lit(0)).alias("nulls_a"),
        F.coalesce(F.max(F.when((F.col("has_data") == 1)
                                & (F.col("has_agg") == 0), 1)
                         .otherwise(0)), F.lit(0)).alias("uncovered"))
    has_dels = F.col("has_dels") == 1
    n_blind = has_dels & ((F.col("nulls_d") > 0)
                          | (F.col("max_del_rows") > 1))
    mm_blind = (F.col("unknown") == 1) | has_dels
    sum_ok = (~has_dels) & (F.col("uncovered") == 0)
    return a.select(
        F.when(~n_blind, F.col("present") - F.col("n_del"))
         .cast("long").alias("n"),
        F.when(sum_ok, F.col("nulls_a")).cast("long").alias("nulls"),
        F.when(sum_ok, F.col("sum_v")).alias("sum_v"),
        F.when(sum_ok & (F.col("n_summed") > 0),
               F.col("sum_v").cast("double") / F.col("n_summed"))
         .alias("avg_v"),
        F.when(~mm_blind, F.col("zmin")).alias("min_v"),
        F.when(~mm_blind, F.col("zmax")).alias("max_v"))


def upsert(spark: SparkSession, df: DataFrame, dst: str, cfg: EncodeConfig,
           key: str, run_id: str | None = None) -> dict:
    """MERGE-style upsert: rows of ``df`` REPLACE existing rows with the
    same ``key`` value and new keys append — composed from the engine's
    own primitives: one deletion-vector pass over the key column
    (bloom-pruned when indexed) + one append run. Both halves are
    individually crash-safe; a crash between them leaves the deletes
    committed and the append absent — rerunning the same upsert
    (idempotent delete, fresh append run) converges.

    The key column should be in ``cfg.bloom_cols`` so the delete pass
    prunes instead of scanning every part. The key list of the upsert
    BATCH (not the table) comes to the driver — upsert batches are
    incremental by nature; bulk rewrites belong to purge/compact. That
    contract is ENFORCED: more than ``_MAX_LITERAL_PRUNE`` distinct keys
    in one batch raises before anything is collected (an accidental
    whole-table upsert would otherwise OOM the driver) — split the
    batch, or use rewrite_dataset/purge for bulk replacement."""
    kdf = df.select(key).distinct()
    keys = [r[0] for r in kdf.limit(_MAX_LITERAL_PRUNE + 1).collect()]
    if len(keys) > _MAX_LITERAL_PRUNE:
        raise ValueError(
            f"upsert batch has more than {_MAX_LITERAL_PRUNE} distinct "
            f"'{key}' values; upsert is for incremental batches (the key "
            "set is collected to the driver for bloom/zone pruning). "
            "Split the batch or rebuild via rewrite_dataset/purge.")
    dstats = delete_where_in(spark, dst, key, keys)
    astats = run_encode(spark, df, dst, cfg, run_id=run_id, resume=False)
    return {"rows_replaced": dstats.get("rows_deleted", 0),
            "delete_id": dstats.get("delete_id"),
            "run_id": astats["run_id"],
            "dataset_rows": astats["rows"]}


def column_ndv_fast(pages: DataFrame, column: str) -> dict | None:
    """Approximate distinct-value count of one column WITHOUT reading
    any page blob — merges the per-(part, column) HyperLogLog sidecars
    the encode kernel writes (register-wise max, the textbook HLL merge,
    so the estimate over N parts equals the estimate of one big sketch).
    Planner-grade NDV at O(4 KiB x parts) metadata cost.

    Spark shape: a mapInPandas partial merge per task (each task emits
    ONE 4 KiB register blob), final merge + estimate driver-side — the
    same metadata-sized-driver-traffic pattern as ivf_train; no
    .collect() of per-part rows. Returns
    {"ndv": float, "parts": int, "n_hashed": int}, or None when the
    column carries no sketch (string columns outside bloom_cols and
    cfg.ndv_cols, float/array columns, pre-sidecar datasets) OR when ANY
    part holding
    data pages lacks one (e.g. bloom_cols changed between appends) — a
    partial sketch would silently undercount, so absence at part
    granularity means "run the exact countDistinct", never a wrong
    number. Deletion vectors do NOT blind the sketch (NDV of stored
    values; deleted rows may still be counted — documented upper-bound
    semantics)."""
    import pandas as pd
    snap = _snapshot_of(pages)
    if (snap.zone_pairs(column, None, None, None)       # pairs with pages
            - snap.sidecar_pairs(column, "__hll__")):
        return None
    rows = pages.filter((F.col("codec") == "__hll__")
                        & (F.col("column") == column)) \
                .select("data", "num_values")

    def partial(batches):
        acc = None
        parts = 0
        n = 0
        for pdf in batches:
            for b, nv in zip(pdf["data"], pdf["num_values"]):
                r = np.frombuffer(b, dtype=np.uint8)
                acc = r.copy() if acc is None else np.maximum(acc, r)
                parts += 1
                n += int(nv)
        if acc is not None:
            yield pd.DataFrame({"reg": [acc.tobytes()],
                                "parts": [parts], "n": [n]})

    merged = rows.mapInPandas(
        partial, "reg binary, parts long, n long").collect()
    if not merged:
        return None
    acc = None
    parts = 0
    n = 0
    for r in merged:
        reg = np.frombuffer(r["reg"], dtype=np.uint8)
        acc = reg.copy() if acc is None else np.maximum(acc, reg)
        parts += int(r["parts"])
        n += int(r["n"])
    return {"ndv": _hll_estimate(acc), "parts": parts, "n_hashed": n}


def update_where(spark: SparkSession, dst: str, column: str, values: list,
                 set_exprs: dict[str, str], cfg: EncodeConfig,
                 run_id: str | None = None) -> dict:
    """Row-level ``UPDATE ... SET`` (copy-on-write, the Delta/Iceberg CoW
    UPDATE analogue): parts that may contain rows where ``column IN
    values`` are decoded (deletion vectors applied), matching rows get
    ``set_exprs`` (target column -> SQL expression, every RHS evaluated
    over the PRE-update row — standard UPDATE semantics via one
    simultaneous projection), unmatched rows pass through byte-identical,
    and the parts are re-encoded in a fresh run that supersedes the
    originals via ONE ``replaces`` manifest append. ATOMIC: a crash
    before that single append leaves harmless orphan pages (vacuum
    reclaims them), never a half-updated table — no deletion-vector /
    append ordering window to reason about.

    Part discovery is index-pruned with the absence-means-scan contract:
    bloom MAYBE-hits plus every part carrying no bloom row for the
    column; without any bloom index this is a full-table rewrite — the
    same trade as an unindexed UPDATE on any CoW lakehouse. A pruned-in
    part with no actual match is rewritten unchanged (correct, just
    write amplification bounded by the bloom false-positive rate)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    if not values or not set_exprs:
        return {"parts_rewritten": 0, "rows_updated": 0, "rows": 0,
                "run_id": None}
    # live pages INCLUDING deletion-vector rows: the updated-row count
    # must not count rows already deleted (decode_table applies them)
    pages = read_live_pages(spark, dst)
    snap = pages._cps_snapshot
    allp = snap.zone_pairs(column, None, None, None)   # pairs with pages
    surv = snap.bloom_pairs(column, values)
    tpairs = sorted(allp if surv is None else surv & allp)
    if not tpairs:
        return {"parts_rewritten": 0, "rows_updated": 0, "rows": 0,
                "run_id": None}
    match = F.col(column).isin(values)
    # exact updated-row count from the predicate column alone (one
    # narrow decode of the candidate parts' predicate pages)
    cand_pages = _keep_parts(pages, set(tpairs), snap.keys)
    tag = _column_tag(pages, column, None)
    pred = decode_table(
        cand_pages.filter(((F.col("column") == column)
                           & (F.col("col_idx") >= 0))
                          | (F.col("codec") == DELETE_CODEC)),
        spark, columns=[(column, tag)])
    n_upd = pred.filter(match).count()

    def transform(d: DataFrame) -> DataFrame:
        return d.withColumns({c: F.when(match, F.expr(e))
                              .otherwise(F.col(c))
                              for c, e in set_exprs.items()})

    old_rows, new_rows = _rewrite_parts(spark, snap, cfg, run_id, tpairs,
                                        transform=transform)
    return {"parts_rewritten": len(tpairs), "rows_updated": int(n_upd),
            "rows": int(new_rows), "run_id": run_id}


def vacuum(spark: SparkSession, dst: str,
           retain_hours: float = 168.0) -> dict:
    """Physically remove page files no snapshot inside the retention
    window can reference (the Delta VACUUM trade: time travel keeps
    working within ``retain_hours``; older snapshots are given up).

    Removal unit is a ``pages/run_id=<id>/`` directory: pages parquet is
    partitioned by run only, so a run's files are removable exactly when
    EVERY (part_id, run_id) of the run is superseded (compaction or
    purge tombstones) and its LAST part's supersession committed more
    than ``retain_hours`` ago. Manifest rows stay (history() still lists
    the run); delete sidecars stay too — they are metadata-sized and
    drop out of reads via the live-manifest join."""
    import datetime

    m = _read_manifest(spark, dst)
    cutoff = (datetime.datetime.now()
              - datetime.timedelta(hours=retain_hours))
    # (part, run) -> earliest supersession commit time
    tomb = (m.filter(F.col("replaces").isNotNull())
            .select(F.explode("replaces").alias("t"), "committed_at")
            .select(F.col("t.part_id").alias("part_id"),
                    F.col("t.run_id").alias("run_id"),
                    F.col("committed_at").alias("superseded_at"))
            .groupBy("part_id", "run_id")
            .agg(F.min("superseded_at").alias("superseded_at")))
    per_run = (m.select("part_id", "run_id", "enc_bytes")
               .join(tomb, ["part_id", "run_id"], "left")
               .groupBy("run_id")
               .agg(F.count("*").alias("parts"),
                    F.count("superseded_at").alias("superseded"),
                    F.max("superseded_at").alias("last_superseded_at"),
                    F.sum("enc_bytes").alias("enc_bytes"))
               .filter((F.col("parts") == F.col("superseded"))
                       & (F.col("last_superseded_at")
                          <= F.lit(cutoff).cast("timestamp")))
               .collect())
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    removed, freed = [], 0
    for r in per_run:
        p = jvm.org.apache.hadoop.fs.Path(
            os.path.join(dst, "pages", f"run_id={r['run_id']}"))
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(r["run_id"])
            freed += int(r["enc_bytes"] or 0)
    # orphan cleanup: a crashed attempt writes pages/run_id=<id>/ but
    # never commits a manifest row — reads already ignore it (manifest
    # semi join), and nothing else would ever reclaim the bytes. The
    # retention window (dir modification time) protects an attempt whose
    # manifest append is in flight RIGHT NOW.
    known = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    pages_root = jvm.org.apache.hadoop.fs.Path(os.path.join(dst, "pages"))
    fs = pages_root.getFileSystem(conf)
    orphans = []
    if fs.exists(pages_root):
        cutoff_ms = int(cutoff.timestamp() * 1000)
        for st in fs.listStatus(pages_root):
            name = st.getPath().getName()
            if not name.startswith("run_id="):
                continue
            rid = name.split("=", 1)[1]
            if rid not in known and st.getModificationTime() <= cutoff_ms:
                fs.delete(st.getPath(), True)
                orphans.append(rid)
    return {"runs_removed": sorted(removed), "bytes_freed": freed,
            "orphans_removed": sorted(orphans)}


def register_sql(spark: SparkSession, dst: str,
                 view: str | None = None, as_of=None) -> str:
    """SQL front door: register a durable dataset as a temp view so
    plain ``spark.sql("SELECT ... FROM <view>")`` runs against encoded
    pages (decode happens lazily inside the view's plan; Catalyst prunes
    and pushes around it as usual). The view name defaults to the
    manifest's table name. ``as_of`` registers a time-travel snapshot
    view instead of the current state. Returns the view name."""
    name = view or next(t for t in _Snapshot.read(
        spark, dst, deletes=False).manifest["table"].to_pylist() if t)
    decode_dataset(spark, dst, as_of=as_of).createOrReplaceTempView(name)
    return name


def reconcile_manifests(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cross-attempt set-op audit (SURVEY.md §2.3): manifest rows on which
    two encode attempts DISAGREE, over the deterministic fields only
    (run_id / committed_at / wall time legitimately differ per attempt).

    ``exceptAll`` both ways + ``unionByName`` with a ``side`` tag; an
    empty result proves the attempts produced identical logical output —
    the production-side check of the determinism guarantee that pytest
    pins in tests/test_resume.py (SURVEY.md §7 M5)."""
    keys = ["table", "part_id", "num_pages", "num_rows",
            "raw_bytes", "enc_bytes", "codecs", "columns"]
    da, db = a.select(*keys), b.select(*keys)
    return (da.exceptAll(db).withColumn("side", F.lit("a"))
            .unionByName(db.exceptAll(da).withColumn("side", F.lit("b"))))


def verify_roundtrip(orig: DataFrame, decoded: DataFrame, col: str) -> dict:
    """Multiset sha256 comparison on one column (BASELINE.json:15 invariant).

    Equal (hash, count) sets <=> the decoded multiset of values is
    bit-identical to the source's."""
    def hist(d: DataFrame) -> DataFrame:
        dt = d.schema[col].dataType
        c = F.col(col)
        if not isinstance(dt, (T.StringType, T.BinaryType)):
            c = c.cast("string")  # canonical text form for non-binary types
        # NULL hashes need a sentinel: SQL joins never match NULL keys
        h = F.coalesce(F.sha2(c.cast("binary"), 256), F.lit("<NULL>"))
        return d.select(h.alias("h")).groupBy("h").agg(F.count("*").alias("c"))
    a, b = hist(orig), hist(decoded)
    joined = a.alias("a").join(b.alias("b"), "h", "full_outer")
    bad = joined.filter(
        F.coalesce(F.col("a.c"), F.lit(-1)) != F.coalesce(F.col("b.c"), F.lit(-2))
    ).count()
    total = orig.count()
    return {"rows": total, "mismatched_hashes": bad,
            "sha256_match_rate": 1.0 if bad == 0 else
            max(0.0, 1.0 - bad / max(total, 1))}


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)

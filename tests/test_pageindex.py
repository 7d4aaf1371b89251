"""Parquet PageIndex (ColumnIndex / OffsetIndex) conformance.

Both directions: pyarrow-written page indexes parse through our minimal
Thrift reader and drive a correct page-pruned read via our kernels; our
writer's indexes are read back by our parser AND pyarrow's metadata
reader acknowledges them (has_column_index), while the data remains
byte-exactly readable by pyarrow."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cpp_parquet_spark import interop


def _fixture(n=20000, nulls=True):
    vals = np.sort(np.random.RandomState(3).randint(0, 10**6, n)) \
        .astype(np.int64)
    if nulls:
        obj = vals.astype(object)
        obj[::171] = None
        arr = pa.array(list(obj), pa.int64())
    else:
        arr = pa.array(vals)
    txt = pa.array([f"w{v:06d}" for v in vals])
    return vals, arr, txt


def test_pyarrow_index_parses_and_prunes(tmp_path):
    vals, arr, txt = _fixture()
    p = str(tmp_path / "pa.parquet")
    pq.write_table(pa.table({"v": arr, "s": txt}), p, compression="NONE",
                   use_dictionary=False, data_page_size=4096,
                   write_page_index=True)
    idx = interop.read_page_index(p)
    ent = idx["v"]
    assert len(ent["pages"]) > 3
    assert ent["boundary_order"] == interop.BOUNDARY_ASC
    assert sum(ent["null_counts"]) == arr.null_count
    lo, hi = 200000, 300000
    got, nk, npg = interop.read_column_pruned(p, "v", lo, hi)
    assert 0 < nk < npg
    g = np.array([x for x in got.to_pylist() if x is not None])
    mask = np.ones(len(vals), bool)
    mask[::171] = False
    exp = vals[mask & (vals >= lo) & (vals <= hi)]
    assert np.array_equal(np.sort(g[(g >= lo) & (g <= hi)]), exp)


@pytest.mark.parametrize("comp", [None, "zstd", "snappy"])
def test_our_index_roundtrip_and_pyarrow_acknowledges(tmp_path, comp):
    vals, arr, txt = _fixture()
    p = str(tmp_path / f"ours_{comp}.parquet")
    interop.write_parquet(p, {"v": arr, "s": txt}, page_rows=1000,
                          page_index=True, compression=comp)
    t = pq.read_table(p)
    assert t.column("v").combine_chunks().cast(arr.type).equals(arr)
    assert t.column("s").combine_chunks().cast(txt.type).equals(txt)
    f = pq.ParquetFile(p)
    col = f.metadata.row_group(0).column(0)
    assert col.has_column_index
    idx = interop.read_page_index(p)
    assert len(idx["v"]["pages"]) == 20
    assert idx["v"]["boundary_order"] == interop.BOUNDARY_ASC
    got, nk, npg = interop.read_column_pruned(p, "s",
                                              b"w200000", b"w300000")
    assert 0 < nk < npg
    ss = sorted(x for x in got.to_pylist()
                if x and "w200000" <= x <= "w300000")
    es = sorted(x for x in txt.to_pylist() if "w200000" <= x <= "w300000")
    assert ss == es


def test_all_null_page_and_descending(tmp_path):
    n = 300
    desc = np.arange(n, 0, -1, dtype=np.int64).astype(object)
    desc[100:200] = None                        # one fully-null page
    arr = pa.array(list(desc), pa.int64())
    p = str(tmp_path / "desc.parquet")
    interop.write_parquet(p, {"v": arr}, page_rows=100, page_index=True)
    idx = interop.read_page_index(p)["v"]
    assert idx["null_pages"] == [False, True, False]
    assert idx["boundary_order"] == interop.BOUNDARY_DESC
    got, nk, npg = interop.read_column_pruned(p, "v", 250, 260)
    assert (nk, npg) == (1, 3)
    g = [x for x in got.to_pylist() if x is not None and 250 <= x <= 260]
    assert sorted(g) == list(range(250, 261))
    # a window no page can satisfy reads nothing
    got2, nk2, _ = interop.read_column_pruned(p, "v", 10**9, 2 * 10**9)
    assert nk2 == 0 and len(got2) == 0


def test_unordered_boundary(tmp_path):
    rng = np.random.RandomState(11)
    arr = pa.array(rng.randint(0, 1000, 400))
    p = str(tmp_path / "u.parquet")
    interop.write_parquet(p, {"v": arr}, page_rows=100, page_index=True)
    assert interop.read_page_index(p)["v"]["boundary_order"] == \
        interop.BOUNDARY_UNORDERED


def test_multi_row_group_roundtrip_and_stats(tmp_path):
    vals, arr, txt = _fixture()
    p = str(tmp_path / "mrg.parquet")
    interop.write_parquet(p, {"v": arr, "s": txt}, row_group_rows=5000,
                          page_rows=1000, page_index=True,
                          statistics=True, compression="zstd")
    t = pq.read_table(p)
    assert t.column("v").combine_chunks().cast(arr.type).equals(arr)
    assert t.column("s").combine_chunks().cast(txt.type).equals(txt)
    md = pq.ParquetFile(p).metadata
    assert md.num_row_groups == 4
    # pyarrow must surface and agree with OUR Statistics per row group
    import pyarrow.compute as pc
    for i in range(4):
        st = md.row_group(i).column(0).statistics
        win = arr.slice(i * 5000, 5000)
        mm = pc.min_max(win.drop_null())
        assert st.has_min_max
        assert st.min == mm["min"].as_py() and st.max == mm["max"].as_py()
        assert st.null_count == win.null_count
    # our reader concatenates all row groups
    back = interop.read_parquet_with_our_codecs(p)
    assert back["v"].cast(arr.type).equals(arr)
    # page index accumulates across row groups; pruning stays correct
    idx = interop.read_page_index(p)
    assert len(idx["v"]["pages"]) == 20
    got, nk, npg = interop.read_column_pruned(p, "v", 200000, 300000)
    assert 0 < nk < npg == 20
    g = np.array([x for x in got.to_pylist() if x is not None])
    mask = np.ones(len(vals), bool)
    mask[::171] = False
    exp = vals[mask & (vals >= 200000) & (vals <= 300000)]
    assert np.array_equal(np.sort(g[(g >= 200000) & (g <= 300000)]), exp)


def test_pyarrow_multi_row_group_files_read_fully(tmp_path):
    # regression: the reader used to keep only the LAST row group
    arr = pa.array(np.arange(1000, dtype=np.int64))
    ls = pa.array([[i, i + 1] if i % 7 else None for i in range(1000)],
                  pa.list_(pa.int64()))
    p = str(tmp_path / "pamrg.parquet")
    pq.write_table(pa.table({"v": arr, "l": ls}), p, compression="zstd",
                   row_group_size=100)
    out = interop.read_parquet_with_our_codecs(p)
    assert out["v"].cast(arr.type).equals(arr)
    assert out["l"].cast(ls.type).equals(ls)


def test_pruned_read_uses_each_row_groups_own_dictionary(tmp_path):
    # dict-encoded column split across row groups: every row group has
    # its OWN dictionary page; pruning must pair pages with the right one
    n = 10000
    vals = np.sort(np.random.RandomState(5).randint(0, 10**6, n)) \
        .astype(np.int64)
    txt = pa.array([f"w{v:06d}" for v in vals])
    p = str(tmp_path / "padict.parquet")
    pq.write_table(pa.table({"s": txt}), p, compression="NONE",
                   row_group_size=2500, data_page_size=4096,
                   write_page_index=True)
    got, nk, npg = interop.read_column_pruned(p, "s", "w200000", "w300000")
    assert 0 < nk < npg
    ss = sorted(x for x in got.to_pylist()
                if x and "w200000" <= x <= "w300000")
    es = sorted(x for x in txt.to_pylist() if "w200000" <= x <= "w300000")
    assert ss == es


def test_delta_length_string_pages_roundtrip(tmp_path):
    # string_encoding="delta_length": v1 pages whose value section is
    # DELTA_LENGTH_BYTE_ARRAY — pyarrow reads them, our reader and the
    # page-pruned read decode them vectorized
    txt = pa.array([f"value {i:05d} {'x' * (i % 37)}" for i in range(5000)])
    p = str(tmp_path / "dlba.parquet")
    interop.write_parquet(p, {"s": txt}, page_rows=500, page_index=True,
                          statistics=True, string_encoding="delta_length")
    t = pq.read_table(p)
    assert t.column("s").combine_chunks().cast(txt.type).equals(txt)
    back = interop.read_parquet_with_our_codecs(p)
    assert back["s"].cast(txt.type).equals(txt)
    got, nk, npg = interop.read_column_pruned(
        p, "s", "value 01000", "value 01999")
    assert 0 < nk < npg
    ss = sorted(x for x in got.to_pylist()
                if "value 01000" <= x <= "value 01999")
    es = sorted(x for x in txt.to_pylist()
                if "value 01000" <= x <= "value 01999")
    assert ss == es


def test_pruned_read_delta_and_float_pages(tmp_path):
    # pyarrow v2 DELTA_BINARY_PACKED ints + BYTE_STREAM_SPLIT floats
    # with a page index: the pruned read must decode those encodings too
    n = 8000
    # sorted with random gaps: DBP deltas stay ~7 bits, so the encoded
    # stream is big enough to split into multiple pages at 2 KiB
    vals = np.cumsum(np.random.RandomState(9).randint(1, 100, n)) \
        .astype(np.int64)
    fl = (np.arange(n, dtype=np.float64) / 7.0)
    p = str(tmp_path / "v2enc.parquet")
    pq.write_table(
        pa.table({"v": pa.array(vals), "f": pa.array(fl)}), p,
        compression="NONE", use_dictionary=False,
        data_page_version="2.0", data_page_size=2048,
        column_encoding={"v": "DELTA_BINARY_PACKED",
                         "f": "BYTE_STREAM_SPLIT"},
        write_page_index=True)
    lo, hi = int(vals[2000]), int(vals[3000])
    got, nk, npg = interop.read_column_pruned(p, "v", lo, hi)
    assert 0 < nk < npg
    g = np.array(got.to_pylist())
    exp = vals[(vals >= lo) & (vals <= hi)]
    assert np.array_equal(np.sort(g[(g >= lo) & (g <= hi)]), exp)
    gotf, nkf, npf = interop.read_column_pruned(p, "f", 100.0, 200.0)
    assert 0 < nkf < npf
    gf = np.array(gotf.to_pylist())
    expf = fl[(fl >= 100.0) & (fl <= 200.0)]
    assert np.array_equal(np.sort(gf[(gf >= 100.0) & (gf <= 200.0)]), expf)


def test_read_column_pruned_not_shadowed_by_nested_leaf(tmp_path):
    # a struct FIELD named like a flat column must not hijack the flat
    # column's SchemaElement (physical-type resolution walks the full
    # dotted path, not bare leaf names)
    import pyarrow as pa
    from cpp_parquet_spark import interop
    n = 200
    v = pa.array(list(range(n)), pa.int64())
    st = pa.StructArray.from_arrays(
        [pa.array([f"x{i}" for i in range(n)], pa.string())], names=["v"])
    p = str(tmp_path / "shadow.parquet")
    interop.write_parquet(p, {"v": v, "s": st},
                          page_rows=25, page_index=True)
    vals, pages_read, pages_total = interop.read_column_pruned(
        p, "v", 50, 99)
    assert pages_total == 8 and pages_read < pages_total
    got = [x for x in vals.to_pylist() if x is not None and 50 <= x <= 99]
    assert got == list(range(50, 100))


@pytest.mark.parametrize("dictionary", [False, True])
def test_read_rows_decodes_only_the_pages_holding_them(tmp_path, dictionary):
    """interop.read_rows: the values at chosen file rows, across row
    groups and pages, binary blobs (not UTF8) and nullable strings, with
    and without dictionary pages — equal to pyarrow's own read."""
    rng = np.random.RandomState(5)
    n = 6000
    blobs = [bytes(rng.randint(0, 256, rng.randint(0, 40), np.uint8))
             for _ in range(n)]
    txt = [None if i % 7 == 0 else f"t{i % 50}" for i in range(n)]
    tbl = pa.table({"b": pa.array(blobs, pa.binary()),
                    "s": pa.array(txt, pa.string())})
    p = str(tmp_path / "rows.parquet")
    pq.write_table(tbl, p, compression="snappy", use_dictionary=dictionary,
                   data_page_size=2048, row_group_size=2500,
                   write_page_index=True)
    assert len(interop.read_page_index(p)["b"]["pages"]) > 6
    rows = np.sort(rng.choice(n, 40, replace=False))
    for col in ("b", "s"):
        got = interop.read_rows(p, col, rows)
        want = tbl.column(col).take(pa.array(rows))
        assert got.to_pylist() == want.to_pylist()
    assert pa.types.is_large_binary(interop.read_rows(p, "b", rows[:1]).type)
    assert interop.read_rows(p, "b", []).to_pylist() == []

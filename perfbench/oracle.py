"""Expected results computed apart from the engine.

Two checks, both independent of ``cpp_parquet_spark``:

* a row-hash multiset ``(count, sum of xxhash64 over every column)``
  taken by Spark's own parquet reader over the generated input, minus the
  deleted rows; full scans, compaction (read back by the full scan) and
  the standard-parquet round trip must reproduce it;
* pyarrow filters over the generated input table; lookups, ranges,
  deletes and the exported files must reproduce those rows exactly.

The sum runs in decimal(20, 0), so it cannot overflow (Spark's ANSI
mode refuses a wrapping ``bigint`` sum) and a changed value moves it.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


def spark_multiset(df, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of per-row xxhash64) of a Spark DataFrame."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(20,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _canon_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pa.large_string()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us", tz="UTC")
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_canon_type(t.value_type))
    return t


def canon(tbl: pa.Table, cols: list[str], key: str) -> pa.Table:
    """``tbl`` projected to ``cols``, types unified (string widths,
    timestamp zone) and sorted on the unique column ``key``."""
    tbl = tbl.select(cols)
    tbl = tbl.cast(pa.schema([(f.name, _canon_type(f.type)) for f in tbl.schema]))
    return tbl.sort_by([(key, "ascending")]).combine_chunks()


def same_rows(actual: pa.Table, expected: pa.Table, cols: list[str],
              key: str) -> bool:
    """Exact row-for-row equality after canonicalisation."""
    if actual.num_rows != expected.num_rows:
        return False
    return canon(actual, cols, key).equals(canon(expected, cols, key))


class Oracle:
    """Expected results for one generated input and its deleted keys."""

    def __init__(self, tbl: pa.Table, key: str, unique: str,
                 deleted: list):
        self.cols = tbl.column_names
        self.key = key
        self.unique = unique
        self.input = tbl
        self.deleted = list(deleted)
        gone = pc.is_in(tbl.column(key), value_set=self._values(deleted))
        self.deleted_rows = int(pc.sum(gone).as_py() or 0)
        self.live = tbl.filter(pc.invert(gone))

    def _values(self, values: list) -> pa.Array:
        return pa.array(values, self.input.schema.field(self.key).type)

    def deleted_in(self, values: list) -> int:
        """Rows a delete_where_in(values) must remove from the input."""
        m = pc.is_in(self.input.column(self.key), value_set=self._values(values))
        return int(pc.sum(m).as_py() or 0)

    def lookup(self, value) -> pa.Table:
        return self.live.filter(pc.equal(self.live.column(self.key), value))

    def range(self, column: str, lo, hi) -> pa.Table:
        """Rows with lo <= column <= hi; timestamps compare in epoch
        microseconds, the zone-map domain the engine is given."""
        c = self.live.column(column)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        m = pc.and_(pc.greater_equal(c, lo), pc.less_equal(c, hi))
        return self.live.filter(m)

    def live_multiset(self, spark, input_dir: str) -> tuple[int, int]:
        """The input read by Spark's own parquet reader, minus deleted
        rows, as a row-hash multiset."""
        from pyspark.sql import functions as F
        df = spark.read.parquet(input_dir)
        if self.deleted:
            df = df.filter(~F.col(self.key).isin(self.deleted))
        return spark_multiset(df, self.cols)

    def same(self, actual: pa.Table, expected: pa.Table) -> bool:
        return same_rows(actual, expected, self.cols, self.unique)

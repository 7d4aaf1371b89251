"""Seeded inputs and per-workload settings for the lakehouse benchmark.

Every input derives from ``--seed`` alone: the same seed gives the same
rows, the same append split, the same delete/lookup/range keys. The
engine only ever sees the generated parquet files.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

#: 2024-01-01T00:00:00Z in epoch microseconds
_T0_US = 1_704_067_200_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int                 # timed dataset
    appends: int              # appended runs it is committed as
    key: str                  # lookup / delete / bloom column
    unique: str               # a column unique per row (canonical sort)
    range_col: str            # zone-mapped column of the range windows
    range_buckets: int        # range-clustering buckets
    range_on: str             # clustering column
    salt: tuple               # EncodeConfig.salt_from
    salt_buckets: int
    deleted: int              # keys removed by the delete_where_in call
    row_group_rows: int       # export_parquet row-group size


WORKLOADS = {
    "code_lake": Workload(
        name="code_lake", rows=2400, appends=3,
        key="path", unique="path", range_col="repo", range_buckets=6,
        range_on="repo", salt=("path",), salt_buckets=2,
        deleted=2, row_group_rows=200),
    "event_log": Workload(
        name="event_log", rows=40_000, appends=3,
        key="user_id", unique="event_id", range_col="ts",
        range_buckets=24, range_on="event_id", salt=(), salt_buckets=1,
        deleted=1, row_group_rows=2_500),
}


def code_lake(n: int, seed: int) -> pa.Table:
    """The north-rule source-code table (synth.repofiles)."""
    from cpp_parquet_spark import synth
    return synth.repofiles(n, seed=seed)


_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error",
                         "search", "share", "logout"])
_EVENT_W = np.array([0.40, 0.25, 0.05, 0.02, 0.03, 0.15, 0.05, 0.05])
_SOURCES = np.array(["web", "ios", "android", "api"])


def event_log(n: int, seed: int) -> pa.Table:
    """An event stream shaped like the ``events`` fixture plus an
    ``array<int>`` ``tags`` column; ``ts`` grows with ``event_id``
    (append order), about 20 events per user."""
    rng = np.random.default_rng(seed)
    event_id = np.arange(n, dtype=np.int64)
    gaps = rng.exponential(50_000.0, size=n).astype(np.int64) + 1
    ts = _T0_US + np.cumsum(gaps)
    n_users = max(n // 20, 10)
    user_id = 1_000_000 + rng.integers(0, n_users, size=n, dtype=np.int64)
    etype = _EVENT_TYPES[rng.choice(len(_EVENT_TYPES), size=n,
                                    p=_EVENT_W / _EVENT_W.sum())]
    value = np.round(rng.lognormal(3.0, 1.2, size=n), 2)
    k = rng.integers(0, 100, size=n)
    src = _SOURCES[rng.integers(0, len(_SOURCES), size=n)]
    props = [f'{{"k": {a}, "src": "{b}"}}' for a, b in zip(k.tolist(),
                                                           src.tolist())]
    tag_len = rng.integers(0, 5, size=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(tag_len, out=offsets[1:])
    tag_vals = rng.integers(0, 64, size=int(offsets[-1]), dtype=np.int32)
    tags = pa.ListArray.from_arrays(pa.array(offsets), pa.array(tag_vals))
    return pa.table({
        "event_id": pa.array(event_id),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(user_id),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, pa.string()),
        "tags": tags,
    })


def generate(wl: Workload, n: int, seed: int) -> pa.Table:
    return code_lake(n, seed) if wl.name == "code_lake" else event_log(n, seed)


def write_parquet(tbl: pa.Table, path: str) -> None:
    import pyarrow.parquet as pq
    pq.write_table(tbl, path, row_group_size=4096)


#: share of the rows in the first appended run, the ingest warm-up
WARM_SHARE = 0.05


def append_slices(tbl: pa.Table, appends: int) -> list[pa.Table]:
    """Contiguous row slices, one per appended run: a small first run
    (the warm-up append), then equal runs."""
    n = tbl.num_rows
    first = max(int(n * WARM_SHARE), 1)
    cuts = [0] + np.linspace(first, n, appends).astype(int).tolist()
    return [tbl.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def range_bounds(tbl: pa.Table, wl: Workload) -> tuple:
    """Upper-inclusive cut values equalizing rows per clustering bucket
    (the role of partitioning.plan_range_bounds, computed exactly from
    the generated input so no Spark job runs in set-up)."""
    col = tbl.column(wl.range_on).to_numpy(zero_copy_only=False)
    if wl.range_on == "repo":
        col = np.unique(col)             # string domain: distinct keys
    col = np.sort(col)
    idx = [len(col) * i // wl.range_buckets
           for i in range(1, wl.range_buckets)]
    cuts = [col[i] for i in idx]
    out = []
    for c in cuts:
        c = c.item() if hasattr(c, "item") else c
        if not out or c != out[-1]:
            out.append(str(c) if wl.range_on == "repo" else int(c))
    return tuple(out)


@dataclass
class Keys:
    deleted: list             # keys removed by the delete_where_in call
    lookups: list             # live point-lookup keys, one per round
    ranges: list              # (lo, hi) windows, one per round


def pick_keys(tbl: pa.Table, wl: Workload, seed: int) -> Keys:
    """Seeded keys: the deleted keys, live lookup keys (none of them
    deleted) and range windows in the zone-map domain."""
    rng = np.random.default_rng(seed + 7919)
    keycol = tbl.column(wl.key).to_pylist()
    distinct = sorted(set(keycol))
    picks = rng.choice(len(distinct), size=wl.deleted + 16, replace=False)
    chosen = [distinct[int(i)] for i in picks]
    lookups = chosen[wl.deleted:]
    if wl.range_col == "repo":
        # repo names do not depend on the seed; fixed mid-popularity
        # prefixes keep each window near the same share of rows
        ranges = [(f"org{i}/", f"org{i}/~") for i in range(4, 12)]
    else:
        ts = tbl.column("ts").cast(pa.int64()).to_numpy()
        lo_all, hi_all = int(ts[0]), int(ts[-1])
        width = (hi_all - lo_all) // 64
        starts = rng.integers(lo_all, hi_all - width, size=16)
        ranges = [(int(s), int(s) + width) for s in starts]
    return Keys(deleted=chosen[:wl.deleted], lookups=lookups, ranges=ranges)

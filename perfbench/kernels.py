"""Codec kernels alone, next to pyarrow's C++ parquet writer and reader.

    python3 perfbench/kernels.py --workload event_log --seed 1

Run from the repository root. Single-threaded and in-process: every
legal codec is forced on pages cut from the workload's own input
(``layers.codec_table``), then pyarrow writes and reads the same slices
(``layers.pyarrow_reference``, dictionary on, no compression). MB/s is
raw Arrow bytes per second. No Spark session is started.
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow as pa

import layers
import workloads


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    pa.set_cpu_count(1)
    wl = workloads.WORKLOADS[a.workload]
    tbl = workloads.generate(wl, wl.rows, a.seed)
    print(f"{a.workload}, seed {a.seed}: {layers.KERNEL_ROWS}-row pages, "
          "one thread")
    print(f"{'codec':8s} {'enc MB/s':>9s} {'dec MB/s':>9s} {'ratio':>6s}  columns")
    for c, r in layers.codec_table(tbl).items():
        if not r["raw"]:
            print(f"{c:8s} {'-':>9s} {'-':>9s} {'-':>6s}  (no legal column)")
            continue
        print(f"{c:8s} {r['raw'] / 1e6 / r['enc_s']:9.1f} "
              f"{r['raw'] / 1e6 / r['dec_s']:9.1f} {r['out'] / r['raw']:6.3f}  "
              f"{','.join(r['cols'])}")
    print("pyarrow C++ reference (same slices):")
    print(f"{'column':12s} {'write MB/s':>10s} {'read MB/s':>10s} {'ratio':>6s}")
    for name, r in layers.pyarrow_reference(tbl).items():
        print(f"{name:12s} {r['raw'] / 1e6 / r['write_s']:10.1f} "
              f"{r['raw'] / 1e6 / r['read_s']:10.1f} {r['bytes'] / r['raw']:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

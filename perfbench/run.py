"""Lakehouse benchmark for cpp_parquet_spark.

    python3 perfbench/run.py --workload code_lake --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives ``local[nproc]``
through the public lakehouse API in a fixed order: set-up (session,
seeded input), ingest as appended runs (the first, small one is the
warm-up), ``compact_parts``, ``delete_where_in``, rounds of full scan /
point lookup / range scan, ``export_parquet``, and in traced runs a
lookup of a deleted key, a standard-parquet scan and a DataSource lookup.
The number of rounds follows from ``--seconds`` alone (one per
``ROUND_S``), never from the clock, so every run with the same arguments
makes the same calls. An untimed calibration job before each phase
scales every timing for host speed. Every result is checked against
``oracle.py``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ledger (README.md).
The run writes only under ``.bench_tmp/`` (removed at exit) and, when
traced, ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import tracing
import workloads as W
from oracle import Oracle, spark_multiset

ROOT = os.getcwd()

DRIVER_MEM = "2g"
#: nominal seconds of one read round (scan + lookup + range, about 9-10 s
#: on 4 CPUs); a run makes round(--seconds / ROUND_S) rounds, at least one
ROUND_S = 10.0
#: rows of the calibration job
CALIB_ROWS = 1_000_000
#: steal-net wall of one calibration job on this box with a quiet host
#: (0.63-0.68 s measured); every end-to-end timing is scaled by it over
#: the run's own median calibration wall (README.md, "End-to-end metrics")
CALIB_REF_S = 0.65


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(run_dir: str, traced: bool) -> None:
    """Session settings through the variables the package reads, and
    every scratch path inside the run's own directory. Traced runs also
    switch on the encode kernel's own per-task profile files."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if traced:
        os.makedirs(os.path.join(run_dir, "kprof"))
        os.environ["CPS_KERNEL_PROF"] = os.path.join(run_dir, "kprof")
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    # a fixed driver heap (-Xms = -Xmx) so heap growth cannot drift
    # between runs; C1 only, so compile work ends within the warm-up
    # instead of competing with the timed calls for the cores (README.md,
    # "Warm-up"); no hsperfdata file outside the run directory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1 "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _dir_bytes(path: str) -> int:
    tot = 0
    for d, _, files in os.walk(path):
        for f in files:
            tot += os.path.getsize(os.path.join(d, f))
    return tot


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _passthrough(batches):
    """The calibration job's Python side: every batch back unchanged."""
    yield from batches


class Bench:
    def __init__(self, args, run_dir: str):
        self.wl = W.WORKLOADS[args.workload]
        self.seed = args.seed
        self.rounds = max(1, round(args.seconds / ROUND_S))
        self.traced = bool(args.trace)
        self.run_dir = run_dir
        self.tr = tracing.Tracer() if self.traced else tracing.NullTracer()
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.walls: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        #: per call, the share of the CPU time asked for that the host
        #: granted (tracing.granted)
        self.grants: dict[str, list[float]] = {}
        #: steal-net walls of the run's calibration jobs
        self.calib: list[float] = []
        self.facts: dict[str, float] = {}
        self.export_files: list[str] = []

    # -- bookkeeping -------------------------------------------------------

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.correct = False
            _log(f"CHECK FAILED: {what}")

    def op(self, name: str, fn):
        """Run one timed operation; returns its result, or None when it
        raised (counted in ``failed``)."""
        self.attempted += 1
        c0 = tracing.tree_cpu_s() if self.traced else 0.0
        k0 = tracing.cpu_clock()
        t0 = time.perf_counter()
        try:
            with self.tr.span("op." + name):
                out = fn()
        except Exception:
            self.failed += 1
            _log(f"operation {name} failed:\n{traceback.format_exc()}")
            return None
        self.walls.setdefault(name, []).append(time.perf_counter() - t0)
        self.grants.setdefault(name, []).append(
            tracing.granted(k0, tracing.cpu_clock()))
        if self.traced:
            self.cpu.setdefault(name, []).append(tracing.tree_cpu_s() - c0)
        return out

    def calibrate(self) -> float:
        """One calibration job, returning its steal-net wall: a fixed
        Spark job through the Python workers and the Arrow bridge that
        calls nothing in the package, so its wall follows how fast the
        host runs this kind of work, not the program."""
        from pyspark.sql import functions as F
        df = self.spark.range(
            0, CALIB_ROWS, numPartitions=self.spark.sparkContext.defaultParallelism
        ).selectExpr("id", "cast(id * 7919 as string) AS s")
        t0, k0 = time.perf_counter(), tracing.cpu_clock()
        with self.tr.span("calib"):
            df.mapInArrow(_passthrough, df.schema).agg(
                F.sum(F.length("s"))).collect()
        return (time.perf_counter() - t0) * tracing.granted(k0, tracing.cpu_clock())

    def call(self, name: str, fn):
        """One call into a package function, as a child span."""
        with self.tr.span(name):
            return fn()

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Session, seeded input, and the parts of the warm-up that come
        before any timed operation (README.md, "Warm-up")."""
        from cpp_parquet_spark.session import get_spark
        from cpp_parquet_spark.datasource import CppParquetDataSource
        t0, k0 = time.perf_counter(), tracing.cpu_clock()
        self.spark = get_spark(app=f"perfbench-{self.wl.name}")
        self.spark.dataSource.register(CppParquetDataSource)
        self.jvm = tracing.JvmClock(self.spark)
        self.tbl = W.generate(self.wl, self.wl.rows, self.seed)
        self.in_bytes = self.tbl.nbytes
        self.keys = W.pick_keys(self.tbl, self.wl, self.seed)
        self.slices = W.append_slices(self.tbl, self.wl.appends)
        self.input_dir = os.path.join(self.run_dir, "input")
        os.makedirs(self.input_dir)
        self.input_files = []
        for i, part in enumerate(self.slices):
            f = os.path.join(self.input_dir, f"run{i:02d}.parquet")
            W.write_parquet(part, f)
            self.input_files.append(f)
        self.cfg = self._cfg()
        self.dst = os.path.join(self.run_dir, "lake")
        self.xdir = os.path.join(self.run_dir, "export")
        self.setup_net_s = ((time.perf_counter() - t0)
                            * tracing.granted(k0, tracing.cpu_clock()))

    def _cfg(self):
        from cpp_parquet_spark.partitioning import EncodeConfig
        return EncodeConfig(
            keys=(), salt_from=self.wl.salt, salt_buckets=self.wl.salt_buckets,
            range_on=self.wl.range_on,
            range_bounds=W.range_bounds(self.tbl, self.wl),
            order_keys=(self.wl.unique,), bloom_cols=(self.wl.key,),
            table_name=self.wl.name)

    def warm(self, name: str, fn):
        """A warm-up call: untimed as an operation, counted in setup_s."""
        t0, k0 = time.perf_counter(), tracing.cpu_clock()
        with self.tr.span("warm." + name):
            out = fn()
        el = time.perf_counter() - t0
        self.setup_net_s += el * tracing.granted(k0, tracing.cpu_clock())
        self.walls.setdefault("warm." + name, []).append(el)
        return out

    # -- the operation sequence -------------------------------------------

    def pipeline(self) -> None:
        """Ingest, compact, delete, engine read rounds, export and (traced
        runs) parquet reads; every result checked against the oracle."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from cpp_parquet_spark import engine, export
        spark, wl, dst, xdir, cfg = (self.spark, self.wl, self.dst,
                                     self.xdir, self.cfg)
        keys, tbl = self.keys, self.tbl
        orc = Oracle(tbl, wl.key, wl.unique, keys.deleted)
        cols = tbl.column_names
        jvm0 = self.jvm.read()
        steal0 = tracing.cpu_clock()[1]

        # every commit is named, and each name starts with a letter: the
        # engine's own random 12-hex ids are sometimes read back as
        # numbers (README.md, "Run ids")
        def append(i):
            return self.call("engine.run_encode", lambda: engine.run_encode(
                spark, spark.read.parquet(self.input_files[i]), dst, cfg,
                run_id=f"append{i}", resume=False))

        def compact():
            # every part counts as small; bins of about a third of
            # the data keep neighbouring range buckets together
            target = max(self.enc_bytes // 3, 1 << 16)
            return self.call("engine.compact_parts", lambda: engine.compact_parts(
                spark, dst, min_bytes=1 << 30, target_bytes=target,
                run_id="compact"))

        def delete():
            return self.call("engine.delete_where_in",
                             lambda: engine.delete_where_in(spark, dst, wl.key,
                                                            list(keys.deleted)))

        # 1-2. ingest as appended runs; the first, small append is the
        # warm-up of the encode path
        kprof = os.path.join(self.run_dir, "kprof")
        summ = self.warm("ingest", lambda: append(0))
        if self.traced:
            tracing.drain_kernel_profiles(kprof)
        self.warm("calib", self.calibrate)
        # a calibration job before each phase (README.md, "End-to-end
        # metrics")
        self.calib.append(self.calibrate())
        self.ingest_bytes = 0           # Arrow bytes of the timed appends
        for i, part in enumerate(self.slices[1:], start=1):
            out = self.op("ingest", lambda i=i: append(i))
            if out is not None:
                summ, self.ingest_bytes = out, self.ingest_bytes + part.nbytes
        if self.traced:
            prof = tracing.drain_kernel_profiles(kprof)
            self.facts["ingest.select_s"] = prof.get("select_s", 0.0)
            self.facts["ingest.page_encode_s"] = prof.get("encode_s", 0.0)
        self.check("ingest row count", summ["rows"] == tbl.num_rows)
        self.facts["stored_bytes"] = _dir_bytes(dst)
        self.enc_bytes = summ["enc_bytes"]
        if self.traced:
            self.page_census(dst)
        # 3. compaction of the appended runs (before any delete: parts
        # carrying deletion vectors are never compacted)
        self.calib.append(self.calibrate())
        comp = self.op("compact", compact)
        if comp is not None:
            self.check("compaction merged parts", comp["parts_compacted"] >= 2)
            self.facts["compact.parts"] = comp["parts_compacted"]
            self.facts["compact.bytes_moved"] = comp["bytes_moved"]
        # 4. delete
        self.calib.append(self.calibrate())
        res = self.op("delete", delete)
        if res is not None:
            self.check(f"delete {keys.deleted} row count",
                       res["rows_deleted"] == orc.deleted_in(keys.deleted))
            self.facts["delete.rows"] = res["rows_deleted"]
            self.facts["delete.parts"] = res["parts"]

        # 5. engine read rounds on the post-delete state
        def scan():
            df = self.call("engine.decode_dataset",
                           lambda: engine.decode_dataset(spark, dst))
            return self.call("spark.collect", lambda: spark_multiset(df, cols))

        def lookup(v):
            pages = self.call("engine.read_live_pages",
                              lambda: engine.read_live_pages(spark, dst))
            df = self.call("engine.decode_where_eq",
                           lambda: engine.decode_where_eq(pages, wl.key, v, spark))
            return self.call("spark.collect", df.toArrow)

        def rng(lo, hi):
            df = self.call("engine.decode_dataset", lambda: engine.decode_dataset(
                spark, dst, where=(wl.range_col, lo, hi)))
            return self.call("spark.collect", df.toArrow)

        scans = []
        for r in range(self.rounds):
            self.calib.append(self.calibrate())
            scans.append(self.op("scan", scan))
            v = keys.lookups[r % len(keys.lookups)]
            got = self.op("lookup", lambda: lookup(v))
            if got is not None:
                self.check(f"lookup {v!r}", orc.same(got, orc.lookup(v)))
            lo, hi = keys.ranges[r % len(keys.ranges)]
            got = self.op("range", lambda: rng(lo, hi))
            if got is not None:
                self.check(f"range {lo!r}..{hi!r}",
                           orc.same(got, orc.range(wl.range_col, lo, hi)))

        if self.traced:
            # untimed: a lookup of a deleted key must return no rows
            # (untraced runs see deleted rows stay gone through the delete
            # count, the full-scan multiset and the exported files)
            gone = keys.deleted[0]
            with self.tr.span("check.deleted_lookup"):
                got = lookup(gone)
            self.check(f"deleted key {gone!r} returns no rows",
                       got.num_rows == 0 and orc.lookup(gone).num_rows == 0)

        # 6. export to standard parquet, bloom on the lookup key
        def do_export():
            df = self.call("engine.decode_dataset",
                           lambda: engine.decode_dataset(spark, dst))
            man = self.call("export.export_parquet", lambda: export.export_parquet(
                df, xdir, bloom={wl.key}, row_group_rows=wl.row_group_rows))
            return self.call("spark.collect", man.collect)
        self.calib.append(self.calibrate())
        man = self.op("export", do_export)
        self.facts["export_bytes"] = _dir_bytes(xdir)
        if man is not None:
            self.check("exported files read back by pyarrow",
                       orc.same(pq.read_table(xdir), orc.live))
            self.export_files = sorted(os.path.join(xdir, m["file"]) for m in man)
            self.facts["export.files"] = len(self.export_files)
            self.facts["export.row_groups"] = sum(
                pq.ParquetFile(f).num_row_groups for f in self.export_files)

        # 7. standard-parquet reads (traced runs only: README.md, "What
        # is left out"); one DataSource lookup first warms that front door
        def pscan():
            df = self.call("export.scan_parquet",
                           lambda: export.scan_parquet(spark, xdir))
            return self.call("spark.collect", lambda: spark_multiset(df, cols))

        def plookup(v):
            df = self.call("datasource.read", lambda: spark.read.format(
                "cpp_parquet").load(xdir).filter(F.col(wl.key) == v))
            return self.call("spark.collect", df.toArrow)

        pscans = []
        if self.traced:
            self.warm("plookup", lambda: plookup(keys.lookups[-1]))
            for v in keys.lookups[:2]:
                pscans.append(self.op("pscan", pscan))
                got = self.op("plookup", lambda: plookup(v))
                if got is not None:
                    self.check(f"parquet lookup {v!r}",
                               orc.same(got, orc.lookup(v)))

        jit, gc = self.jvm.read()
        self.facts["jvm.jit_s"] = jit - jvm0[0]
        self.facts["jvm.gc_s"] = gc - jvm0[1]
        self.facts["host.steal_s"] = tracing.cpu_clock()[1] - steal0
        want = orc.live_multiset(spark, self.input_dir)
        for what, got in [("full scan", g) for g in scans] + \
                         [("parquet scan", g) for g in pscans]:
            if got is not None:
                self.check(f"{what} multiset {got} vs {want}", got == want)

    # -- traced-only ledger pieces -----------------------------------------

    def page_census(self, dst: str) -> None:
        """Exact per-codec page and byte counts from the pages files."""
        import pyarrow.parquet as pq
        import pyarrow.compute as pc
        t = pq.read_table(os.path.join(dst, "pages"),
                          columns=["codec", "enc_bytes", "col_idx"])
        t = t.filter(pc.greater_equal(t.column("col_idx"), 0))
        for row in t.group_by("codec").aggregate(
                [("enc_bytes", "sum"), ("enc_bytes", "count")]).to_pylist():
            self.facts[f"pages.{row['codec']}"] = row["enc_bytes_count"]
            self.facts[f"bytes.{row['codec']}"] = row["enc_bytes_sum"]

    # -- results -----------------------------------------------------------

    def scale(self) -> float:
        """CALIB_REF_S over the run's median calibration wall: below 1
        when the host ran this run's work slower than the reference."""
        return CALIB_REF_S / statistics.median(self.calib) if self.calib else 1.0

    def net(self, name: str) -> list[float]:
        """Walls of one operation net of host steal and host speed: each
        wall times the share of CPU time the host granted over it, times
        ``scale()`` (README.md); empty when every call of it failed."""
        k = self.scale()
        return [w * g * k for w, g in zip(self.walls.get(name, []),
                                          self.grants.get(name, []))]

    def end_to_end(self) -> dict:
        """The end-to-end metrics; a metric whose operation never
        succeeded in this run is reported as null."""
        def med(k):
            v = self.net(k)
            return statistics.median(v) if v else None

        def per(num, den):
            return num / den if num is not None and den else None

        mb = self.in_bytes / 1e6
        m = {
            "setup_s": (self.setup_net_s * self.scale(), "s"),
            "ingest_mbps": (per(self.ingest_bytes / 1e6,
                                sum(self.net("ingest"))), "MB/s"),
            "stored_ratio": (per(self.facts.get("stored_bytes"), self.in_bytes),
                             "ratio"),
            "compact_s": (med("compact"), "s"),
            "delete_p50_s": (med("delete"), "s"),
            "scan_mbps": (per(mb, med("scan")), "MB/s"),
            "lookup_p50_s": (med("lookup"), "s"),
            "range_p50_s": (med("range"), "s"),
            "export_mbps": (per(mb, med("export")), "MB/s"),
            "parquet_ratio": (per(self.facts.get("export_bytes"), self.in_bytes)
                              if self.walls.get("export") else None, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _shutdown(spark) -> None:
    """Stop the session, end the driver JVM and wait until every process
    this run started has exited."""
    import signal
    if spark is not None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()        # the JVM exits when stdin closes
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tracing.tree_pids() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cpp_parquet_spark")):
        print("perfbench: cpp_parquet_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    run_dir = os.path.join(tmp_root, f"{args.workload}-{os.getpid()}")
    _configure_env(run_dir, bool(args.trace))
    bench = Bench(args, run_dir)
    steal0 = tracing.cpu_clock()[1]
    try:
        bench.setup()
        bench.pipeline()
        if bench.traced:
            import layers
            metrics = layers.ledger(bench)
        else:
            metrics = bench.end_to_end()
        _log("walls " + json.dumps({k: [round(x, 3) for x in v]
                                    for k, v in bench.walls.items()}))
        _log("grants " + json.dumps({k: [round(x, 4) for x in v]
                                     for k, v in bench.grants.items()}))
        _log("calib " + json.dumps([round(x, 4) for x in bench.calib])
             + f" scale={bench.scale():.4f}")
        _log(f"jvm.jit_s={bench.facts.get('jvm.jit_s', 0):.2f} "
             f"jvm.gc_s={bench.facts.get('jvm.gc_s', 0):.2f} "
             f"host_steal_s={tracing.cpu_clock()[1] - steal0:.2f}")
    finally:
        _shutdown(getattr(bench, "spark", None))
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass                        # another run still uses it
    print(json.dumps({"correct": bench.correct, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

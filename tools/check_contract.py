"""Driver-style contract check: runs __spark_entry__.entry() as a smoke
test, then every queries() entry against its oracle_sql() in DuckDB at
sf0.01 with an order-insensitive, column-name-sorted value-hash compare —
the same shape as the driver's CORRECTNESS gate."""

from __future__ import annotations

import hashlib
import json
import sys

sys.path.insert(0, "/root/repo")

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    import datetime
    import decimal
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return f"{v.normalize():f}"
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01") -> int:
    from cpp_parquet_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app="contract_check")

    print("== entry() smoke ==")
    edf = entrymod.entry(spark)
    rows = edf.collect()
    assert len(rows) > 0, "entry returned no rows"
    for r in rows:
        print(" ", r.asDict())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    failed = []
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            results[name] = {"mode": "rows_only", "rows": len(srows),
                             "ok": len(srows) >= 0}
            print(f"  {name}: rows-only, {len(srows)} rows")
            continue
        orow = con.execute(oracles[name])
        ocols = [d[0] for d in orow.description]
        orows = orow.fetchall()
        ok_schema = sorted(c.lower() for c in scols) == \
            sorted(c.lower() for c in ocols)
        ok_count = len(srows) == len(orows)
        sh = value_hash(scols, [tuple(r) for r in srows])
        oh = value_hash(ocols, orows)
        ok = ok_schema and ok_count and sh == oh
        results[name] = {"mode": "oracle", "rows": len(srows),
                         "oracle_rows": len(orows), "schema_ok": ok_schema,
                         "hash_ok": sh == oh, "ok": ok}
        mark = "OK " if ok else "FAIL"
        print(f"  [{mark}] {name}: spark={len(srows)} oracle={len(orows)} "
              f"schema={ok_schema} hash={'OK' if sh == oh else 'MISMATCH'}")
        if not ok:
            failed.append(name)
            print("    spark cols:", scols, "oracle cols:", ocols)
            for a, b in list(zip(sorted(map(str, srows)),
                                 sorted(map(str, orows))))[:3]:
                print("      S:", a[:150])
                print("      O:", b[:150])
    print(json.dumps({"failed": failed,
                      "n_ok": sum(1 for r in results.values() if r["ok"]),
                      "n": len(results)}))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))

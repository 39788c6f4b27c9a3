"""Local mirror of the driver's correctness gate: run every REGISTRY query
in Spark AND its DuckDB oracle on the same parquet, compare row count, sorted
schema, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py --twice [sf_dir] [query ...]

--twice invokes each selected Spark query a second time BEFORE collecting
the first invocation's frame, collects the second frame and then the first,
and fails on an error or on any hash drift between them — catches staging
bugs where a later query frees or rebinds a stage that an earlier result
still reads (caching.py).

The session's driver memory is a quarter of the host's physical memory, so
the gate can run next to the pytest suite without starving it.
"""

from __future__ import annotations

import hashlib
import math
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from cloudtile_spark.queries import REGISTRY, TABLES  # noqa: E402
from cloudtile_spark.session import get_spark  # noqa: E402


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and integral floats
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def type_family(t: str) -> str:
    """Collapse a Spark simpleString / Arrow type string into a comparable
    family so HUGEINT-vs-BIGINT style mismatches fail locally (the driver's
    canonicalization hashes types, not just string values — round-1 lesson:
    7 green-local queries were red on the driver via uncast integer sums)."""
    t = t.lower().replace(" ", "")
    # the driver compares via pandas frames, so int widths <= 64 render
    # identically and are NOT a mismatch; HUGEINT (arrow decimal128(38,0))
    # and DECIMAL are — they convert to float64 / Decimal objects and hash
    # differently.
    if t in ("tinyint", "int8", "smallint", "int16", "int", "integer",
             "int32", "bigint", "int64", "long", "uint8", "uint16",
             "uint32", "uint64"):
        return "int"
    if t == "decimal128(38,0)" or t in ("hugeint", "int128"):
        return "i128"
    if t.startswith(("decimal", "numeric")):
        return "dec"
    if t in ("float", "float32", "real", "double", "float64"):
        return "float"
    if "string" in t or t == "utf8" or t == "large_utf8":
        return "str"
    if t.startswith("timestamp"):
        return "ts"
    if t in ("bool", "boolean"):
        return "bool"
    if t.startswith(("binary", "large_binary")):
        return "bin"
    return t


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return h, len(rows)


def main() -> int:
    args = sys.argv[1:]
    twice = "--twice" in args
    if twice:
        args.remove("--twice")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    # no console progress bars: they would share stdout's lines with the
    # PASS/FAIL lines and hide them in captured output
    quarter_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                  // 4 // 2**20)
    spark = get_spark("correctness", cores=8, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.driver.memory": f"{quarter_mb}m"})
    failures = []
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            sdf = q.spark_fn(spark, sf_dir)
            if twice:
                sdf2 = q.spark_fn(spark, sf_dir)
                sh2, sn2 = table_hash(
                    [f.lower() for f in sdf2.columns],
                    [tuple(r) for r in sdf2.collect()])
            srows = [tuple(r) for r in sdf.collect()]
            scols = [f.lower() for f in sdf.columns]
            stypes = {f.name.lower(): type_family(f.dataType.simpleString())
                      for f in sdf.schema.fields}
            sh, sn = table_hash(scols, srows)
            if twice and (sh2, sn2) != (sh, sn):
                failures.append(name)
                print(f"FAIL {name}: second invocation drift "
                      f"rows {sn}->{sn2} hash {sh[:12]}->{sh2[:12]}")
                continue
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        if not q.oracle:
            print(f"ok   {name}: rows={sn} (rows-only, no oracle)")
            continue
        try:
            atbl = con.execute(q.oracle).arrow()
            dtypes = {n.lower(): type_family(str(f.type))
                      for n, f in zip(atbl.schema.names, atbl.schema)}
            res = con.execute(q.oracle)
            dcols = [d[0].lower() for d in res.description]
            drows = res.fetchall()
            dh, dn = table_hash(dcols, drows)
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: schema {sorted(scols)} vs {sorted(dcols)}")
        elif stypes != dtypes:
            failures.append(name)
            diff = {c: (stypes.get(c), dtypes.get(c))
                    for c in stypes if stypes.get(c) != dtypes.get(c)}
            print(f"FAIL {name}: dtype mismatch spark-vs-duck {diff}")
        elif sn != dn:
            failures.append(name)
            print(f"FAIL {name}: rowcount {sn} vs {dn}")
        elif sh != dh:
            failures.append(name)
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            # print a small diff sample
            sset = set("\x1f".join(map(canon_value, r)) for r in srows)
            dset = set("\x1f".join(map(canon_value, r)) for r in drows)
            for x in list(sset - dset)[:3]:
                print("   spark-only:", x[:160])
            for x in list(dset - sset)[:3]:
                print("   duck-only: ", x[:160])
        else:
            print(f"PASS {name}: rows={sn} hash={sh[:12]}")
    spark.stop()
    print(f"\n{len(failures)} failures" if failures else "\nALL PASS")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

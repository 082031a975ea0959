#!/usr/bin/env python3
"""Derives expect/query_suite.tsv, the query_suite output checks, from
each bench query's DuckDB oracle (`Q.oracle`) over the reference
tables at run.py's QUERY_TABLES.

For each query: the oracle's row count, and an order-insensitive
checksum over the columns that are neither floating point under Spark
nor under DuckDB (see Checksum in src/graftbench/QuerySuite.scala, which
renders Spark rows the same way). Run from the repository root after a
change to a bench query, or to its oracle:

  python3 e2ebench/derive_expect.py
"""
import base64
import datetime
import decimal
import hashlib
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # the benchmark writes only under .bench_build/
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

NULL = "␀"
EPOCH = datetime.datetime(1970, 1, 1)


def is_float(t: pa.DataType) -> bool:
    if pa.types.is_floating(t):
        return True
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return is_float(t.value_type)
    if pa.types.is_map(t):
        return is_float(t.key_type) or is_float(t.item_type)
    if pa.types.is_struct(t):
        return any(is_float(t.field(i).type) for i in range(t.num_fields))
    return False


def canon(v, t: pa.DataType) -> str:
    if v is None:
        return NULL
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_integer(t):
        return str(v)
    if pa.types.is_decimal(t):
        return "0" if v == 0 else format(v.normalize(), "f")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return v
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return v.hex()
    if pa.types.is_date(t):
        return v.isoformat()
    if pa.types.is_timestamp(t):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "[" + ",".join(canon(x, t.value_type) for x in v) + "]"
    if pa.types.is_map(t):
        return "{" + ",".join(sorted(canon(k, t.key_type) + ":" + canon(x, t.item_type)
                                     for k, x in v)) + "}"
    if pa.types.is_struct(t):
        fs = sorted((t.field(i) for i in range(t.num_fields)), key=lambda f: f.name)
        return "{" + ",".join(f.name + "=" + canon(v[f.name], f.type) for f in fs) + "}"
    raise ValueError(f"no canonical form for {t}")


def checksum(tbl: pa.Table, cols: list) -> str:
    cols = sorted(cols)
    types = [tbl.schema.field(c).type for c in cols]
    data = [tbl.column(c).to_pylist() for c in cols]
    total = 0
    for i in range(tbl.num_rows):
        s = "\u0001".join(canon(data[j][i], types[j]) for j in range(len(cols)))
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return str(total % (1 << 64))


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "derive")
    shutil.rmtree(work, ignore_errors=True)
    tables = os.path.join(work, "tables")
    shutil.copytree(run.QUERY_TABLES, tables)
    names = sorted(n[:-len(".parquet")] for n in os.listdir(tables) if n.endswith(".parquet"))
    cp, _ = build.build(root)
    r = run.jvm(cp, work, ["--mode", "dump", "--work", work, "--tables", tables,
                           "--cores", str(len(os.sched_getaffinity(0)))])
    if r.returncode != 0:
        return r.returncode
    con = duckdb.connect()
    for n in names:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM '{tables}/{n}.parquet'")
    out = ["# name\trows\tchecksum\tcolumns (derived by derive_expect.py from each Q.oracle)"]
    for line in r.stdout.splitlines():
        if not line.startswith("QUERY\t"):
            continue
        _, name, cols, sql64 = line.split("\t", 3)
        sql = base64.b64decode(sql64).decode("utf-8")
        spark_float = {c.split(":")[0]: c.split(":")[-1] == "true" for c in cols.split(";")}
        if not sql.strip():
            print(f"{name}: no oracle, skipped", file=sys.stderr)
            continue
        tbl = con.execute(sql).arrow()
        keep = [f.name for f in tbl.schema
                if not is_float(f.type) and not spark_float.get(f.name, True)]
        out.append(f"{name}\t{tbl.num_rows}\t{checksum(tbl, keep)}\t{','.join(sorted(keep))}")
        print(f"{name}: rows={tbl.num_rows} cols={sorted(keep)}", file=sys.stderr)
    with open(os.path.join(HERE, "expect", "query_suite.tsv"), "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

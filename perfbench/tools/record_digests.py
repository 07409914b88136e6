#!/usr/bin/env python3
"""Record the expected results of the read-only workloads.

    python3 perfbench/tools/record_digests.py    # from the repository root

Generates the fixed star data of kpi_analytics, runs each operation's
oracle SQL (graft.SparkEntry.oracleSql, dumped by perfbench.DumpOracle)
in DuckDB over the same parquet files, and writes the
row count and order-insensitive digest of every result to
perfbench/expected_digests.json. The benchmark compares Spark's results
with these, so the recorded digest is checked against both engines.
"""

import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import struct
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402


def canon_d(d):
    if d != d:
        return "NaN"
    if d == 0.0:
        return "0"
    if d == math.floor(d) and abs(d) < 1e15:
        return str(int(d))
    return "%x" % struct.unpack("<Q", struct.pack("<d", d))[0]


def canon(v):
    """Python twin of perfbench.Digest.canon."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_d(v)
    if isinstance(v, decimal.Decimal):
        return canon_d(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total += struct.unpack(">Q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]
    return len(rows), "%x" % (total % (1 << 64))


def main():
    import duckdb
    root = os.getcwd()
    jars = run.spark_jars()
    classes = run.build(root, jars)
    tmp = tempfile.mkdtemp(dir=os.path.join(root, ".bench_work"))
    try:
        sql_path = os.path.join(tmp, "oracle.json")
        subprocess.run([run.java_bin(), "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                        "perfbench.DumpOracle", sql_path], check=True)
        oracle = json.load(open(sql_path))
        out = {"star_seed": run.STAR_SEED, "duckdb": duckdb.__version__}
        for wl, queries in sorted(oracle.items()):
            data = os.path.join(tmp, wl)
            gen.star(run.STAR_SEED, data, run.SIZES[wl])
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            for f in sorted(os.listdir(data)):
                t = f[:-len(".parquet")]
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                            % (t, os.path.join(data, f)))
            out[wl] = {"sf": run.SIZES[wl]}
            for name, sql in sorted(queries.items()):
                cur = con.execute(sql)
                cols = [d[0] for d in cur.description]
                n, d = digest(cols, cur.fetchall())
                out[wl][name] = {"rows": n, "digest": d}
                print("%-32s %8d %s" % (name, n, d))
        with open(os.path.join(BENCH, "expected_digests.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

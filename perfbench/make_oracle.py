#!/usr/bin/env python3
"""Regenerate perfbench/oracle/analytics.tsv: the DuckDB answers of the
analytics workload's five registry keys over the benchmark's fixture.

    python3 perfbench/make_oracle.py

Run from the root of a checkout. The JVM writes the fixture (the same
generator the benchmark uses) and the keys' oracle SQL from
SparkEntry.oracleSql; DuckDB then answers each query. The fixture is a fixed
function of the row ids, so the stored answers hold for every run; rerun
this only when the fixture generator or an oracle query changes.
"""
import datetime
import decimal
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (shares the build and the JVM flags)

TABLES = ("region", "nation", "customer", "orders", "lineitem", "embeddings")


def canon(v):
    """The harness's canonical text of a value (Workload.canon)."""
    if v is None:
        return "null"
    if isinstance(v, float):
        return "%.4f" % v
    if isinstance(v, decimal.Decimal):
        return format(v, ".4f") if v != v.to_integral_value() or v.as_tuple().exponent < 0 else str(v)
    return str(v)


def main():
    run.build(run.source_digest())
    with open(run.CLASSPATH) as f:
        classpath = f.read().strip()
    work = os.path.join(run.BUILD, "oracle-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    fixture, sql_json = os.path.join(work, "fixture"), os.path.join(work, "sql.json")
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "graftbench.Main", "--dump-oracle", fixture, sql_json]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("[make_oracle] the JVM failed to write the fixture")
    with open(sql_json) as f:
        queries = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture}/{t}.parquet/*.parquet')")
    lines = [
        "# DuckDB answers of SparkEntry.oracleSql for the analytics fixture",
        f"# generated {datetime.date.today().isoformat()} with duckdb {duckdb.__version__}"
        " by perfbench/make_oracle.py; one line per result row: key<TAB>row",
    ]
    for key in sorted(queries):
        for row in con.execute(queries[key]).fetchall():
            lines.append(key + "\t" + "|".join(canon(v) for v in row))
    out = os.path.join(run.HERE, "oracle", "analytics.tsv")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(lines) - 2} rows to {out}")


if __name__ == "__main__":
    main()

"""Simulate the round driver: vanilla SparkSession + DuckDB oracle compare.

Run from the repository root:  python tools/driver_sim.py [sf_dir] [q1,q2,...]
"""
import hashlib
import os
import sys
import time

#: The checkout this script lives in (its parent directory).
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from mapreducehs_spark.session import DEFAULT_CPUS, DEFAULT_DRIVER_MEM
from mapreducehs_spark.sources.catalog import TABLES
from tests.oracle import duckdb_view_sql


def fresh_oracle(sf_dir: str):
    """A clean DuckDB connection with spill + views.

    An in-memory DuckDB has NO temp directory, so a big oracle at sf1
    cannot spill and dies with OutOfMemory/IOException instead — the spill dir + explicit
    limit keep oracle-side capacity from masquerading as a mismatch.
    Rebuilt AFTER any oracle error: a connection that just hit an
    IO/OOM failure keeps leaked buffer-manager blocks, and every
    subsequent non-trivial oracle then dies on kilobyte allocations —
    the sf1 cascade where one genuine disk-capacity failure turned six
    healthy oracles into phantom OOMs."""
    c = duckdb.connect()
    c.execute("SET temp_directory='/tmp/duckdb_spill'")
    # the driver heap's rule: half the machine's physical memory, whole GiB
    c.execute(f"SET memory_limit='{DEFAULT_DRIVER_MEM.removesuffix('g')}GiB'")
    # Bound the spill: a capacity-infeasible oracle should raise
    # promptly, not fill the box's disk first — 32 GiB is far above any
    # legitimately-green oracle's observed spill.
    c.execute("SET max_temp_directory_size='32GiB'")
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            c.execute(duckdb_view_sql(sf_dir, t))
    return c


def canon(df: pd.DataFrame) -> str:
    """md5 of *df* in the driver's canonical form: columns and rows
    sorted, floats rounded to 4 decimals, ints as ``Int64``, bools as
    ``boolean``, numeric object columns parsed, other objects as str."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(4)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("Int64")
        elif df[c].dtype.kind == "b":
            df[c] = df[c].astype("boolean")
        elif df[c].dtype.kind == "O":
            try:
                num = pd.to_numeric(df[c], errors="raise")
                df[c] = num.round(4) if num.dtype.kind == "f" else num.astype("Int64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def main() -> int:
    # Spark's Python workers resolve mapreducehs_spark from the cwd
    os.chdir(REPO)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    spark = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName("driver_sim")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    rows = E.entry(spark).count()
    assert rows > 0, "entry() returned 0 rows"
    print(f"entry: {rows} rows OK", flush=True)

    con = fresh_oracle(sf_dir)
    Q = E.queries()
    O = E.oracle_sql()
    fails = []
    records = {}
    for name, fn in Q.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sp = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            fails.append(name)
            records[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                             "spark_rows": None, "oracle_rows": None,
                             "err": f"spark:{type(ex).__name__}"}
            print(f"{name}: SPARK ERROR {type(ex).__name__}: {str(ex)[:200]}", flush=True)
            continue
        dt = time.perf_counter() - t0
        if name not in O:
            status = f"rows_only rows={len(sp)}" + (" EMPTY!" if len(sp) == 0 else "")
            if len(sp) == 0:
                fails.append(name)
            records[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                             "spark_rows": len(sp), "oracle_rows": None, "err": "no_oracle"}
            print(f"{name}: {status} ({dt:.1f}s)", flush=True)
            continue
        try:
            ora = con.execute(O[name]).fetchdf()
        except Exception as ex:
            fails.append(name)
            records[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(sp),
                             "oracle_rows": None,
                             "err": f"oracle:{type(ex).__name__}"}
            print(f"{name}: ORACLE ERROR {type(ex).__name__}: "
                  f"{str(ex)[:200]}", flush=True)
            try:
                con.close()
            except Exception:
                pass
            con = fresh_oracle(sf_dir)  # don't let one capacity failure cascade
            continue
        rows_m = len(sp) == len(ora)
        schema_m = sorted(map(str, sp.columns)) == sorted(map(str, ora.columns))
        hash_m = schema_m and canon(sp) == canon(ora)
        ok = rows_m and schema_m and hash_m
        records[name] = {"rows_match": rows_m, "schema_match": schema_m, "hash_match": hash_m,
                         "spark_rows": len(sp), "oracle_rows": len(ora), "err": None}
        if not ok:
            fails.append(name)
            print(f"{name}: MISMATCH rows={len(sp)}/{len(ora)} schema={schema_m} "
                  f"cols_spark={sorted(sp.columns)} cols_ora={sorted(ora.columns)}", flush=True)
        else:
            print(f"{name}: MATCH rows={len(sp)} ({dt:.1f}s)", flush=True)

    if os.environ.get("DRIVER_SIM_JSON"):
        import json

        with open(os.environ["DRIVER_SIM_JSON"], "w") as f:
            json.dump(records, f, indent=2)

    print(f"\n{'FAILURES: ' + ', '.join(fails) if fails else 'ALL PASS'}", flush=True)
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())

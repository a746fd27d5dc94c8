"""Record the oracle value hashes that query_mix checks against.

    python3 perfbench/record_hashes.py

Generates the benchmark's tables, runs each query's DuckDB oracle on
them and writes the canonical value hash and row count per query to
``oracle_hashes.json``. Run it again whenever the query list, the data
generator or ``DATA_SF`` changes. It also runs each query on Spark and
refuses to write hashes that Spark does not reproduce.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import datagen
import run
import workloads


def oracle(sql: str, data_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(data_dir, "*.parquet")):
            table = os.path.basename(path).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def main() -> int:
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        data_dir = datagen.write(os.path.join(work, "data"), run.DATA_SF)
        conf = run.pin_environment(work)
        from supabase_etl_spark.queries import load_all
        from supabase_etl_spark.session import get_spark

        spark = get_spark(run.APP, extra_conf=conf)
        registry = load_all()
        out, mismatched = {}, []
        for name in workloads.QUERY_MIX:
            spec = registry[name]
            cols, rows = oracle(spec.oracle, data_dir)
            want = workloads.value_hash(cols, rows)
            df = spec.fn(spark, data_dir)
            got = workloads.value_hash(df.columns, [tuple(r) for r in df.collect()])
            spark.catalog.clearCache()
            print(f"{name}: {len(rows)} rows, oracle {want[:12]}, spark {got[:12]}", flush=True)
            if got != want:
                mismatched.append(name)
            out[name] = {"hash": want, "rows": len(rows)}
        spark.stop()
        run.stop_gateway()
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if mismatched:
        print(f"not written: Spark disagrees with the oracle on {mismatched}", file=sys.stderr)
        return 1
    with open(workloads.ORACLE_HASHES, "w") as fh:
        json.dump({"data_sf": run.DATA_SF, "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

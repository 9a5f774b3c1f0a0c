"""Pin the expected answer of every benchmark query, and attest it.

    python3 perfbench/attest.py

Runs each query of the ``llm_curation`` workload once on the base corpus
and records its row count and order-insensitive digest in
``digests.json``. The same result is then compared with the query's
DuckDB oracle twin from the registry. Where the oracle agrees, the
digest's provenance is ``duckdb-oracle``; where the oracle does not
finish within ``ORACLE_TIMEOUT_S`` the digest is pinned from the package
as it stands, and says so. A disagreement is reported and stops
the script without writing.
"""

import json
import os
import subprocess
import sys
import threading
import time

import duckdb

import run

sys.path.insert(0, run.ROOT)

import workloads  # noqa: E402
from etl_airflow_spotify_spark.oracle import compare  # noqa: E402

ORACLE_TIMEOUT_S = 900


def oracle_rows(data_dir: str, sql: str, timeout: float):
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{data_dir}/documents.parquet')")
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        return cur.fetchall(), [d[0] for d in cur.description]
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
        con.close()


def main() -> int:
    os.makedirs(run.WORK, exist_ok=True)
    try:
        run.isolate(trace=False)
        from etl_airflow_spotify_spark.session import get_session
        spark = get_session("perfbench-attest")
        commit = subprocess.run(["git", "-C", run.ROOT, "rev-parse",
                                 "--short", "HEAD"], capture_output=True,
                                text=True).stdout.strip() or "unknown"
        pinned = {}
        wl = workloads.make("llm_curation")
        data_dir = os.path.join(run.WORK, "data")
        wl.setup(workloads.Context(spark, data_dir, "", seed=0))
        for q in wl.queries:
            df = wl.specs[q].spark_fn(spark, data_dir)
            rows = df.collect()
            workloads.caching.release_all()
            entry = {"rows": len(rows),
                     "digest": workloads.digest(rows, df.columns)}
            t0 = time.time()
            got = oracle_rows(data_dir, wl.specs[q].oracle,
                              ORACLE_TIMEOUT_S)
            if got is None:
                entry["provenance"] = (
                    f"pinned from the package at {commit}: the DuckDB "
                    f"oracle did not finish in {ORACLE_TIMEOUT_S}s")
            else:
                problems = compare(rows, df.columns, *got)
                if problems:
                    print(f"{q}: oracle disagrees: {problems}",
                          file=sys.stderr)
                    return 1
                entry["provenance"] = (
                    f"duckdb-oracle: matched the registry's oracle SQL "
                    f"({time.time() - t0:.1f}s)")
            print(q, entry, file=sys.stderr)
            pinned[q] = entry
        run.shutdown(spark)
    finally:
        run.remove_work()
    with open(os.path.join(run.HERE, "digests.json"), "w") as f:
        json.dump({"base_seed": workloads.inputs.BASE_SEED,
                   "queries": pinned}, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Write ``perfbench/golden.json``, the values every operation is checked
against.  Run once from the root of a checkout:

    python3 perfbench/golden.py

- ``queries``: the row count of every declared query's DuckDB oracle
  (``__spark_entry__.oracle_sql()``) over the benchmark's data.  This is
  independent of Spark, so the battery and the ETL mart counts are
  checked against a second engine.
- ``serve``: for each of the ``SERVE_VARIANTS`` held-out sets, the
  accepted count of every increment, recorded from one Spark run of the
  same serve loop.  It pins the serve's results, so a change that alters
  which documents are accepted reads as a wrong result.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

import run
from workloads import DATA_DIR, SERVE_VARIANTS, Ctx, DedupServe

TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()


def oracle_counts() -> dict[str, int]:
    import __spark_entry__ as se

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    counts = {}
    for name, sql in se.oracle_sql().items():
        counts[name] = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        print(f"{name}: {counts[name]}", file=sys.stderr)
    return counts


def serve_counts(golden: dict, work_dir: str) -> dict[str, list[int]]:
    from meta_morph_etl_databricks_spark.session import get_spark
    from spans import Tracer

    spark = get_spark("perfbench-golden")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, Tracer(spark.sparkContext, False), work_dir, 0, golden)
        out = {}
        for v in range(SERVE_VARIANTS):
            wl = DedupServe(ctx, variant=v)
            wl.prepare()
            counts = []
            for i in range(len(wl.increments)):
                wl._inc(i).fn()
                counts.append(wl.accepted)
            out[str(v)] = counts
            print(f"serve variant {v}: {counts}", file=sys.stderr)
        return out
    finally:
        run.stop_session(spark)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    work_dir = os.path.join(run.ROOT, ".perfbench_run", f"golden-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        run.pin_environment(work_dir)  # before the package reads it at import
        golden = {"data": os.path.relpath(DATA_DIR, run.ROOT), "queries": oracle_counts()}
        golden["serve"] = serve_counts(golden, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(os.path.join(run.HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Regenerate ``pinned_hashes.json``: the result hash of every ``query_mix``
query on the seeded tables, each cross-checked against the query's DuckDB
oracle (``workload.ORACLE``) on the same parquet files.

    python3 perfbench/pin_hashes.py

Exits non-zero, without writing, when a query has no oracle or its oracle
disagrees with Spark. Run it only when the table generator or the query
set changes; an engine change must never need new pins.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import common, tables  # noqa: E402
from perfbench.w_query import HEAVY, LIGHT, PINNED, result_hash  # noqa: E402


def main() -> int:
    import duckdb

    from moisturizer_spark import workload
    from moisturizer_spark.operators.common import cache_scope

    dirs = common.RunDirs("pin", 0)
    sf_dir = dirs.path("data", "tables")
    tables.write_tables(sf_dir)
    con = duckdb.connect()
    for name in tables.NAMES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    spark = common.start_spark(dirs, trace=False)
    hashes, problems = {}, []
    try:
        for name in HEAVY + LIGHT:
            with cache_scope():
                df = workload.QUERIES[name](spark, sf_dir)
                spark_hash = result_hash(df.columns, df.collect())
            if name not in workload.ORACLE:
                problems.append(f"{name}: no oracle")
                continue
            res = con.execute(workload.ORACLE[name])
            duck_hash = result_hash([d[0] for d in res.description], res.fetchall())
            if duck_hash != spark_hash:
                problems.append(f"{name}: spark {spark_hash} != duckdb {duck_hash}")
            hashes[name] = spark_hash
            print(f"{name} {spark_hash} oracle={'ok' if duck_hash == spark_hash else 'MISMATCH'}")
    finally:
        common.stop_spark(spark)
        dirs.close()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(PINNED, "w") as fh:
        json.dump({"table_seed": tables.generator().SEED, "sf": tables.SF,
                   "oracle": "duckdb, every query", "hashes": hashes}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

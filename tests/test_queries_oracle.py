"""Mini driver-harness: run every workload query against its DuckDB oracle.

Mirrors the real driver's comparison: row count, column names (sorted),
and order-insensitive value comparison at sf0.001. Catches hash-mismatch
regressions before the per-round driver run does.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, cols):
    """Sort columns by name, then rows; floats rounded for comparison."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 9)
        return v

    return sorted(tuple(norm_val(r[i]) for i in idx) for r in rows)


ORACLE = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()

# name -> Arrow schema of the oracle's result, recorded by the one
# execution test_query_matches_oracle makes, so the HUGEINT check does not
# run every oracle a second time
_ORACLE_ARROW_SCHEMAS = {}


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    # materialize once: the rows and the Arrow schema come from the same run
    duck.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {ORACLE[name]}")
    _ORACLE_ARROW_SCHEMAS[name] = (
        duck.execute("SELECT * FROM oracle_result LIMIT 0").fetch_arrow_table().schema
    )
    res = duck.execute("SELECT * FROM oracle_result")
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    snorm = normalize(srows, scols)
    dnorm = normalize(drows, dcols)
    mismatches = [
        (a, b) for a, b in zip(snorm, dnorm) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatch {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_arrow_types_not_hugeint(name, duck):
    """The driver's value hash is Arrow-representation sensitive: DuckDB
    types an uncast SUM(BIGINT) as HUGEINT (arrow decimal128(38,0)/int128),
    which hash-mismatches Spark's int64 even when every value is equal
    (round-1 root cause for 5 queries). Every integer aggregate in the
    oracle SQL must therefore be CAST(... AS BIGINT)."""
    schema = _ORACLE_ARROW_SCHEMAS.get(name)
    if schema is None:  # the mirror test did not run, e.g. under -k
        schema = duck.execute(ORACLE[name]).fetch_arrow_table().schema
    offenders = [
        (f.name, str(f.type))
        for f in schema
        if str(f.type) in ("decimal128(38, 0)", "int128")
        or "hugeint" in str(f.type).lower()
    ]
    assert not offenders, f"{name}: HUGEINT-typed oracle columns {offenders}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert df.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0

"""Zero-copy table clone: hardlink snapshot, vacuum survival, COW
isolation, time-travel clones. Reads with the manifest schema: parity with
the footer-merging reader across add-only evolution, type widening at
commit, the jobs of a point read, and a point delete that matches
nothing."""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

from pyspark.sql import functions as F, types as T

from moisturizer_spark.storage import ParquetTable


# -- zero-copy clone -----------------------------------------------------------


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "id string, v long")


def test_clone_is_zero_copy_and_reads_identically(spark, warehouse):
    import os

    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src", retain_versions=3)
    src.overwrite(_rows(spark, [("a", 1), ("b", 2), ("c", 3)]))
    clone = src.clone_to(f"{warehouse}/cl_dst")
    assert {(r["id"], r["v"]) for r in clone.read().collect()} == {
        ("a", 1), ("b", 2), ("c", 3)
    }
    # same inodes: no data bytes were copied
    linked = 0
    for root, _dirs, files in os.walk(f"{warehouse}/cl_dst/data"):
        for f in files:
            if f.endswith(".parquet"):
                assert os.stat(os.path.join(root, f)).st_nlink >= 2
                linked += 1
    assert linked > 0


def test_clone_survives_source_rewrite_and_vacuum(spark, warehouse):
    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src2", retain_versions=1)
    src.overwrite(_rows(spark, [("a", 1), ("b", 2)]))
    clone = src.clone_to(f"{warehouse}/cl_dst2")
    # churn the source far past its retention: old files vacuum away
    for i in range(3, 7):
        src.overwrite(_rows(spark, [("a", i)]))
    assert {(r["id"], r["v"]) for r in src.read().collect()} == {("a", 6)}
    # the clone still reads the snapshot (hard links survive unlink)
    assert {(r["id"], r["v"]) for r in clone.read().collect()} == {
        ("a", 1), ("b", 2)
    }


def test_clone_writes_are_isolated_from_source(spark, warehouse):
    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src3")
    src.overwrite(_rows(spark, [("a", 1), ("b", 2)]))
    clone = src.clone_to(f"{warehouse}/cl_dst3")
    clone.upsert(_rows(spark, [("b", 99), ("z", 7)]))
    assert {(r["id"], r["v"]) for r in clone.read().collect()} == {
        ("a", 1), ("b", 99), ("z", 7)
    }
    assert {(r["id"], r["v"]) for r in src.read().collect()} == {
        ("a", 1), ("b", 2)
    }


def test_clone_of_historical_version_and_clobber_refusal(spark, warehouse):
    import pytest

    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src4", retain_versions=5)
    src.overwrite(_rows(spark, [("a", 1)]))
    src.upsert(_rows(spark, [("a", 2)]))
    old = src.clone_to(f"{warehouse}/cl_dst4", version=1)
    assert {(r["id"], r["v"]) for r in old.read().collect()} == {("a", 1)}
    with pytest.raises(ValueError, match="already holds"):
        src.clone_to(f"{warehouse}/cl_dst4")


def test_clone_preserves_txn_watermarks(spark, warehouse):
    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src5")
    src.overwrite(_rows(spark, [("a", 1)]), txn=("app", 7))
    clone = src.clone_to(f"{warehouse}/cl_dst5")
    assert clone.txn_version("app") == 7

def test_clone_version_counter_continues_from_source(spark, warehouse):
    """ADVICE r08 (high): a clone born at version 1 while hard-linking
    the source's data/vNNNNNN dirs verbatim eventually advances its own
    counter INTO a linked dir number, and _write_version's
    mode("overwrite") clobbers that snapshot dir — destroying every
    carried bucket in it. Source at v3 + two bucket-disjoint upserts on
    the clone reproduced PATH_NOT_FOUND before the fix. The clone's
    manifest must start AT the cloned version so its future writes land
    in fresh dirs."""
    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src6", key="id", n_buckets=4)
    src.overwrite(_rows(spark, [("k1", 1)]))
    src.upsert(_rows(spark, [("k2", 2)]))
    src.upsert(_rows(spark, [("k3", 3)]))
    assert src._load_manifest()["version"] == 3
    clone = src.clone_to(f"{warehouse}/cl_dst6")
    assert clone._load_manifest()["version"] == 3

    # two upserts whose keys land in buckets DISJOINT from every carried
    # bucket — before the fix the second write overwrote data/v000003,
    # dropping a carried bucket the manifest still references
    carried = {src.bucket_of(k) for k in ("k1", "k2", "k3")}
    fresh = [f"n{i}" for i in range(200) if src.bucket_of(f"n{i}") not in carried]
    assert len(fresh) >= 2, "need keys outside the carried buckets"
    clone.upsert(_rows(spark, [(fresh[0], 10)]))
    clone.upsert(_rows(spark, [(fresh[1], 11)]))
    got = {(r["id"], r["v"]) for r in clone.read().collect()}
    assert got == {("k1", 1), ("k2", 2), ("k3", 3), (fresh[0], 10), (fresh[1], 11)}
    # and the source is untouched
    assert {(r["id"], r["v"]) for r in src.read().collect()} == {
        ("k1", 1), ("k2", 2), ("k3", 3)
    }

def test_clone_many_files_parallel_links(spark, warehouse):
    """The link fan-out (threaded past 8 files) must preserve exact
    inode identity for EVERY file and complete a many-file clone
    quickly — the serial-loop hazard was minutes of single-threaded
    driver work at millions of files."""
    import os
    import time

    from moisturizer_spark.storage import ParquetTable

    src = ParquetTable(spark, f"{warehouse}/cl_src7", key="id", n_buckets=16)
    # several versions x 16 buckets -> well past the threaded threshold
    src.overwrite(_rows(spark, [(f"k{i}", i) for i in range(64)]))
    src.upsert(_rows(spark, [(f"k{i}", i + 100) for i in range(64)]))
    t0 = time.monotonic()
    clone = src.clone_to(f"{warehouse}/cl_dst7")
    elapsed = time.monotonic() - t0
    assert elapsed < 30  # pure metadata ops; generous CI bound

    def inodes(root):
        out = {}
        for r, _d, files in os.walk(os.path.join(root, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    src_ino = inodes(f"{warehouse}/cl_src7")
    dst_ino = inodes(f"{warehouse}/cl_dst7")
    # every manifest-referenced file linked: same relpath -> same inode
    shared = {k: v for k, v in dst_ino.items() if k in src_ino}
    assert len(shared) > 8
    assert all(src_ino[k] == v for k, v in shared.items())
    assert clone.read().count() == 64


# -- reads with the manifest schema ----------------------------------------------


def _merge_schema_read(table, rel_dirs, man):
    """The reader reads used before they took the manifest schema, kept
    here as the reference: infer the schema by merging every file footer,
    then project to the manifest's columns, NULL for those a file lacks."""
    schema = T.StructType.fromJson(json.loads(man["schema"]))
    if not rel_dirs:
        return table.spark.createDataFrame([], schema)
    paths = [os.path.join(table.path, d) for d in rel_dirs]
    df = table.spark.read.option("mergeSchema", "true").parquet(*paths)
    return df.select(*[
        F.col(f.name) if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


_T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _evolving_table(spark, path):
    """Four versions over 8 buckets. v1 holds 24 rows with decimal,
    timestamp and boolean columns; v2 MERGEs two rows that add flattened
    ``meta__*`` columns (decimal, string) and a timestamp; v3 adds a
    boolean ``flags__vip``; v4 deletes one v1 row. Buckets v2-v4 never
    touch keep their v1 files, which lack every later column."""
    table = ParquetTable(spark, path, n_buckets=8, retain_versions=10)
    table.upsert(spark.createDataFrame(
        [(f"e{i}", _T0 + dt.timedelta(minutes=i), Decimal(i) / 4, i % 2 == 0)
         for i in range(24)],
        "id string, last_modified timestamp, amount decimal(38,18), active boolean",
    ))
    table.upsert(spark.createDataFrame(
        [("e1", _T0 + dt.timedelta(days=1), Decimal("9.5"), False, "api",
          Decimal("0.125"), _T0 + dt.timedelta(hours=3)),
         ("n1", _T0 + dt.timedelta(days=1), None, True, "kafka", None, None)],
        "id string, last_modified timestamp, amount decimal(38,18), active boolean, "
        "meta__source string, meta__score decimal(38,18), seen_at timestamp",
    ))
    table.upsert(spark.createDataFrame(
        [("e1", _T0 + dt.timedelta(days=2), True)],
        "id string, last_modified timestamp, flags__vip boolean",
    ))
    table.delete_by_key(["e2"])
    return table


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _old_bucket_id(table):
    """An id whose bucket still holds only its v1 file."""
    man = table._load_manifest()
    return next(
        f"e{i}" for i in range(24)
        if man["buckets"][str(table.bucket_of(f"e{i}"))][0].startswith("data/v000001")
    )


def test_manifest_schema_reads_match_merge_schema_reader(spark, warehouse, monkeypatch):
    table = _evolving_table(spark, f"{warehouse}/evo")
    assert table._load_manifest()["version"] == 4
    reads = {
        "current": lambda: table.read(),
        "v1": lambda: table.read(version=1),
        "v2": lambda: table.read(version=2),
        "v3": lambda: table.read(version=3),
        "changes 1..4": lambda: table.table_changes(1, 4),
        "changes 2..3": lambda: table.table_changes(2, 3),
        "lookup": lambda: table.lookup(_old_bucket_id(table)),
    }
    got = {name: read() for name, read in reads.items()}
    got = {
        name: ([(f.name, f.dataType) for f in df.schema.fields], _sorted_rows(df))
        for name, df in got.items()
    }
    monkeypatch.setattr(ParquetTable, "_read_dirs", _merge_schema_read)
    for name, read in reads.items():
        df = read()
        want = ([(f.name, f.dataType) for f in df.schema.fields], _sorted_rows(df))
        assert got[name] == want, name
    assert len(got["current"][1]) == 24 and len(got["changes 1..4"][1]) == 6


def test_lookup_in_old_bucket_reads_new_columns_as_null(spark, warehouse):
    table = _evolving_table(spark, f"{warehouse}/evo_null")
    key = _old_bucket_id(table)
    (row,) = table.lookup(key).collect()
    assert row["id"] == key and row["amount"] is not None
    assert row["meta__source"] is None and row["meta__score"] is None
    assert row["seen_at"] is None and row["flags__vip"] is None
    assert table.lookup("n1").collect()[0]["meta__source"] == "kafka"
    assert table.lookup("e1").collect()[0]["flags__vip"] is True


def test_lookup_collect_runs_one_job(spark, warehouse, count_jobs):
    table = _evolving_table(spark, f"{warehouse}/evo_jobs")
    key = _old_bucket_id(table)
    rows, jobs = count_jobs(lambda: table.lookup(key).collect())
    assert [r["id"] for r in rows] == [key]
    assert jobs == 1, f"point read ran {jobs} jobs, want 1 (no schema inference)"


def _widened_table(spark, path, narrow, wide, values, wide_value):
    """``values`` typed ``narrow`` under keys k0, k1, ..., then a MERGE of
    ``wide_value`` typed ``wide`` at k1: the union writes the wider type
    into k1's bucket only."""
    table = ParquetTable(spark, path, n_buckets=8)
    table.upsert(spark.createDataFrame(
        [(f"k{i}", v) for i, v in enumerate(values)], f"id string, v {narrow}"
    ))
    table.upsert(spark.createDataFrame([("k1", wide_value)], f"id string, v {wide}"))
    schema = T.StructType.fromJson(json.loads(table._load_manifest()["schema"]))
    return table, schema["v"].dataType


def test_merge_widened_decimal_commits_to_the_manifest(spark, warehouse, monkeypatch):
    """The manifest records the wider type, so the untouched narrower
    files widen on read instead of the new files failing to narrow."""
    values = [Decimal(i) + Decimal("0.25") for i in range(16)]
    big = Decimal("1234567890.50")
    table, dtype = _widened_table(
        spark, f"{warehouse}/wide", "decimal(10,2)", "decimal(12,2)", values, big
    )
    assert dtype == T.DecimalType(12, 2)
    got = _sorted_rows(table.read())
    assert ("k1", big) in got and ("k3", values[3]) in got and len(got) == 16
    monkeypatch.setattr(ParquetTable, "_read_dirs", _merge_schema_read)
    assert _sorted_rows(table.read()) == got


def test_merge_widened_integer_commits_to_the_manifest(spark, warehouse):
    """INT files beside a BIGINT rewrite: the footer-merging reader could
    not merge the two at all; the manifest schema reads both."""
    table, dtype = _widened_table(
        spark, f"{warehouse}/wide_int", "int", "bigint", list(range(16)), 1 << 40
    )
    assert dtype == T.LongType()
    got = dict(table.read().collect())
    assert got["k1"] == 1 << 40 and got["k3"] == 3 and len(got) == 16


def test_delete_by_key_without_match_commits_nothing(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/dnm", n_buckets=4)
    table.upsert(spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long"))
    before = table._load_manifest()
    assert table.delete_by_key(["zz"]) == []
    assert table._load_manifest() == before
    assert not os.path.exists(f"{warehouse}/dnm/data/v000002")
    (row,) = table.delete_by_key(["a"])
    assert row["id"] == "a" and table._load_manifest()["version"] == 2

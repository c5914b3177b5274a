"""Storage (LWW upsert) + vectorized ingestion tests — FIXTURES.md F1/F2."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import Row, functions as F, types as T

from moisturizer_spark.ingest import IngestEngine, decode_envelope_bytes, unwrap_envelope
from moisturizer_spark.registry import Registry
from moisturizer_spark.storage import ParquetTable


def ts(second):
    return dt.datetime(2024, 1, 1, 0, 0, second)


def test_upsert_last_write_wins(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/t")
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("last_modified", T.TimestampType()),
            T.StructField("v", T.LongType()),
        ]
    )
    table.upsert(spark.createDataFrame([("a", ts(1), 1), ("b", ts(1), 2)], schema))
    # second batch: update a, insert c; within-batch dup on c → newest wins
    table.upsert(
        spark.createDataFrame(
            [("a", ts(2), 10), ("c", ts(2), 30), ("c", ts(3), 31)], schema
        )
    )
    got = {r["id"]: r["v"] for r in table.read().collect()}
    assert got == {"a": 10, "b": 2, "c": 31}


def test_upsert_schema_evolution_adds_columns(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/t")
    s1 = T.StructType([T.StructField("id", T.StringType()), T.StructField("v", T.LongType())])
    s2 = T.StructType(list(s1.fields) + [T.StructField("w", T.StringType())])
    table.upsert(spark.createDataFrame([("a", 1)], s1))
    table.upsert(spark.createDataFrame([("b", 2, "x")], s2))
    rows = {r["id"]: r for r in table.read().collect()}
    assert rows["a"]["w"] is None and rows["b"]["w"] == "x"


def test_delete_where_returns_deleted(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/t")
    s = T.StructType([T.StructField("id", T.StringType()), T.StructField("v", T.LongType())])
    table.upsert(spark.createDataFrame([("a", 1), ("b", 2)], s))
    deleted = table.delete_where(F.col("id") == "a").collect()
    assert [r["id"] for r in deleted] == ["a"]
    assert [r["id"] for r in table.read().collect()] == ["b"]


def test_decode_envelope_bytes_json():
    type_id, data = decode_envelope_bytes(b'{"type_id": "t", "data": {"x": 1}}')
    assert (type_id, data) == ("t", {"x": 1})
    with pytest.raises(ValueError):
        decode_envelope_bytes(b'{"data": {}}')


def test_unwrap_envelope_dead_letters(spark):
    df = spark.createDataFrame(
        [Row(type_id="t", data="{}"), Row(type_id=None, data="{}")]
    )
    good, dead = unwrap_envelope(df)
    assert good.count() == 1 and dead.count() == 1


def test_ingest_batch_end_to_end(spark, warehouse):
    reg = Registry(spark, warehouse)
    engine = IngestEngine(reg)
    rows = [
        Row(type_id="my_type", data=json.dumps({"id": "1", "foo": "bar", "number": 42})),
        Row(type_id="my_type", data=json.dumps({"id": "2", "foo": "baz", "number": 7,
                                                "nested": {"k": "v"}})),
        Row(type_id="other", data=json.dumps({"id": "9", "flag": True})),
        Row(type_id=None, data="{}"),                       # missing type_id → dead letter
        Row(type_id="my_type", data=json.dumps({"id": "3", "number": "conflict!"})),
    ]
    stats = engine.ingest_batch(spark.createDataFrame(rows))
    assert stats.types == 2
    assert stats.dead_letters == 2  # null type_id + type-conflict record

    my_type = reg.table("my_type").read()
    got = {r["id"]: r.asDict() for r in my_type.collect()}
    assert set(got) == {"1", "2"}
    assert got["2"]["nested__k"] == "v"          # flattened with __ separator
    assert got["1"]["number"] == 42
    desc = reg.get("my_type")
    assert desc.properties["number"].pair == ("integer", None)
    assert desc.properties["nested__k"].pair == ("string", None)

    other = reg.table("other").read()
    assert [r["flag"] for r in other.collect()] == [True]
    assert engine.dead_letters().count() == 2


def test_ingest_within_batch_duplicates_last_arrival_wins(spark, warehouse):
    # The reference consumes messages sequentially, so when one batch holds
    # several records for the same id, the LAST one must win — regardless of
    # which partition validates first (SURVEY §7 risk 4).
    reg = Registry(spark, warehouse)
    engine = IngestEngine(reg)
    payloads = [{"id": "a", "v": i} for i in range(1, 13)]
    engine.ingest_batch(
        # createDataFrame splits the rows over several partitions; parallel
        # validation across them must not reorder the outcome.
        spark.createDataFrame([Row(type_id="t", data=json.dumps(p)) for p in payloads])
    )
    got = {r["id"]: r["v"] for r in reg.table("t").read().collect()}
    assert got == {"a": 12}
    assert "_seq" not in reg.table("t").read().columns


def test_ingest_upsert_overwrites_by_id(spark, warehouse):
    reg = Registry(spark, warehouse)
    engine = IngestEngine(reg)
    batch = lambda payloads: spark.createDataFrame(
        [Row(type_id="t", data=json.dumps(p)) for p in payloads]
    )
    engine.ingest_batch(batch([{"id": "1", "v": 1}]))
    engine.ingest_batch(batch([{"id": "1", "v": 2}, {"id": "2", "v": 3}]))
    got = {r["id"]: r["v"] for r in reg.table("t").read().collect()}
    assert got == {"1": 2, "2": 3}


def test_replay_dead_letters_after_migration(spark, warehouse):
    from moisturizer_spark.crud import Engine

    reg = Registry(spark, warehouse)
    engine = IngestEngine(reg)
    batch = lambda payloads: spark.createDataFrame(
        [Row(type_id="t", data=json.dumps(p)) for p in payloads]
    )
    engine.ingest_batch(batch([{"id": "1", "n": 5}]))          # infers n: integer
    engine.ingest_batch(batch([{"id": "2", "n": "five"}]))     # conflict → dead letter
    assert engine.dead_letters().count() == 1
    assert {r["id"] for r in reg.table("t").read().collect()} == {"1"}

    # re-declare n as string (crud Engine shares the same warehouse),
    # then replay: the dead letter re-ingests under the fixed schema
    crud = Engine(spark, warehouse)
    crud.migrate_type("t", {"n": {"type": "string", "format": ""}})
    stats = engine.replay_dead_letters("t")
    assert stats.rows_upserted >= 1
    got = {r["id"]: r["n"] for r in reg.table("t").read().collect()}
    assert got == {"1": "5", "2": "five"}
    assert engine.dead_letters().count() == 0

    # replay with nothing to do is a no-op
    assert engine.replay_dead_letters("t").types == 0


def test_optimized_write_one_file_per_bucket(spark, warehouse):
    # the pre-write bucket repartition (Delta "optimized write") must keep
    # file count == non-empty buckets even for a wide upstream partitioning
    table = ParquetTable(spark, f"{warehouse}/ow")
    df = spark.range(10_000).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df.repartition(64))
    n, _ = table.file_stats()
    assert n <= table.n_buckets


def test_compact_reduces_files_preserves_rows(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/cmp")
    # append stacks a fresh file per bucket per micro-batch (the dead-letter
    # log pattern) — per-bucket dir lists accumulate across versions
    for lo in range(0, 10_000, 2_000):
        table.append(
            spark.range(lo, lo + 2_000).select(
                F.col("id").cast("string").alias("id"), F.col("id").alias("v")
            )
        )
    n_before, total = table.file_stats()
    assert n_before > table.n_buckets  # multiple versions stacked per bucket
    n_after = table.compact(target_file_bytes=max(total, 1))
    assert n_after <= table.n_buckets  # one file per non-empty bucket
    assert table.read().count() == 10_000
    assert table.read().agg(F.sum("v")).first()[0] == sum(range(10_000))
    # already-compact tables are a no-op (no rewrite churn)
    assert table.compact(target_file_bytes=max(total, 1)) == n_after


# -- bucketed layout: pruning, crash safety, point ops ------------------------


def _data_files(table):
    import os

    man = table._load_manifest()
    files = {}
    for dirs in man["buckets"].values():
        for rel in dirs:
            d = os.path.join(table.path, rel)
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    p = os.path.join(d, name)
                    files[p] = os.path.getmtime(p)
    return files


def test_upsert_rewrites_only_touched_buckets(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/bp")
    df = spark.range(1_000).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df)
    before = _data_files(table)
    assert len(before) > 1  # multiple buckets in play

    # single-key upsert touches exactly one bucket
    one = spark.createDataFrame([("42", 420)], "id string, v long")
    table.upsert(one)
    after = _data_files(table)

    touched_bucket = table.bucket_of("42")
    man = table._load_manifest()
    survivors = set(before) & set(after)
    # every bucket except the touched one carries its ORIGINAL file forward
    assert len(set(before) - survivors) == 1, "exactly one bucket rewritten"
    for p in survivors:
        assert after[p] == before[p], "untouched bucket files must not be rewritten"
    # and the touched bucket's new dir belongs to the new version
    assert man["buckets"][str(touched_bucket)][0].startswith("data/v000002")
    # correctness of the merge itself
    got = dict(table.read().select("id", "v").collect())
    assert got["42"] == 420 and got["41"] == 41 and len(got) == 1_000


def test_delete_by_key_touches_one_bucket(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/dbk")
    df = spark.range(1_000).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df)
    before = _data_files(table)
    echoed = table.delete_by_key(["7"])
    assert [r["id"] for r in echoed] == ["7"]
    after = _data_files(table)
    assert len(set(before) - set(after)) == 1, "exactly one bucket rewritten"
    assert table.read().count() == 999


def test_lookup_scans_single_bucket(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/lk")
    df = spark.range(1_000).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df)
    assert [r["v"] for r in table.lookup("123").collect()] == [123]
    # plan must scan only the owning bucket's directory
    plan = table.lookup("123")._jdf.queryExecution().executedPlan().toString()
    bucket = table.bucket_of("123")
    man = table._load_manifest()
    (own_dir,) = man["buckets"][str(bucket)]
    assert own_dir.split("/")[-1] in plan


def test_crash_between_data_write_and_manifest_commit(spark, warehouse, monkeypatch):
    import os

    table = ParquetTable(spark, f"{warehouse}/crash")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long")
    table.overwrite(df)

    # fail the atomic pointer swap: data files land, manifest doesn't
    def boom(src, dst):
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr("moisturizer_spark.storage.os.replace", boom)
    with pytest.raises(OSError):
        table.upsert(spark.createDataFrame([("a", 99)], "id string, v long"))
    monkeypatch.undo()

    # reader still sees the old committed version
    got = dict(table.read().select("id", "v").collect())
    assert got == {"a": 1, "b": 2}

    # and the next successful commit vacuums the orphaned version dir
    table.upsert(spark.createDataFrame([("b", 20)], "id string, v long"))
    got = dict(table.read().select("id", "v").collect())
    assert got == {"a": 1, "b": 20}
    versions = set(os.listdir(os.path.join(table.path, "data")))
    man = table._load_manifest()
    referenced = {d.split("/")[1] for dirs in man["buckets"].values() for d in dirs} | {
        d.split("/")[1] for d in man["prior_dirs"]
    }
    assert versions == referenced, "unreferenced version dirs must be vacuumed"


def test_delete_where_echo_guard(spark, warehouse):
    from moisturizer_spark.storage import EchoTooLarge

    table = ParquetTable(spark, f"{warehouse}/eg")
    df = spark.range(500).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df)
    with pytest.raises(EchoTooLarge):
        table.delete_where(F.col("v") >= 0, echo_limit=100)
    assert table.read().count() == 500, "guarded delete must not partially apply"

    bulk = table.delete_where(F.col("v") >= 250, echo=False)
    assert bulk.count() == 250
    assert table.read().count() == 250


def test_append_then_read_and_compact(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/ap")
    mk = lambda lo: spark.range(lo, lo + 10).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    for lo in (0, 10, 20):
        table.append(mk(lo))
    assert table.read().count() == 30  # append never dedups
    n_before, _ = table.file_stats()
    table.compact(target_file_bytes=1 << 30)
    assert table.file_stats()[0] <= n_before
    assert table.read().count() == 30


# -- distributed envelope decode (msgpack-else-JSON) --------------------------


def test_python_decode_path_json_envelopes(spark, warehouse):
    # wire_format="python" exercises the mapInPandas decoder without
    # msgpack installed: JSON fallback + per-row dead-letter capture
    raw = [
        json.dumps({"type_id": "t", "data": {"id": "1", "v": 7}}).encode(),
        b"\x00\x01garbage",                      # undecodable → dead letter
        json.dumps({"data": {"id": "2"}}).encode(),  # no type_id → dead letter
    ]
    df = spark.createDataFrame([(v,) for v in raw], "value binary")
    good, dead = unwrap_envelope(df, wire_format="python")
    assert good.count() == 1
    dead_rows = dead.collect()
    assert len(dead_rows) == 2
    assert all(r["error"] for r in dead_rows)

    # and end-to-end through the engine
    reg = Registry(spark, warehouse)
    engine = IngestEngine(reg)
    stats = engine.ingest_batch(df, wire_format="python")
    assert stats.dead_letters == 2
    assert {r["id"] for r in reg.table("t").read().collect()} == {"1"}


def test_msgpack_envelopes_decode_distributed(spark, warehouse):
    # no longer importorskip-gated: msgpack_mini backs the decoder when
    # the real package is absent, so the distributed msgpack path runs
    # e2e in every environment (wire bytes produced by whichever codec
    # the container has — the format is the same spec either way)
    try:
        import msgpack  # noqa: F401 — prefer real wire bytes if present
    except ImportError:
        from moisturizer_spark import msgpack_mini as msgpack
    raw = [
        msgpack.dumps({"type_id": "t", "data": {"id": "1", "v": 7}}),
        msgpack.dumps({"data": {"id": "2"}}),            # no type_id → dead
        json.dumps({"type_id": "t", "data": {"id": "3", "v": 9}}).encode(),
    ]
    df = spark.createDataFrame([(v,) for v in raw], "value binary")
    # "python" = the msgpack-else-JSON mapInPandas path ("auto" only
    # defaults here when the REAL package is installed)
    good, dead = unwrap_envelope(df, wire_format="python")
    assert good.count() == 2 and dead.count() == 1

    reg = Registry(spark, warehouse)
    stats = IngestEngine(reg).ingest_batch(df, wire_format="python")
    assert stats.dead_letters == 1
    assert {r["id"] for r in reg.table("t").read().collect()} == {"1", "3"}


def test_ingest_batch_replay_is_exactly_once(spark, warehouse):
    # foreachBatch replay after crash-before-checkpoint: same batch_id must
    # not duplicate dead letters, must not rewrite tables, and the next
    # batch id must apply normally
    reg = Registry(spark, warehouse)
    engine = IngestEngine(reg)
    batch = spark.createDataFrame(
        [
            Row(type_id="t", data=json.dumps({"id": "1", "v": 1})),
            Row(type_id=None, data="{}"),  # dead letter
        ]
    )
    s1 = engine.ingest_batch(batch, batch_id=0)
    assert s1.rows_upserted == 1 and s1.dead_letters == 1
    v_before = reg.table("t")._load_manifest()["version"]

    s2 = engine.ingest_batch(batch, batch_id=0)  # replay
    assert s2.rows_upserted == 0 and s2.dead_letters == 0
    assert engine.dead_letters().count() == 1, "replayed dead letters duplicated"
    assert reg.table("t")._load_manifest()["version"] == v_before, (
        "replayed batch rewrote the table"
    )

    s3 = engine.ingest_batch(batch, batch_id=1)  # next batch applies
    assert s3.rows_upserted == 1 and s3.dead_letters == 1
    assert engine.dead_letters().count() == 2


def test_bucket_files_sorted_by_key_with_stats(spark, warehouse):
    # within-bucket key sort (ZORDER-lite): row-group min/max stats make a
    # pushed-down id equality skip row groups inside the bucket file
    import os

    import pyarrow.parquet as pq

    table = ParquetTable(spark, f"{warehouse}/srt")
    df = spark.range(5_000).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df.repartition(16))
    man = table._load_manifest()
    (rel,) = next(iter(man["buckets"].values()))
    d = os.path.join(table.path, rel)
    (fname,) = [n for n in os.listdir(d) if n.endswith(".parquet")]
    pf = pq.ParquetFile(os.path.join(d, fname))
    ids = pf.read(columns=["id"])["id"].to_pylist()
    assert ids == sorted(ids), "bucket file not sorted by key"
    meta = pf.metadata.row_group(0).column(0)
    assert meta.statistics is not None and meta.statistics.has_min_max

    # and the point-lookup filter is pushed to the scan
    plan = table.lookup("123")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,123)]" in plan


# -- time travel + change data feed -------------------------------------------


def test_time_travel_reads_retained_versions(spark, warehouse):
    from moisturizer_spark.storage import VersionNotRetained

    table = ParquetTable(spark, f"{warehouse}/tt", retain_versions=3)
    table.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long"))
    table.upsert(spark.createDataFrame([("a", 10)], "id string, v long"))
    table.upsert(spark.createDataFrame([("c", 3)], "id string, v long"))

    assert dict(table.read(version=1).collect()) == {"a": 1, "b": 2}
    assert dict(table.read(version=2).collect()) == {"a": 10, "b": 2}
    assert dict(table.read().collect()) == {"a": 10, "b": 2, "c": 3}
    with pytest.raises(VersionNotRetained):
        table.read(version=99)


def test_time_travel_vacuumed_version_raises(spark, warehouse):
    from moisturizer_spark.storage import VersionNotRetained

    table = ParquetTable(spark, f"{warehouse}/ttv", retain_versions=1)
    table.overwrite(spark.createDataFrame([("a", 1)], "id string, v long"))
    table.upsert(spark.createDataFrame([("a", 2)], "id string, v long"))
    table.upsert(spark.createDataFrame([("a", 3)], "id string, v long"))
    # v1's files are out of the retain window (current + grace covers v2)
    with pytest.raises(VersionNotRetained):
        table.read(version=1).collect()


def test_retain_versions_persisted_in_manifest(spark, warehouse):
    # retention is a table property: a low-retention handle on the same
    # path must NOT vacuum history a high-retention handle committed to
    # keep (the manifest stores the max ever requested)
    path = f"{warehouse}/rvp"
    keeper = ParquetTable(spark, path, retain_versions=5)
    keeper.overwrite(spark.createDataFrame([("a", 1)], "id string, v long"))
    keeper.upsert(spark.createDataFrame([("a", 2)], "id string, v long"))

    low = ParquetTable(spark, path, retain_versions=1)
    low.upsert(spark.createDataFrame([("a", 3)], "id string, v long"))
    low.upsert(spark.createDataFrame([("a", 4)], "id string, v long"))

    # v1/v2 would be gone if the low-retention writer's vacuum had won
    assert dict(keeper.read(version=1).collect()) == {"a": 1}
    assert dict(keeper.read(version=2).collect()) == {"a": 2}
    assert dict(keeper.read().collect()) == {"a": 4}


def test_table_changes_classifies_ops(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/cdf", retain_versions=10)
    table.overwrite(
        spark.createDataFrame([("a", 1), ("b", 2), ("d", 4)], "id string, v long")
    )
    table.upsert(
        spark.createDataFrame([("a", 10), ("c", 3)], "id string, v long")
    )  # update a, insert c
    table.delete_by_key(["b"])  # delete b

    ch12 = table.table_changes(1, 2)
    got = {(r["id"], r["_change_type"]) for r in ch12.collect()}
    assert got == {
        ("a", "update_preimage"),
        ("a", "update_postimage"),
        ("c", "insert"),
    }
    assert {r["_commit_version"] for r in ch12.collect()} == {2}

    ch23 = table.table_changes(2, 3)
    assert {(r["id"], r["_change_type"]) for r in ch23.collect()} == {("b", "delete")}

    # full range unions per-commit diffs with their versions
    full = table.table_changes(1, 3)
    byv = {}
    for r in full.collect():
        byv.setdefault(r["_commit_version"], set()).add((r["id"], r["_change_type"]))
    assert set(byv) == {2, 3}
    assert ("b", "delete") in byv[3]


def test_table_changes_prunes_to_changed_buckets(spark, warehouse):
    from moisturizer_spark.storage import _changed_buckets

    table = ParquetTable(spark, f"{warehouse}/cdfp", retain_versions=10)
    df = spark.range(500).select(
        F.col("id").cast("string").alias("id"), F.col("id").alias("v")
    )
    table.overwrite(df)
    table.upsert(spark.createDataFrame([("42", 4200)], "id string, v long"))
    man1 = table._load_version_manifest(1)
    man2 = table._load_version_manifest(2)
    assert _changed_buckets(man1, man2) == [table.bucket_of("42")]
    got = {(r["id"], r["_change_type"]) for r in table.table_changes(1, 2).collect()}
    assert got == {("42", "update_preimage"), ("42", "update_postimage")}


def test_unchanged_upsert_rows_are_not_change_rows(spark, warehouse):
    # rows rewritten into a touched bucket with IDENTICAL values must not
    # appear in the feed (the rewrite is physical, not logical)
    table = ParquetTable(spark, f"{warehouse}/cdfu", retain_versions=10, n_buckets=2)
    table.overwrite(
        spark.createDataFrame([(str(i), i) for i in range(50)], "id string, v long")
    )
    table.upsert(spark.createDataFrame([("7", 7)], "id string, v long"))  # no-op value
    assert table.table_changes(1, 2).count() == 0


def test_compact_cluster_by_sorts_row_groups(spark, warehouse):
    import os

    import pyarrow.parquet as pq

    table = ParquetTable(spark, f"{warehouse}/zo", n_buckets=2)
    # write in value-scrambled order across several commits
    for lo in (500, 0, 250, 750):
        table.upsert(
            spark.range(lo, lo + 250).select(
                F.col("id").cast("string").alias("id"),
                (F.col("id") * 7919 % 1000).alias("v"),
            )
        )
    table.compact(cluster_by=["v"])
    man = table._load_manifest()
    for dirs in man["buckets"].values():
        for rel in dirs:
            d = os.path.join(table.path, rel)
            for name in os.listdir(d):
                if not name.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(d, name)).metadata
                vi = next(
                    i for i in range(md.num_columns)
                    if md.schema.column(i).name == "v"
                )
                prev_max = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(vi).statistics
                    if prev_max is not None:
                        # clustered: row groups cover disjoint ascending ranges
                        assert st.min >= prev_max
                    prev_max = st.max
    # data survives byte-for-byte semantics
    assert table.read().count() == 1000


def test_history_lists_commits_newest_first(spark, warehouse):
    table = ParquetTable(spark, f"{warehouse}/hist", retain_versions=10)
    table.overwrite(
        spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long")
    )
    table.upsert(spark.createDataFrame([("a", 9)], "id string, v long"),
                 txn=("app1", 7))
    h = table.history()
    assert [e["version"] for e in h] == [2, 1]
    assert h[0]["buckets_changed"] == [table.bucket_of("a")]
    assert h[0]["txn"] == {"app1": 7}
    assert all(e["readable"] for e in h)

"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common, gen, metrics, run  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span, _commit_delta, event_log_by_group, module_self_s, self_times)
from perfbench.w_query import result_hash  # noqa: E402
from perfbench.w_store import Shadow, same_object  # noqa: E402


# -- seeded inputs -------------------------------------------------------------

def test_same_seed_same_envelopes_and_ops():
    a = [[e.wire() for e in b] for b in gen.ingest_batches(7, 3)]
    b = [[e.wire() for e in b] for b in gen.ingest_batches(7, 3)]
    c = [[e.wire() for e in b] for b in gen.ingest_batches(8, 3)]
    assert a == b and a != c
    ids = gen.expected_after(gen.ingest_batches(7, 3)).rows[gen.HOT_TYPE]
    def ops(seed):
        return [(o.kind, o.target, o.body) for o in gen.crud_ops(seed, ids, 2)]

    assert ops(7) == ops(7) and ops(7) != ops(8)


def test_request_blocks_have_fixed_composition():
    ids = {f"h{i}": {} for i in range(50)}
    for seed in range(5):
        kinds = [o.kind for o in gen.crud_ops(seed, ids, 3)]
        n = len(gen.BLOCK)
        for i in range(3):
            assert sorted(kinds[n * i:n * (i + 1)]) == sorted(gen.BLOCK)


def test_batches_carry_poison_and_untyped_envelopes():
    batch = gen.ingest_batches(3, 1)[0]
    assert sum(not e.valid for e in batch) > 0
    assert sum(e.type_id is None for e in batch) > 0
    assert {e.type_id for e in batch} == {gen.HOT_TYPE, gen.TAIL_TYPES[0], None}


# -- expected-state model ------------------------------------------------------

def _env(type_id, data, valid=True):
    return gen.Envelope(type_id, data, valid)


def test_expectation_last_write_wins_and_dead_letters():
    b0 = [_env("t", {"id": "1", "x": 1}), _env("t", {"id": "1", "x": 2}),
          _env("t", {"id": "2", "x": 3}), _env(None, {"id": "3"}),
          _env("t", {"id": "2", "x": "bad"}, valid=False)]
    b1 = [_env("t", {"id": "1", "x": 9, "geo": {"lat": 1.5}}), _env("u", {"id": "1", "y": True})]
    exp = gen.expected_after([b0, b1])
    assert exp.rows["t"] == {"1": {"id": "1", "x": 9, "geo": {"lat": 1.5}},
                             "2": {"id": "2", "x": 3}}
    assert exp.row_counts() == {"t": 2, "u": 1}
    assert exp.dead_letters == 2
    assert exp.fields["t"] == {"id", "last_modified", "x", "geo__lat"}
    assert exp.evolved_fields == 3  # t: x, then geo__lat; u: y
    assert exp.rows_upserted == 5 and exp.envelopes == 7


def test_expectation_matches_brute_force_replay():
    batches = gen.ingest_batches(11, 4)
    exp = gen.expected_after(batches)
    last: dict[tuple[str, str], dict] = {}
    for env in (e for b in batches for e in b):
        if env.type_id is not None and env.valid:
            last[(env.type_id, env.data["id"])] = env.data
    assert {(t, i): d for t, rows in exp.rows.items() for i, d in rows.items()} == last
    assert exp.dead_letters == sum(1 for b in batches for e in b
                                   if e.type_id is None or not e.valid)


def test_shadow_model_tracks_writes_and_404_after_delete():
    shadow = Shadow({"a": {"qty": 1, "amount": 2.5}})
    get = gen.CrudOp("get", "a", None)
    assert shadow.apply(get, 200, {"id": "a", "qty": 1, "amount": "2.500000000000000000",
                                   "last_modified": "t"})
    assert not shadow.apply(get, 200, {"id": "a", "qty": 2, "amount": "2.5"})
    patch = gen.CrudOp("patch", "a", {"qty": 5})
    assert shadow.apply(patch, 200, {"id": "a", "qty": 5, "amount": "2.5"})
    delete = gen.CrudOp("delete", "a", None)
    assert shadow.apply(delete, 200, {"id": "a", "qty": 5, "amount": "2.5"})
    assert shadow.apply(get, 404, {"error": "missing"})
    assert not shadow.apply(get, 200, {"id": "a"})


def test_same_object_compares_numbers_as_decimals_and_ignores_nulls():
    assert same_object({"id": "x", "geo": {"lat": 0.1}}, {"id": "x", "geo__lat": 0.1,
                                                          "other": None})
    assert not same_object({"a": 1}, {"a": 1, "b": 2})


# -- statistics ----------------------------------------------------------------

def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert common.tail(list(range(10))) is None
    t = common.tail(list(range(11)))
    assert t == {"value": 0, "percentile": 9, "samples": 11}
    values = list(range(100))
    random.Random(1).shuffle(values)
    t = common.tail(values)
    assert t["value"] == 89 and t["percentile"] == 90
    assert sum(v > t["value"] for v in values) == 10


# -- spans ---------------------------------------------------------------------

def test_self_time_is_duration_minus_children_cover():
    spans = [
        Span(0, "ingest.ingest_batch", 0.0, 10.0, None, "op"),
        Span(1, "storage.upsert", 1.0, 3.0, 0, "op"),
        Span(2, "registry.save", 2.0, 5.0, 0, "op"),   # overlaps span 1
        Span(3, "storage.append", 7.0, 8.0, 0, "op"),
        Span(4, "storage.lookup", 7.2, 7.5, 3, "op"),
    ]
    selfs = self_times(spans)
    assert selfs[0] == 10.0 - (4.0 + 1.0)
    assert abs(selfs[3] - 0.7) < 1e-9
    by_module = module_self_s(spans)
    assert by_module["ingest"] == 5.0
    assert abs(by_module["storage"] - (2.0 + 0.7 + 0.3)) < 1e-9
    assert by_module["registry"] == 3.0


def test_event_log_grouping(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "JVM GC Time": 5, "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"JVM GC Time": 7}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = event_log_by_group(str(tmp_path))
    assert groups == {"g1": {"jobs": 1, "stages": 1, "tasks": 1, "shuffle_bytes": 100,
                             "spill_bytes": 11, "gc_ms": 5}}


def test_commit_delta_counts_changed_buckets_and_new_bytes(tmp_path):
    d = tmp_path / "data" / "v000002" / "__bucket=1"
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x" * 40)
    before = {"buckets": {"0": ["data/v000001/__bucket=0"], "1": ["data/v000001/__bucket=1"]}}
    after = {"buckets": {"0": ["data/v000001/__bucket=0"], "1": ["data/v000002/__bucket=1"]}}
    assert _commit_delta(str(tmp_path), before, after) == {"buckets": 1, "bytes": 40}


# -- results -------------------------------------------------------------------

def test_result_hash_ignores_row_and_column_order():
    a = result_hash(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
    b = result_hash(["y", "x"], [(None, 2), (0.3, 1)])
    assert a == b
    assert a != result_hash(["x", "y"], [(1, 0.3), (3, None)])


def test_benchmark_json_is_written_from_the_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == metrics.benchmark_json(run.RUN_SECONDS)

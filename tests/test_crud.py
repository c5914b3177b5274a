"""CRUD + auth surface tests, mirroring the reference's REST test matrix
(``/root/reference/tests/test_views.py`` semantics; FIXTURES.md F2/F3/F6)."""

from __future__ import annotations

import json
import time

import pytest

from moisturizer_spark.crud import Engine
from moisturizer_spark.errors import (
    ObjectNotFound,
    PermissionDenied,
    TypeNotFound,
    ValidationError,
)

CANONICAL = {"foo": "bar", "number": 42}  # reference test_views.py:50-52


@pytest.fixture()
def engine(spark, warehouse):
    return Engine(spark, warehouse)


def test_create_object_generates_id_and_echoes(engine):
    row = engine.create_object("my_type", CANONICAL)
    assert row["foo"] == "bar" and row["number"] == 42
    assert row["id"] and row["last_modified"]


def test_get_object_point_read(engine):
    created = engine.create_object("my_type", CANONICAL)
    got = engine.get_object("my_type", created["id"])
    assert got["foo"] == "bar" and got["id"] == created["id"]


def test_get_missing_object_404(engine):
    engine.create_object("my_type", CANONICAL)
    with pytest.raises(ObjectNotFound):
        engine.get_object("my_type", "nope")


def test_list_unknown_type_is_403(engine):
    # reference conflates unknown type with permissions (test_views.py:229-231)
    with pytest.raises(TypeNotFound) as e:
        engine.list_objects("never_seen")
    assert e.value.status == 403


def test_invalid_payload_rejected_400(engine):
    engine.create_object("my_type", CANONICAL)
    with pytest.raises(ValidationError) as e:
        engine.create_object("my_type", {"foo": 12, "number": 42})
    assert e.value.status == 400


def test_put_creates_at_url_id(engine):
    row = engine.upsert_object("my_type", "42", CANONICAL)
    assert row["id"] == "42"
    assert engine.get_object("my_type", "42")["foo"] == "bar"


def test_put_bumps_last_modified_monotonically(engine):
    first = engine.upsert_object("my_type", "42", CANONICAL)
    time.sleep(0.01)
    second = engine.upsert_object("my_type", "42", {"foo": "baz", "number": 1})
    assert second["last_modified"] > first["last_modified"]
    assert engine.get_object("my_type", "42")["foo"] == "baz"


def test_put_merges_new_fields_into_schema(engine):
    engine.upsert_object("my_type", "42", CANONICAL)
    engine.upsert_object("my_type", "42", {**CANONICAL, "banana": "split"})
    assert engine.get_object("my_type", "42")["banana"] == "split"


def test_patch_merges_only_provided_fields(engine):
    engine.upsert_object("my_type", "42", CANONICAL)
    patched = engine.patch_object("my_type", "42", {"number": 7})
    assert patched["number"] == 7
    assert patched["foo"] == "bar"  # untouched
    # stored number (DECIMAL) and array (JSON string) fields, and a
    # required field, survive a PATCH that does not mention them
    engine.create_type("priced", properties={"foo": {"type": "string", "required": True}})
    engine.upsert_object("priced", "1", {"foo": "bar", "amount": 1.5, "tags": ["a", "b"]})
    patched = engine.patch_object("priced", "1", {"amount": 2.25})
    assert patched["foo"] == "bar" and float(patched["amount"]) == 2.25
    assert json.loads(patched["tags"]) == ["a", "b"]
    patched = engine.patch_object("priced", "1", {"foo": "baz"})
    assert patched["foo"] == "baz" and float(patched["amount"]) == 2.25
    # a wrong type for an existing field is still a 400
    with pytest.raises(ValidationError) as e:
        engine.patch_object("priced", "1", {"amount": "lots"})
    assert e.value.status == 400
    assert engine.get_object("priced", "1")["foo"] == "baz"


def test_delete_object_echoes_row(engine):
    engine.upsert_object("my_type", "42", CANONICAL)
    deleted = engine.delete_object("my_type", "42")
    assert deleted["foo"] == "bar"
    with pytest.raises(ObjectNotFound):
        engine.get_object("my_type", "42")


def test_delete_missing_object_404_commits_nothing(engine):
    engine.upsert_object("my_type", "42", CANONICAL)
    table = engine.registry.table("my_type")
    version = table._load_manifest()["version"]
    with pytest.raises(ObjectNotFound) as e:
        engine.delete_object("my_type", "nope")
    assert e.value.status == 404
    assert table._load_manifest()["version"] == version
    with pytest.raises(ObjectNotFound):
        engine.delete_user("ghost")


def _evolved_type(engine):
    """Two objects over two commits; the second adds a column."""
    engine.upsert_object("jobs_t", "a", {"foo": "x", "number": 1})
    engine.upsert_object("jobs_t", "b", {"foo": "y", "number": 2, "extra": {"k": True}})
    assert engine.registry.table("jobs_t")._load_manifest()["version"] == 2


def test_get_object_runs_one_job(engine, count_jobs):
    _evolved_type(engine)
    got, jobs = count_jobs(lambda: engine.get_object("jobs_t", "b"))
    assert got["extra"] == {"k": True}
    assert jobs == 1, f"GET ran {jobs} jobs, want 1 (no schema inference)"


def test_delete_object_reads_the_row_once(engine, count_jobs):
    """One job reads the owning bucket and collects the echo, two write
    the rewritten bucket (its shuffle, then the file write)."""
    _evolved_type(engine)
    deleted, jobs = count_jobs(lambda: engine.delete_object("jobs_t", "a"))
    assert deleted == {k: v for k, v in deleted.items() if v is not None}
    assert deleted["foo"] == "x" and deleted["id"] == "a"
    assert jobs == 3, f"DELETE ran {jobs} jobs, want 3"
    assert engine.delete_user("admin")["id"] == "admin"


def test_delete_collection_truncates_and_echoes(engine):
    engine.create_object("my_type", CANONICAL)
    engine.create_object("my_type", {"foo": "two", "number": 2})
    deleted = engine.delete_collection("my_type")
    assert len(deleted) == 2
    assert engine.list_objects("my_type") == []


def test_declared_type_validates_objects(engine):
    engine.create_type(
        "strict",
        properties={"name": {"type": "string", "required": True}},
    )
    with pytest.raises(ValidationError):
        engine.create_object("strict", {"other": 1})
    row = engine.create_object("strict", {"name": "ok"})
    assert row["name"] == "ok"


def test_invalid_declared_property_rejected(engine):
    # FIXTURES.md F3: {'type': 'pancakes'} must be rejected
    with pytest.raises(ValidationError):
        engine.create_type("bad", properties={"f": {"type": "pancakes"}})


def test_nested_objects_round_trip(engine):
    row = engine.create_object("nested", {"a": {"b": 1, "c": {"d": "x"}}})
    got = engine.get_object("nested", row["id"])
    assert got["a"]["b"] == 1 and got["a"]["c"]["d"] == "x"


# -- users + permissions -----------------------------------------------------


def test_admin_user_bootstrapped(engine):
    admin = engine.get_user("admin")
    assert admin["api_key"] and admin["role"] == "admin"


def test_create_user_issues_api_key_never_echoes_password(engine):
    user = engine.create_user("alice", password="hunter2")
    assert user["api_key"]
    assert "password" not in user
    assert "password" not in engine.get_user("alice")
    assert all("password" not in u for u in engine.list_users())


def test_authenticate(engine):
    user = engine.create_user("bob")
    assert engine.authenticate("bob", user["api_key"])["id"] == "bob"
    with pytest.raises(PermissionDenied):
        engine.authenticate("bob", "wrong")
    with pytest.raises(PermissionDenied):
        engine.authenticate("ghost", "x")


def test_permission_matrix(engine):
    """read-only → list/get 200, create/put/patch 403; write-only inverse
    (reference test_views.py:392-440)."""
    engine.create_user("reader")
    engine.create_user("writer")
    engine.create_object("my_type", CANONICAL)  # admin seeds the type
    engine.grant("reader", "my_type", read=True)
    engine.grant("writer", "my_type", create=True, write=True)

    assert engine.list_objects("my_type", user="reader")
    with pytest.raises(PermissionDenied):
        engine.create_object("my_type", CANONICAL, user="reader")
    with pytest.raises(PermissionDenied):
        engine.upsert_object("my_type", "9", CANONICAL, user="reader")

    with pytest.raises(PermissionDenied):
        engine.list_objects("my_type", user="writer")
    engine.create_object("my_type", CANONICAL, user="writer")
    engine.upsert_object("my_type", "9", CANONICAL, user="writer")


def test_no_grant_is_403(engine):
    engine.create_user("nobody")
    engine.create_object("my_type", CANONICAL)
    with pytest.raises(PermissionDenied):
        engine.list_objects("my_type", user="nobody")


def test_heartbeat(engine):
    assert engine.heartbeat() == {"server": True, "schema": True, "users": True}


def test_type_migration_redeclares_schema_over_data(engine):
    # reference test_views.py:329-345 (skipped there = aspirational):
    # a wrongly-inferred schema is re-declared via PUT /types/{t}, after
    # which objects matching the declared schema are accepted.
    engine.create_object("m_type", {"id": "1", "amount": "not-a-number"})
    with pytest.raises(ValidationError):
        engine.create_object("m_type", {"id": "2", "amount": 7.5})

    engine.migrate_type(
        "m_type",
        {"amount": {"type": "number", "format": ""}},
    )
    engine.create_object("m_type", {"id": "2", "amount": 7.5})
    rows = {r["id"]: r for r in engine.list_objects("m_type")}
    assert "amount" not in rows["1"]  # uncastable value nulled by try_cast
    assert float(rows["2"]["amount"]) == 7.5
    desc = engine.get_type("m_type")
    assert desc["properties"]["amount"]["type"] == "number"


def test_type_migration_drops_undeclared_columns(engine):
    engine.create_object("m2", {"id": "1", "keep": 5, "drop_me": "x"})
    engine.migrate_type("m2", {"keep": {"type": "integer", "format": ""}})
    row = engine.get_object("m2", "1")
    assert row["keep"] == 5
    assert "drop_me" not in row
    assert "drop_me" not in engine.get_type("m2")["properties"]


def test_register_views_sql_over_warehouse(spark, warehouse):
    from moisturizer_spark.crud import Engine

    eng = Engine(spark, warehouse)
    eng.upsert_object("accounts", "a1", {"plan": "pro", "seats": 5})
    eng.upsert_object("accounts", "a2", {"plan": "free", "seats": 1})
    eng.upsert_object("usage", "u1", {"account": "a1", "events": 100})
    eng.upsert_object("usage", "u2", {"account": "a2", "events": 7})

    views = eng.registry.register_views(prefix="wh_")
    assert {"wh_accounts", "wh_usage"}.issubset(set(views))
    got = {
        r["plan"]: r["total_events"]
        for r in spark.sql(
            """
            SELECT a.plan, SUM(u.events) AS total_events
            FROM wh_usage u JOIN wh_accounts a ON u.account = a.id
            GROUP BY a.plan
            """
        ).collect()
    }
    assert {k: int(v) for k, v in got.items()} == {"pro": 100, "free": 7}


def test_registered_views_track_commits(spark, warehouse):
    # A temp view pins the snapshot it was built on; writes through the
    # same registry must re-register it, or (with default retention) the
    # second-next commit's vacuum deletes the files the view references.
    from moisturizer_spark.crud import Engine

    eng = Engine(spark, f"{warehouse}/wh_views", retain_versions=1)
    eng.upsert_object("metrics", "m1", {"v": 1})
    eng.registry.register_views(prefix="live_")

    eng.upsert_object("metrics", "m2", {"v": 2})   # commit +1
    eng.upsert_object("metrics", "m3", {"v": 3})   # commit +2: vacuums v1 files
    eng.upsert_object("metrics", "m1", {"v": 10})  # update in place

    rows = {r["id"]: int(r["v"]) for r in spark.sql(
        "SELECT id, v FROM live_metrics"
    ).collect()}
    assert rows == {"m1": 10, "m2": 2, "m3": 3}

"""Incremental view maintenance over the CDC feed, and the change-feed
CRUD/HTTP surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from moisturizer_spark.incremental import IncrementalAggView
from moisturizer_spark.storage import ParquetTable


def _tbl(spark, warehouse, name="src", retain=20):
    return ParquetTable(spark, f"{warehouse}/{name}", retain_versions=retain)


def _rows(spark, pairs):
    return spark.createDataFrame(
        [(k, g, v) for k, g, v in pairs], "id string, grp string, v long"
    )


def _as_dict(df):
    return {r["grp"]: (r["n_rows"], r["sum_v"]) for r in df.collect()}


def test_incremental_matches_recompute(spark, warehouse):
    src = _tbl(spark, warehouse)
    src.overwrite(_rows(spark, [("a", "x", 1), ("b", "x", 2), ("c", "y", 5)]))
    view = IncrementalAggView(src, f"{warehouse}/view", "grp", "v")
    assert view.refresh() == 1
    assert _as_dict(view.read()) == {"x": (2, 3), "y": (1, 5)}

    # update (a: 1→10), insert (d), delete (c) across two commits
    src.upsert(_rows(spark, [("a", "x", 10), ("d", "z", 7)]))
    src.delete_by_key(["c"])
    assert view.refresh() == 3
    got = _as_dict(view.read())
    # recompute ground truth from the current table state
    truth = {
        r["grp"]: (r["n"], r["s"])
        for r in src.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == truth
    assert "y" not in got  # group folded to zero rows drops out


def test_incremental_refresh_is_idempotent(spark, warehouse):
    src = _tbl(spark, warehouse)
    src.overwrite(_rows(spark, [("a", "x", 1)]))
    view = IncrementalAggView(src, f"{warehouse}/view", "grp", "v")
    view.refresh()
    before = _as_dict(view.read())
    view.refresh()  # no new source version: must be a no-op
    assert _as_dict(view.read()) == before


def test_incremental_group_move_between_partitions(spark, warehouse):
    # an update that MOVES a row between groups must adjust both groups
    src = _tbl(spark, warehouse)
    src.overwrite(_rows(spark, [("a", "x", 3), ("b", "y", 4)]))
    view = IncrementalAggView(src, f"{warehouse}/view", "grp", "v")
    view.refresh()
    src.upsert(_rows(spark, [("a", "y", 3)]))  # a: x→y
    view.refresh()
    assert _as_dict(view.read()) == {"y": (2, 7)}


def test_incremental_falls_back_when_history_vacuumed(spark, warehouse):
    src = _tbl(spark, warehouse, retain=1)  # no history kept
    src.overwrite(_rows(spark, [("a", "x", 1)]))
    view = IncrementalAggView(src, f"{warehouse}/view", "grp", "v")
    view.refresh()
    src.upsert(_rows(spark, [("b", "x", 2)]))
    src.upsert(_rows(spark, [("c", "y", 9)]))
    view.refresh()  # feed vacuumed → full recompute path
    assert _as_dict(view.read()) == {"x": (2, 3), "y": (1, 9)}


def test_object_changes_crud_surface(spark, warehouse):
    from moisturizer_spark.crud import Engine
    from moisturizer_spark.errors import ValidationError

    eng = Engine(spark, f"{warehouse}/wh")
    eng.upsert_object("things", "t1", {"name": "one"})
    eng.upsert_object("things", "t2", {"name": "two"})
    eng.upsert_object("things", "t1", {"name": "uno"})
    eng.delete_object("things", "t2")

    feed = eng.object_changes("things", 0)
    assert feed["version"] == feed["to"] == 4
    kinds = {(c["id"], c["_change_type"], c["_commit_version"])
             for c in feed["changes"]}
    assert ("t1", "insert", 1) in kinds
    assert ("t2", "insert", 2) in kinds
    assert ("t1", "update_postimage", 3) in kinds
    assert ("t2", "delete", 4) in kinds

    # idle poller: from == current (nothing new) is an EMPTY feed, not
    # an error — the documented cursor pattern polls with from = last
    # seen version
    idle = eng.object_changes("things", 4, 4)
    assert idle["changes"] == [] and idle["from"] == idle["to"] == 4
    idle = eng.object_changes("things", 4)
    assert idle["changes"] == []

    with pytest.raises(ValidationError):
        eng.object_changes("things", 5)  # beyond current → invalid range


def test_object_changes_http_route(spark, warehouse):
    import base64
    import http.client
    import json as _json

    from moisturizer_spark.crud import Engine
    from moisturizer_spark.service import serve_background

    eng = Engine(spark, f"{warehouse}/http_wh")
    server = serve_background(eng)
    try:
        key = eng.get_user("admin")["api_key"]
        eng.upsert_object("widgets", "w1", {"n": 1})
        eng.upsert_object("widgets", "w1", {"n": 2})

        def call(path):
            conn = http.client.HTTPConnection(*server.server_address, timeout=60)
            conn.request(
                "GET",
                path,
                headers={
                    "Authorization": "Basic "
                    + base64.b64encode(f"admin:{key}".encode()).decode()
                },
            )
            resp = conn.getresponse()
            out = resp.status, _json.loads(resp.read() or b"null")
            conn.close()
            return out

        status, feed = call("/types/widgets/changes?from=1")
        assert status == 200
        assert [c["_change_type"] for c in feed["changes"]] == [
            "update_preimage",
            "update_postimage",
        ]
        status, _ = call("/types/widgets/changes")  # missing ?from
        assert status == 400
    finally:
        server.shutdown()


def test_stream_ingest_feeds_incremental_view(spark, warehouse):
    """End-to-end composition: streaming ingest commits table versions →
    the incremental view folds exactly the CDC delta of each round."""
    import json
    import os

    from moisturizer_spark.registry import Registry
    from moisturizer_spark.streaming import file_envelope_stream, start_ingest_stream

    def write_batch(src, name, payloads):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as fh:
            for p in payloads:
                fh.write(json.dumps(p) + "\n")

    src = os.path.join(warehouse, "in")
    write_batch(src, "b1.json", [
        {"type_id": "m", "data": json.dumps({"id": "a", "site": "x", "v": 1})},
        {"type_id": "m", "data": json.dumps({"id": "b", "site": "y", "v": 5})},
    ])
    registry = Registry(spark, os.path.join(warehouse, "wh"), retain_versions=10)
    q = start_ingest_stream(
        registry, file_envelope_stream(spark, src), os.path.join(warehouse, "ck")
    )
    q.awaitTermination(120)

    view = IncrementalAggView(
        registry.table("m"), os.path.join(warehouse, "view"), "site"
    )
    view.refresh()
    counts = {r["site"]: r["n_rows"] for r in view.read().collect()}
    assert counts == {"x": 1, "y": 1}

    # second micro-batch: update a (site move x→y) + insert c
    write_batch(src, "b2.json", [
        {"type_id": "m", "data": json.dumps({"id": "a", "site": "y", "v": 2})},
        {"type_id": "m", "data": json.dumps({"id": "c", "site": "y", "v": 3})},
    ])
    q2 = start_ingest_stream(
        registry, file_envelope_stream(spark, src), os.path.join(warehouse, "ck")
    )
    q2.awaitTermination(120)
    view.refresh()
    counts = {r["site"]: r["n_rows"] for r in view.read().collect()}
    assert counts == {"y": 3}  # x folded to zero and dropped


def test_incremental_ddsketch_matches_direct_after_batches(spark, warehouse):
    """The stored-quantile IVM story: after 3 update batches (inserts,
    value updates, deletes), the incrementally-folded sketch cells equal
    a direct ddsketch_rollup of the final table state — losslessly, not
    approximately — and quantiles answer from the view."""
    from moisturizer_spark.incremental import IncrementalDDSketchView
    from moisturizer_spark.operators.sketches import ddsketch_rollup

    src = _tbl(spark, warehouse, "ddsrc")
    view = IncrementalDDSketchView(src, f"{warehouse}/ddview", ["grp"], "v")

    src.overwrite(_rows(spark, [(f"a{i}", "x", i) for i in range(1, 40)]
                              + [(f"b{i}", "y", i * 10) for i in range(1, 20)]))
    view.refresh()
    # batch 2: value updates (a1: 1→500) + inserts + a NULL value row
    src.upsert(
        spark.createDataFrame(
            [("a1", "x", 500), ("c1", "x", 7), ("n1", "x", None)],
            "id string, grp string, v long",
        )
    )
    # batch 3: deletes
    src.delete_by_key(["b1", "b2", "a3"])
    view.refresh()

    direct = {
        (r["grp"], r["_qbin"]): r["_qn"]
        for r in ddsketch_rollup(src.read(), ["grp"], "v").collect()
    }
    folded = {(r["grp"], r["_qbin"]): r["_qn"] for r in view.read().collect()}
    assert folded == direct  # exact cell equality, not tolerance

    est = {
        (r["grp"], r["q"]): r["quantile_est"]
        for r in view.quantiles([0.5, 0.9]).collect()
    }
    assert est[("x", 0.5)] > 0
    # idempotent re-refresh
    view.refresh()
    assert {(r["grp"], r["_qbin"]): r["_qn"] for r in view.read().collect()} == direct


def test_incremental_ddsketch_falls_back_when_vacuumed(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalDDSketchView
    from moisturizer_spark.operators.sketches import ddsketch_rollup

    src = _tbl(spark, warehouse, "ddsrc2", retain=1)
    view = IncrementalDDSketchView(src, f"{warehouse}/ddview2", ["grp"], "v")
    src.overwrite(_rows(spark, [("a", "x", 5)]))
    view.refresh()
    src.upsert(_rows(spark, [("b", "x", 9)]))
    src.upsert(_rows(spark, [("c", "y", 2)]))
    view.refresh()  # history gone → full recompute path
    direct = {
        (r["grp"], r["_qbin"]): r["_qn"]
        for r in ddsketch_rollup(src.read(), ["grp"], "v").collect()
    }
    assert {(r["grp"], r["_qbin"]): r["_qn"] for r in view.read().collect()} == direct


def test_incremental_det_hll_insert_fold_and_delete_fallback(spark, warehouse):
    """Det-HLL IVM: insert-only batches fold via register MAX and the
    folded cells equal a direct det_hll_cells of the current state
    (exactly — monotone merge is lossless); a batch containing deletes
    triggers the full-recompute fallback and the view STILL equals the
    direct sketch; estimates answer from the view without a source
    scan."""
    from moisturizer_spark.incremental import IncrementalDetHLLView
    from moisturizer_spark.operators.sketches import (
        det_hll_cells,
        det_hll_estimate,
    )

    src = _tbl(spark, warehouse, "hllsrc")
    view = IncrementalDetHLLView(src, f"{warehouse}/hllview", ["grp"], "v")

    src.overwrite(_rows(spark, [(f"a{i}", "x", i % 17) for i in range(40)]
                              + [(f"b{i}", "y", i) for i in range(25)]))
    view.refresh()

    def direct():
        return {
            (r["grp"], r["_hb"]): r["_hr"]
            for r in det_hll_cells(src.read(), ["grp"], "v").collect()
        }

    def folded():
        return {(r["grp"], r["_hb"]): r["_hr"] for r in view.read().collect()}

    assert folded() == direct()

    # insert-only delta (plus a NULL value, which sketches ignore).
    # The source table's read() is booby-trapped during refresh: the
    # insert-only path must fold the CDC delta WITHOUT rescanning the
    # source — a silent fall-through to the full recompute (which also
    # equals the direct sketch) would otherwise pass every equality
    # assertion here while losing the view's headline property.
    src.upsert(
        spark.createDataFrame(
            [("c1", "x", 991), ("c2", "y", 992), ("n1", "x", None)],
            "id string, grp string, v long",
        )
    )
    orig_read = src.read
    src.read = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("insert-only delta must not rescan the source")
    )
    try:
        view.refresh()
    finally:
        src.read = orig_read
    assert folded() == direct()

    # estimates straight from the view, matching the direct estimator
    est_view = {
        r["grp"]: r["approx_distinct"] for r in view.estimate().collect()
    }
    est_direct = {
        r["grp"]: r["approx_distinct"]
        for r in det_hll_estimate(
            det_hll_cells(src.read(), ["grp"], "v"), ["grp"]
        ).collect()
    }
    assert est_view == est_direct

    # a delta with deletes cannot fold a max back out: full-recompute
    # fallback keeps the view exact
    src.delete_by_key(["a1", "b3"])
    view.refresh()
    assert folded() == direct()
    # idempotent replay
    view.refresh()
    assert folded() == direct()


def test_incremental_kmv_fold_and_delete_tolerance(spark, warehouse):
    """The set-algebra IVM member: folded KMV cells equal a direct
    kmv_sketch of the current state after insert-only deltas (no source
    rescan — booby-trapped like the det-HLL test); a delete of a value
    whose hash is NOT in the stored sample provably cannot change the
    k smallest and takes the delta path; a delete touching a sampled
    hash forces the full recompute — and the view equals the direct
    sketch after every step. last_refresh_mode pins which path ran."""
    from moisturizer_spark.incremental import IncrementalKMVView
    from moisturizer_spark.operators.sketches import kmv_sketch

    k = 8
    src = _tbl(spark, warehouse, "kmvsrc")
    view = IncrementalKMVView(src, f"{warehouse}/kmvview", ["grp"], "v", k=k)

    src.overwrite(_rows(spark, [(f"a{i}", "x", i) for i in range(30)]
                              + [(f"b{i}", "y", i * 3) for i in range(20)]))
    view.refresh()
    assert view.last_refresh_mode == "full"

    def direct():
        return {
            r["grp"]: tuple(r["kmv"])
            for r in kmv_sketch(src.read(), ["grp"], "v", k=k).collect()
        }

    def folded():
        return {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()}

    assert folded() == direct()

    # insert-only delta must fold without a source rescan
    src.upsert(_rows(spark, [("c1", "x", 991), ("c2", "z", 5)]))
    orig_read = src.read
    src.read = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("insert-only delta must not rescan the source")
    )
    try:
        view.refresh()
    finally:
        src.read = orig_read
    assert view.last_refresh_mode == "delta"
    assert folded() == direct()  # includes the brand-new cell "z"

    # find an UNSAMPLED value of "x" (hash above the kth smallest):
    # deleting it cannot change the sketch -> delta path, view unchanged
    sampled = set(folded()["x"])
    unsampled_id = None
    for r in src.read().filter(F.col("grp") == "x").withColumn(
        "_h", F.md5(F.col("v").cast("string"))
    ).collect():
        if r["_h"] not in sampled:
            unsampled_id = r["id"]
            break
    assert unsampled_id is not None, "test corpus too small to exercise"
    src.delete_by_key([unsampled_id])
    orig_read = src.read
    src.read = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("unsampled delete must not rescan the source")
    )
    try:
        view.refresh()
    finally:
        src.read = orig_read
    assert view.last_refresh_mode == "delta"
    assert folded() == direct()

    # delete a SAMPLED value: must take the full-recompute path and
    # still equal the direct sketch of the post-delete state
    sampled_row = next(
        r
        for r in src.read()
        .filter(F.col("grp") == "x")
        .withColumn("_h", F.md5(F.col("v").cast("string")))
        .collect()
        if r["_h"] in set(folded()["x"])
    )
    src.delete_by_key([sampled_row["id"]])
    view.refresh()
    assert view.last_refresh_mode == "full"
    assert folded() == direct()

    # estimates answer from the view
    est = {r["grp"]: r["approx_distinct"] for r in view.estimate().collect()}
    exact = {
        r["grp"]: r["n"]
        for r in src.read()
        .groupBy("grp")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        if n < k:
            assert est[g] == float(n)  # exact below k
        else:
            assert abs(est[g] - n) / n < 0.6  # k=8 is a coarse sketch


def test_incremental_kmv_idempotent_and_vacuum_fallback(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalKMVView
    from moisturizer_spark.operators.sketches import kmv_sketch

    src = _tbl(spark, warehouse, "kmvsrc2", retain=1)
    view = IncrementalKMVView(src, f"{warehouse}/kmvview2", ["grp"], "v", k=4)
    src.overwrite(_rows(spark, [("a", "x", 1), ("b", "x", 2)]))
    view.refresh()
    before = {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()}
    view.refresh()
    assert view.last_refresh_mode == "noop"
    assert {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()} == before

    # burn through retention (retain=1): overwrites orphan the previous
    # versions' files, so the CDC range is gone -> full fallback
    src.overwrite(_rows(spark, [("a", "x", 1), ("r1", "x", 5)]))
    src.overwrite(_rows(spark, [("a", "x", 1), ("r2", "y", 6)]))
    view.refresh()
    assert view.last_refresh_mode == "full"
    got = {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()}
    want = {
        r["grp"]: tuple(r["kmv"])
        for r in kmv_sketch(src.read(), ["grp"], "v", k=4).collect()
    }
    assert got == want


def test_incremental_kmv_insert_then_delete_in_one_range(spark, warehouse):
    """The r6 review's phantom-hash hazard: a value inserted AND
    deleted within one unapplied CDC range is invisible to the
    stored-sample probe, but folding its insert rows would diverge the
    sketch forever. The feed-internal probe must force the full
    recompute — and the view must equal the direct sketch after."""
    from moisturizer_spark.incremental import IncrementalKMVView
    from moisturizer_spark.operators.sketches import kmv_sketch

    src = _tbl(spark, warehouse, "kmvsrc3")
    view = IncrementalKMVView(src, f"{warehouse}/kmvview3", ["grp"], "v", k=4)
    src.overwrite(_rows(spark, [("a", "x", 1), ("b", "x", 2)]))
    view.refresh()

    # v2: insert a brand-new value; v3: delete it again — the value
    # never existed in the view and no longer exists in the table
    src.upsert(_rows(spark, [("c", "x", 999)]))
    src.delete_by_key(["c"])
    view.refresh()
    assert view.last_refresh_mode == "full"
    got = {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()}
    want = {
        r["grp"]: tuple(r["kmv"])
        for r in kmv_sketch(src.read(), ["grp"], "v", k=4).collect()
    }
    assert got == want  # no phantom md5('999') anywhere

    # phantom CELL variant: a group born and erased inside one range
    src.upsert(_rows(spark, [("z1", "zz", 7)]))
    src.delete_by_key(["z1"])
    view.refresh()
    assert view.last_refresh_mode == "full"
    got = {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()}
    assert "zz" not in got
    want = {
        r["grp"]: tuple(r["kmv"])
        for r in kmv_sketch(src.read(), ["grp"], "v", k=4).collect()
    }
    assert got == want


def test_incremental_kmv_null_key_cell_delete(spark, warehouse):
    """NULL-key cells are first-class (the storage key coalesces NULL
    to a marker); the delete probe must therefore be null-safe — a
    sampled delete in the NULL-key group has to force the recompute,
    not slip through a null != null equi-join."""
    from moisturizer_spark.incremental import IncrementalKMVView
    from moisturizer_spark.operators.sketches import kmv_sketch

    src = _tbl(spark, warehouse, "kmvsrc4")
    view = IncrementalKMVView(src, f"{warehouse}/kmvview4", ["grp"], "v", k=4)
    src.overwrite(
        spark.createDataFrame(
            [("a", None, 1), ("b", None, 2), ("c", "x", 3)],
            "id string, grp string, v long",
        )
    )
    view.refresh()
    # delete a value stored in the NULL-key cell's sample (k=4 ->
    # every present value is sampled)
    src.delete_by_key(["a"])
    view.refresh()
    assert view.last_refresh_mode == "full", (
        "sampled delete in the NULL-key cell took the delta path — "
        "the probe join dropped the NULL key"
    )
    got = {r["grp"]: tuple(r["kmv"]) for r in view.read().collect()}
    want = {
        r["grp"]: tuple(r["kmv"])
        for r in kmv_sketch(src.read(), ["grp"], "v", k=4).collect()
    }
    assert got == want


# -- IncrementalTopKView ------------------------------------------------------


def _items(spark, rows):
    return spark.createDataFrame(
        [(k, g, i) for k, g, i in rows], "id string, grp string, item string"
    )


def _topk_truth(src, k):
    """Ground-truth ranking recomputed from the current source state."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(
        F.col("n").desc(), F.col("item").asc()
    )
    return {
        (r["grp"], r["rank"]): (r["item"], r["n"])
        for r in src.read()
        .groupBy("grp", "item")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .collect()
    }


def _topk_dict(view):
    return {
        (r["grp"], r["rank"]): (r["item"], r["n"])
        for r in view.read_topk().collect()
    }


def test_incremental_topk_delete_promotes_unseen_item(spark, warehouse):
    """The case that separates exact top-k from Misra-Gries: deleting
    occurrences of the leader must PROMOTE an item that never appears
    in the delta — the touched group's ranking recomputes from its
    full counts rows, not from the delta. The source read() is
    booby-trapped during the delta refresh to prove no rescan."""
    from moisturizer_spark.incremental import IncrementalTopKView

    src = _tbl(spark, warehouse)
    rows = (
        [(f"a{i}", "x", "alpha") for i in range(5)]
        + [(f"b{i}", "x", "beta") for i in range(3)]
        + [(f"c{i}", "x", "gamma") for i in range(2)]
        + [(f"y{i}", "y", "delta") for i in range(4)]
    )
    src.overwrite(_items(spark, rows))
    view = IncrementalTopKView(src, f"{warehouse}/topk", "grp", "item", k=2)
    view.refresh()
    assert view.last_refresh_mode == "full"
    assert _topk_dict(view) == _topk_truth(src, 2)
    assert _topk_dict(view)[("x", 1)] == ("alpha", 5)

    # delete 4 of alpha's 5 rows: beta takes rank 1, gamma ENTERS the
    # top-2 — gamma appears in no delta row
    src.delete_by_key([f"a{i}" for i in range(4)])
    orig_read = src.read
    src.read = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("delta refresh must not rescan the source")
    )
    try:
        view.refresh()
    finally:
        src.read = orig_read
    assert view.last_refresh_mode == "delta"
    assert view.groups_touched == 1
    got = _topk_dict(view)
    assert got == _topk_truth(src, 2)
    assert got[("x", 1)] == ("beta", 3)
    assert got[("x", 2)] == ("gamma", 2)
    # group y untouched: rows carried over
    assert got[("y", 1)] == ("delta", 4)


def test_incremental_topk_tie_order_and_group_drop(spark, warehouse):
    """Ties rank by (n DESC, item ASC) — a total order; a group whose
    rows all fold to zero disappears from counts AND ranking."""
    from moisturizer_spark.incremental import IncrementalTopKView

    src = _tbl(spark, warehouse)
    src.overwrite(
        _items(spark, [("a", "x", "mu"), ("b", "x", "nu"),
                       ("c", "y", "xi"), ("d", "y", "xi")])
    )
    view = IncrementalTopKView(src, f"{warehouse}/topk", "grp", "item", k=3)
    view.refresh()
    got = _topk_dict(view)
    assert got[("x", 1)] == ("mu", 1) and got[("x", 2)] == ("nu", 1)

    src.delete_by_key(["c", "d"])  # y folds to zero rows
    view.refresh()
    assert view.last_refresh_mode == "delta"
    got = _topk_dict(view)
    assert all(g != "y" for g, _ in got)
    assert {r["grp"] for r in view.read().collect()} == {"x"}
    assert got == _topk_truth(src, 3)


def test_incremental_topk_crash_between_writes_reconciles(spark, warehouse):
    """Counts committed, topk write lost (crash window): the next
    refresh rebuilds stale rankings FROM THE COUNTS TABLE — cursors
    re-align without touching the source feed (which has moved on)."""
    from moisturizer_spark.incremental import IncrementalTopKView

    src = _tbl(spark, warehouse)
    src.overwrite(_items(spark, [("a", "x", "alpha"), ("b", "x", "beta")]))
    view = IncrementalTopKView(src, f"{warehouse}/topk", "grp", "item", k=2)
    view.refresh()

    # manufacture the crash: apply a delta with the topk write disabled
    src.upsert(_items(spark, [("c", "x", "beta"), ("d", "z", "zeta")]))
    orig_overwrite = view.topk.overwrite
    view.topk.overwrite = lambda *a, **k: None  # lost write
    try:
        view.refresh()
    finally:
        view.topk.overwrite = orig_overwrite
    assert view.counts.txn_version("ivm_topk") == 2
    assert view.topk.txn_version("ivm_topk") == 1  # behind

    # no new source version: refresh reconciles topk from counts only
    orig_read = src.read
    src.read = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("reconcile must not rescan the source")
    )
    try:
        view.refresh()
    finally:
        src.read = orig_read
    assert view.last_refresh_mode == "noop"
    assert view.topk.txn_version("ivm_topk") == 2
    assert _topk_dict(view) == _topk_truth(src, 2)


def test_incremental_topk_idempotent_and_vacuum_fallback(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalTopKView

    src = _tbl(spark, warehouse, retain=1)
    src.overwrite(_items(spark, [("a", "x", "alpha")]))
    view = IncrementalTopKView(src, f"{warehouse}/topk", "grp", "item", k=2)
    view.refresh()
    before = _topk_dict(view)
    view.refresh()
    assert view.last_refresh_mode == "noop"
    assert _topk_dict(view) == before

    # burn past the retention window (retain=1): overwrites orphan the
    # previous versions' files, so the CDC range is gone → full fallback
    src.overwrite(_items(spark, [("b", "x", "beta"), ("e", "x", "beta")]))
    src.overwrite(_items(spark, [("c", "y", "eta"), ("d", "x", "beta")]))
    view.refresh()
    assert view.last_refresh_mode == "full"
    assert _topk_dict(view) == _topk_truth(src, 2)


# -- IncrementalJoinView -------------------------------------------------------


def _jl(spark, pairs):
    return spark.createDataFrame(
        [(k, c, q) for k, c, q in pairs], "id string, cust string, qty long"
    )


def _jr(spark, pairs):
    return spark.createDataFrame(
        [(c, n) for c, n in pairs], "cust string, nation string"
    )


def _join_view(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalJoinView

    left = ParquetTable(spark, f"{warehouse}/orders", retain_versions=20)
    right = ParquetTable(spark, f"{warehouse}/cust", key="cust",
                         retain_versions=20)
    view = IncrementalJoinView(
        left, right, f"{warehouse}/jview",
        left_on="cust", right_on="cust",
        left_cols=["id", "qty"], right_cols=["nation"],
    )
    return left, right, view


def _join_truth(left, right):
    j = (
        left.read().select("cust", "id", "qty")
        .join(right.read().select("cust", "nation"), "cust")
        .groupBy("cust", "id", "qty", "nation")
        .agg(F.count(F.lit(1)).alias("_mult"))
    )
    return {tuple(r) for r in j.collect()}


def test_join_view_matches_recompute_under_both_side_changes(spark, warehouse):
    left, right, view = _join_view(spark, warehouse)
    left.overwrite(_jl(spark, [("o1", "c1", 5), ("o2", "c1", 3),
                               ("o3", "c2", 7)]))
    right.overwrite(_jr(spark, [("c1", "FR"), ("c2", "DE")]))
    view.refresh()
    assert {tuple(r) for r in view.read().collect()} == _join_truth(left, right)

    # one refresh absorbing BOTH sides changing: left insert + delete,
    # right attribute update + delete (kills c2's pairs) + insert
    left.upsert(_jl(spark, [("o4", "c3", 1)]))
    left.delete_by_key(["o2"])
    right.upsert(_jr(spark, [("c1", "BE"), ("c3", "US")]))
    right.delete_by_key(["c2"])
    view.refresh()
    got = {tuple(r) for r in view.read().collect()}
    assert got == _join_truth(left, right)
    assert ("c1", "o1", 5, "BE", 1) in got      # update propagated
    assert not any(r[0] == "c2" for r in got)   # dim delete cascaded


def test_join_view_multiset_semantics(spark, warehouse):
    """Duplicate left rows (no key column constraint on the FACT side of
    the join) carry multiplicity > 1 and fold back out one at a time."""
    from moisturizer_spark.incremental import IncrementalJoinView

    left = ParquetTable(spark, f"{warehouse}/facts", retain_versions=20)
    right = ParquetTable(spark, f"{warehouse}/dim", key="cust",
                         retain_versions=20)
    # two distinct fact ids with IDENTICAL payload projection: the view
    # projects (cust, qty) only, so they merge into one tuple, mult 2
    view = IncrementalJoinView(
        left, right, f"{warehouse}/jview2",
        left_on="cust", right_on="cust",
        left_cols=["qty"], right_cols=["nation"],
    )
    left.overwrite(_jl(spark, [("o1", "c1", 5), ("o2", "c1", 5)]))
    right.overwrite(_jr(spark, [("c1", "FR")]))
    view.refresh()
    rows = view.read().collect()
    assert [(r["cust"], r["qty"], r["nation"], r["_mult"]) for r in rows] == [
        ("c1", 5, "FR", 2)
    ]
    left.delete_by_key(["o1"])
    view.refresh()
    rows = view.read().collect()
    assert [(r["cust"], r["qty"], r["nation"], r["_mult"]) for r in rows] == [
        ("c1", 5, "FR", 1)
    ]


def test_join_view_refresh_idempotent_and_one_sided(spark, warehouse):
    left, right, view = _join_view(spark, warehouse)
    left.overwrite(_jl(spark, [("o1", "c1", 5)]))
    right.overwrite(_jr(spark, [("c1", "FR")]))
    view.refresh()
    before = {tuple(r) for r in view.read().collect()}
    assert view.refresh() == view.refresh()  # replay: cursors unmoved
    assert {tuple(r) for r in view.read().collect()} == before
    # only the RIGHT side moves: the left feed branch must not run
    right.upsert(_jr(spark, [("c1", "IT")]))
    view.refresh()
    assert {tuple(r) for r in view.read().collect()} == _join_truth(left, right)


def test_join_view_retention_fallback(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalJoinView

    left = ParquetTable(spark, f"{warehouse}/l", retain_versions=1)
    right = ParquetTable(spark, f"{warehouse}/r", key="cust",
                         retain_versions=1)
    view = IncrementalJoinView(
        left, right, f"{warehouse}/jv",
        left_on="cust", right_on="cust",
        left_cols=["id", "qty"], right_cols=["nation"],
    )
    left.overwrite(_jl(spark, [("o1", "c1", 5)]))
    right.overwrite(_jr(spark, [("c1", "FR")]))
    view.refresh()
    left.upsert(_jl(spark, [("o2", "c1", 2)]))
    left.upsert(_jl(spark, [("o3", "c1", 9)]))
    view.refresh()  # history vacuumed -> full recompute path
    assert {tuple(r) for r in view.read().collect()} == _join_truth(left, right)


def test_join_view_rejects_payload_collision(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalJoinView

    left = ParquetTable(spark, f"{warehouse}/lc")
    right = ParquetTable(spark, f"{warehouse}/rc", key="cust")
    with pytest.raises(ValueError, match="collision"):
        IncrementalJoinView(
            left, right, f"{warehouse}/vc",
            left_on="cust", right_on="cust",
            left_cols=["x"], right_cols=["x"],
        )
    # a join key repeated in its OWN payload list would project the
    # column twice and fail later with an opaque ambiguous-reference
    # error — reject at construction instead
    with pytest.raises(ValueError, match="collision"):
        IncrementalJoinView(
            left, right, f"{warehouse}/vc2",
            left_on="cust", right_on="cust",
            left_cols=["cust", "x"], right_cols=["y"],
        )
    with pytest.raises(ValueError, match="collision"):
        IncrementalJoinView(
            left, right, f"{warehouse}/vc3",
            left_on="cust", right_on="cust",
            left_cols=["x"], right_cols=["cust"],
        )


def test_join_view_delta_merge_rewrites_only_touched_buckets(spark, warehouse):
    """The scale contract behind the delta path: a refresh whose delta
    touches one key must carry every other bucket's FILES verbatim in
    the new manifest (bucket-pruned merge), while the view still equals
    the full recompute."""
    import json

    left, right, view = _join_view(spark, warehouse)
    # seed keys spread over several buckets
    custs = [f"c{i}" for i in range(10)]
    left.overwrite(_jl(spark, [(f"o{i}", c, i) for i, c in enumerate(custs)]))
    right.overwrite(_jr(spark, [(c, f"N{i}") for i, c in enumerate(custs)]))
    view.refresh()
    with open(f"{warehouse}/jview/_manifest.json") as fh:
        man_before = json.load(fh)

    # delta touches exactly one key -> exactly one view bucket
    left.upsert(_jl(spark, [("oX", "c3", 42)]))
    view.refresh()
    with open(f"{warehouse}/jview/_manifest.json") as fh:
        man_after = json.load(fh)

    touched = str(view.view.bucket_of("c3"))
    untouched_before = {
        b: d for b, d in man_before["buckets"].items() if b != touched
    }
    untouched_after = {
        b: d for b, d in man_after["buckets"].items() if b != touched
    }
    assert untouched_before == untouched_after, (
        "untouched buckets were rewritten — the merge is not pruned"
    )
    assert man_after["buckets"][touched] != man_before["buckets"].get(touched)
    assert {tuple(r) for r in view.read().collect()} == _join_truth(left, right)


def test_join_view_empty_delta_still_commits_cursors(spark, warehouse):
    """A source version whose delta joins to NOTHING (new left key with
    no dim match) must still advance the view cursors — otherwise every
    refresh reprocesses the same dead delta forever."""
    left, right, view = _join_view(spark, warehouse)
    left.overwrite(_jl(spark, [("o1", "c1", 5)]))
    right.overwrite(_jr(spark, [("c1", "FR")]))
    view.refresh()
    before = {tuple(r) for r in view.read().collect()}
    left.upsert(_jl(spark, [("o9", "c_unmatched", 1)]))
    lv, rv = view.refresh()
    assert view.view.txn_version("ivm_join_left") == lv
    assert {tuple(r) for r in view.read().collect()} == before
    assert view.refresh() == (lv, rv)  # idempotent replay


def test_join_view_random_ops_property(spark, warehouse):
    """Randomized op sequence on both sides; after every refresh the
    view must equal the full recompute."""
    import random

    rng = random.Random(77)
    left, right, view = _join_view(spark, warehouse)
    left.overwrite(_jl(spark, [("o0", "c0", 0)]))
    right.overwrite(_jr(spark, [("c0", "N0")]))
    view.refresh()
    live_orders = {"o0"}
    for step in range(4):
        for _ in range(rng.randrange(1, 3)):
            which = rng.random()
            if which < 0.5:
                oid = f"o{rng.randrange(8)}"
                live_orders.add(oid)
                left.upsert(_jl(spark, [
                    (oid, f"c{rng.randrange(3)}", rng.randrange(5))
                ]))
            elif which < 0.7 and live_orders:
                oid = rng.choice(sorted(live_orders))
                live_orders.discard(oid)
                left.delete_by_key([oid])
            else:
                right.upsert(_jr(spark, [
                    (f"c{rng.randrange(3)}", f"N{rng.randrange(4)}")
                ]))
        view.refresh()
        assert {tuple(r) for r in view.read().collect()} == _join_truth(
            left, right
        ), f"diverged at step {step}"


# -- incremental connected components ----------------------------------------


def _edges_tbl(spark, warehouse, name="cc_src", retain=20):
    return ParquetTable(
        spark, f"{warehouse}/{name}", key="pair", retain_versions=retain
    )


def _edge_rows(spark, pairs):
    return spark.createDataFrame(
        [(f"{a}|{b}", a, b) for a, b in pairs],
        "pair string, id_a long, id_b long",
    )


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _truth(spark, src):
    from moisturizer_spark.operators.dedup import connected_components

    edges = src.read().select("id_a", "id_b")
    nodes = (
        edges.select(F.col("id_a").alias("id"))
        .unionByName(edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    return _labels(
        connected_components(edges, nodes, src_col="id_a", dst_col="id_b")
    )


def _min_labels(edges):
    """Component label (the smallest member id) of every node in
    ``edges``, by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_view_matches_recompute_across_inserts(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalCCView

    src = _edges_tbl(spark, warehouse)
    src.overwrite(_edge_rows(spark, [(1, 2), (3, 4), (10, 11)]))
    view = IncrementalCCView(src, f"{warehouse}/cc_view")
    assert view.refresh() == 1
    assert _labels(view.read()) == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10}

    # merge two components, chain through a brand-new node, and attach
    # a disconnected fresh pair — all in one insert-only delta
    src.upsert(_edge_rows(spark, [(2, 3), (4, 20), (30, 31)]))
    assert view.refresh() == 2
    assert _labels(view.read()) == _truth(spark, src)
    assert _labels(view.read())[20] == 1  # chained into the merged comp


def test_cc_view_insert_only_never_rescans_source(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalCCView

    src = _edges_tbl(spark, warehouse)
    src.overwrite(_edge_rows(spark, [(1, 2), (5, 6)]))
    view = IncrementalCCView(src, f"{warehouse}/cc_view2")
    view.refresh()

    def _boom():
        raise AssertionError("insert-only refresh read the source table")

    src.read = _boom  # booby-trap: the delta path must use the feed only
    src.upsert(_edge_rows(spark, [(2, 5)]))
    assert view.refresh() == 2
    assert _labels(view.read()) == {1: 1, 2: 1, 5: 1, 6: 1}


def test_cc_view_new_smaller_id_relabels_whole_component(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalCCView

    src = _edges_tbl(spark, warehouse)
    src.overwrite(_edge_rows(spark, [(7, 8), (8, 9)]))
    view = IncrementalCCView(src, f"{warehouse}/cc_view3")
    view.refresh()
    assert _labels(view.read()) == {7: 7, 8: 7, 9: 7}
    src.upsert(_edge_rows(spark, [(0, 9)]))  # 0 < 7: every member moves
    view.refresh()
    assert _labels(view.read()) == {0: 0, 7: 0, 8: 0, 9: 0}


def test_cc_view_delete_falls_back_to_full_recompute(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalCCView

    src = _edges_tbl(spark, warehouse)
    src.overwrite(_edge_rows(spark, [(1, 2), (2, 3)]))
    view = IncrementalCCView(src, f"{warehouse}/cc_view4")
    view.refresh()
    assert _labels(view.read()) == {1: 1, 2: 1, 3: 1}
    src.delete_by_key(["2|3"])  # splits {1,2,3}: 3 loses its only edge
    view.refresh()
    # 3 drops from the view entirely — an edgeless node is an implicit
    # singleton (the batch connected_components convention)
    assert _labels(view.read()) == {1: 1, 2: 1}


def test_cc_view_refresh_is_idempotent_and_cursor_advances(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalCCView

    src = _edges_tbl(spark, warehouse)
    src.overwrite(_edge_rows(spark, [(1, 2)]))
    view = IncrementalCCView(src, f"{warehouse}/cc_view5")
    view.refresh()
    before = _labels(view.read())
    assert view.refresh() == 1  # replay: no new version, no-op
    assert _labels(view.read()) == before

    # an intra-component insert folds to an EMPTY change set: the
    # cursor must still advance (else every refresh replays the delta)
    src.upsert(_edge_rows(spark, [(1, 2)]))
    assert view.refresh() == 2
    assert view.view.txn_version("ivm_cc") == 2
    assert _labels(view.read()) == before


def test_cc_view_composes_with_near_dup_pair_feed(spark, warehouse):
    """The intended composition: a near-dup pair producer (the
    minhash index family) feeds the edge table batch by batch, and the
    cluster view folds each batch incrementally — the dedup-cluster
    table maintained without recomputing star contraction per refresh."""
    from moisturizer_spark.incremental import IncrementalCCView
    from moisturizer_spark.operators.dedup import (
        minhash_build,
        minhash_query,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs_schema = "doc_id long, text string"
    seed = spark.createDataFrame([(1, base)], docs_schema)
    index = f"{warehouse}/cc_nd_index"
    minhash_build(seed, index, threshold=0.6)

    src = _edges_tbl(spark, warehouse, name="cc_pairs")
    view = IncrementalCCView(src, f"{warehouse}/cc_view6")

    # batch 1: one near-dup of the corpus doc, one unrelated doc
    b1 = spark.createDataFrame(
        [
            (2, base.replace("quick", "swift")),
            (3, "completely different content about spark physical plans"),
        ],
        docs_schema,
    )
    pairs = minhash_query(spark, index, b1).select(
        F.least("batch_id", "corpus_id").alias("id_a"),
        F.greatest("batch_id", "corpus_id").alias("id_b"),
    )
    rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert rows == [(1, 2)]
    src.overwrite(_edge_rows(spark, rows))
    view.refresh()
    assert _labels(view.read()) == {1: 1, 2: 1}

    # batch 2: a near-dup of batch 1's near-dup chains the cluster
    b2 = spark.createDataFrame(
        [(4, base.replace("quick", "swift").replace("lazy", "idle"))],
        docs_schema,
    )
    # (4, base') pairs with the stored doc 1; chain it to 2 as a
    # within-batch pair producer would
    src.upsert(_edge_rows(spark, [(2, 4)]))
    view.refresh()
    assert _labels(view.read()) == {1: 1, 2: 1, 4: 1}


def test_cc_view_random_ops_property(spark, warehouse):
    """Randomized edge-insert sequence (with occasional deletes to
    exercise the stated full-recompute fallback); after every refresh
    the source must hold exactly the live edges and the view must equal
    their connected components (a union-find over ``live``; the
    star-contraction recompute is checked against the view by the other
    tests here)."""
    import random

    from moisturizer_spark.incremental import IncrementalCCView

    rng = random.Random(99)
    src = _edges_tbl(spark, warehouse, name="cc_prop")
    src.overwrite(_edge_rows(spark, [(1, 2)]))
    view = IncrementalCCView(src, f"{warehouse}/cc_prop_view")
    view.refresh()
    live = {(1, 2)}
    for step in range(5):
        for _ in range(rng.randrange(1, 4)):
            if rng.random() < 0.8 or not live:
                a = rng.randrange(12)
                b = rng.randrange(12)
                if a == b:
                    continue
                a, b = min(a, b), max(a, b)
                live.add((a, b))
                src.upsert(_edge_rows(spark, [(a, b)]))
            else:
                pair = rng.choice(sorted(live))
                live.discard(pair)
                src.delete_by_key([f"{pair[0]}|{pair[1]}"])
        view.refresh()
        stored = {(r["id_a"], r["id_b"]) for r in src.read().collect()}
        assert stored == live, f"source diverged at step {step}"
        assert _labels(view.read()) == _min_labels(live), (
            f"diverged at step {step}"
        )


def test_cc_view_over_gate_shuffle_fallback_matches(spark, warehouse):
    """Planted over-gate test (VERDICT r08 #2): with broadcast_threshold
    forced below any real delta, every insert-fold join runs as a
    shuffle join — and must produce labels IDENTICAL to the broadcast
    path and to the star-contraction recompute. This is the bulk-
    backfill guard: a 10^8-edge delta must degrade loudly-never-wrongly,
    not blow the executor broadcast limit."""
    from moisturizer_spark.incremental import IncrementalCCView

    src = _edges_tbl(spark, warehouse, name="cc_gate")
    src.overwrite(_edge_rows(spark, [(1, 2), (3, 4), (10, 11)]))
    gated = IncrementalCCView(
        src, f"{warehouse}/cc_gate_view", broadcast_threshold=1
    )
    gated.refresh()
    # same merge/chain/fresh-pair delta as the broadcast-path test
    src.upsert(_edge_rows(spark, [(2, 3), (4, 20), (30, 31)]))
    assert gated.refresh() == 2
    assert _labels(gated.read()) == _truth(spark, src)
    assert _labels(gated.read())[20] == 1


# -- incremental MIN/MAX view --------------------------------------------------


def _mm_truth(src):
    return {
        r["grp"]: (r["n"], r["mn"], r["mx"])
        for r in src.read()
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }


def _mm_read(view):
    return {
        r["grp"]: (r["n_rows"], r["min_v"], r["max_v"])
        for r in view.read().collect()
    }


def _no_rescans(src, view):
    """Booby-trap the rescan machinery: inside the `with`, a source
    full-scan read OR any _rescan invocation raises. (The CDC feed
    itself legitimately reads changed buckets via _read_buckets, so
    that path is policed at the _rescan level, not globally.)"""
    import contextlib

    @contextlib.contextmanager
    def guard():
        orig_read, orig_rescan = src.read, view._rescan

        def boom(*a, **k):
            raise AssertionError("fold path must not rescan the source")

        src.read = boom
        view._rescan = boom
        try:
            yield
        finally:
            src.read, view._rescan = orig_read, orig_rescan

    return guard()


def test_minmax_view_matches_recompute_and_drops_groups(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalMinMaxView

    src = _tbl(spark, warehouse, "mmsrc")
    src.overwrite(
        _rows(spark, [("a", "x", 1), ("b", "x", 9), ("c", "y", 5)])
    )
    view = IncrementalMinMaxView(src, f"{warehouse}/mmview", "grp", "v")
    assert view.refresh() == 1
    assert view.last_refresh_mode == "init"
    assert _mm_read(view) == _mm_truth(src)

    # update a at the MIN (1 -> 4: preimage deletes the extremum),
    # insert d (new group), delete c (group folds to zero rows)
    src.upsert(_rows(spark, [("a", "x", 4), ("d", "z", 7)]))
    src.delete_by_key(["c"])
    assert view.refresh() == 3
    got = _mm_read(view)
    assert got == _mm_truth(src)
    assert "y" not in got
    assert got["x"] == (2, 4, 9)
    # replay is a no-op
    view.refresh()
    assert view.last_refresh_mode == "noop"
    assert _mm_read(view) == _mm_truth(src)


def test_minmax_view_inside_envelope_ops_never_rescan(spark, warehouse):
    """The headline property: inserts, null-value churn, and deletes
    strictly INSIDE the stored (min, max) envelope fold from the delta
    alone — both source read paths are booby-trapped to prove it."""
    from moisturizer_spark.incremental import IncrementalMinMaxView

    src = _tbl(spark, warehouse, "mmsrc_fold")
    src.overwrite(
        _rows(
            spark,
            [("a", "x", 1), ("b", "x", 5), ("c", "x", 9), ("n", "x", None)],
        )
    )
    view = IncrementalMinMaxView(src, f"{warehouse}/mmview_fold", "grp", "v")
    view.refresh()

    # widen min (insert 0), delete strictly-inside b=5, delete the
    # null-value row (count-only), add a fresh group
    src.upsert(_rows(spark, [("e", "x", 0), ("f", "w", 3)]))
    src.delete_by_key(["b", "n"])
    with _no_rescans(src, view):
        view.refresh()
    assert view.last_refresh_mode == "fold"
    assert _mm_read(view) == _mm_truth(src)
    assert _mm_read(view)["x"] == (3, 0, 9)


def test_minmax_view_extremum_delete_rescans_only_threatened(spark, warehouse):
    """Deleting a group's stored max forces a source rescan — but ONLY
    for that group: the rescan probe is captured and must contain
    exactly the threatened group, while the untouched group's folded
    row survives byte-for-byte."""
    from moisturizer_spark.incremental import IncrementalMinMaxView

    src = _tbl(spark, warehouse, "mmsrc_resc")
    src.overwrite(
        _rows(
            spark,
            [("a", "x", 1), ("b", "x", 9), ("c", "y", 5), ("d", "y", 6),
             ("e", "x", 4)],
        )
    )
    view = IncrementalMinMaxView(src, f"{warehouse}/mmview_resc", "grp", "v")
    view.refresh()

    probes = []
    orig = view._rescan

    def spy(groups, n_groups, *pin):
        probes.append(sorted(r[0] for r in groups.collect()))
        return orig(groups, n_groups, *pin)

    view._rescan = spy
    # delete x's max (b=9) AND insert into y (fold-only for y)
    src.upsert(_rows(spark, [("f", "y", 2)]))
    src.delete_by_key(["b"])
    view.refresh()
    view._rescan = orig
    assert view.last_refresh_mode == "rescan:1"
    assert probes == [["x"]]
    assert _mm_read(view) == _mm_truth(src)
    assert _mm_read(view)["x"] == (2, 1, 4)
    assert _mm_read(view)["y"] == (3, 2, 6)


def test_minmax_view_bucket_pruned_rescan_when_group_is_key(spark, warehouse):
    """When the view's group IS the source's bucket key, an extremum
    rescan reads ONLY the threatened keys' storage buckets (the
    point-GET pruning recipe) — recorded bucket ids prove it; and with
    the gate forced to 0 the same refresh runs the semi-join path,
    never touching _read_buckets, with identical results."""
    from moisturizer_spark.incremental import IncrementalMinMaxView

    src = ParquetTable(spark, f"{warehouse}/mmkey", key="grp", n_buckets=8)
    rows = [(f"g{i}", f"g{i}", 10 * i) for i in range(6)]
    src.overwrite(_rows(spark, rows))
    view = IncrementalMinMaxView(src, f"{warehouse}/mmkey_view", "grp", "v")
    view.refresh()

    seen = []
    orig_rb = src._read_buckets
    orig_rescan = view._rescan

    def rescan_spy(groups, n_groups, *pin):
        # record _read_buckets calls DURING the rescan only — the CDC
        # feed legitimately reads changed buckets on its own
        def rb_spy(bucket_ids, man):
            seen.append(sorted(set(bucket_ids)))
            return orig_rb(bucket_ids, man)

        src._read_buckets = rb_spy
        try:
            return orig_rescan(groups, n_groups, *pin)
        finally:
            src._read_buckets = orig_rb

    # an update moves g3's value: pre-image deletes the old extremum
    # (min == max for a single-row group) -> pruned rescan of g3 only
    src.upsert(_rows(spark, [("g3", "g3", 77)]))
    view._rescan = rescan_spy
    try:
        view.refresh()
    finally:
        view._rescan = orig_rescan
    assert view.last_refresh_mode == "rescan:1"
    assert seen == [[src.bucket_of("g3")]]
    assert _mm_read(view) == _mm_truth(src)
    assert _mm_read(view)["g3"] == (1, 77, 77)

    # over-gate: threshold 0 forces the semi-join path (no bucket read)
    gated = IncrementalMinMaxView(
        src, f"{warehouse}/mmkey_gated", "grp", "v", local_threshold=0
    )
    gated.refresh()
    src.upsert(_rows(spark, [("g4", "g4", -5)]))
    orig_gated_rescan = gated._rescan

    def gated_spy(groups, n_groups, *pin):
        def rb_boom(*a, **k):
            raise AssertionError("over-gate rescan must use the semi join")

        src._read_buckets = rb_boom
        try:
            return orig_gated_rescan(groups, n_groups, *pin)
        finally:
            src._read_buckets = orig_rb

    gated._rescan = gated_spy
    try:
        gated.refresh()
    finally:
        gated._rescan = orig_gated_rescan
    assert gated.last_refresh_mode == "rescan:1"
    assert _mm_read(gated) == _mm_truth(src)


def test_minmax_view_idempotent_and_vacuum_fallback(spark, warehouse):
    from moisturizer_spark.incremental import IncrementalMinMaxView

    src = _tbl(spark, warehouse, "mmsrc_vac", retain=1)
    src.overwrite(_rows(spark, [("a", "x", 1), ("b", "x", 2)]))
    view = IncrementalMinMaxView(src, f"{warehouse}/mmview_vac", "grp", "v")
    view.refresh()
    before = _mm_read(view)
    view.refresh()
    assert view.last_refresh_mode == "noop"
    assert _mm_read(view) == before

    # burn retention: the CDC range is vacuumed -> full fallback
    src.overwrite(_rows(spark, [("a", "x", 1), ("r1", "x", 5)]))
    src.overwrite(_rows(spark, [("a", "x", 1), ("r2", "y", 6)]))
    view.refresh()
    assert view.last_refresh_mode == "full"
    assert _mm_read(view) == _mm_truth(src)


def test_minmax_view_random_ops_property(spark, warehouse):
    """Randomized insert/update/delete sequence; after every refresh the
    view must equal the full recompute (rescans allowed — correctness,
    not pruning, is the property here)."""
    import random

    from moisturizer_spark.incremental import IncrementalMinMaxView

    rng = random.Random(4242)
    src = _tbl(spark, warehouse, "mmsrc_rand")
    src.overwrite(_rows(spark, [("a", "x", 3)]))
    view = IncrementalMinMaxView(src, f"{warehouse}/mmview_rand", "grp", "v")
    view.refresh()
    live = {"a"}
    for step in range(4):
        for _ in range(rng.randrange(1, 4)):
            roll = rng.random()
            if roll < 0.55:
                rid = f"r{rng.randrange(10)}"
                live.add(rid)
                val = rng.choice([None, rng.randrange(-50, 50)])
                src.upsert(
                    _rows(spark, [(rid, f"g{rng.randrange(3)}", val)])
                )
            elif live:
                rid = rng.choice(sorted(live))
                live.discard(rid)
                src.delete_by_key([rid])
        view.refresh()
        assert _mm_read(view) == _mm_truth(src), f"diverged at step {step}"


def test_minmax_view_all_null_group_insert_delete_churn(spark, warehouse):
    """Three-valued-logic regression (round-9 review): a group whose
    stored extremes are NULL (all-null values) that sees a non-null
    value inserted AND deleted within one unapplied range used to make
    `threatened` evaluate to SQL NULL — dropping the group from every
    refresh branch while the anti-join still removed it from the
    untouched set: silent, persistent data loss. NULL now means
    "cannot prove the fold safe" and routes to the rescan."""
    from moisturizer_spark.incremental import IncrementalMinMaxView

    src = _tbl(spark, warehouse, "mmsrc_null3v")
    src.overwrite(
        _rows(spark, [("n1", "x", None), ("n2", "x", None), ("a", "y", 1)])
    )
    view = IncrementalMinMaxView(src, f"{warehouse}/mmview_null3v", "grp", "v")
    view.refresh()
    assert _mm_read(view)["x"] == (2, None, None)

    # insert a non-null into x, then delete it — ONE unapplied range
    src.upsert(_rows(spark, [("k3", "x", 5)]))
    src.delete_by_key(["k3"])
    view.refresh()
    got = _mm_read(view)
    assert "x" in got, "all-null group silently dropped (3VL regression)"
    assert got == _mm_truth(src)
    assert got["x"] == (2, None, None)

"""Deterministic sampling operators: split/quota invariants.

The properties that make hash-keyed sampling the right primitive for a
growing 100 TB corpus (vs ``df.sample``): reproducibility, partition/
engine independence, and membership stability under corpus growth.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from moisturizer_spark.operators.sampling import (
    DEFAULT_SPLITS,
    hash_fraction,
    hash_split,
    quota_sample,
    split_thresholds,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_fraction_uniform_range(spark, docs):
    stats = docs.select(hash_fraction(F.col("doc_id")).alias("f")).agg(
        F.min("f"), F.max("f"), F.avg("f")
    ).first()
    assert 0.0 <= stats[0] and stats[1] < 1.0
    assert 0.3 < stats[2] < 0.7  # uniform-ish even on a small table


def test_hash_split_partitions_completely(spark, docs):
    out = hash_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= set(DEFAULT_SPLITS)
    assert sum(counts.values()) == docs.count()
    # train dominates under 90/5/5
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)


def test_hash_split_deterministic_and_salt_independent(spark, docs):
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    assert a == b
    salted = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id", salt="x").collect()}
    assert salted != a  # a different salt is a different (independent) split


def test_hash_split_stable_under_corpus_growth(spark, docs):
    """Adding documents never moves an existing document between splits."""
    subset = docs.filter(F.col("doc_id") % 2 == 0)
    full = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    sub = {r["doc_id"]: r["split"] for r in hash_split(subset, "doc_id").collect()}
    assert all(full[k] == v for k, v in sub.items())


def test_split_thresholds_shared_constants():
    th = split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    assert [n for n, _ in th] == ["train", "val", "test"]
    assert th[-1][1] == pytest.approx(1.0)
    # the accumulated constant is whatever float addition yields — both
    # engine sides must consume THIS value, not a re-derived 0.95
    assert th[1][1] == 0.9 + 0.05 / 1.0


def test_quota_sample_bounds_and_determinism(spark, docs):
    kept = quota_sample(docs, "source", "doc_id", k=5)
    per = kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] <= 5 for r in per)
    again = quota_sample(docs, "source", "doc_id", k=5)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_quota_sample_keeps_columns_and_small_groups(spark):
    df = spark.createDataFrame(
        [("a", i, f"t{i}") for i in range(20)] + [("b", 100, "x")],
        "grp string, id long, payload string",
    )
    kept = quota_sample(df, "grp", "id", k=3)
    assert kept.columns == ["grp", "id", "payload"]
    counts = {r["grp"]: r["n"] for r in kept.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 3, "b": 1}  # under-quota groups survive whole


def test_temperature_weights_normalize_and_flatten(spark):
    from moisturizer_spark.operators.sampling import temperature_weights

    sizes = spark.createDataFrame(
        [("big", 900), ("small", 100)], "source string, n long"
    )
    w = {r["source"]: r["mix_weight"] for r in
         temperature_weights(sizes, "n", alpha=0.5).collect()}
    # sqrt weighting: 30 / (30+10) = 0.75 -- flatter than raw 0.9
    assert abs(w["big"] - 0.75) < 1e-6 and abs(w["small"] - 0.25) < 1e-6
    u = {r["source"]: r["mix_weight"] for r in
         temperature_weights(sizes, "n", alpha=0.0).collect()}
    assert abs(u["big"] - 0.5) < 1e-6  # alpha=0 -> uniform
    p = {r["source"]: r["mix_weight"] for r in
         temperature_weights(sizes, "n", alpha=1.0).collect()}
    assert abs(p["big"] - 0.9) < 1e-6  # alpha=1 -> proportional


def test_shard_assign_deterministic_and_balanced(spark):
    from moisturizer_spark.operators.sampling import shard_assign

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    a = df.select("id", shard_assign(F.col("id"), 16, salt="s:").alias("sh"))
    # deterministic across plans/partitionings
    b = df.repartition(7).select(
        "id", shard_assign(F.col("id"), 16, salt="s:").alias("sh")
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    counts = [r["n"] for r in a.groupBy("sh").agg(F.count("*").alias("n")).collect()]
    assert len(counts) == 16
    # md5 uniformity: every shard within 3x of the mean at n=2000
    assert max(counts) < 3 * (2000 / 16) and min(counts) > (2000 / 16) / 3


def test_shard_manifest_partitions_corpus_exactly(spark):
    from moisturizer_spark.operators.sampling import shard_manifest

    df = spark.createDataFrame(
        [(i, i % 7 + 1) for i in range(500)], "id long, nb long"
    )
    m = shard_manifest(df, "id", 8, salt="m:", size_col="nb").collect()
    assert sum(r["n_rows"] for r in m) == 500
    assert sum(r["sum_size"] for r in m) == sum(i % 7 + 1 for i in range(500))
    assert all(0 <= r["shard"] < 8 for r in m)
    assert all(0 <= r["key_checksum"] < 2**31 for r in m)
    assert all(r["min_key"] <= r["max_key"] for r in m)


def test_epoch_plan_caps_and_targets(spark):
    from moisturizer_spark.operators.sampling import epoch_plan

    sizes = spark.createDataFrame(
        [("big", 9_000_000), ("small", 10_000)], "source string, n long"
    )
    rows = {
        r["source"]: r
        for r in epoch_plan(
            sizes, "n", budget=10_000_000, alpha=0.5, max_epochs=4.0
        ).collect()
    }
    big, small = rows["big"], rows["small"]
    # sqrt weighting: 3000/(3000+100) ~ 0.967742, 100/3100 ~ 0.032258
    assert abs(big["mix_weight"] - 0.967742) < 1e-9
    assert big["target_tokens"] == 9_677_420
    # big source: ~1.08 epochs, under cap
    assert not big["over_cap"]
    assert big["effective_tokens"] == big["target_tokens"]
    # small source: 322,580 target over 10k available = 32 epochs -> capped
    assert small["over_cap"]
    assert small["effective_tokens"] == 40_000  # 4 epochs x 10k
    assert small["target_tokens"] == 322_580


def test_expand_epochs_full_and_partial(spark):
    from moisturizer_spark.operators.sampling import expand_epochs

    docs = spark.createDataFrame(
        [("a", i, 10) for i in range(100)], "source string, doc_id long, n_chars long"
    )
    # available 1000 tokens, effective 2500 -> e = 2.5: two full epochs
    # plus ~half the docs in epoch 2
    plan = spark.createDataFrame(
        [("a", 1000, 2500)], "source string, n_tokens long, effective_tokens long"
    )
    out = expand_epochs(docs, plan)
    per_epoch = {
        r["epoch_idx"]: r["n"]
        for r in out.groupBy("epoch_idx").agg(F.count("*").alias("n")).collect()
    }
    assert per_epoch[0] == 100 and per_epoch[1] == 100
    assert 25 <= per_epoch[2] <= 75  # hash-uniform ~50
    # determinism: same selection on re-run
    again = expand_epochs(docs, plan)
    assert sorted(map(tuple, out.select("doc_id", "epoch_idx").collect())) == \
           sorted(map(tuple, again.select("doc_id", "epoch_idx").collect()))
    # integral e: no partial epoch at all
    plan2 = spark.createDataFrame(
        [("a", 1000, 2000)], "source string, n_tokens long, effective_tokens long"
    )
    out2 = expand_epochs(docs, plan2)
    assert out2.count() == 200
    assert out2.agg(F.max("epoch_idx")).first()[0] == 1


def test_expand_epochs_docs_may_carry_size_col(spark):
    """docs carrying a per-doc column named like the plan's size_col
    (the natural case: both sides call it ``n_tokens``) must not
    collide — the plan side is aliased to reserved names pre-join."""
    from moisturizer_spark.operators.sampling import expand_epochs

    docs = spark.createDataFrame(
        [("a", i, 10) for i in range(100)],
        "source string, doc_id long, n_tokens long",
    )
    plan = spark.createDataFrame(
        [("a", 1000, 2000)], "source string, n_tokens long, effective_tokens long"
    )
    out = expand_epochs(docs, plan)
    assert out.count() == 200
    # the doc-side n_tokens survives, un-shadowed by the plan's total
    assert out.columns == ["source", "doc_id", "n_tokens", "epoch_idx"]
    assert out.select("n_tokens").distinct().collect() == [(10,)]


# -- weighted_sample: deterministic A-ES ------------------------------------


def _es_ref(items, salt="wsample:"):
    """Pure-Python replay of weighted_score: md5 first-8-hex uniform
    shifted to (0,1], ln(u)/w rounded to 6 digits."""
    import hashlib
    import math

    out = {}
    for key, w in items:
        h = int(hashlib.md5((salt + str(key)).encode()).hexdigest()[:8], 16)
        u = (h + 1) / 4294967297.0
        out[key] = round(math.log(u) / float(w), 6)
    return out


def test_weighted_sample_matches_pure_python_reference(spark):
    from moisturizer_spark.operators.sampling import weighted_sample

    items = [(i, 1 + (i * 37) % 100) for i in range(200)]
    df = spark.createDataFrame(items, "doc_id long, w long")
    got = {
        r.doc_id: (r.score, r.rank)
        for r in weighted_sample(
            df, n=10, weight_col="w", key_col="doc_id"
        ).collect()
    }
    ref = _es_ref(items)
    want_order = sorted(ref, key=lambda k: (-ref[k], k))[:10]
    assert got == {k: (ref[k], i + 1) for i, k in enumerate(want_order)}


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from moisturizer_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, -5), (4, 7)], "doc_id long, w long"
    )
    kept = {
        r.doc_id
        for r in weighted_sample(
            df, n=10, weight_col="w", key_col="doc_id"
        ).collect()
    }
    assert kept == {1, 4}


def test_weighted_sample_inclusion_tracks_weight(spark):
    """A-ES law: across independent draws (salts), the heavy item must
    win top-1 roughly w_heavy/Σw of the time. With w=(8,1,1) over 300
    salts, heavy's win count is Binomial(300, 0.8): ±5σ ≈ ±35.

    The score hashes ``salt || key``, so the 300 draws run as ONE
    grouped sample whose key carries the salt (``by`` the draw index,
    empty salt) — the same md5 inputs as 300 separate calls, in one
    window instead of 300. The first draws are cross-checked against
    the per-salt calls to pin that equivalence."""
    from moisturizer_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 8), (2, 1), (3, 1)], "doc_id long, w long"
    )
    draws = df.crossJoin(spark.range(300).withColumnRenamed("id", "s"))
    draws = draws.withColumn(
        "k", F.concat(F.lit("t"), "s", F.lit(":"), "doc_id")
    )
    winner = {
        r.s: r.doc_id
        for r in weighted_sample(
            draws, n=1, weight_col="w", key_col="k", by=("s",), salt=""
        ).select("s", "doc_id").collect()
    }
    assert sorted(winner) == list(range(300))
    for s in range(3):
        (one,) = weighted_sample(
            df, n=1, weight_col="w", key_col="doc_id", salt=f"t{s}:"
        ).collect()
        assert one.doc_id == winner[s], s
    wins = sum(1 for d in winner.values() if d == 1)
    assert 240 - 35 <= wins <= 240 + 35, wins


def test_weighted_sample_partitioning_independent(spark, sf_dir):
    """The operator's core claim over RNG sampling: the draw is a pure
    function of (key, salt), so the sample cannot depend on how the
    data is partitioned. Identical rows at 1, 3, and 13 partitions."""
    from moisturizer_spark.operators.sampling import weighted_sample
    from moisturizer_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "source", "n_chars"
    )
    results = []
    for n_parts in (1, 3, 13):
        out = weighted_sample(
            docs.repartition(n_parts),
            n=5,
            weight_col="n_chars",
            key_col="doc_id",
            by=("source",),
        )
        results.append(sorted(map(tuple, out.collect())))
    assert results[0] == results[1] == results[2]


def test_leakage_free_split_pairs_never_straddle(spark, sf_dir):
    """The property the query exists for, pinned at the PAIR level:
    every near-dup pair's two docs land in the same split (a per-doc
    hash split violates this whenever a cluster's ids straddle a
    threshold)."""
    from pyspark.sql import functions as F

    from moisturizer_spark.operators.dedup import ngram_jaccard_pairs
    from moisturizer_spark.operators.sampling import hash_split
    from moisturizer_spark.session import load_tables
    from moisturizer_spark.workload import doc_dedup_clusters

    subset = (
        load_tables(spark, sf_dir, ("documents",))["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    s = hash_split(
        doc_dedup_clusters(spark, sf_dir), "cluster_rep", salt="leak:"
    ).select("doc_id", "split")
    pairs = ngram_jaccard_pairs(subset, threshold=0.5).select("id_a", "id_b")
    crossing = (
        pairs.join(s.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("split", "split_a")
        .join(
            s.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "split", "split_b"
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert crossing == 0


def test_cv_folds_deterministic_stable_and_partitioned(spark):
    from moisturizer_spark.operators.sampling import cv_folds

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)], "doc_id long, text string"
    )
    a = {r["doc_id"]: r["fold"] for r in cv_folds(df, "doc_id", k=5).collect()}
    b = {r["doc_id"]: r["fold"] for r in cv_folds(df, "doc_id", k=5).collect()}
    assert a == b  # deterministic
    assert set(a.values()) == {0, 1, 2, 3, 4}
    # growth stability: a subset keeps its folds
    sub = df.filter("doc_id < 50")
    c = {r["doc_id"]: r["fold"] for r in cv_folds(sub, "doc_id", k=5).collect()}
    assert all(a[i] == c[i] for i in c)
    # a different salt decorrelates
    d = {r["doc_id"]: r["fold"] for r in cv_folds(df, "doc_id", k=5, salt="x:").collect()}
    assert d != a


def test_cv_folds_rejects_degenerate_k(spark):
    import pytest

    from moisturizer_spark.operators.sampling import cv_folds

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="k must be"):
        cv_folds(df, "doc_id", k=1)

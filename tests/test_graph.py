"""pagerank_int: all-integer PageRank vs an unbounded-int Python replay."""

from __future__ import annotations

import pytest


def _pagerank_ref(edges, iterations=3, scale=10**12, num=85, den=100):
    from collections import defaultdict

    e = sorted(set(edges))
    deg = defaultdict(int)
    for s, _ in e:
        deg[s] += 1
    r = {n: scale for n in deg}
    base = ((den - num) * scale) // den
    for _ in range(iterations):
        inflow = defaultdict(int)
        for s, d in e:
            inflow[d] += r[s] // deg[s]
        r = {n: base + (num * inflow.get(n, 0)) // den for n in deg}
    return r


def test_pagerank_int_matches_python_replay(spark):
    import random

    rng = random.Random(3)
    raw = [(rng.randrange(30), rng.randrange(30)) for _ in range(200)]
    edges = [(f"n{a}", f"n{b}") for a, b in raw if a != b]
    # symmetrize: the documented no-dangling form
    edges = edges + [(b, a) for a, b in edges]
    from moisturizer_spark.operators.graph import pagerank_int

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank_scaled"] for r in pagerank_int(df).collect()}
    assert got == _pagerank_ref(edges)


def test_pagerank_int_dangling_nodes_documented_out(spark):
    """Directed edges with a pure-sink node: the sink has no outgoing
    edge, so it is absent from the output (the documented contract);
    sources still rank."""
    from moisturizer_spark.operators.graph import pagerank_int

    df = spark.createDataFrame(
        [("a", "sink"), ("b", "sink"), ("a", "b")], "src string, dst string"
    )
    got = {r["node"] for r in pagerank_int(df).collect()}
    assert got == {"a", "b"}


def test_bfs_levels_matches_python_replay(spark):
    import random
    from collections import deque

    rng = random.Random(9)
    edges = list({(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}")
                  for _ in range(120)})
    seeds = ["n0", "n1"]

    def ref():
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        lvl = {s: 0 for s in seeds}
        q = deque(seeds)
        while q:
            n = q.popleft()
            if lvl[n] >= 3:
                continue
            for m in adj.get(n, []):
                if m not in lvl:
                    lvl[m] = lvl[n] + 1
                    q.append(m)
        return lvl

    from moisturizer_spark.operators.graph import bfs_levels

    e = spark.createDataFrame(edges, "src string, dst string")
    sd = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {r["node"]: r["hops"] for r in bfs_levels(e, sd).collect()}
    assert got == ref()


def _triangles_ref(edges):
    """Brute-force triangle set over the undirected simple graph."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    es = set(und)
    out = set()
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) not in es:
                continue
            for z in nodes:
                if z > y and (x, z) in es and (y, z) in es:
                    out.add((x, y, z))
    return out


def test_triangle_count_matches_brute_force(spark):
    import random

    rng = random.Random(17)
    # mixed directions + duplicates + self-loops: the operator must
    # canonicalize all of it away
    edges = [(f"n{rng.randrange(20)}", f"n{rng.randrange(20)}")
             for _ in range(120)]
    edges += [(b, a) for a, b in edges[:30]] + [("n3", "n3")]
    from moisturizer_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r["node_a"], r["node_b"], r["node_c"])
        for r in triangle_count(df).collect()
    }
    ref = _triangles_ref(edges)
    assert got == ref and len(got) > 5


def test_triangle_count_skewed_hub(spark):
    """A hub connected to everything plus one outer edge: exactly the
    shape degree orientation exists for. Triangles = hub + each outer
    edge's endpoints."""
    hub = [("hub", f"n{i}") for i in range(50)]
    outer = [("n1", "n2"), ("n7", "n8"), ("n7", "n9")]
    from moisturizer_spark.operators.graph import triangle_count

    df = spark.createDataFrame(hub + outer, "src string, dst string")
    got = {
        (r["node_a"], r["node_b"], r["node_c"])
        for r in triangle_count(df).collect()
    }
    assert got == {("hub", "n1", "n2"), ("hub", "n7", "n8"),
                   ("hub", "n7", "n9")}


def _lpa_ref(edges, iterations=3):
    """Synchronous LPA replay: most-frequent neighbor label, ties to
    the smallest label."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {n: n for n in adj}
    for _ in range(iterations):
        nxt = {}
        for n in adj:
            c = Counter(lab[m] for m in adj[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[n] = best[0]
        lab = nxt
    return lab


def test_lpa_communities_matches_python_replay(spark):
    import random

    rng = random.Random(23)
    # two dense blobs + a weak bridge: LPA should find the blobs
    edges = []
    for lo, hi in ((0, 12), (12, 24)):
        names = [f"n{i:02d}" for i in range(lo, hi)]
        for _ in range(60):
            a, b = rng.sample(names, 2)
            edges.append((a, b))
    edges.append(("n00", "n12"))
    from moisturizer_spark.operators.graph import lpa_communities

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["community"]
        for r in lpa_communities(df, iterations=3).collect()
    }
    assert got == _lpa_ref(edges, 3)
    # blob structure: far more intra-blob label agreement than across
    blob1 = {got[f"n{i:02d}"] for i in range(12)}
    blob2 = {got[f"n{i:02d}"] for i in range(12, 24)}
    assert len(blob1) <= 3 and len(blob2) <= 3


def test_lpa_communities_iteration_bound_is_exact_state(spark):
    """iterations=0 returns the self-labels (the documented contract:
    the returned labels are exactly the round-k state)."""
    from moisturizer_spark.operators.graph import lpa_communities

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {
        r["node"]: r["community"]
        for r in lpa_communities(df, iterations=0).collect()
    }
    assert got == {"a": "a", "b": "b", "c": "c"}


def _hits_ref(edges, rounds=2):
    from collections import defaultdict

    e = sorted(set(edges))
    h = {s: 1 for s, _ in e}
    a = {}
    for _ in range(rounds):
        a = defaultdict(int)
        for s, d in e:
            a[d] += h[s]
        h = defaultdict(int)
        for s, d in e:
            h[s] += a[d]
    return dict(h), dict(a)


def test_hits_bipartite_matches_python_replay(spark):
    import random

    from moisturizer_spark.operators.graph import hits_bipartite

    rng = random.Random(29)
    edges = list({(f"c{rng.randrange(20)}", f"s{rng.randrange(8)}")
                  for _ in range(120)})
    df = spark.createDataFrame(edges, "src string, dst string")
    got_h, got_a = {}, {}
    for r in hits_bipartite(df).collect():
        (got_h if r["role"] == "hub" else got_a)[r["node"]] = int(r["score"])
    ref_h, ref_a = _hits_ref(edges)
    assert got_h == ref_h and got_a == ref_a


def test_hits_bipartite_mutual_reinforcement(spark):
    """A supplier serving the broad hub outranks one serving a narrow
    buyer, even at equal in-degree — the signal degree counting misses."""
    from moisturizer_spark.operators.graph import hits_bipartite

    edges = (
        # c_big buys from s1..s4 (broad hub); c_small only from s_niche
        [("c_big", f"s{i}") for i in range(1, 5)]
        + [("c_small", "s_niche")]
        # both s1 and s_niche have in-degree 1 after this point
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    scores = {
        (r["role"], r["node"]): int(r["score"])
        for r in hits_bipartite(df).collect()
    }
    assert scores[("authority", "s1")] > scores[("authority", "s_niche")]
    assert scores[("hub", "c_big")] > scores[("hub", "c_small")]


# -- auto-rescaled grid + convergence diagnostics (round 8) -------------------


def _shifted_ref(edges, iterations=3, scale=10**12, num=85, den=100,
                 bound_bits=62):
    """Unbounded-int replay of the AUTO-RESCALED grid: the header shift
    from exact bit lengths, then the standard integer rounds on the
    effective grid — mirrors _grid_header + _pagerank_step."""
    from collections import defaultdict

    e = sorted(set(edges))
    deg = defaultdict(int)
    for s, _ in e:
        deg[s] += 1
    n = len(deg)
    shift = max(
        0, scale.bit_length() + n.bit_length() + num.bit_length() - bound_bits
    )
    grid = scale >> shift
    r = {v: grid for v in deg}
    base = ((den - num) * grid) // den
    rounds = []
    for _ in range(iterations):
        inflow = defaultdict(int)
        for s, d in e:
            inflow[d] += r[s] // deg[s]
        nxt = {v: base + (num * inflow.get(v, 0)) // den for v in deg}
        moved = {v: abs(nxt[v] - r[v]) for v in deg}
        rounds.append(
            (
                sum(1 for m in moved.values() if m > 0),
                sum(moved.values()),
                max(moved.values()) if moved else 0,
            )
        )
        r = nxt
    return r, rounds


def test_pagerank_int_auto_rescale_matches_shifted_replay(spark):
    """Planted over-bound graph (lowered bound_bits, the
    importance_resample test recipe): the shift ENGAGES, nothing
    raises, and Spark == unbounded-int Python replay with the same
    bit-length arithmetic."""
    import random

    from moisturizer_spark.operators.graph import pagerank_int

    rng = random.Random(41)
    raw = [(rng.randrange(30), rng.randrange(30)) for _ in range(200)]
    edges = [(f"n{a}", f"n{b}") for a, b in raw if a != b]
    edges = edges + [(b, a) for a, b in edges]
    n = len({s for s, _ in edges})
    bound = (10**12).bit_length() + n.bit_length() + (85).bit_length() - 4
    ref, _ = _shifted_ref(edges, bound_bits=bound)
    assert ref != _pagerank_ref(edges), "shift must engage for this test"
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank_int(df, bound_bits=bound).collect()
    }
    assert got == ref


def test_pagerank_int_auto_rescale_preserves_ranking(spark):
    """Tiered star graph: hubs of clearly different sizes keep their
    relative order under a forced shift — resolution degrades, ranking
    does not."""
    from moisturizer_spark.operators.graph import pagerank_int

    edges = []
    for hub, n_sat in (("h_big", 24), ("h_mid", 12), ("h_small", 4)):
        for i in range(n_sat):
            edges.append((f"{hub}_s{i}", hub))
            edges.append((hub, f"{hub}_s{i}"))
    df = spark.createDataFrame(edges, "src string, dst string")

    def hub_order(bound):
        rows = pagerank_int(df, bound_bits=bound).collect()
        ranks = {r["node"]: r["rank_scaled"] for r in rows}
        return sorted(
            ("h_big", "h_mid", "h_small"), key=lambda h: -ranks[h]
        )

    n = df.select("src").distinct().count()
    forced = (10**12).bit_length() + n.bit_length() + (85).bit_length() - 6
    assert hub_order(62) == hub_order(forced) == [
        "h_big", "h_mid", "h_small"
    ]


def test_pagerank_int_grid_exhaustion_raises(spark):
    """A bound so tight the grid would truncate to zero raises loudly
    (raise_error in the header) instead of silently ranking all-zero."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from moisturizer_spark.operators.graph import pagerank_int

    df = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        pagerank_int(df, bound_bits=2).collect()
    assert "rank grid" in str(ei.value)


def test_pagerank_convergence_matches_replay_and_decays(spark):
    """Per-round movement == unbounded-int replay, and a healthy damped
    graph decays geometrically (each round's L1 movement well below the
    previous round's)."""
    import random

    from moisturizer_spark.operators.graph import pagerank_convergence

    rng = random.Random(43)
    raw = [(rng.randrange(25), rng.randrange(25)) for _ in range(220)]
    edges = [(f"n{a}", f"n{b}") for a, b in raw if a != b]
    edges = edges + [(b, a) for a, b in edges]
    _, ref_rounds = _shifted_ref(edges, iterations=4)
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = pagerank_convergence(df, iterations=4).orderBy("round").collect()
    got = [(r["n_moved"], r["moved_l1"], r["max_move"]) for r in rows]
    assert got == ref_rounds
    l1 = [r["moved_l1"] for r in rows]
    assert l1[3] < l1[1] < l1[0]


def test_pagerank_convergence_flags_insufficient_iterations(spark):
    """Planted slow-mixing graph (a long symmetrized path: boundary
    corrections travel one hop per round): after 3 rounds the rank
    vector is STILL moving hard — the diagnostic's reason to exist."""
    from moisturizer_spark.operators.graph import pagerank_convergence

    path = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(30)]
    edges = path + [(b, a) for a, b in path]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = pagerank_convergence(df, iterations=3).orderBy("round").collect()
    # far from converged: the correction wave front is still GROWING
    # (more nodes moving each round), and final-round L1 movement holds
    # at ~72% of round 1 — nothing like the geometric collapse of a
    # well-mixed graph
    n_moved = [r["n_moved"] for r in rows]
    assert n_moved[0] < n_moved[1] < n_moved[2]
    assert rows[-1]["moved_l1"] * 2 > rows[0]["moved_l1"]


def _lpa_flips_ref(edges, iterations=3):
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {n: n for n in adj}
    out = []
    for _ in range(iterations):
        nxt = {}
        for n in adj:
            c = Counter(lab[m] for m in adj[n])
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[n] = best[0]
        out.append((sum(1 for n in adj if nxt[n] != lab[n]), len(adj)))
        lab = nxt
    return out


def test_lpa_convergence_matches_replay_and_converges(spark):
    """Two dense blobs: flips == Python replay and collapse toward 0
    by the final round."""
    import random

    from moisturizer_spark.operators.graph import lpa_convergence

    rng = random.Random(47)
    edges = []
    for lo, hi in ((0, 12), (12, 24)):
        names = [f"n{i:02d}" for i in range(lo, hi)]
        for _ in range(70):
            a, b = rng.sample(names, 2)
            edges.append((a, b))
    edges.append(("n00", "n12"))
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = lpa_convergence(df, iterations=4).orderBy("round").collect()
    got = [(r["flips"], r["n_nodes"]) for r in rows]
    assert got == _lpa_flips_ref(edges, 4)
    assert rows[-1]["flips"] <= 2


def test_lpa_convergence_flags_oscillation(spark):
    """Planted sync-LPA oscillator (complete bipartite K_{6,6}): labels
    2-cycle forever, so the final round still flips ~everything — the
    planted '3 rounds is insufficient' graph the diagnostic must
    flag."""
    from moisturizer_spark.operators.graph import lpa_convergence

    left = [f"l{i}" for i in range(6)]
    right = [f"r{i}" for i in range(6)]
    edges = [(a, b) for a in left for b in right]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = lpa_convergence(df, iterations=3).orderBy("round").collect()
    got = [(r["flips"], r["n_nodes"]) for r in rows]
    assert got == _lpa_flips_ref(edges, 3)
    final = rows[-1]
    assert final["flips"] >= final["n_nodes"] // 2


def test_hits_bipartite_rejects_zero_rounds(spark):
    from moisturizer_spark.operators.graph import hits_bipartite

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="rounds"):
        hits_bipartite(df, rounds=0)


# -- Adamic-Adar link prediction ----------------------------------------------


def test_adamic_adar_known_square(spark):
    """4-cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the
    non-edges, each with two degree-2 common neighbors → score exactly
    2 * round(1e6/log2(2)) = 2_000_000."""
    from moisturizer_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["aa_micro"])
        for r in adamic_adar(edges).collect()
    }
    assert got == {(1, 3): (2, 2_000_000), (2, 4): (2, 2_000_000)}


def test_adamic_adar_weights_selective_neighbors_higher(spark):
    """A pair sharing one degree-2 neighbor must outrank a pair
    sharing one degree-4 neighbor: 1/log2(2) > 1/log2(4)."""
    from moisturizer_spark.operators.graph import adamic_adar

    edges = spark.createDataFrame(
        # hub 10 (degree 4): connects 1,2,3,4; selective 20 (degree 2):
        # connects 5,6
        [(10, 1), (10, 2), (10, 3), (10, 4), (20, 5), (20, 6)],
        "src long, dst long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["aa_micro"]
        for r in adamic_adar(edges).collect()
    }
    assert got[(5, 6)] == 1_000_000  # 1/log2(2)
    assert got[(1, 2)] == 500_000  # 1/log2(4)
    assert got[(5, 6)] > got[(1, 2)]


def test_adamic_adar_excludes_known_edges_and_caps_hubs(spark):
    from moisturizer_spark.operators.graph import adamic_adar

    # triangle 1-2-3 plus pendant 4 on node 1: (2,3) is an EDGE so it
    # must not be predicted even though 1 is a common neighbor
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "src long, dst long"
    )
    got = {(r["id_a"], r["id_b"]) for r in adamic_adar(edges).collect()}
    assert (2, 3) not in got
    assert (2, 4) in got and (3, 4) in got

    # a hub above the center cap contributes no wedges at all
    hub = spark.createDataFrame(
        [(99, i) for i in range(1, 8)], "src long, dst long"
    )
    assert adamic_adar(hub, max_center_degree=5).count() == 0


def test_adamic_adar_direction_and_duplicate_insensitive(spark):
    from moisturizer_spark.operators.graph import adamic_adar

    e1 = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    e2 = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (2, 3)], "src long, dst long"
    )
    r1 = {(r["id_a"], r["id_b"]): r["aa_micro"] for r in adamic_adar(e1).collect()}
    r2 = {(r["id_a"], r["id_b"]): r["aa_micro"] for r in adamic_adar(e2).collect()}
    assert r1 == r2 == {(1, 3): 1_000_000}


# -- bounded-hop weighted shortest paths --------------------------------------


def test_shortest_paths_bounded_picks_cheaper_two_hop(spark):
    """Direct edge costs 10; the two-hop detour costs 3+3: the min-plus
    relaxation must return 6, and a node 4 hops out stays absent at
    rounds=3."""
    from moisturizer_spark.operators.graph import shortest_paths_bounded

    edges = spark.createDataFrame(
        [
            (1, 2, 10),  # direct but expensive
            (1, 3, 3), (3, 2, 3),  # cheaper detour
            (2, 4, 1), (4, 5, 1), (5, 6, 1),  # chain: 6 is 4+ hops from 1
        ],
        "src long, dst long, w long",
    )
    seed = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths_bounded(edges, seed, rounds=3).collect()
    }
    assert got[1] == 0
    assert got[2] == 6  # min(10, 3+3)
    assert got[3] == 3
    assert got[4] == 7  # 1->3->2->4 (3 hops) beats 1->2->4 (11)
    # node 5: the CHEAP route 1->3->2->4->5 needs 4 hops — outside the
    # budget — so the 3-hop 1->2->4->5 = 12 stands (hops, not cost,
    # are what `rounds` bounds)
    assert got[5] == 12
    assert 6 not in got  # strictly 4+ hops from the seed: absent


def test_shortest_paths_bounded_round_budget_is_hops(spark):
    """rounds bounds HOPS, not cost: with rounds=1 only direct
    neighbors resolve, and the expensive direct edge wins over the
    (unreachable in one hop) detour."""
    from moisturizer_spark.operators.graph import shortest_paths_bounded

    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 3), (3, 2, 3)], "src long, dst long, w long"
    )
    seed = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in shortest_paths_bounded(edges, seed, rounds=1).collect()
    }
    assert got == {1: 0, 2: 10, 3: 3}
    got2 = {
        r["node"]: r["dist"]
        for r in shortest_paths_bounded(edges, seed, rounds=2).collect()
    }
    assert got2[2] == 6


def test_shortest_paths_bounded_rejects_zero_rounds(spark):
    from moisturizer_spark.operators.graph import shortest_paths_bounded

    edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
    seed = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="rounds"):
        shortest_paths_bounded(edges, seed, rounds=0)


def test_shortest_paths_bounded_rejects_negative_weights(spark):
    """ADVICE r08: negative weights yield silently-wrong bounded-hop
    minima (valid bigint sums -- no ANSI error ever fires), so the
    operator must refuse them up front."""
    from moisturizer_spark.operators.graph import shortest_paths_bounded

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, -1)], "src long, dst long, w long"
    )
    seed = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError, match="non-negative"):
        shortest_paths_bounded(edges, seed, rounds=2)


def test_shortest_paths_bounded_is_directed(spark):
    """The documented contract: each edge relaxes src->dst only. An
    undirected caller must symmetrize -- and the symmetrized run
    resolves the reverse direction the directed run leaves absent."""
    from pyspark.sql import functions as F

    from moisturizer_spark.operators.graph import shortest_paths_bounded

    edges = spark.createDataFrame([(2, 1, 4)], "src long, dst long, w long")
    seed = spark.createDataFrame([(1,)], "node long")
    one_way = {
        r["node"]: r["dist"]
        for r in shortest_paths_bounded(edges, seed, rounds=2).collect()
    }
    assert one_way == {1: 0}  # 2->1 never relaxes 1->2
    sym = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    both = {
        r["node"]: r["dist"]
        for r in shortest_paths_bounded(sym, seed, rounds=2).collect()
    }
    assert both == {1: 0, 2: 4}


# -- k-core peeling -------------------------------------------------------------


def test_k_core_peels_cascade(spark):
    """The classic cascade: a triangle core plus a pendant chain. The
    2-core is exactly the triangle — removing the chain tip lowers the
    next node's degree, so peeling must CASCADE across rounds."""
    from moisturizer_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    got = {r["node"]: r["degree"] for r in k_core(edges, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_undirected_canonicalization(spark):
    """Either orientation (and duplicate/reversed edges, self-loops)
    canonicalizes to the same undirected graph."""
    from moisturizer_spark.operators.graph import k_core

    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    e2 = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (1, 3), (7, 7)], "src long, dst long"
    )
    g1 = {r["node"]: r["degree"] for r in k_core(e1, k=2, rounds=2).collect()}
    g2 = {r["node"]: r["degree"] for r in k_core(e2, k=2, rounds=2).collect()}
    assert g1 == g2 == {1: 2, 2: 2, 3: 2}


def test_k_core_convergence_flags_insufficient_rounds(spark):
    """Planted slow-peel: a length-6 chain hanging off a triangle needs
    6 peel rounds for the 2-core; at rounds=2 the diagnostic's last row
    still shows removals (the under-budget signal), at rounds=7 the
    last row shows zero."""
    from moisturizer_spark.operators.graph import (
        k_core,
        k_core_convergence,
    )

    chain = [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15)]
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 10)] + chain, "src long, dst long"
    )
    under = k_core_convergence(edges, k=2, rounds=2).collect()
    assert under[-1]["n_removed"] > 0  # still peeling: budget too small
    enough = k_core_convergence(edges, k=2, rounds=7).collect()
    assert enough[-1]["n_removed"] == 0
    assert enough[-1]["n_alive"] == 3
    final = {r["node"] for r in k_core(edges, k=2, rounds=7).collect()}
    assert final == {1, 2, 3}


def test_k_core_matches_python_replay(spark):
    """Randomized graph: the distributed peeling equals a pure-Python
    reference at every k."""
    import random

    from moisturizer_spark.operators.graph import k_core

    rng = random.Random(42)
    pairs = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randrange(30), rng.randrange(30)) for _ in range(120)
        )
        if a != b
    }
    edges = spark.createDataFrame(
        [(a, b) for a, b in sorted(pairs)], "src long, dst long"
    )

    def py_kcore(es, k):
        es = set(es)
        while True:
            deg = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            alive = {n for n, d in deg.items() if d >= k}
            ne = {(a, b) for a, b in es if a in alive and b in alive}
            if ne == es:
                return deg if es else {}
            es = ne

    for k in (2, 3):
        got = {
            r["node"]: r["degree"]
            for r in k_core(edges, k=k, rounds=8).collect()
        }
        want = {
            n: d for n, d in (py_kcore(pairs, k) or {}).items()
        }
        # python replay returns degrees over the fixpoint subgraph;
        # restrict to alive nodes (degree >= k holds at fixpoint)
        want = {n: d for n, d in want.items() if d >= k or n in got}
        assert got == want, (k, got, want)


def test_k_core_rejects_bad_params(spark):
    from moisturizer_spark.operators.graph import k_core

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="k and rounds"):
        k_core(edges, k=0, rounds=3)
    with pytest.raises(ValueError, match="k and rounds"):
        k_core(edges, k=2, rounds=0)


# -- the one layout setting: parity + the broadcast-contract guard ------------
#
# spark.moisturizer.graph.broadcastNodeFrames switches every operator
# between the tuned layout (broadcast node frames, edge frames keyed on
# the per-round aggregation key) and planner-chosen joins. It is a
# physical choice only: one random graph, every operator, conf on vs off.


def _rand_edges(spark, seed, n_nodes=25, n_edges=150):
    import random

    rng = random.Random(seed)
    rows = list({
        (f"n{rng.randrange(n_nodes)}", f"n{rng.randrange(n_nodes)}")
        for _ in range(n_edges)
    })
    rows = [(a, b) for a, b in rows if a != b]
    return spark.createDataFrame(rows, "src string, dst string")


_LAYOUT_CASES = {
    "pagerank_int": lambda G, g: G.pagerank_int(g["sym"]),
    "pagerank_convergence": lambda G, g: G.pagerank_convergence(
        g["sym"], iterations=2),
    "triangle_count": lambda G, g: G.triangle_count(g["e"]),
    "lpa_communities": lambda G, g: G.lpa_communities(g["e"]),
    "lpa_convergence": lambda G, g: G.lpa_convergence(g["e"], iterations=2),
    "bfs_levels": lambda G, g: G.bfs_levels(g["e"], g["seeds"], max_hops=3),
    "hits_bipartite": lambda G, g: G.hits_bipartite(g["e"], rounds=2),
    "shortest_paths_bounded": lambda G, g: G.shortest_paths_bounded(
        g["we"], g["seeds"], rounds=3),
    "k_core": lambda G, g: G.k_core(g["e"], k=2, rounds=4),
}


@pytest.mark.parametrize("op", sorted(_LAYOUT_CASES))
def test_layout_conf_is_result_noop(spark, op):
    """Every graph operator returns identical rows with the layout conf
    on (the default) and off, including weighted ties and unreached
    nodes in the shortest-path case."""
    from pyspark.sql import functions as F

    from moisturizer_spark.operators import graph as G

    e = _rand_edges(spark, 7)
    g = {
        "e": e,
        "sym": e.union(e.selectExpr("dst AS src", "src AS dst")),
        "seeds": spark.createDataFrame([("n1",), ("n2",)], "node string"),
        "we": e.withColumn("w", F.expr("pmod(hash(src, dst), 50)")),
    }

    def rows():
        return sorted(tuple(r) for r in _LAYOUT_CASES[op](G, g).collect())

    base = rows()
    assert base, "parity on an empty result proves nothing"
    try:
        spark.conf.set(G.BROADCAST_NODE_FRAMES_CONF, "false")
        off = rows()
    finally:
        spark.conf.unset(G.BROADCAST_NODE_FRAMES_CONF)
    assert off == base


def test_node_broadcast_guard_conf(spark):
    """VERDICT r10 #7: the node-grain broadcast contract needs an
    escape hatch. With spark.moisturizer.graph.broadcastNodeFrames
    false, _node_broadcast and _keyed_edges are identities: no hint or
    setup exchange reaches the planner, so an edge frame can never be
    keyed for rounds that re-shuffle it anyway."""
    from moisturizer_spark.operators.graph import (
        BROADCAST_NODE_FRAMES_CONF, _keyed_edges, _node_broadcast,
    )

    df = spark.createDataFrame([(1,)], "x int")
    try:
        spark.conf.set(BROADCAST_NODE_FRAMES_CONF, "false")
        assert _node_broadcast(df) is df  # identity: no hint built
        assert _keyed_edges(df, "x") is df  # identity: no exchange
    finally:
        spark.conf.unset(BROADCAST_NODE_FRAMES_CONF)
    assert _node_broadcast(df) is not df  # default: hint applied
    assert _keyed_edges(df, "x") is not df  # default: keyed layout


def test_shortest_paths_assume_nonneg_is_result_noop_and_guard_stays(spark):
    """assume_nonneg_weights skips only the eager validation job; the
    distances are identical, and the default path still rejects a
    negative weight loudly."""
    from moisturizer_spark.operators.graph import shortest_paths_bounded

    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 1), ("a", "c", 9)],
        "src string, dst string, w long",
    )
    seed = spark.createDataFrame([("a",)], "node string")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base = rows(shortest_paths_bounded(edges, seed, rounds=3))
    assert rows(shortest_paths_bounded(
        edges, seed, rounds=3, assume_nonneg_weights=True)) == base

    bad = spark.createDataFrame(
        [("a", "b", -1)], "src string, dst string, w long"
    )
    with pytest.raises(ValueError, match="non-negative"):
        shortest_paths_bounded(bad, seed, rounds=1)

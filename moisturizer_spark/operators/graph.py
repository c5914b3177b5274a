"""Graph analytics over DataFrame edge lists.

Connected components already live in ``operators/dedup.py``
(large-star/small-star for dedup clustering); this module holds the
rank/centrality side. Everything is expressed as joins + aggregations
so Catalyst plans the physical strategy; iteration unrolls into the
plan (bounded, explicit) rather than driver-side collect loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# The module's ONE layout setting. Default ON: rank/label/degree/
# survivor/distance frames are NODE-grain, bounded by the node
# dimension (~10^7 rows ≈ hundreds of MB), orders of magnitude under
# the edge dimension, so every operator broadcasts them into its
# per-round edge join and persists its edge frame hash-partitioned on
# the per-round aggregation key. The broadcast hints bypass
# autoBroadcastJoinThreshold on frames whose size is argued, not
# checked; on a deployment whose node dimension can exceed
# driver/executor memory (>~10^7 nodes), set it to "false": every
# operator then falls back to planner-chosen joins (AQE/SMJ) on an
# unpartitioned edge frame, trading per-round shuffles for unbounded
# node counts — same results.
BROADCAST_NODE_FRAMES_CONF = "spark.moisturizer.graph.broadcastNodeFrames"


def _layout_on(df: DataFrame) -> bool:
    enabled = df.sparkSession.conf.get(BROADCAST_NODE_FRAMES_CONF, "true")
    return str(enabled).lower() != "false"


def _node_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast a node-grain frame into its edge join, or return it
    untouched when :data:`BROADCAST_NODE_FRAMES_CONF` is off."""
    return F.broadcast(df) if _layout_on(df) else df


def _keyed_edges(e: DataFrame, key: str) -> DataFrame:
    """Hash-partition an edge frame by the per-round AGGREGATION key
    before it persists (guide §2.4 "two operations keyed the same way
    can share one exchange", applied to unrolled iteration): broadcast
    hash joins preserve the STREAMED side's partitioning, so once the
    persisted edge frame is hash(key)-partitioned, every round's
    ``join(broadcast(node_frame))`` → ``groupBy(key…)`` chain is
    satisfied by this ONE setup exchange instead of paying a fresh
    shuffle per round. No explicit partition count: AQE sizes the
    exchange from the data, so the layout is scale-adaptive rather
    than pinned to the local core count. An identity when
    :data:`BROADCAST_NODE_FRAMES_CONF` is off: without the broadcast
    the round joins re-shuffle the edges anyway, so the setup
    exchange would buy nothing."""
    return e.repartition(key) if _layout_on(e) else e


def _grid_header(nodes: DataFrame, scale: int, damping_num: int,
                 bound_bits: int) -> DataFrame:
    """1-row header deriving the AUTO-RESCALED rank grid: the largest
    ``_scale_eff = scale >> s`` such that
    ``damping_num · n_nodes · _scale_eff < 2^bound_bits``.

    Total rank mass is non-increasing under the pagerank update
    (``n·base + (num/den)·Σcontrib ≤ n·scale_eff`` by induction), so
    ``Σcontrib ≤ n_nodes · _scale_eff`` at every round and the header
    bound makes ``damping_num · Σcontrib`` exact int64 at ANY node
    count — the importance-resample recipe (textan.py:1249): the shift
    comes from exact integer bit lengths (``length(bin(x))``, identical
    in DuckDB), computed BEFORE any sum, never from the quantity that
    overflows. Below the bound s = 0 and the grid is exactly ``scale``
    (existing results unchanged). A graph so large the grid would
    truncate to zero (bitlen(n) ≥ bitlen(scale) + bitlen(num) −
    bound_bits — ~10^16 nodes at the defaults) raises loudly via
    ``raise_error`` instead of silently ranking everything 0.
    ``bound_bits`` exists so tests can force the rescale on small
    graphs; production uses the int64-safe default."""
    from moisturizer_spark.operators.common import materialize

    hdr = nodes.agg(F.count(F.lit(1)).alias("_n")).select(
        F.greatest(
            F.lit(0),
            (
                F.length(F.bin(F.lit(scale).cast("bigint")))
                + F.length(F.bin(F.col("_n").cast("bigint")))
                + F.length(F.bin(F.lit(damping_num).cast("bigint")))
                - F.lit(bound_bits)
            ).cast("int"),
        ).alias("_s")
    )
    return materialize(
        hdr.select(
            F.expr(
                f"CASE WHEN CAST({scale} AS BIGINT) div "
                "shiftleft(CAST(1 AS BIGINT), _s) < 1 THEN "
                "CAST(raise_error('pagerank_int: node count exhausts the "
                "integer rank grid — raise scale or bound_bits') AS BIGINT) "
                f"ELSE CAST({scale} AS BIGINT) div "
                "shiftleft(CAST(1 AS BIGINT), _s) END"
            ).alias("_scale_eff")
        )
    )


def _pagerank_setup(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    scale: int,
    damping_num: int,
    bound_bits: int,
    assume_distinct: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared preamble: persisted (edge, out-degree) frame, static node
    list, and the 1-row auto-rescale grid header.

    ``assume_distinct=True`` skips the edge dedup — a full shuffle of
    the edge list — when the caller proves its input already simple
    (guide §2.4: a ``distinct`` on already-unique data is a pure
    shuffle tax; the workload's trade edges union two directions of an
    already-distinct pair set). The node-grain degree frame broadcasts
    into the edge join, removing the two exchanges the degree equi-join
    otherwise costs, and the edge frame persists hash-partitioned by
    ``_dst`` (:func:`_keyed_edges`), so every round's contribution
    aggregate — keyed on ``_dst`` — reuses that one setup exchange
    instead of shuffling per round."""
    from moisturizer_spark.operators.common import materialize

    e0 = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    if not assume_distinct:
        e0 = e0.distinct()
    deg = e0.groupBy("_src").agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    )
    e = materialize(_keyed_edges(e0.join(_node_broadcast(deg), "_src"), "_dst"))
    nodes = materialize(deg.select(F.col("_src").alias("_node")))
    hdr = _grid_header(nodes, scale, damping_num, bound_bits)
    return e, nodes, hdr


def _pagerank_step(
    e: DataFrame,
    hdr: DataFrame,
    ranks: DataFrame,
    damping_num: int,
    damping_den: int,
) -> DataFrame:
    """One materialized pagerank round (the lineage-doubling lesson:
    without the per-round boundary the broadcast side AND the
    keep-alive side both re-derive the previous round and the plan
    grows exponentially). The rank frame IS the static node list
    (same keys by induction), so left-joining contributions back
    against it keeps zero-inflow nodes alive AND carries the previous
    rank out as ``_rp`` for free — the convergence diagnostic reads it
    with zero extra joins; :func:`pagerank_int` just drops it."""
    from moisturizer_spark.operators.common import materialize

    r_side = _node_broadcast(ranks.select(F.col("_node").alias("_src"), "_r"))
    contrib = (
        e.join(r_side, "_src")
        .select(
            F.col("_dst").alias("_node"),
            F.expr("_r div _deg").alias("_c"),
        )
        .groupBy("_node")
        .agg(F.sum("_c").alias("_sum"))
    )
    base = (
        f"(CAST({damping_den - damping_num} AS BIGINT) * _scale_eff) "
        f"div CAST({damping_den} AS BIGINT)"
    )
    return materialize(
        ranks.select("_node", F.col("_r").alias("_rp"))
        .join(contrib, "_node", "left")
        .crossJoin(F.broadcast(hdr))
        .select(
            "_node",
            "_rp",
            F.expr(
                f"{base} + (CAST({damping_num} AS BIGINT) * "
                "coalesce(_sum, CAST(0 AS BIGINT))) "
                f"div CAST({damping_den} AS BIGINT)"
            ).cast("bigint").alias("_r"),
        )
    )


def pagerank_int(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    bound_bits: int = 62,
    assume_distinct: bool = False,
) -> DataFrame:
    """ALL-INTEGER PageRank — the det-kmeans determinism recipe applied
    to the iterative-graph family: ranks live on a fixed integer grid
    (``scale`` = initial rank), per-edge contributions are truncating
    integer division ``rank DIV out_degree``, and the update is
    ``r' = base + (num·Σcontrib) DIV den`` with
    ``base = ((den−num)·scale) DIV den`` (the two terms truncate
    SEPARATELY — the oracle and the Python replay mirror exactly this
    form) — every operation
    is exact int64 arithmetic, so the result is independent of
    partitioning, engine, and float-summation order, and an oracle can
    replay each unrolled iteration bit-for-bit (the BPE/FFD pattern).
    The truncation bias per step is < out_degree ulps on a 1e-12 grid —
    far below any ranking-relevant difference.

    ``edges`` must be the DIRECTED edge list the walk follows;
    symmetrize first (union both directions) for an undirected walk —
    which also removes dangling nodes by construction. Nodes appear in
    the output iff they have at least one outgoing edge (dangling
    handling is the caller's modeling decision, stated rather than
    hidden).

    Overflow: ``damping_num·Σcontrib ≤ 85·n_nodes·grid`` must stay
    inside int64, so the grid AUTO-RESCALES — a 1-row header derives
    ``grid = scale >> s`` from exact bit lengths of (scale, n_nodes,
    damping_num) so the product sits under ``2^bound_bits`` at ANY
    node count (see :func:`_grid_header`; the ranking is
    scale-invariant, and rank RESOLUTION degrades gracefully: at 10^9
    nodes the grid is still ~2^25). Below the bound s = 0 and ranks
    sit on exactly ``scale`` — small-graph results are unchanged. The
    oracle mirrors the same bit-length arithmetic.

    Scale plan: the (edge, out-degree) frame is PERSISTED once,
    hash-partitioned on ``_dst`` — every iteration joins it. The
    node-grain rank frame broadcasts into that join, so the big edge
    list never re-shuffles and each round's ``_dst``-keyed contribution
    aggregate reuses the setup exchange (see
    :data:`BROADCAST_NODE_FRAMES_CONF` for the node dimension this
    assumes).

    ``assume_distinct=True``: caller guarantees the (src, dst) rows are
    already duplicate-free, skipping the setup dedup shuffle (identical
    results by construction; guide §2.4)."""
    e, nodes, hdr = _pagerank_setup(
        edges, src_col, dst_col, scale, damping_num, bound_bits,
        assume_distinct=assume_distinct,
    )
    ranks = nodes.crossJoin(F.broadcast(hdr)).select(
        "_node", F.col("_scale_eff").alias("_r")
    )
    for _ in range(iterations):
        ranks = _pagerank_step(e, hdr, ranks, damping_num, damping_den)
    return ranks.select(
        F.col("_node").alias("node"), F.col("_r").alias("rank_scaled")
    )


def pagerank_convergence(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    bound_bits: int = 62,
    assume_distinct: bool = False,
) -> DataFrame:
    """Per-round convergence diagnostic for :func:`pagerank_int` — the
    measurement that turns the fixed iteration count from an article of
    faith into a checked choice (the ``key_skew_report`` /
    ``ivf_drift_report`` move applied to the iterative-graph family):
    for each round, how much did the rank vector MOVE?

    Returns one row per round ``(round, n_moved, moved_l1, max_move)``:
    the count of nodes whose integer rank changed, the L1 distance
    ``Σ|r_i − r_{i-1}|`` between consecutive rank vectors, and the
    largest single-node move — all exact integers on the shared rank
    grid, so the oracle unrolls the identical rounds and diffs them
    bit-for-bit. Interpretation: a healthy damped walk decays
    geometrically (≈ damping factor per round); a final-round
    ``moved_l1`` still near round 1's means ``iterations`` is too low
    for this graph — raise it (or flag the artifact) BEFORE shipping
    ranks downstream.

    Scale: ZERO extra joins — the step already carries the previous
    rank (``_rp``) on the updated frame, so each round's diff is one
    map-combinable 1-row aggregate over the materialized rank frame
    the pagerank rounds compute anyway."""
    e, nodes, hdr = _pagerank_setup(
        edges, src_col, dst_col, scale, damping_num, bound_bits,
        assume_distinct=assume_distinct,
    )
    ranks = nodes.crossJoin(F.broadcast(hdr)).select(
        "_node", F.col("_scale_eff").alias("_r")
    )
    reports = []
    for i in range(1, iterations + 1):
        ranks = _pagerank_step(e, hdr, ranks, damping_num, damping_den)
        diff = F.abs(F.col("_r") - F.col("_rp"))
        reports.append(
            ranks.agg(
                F.coalesce(
                    F.sum(F.when(diff > 0, F.lit(1)).otherwise(F.lit(0))),
                    F.lit(0),
                ).cast("bigint").alias("n_moved"),
                F.coalesce(F.sum(diff), F.lit(0)).cast("bigint")
                .alias("moved_l1"),
                F.coalesce(F.max(diff), F.lit(0)).cast("bigint")
                .alias("max_move"),
            )
            .select(
                F.lit(i).cast("int").alias("round"),
                "n_moved", "moved_l1", "max_move",
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Exact triangle enumeration over an undirected graph — the motif
    primitive behind clustering coefficients, cohesion scoring, and
    community quality. Input edges may carry either direction and
    duplicates; self-loops drop. Returns one row per triangle as
    ``(node_a, node_b, node_c)`` with ``node_a < node_b < node_c`` —
    a set, so the result is engine- and partitioning-independent and
    an oracle enumerates it with plain id-ordered joins.

    Scale: enumeration uses DEGREE ORIENTATION (Suri & Vassilvitskii
    2011, "Counting triangles and the curse of the last reducer"):
    each undirected edge orients from its (degree, id)-smaller to its
    (degree, id)-larger endpoint, making the graph a DAG whose
    max out-degree is O(sqrt(m)) — so the wedge join's fan-out is
    bounded at Σ outdeg² ≤ m·sqrt(2m) instead of the Σ deg² blow-up a
    skewed hub would cause under naive id-ordering. Each triangle
    x≺y≺z appears exactly once as the path x→y→z closed by x→z; the
    output re-canonicalizes to id order, so the orientation is purely
    a physical strategy. The oriented edge list persists once and
    feeds all three join legs; joins are equi-key (never a nested
    loop). The node-grain degree frame broadcasts into the orientation
    join (:func:`_node_broadcast`)."""
    from moisturizer_spark.operators.common import materialize

    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    # assume_distinct: caller proves the input is already canonical
    # (src < dst) and duplicate-free — the dedup is then a pure
    # shuffle tax (guide §2.4); results identical by construction
    und = edges.select(a.alias("_a"), b.alias("_b")).filter(
        F.col("_a") != F.col("_b")
    )
    if not assume_distinct:
        und = und.distinct()
    und = materialize(und)
    deg = (
        und.select(F.col("_a").alias("_n"))
        .unionAll(und.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_d"))
    )
    deg = _node_broadcast(deg)
    e = und.join(
        deg.select(F.col("_n").alias("_a"), F.col("_d").alias("_da")), "_a"
    ).join(
        deg.select(F.col("_n").alias("_b"), F.col("_d").alias("_db")), "_b"
    )
    lo_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))
    )
    oriented = materialize(
        e.select(
            F.when(lo_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
            F.when(lo_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
        )
    )
    e1 = oriented.select(
        F.col("_u").alias("_x"), F.col("_v").alias("_y")
    )
    e2 = oriented.select(
        F.col("_u").alias("_y"), F.col("_v").alias("_z")
    )
    e3 = oriented.select(
        F.col("_u").alias("_x"), F.col("_v").alias("_z")
    )
    tri = e1.join(e2, "_y").join(e3, ["_x", "_z"])
    arr = F.array_sort(F.array("_x", "_y", "_z"))
    return tri.select(
        arr[0].alias("node_a"), arr[1].alias("node_b"), arr[2].alias("node_c")
    )


def lpa_communities(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (Raghavan et al.
    2007) — community detection as bounded unrolled iteration, the
    pagerank/BFS discipline applied to the clustering family. Every
    node starts labeled with its own id; each round it adopts the most
    frequent label among its NEIGHBORS (self-vote excluded), breaking
    count ties by the SMALLEST label — a total order, so the result is
    partitioning- and engine-independent and an oracle replays each
    round as a CTE with ``ROW_NUMBER() OVER (ORDER BY count DESC,
    label)``. Classic sync-LPA label oscillation is possible on
    bipartite-ish structure — ``iterations`` is a hard bound by design
    (the BFS argument: unbounded convergence is a driver loop), and
    the returned labels are exactly the round-``iterations`` state.

    Input edges are symmetrized and de-duplicated here; isolated nodes
    (no edges) don't appear. Returns ``(node, community)``.

    Scale: the symmetrized edge list persists once, hash-partitioned
    on ``_dst`` (:func:`_keyed_edges`); each round is one equi-join
    (the broadcast node-grain labels onto edge sources) + two
    aggregations keyed on the destination node — the (node, label)
    count and the per-node argmax — which both run exchange-free on
    the setup partitioning. The per-round argmax uses
    ``min(struct(-count, label))`` so no second shuffle for a window.
    Each round's labels materialize — the pagerank lineage-doubling
    lesson. ``assume_distinct=True``: caller proves the input canonical
    (src < dst, no duplicates), so the symmetrized union is already
    simple and the setup dedup shuffle is skipped (guide §2.4)."""
    e, labels = _lpa_setup(edges, src_col, dst_col, assume_distinct)
    for _ in range(iterations):
        labels = _lpa_step(e, labels)
    return labels.select(
        F.col("_node").alias("node"), F.col("_lab").alias("community")
    )


def _lpa_setup(
    edges: DataFrame, src_col: str, dst_col: str,
    assume_distinct: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared preamble: persisted symmetrized simple edge list + the
    self-labeled initial node frame. ``assume_distinct``: the input is
    canonical (src < dst, duplicate-free), so the symmetrized union
    cannot contain duplicates or self-loops and the dedup shuffle is
    skipped (guide §2.4) — results identical by construction. The list
    persists hash-partitioned on ``_dst`` (:func:`_keyed_edges`) so
    each round's two ``_dst``-keyed aggregations ride that one
    exchange; the initial label frame derives from ``_dst`` — the same
    node set as ``_src``, the list being symmetric — so its distinct
    is exchange-free too."""
    from moisturizer_spark.operators.common import materialize

    sym = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).unionAll(
        edges.select(
            F.col(dst_col).alias("_src"), F.col(src_col).alias("_dst")
        )
    )
    # partition FIRST: hash(_dst) satisfies the dedup's clustering
    # requirement ({_dst} ⊆ {_src,_dst}), so the non-assume path still
    # pays exactly one exchange, on the reusable key
    sym = _keyed_edges(sym.filter(F.col("_src") != F.col("_dst")), "_dst")
    if not assume_distinct:
        sym = sym.distinct()
    e = materialize(sym)
    labels = materialize(
        e.select(F.col("_dst").alias("_node"))
        .distinct()
        .withColumn("_lab", F.col("_node"))
    )
    return e, labels


def _lpa_step(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One materialized synchronous LPA round: neighbor-label count +
    per-node argmax via ``min(struct(-count, label))`` (no second
    shuffle for a window; materialized per the lineage lesson).

    A ``carry_prev`` variant — joining the node's previous label onto
    the round's output inside this materialization, the
    :func:`_pagerank_step` ``_rp`` shape, so the convergence
    diagnostic's flip count becomes a plain aggregate — was built and
    MEASURED in round 11 wave 3 and rejected: the in-step join
    serializes ahead of the round boundary and adds jobs (interleaved
    A/B on the copresence chain: median 8.1 → 11.1 s, jobs 31 → 34).
    Unlike pagerank, LPA's update needs no join back against the
    previous frame (every node has ≥1 neighbor on the symmetrized
    list), so the carried column is pure added weight per round."""
    from moisturizer_spark.operators.common import materialize

    l_side = _node_broadcast(
        labels.select(F.col("_node").alias("_src"), F.col("_lab"))
    )
    cnt = (
        e.join(l_side, "_src")
        .groupBy("_dst", "_lab")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    return materialize(
        cnt.groupBy("_dst")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_c")).alias("_negc"),
                    F.col("_lab").alias("_l"),
                )
            ).alias("_m")
        )
        .select(
            F.col("_dst").alias("_node"), F.col("_m._l").alias("_lab")
        )
    )


def lpa_convergence(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Per-round convergence diagnostic for :func:`lpa_communities` —
    label-flip counts, the measurement that makes the fixed iteration
    bound a checked choice (the :func:`pagerank_convergence` companion
    for the clustering family).

    Returns one row per round ``(round, flips, n_nodes)``: how many
    nodes changed label this round, over how many labeled nodes —
    exact integers, so the oracle unrolls the identical rounds and
    compares them bit-for-bit. Interpretation: healthy community
    structure collapses flips toward 0 within a few rounds; a
    final-round flip count stuck near ``n_nodes`` is the classic
    sync-LPA oscillation signature (bipartite-ish structure) — the
    round-``iterations`` labels are then an arbitrary phase of a
    2-cycle and should not ship.

    Scale: one extra node-grain equi-join + 1-row aggregate per round
    on top of the LPA rounds themselves (a fold-into-the-step variant
    was measured and rejected — see :func:`_lpa_step`)."""
    e, labels = _lpa_setup(edges, src_col, dst_col, assume_distinct)
    reports = []
    for i in range(1, iterations + 1):
        nxt = _lpa_step(e, labels)
        flipped = F.when(
            F.col("_lab") != F.col("_labp"), F.lit(1)
        ).otherwise(F.lit(0))
        prev = _node_broadcast(labels.withColumnRenamed("_lab", "_labp"))
        reports.append(
            nxt.join(prev, "_node")
            .agg(
                F.coalesce(F.sum(flipped), F.lit(0)).cast("bigint")
                .alias("flips"),
                F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            )
            .select(F.lit(i).cast("int").alias("round"), "flips", "n_nodes")
        )
        labels = nxt
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_hops: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """K-hop breadth-first reach: for every node reachable from the
    seed set within ``max_hops`` directed edges, the MINIMUM hop count
    (seeds are level 0). The frontier-expansion loop unrolls into the
    plan (bounded, explicit — the pagerank/BPE iteration pattern), and
    every step is a join + min-aggregate over integer levels, so the
    result is exact, engine-independent, and oracle-replayable as a
    CTE chain.

    Scale: the edge list persists once; each hop joins the CURRENT
    frontier (not the full visited set) against it and anti-minimizes
    into the visited frame — per-hop cost tracks frontier size, the
    textbook distributed BFS shape. Levels are a node-grain frame.
    ``max_hops`` is a hard bound by design: unbounded BFS on a 100 TB
    graph is a driver-convergence loop; pipelines want "within k hops"
    anyway (fraud rings, supply reach, contamination spread).

    The frontier and visited frames are NODE-grain (bounded by the
    reachable node set) and broadcast into the expand join and the
    anti-join, so the persisted edge list never re-shuffles; it
    persists hash-partitioned on ``_dst`` so each hop's frontier dedup
    — keyed on the reached node — reuses that one setup exchange
    (:func:`_keyed_edges`)."""
    from moisturizer_spark.operators.common import materialize

    # partition first: hash(_dst) satisfies the dedup's clustering
    # requirement, so the non-assume path still pays one exchange
    e = _keyed_edges(
        edges.select(F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")),
        "_dst",
    )
    if not assume_distinct:
        # assume_distinct: caller proves the edge rows duplicate-free —
        # the dedup is then a pure shuffle tax (guide §2.4)
        e = e.distinct()
    e = materialize(e)
    visited = materialize(
        seeds.select(F.col(seed_col).alias("_node"))
        .distinct()
        .withColumn("_level", F.lit(0))
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        f_side = _node_broadcast(
            frontier.withColumnRenamed("_node", "_src").select("_src")
        )
        v_side = _node_broadcast(visited.select("_node"))
        nxt = (
            e.join(f_side, "_src")
            .select(F.col("_dst").alias("_node"))
            .distinct()
            .join(v_side, "_node", "left_anti")
            .withColumn("_level", F.lit(hop))
        )
        frontier = materialize(nxt)
        visited = materialize(visited.unionByName(frontier))
    return visited.select(
        F.col("_node").alias("node"), F.col("_level").alias("hops")
    )


def hits_bipartite(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 2,
    assume_distinct: bool = False,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    list, in the all-integer discipline of :func:`pagerank_int` — the
    mutual-reinforcement ranking PageRank cannot express (a hub is good
    because it points at good authorities, and vice versa; on the
    customer→supplier trade graph: breadth-weighted buyers vs
    demand-weighted suppliers). Classic HITS L2-normalizes each round —
    a float op; instead the UNNORMALIZED power iteration runs a FIXED
    number of rounds on exact DECIMAL(38,0) sums (rankings are
    normalization-invariant), so the result is partitioning- and
    engine-exact and an oracle unrolls it as CTE chains.

    One round = ``a ← Σ_in h`` then ``h ← Σ_out a``; hubs start at 1.
    Growth bounds the round count instead of a convergence loop (the
    BFS argument): scores grow like ``(d_src·d_dst)^rounds`` — at the
    default 2 rounds, exact below ~10^9 nodes of degree ~10^4
    (max ≈ 10^26 ≪ 10^38); raise ``rounds`` only with the headroom
    arithmetic redone. Returns ``(node, role, score)`` with role
    'hub' (source side) / 'authority' (destination side), scores as
    DECIMAL(38,0).

    Scale: each half-round is one equi-join of the persisted edge list
    against a node-grain score frame plus one map-combinable sum; score
    frames materialize per half-round (the pagerank lineage lesson).
    The node-grain hub/authority frames broadcast into those joins so
    the edge list never re-shuffles mid-round, and the edge list
    persists hash-partitioned on ``_d`` (:func:`_keyed_edges`) so the
    authority half-round's sum also rides the setup exchange (the hub
    half aggregates on ``_s`` and still shuffles once — keying for
    both sides would need a second persisted copy of the edges)."""
    from moisturizer_spark.operators.common import materialize

    if rounds < 1:
        raise ValueError(
            f"rounds must be >= 1 (got {rounds}): zero rounds would leave "
            "the authority side undefined"
        )
    d38 = "decimal(38,0)"
    # partition first: hash(_d) satisfies the dedup's clustering
    # requirement, so the non-assume path still pays one exchange
    e = _keyed_edges(
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")),
        "_d",
    )
    if not assume_distinct:
        # assume_distinct: caller proves the edge rows duplicate-free —
        # the dedup is then a pure shuffle tax (guide §2.4)
        e = e.distinct()
    e = materialize(e)
    h = materialize(
        e.select("_s").distinct().withColumn("_h", F.lit(1).cast(d38))
    )
    a = None
    for _ in range(rounds):
        a = materialize(
            e.join(_node_broadcast(h), "_s")
            .groupBy("_d")
            .agg(F.sum("_h").cast(d38).alias("_a"))
        )
        h = materialize(
            e.join(_node_broadcast(a), "_d")
            .groupBy("_s")
            .agg(F.sum("_a").cast(d38).alias("_h"))
        )
    hubs = h.select(
        F.col("_s").alias("node"),
        F.lit("hub").alias("role"),
        F.col("_h").alias("score"),
    )
    auths = a.select(
        F.col("_d").alias("node"),
        F.lit("authority").alias("role"),
        F.col("_a").alias("score"),
    )
    return hubs.unionByName(auths)


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_center_degree: int = 64,
    assume_distinct: bool = False,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph: for every
    NON-adjacent pair (u, v) with at least one common neighbor, the
    score ``Σ_{w ∈ N(u)∩N(v)} 1/log2(deg(w))`` — common neighbors
    weighted by how selective they are (a mutual contact with 3 edges
    says far more than one with 3 million). The classic
    missing-edge/recommendation primitive that completes the graph
    family's prediction leg (PageRank ranks nodes, LPA groups them,
    triangles score cohesion; this scores ABSENT edges).

    Determinism: each center's weight is ``round(10⁶/log2(d))`` —
    one double division of exact integers, half-away to integer micro
    (both engines see identical IEEE inputs) — and pair scores are
    exact BIGINT sums of those micros; a common neighbor has d ≥ 2 by
    construction, so log2(d) ≥ 1 and every weight is ≤ 10⁶, bounding
    a pair's score at 10⁶·|common| — int64-safe at any graph size.

    Scale: wedge enumeration through a center w fans out as deg(w)² —
    the basket_pairs hot-cell problem in graph clothing — so centers
    above ``max_center_degree`` are EXCLUDED, a stated modeling bound
    the oracle replays: the skipped super-hubs are precisely the
    lowest-weight evidence (1/log2 d vanishes as d grows), so the cap
    removes the quadratic blow-up where the signal is weakest. The
    adjacency frame persists once and feeds both wedge legs; known
    edges drop via one anti-join on the canonical pair key.

    Returns ``(id_a, id_b, n_common, aa_micro)`` with id_a < id_b.
    """
    from moisturizer_spark.operators.common import materialize

    a, b = F.col(src_col), F.col(dst_col)
    und = edges.select(
        F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    if not assume_distinct:
        # assume_distinct: caller proves the input canonical (src < dst,
        # duplicate-free) — the dedup is a pure shuffle tax (guide §2.4)
        und = und.distinct()
    und = materialize(und)
    adj = materialize(
        und.select(F.col("_a").alias("_w"), F.col("_b").alias("_n")).unionAll(
            und.select(F.col("_b").alias("_w"), F.col("_a").alias("_n"))
        )
    )
    centers = (
        adj.groupBy("_w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_d"))
        .filter(
            (F.col("_d") >= 2) & (F.col("_d") <= F.lit(max_center_degree))
        )
        .select(
            "_w",
            F.expr(
                "CAST(ROUND(1e6 / log2(CAST(_d AS DOUBLE))) AS BIGINT)"
            ).alias("_wt"),
        )
    )
    wa = adj.join(centers, "_w")
    wedges = wa.select("_w", F.col("_n").alias("id_a"), "_wt").join(
        wa.select("_w", F.col("_n").alias("id_b")), "_w"
    ).filter(F.col("id_a") < F.col("id_b"))
    pairs = wedges.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("_wt").cast("bigint").alias("aa_micro"),
    )
    return pairs.join(
        und.select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b")),
        ["id_a", "id_b"],
        "left_anti",
    )


def shortest_paths_bounded(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    rounds: int = 3,
    assume_nonneg_weights: bool = False,
) -> DataFrame:
    """Bounded-hop WEIGHTED shortest paths (min-plus Bellman–Ford,
    ``rounds`` relaxations unrolled into the plan): the weighted
    companion of :func:`bfs_levels` — distance = minimum edge-weight
    sum over any path of ≤ ``rounds`` hops from the source set.
    Weights must be non-negative BIGINTs (the suite's integer-grid
    rule), so every distance is an exact integer min — partitioning
    and engine cannot move it, and an oracle unrolls the identical
    rounds as min-plus CTEs. Non-negativity is VALIDATED (one cheap
    min() agg over the already-materialized edge frame): a negative
    weight silently yields wrong bounded-hop minima — valid bigint
    sums, so no ANSI error would ever fire (ADVICE r08).
    ``assume_nonneg_weights=True``: the caller PROVES the weight
    column non-negative by construction (e.g. an integer division of
    positive counts), so the eager validation job — a blocking driver
    action before any round can schedule — is skipped, exactly the
    ``assume_distinct`` contract shape (guide §2.4; results identical
    by construction, the guard is pure latency for provable inputs).

    DIRECTED-edge contract: each edge row relaxes ``src → dst`` only.
    A caller holding an undirected edge list must symmetrize before
    calling (union the swapped projection), exactly like
    :func:`bfs_levels`' callers — otherwise distances are one-way.

    The distance frame is SPARSE: only nodes already reached carry a
    row, so round r's relax join is frontier-sized, never graph-sized
    — the iteration-bounded argument of the BFS/pagerank family, with
    the same per-round ``localCheckpoint`` lineage cut. A node's final
    row is the min over its relaxed candidates; unreached nodes are
    simply absent (the caller decides whether absence means ∞).

    Overflow: a path distance is ≤ rounds·max(w) — with micro-grid
    weights (≤10⁶) and any sane round count this sits far inside
    int64; ANSI mode raises loudly rather than wraps if a caller
    passes pathological weights.

    Layout: the node-grain distance frame broadcasts into the relax
    join, and the edge frame persists hash-partitioned on ``_d``
    (:func:`_keyed_edges`). The relax join preserves that
    partitioning, so the per-round min's big input — the relax rows,
    the side that scales with edges touched this round — arrives
    already clustered on the reached node (``_n`` = ``_d``) and only
    the sparse dist frame's rows land off-key in the union's exchange
    (guide §2.4). (A full-outer ``least``-merge replacing the
    union+groupBy entirely was also built and MEASURED in round 11
    wave 3 and rejected: +2 jobs per run, no gain over the union's
    map-side partial aggregation — interleaved A/B medians 6.0 vs 6.1 s
    on the behavioral-distance chain.)

    Returns ``(node_col, dist)``.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1 (got {rounds})")
    from moisturizer_spark.operators.common import materialize

    e = materialize(_keyed_edges(
        edges.select(
            F.col(src_col).alias("_s"),
            F.col(dst_col).alias("_d"),
            F.col(weight_col).cast("bigint").alias("_w"),
        ),
        "_d",
    ))
    if not assume_nonneg_weights:
        # scale-guard allowlist: 1-row scalar over the persisted edge
        # frame
        wmin = e.agg(F.min("_w").alias("m")).first()["m"]
        if wmin is not None and wmin < 0:
            raise ValueError(
                f"shortest_paths_bounded requires non-negative weights "
                f"(min {weight_col} = {wmin}): negative weights make the "
                "bounded-hop min-plus result silently wrong, not an error"
            )
    dist = materialize(
        sources.select(F.col(node_col).alias("_n")).distinct().select(
            "_n", F.lit(0).cast("bigint").alias("_dist")
        )
    )
    for _ in range(rounds):
        d_side = _node_broadcast(dist)
        relax = d_side.join(e, d_side["_n"] == e["_s"]).select(
            F.col("_d").alias("_n"),
            (F.col("_dist") + F.col("_w")).alias("_dist"),
        )
        dist = materialize(
            dist.unionByName(relax)
            .groupBy("_n")
            .agg(F.min("_dist").alias("_dist"))
        )
    return dist.select(F.col("_n").alias(node_col), F.col("_dist").alias("dist"))


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """Bounded-round k-CORE peeling — the degeneracy member of the
    graph family (Seidman 1983; the standard spam/periphery filter
    before community or centrality work): iteratively remove every
    node of degree < ``k``, ``rounds`` times, with the iteration
    UNROLLED into the plan like pagerank/LPA (no driver loop over
    data; one degree aggregation + two semi-joins per round, each
    round's edge frame materialized so round ``r`` never re-derives
    rounds ``1..r-1``).

    Returns the surviving ``(node, degree)`` — degree measured in the
    FINAL surviving subgraph. A fixed round budget is a stated bound,
    exactly like the BFS/pagerank family: peeling converges when no
    node drops below ``k``; if the budget was too small, surviving
    degrees < ``k`` remain and :func:`k_core_convergence`'s last round
    shows removals still happening (the planted slow-peel test pins
    this diagnostic catching an insufficient budget).

    Edges are treated as UNDIRECTED: canonicalized (least, greatest),
    deduplicated, self-loops dropped — so callers may pass either
    orientation. Exact integer degrees; engine- and partitioning-
    independent.

    Lineage: each round's edge frame takes a LAZY ``localCheckpoint``
    — the same plan-depth bound as an eager one, but block
    materialization defers to the final action, so the peel rounds
    schedule as one pipelined job cascade instead of ``rounds``+1
    serial driver-blocking jobs (VERDICT r10 #3 — the eager chain made
    each round a synchronous barrier). An eager variant measured no
    faster (interleaved A/B on ``user_copresence_kcore``, sf0.1, 4
    cores: medians 2.60 s eager vs 2.60 s lazy, within the spread), so
    only the lazy path exists. The node-grain survivor set
    broadcasts into both semi-joins, so the edge frame is never
    shuffled inside a round, only the degree count is."""
    if k < 1 or rounds < 1:
        raise ValueError(f"k and rounds must be >= 1 (got k={k}, rounds={rounds})")

    a, b = F.col(src_col), F.col(dst_col)
    # Per-round localCheckpoint, NOT materialize(): each round
    # references the previous edge frame ~4x (two adjacency legs + two
    # semi-join probes), so an un-truncated plan grows 4^rounds and the
    # ANALYZER itself OOMs by round 8 (observed: Java heap exhaustion in
    # the randomized-replay test). localCheckpoint replaces the round's
    # lineage with its stored blocks — plan depth stays O(1) per round,
    # the pagerank-family "per-round lineage cut" applied where the
    # reference multiplier is highest.
    e = edges.select(
        F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
    ).filter(F.col("_a") != F.col("_b"))
    if not assume_distinct:
        # assume_distinct: caller proves the input canonical (src < dst,
        # duplicate-free) — the dedup is a pure shuffle tax (guide §2.4)
        e = e.distinct()
    e = e.localCheckpoint(eager=False)
    for _ in range(rounds):
        adj = e.select(F.col("_a").alias("_n")).unionAll(
            e.select(F.col("_b").alias("_n"))
        )
        alive = (
            adj.groupBy("_n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_d"))
            .filter(F.col("_d") >= k)
            .select("_n")
        )
        e = (
            e.join(_node_broadcast(alive.withColumnRenamed("_n", "_a")),
                   "_a", "left_semi")
            .join(_node_broadcast(alive.withColumnRenamed("_n", "_b")),
                  "_b", "left_semi")
            .localCheckpoint(eager=False)
        )
    adj = e.select(F.col("_a").alias("node")).unionAll(
        e.select(F.col("_b").alias("node"))
    )
    return adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


def k_core_convergence(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-round peeling diagnostics for :func:`k_core` — the
    convergence-report companion (pagerank_convergence's role):
    ``(round, n_alive, n_removed)`` where ``n_alive`` counts nodes with
    degree ≥ k entering the next round and ``n_removed`` the nodes
    peeled this round. ``n_removed = 0`` in the last row certifies the
    round budget sufficed; a positive value is the loud under-budget
    signal."""
    if k < 1 or rounds < 1:
        raise ValueError(f"k and rounds must be >= 1 (got k={k}, rounds={rounds})")
    a, b = F.col(src_col), F.col(dst_col)
    # same per-round localCheckpoint lineage cut as k_core (4x reference
    # multiplier per round — see the comment there)
    e = (
        edges.select(F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint()
    )
    spark = edges.sparkSession
    rows = []
    prev_nodes = None
    for r in range(1, rounds + 1):
        adj = e.select(F.col("_a").alias("_n")).unionAll(
            e.select(F.col("_b").alias("_n"))
        )
        degs = adj.groupBy("_n").agg(
            F.count(F.lit(1)).cast("bigint").alias("_d")
        ).localCheckpoint()
        n_total = degs.count()  # node-set cardinality: bounded aggregate
        alive = degs.filter(F.col("_d") >= k).select("_n")
        n_alive = alive.count()
        if prev_nodes is None:
            prev_nodes = n_total
        rows.append((r, n_alive, prev_nodes - n_alive))
        prev_nodes = n_alive
        e = (
            e.join(alive.withColumnRenamed("_n", "_a"), "_a", "left_semi")
            .join(alive.withColumnRenamed("_n", "_b"), "_b", "left_semi")
            .localCheckpoint()
        )
    return spark.createDataFrame(
        rows, "round int, n_alive bigint, n_removed bigint"
    )

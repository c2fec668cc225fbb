"""Connected components over an edge DataFrame — the clustering step a
dedup pipeline needs after candidate-pair generation (SURVEY.md §2K-K2:
MinHash/LSH emits PAIRS; grouping pairs into duplicate CLUSTERS and
electing a canonical representative is a connected-components problem).

Algorithm: iterative minimum-label propagation.  Every node starts as its
own component (its own id); each round, every node adopts the smallest
component id among itself and its neighbors; converged when no label
changes.  Rounds = graph diameter (≤ log n with the star-contraction
variants; plain propagation is kept here for semantic transparency — the
driver loop is ~5 iterations on real dedup graphs, which are
near-cliques).

Scale notes:
* each round is one shuffle keyed on node id — the frontier DataFrame
  stays |V| rows regardless of |E| because labels are min-aggregated
  before the join;
* ``localCheckpoint`` truncates the lineage every round — without it the
  plan doubles per iteration and the job dies of planning time long
  before it dies of data;
* convergence is detected with a count of changed labels (one cheap
  action per round) — no driver-side collection of the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from historic_score_etl_pipeline_spark.operators import pins
from historic_score_etl_pipeline_spark.operators.pins import pin


def co_order_edges(lineitem: DataFrame) -> DataFrame:
    """The co-order part graph: one distinct undirected edge ``(u, v)``,
    ``u < v``, per two parts appearing in the same order — an equi
    self-join on ``l_orderkey``.  Pass a pre-filtered ``lineitem`` (e.g.
    ``l_partkey < N``) for a bounded subgraph."""
    li = lineitem.select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    driver_max_edges: int = 1 << 20,
) -> DataFrame:
    """Return (node, component) where component = min node id reachable.

    ``edges`` is undirected input (each pair listed once is enough; both
    directions are derived internally).  Node ids must be orderable
    (the min id in each component becomes its canonical label).

    Hybrid execution, same contract as a broadcast-join threshold: once
    the deduplicated edge list is materialized and counted, a graph with
    ≤ ``driver_max_edges`` edges (default 2²⁰ ≈ 16 MB of id pairs) is
    solved EXACTLY with driver-side union-find — dedup edge lists are
    usually ≪ the corpus that produced them, and one in-memory pass
    beats 2·diameter distributed rounds each costing a fixed
    planning/scheduling latency.  Larger graphs run distributed
    min-label propagation, one shuffle per round.  Both paths are
    equivalence-tested (tests/test_graph_scd2_compaction.py).
    """
    # Symmetrize once; self-loops drop out naturally (they never lower a label).
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = fwd.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    # Pin the edge list: every iteration joins against `sym`, and without
    # this the WHOLE upstream lineage (e.g. MinHash → LSH banding →
    # Jaccard verify in the dedup pipeline) re-executes once per round
    # per action.  localCheckpoint materializes it once and truncates the
    # lineage — the single biggest win in the iterative loop.
    # LAZY (r11): the count below is the materializing action — an eager
    # checkpoint ran the symmetrize DAG as its own extra job first.
    # (pin = localCheckpoint + release registration, operators/pins.py —
    # fault-tolerance tradeoff and the reliable-checkpoint escape hatch
    # are documented there.)
    sym = pin(sym)
    n_edges = sym.count()

    if n_edges <= driver_max_edges:
        out = _driver_union_find(sym)
        # sym was fully consumed by the collect; its blocks are dead.
        pins.unpin(sym)
        return out

    # Right-size the loop: the frontier is |V| rows and the edge list |E|
    # rows — often orders of magnitude smaller than the corpus that
    # produced them (LSH candidates ≪ docs).  Iterating over the
    # corpus-sized partition count would pay ~parallelism empty-task
    # launches per round; coalesce (narrow, no shuffle — the data is
    # already checkpointed) to ~1M edges per partition, floor 1.  At real
    # scale (billions of edges) this keeps full parallelism.
    sym_cp = sym  # the pinned DF itself (coalesce below derives from it)
    target = max(1, min(sym.rdd.getNumPartitions(), -(-n_edges // 1_000_000)))
    if target < sym.rdd.getNumPartitions():
        sym = sym.coalesce(target)

    labels = pin(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node")),
        eager=True,
    )
    prev_cp = labels  # the checkpointed DF behind the current labels

    for _ in range(max_iterations):
        # Each node's candidate label: min over neighbors' current labels.
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                (F.col("nbr_comp") < F.col("comp")).alias("changed"),
            )
        )
        # LAZY checkpoint: the convergence count below is the action
        # that materializes it, so each round runs ONE job (an eager
        # checkpoint would run the round's DAG once to persist and the
        # count would be a second job — 2× the per-round fixed cost)
        updated = pin(updated)
        n_changed = updated.where(F.col("changed")).count()
        # Round k's count materialized `updated`; round k-1's label blocks
        # are now superseded and provably dead: release them NOW instead
        # of leaving O(rounds·|V|) pinned blocks to GC (ADVICE r11 #1).
        # The final round's pin is never released here — it backs the
        # returned, already-materialized result.
        pins.unpin(prev_cp)
        prev_cp = updated
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    # the edge pin is dead once the loop exits (every consumer was a
    # per-round join that has materialized into `labels`)
    pins.unpin(sym_cp)
    return labels


def _driver_union_find(sym: DataFrame) -> DataFrame:
    """Exact union-find over a driver-small symmetrized edge list.

    Path-halving + union-by-attachment-to-min: after the single pass,
    every node's root is relabeled to the minimum node id of its
    component — identical semantics to the distributed min-label
    fixpoint.  Input must already be materialized (checkpointed) and
    counted ≤ the caller's threshold; only (a, b) id pairs ride the
    collect, never payloads.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = sym.select("a", "b").collect()
    for r in rows:
        a, b = r["a"], r["b"]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller → the min id is
            # always a root, so the final relabel is a single find()
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = [(n, find(n)) for n in parent]

    spark = sym.sparkSession
    node_type = sym.schema["a"].dataType
    schema = StructType(
        [StructField("node", node_type), StructField("comp", node_type)]
    )
    return spark.createDataFrame(labels, schema)


def triangle_count(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Distributed triangle counting: DEGREE-ORDERED orientation + the
    EDGE-ITERATOR formulation — orient every undirected edge from the
    endpoint of lower (degree, id) to the higher, build each node's
    sorted out-neighbor array once, and count per oriented edge (x, y)
    the intersection |N⁺(x) ∩ N⁺(y)|.  Each triangle is counted EXACTLY
    once (on its lowest-rank edge), and orientation bounds every
    out-degree by the node's higher-rank-neighbor count — the classic
    O(m^1.5) total work on power-law graphs.

    Input: an edge DataFrame (any direction, duplicates and self-loops
    tolerated — normalized away first).  Output: one row
    ``(n_nodes, n_edges, n_triangles)``.

    Scale shape — why edge-iterator over the wedge-join formulation
    (which this replaced in round 5): the wedge join MATERIALIZES the
    Σ outdeg² fan-out (~40× the edge list on the co-order graph) and
    must either broadcast the edge list to close wedges (driver-memory
    cap) or re-shuffle the whole fan-out (the cost that made the old
    fallback 79 s on the 10× replica).  Here the heavy intermediate
    never exists: one m-row aggregate builds the adjacency arrays, two
    m-row equi-joins attach them to each edge, and the intersection
    runs JVM-side per row.  Measured: 7.5 s → 3.0 s at sf0.1,
    79.5 s → 28.3 s at the 10× replica (exponent ~0.97 — linear).
    Per-row memory is bounded by the two out-neighbor arrays, i.e.
    O(√m) longs by orientation; the explicit repartition pins the
    array-carrying joins at full parallelism so per-task buffers stay
    small (AQE would coalesce them from their m-row INPUT size).
    """
    e = pin(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # The normalized edge list feeds FOUR consumers (degree table,
        # orientation, edge count, node count); without pinning, the
        # upstream edge construction (for the co-order graph: a
        # lineitem⋈lineitem self-join + distinct) re-executes for each.
        # pin (= localCheckpoint + release registration, operators/
        # pins.py) materializes the O(m) rows once — the same edge-list
        # caching every iterative graph system does.
        # LAZY: the m = e.count() below is the materializing action, so
        # merely CONSTRUCTING this DataFrame (e.g. a schema scan) runs
        # no job beyond that one count.
    )
    # Pinned (lazy): deg feeds BOTH broadcast sides of the orientation
    # join plus the n_nodes scalar — unpinned it executed 3×, each a
    # 2·m-row union+aggregate over the edge list (r11 A/B).
    deg = pin(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # deg is |V| rows (node, count) — a dim table next to the O(m) edge
    # list: broadcast both degree joins so e never shuffles for them.
    with_deg = (
        e.join(F.broadcast(deg.withColumnRenamed("node", "u")), "u")
        .withColumnRenamed("deg", "du")
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
            ),
            "v",
        )
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # Two consumers (adjacency build + the per-edge probe) — pin the
    # O(m) oriented rows so the degree join runs once, not twice.
    oriented = pin(
        with_deg.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("y"),
        )
        # LAZY: materializes at the first downstream action and is then
        # reused by both consumers — construction stays job-free.
    )
    # sorted out-neighbor array per node: |V⁺| rows, array length = the
    # node's out-degree — bounded O(√m) by the orientation.  Pinned
    # (lazy checkpoint): BOTH probe joins consume it — unpinned, the
    # collect_list aggregate and its exchange executed twice (r11 plan
    # audit: two ObjectHashAggregate subtrees, operators 18-20/29-31).
    adj = pin(
        oriented.groupBy("x").agg(
            F.array_sort(F.collect_list("y")).alias("nbrs")
        )
    )
    # attach both endpoints' arrays to each oriented edge with SHUFFLED
    # HASH joins (guide §3.1), build side = the |V⁺|-row adjacency: the
    # array-carrying edge stream is PROBED, never sorted and never
    # buffered (r10's explicit repartition+sort-merge shape paid two
    # sorts of the m-row array stream; measured r11 at sf0.1: probe
    # 2.7-3.7 s SMJ → 1.5-1.8 s SHJ).  Per-partition build memory is
    # adj/nparts rows of O(√m) longs — the same bound the old
    # repartition targeted, now enforced by the join's own partitioning.
    # Skew note (ADVICE r11 #2): a forced SHUFFLE_HASH build side cannot
    # spill — a pathologically hot adjacency partition could OOM where
    # sort-merge would have spilled.  The build side here is |V⁺| rows of
    # O(√m) arrays hash-partitioned on x, so a single key cannot
    # concentrate a partition; AQE's skew-join split stays available for
    # the probe side.
    ex = oriented.join(adj.hint("shuffle_hash"), "x").select(
        "x", "y", F.col("nbrs").alias("nx")
    )
    exy = ex.join(
        adj.select(F.col("x").alias("y"), F.col("nbrs").alias("ny")).hint(
            "shuffle_hash"
        ),
        "y",
    )
    n_tri = (
        exy.select(F.size(F.array_intersect("nx", "ny")).alias("t"))
        .agg(F.coalesce(F.sum("t"), F.lit(0)).alias("n"))
        .select("n")
    )
    m = e.count()  # e is pinned — one cheap scan, reused for the output
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n")).select("n")
    return (
        n_nodes.select(F.col("n").cast("long").alias("n_nodes"))
        .withColumn("n_edges", F.lit(m).cast("long"))
        .crossJoin(
            n_tri.select(F.col("n").cast("long").alias("n_triangles"))
        )
    )


PAGERANK_SCALE = 1_000_000_000_000  # total rank mass, integer units

# Broadcast the per-round rank table when |V| is at or below this bound.
# Memory math (corrected per ADVICE r11 #5): 2²¹ nodes is ≈32 MB of RAW
# (long, long) pairs, but a broadcast hashed relation costs a small
# multiple of that (LongHashedRelation page + index overhead, ×2-4), and
# with `iters` unrolled rounds each round's rank broadcast stays
# referenced until the driver/executors GC it — so peak memory near the
# gate is several hundred MB across the unrolled rounds, not 32 MB.
# That still clears the 8 GB / 512M-row broadcast cap and a 4 GB driver
# with margin; the gate is deliberately conservative for exactly this
# multiple.
# Same hybrid contract as ``connected_components``'s driver_max_edges:
# the threshold is a MEASURED scalar (|V| = outd.count(), already on the
# driver), not an estimate, so the gate is deterministic.  Rationale
# (guide §3.1 + §5): each round's rank table is a localCheckpoint → the
# planner sees UnknownPartitioning and NO size statistics, so it
# sort-merge-joins the m-row edge table against the |V|-row rank table
# EVERY round — a full shuffle + sort of the edges per iteration.
# Measured r11 at sf0.1 (|V| = 20k, m = 2.4M): 5.9-8.4 s per round SMJ →
# 0.9-1.9 s per round broadcast.  Above the gate the join instead gets a
# SHUFFLE_HASH hint: the edge stream is probed, not sorted, and the
# per-partition build is |V|/nparts rank rows — bounded at any scale.
PR_BROADCAST_MAX_NODES = 1 << 21


def pagerank_integer(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank with EXACT integer arithmetic — every quantity is integer
    rank-units (total mass 10¹²) and every division is floor division,
    so the result is bit-identical across engines, partitionings, and
    retries (floating-point PageRank drifts with shuffle order; the
    truncated mass per step is < 1 unit per edge — negligible and,
    more importantly, deterministic).

    Input must be a SYMMETRIC directed edge list (both directions
    present, no self-loops) — then every node has out-degree ≥ 1 and the
    dangling-mass term vanishes.  Recurrence per iteration:

        sent(u)     = (r(u) · damping_pct) div 100
        per_edge(u) = sent(u) div out(u)
        r'(v)       = base + Σ_{u→v} per_edge(u),
        base        = ((SCALE · (100 − damping_pct)) div 100) div N

    Scale shape: each iteration is one equi-join of the edge list with
    the |V|-row rank table on the source node plus one sum keyed on the
    destination — two hash shuffles per round, no broadcast of anything
    graph-sized, no driver state (N is computed once).  The edge table
    and each round's rank table are lineage-pinned (localCheckpoint), so
    total work is LINEAR in ``iters`` and the edge construction runs
    exactly once — see the inline note.
    """
    # Pin the edge list AND the out-degree table up front (lazy): e feeds
    # outd + ew, and outd feeds the count, ew, and ranks⁰ — unpinned, the
    # upstream edge construction (for the co-order graph a
    # lineitem⋈lineitem self-join + distinct) executed THREE times (the
    # r11 A/B isolated it: once for outd.count(), once materializing ew,
    # once materializing ranks⁰ — the dominant cost of the whole query,
    # not the rounds).  outd.count() below materializes both in one job.
    e = pin(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    outd = pin(e.groupBy("u").agg(F.count(F.lit(1)).alias("outd")))
    n = outd.count()  # |V| — one scalar on the driver, like CC's counts
    if n == 0:  # empty graph → empty ranks, not a ZeroDivisionError
        return e.select(
            F.col("u").alias("node"), F.lit(0).cast("long").alias("rank_units")
        )
    base = ((PAGERANK_SCALE * (100 - damping_pct)) // 100) // n
    r0 = PAGERANK_SCALE // n
    ranks = outd.select("u", F.lit(r0).cast("long").alias("r"))
    # (u, v, outd) is joined against the rank table EVERY round: pin it
    # once (localCheckpoint) so the upstream edge construction — for the
    # co-order graph a lineitem⋈lineitem self-join + distinct — never
    # re-executes per iteration.  Each round's rank table is pinned too,
    # keeping total work linear in `iters` (unpinned, round k replays
    # rounds 1..k-1: quadratic recompute).  This is the standard
    # iterative-graph pattern (GraphX/Pregel cache edges + checkpoint
    # the per-round vertex state).
    # LAZY checkpoints throughout: constructing the PageRank DataFrame
    # runs no jobs beyond the one outd.count() above — the first real
    # action materializes ew and each round's ranks in sequence, after
    # which every block is reused (work stays linear in `iters`).
    # Join-strategy gate on the MEASURED |V| (see PR_BROADCAST_MAX_NODES):
    # checkpointed tables carry no size statistics, so without the gate
    # the planner sort-merge-joins the m-row edge table every round.
    small_v = n <= PR_BROADCAST_MAX_NODES
    od = F.broadcast(outd) if small_v else outd.hint("shuffle_hash")
    ew = pin(e.join(od, "u"))
    for _ in range(iters):
        rk = F.broadcast(ranks) if small_v else ranks.hint("shuffle_hash")
        contrib = (
            ew.join(rk, "u")
            .select(
                "v",
                F.expr(f"(r * {damping_pct}) div 100 div outd").alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("acc"))
        )
        next_ranks = contrib.select(
            F.col("v").alias("u"),
            (F.lit(base) + F.col("acc")).cast("long").alias("r"),
        )
        ranks = pin(next_ranks)
    return ranks.select(
        F.col("u").alias("node"), F.col("r").alias("rank_units")
    )

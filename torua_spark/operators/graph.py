"""Graph operators (reference §2.B B1/B2/B6 — documented, never
implemented: ARCHITECTURE.md:219-226 property-graph sharding,
ARCHITECTURE.md:548-568 multi-hop traversal, README.md:120-127).

The reference's design stores vertices hashed across shards with edges
co-located at their source vertex. The Spark realization: vertex and
edge DataFrames, traversal = self-joins on dst=src, co-location =
repartition on src (the analog of torua's edge placement), iterative
algorithms (connected components, PageRank, ...) = one superstep
kernel, ``_iterate``, looping joins with ``localCheckpoint`` to
truncate lineage each round (the Pregel pattern re-expressed on
DataFrames, since PySpark has no GraphX binding).

Scale notes:
- the edge build (orders ⋈ lineitem) is a co-partitioned shuffle join
  on l_orderkey; at 100 TB both facts should be bucketed on orderkey
  so it degrades to a zero-shuffle sort-merge join
- per-iteration state in CC/PageRank is one (vertex, label) table;
  messages = one shuffle per hop on dst — exactly the scatter-gather
  the reference's docs describe per-shard
- localCheckpoint every iteration keeps the plan O(1) deep instead of
  O(iterations); without it Catalyst re-derives the whole lineage and
  planning time explodes by iteration 10
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from torua_spark.functions.compat import round4

_ROWS_PER_PARTITION = 50_000

# The vertex state enters each round's edge join in one of two shapes,
# picked by the vertex count:
#
# - broadcast — the state relation enters the edge join via a chained
#   BroadcastExchange (F.broadcast on a lazy frame is not a collect),
#   so neither the big static edge list nor the state is shuffled for
#   the join; the only per-round shuffle is the message aggregation.
#   Measured 1.5-2.5x over the shuffle join on the co-purchase graph at
#   sf0.1 (and the win grows with edge size — the edge side never
#   moves). Each in-flight round holds one state broadcast (~16 B per
#   vertex), so the budget bounds vertices.
# - shuffle — both sides shuffle on the join key; nothing is broadcast,
#   so it is the only safe shape when the vertex state itself is huge.
#   A 1B-vertex graph takes it, where the deployment answer is an edge
#   table bucketed on the join key.
_BROADCAST_STATE_MAX_VERTICES = 8_000_000


class _Edges(NamedTuple):
    """An iterative operator's edge relation (columns a, b[, w]),
    checkpointed once, with the sizes its loop is planned from."""

    df: DataFrame
    n_rows: int
    n_vertices: int

    def state(self, state: DataFrame, key: str = "a") -> DataFrame:
        """A vertex state keyed by ``id``, renamed to the edge column
        ``key`` and broadcast while the vertex count fits the budget."""
        state = state.withColumnRenamed("id", key)
        if self.n_vertices <= _BROADCAST_STATE_MAX_VERTICES:
            return F.broadcast(state)
        return state

    def join(self, state: DataFrame, key: str = "a", how: str = "inner") -> DataFrame:
        """Edges joined to a vertex state on ``edges.key = state.id``."""
        return self.df.join(self.state(state, key), key, how)


def _loop_edges(df: DataFrame, n_vertices: int | None = None) -> _Edges:
    """Checkpoint a loop's edge relation once — the loop body must join
    a table, not re-derive e.g. orders ⋈ lineitem every round — and
    size it in one aggregate job. The vertex count is approximate, over
    ``a`` (every vertex of a symmetrized graph), unless the caller
    passes an exact one; it only picks the state's join shape."""
    df = df.localCheckpoint()
    stats = df.agg(F.count(F.lit(1)), F.approx_count_distinct("a")).collect()[0]
    return _Edges(df, stats[0], stats[1] if n_vertices is None else n_vertices)


def _undirected(edges: DataFrame, dedup: bool = True, weighted: bool = False) -> _Edges:
    """Symmetrized edge list (a, b[, w]) prepared for a loop. ``dedup``
    drops duplicate (a, b) pairs; a weighted list keeps the lightest.
    ``dedup=False`` skips that shuffle over 2|E| rows — safe whenever
    reversal cannot create a duplicate (e.g. a bipartite-encoded vertex
    space where src and dst ids never overlap) AND the input is already
    distinct; min/Pregel consumers stay CORRECT either way (idempotent
    messages), duplicate edges only cost message volume per round."""
    w = ["w"] if weighted else []
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), *w)
    out = fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b"), *w))
    if dedup:
        out = out.groupBy("a", "b").agg(F.min("w").alias("w")) if weighted else out.distinct()
    return _loop_edges(out)


@contextmanager
def _iteration_partitions(df: DataFrame, n_rows: int):
    """Size shuffle partitions for an iterative loop to the working
    set instead of the session default: AQE right-sizes single queries
    but not the dozens of tiny shuffles an iterative algorithm issues.
    Clamped below by 8 and above by the session setting (a 10B-edge
    graph keeps the full configured parallelism)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    parts = max(8, min(int(prev), n_rows // _ROWS_PER_PARTITION + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _iterate(edges: _Edges, state: DataFrame,
             step: Callable[[DataFrame, int], DataFrame], rounds: int,
             probe: Callable[[DataFrame], object] | None = None,
             every: int = 1) -> tuple[DataFrame, bool]:
    """The superstep loop every iterative operator runs — Pregelix's
    vertex ⋈ messages → combine → update. ``step(state, r)`` builds
    round r's state (1-based) from the last; the kernel owns the rest:

    - shuffles are sized to the edge relation (_iteration_partitions);
    - rounds chain through ``localCheckpoint(eager=False)``: lineage is
      cut every round, so the plan stays O(1) deep (without it Catalyst
      re-derives the whole lineage), and no round waits on a driver
      round-trip. That saves round-trips, not jobs: with adaptive
      execution on, each round's aggregation shuffle — and a broadcast
      state's collect — runs as a Spark job of its own when the round
      is planned;
    - ``probe(state)``, a driver-side aggregate, runs on the initial
      state, then every ``every`` rounds and after the last. The loop
      stops at the first probe equal to the one before it: for a
      monotone algorithm, an unchanged aggregate over a batch of
      rounds witnesses the fixpoint. Rounds past the fixpoint are
      idempotent, so batching costs at most every-1 wasted rounds.

    The probe materializes the state it reads, so a probed loop ends
    there; a fixed-count loop ends with one eager checkpoint, taken
    while the loop partitioning is in force. Returns (state,
    converged): ``converged`` is False only when a probed loop ran all
    ``rounds`` without a stable probe."""
    with _iteration_partitions(edges.df, edges.n_rows):
        last = probe(state) if probe else None
        for r in range(1, rounds + 1):
            state = step(state, r).localCheckpoint(eager=False)
            if probe and (r % every == 0 or r == rounds):
                cur = probe(state)
                if cur == last:
                    return state, True
                last = cur
        if probe:
            return state, False
        return state.localCheckpoint(eager=True), True


def copurchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Edge list customer -> supplier through orders ⋈ lineitem
    (FIXTURES.md §2.5). Distinct (src, dst) pairs."""
    return (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )


def coproduct_edges(orders: DataFrame, lineitem: DataFrame, distinct: bool = True) -> DataFrame:
    """Bipartite edge list customer -> (supplier, part): the customer
    bought that part from that supplier. Distinct triples.

    This is the scale-safe projection key for co-purchase analysis:
    grouping by (supplier, part) keeps pair blow-up linear in the edge
    count (measured max group size 3 at sf0.1, vs 345M raw pairs when
    keyed on supplier alone — a dense projection no engine should
    materialize at 100 TB).

    `distinct=False` skips the dedup shuffle for consumers whose next
    step dedups anyway (e.g. collect_set per (supp, part))."""
    out = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey", "l_partkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_suppkey").alias("supp"),
            F.col("l_partkey").alias("part"),
        )
    )
    return out.distinct() if distinct else out


def two_hop(orders: DataFrame, lineitem: DataFrame,
            customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """B2 — `MATCH (c)-[*2]->(s)` over the star schema: distinct
    (c_custkey, s_suppkey) pairs reachable customer->order->line->supplier,
    with both endpoints verified against their vertex tables."""
    e = copurchase_edges(orders, lineitem)
    return (
        e.join(customer.select(F.col("c_custkey").alias("src")), "src", "left_semi")
        .join(supplier.select(F.col("s_suppkey").alias("dst")), "dst", "left_semi")
        .select(F.col("src").alias("c_custkey"), F.col("dst").alias("s_suppkey"))
    )


def out_degree(edges: DataFrame) -> DataFrame:
    """B6 — out-degree per source vertex: one partial+final count."""
    return edges.groupBy(F.col("src").alias("custkey")).agg(F.count(F.lit(1)).alias("degree"))


def triangle_pattern(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """B1/B3 — pattern match customer->nation->region + aggregate:
    `MATCH (c:Customer)-[:IN]->(n:Nation)-[:IN]->(r:Region)` with group
    counts and balance stats per (region, nation). Both dims broadcast."""
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            round4(F.sum("c_acctbal")).alias("sum_acctbal"),
        )
    )


def connected_components(edges: DataFrame, max_iter: int = 25,
                         undirected_dedup: bool = True) -> DataFrame:
    """B6 — connected components by iterative min-label propagation.

    Vertices carry their own id as the initial label; each round every
    vertex takes the min of its own and its neighbors' labels; fixpoint
    = component membership with label = min vertex id in the component.

    ``max_iter`` is a ceiling: labels only fall, so the loop probes the
    label sum every 2 rounds and stops when it is unchanged (worst case
    one idempotent round past the fixpoint). Lineage is truncated with
    localCheckpoint (driver-local; on a real cluster use rdd
    checkpointing to object storage for fault tolerance).

    Input edges must already be over a single numeric vertex-id space.
    """
    g = _undirected(edges, undirected_dedup)
    labels = (
        g.df.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        msgs = g.join(labels).select(F.col("b").alias("id"), "label")
        return msgs.unionByName(labels).groupBy("id").agg(F.min("label").alias("label"))

    labels, _ = _iterate(
        g, labels, step, max_iter,
        probe=lambda s: s.agg(F.sum("label")).collect()[0][0], every=2,
    )
    return labels.select(F.col("id").alias("vertex"), F.col("label").alias("component"))


def bfs_hop_histogram(edges: DataFrame, seed_ids: DataFrame,
                      max_hops: int = 4) -> DataFrame:
    """B2 generalized — multi-source BFS over the undirected graph:
    min hop distance from the seed set (`seed_ids`: one `id` column),
    emitted as a histogram (hops, n_vertices) plus one `hops = -1` row
    counting vertices unreached within `max_hops`.

    State is the SPARSE reached set (id, hops) — rounds only touch the
    frontier's neighborhood, not the full vertex table, so early
    rounds are proportional to the expanding ball, not |V|. Min-
    aggregation makes re-discovery idempotent, the same Pregel shape
    as `connected_components`."""
    g = _undirected(edges)
    vertices = g.df.select(F.col("a").alias("id")).distinct().localCheckpoint()
    n_vertices = vertices.count()
    dist = (
        seed_ids.select("id")
        .join(vertices, "id", "left_semi")
        .select("id", F.lit(0).cast("int").alias("hops"))
        .localCheckpoint()
    )

    def step(dist: DataFrame, _: int) -> DataFrame:
        msgs = g.join(dist).select(
            F.col("b").alias("id"), (F.col("hops") + F.lit(1)).alias("hops")
        )
        return (
            msgs.unionByName(dist)
            .groupBy("id")
            .agg(F.min("hops").cast("int").alias("hops"))
        )

    dist, _ = _iterate(g, dist, step, max_hops)
    n_reached = dist.count()
    hist = dist.groupBy("hops").agg(F.count(F.lit(1)).alias("n_vertices"))
    spark = edges.sparkSession
    unreached = spark.range(1).select(
        F.lit(-1).cast("int").alias("hops"),
        F.lit(n_vertices - n_reached).cast("long").alias("n_vertices"),
    )
    return hist.unionByName(unreached)


def copurchase_vertex_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Co-purchase edges re-encoded into one numeric vertex space:
    customer c -> 2c, supplier s -> 2s+1 (bipartite disambiguation)."""
    e = copurchase_edges(orders, lineitem)
    return e.select((F.col("src") * 2).alias("src"), (F.col("dst") * 2 + 1).alias("dst"))


def _rank_graph(edges: DataFrame, weight_col: str | None = None) -> tuple[DataFrame, _Edges]:
    """A rank loop's loop-invariant inputs: the vertex set (src ∪ dst)
    and the directed edges (a, b, w) with the out-degree folded in
    once: w = 1/out_deg(src) — or, when ``weight_col`` is given,
    w_ij / sum_j w_ij (rank flows in proportion to edge weight) — so
    the loop never joins the degree relation again: one join per round
    instead of two."""
    # edges is usually a derived join — without this every use re-runs it
    edges = edges.localCheckpoint()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    if weight_col is None:
        tot = edges.groupBy("src").agg(F.count(F.lit(1)).alias("t"))
        w = F.lit(1.0) / F.col("t")
    else:
        tot = edges.groupBy("src").agg(F.sum(F.col(weight_col).cast("double")).alias("t"))
        w = F.col(weight_col).cast("double") / F.col("t")
    weighted = edges.join(tot, "src").select(
        F.col("src").alias("a"), F.col("dst").alias("b"), w.alias("w")
    )
    return vertices, _loop_edges(weighted, vertices.count())


def pagerank(edges: DataFrame, iterations: int = 10, damping: float = 0.85,
             weight_col: str | None = None) -> DataFrame:
    """B6 — PageRank via iterative DataFrame joins (directed edges).

    Standard power iteration: rank = (1-d) + d * sum(incoming rank /
    out_degree). Vertices with no outgoing edges contribute nothing
    (classic simplified formulation). Output rounded to 4 dp.

    A fixed iteration count: no round blocks on a Spark action. The rank
    state broadcasts into the edge join while it fits the budget
    (the edge list is never shuffled inside the loop; measured 1.5-2x
    at sf0.1)."""
    vertices, g = _rank_graph(edges, weight_col)
    # Zero-contribution rows for every vertex replace the final
    # vertices left-join: dangling/no-inbound vertices survive the
    # groupBy, so rank update = union + ONE aggregation shuffle.
    zeros = vertices.select("id", F.lit(0.0).alias("c"))

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = g.join(ranks).select(
            F.col("b").alias("id"), (F.col("rank") * F.col("w")).alias("c")
        )
        return (
            contribs.unionByName(zeros)
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
            .select("id", (F.lit(1.0 - damping) + F.lit(damping) * F.col("s")).alias("rank"))
        )

    ranks, _ = _iterate(g, vertices.withColumn("rank", F.lit(1.0)), step, iterations)
    return ranks.select(F.col("id").alias("vertex"), round4("rank").alias("rank"))


# Unbounded-BFS safety rail: probe for convergence every batch of
# rounds (amortizing the probe job), and refuse to return a
# possibly-incomplete reached set if a pathological graph (a 100k-hop
# path) is still growing at the cap — loud beats silently partial.
SSSP_CONVERGE_BATCH = 3
SSSP_CONVERGE_CAP = 64


def _source_state(g: _Edges, source_id: int, **cols) -> DataFrame:
    """The single-source loop's initial state: the source (if it has
    an edge) with the given literal columns."""
    return (
        g.df.filter(F.col("a") == F.lit(source_id))
        .select(F.col("a").alias("id"))
        .distinct()
        .select("id", *(c.alias(n) for n, c in cols.items()))
        .localCheckpoint()
    )


def shortest_paths(edges: DataFrame, source_id: int,
                   max_hops: int | None = 6,
                   undirected_dedup: bool = True) -> DataFrame:
    """B2 — Cypher ``shortestPath((src)-[*..k]-(v))`` parity: single-
    source unweighted shortest paths over the undirected graph, with a
    DETERMINISTIC predecessor per vertex so callers can reconstruct one
    canonical shortest path (reference ARCHITECTURE.md:548-568 multi-hop
    traversal; README.md:120-127 graph queries).

    Returns (id, hops, via): `hops` = min distance from `source_id`
    within `max_hops`, `via` = the smallest-id predecessor among all
    shortest paths (NULL for the source itself). Determinism matters
    because the driver hash-compares against a DuckDB oracle: ties are
    broken lexicographically on (hops, via) via a struct-min, which both
    engines order identically (hops first; `via` ties are always
    non-null because only the source holds hops=0).

    ``max_hops=None`` (the Cypher ``[:R*]`` unbounded hop) runs BFS to
    CONVERGENCE: the reached set grows by >= 1 vertex per round until
    the component is exhausted, so an unchanged count over a batch of
    rounds proves the fixpoint; the count() probe runs once per
    SSSP_CONVERGE_BATCH rounds, extra post-fixpoint rounds are
    idempotent (struct-min), and a graph still growing at
    SSSP_CONVERGE_CAP rounds raises rather than return a silently
    partial reached set.

    Scale shape — same sparse-frontier Pregel skeleton as
    `bfs_hop_histogram`: state is the reached set only, the broadcast
    state keeps the big edge list unshuffled inside the loop, and
    message volume per round is the frontier's neighborhood, not |E|.
    At 100 TB the edge table should be bucketed on `a` so the
    per-round join is shuffle-free on the edge side.
    """
    # The result contains only REACHED vertices, so no vertex relation
    # is built: the edge stats size the loop, the filter seeds it.
    g = _undirected(edges, undirected_dedup)
    dist = _source_state(
        g, source_id, hops=F.lit(0).cast("int"), via=F.lit(None).cast("long")
    )

    def step(d: DataFrame, r: int) -> DataFrame:
        # FRONTIER-only messages (r14, guide §2.3): only vertices
        # first reached in the previous round send. Equivalent to
        # all-state sends: a vertex's hops is final at first reach
        # (BFS level order), every minimal-hops predecessor of a
        # vertex is first reached in the SAME round, so all
        # candidate (hops, via) messages that can win the
        # struct-min arrive together the round after — re-sends
        # from older vertices only duplicate messages the min
        # already consumed. Message volume per round drops from
        # |N(reached)| (~|E| once the component saturates) to
        # |N(frontier)|, and the per-round broadcast ships the
        # frontier, not the whole reached set.
        frontier = d.filter(F.col("hops") == F.lit(r - 1))
        msgs = g.join(frontier).select(
            F.col("b").alias("id"),
            (F.col("hops") + F.lit(1)).cast("int").alias("hops"),
            F.col("a").cast("long").alias("via"),
        )
        return (
            msgs.unionByName(d)
            .groupBy("id")
            # struct-min = arg-min: smallest (hops, via) pair wins,
            # making the surviving predecessor deterministic.
            .agg(F.min(F.struct("hops", "via")).alias("s"))
            .select("id", F.col("s.hops").alias("hops"), F.col("s.via").alias("via"))
        )

    if max_hops is not None:
        return _iterate(g, dist, step, max_hops)[0]
    dist, converged = _iterate(
        g, dist, step, SSSP_CONVERGE_CAP,
        probe=lambda d: d.count(), every=SSSP_CONVERGE_BATCH,
    )
    if not converged:
        raise ValueError(
            f"unbounded shortestPath still expanding after "
            f"{SSSP_CONVERGE_CAP} BFS rounds — graph diameter exceeds "
            f"SSSP_CONVERGE_CAP={SSSP_CONVERGE_CAP}; pass an explicit "
            f"*..k bound for a partial traversal"
        )
    return dist


def reconstruct_path(paths: DataFrame, target_id: int) -> list[int]:
    """Walk `shortest_paths` predecessors from `target_id` back to the
    source; returns [source, ..., target] or [] if unreached.

    The walk stays DISTRIBUTED: a loop over the predecessor graph
    (id -> via) whose state is the walk so far and whose frontier is
    its newest node (a predecessor on a shortest path sits one hop
    nearer the source), then ONE collect of the k+1 path rows. Never
    collects the reached set itself (which is O(|V|) — the predecessor
    relation is the distributed artifact; a path is O(k) rows)."""
    g = _loop_edges(paths.select(F.col("id").alias("a"), F.col("via").alias("b")))
    walk = paths.filter(F.col("id") == F.lit(target_id)).select("id", "hops").localCheckpoint()
    head = walk.collect()  # 1 row: the target (or unreached)
    if not head:
        return []
    top = int(head[0]["hops"])

    def step(walk: DataFrame, r: int) -> DataFrame:
        frontier = walk.filter(F.col("hops") == F.lit(top - r + 1))
        return walk.unionByName(
            g.join(frontier).select(F.col("b").alias("id"), (F.col("hops") - 1).alias("hops"))
        )

    walk, _ = _iterate(g, walk, step, top)
    return [r["id"] for r in sorted(walk.collect(), key=lambda r: r["hops"])]


def weighted_shortest_paths(edges: DataFrame, source_id: int,
                            rounds: int | None = 6,
                            undirected_dedup: bool = True) -> DataFrame:
    """B2 weighted — k-bounded lightest paths (Bellman-Ford rounds)
    over the undirected weighted graph: `dist` = minimum total edge
    weight among paths of <= `rounds` edges from `source_id`, with the
    same deterministic (dist, via) struct-min predecessor tie-break as
    `shortest_paths` (reference ARCHITECTURE.md:548-568 — traversal
    over edges carrying attributes).

    Input `edges` must carry (src, dst, w) with an EXACT (integer)
    weight column — exactness is what lets the driver hash-compare
    the result against the loop-unrolled oracle (floating-point
    min-plus would tie-break on rounding noise). Full Bellman-Ford is
    `rounds = |V| - 1`; a bounded k is the weighted analog of Cypher's
    `[*..k]` and keeps the job count fixed. ``undirected_dedup=False``
    skips the lightest-parallel-edge groupBy when the input is already
    one row per (src, dst) and src/dst ids cannot collide (the
    bipartite vertex encoding).

    ``rounds=None`` (round 9 — the weighted twin of
    ``shortest_paths(max_hops=None)``) runs to CONVERGENCE. The BFS
    count probe is NOT sufficient here: distances keep improving
    after first reach, so the fixpoint probe compares THREE monotone
    aggregates — row count (non-decreasing), sum(dist)
    (componentwise non-increasing under the struct-min, so the sum
    strictly falls whenever any dist improves) and sum(via) over
    dist-stable states (via only improves downward at equal dist) —
    all three stable over a batch of rounds == nothing changed,
    exactly (no hashing, no false convergence). Probes amortize over
    SSSP_CONVERGE_BATCH rounds; a graph still relaxing at
    SSSP_CONVERGE_CAP rounds raises (for non-negative integer
    weights Bellman-Ford needs <= |V|-1 rounds, so the cap also
    catches a negative-cycle input loudly instead of looping).

    Scale shape: identical to `shortest_paths` — sparse state, one
    aggregation shuffle per round, the edge list never re-shuffled
    while the state broadcasts."""
    g = _undirected(edges, undirected_dedup, weighted=True)
    dist = _source_state(
        g, source_id, dist=F.lit(0).cast("long"), via=F.lit(None).cast("long"),
        act=F.lit(True),
    )

    def step(d: DataFrame, _: int) -> DataFrame:
        # DELTA messages (r14, guide §2.3): only vertices whose
        # (dist, via) changed last round send. Equivalent to
        # full re-sends: a vertex that did not change would resend
        # byte-identical messages, which are no-ops under the
        # struct-min (its last change already delivered its
        # current dist+w to every neighbor, and the state keeps
        # the min of everything ever received). ``act`` marks the
        # changed set: the winning struct differs from the best
        # previously-held row (or the vertex is newly reached).
        msgs = g.join(d.filter(F.col("act"))).select(
            F.col("b").alias("id"),
            (F.col("dist") + F.col("w")).cast("long").alias("dist"),
            F.col("a").cast("long").alias("via"),
            F.lit(True).alias("msg"),
        )
        held = d.select("id", "dist", "via", F.lit(False).alias("msg"))
        return (
            msgs.unionByName(held)
            .groupBy("id")
            .agg(
                F.min(F.struct("dist", "via")).alias("s"),
                F.min(F.when(~F.col("msg"), F.struct("dist", "via"))).alias("s_old"),
            )
            .select(
                "id",
                F.col("s.dist").alias("dist"),
                F.col("s.via").alias("via"),
                (F.col("s_old").isNull() | (F.col("s") < F.col("s_old"))).alias("act"),
            )
        )

    def fingerprint(d: DataFrame) -> tuple:
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum("dist"),
            F.sum(F.coalesce(F.col("via"), F.lit(0))),
        ).collect()[0])

    if rounds is not None:
        return _iterate(g, dist, step, rounds)[0].select("id", "dist", "via")
    dist, converged = _iterate(
        g, dist, step, SSSP_CONVERGE_CAP,
        probe=fingerprint, every=SSSP_CONVERGE_BATCH,
    )
    if not converged:
        raise ValueError(
            f"weighted shortest paths still relaxing after "
            f"{SSSP_CONVERGE_CAP} Bellman-Ford rounds — graph "
            f"diameter exceeds SSSP_CONVERGE_CAP={SSSP_CONVERGE_CAP} "
            f"or the input has a negative cycle; pass an explicit "
            f"rounds bound for a partial relaxation"
        )
    # ``act`` is loop machinery, not part of the contract
    return dist.select("id", "dist", "via")


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """B6 — community detection via synchronous label propagation with
    a SELF-VOTE and a deterministic tie-break: each round every vertex
    adopts the most frequent label among its neighbors plus itself,
    ties broken by the smallest label (arg-max on (count, -label)).

    The self-vote damps the 2-cycle oscillation synchronous LPA
    exhibits on bipartite graphs (the co-purchase graph IS bipartite);
    with a FIXED round count the run is deterministic either way, so
    the loop-unrolled oracle matches round-for-round — the same
    determinism contract as `pagerank`'s fixed power iteration.

    Cost: two aggregation shuffles per round ((id, label) vote count,
    then per-id arg-max) plus the message join — label state is one
    row per vertex, the same sparse-state scaling as the other
    iterative operators."""
    g = _undirected(edges)
    labels = (
        g.df.select(F.col("a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )

    def step(labels: DataFrame, _: int) -> DataFrame:
        votes = (
            g.join(labels)
            .select(F.col("b").alias("id"), "label")
            .unionByName(labels)  # self-vote
        )
        return (
            votes.groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("id")
            # arg-max (count, -label): most frequent label, ties to
            # the smallest label value
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("s"))
            .select("id", (-F.col("s.neg")).alias("label"))
        )

    labels, _ = _iterate(g, labels, step, rounds)
    return labels.select(F.col("id").alias("vertex"), F.col("label").alias("community"))


def k_core(edges: DataFrame, k: int = 2, rounds: int = 16,
           undirected_dedup: bool = True) -> DataFrame:
    """B6 — k-core membership by synchronous peeling: each round drops
    every vertex whose degree in the INDUCED surviving subgraph is
    < k; the fixpoint is the k-core. Returns (vertex, core_degree)
    for surviving vertices, core_degree = induced degree at the
    fixpoint. Peeling is monotone (survivors only shrink), so extra
    rounds past convergence are idempotent — the loop-unrolled oracle
    matches at ANY unroll depth >= the convergence round count, the
    same contract as connected_components.

    ``rounds`` is a CEILING, not a fixed count (r8): the loop probes
    the alive-set size every 2 rounds and stops at the first stable
    probe. Monotone peeling makes a stable COUNT a sound fixpoint
    witness: membership cannot change without the count dropping.
    Worst case runs one idempotent extra round, which the
    depth-idempotent oracle absorbs.

    Cost per round: the alive set re-enters the edge relation as two
    semi-joins (broadcast while it fits — the same state-size logic
    as the other iterative operators) plus one degree aggregation;
    state is one (id, induced degree) row per surviving vertex, so the
    last round's state is the result. Rounds needed ~ the peeling
    depth (cascade length), typically far below diameter."""
    g = _undirected(edges, undirected_dedup)
    alive = g.df.select(F.col("a").alias("id")).distinct().localCheckpoint()

    def step(alive: DataFrame, _: int) -> DataFrame:
        ids = alive.select("id")
        induced = g.join(ids, "a", "left_semi").join(g.state(ids, "b"), "b", "left_semi")
        return (
            induced.groupBy(F.col("a").alias("id"))
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= F.lit(k))
        )

    alive, _ = _iterate(g, alive, step, rounds, probe=lambda s: s.count(), every=2)
    return alive.select(F.col("id").alias("vertex"), "core_degree")

"""Graph operators over undirected edge lists: connected components,
k-cores and per-node triangle counts.

Near-dup detection (`operators.dedup`) emits PAIRS; deduplication needs
CLUSTERS (every document mapped to one canonical representative, even when
A~B and B~C but A!~C).  :func:`connected_components` is that closure step:
large-star/small-star (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC 2014), O(log² n) rounds on any graph shape, every round
pure DataFrame ops with one driver-side count.

Contract: ``(node, component)`` for every node of a non-self pair, with
``component`` the smallest node id in its component.  Self-pairs
(``src == dst``) are dropped, so a node seen only in a self-pair gets no
row; the dedup callers never emit one (``jaccard_pairs`` returns
``doc_id_1 < doc_id_2``).  A graph that is not a star forest after
``MAX_ROUNDS`` rounds raises ``RuntimeError``, never a partial labelling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tamar_spark.operators.cache import CacheLease as _CacheLease, attach_lease

__all__ = [
    "attach_lease",
    "connected_components",
    "kcore",
    "triangles_per_node",
]

# Round budget of connected_components: a 400k-node chain, the
# diameter-growing worst case, converges in 19 rounds.
MAX_ROUNDS = 40


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id_1",
    dst: str = "doc_id_2",
    stats: dict | None = None,
) -> DataFrame:
    """Map every node of ``pairs`` to its component's minimum node id:
    ``(node, component)``, by alternating large-star / small-star rounds
    (module docstring for the contract, self-pairs and the round budget).

    - large-star: every node links its LARGER neighbors to its smallest
      known neighbor-or-self;
    - small-star: every node links its smaller-or-equal neighbors to that
      minimum.

    Edges shrink toward one star per component, centered on its minimum;
    the loop stops when the edge set is a star forest.  Per star the plan
    is one window aggregate (``min(v) OVER (PARTITION BY u)``) and one
    distinct over the canonical ``u < v`` edge set; both orientations are
    derived by one explode, not a union, so the per-round plan references
    its child once.  Each round's checkpoint is lazy and the star-forest
    count materializes it: one job per round.

    ``stats`` (optional dict) receives ``{"rounds": r}``, the number of
    large+small rounds until convergence (~log₂ n on an n-node chain).
    """
    from pyspark.sql.window import Window as W

    # localCheckpoint (not persist): each round's plan builds on the last —
    # without truncating lineage the query plan doubles every iteration and
    # planning time, not data, dominates
    edges = (
        pairs.select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def sym_view(e: DataFrame) -> DataFrame:
        # both orientations, derived narrowly (no shuffle, no dedup needed:
        # the canonical set has one row per pair, so the two oriented
        # copies can never collide); explode, not union — one reference
        # to the child subtree keeps the per-round plan tree (and its
        # driver-side analysis cost) flat
        return e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("_s")
        ).select("_s.u", "_s.v")

    def star(e: DataFrame, large: bool) -> DataFrame:
        em = sym_view(e).withColumn(
            "m", F.least(F.col("u"), F.min("v").over(W.partitionBy("u")))
        )
        keep = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        # per-row candidate array replaces the keep-branch/self-branch
        # union: identical row multiset, one reference to em
        cand = F.when(
            keep,
            F.array(
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
            ),
        ).otherwise(F.array(F.struct(F.col("u").alias("a"), F.col("m").alias("b"))))
        out = (
            em.select(F.explode(cand).alias("_c"))
            .select("_c.a", "_c.b")
            .filter(F.col("a") != F.col("b"))
        )
        return out.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        ).distinct()

    for rounds in range(1, MAX_ROUNDS + 1):
        new_edges = star(star(edges, large=True), large=False).localCheckpoint(
            eager=False
        )
        # Stop when the edge set is a STAR FOREST — every node is either a
        # center (all neighbors larger) or a leaf (its single neighbor is
        # smaller).  Star forests are exactly the algorithm's fixed points,
        # both star ops preserve component membership, and the labeling
        # below is correct on any star forest.  The count is the round's
        # only job: it materializes the lazy checkpoint.
        not_star = (
            sym_view(new_edges)
            .groupBy("u")
            .agg(F.min("v").alias("_m"), F.count(F.lit(1)).alias("_d"))
            .filter((F.col("_m") < F.col("u")) & (F.col("_d") > 1))
            .limit(1)
            .count()
        )
        edges = new_edges
        if not_star == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: not a star forest after {MAX_ROUNDS} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds

    # converged: every node's minimum neighbor-or-self is the component root
    return (
        sym_view(edges)
        .groupBy("u")
        .agg(F.min("v").alias("_nm"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("_nm")).alias("component"),
        )
    )


def kcore(
    pairs: DataFrame,
    k: int,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 12,
    stats: dict | None = None,
    broadcast_below: int = 1_000_000,
    assume_one_row_per_pair: bool = True,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree ≥ k, computed by iterative peeling (Matula &
    Beck) — each round drops every node whose degree WITHIN the surviving
    subgraph is below k, until no node is dropped.  The density primitive
    of graph curation: k-cores locate the cohesive kernel of a near-dup
    cluster graph or a citation/link graph, where raw degree is fooled by
    stars and connected components are fooled by chains.

    Input: undirected edges, ONE row per unordered pair (either
    orientation) — the contract every caller here satisfies, and what
    lets symmetrization skip a distinct (the two oriented copies of a
    pair can never collide when each pair appears once).  A caller that
    CANNOT guarantee it (duplicate rows, or both orientations present)
    must pass ``assume_one_row_per_pair=False``, which restores the
    normalizing distinct for one extra shuffle — duplicates would
    otherwise double-count in every degree aggregate and silently
    inflate the core.
    Output: ``(node, core_degree)`` for surviving nodes — ``core_degree``
    is the node's degree inside the core, ≥ k by the fixpoint property.

    Each round is ONE job, one semi-join, and one shuffle (the bounded
    degree aggregate).  Three round-constant trims (r7 VERDICT task 6):

    - The convergence count IS the materializing action — each round's
      survivor frame is ``localCheckpoint(eager=False)`` and the
      ``count()`` that drives the early exit materializes it, so the
      round runs one job instead of an eager-checkpoint job plus a
      cached-scan job.
    - ONE semi-join per round, on the neighbor side only.  The textbook
      peel filters both endpoints into the alive set; the u-side filter
      is redundant: a node u dropped at an earlier round had
      |N(u) ∩ alive| < k then, the alive sets are decreasing
      (a_i ⊆ a_{i-1}, by induction from the same fact), so u's
      alive-neighbor count can only have shrunk further and the
      ``HAVING count ≥ k`` filter excludes every dead u automatically.
      The round states are therefore IDENTICAL to the two-sided peel
      (and to the oracle's two-sided unroll) at every round, for half
      the joins — verified empirically: the per-round survivor counts
      match the two-sided variant exactly on the sf0.1 fixture.
    - The alive side of the semi-join is broadcast whenever the
      PREVIOUS round's count (already in hand — free) is below
      ``broadcast_below`` keys.  The real broadcast cost is NOT the raw
      key bytes: a broadcast semi-join side materializes as a
      driver-built LongHashedRelation at roughly 30-50 bytes per key
      (hash table slots + row storage), replicated to every executor —
      the 1M default is ~30-50 MB in-relation, a safe fraction of
      default driver/executor memory (r8 ADVICE: the old 4M default's
      docstring counted only 8-byte keys and understated the ceiling
      ~4-6×).  The semi-join then runs map-side over the cached edge
      list and the only shuffle left is the bounded-key degree
      aggregate.  Above the threshold it falls back to a shuffle
      semi-join — alive is O(V), so unconditional broadcast would be a
      100 TB lie; this is the measured-count-driven adaptive choice
      (the same statistic-driven pattern as the skew profiler).

    The alive set only shrinks, so round cost is monotonically
    non-increasing; rounds = the graph's peel depth at k (bounded by the
    cascade length, typically ≤ 10 on near-regular graphs — each round's
    survivors are checkpointed so plan depth stays flat, the CC lesson).
    Early exit compares one count per round: alive is monotone
    decreasing, so an unchanged count IS the fixpoint.  ``max_rounds``
    counts degree-filter STATES including the initial full-graph filter
    (a0), so the loop runs at most ``max_rounds - 1`` recomputes — the
    exact budget the registered query's oracle unrolls as a1..a{n-1}
    (r7 ADVICE: the budgets must be equal or a no-early-exit graph would
    compare round-N engine state against round-N-1 oracle state).
    Callers that need the exact core must check ``stats["converged"]``."""
    # One upfront hash-repartition on u before the checkpoint: the loop
    # scans this frame every round, so it should be balanced and
    # key-clustered — co-partitioning makes each round's partial
    # aggregate emit exactly one row per alive node (the post-agg
    # exchange then carries O(V_alive) pre-aggregated rows, not edges),
    # and AQE right-sizes the partition count for the 2×|E| row volume.
    sym = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    if not assume_one_row_per_pair:
        sym = sym.distinct()
    sym = sym.repartition(F.col("u")).localCheckpoint()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))
    alive = deg.filter(F.col("core_degree") >= k).localCheckpoint(eager=False)
    n_alive = alive.count()
    rounds, converged = 0, False
    for _ in range(max_rounds - 1):
        av = alive.select(F.col("u").alias("v"))
        if n_alive <= broadcast_below:
            av = F.broadcast(av)
        nxt = (
            sym.join(av, "v", "left_semi")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .filter(F.col("core_degree") >= k)
            .localCheckpoint(eager=False)
        )
        n_next = nxt.count()
        rounds += 1
        alive = nxt
        if n_next == n_alive:
            converged = True
            break
        n_alive = n_next
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    return alive.select(F.col("u").alias("node"), "core_degree")


# The lease implementation lives in operators.cache since it generalized
# beyond triangles (r11: kmeans, dedup, pagerank, first_fit_pack persists
# are all lease-scoped); it is re-exported from this module's top-level
# imports because the pattern was introduced here and tests/callers
# import attach_lease from it.


def triangles_per_node(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    broadcast_bytes_below: int = 32 << 20,
) -> DataFrame:
    """Per-node triangle counts via degree-ordered orientation
    (Suri & Vassilvitskii's MapReduce formulation): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    then close each base edge u→v against out(u) ∩ out(v).  Orientation
    bounds every out-degree by O(sqrt(|E|)), so the quadratic step never
    explodes on hub nodes.  Input: distinct undirected edges (``a`` <
    ``b``); output: ``(node, n_triangles)`` with each triangle crediting
    all three corners.  All-integer, deterministic; the orientation key
    packs (degree, id) into one bigint (valid while ids < 1e8) so engines
    compare identically.

    Cache lifetime (r9 VERDICT task 4): the oriented edge list is
    persisted because two jobs genuinely need it — the pre-flight
    entry count that picks the adjacency join strategy, and the closure
    itself (cross-job reuse is exactly what exchange reuse canNOT
    provide; measured without the cache the query pays the edge build
    twice and the closure loses its cache-partitioned parallelism:
    5.4 s → 29 s at sf0.1).  Instead of the old module-global registry
    (which leaked the last cache and raced concurrent invocations), the
    persist is scoped by a per-invocation LEASE: a ``weakref.finalize``
    on the returned DataFrame unpersists the oriented frame as soon as
    the caller drops its last reference — deterministic under CPython,
    idempotent, session-stop-safe, and independent per invocation so
    concurrent triangle queries cannot release each other's cache.
    Callers that derive a new frame from the result and drop the
    original should carry the lease with :func:`attach_lease`."""
    deg = (
        edges.select(F.col(a).alias("node"))
        .unionAll(edges.select(F.col(b).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    key_a = F.col("da") * 100000000 + F.col(a)
    key_b = F.col("db") * 100000000 + F.col(b)
    # persisted: the closure scans the oriented edge list twice (the
    # adjacency aggregate and the base-edge side) — without it each
    # consumer rebuilds the edges→degree→orient pipeline from the source
    oriented = (
        edges.join(deg.select(F.col("node").alias(a), F.col("d").alias("da")), a)
        .join(deg.select(F.col("node").alias(b), F.col("d").alias("db")), b)
        .select(
            F.when(key_a < key_b, F.col(a)).otherwise(F.col(b)).alias("u"),
            F.when(key_a < key_b, F.col(b)).otherwise(F.col(a)).alias("v"),
        )
        .persist()
    )
    # Adjacency-intersect closure instead of the wedge self-join: each
    # triangle {u,v,w} has a unique BASE edge u→v (its two orientation-lowest
    # corners), and closes iff w ∈ out(u) ∩ out(v) — so one array_intersect
    # per edge replaces streaming Σ outdeg² wedge rows through a second
    # join (2.3× faster at sf0.1: 6.4 s vs 14 s on the 124.5M-triangle
    # near-complete supplier graph; DuckDB's wedge join needs 30.5 s).
    # Out-lists are bounded by the orientation's O(√E) degree cap, so the
    # per-row arrays stay bounded on hub nodes; at extreme E where √E
    # arrays outgrow a row, fall back to the wedge-join formulation.
    # The adjacency side's strategy is PICKED from its measured size, not
    # left to AQE (r8 VERDICT task 3): its row count is small (one row per
    # non-sink node) but each row carries an O(√E) neighbor array, so its
    # BYTE size sits near the broadcast threshold and AQE's run-to-run
    # size estimates flipped the plan between a slow mid-flight broadcast
    # conversion (measured 32-48 s per pass at sf0.1) and a parallel
    # shuffle join (6-10 s) — a bimodal plan is worse than either mode.
    # The count below (one job over the already-persisted oriented list —
    # it doubles as the cache materialization the closure needs anyway)
    # gives the total neighbor-entry count |E|; at ~24 bytes per entry in
    # a built HashedRelation (8 B long + array/row overhead), a PLANNED
    # broadcast is chosen only when the estimate fits comfortably
    # (default 32 MB) — measured 4.0-5.4 s per pass at sf0.1 (11 MB
    # adjacency) vs 6.3-9.7 s shuffle-hash, and deterministic because the
    # decision is data-driven, not estimate-driven.  Past the threshold —
    # adjacency is O(V·√E) bytes, never broadcastable at 100 TB — it pins
    # SHUFFLE_HASH, which beats sort-merge here because sorting rows with
    # fat arrays pays serialization for no gain.
    n_entries = oriented.count()
    adj_small = n_entries * 24 <= broadcast_bytes_below
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))

    def _pin(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if adj_small else df.hint("shuffle_hash")

    empty = F.array().cast("array<bigint>")
    closed = (
        oriented.select("u", "v")
        .join(
            _pin(adj.select(F.col("u").alias("_u1"), F.col("nbrs").alias("n_u"))),
            F.col("u") == F.col("_u1"),
        )
        .join(
            _pin(adj.select(F.col("u").alias("_u2"), F.col("nbrs").alias("n_v"))),
            F.col("v") == F.col("_u2"),
            "left",
        )
        .select(
            "u",
            "v",
            F.array_intersect("n_u", F.coalesce("n_v", empty)).alias("ww"),
        )
    )
    # single-pass corner credits: each closed base edge contributes its
    # apexes once and its endpoints once per apex — one explode of
    # 3·|triangles| narrow rows straight into a map-side-combined count.
    # Deliberately NOT persisted/branched: a 3-branch credit plan would
    # cache the triangle-membership arrays (O(|triangles|) rows — ~1 GB
    # at sf0.1, unboundable at corpus scale) to save re-scans; one pass
    # needs no cache and each execution pays its true cost.
    credit = F.concat(
        F.col("ww"),
        F.array_repeat(F.col("u"), F.size("ww")),
        F.array_repeat(F.col("v"), F.size("ww")),
    )
    out = (
        closed.select(F.explode(credit).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    out._tamar_cache_lease = _CacheLease(oriented._jdf)
    return out

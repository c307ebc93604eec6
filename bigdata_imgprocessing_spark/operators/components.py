"""Distributed connected components — the final stage of near-dup
clustering (LSH/Jaccard emit candidate PAIRS; dedup needs the transitive
closure: every document mapped to a canonical cluster representative).

Min-label propagation with pointer jumping: each round every node
takes the minimum label among itself, its neighbors' labels
(propagation, moves the min 1 hop), and its label's own label
(shortcutting — comp(comp(v)) — which doubles the distance already
covered). Propagation alone needs O(diameter) rounds; with
shortcutting the effective distance doubles per round, so O(log
diameter) — the same doubling idea as the large-star/small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC'14). Genuinely iterative — not SQL-expressible as one
query, so the driver-contract demo (queries/dedup.py
doc_chain_components) verifies it against an analytic closed-form
oracle instead.

Scale: per round, one shuffle on node id; localCheckpoint between
rounds cuts the exponentially growing lineage (the classic
iterative-algorithm failure mode on Spark). Convergence is detected
by the per-round sum of labels: labels only ever decrease, so the
sum is strictly monotone while anything changes — one tiny agg over
the just-checkpointed partitions instead of an old-vs-new join.

Size switch: a graph of at most ``LOCAL_EDGES`` symmetric edges (exact
count of the checkpointed edge set) is closed by union-find on the
driver instead; the module logger records which path ran and why.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

#: symmetric-edge count at or below which the closure runs as union-find
#: on the driver (1M edges ~ tens of MB collected — bounded driver
#: traffic; a 100 TB near-dup graph exceeds it and never collects).
#: Tests patch it to force the distributed path.
LOCAL_EDGES = 1_000_000


def _symmetric_edges(
    edges: DataFrame, src: str, dst: str, loops: bool = True
) -> tuple[DataFrame, int, int]:
    """The distinct symmetric (a, b) edge set of an undirected
    (src, dst) edge list, checkpointed and counted in one job →
    (sym, n_edges, width). ``loops=False`` drops self-loops.

    Every iteration over ``sym`` keeps its partitioning, so it is
    coalesced here to a width sized to the DATA, capped at cores: a
    default-conf 200 would cost 200 tasks x stages x rounds, and a
    sparse few-thousand-edge graph on one partition runs each round as
    single-task jobs instead of paying per-task overhead x cores x
    rounds (the bytes-per-partition rule of
    spark.sql.files.maxPartitionBytes, applied to iteration state). The
    checkpoint is lazy: the count materializes it, one job, not two."""
    from ..core.session import cache_parallelism

    cores = cache_parallelism(edges.sparkSession)
    if loops:
        sym = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_edges = sym.count()
    else:
        # canonical undirected pairs (pa < pb): half the rows to
        # deduplicate and checkpoint, and the two projections are
        # disjoint, so the symmetric set needs no second distinct
        pairs = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("pa"),
                F.greatest(F.col(src), F.col(dst)).alias("pb"),
            )
            .where(F.col("pa") != F.col("pb"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_edges = 2 * pairs.count()
        sym = pairs.select(F.col("pa").alias("a"), F.col("pb").alias("b")).union(
            pairs.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
        )
    width = max(1, min(cores, n_edges // 50_000))
    return sym.coalesce(width), n_edges, width


#: DuckDB twin of ``_symmetric_edges``: the CTE ``sym(a, b)``, the
#: distinct symmetric edge set of a ``pairs(doc_a, doc_b)`` CTE
DUCK_SYM_EDGES = """sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    )"""

#: DuckDB twin of ``connected_components``: the CTEs ``walk(node,
#: reach)``, every node reachable from each node of ``sym`` (a
#: ``WITH RECURSIVE`` fixpoint), and ``comp(node, comp)``, each node's
#: component labelled by its minimum node id
DUCK_CLOSURE = """walk(node, reach) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT w.node, e.b FROM walk w JOIN sym e ON w.reach = e.a
    ),
    comp AS (SELECT node, min(reach) AS comp FROM walk GROUP BY node)"""


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """(src, dst) undirected edge list → (node, comp) with comp = min
    node id in the component. Nodes appear iff they occur in an edge;
    union isolated nodes afterwards if needed. Pass a dict as ``stats``
    to receive {n_edges, width, rounds} — the scale-stress harness uses
    it to verify the O(log diameter) round-count claim empirically."""
    from ..core.session import local_frame

    # eager=False throughout: every localCheckpoint here is followed
    # immediately by an action (count / convergence sum), so the lazy
    # form lets that action materialize the checkpoint — one Spark job
    # per round instead of two (measured on er_golden_record: the
    # query's wall is stage-scheduling overhead, not executor time, so
    # job count IS the cost).
    sym, n_edges, width = _symmetric_edges(edges, src, dst)
    # SIZE-CONDITIONAL closure (r16): below the edge threshold the
    # whole graph fits comfortably on the driver (the broadcast-join
    # principle — small side to the driver), and the iterative rounds
    # are pure fixed job latency: er_golden_record's 1,736-edge string
    # graph ran SEVEN rounds x several jobs each (~66 jobs/run, the
    # query's dominant cost at sf0.1). Union-find computes the
    # identical (node, comp = min node id) labeling in microseconds.
    # The distributed loop below is unchanged and takes over past
    # LOCAL_EDGES.
    local = n_edges <= LOCAL_EDGES
    _log.info(
        "connected_components %s path: %d symmetric edges, local at <= %d",
        "local" if local else "distributed", n_edges, LOCAL_EDGES,
    )
    if local:
        # two Arrow columns, not up to LOCAL_EDGES PySpark Row objects
        cols = sym.toArrow()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in zip(cols["a"].to_pylist(), cols["b"].to_pylist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            root = find(node)
            m = comp_min.get(root)
            if m is None or node < m:
                comp_min[root] = node
        out_rows = [(n, comp_min[find(n)]) for n in parent]
        if stats is not None:
            stats.update(n_edges=n_edges, width=1, rounds=0)
        node_t = sym.schema["a"].dataType.simpleString()
        schema = f"node {node_t}, comp {node_t}"
        return local_frame(edges.sparkSession, out_rows, schema)
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("min_nbr"))
        .select(F.col("a").alias("node"), F.least("min_nbr", F.col("a")).alias("comp"))
        .coalesce(width)
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    rounds = 0

    for _ in range(max_iter):
        rounds += 1
        nbr = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), F.col("comp")
        )
        jump = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.comp") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"), F.col("l2.comp").alias("comp"))
        )
        labels = (
            labels.union(nbr)
            .union(jump)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .coalesce(width)
            # cut lineage growth between rounds; materialized by the
            # convergence sum below (eager would cost a second job)
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("comp")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    if stats is not None:
        stats.update(n_edges=n_edges, width=width, rounds=rounds)
    return labels


def min_label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous FIXED-ROUND min-label propagation: (src, dst)
    undirected edges → (node, lbl) where lbl = min node id within
    ``rounds`` hops. The second classic iterative-graph shape next to
    ``connected_components``: NO pointer jumping, so information moves
    exactly one hop per round — after R rounds the label is a
    radius-R neighborhood minimum, not the component minimum. That
    bounded-propagation semantics is what community detection's
    fixed-iteration LPA family (Raghavan et al. 2007, here with the
    deterministic min tie-rule instead of most-frequent-neighbor) relies
    on, and it is exactly R-fold self-join expressible, so a chained-CTE
    oracle can replicate it — unlike the run-to-convergence closure.

    Scale: per round ONE shuffle of the sparse edge list keyed by node
    (the static symmetric edges are localCheckpointed once, never
    recomputed); labels are (node, lbl) pairs — graph-node-sized, not
    corpus-sized; localCheckpoint per round cuts the lineage growth that
    otherwise re-analyzes the whole chain each iteration (the
    connected-components/pagerank lesson applied at design time)."""
    sym, _, width = _symmetric_edges(edges, src, dst)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .coalesce(width)
        .localCheckpoint()
    )
    for _ in range(rounds):
        nbr = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"), F.col("lbl")
        )
        labels = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .coalesce(width)
            .localCheckpoint()
        )
    return labels


def neighborhood_function(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    rel_tol: float = 0.08,
) -> list[tuple[int, int, int, bool]]:
    """HyperBall-style neighborhood function (Boldi/Vigna, "HyperBall:
    ... in a fistful of bytes", 2013): per round r, the sum over nodes
    of |ball_r(v)| — the count of nodes within <= r hops — which is the
    curve whose knee is the graph's effective diameter. Two legs run in
    lockstep: the EXACT ball sizes via iterated frontier expansion over
    distinct (v, u) reach pairs, and the HyperBall leg proper — one HLL
    sketch per node, each round unioned with the neighbors' sketches
    (``hll_union_agg``), which is the representation that scales: at
    100 TB the exact reach-pair state is quadratic in ball volume while
    the sketch state is a fixed few KB per node, and register-wise max
    makes the union order-insensitive (deterministic regardless of
    partitioning). Returns [(round, n_nodes, sum_ball_exact, est_ok)]
    for r in 0..rounds, where est_ok is True iff EVERY node's sketch
    estimate is within ``rel_tol`` of its exact ball size — the audit
    contract (exact values + pinned boolean) shared with the HLL/KLL
    sketch queries, run at audit scale before trusting the sketch-only
    variant on the full corpus.

    Scale: per round one node-keyed shuffle for the sketch union and
    one for the exact expansion; LAZY localCheckpoint per round cuts
    iterative lineage (the connected-components lesson) without paying
    one materialization job per round — each round's reach/sketch
    frame is referenced twice downstream (next round's union+join and
    its own stats), the checkpoint cache computes it exactly once, and
    the per-round stat aggregates are unioned into ONE deferred
    collect, so the whole fixed-round iteration executes as one job
    instead of 3 per round (a ~10% end-to-end win at sf0.1 — the
    dominant cost is the upstream LSH candidate pipeline, not the
    iteration). Rounds are a constant; 4 scalars per round reach the
    driver."""
    sym, _, width = _symmetric_edges(edges, src, dst, loops=False)
    reach = (
        sym.select(F.col("a").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("u"))
        .coalesce(width)
        .localCheckpoint(eager=False)
    )
    sk = (
        reach.groupBy(F.col("v").alias("node"))
        .agg(F.hll_sketch_agg("v").alias("sk"))
        .coalesce(width)
        .localCheckpoint(eager=False)
    )
    per_round = []
    for r in range(rounds + 1):
        if r > 0:
            ext = reach.join(sym, reach.u == sym.a).select(
                "v", F.col("b").alias("u")
            )
            reach = (
                reach.union(ext)
                .distinct()
                .coalesce(width)
                .localCheckpoint(eager=False)
            )
            nbr = sym.join(sk, sym.b == sk.node).groupBy(
                F.col("a").alias("node")
            ).agg(F.hll_union_agg("sk").alias("nsk"))
            sk = (
                sk.join(nbr, "node", "left")
                .select(
                    "node",
                    F.when(
                        F.col("nsk").isNull(), F.col("sk")
                    ).otherwise(F.hll_union("sk", "nsk")).alias("sk"),
                )
                .coalesce(width)
                .localCheckpoint(eager=False)
            )
        exact = reach.groupBy(F.col("v").alias("node")).agg(
            F.count("*").alias("ball")
        )
        est = sk.select("node", F.hll_sketch_estimate("sk").alias("est"))
        per_round.append(
            exact.join(est, "node").agg(
                F.lit(r).cast("bigint").alias("reach_round"),
                F.count("*").alias("n_nodes"),
                F.sum("ball").alias("sum_ball"),
                F.min(
                    F.abs(F.col("est") - F.col("ball"))
                    <= F.lit(rel_tol) * F.col("ball")
                ).alias("est_ok"),
            )
        )
    stats = per_round[0]
    for frame in per_round[1:]:
        stats = stats.union(frame)
    return [
        (row.reach_round, row.n_nodes, row.sum_ball, bool(row.est_ok))
        for row in sorted(stats.collect(), key=lambda x: x.reach_round)
    ]


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    rounds: int = 3,
) -> list[tuple[int, int, int]]:
    """Synchronous FIXED-ROUND k-core peeling: (src, dst) undirected
    edges → per-round [(round, n_alive, n_edges_alive)] for rounds
    0..``rounds``. Round r+1 keeps exactly the alive nodes whose degree
    WITHIN the round-r alive set is >= k (all removals in a round are
    simultaneous — the Matula/Beck peeling step, iterated a fixed
    number of times instead of to the degeneracy fixpoint). The third
    iterative-graph shape next to ``connected_components`` (closure)
    and ``min_label_propagation`` (bounded spread): peeling measures
    DENSITY — pendant chains of a near-dup cluster melt off while its
    k-connected core survives, which is how a dedup review separates
    "hub document with many weak matches" from "genuinely mutually
    duplicated block". Fixed rounds keep it R-fold-join expressible so
    a chained-CTE oracle can replay every synchronous step.

    Returns driver-side counts (2 scalars per round — the per-round
    aggregate IS the result; the alive frames never leave the
    executors). Scale: per round one node-keyed shuffle of the sparse
    symmetric edge list (two broadcast semi joins into the degree agg).
    The round-r degree frame does TRIPLE duty — the round's alive-edge
    count (sum(deg)/2), the NEXT round's alive count (rows with
    deg >= k, folded into the same scalar aggregate), and the next
    round's alive filter — so each round costs exactly two shallow
    jobs: the checkpoint that materializes deg and one scalar agg over
    it. localCheckpoint per round cuts logical lineage; without it the
    two semi-join references to `alive` double the nested plan every
    round (exponential analysis blowup — measured 2.2x slower with
    cache() instead at 3 rounds)."""
    sym, _, width = _symmetric_edges(edges, src, dst, loops=False)
    out: list[tuple[int, int, int]] = []
    n_alive = None  # round 0: every node of sym has degree >= 1
    deg = None
    for r in range(rounds + 1):
        if r == 0:
            # full-graph degrees: the alive set is all nodes, so the
            # semi joins would filter nothing — skip them.
            deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
        else:
            alive = (
                deg.where(F.col("deg") >= k).select(F.col("a").alias("node"))
            )
            deg = (
                sym.join(alive, sym.a == alive.node, "semi")
                .join(alive, sym.b == alive.node, "semi")
                .groupBy("a")
                .agg(F.count("*").alias("deg"))
            )
        deg = deg.coalesce(width).localCheckpoint()
        stats = deg.agg(
            F.count("*").alias("n_nodes"),
            F.coalesce(F.sum("deg"), F.lit(0)).alias("deg_sum"),
            F.coalesce(
                F.sum((F.col("deg") >= k).cast("long")), F.lit(0)
            ).alias("n_next"),
        ).collect()[0]
        out.append(
            (r, stats.n_nodes if n_alive is None else n_alive, stats.deg_sum // 2)
        )
        n_alive = stats.n_next
    return out

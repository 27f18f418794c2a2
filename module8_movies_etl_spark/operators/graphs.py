"""Graph analytics over pair tables: degree-oriented triangle
counting (beside the label-propagation connected components in
``dedup.connected_components``).

Near-dup pair generators (Jaccard/MinHash/SimHash/embedding) emit an
edge list; its triangle density is the standard graph-level QA signal
for a dedup run — a clique-heavy graph means transitive clusters (one
template spammed everywhere), a triangle-free one means chains of
borderline pairs where single-linkage clustering over-merges. The
same primitive powers clustering-coefficient features at 100 TB.

Reference seed: the reference has no graph surface; this extends the
dedup-decision toolbox (SURVEY.md §2.13).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _doubled_edges(pairs: DataFrame) -> DataFrame:
    """Undirected pair list -> directed (s, t) edge list with each
    edge in both directions — the shared preamble of every
    propagation-style traversal here (pagerank, khop_distances)."""
    return pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("t")
    ).unionByName(
        pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("t"))
    )


def count_triangles(pairs: DataFrame) -> DataFrame:
    """Global triangle/edge/node counts of an undirected pair graph
    (columns ``id_a``, ``id_b``; each undirected edge present once).

    Algorithm — DEGREE-ORIENTED wedge join (the MapReduce-classic
    Cohen / Suri-Vassilvitskii shape, the one that survives power-law
    graphs): orient every edge from its lower-degree endpoint to the
    higher-degree one (ties by id). Every triangle then has exactly
    one node with two OUT-edges (its lowest-degree corner), so wedges
    are generated by self-joining the oriented list on the source
    node, and each candidate wedge is checked for closure with one
    semi-join against the oriented edges. Out-degrees are bounded by
    O(sqrt(E)) after orientation — the hub that would explode a naive
    (src self-join) wedge count only ever RECEIVES edges, so the
    wedge volume is Σ d_out² ≤ E^1.5, not Σ d².

    ``pairs`` is SNAPSHOT to scratch on entry: it is usually the tail
    of an expensive similarity pipeline and this plan consumes it five
    times (degrees twice, orientation, closure probe, edge count) —
    without the snapshot each consumer re-executes the whole pair
    generation from the corpus scan. Three shuffles at scale: degree
    aggregate, wedge self-join on the source key, closure semi-join on
    the (lo, hi) edge key. The wedge COUNT is Σ_src C(d_out, 2) — pure
    arithmetic on the out-degree aggregate, never a second wedge join.
    Everything folds into ONE lazy plan (scalar aggregates cross-
    joined), so the result row is a single job.

    Returns one row: (n_triangles, n_wedges, n_edges, n_nodes).
    """
    from ..sources.scratch import snapshot

    e = snapshot(pairs.select("id_a", "id_b"), prefix="triangle_edges_")
    deg = (
        e.select(F.col("id_a").alias("v"))
        .unionByName(e.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("id_a"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("id_b"), F.col("d").alias("_db"))
    with_deg = e.join(da, "id_a").join(db, "id_b")
    # orient: src = lower-degree endpoint (tie -> lower id)
    src_is_a = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = with_deg.select(
        F.when(src_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("src"),
        F.when(src_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("dst"),
    )
    # wedges: two out-edges of one source; order endpoints so the
    # closure lookup key is canonical regardless of orientation
    o1 = oriented.select(F.col("src"), F.col("dst").alias("_u"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("_w"))
    wedges = o1.join(o2, "src").filter(F.col("_u") < F.col("_w"))
    canon = e.select(
        F.least("id_a", "id_b").alias("_u"), F.greatest("id_a", "id_b").alias("_w")
    )
    tri = wedges.join(canon, ["_u", "_w"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    wedge_cnt = (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_dout"))
        .agg(
            F.sum(F.col("_dout") * (F.col("_dout") - 1) / 2)
            .cast("long")
            .alias("n_wedges")
        )
    )
    edge_cnt = e.agg(F.count(F.lit(1)).alias("n_edges"))
    node_cnt = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return tri.crossJoin(wedge_cnt).crossJoin(edge_cnt).crossJoin(node_cnt)


def pagerank(
    pairs: DataFrame,
    damping: float = 0.85,
    n_iters: int = 5,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph
    (``id_a``/``id_b``, each undirected edge once) — the centrality
    signal that ranks which document in a near-dup cluster is the
    "canonical" one (most-connected), and the second classic iterative
    graph op beside ``dedup.connected_components``.

    p_{k+1}(v) = (1-d)/N + d · Σ_{u∈nbr(v)} p_k(u)/deg(u), run for a
    FIXED ``n_iters`` rounds from the uniform vector — fixed rounds
    (not convergence detection) keep the result bit-reproducible and
    SQL-replayable by unrolling. Nodes are those with ≥1 edge, so the
    undirected graph has no dangling mass to redistribute.

    Scale shape: the doubled edge list (with each source's out-degree
    attached) is SNAPSHOT once — the only materialization. The
    rounds themselves stay LAZY, unlike ``connected_components``:
    that loop must snapshot per round because its round count is
    unbounded and each round's convergence count is a driver action,
    but a FIXED-round chain with no driver actions is one job whose
    plan depth is n_iters joins — each rank table is consumed exactly
    once, so nothing re-executes, and failure recovery restarts from
    the edges snapshot (measured: lazy 10.0 s vs 14.9 s with
    per-round snapshots at sf0.1 — five parquet round-trips were pure
    overhead). Every round is one (edge ⋈ rank) join + one
    sum-by-destination aggregate, both keyed on the node, so the
    exchange layout repeats round over round; at bench scale AQE
    broadcasts the node-grain rank table, at 100 TB the joins align
    on the node hash.

    Returns (node, rank) with rank rounded(6) — double summation
    order across engines wiggles ~1e-13, far inside the rounding.
    An EMPTY pair graph returns an empty (node, rank) frame (no
    nodes → nothing to rank) instead of dividing by the node count.
    """
    from ..sources.scratch import snapshot

    e = _doubled_edges(pairs)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    edges = snapshot(e.join(deg, "s"), prefix="pagerank_edges_")
    n = edges.select("s").distinct().count()
    if n == 0:
        return (
            edges.select(F.col("s").alias("node"))
            .withColumn("rank", F.lit(0.0))
            .limit(0)
        )
    base = (1.0 - damping) / n
    if n_iters < 1:  # degenerate: the uniform init vector itself
        return (
            edges.select("s")
            .distinct()
            .select(
                F.col("s").alias("node"),
                F.round(F.lit(1.0 / n), 6).alias("rank"),
            )
        )
    # Round 1 folded into a plain edge aggregate (r12, the CC round-1
    # discipline): p₀ is the UNIFORM vector, so round 1's
    # (edge ⋈ rank) join contributes exactly (1/n)/d(s) per edge —
    # the join against a constant-valued rank table and the node
    # distinct that built it were pure overhead. Per-edge arithmetic
    # is the identical IEEE expression ((1.0/n) / d), and the 6-dp
    # output rounding absorbs the ~1e-13 summation-order wiggle the
    # oracle contract already tolerates cross-engine.
    contrib = edges.groupBy("t").agg(
        F.sum(F.lit(1.0 / n) / F.col("d")).alias("_in")
    )
    ranks = contrib.select(
        F.col("t").alias("node"),
        (F.lit(base) + F.lit(damping) * F.col("_in")).alias("p"),
    )
    for _ in range(n_iters - 1):
        contrib = (
            edges.join(ranks, edges.s == ranks.node)
            .select("t", (F.col("p") / F.col("d")).alias("_c"))
            .groupBy("t")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = contrib.select(
            F.col("t").alias("node"),
            (F.lit(base) + F.lit(damping) * F.col("_in")).alias("p"),
        )
    return ranks.select("node", F.round("p", 6).alias("rank"))


def khop_distances(
    pairs: DataFrame,
    seeds: DataFrame,
    id_col: str = "node",
    k: int = 3,
) -> DataFrame:
    """Multi-source BFS: every node's hop distance to the NEAREST seed,
    bounded at ``k`` hops, over an undirected pair graph
    (``id_a``/``id_b``, each undirected edge once) — the traversal
    primitive beside components (``dedup.connected_components``),
    centrality (``pagerank``), and closure (``count_triangles``). The
    dedup read: how far a document sits from a known-bad seed set in
    the near-dup graph (contamination spreads along near-dup edges).

    Level-synchronous LAZY frontiers over one snapshotted doubled
    edge list: level h's frontier is the distinct node set reachable
    in exactly h expansions (deduped EVERY level — without it the
    expansion enumerates walks, and walk multiplicity grows with
    degree^h on hub-heavy near-dup graphs), and the final union +
    min-by-node collapses a node reached at several levels to its
    first (= BFS) distance. Union branch h contains the join/distinct
    chain of levels 1..h, so the chains share identical shuffle
    prefixes — exchange reuse collapses the repeats inside the single
    final job (verified: the AQE-final executed plan carries 5
    ReusedExchange nodes at k=3), keeping the executed work linear in
    k without per-level materialization
    (measured: per-level parquet snapshots were 2.4× slower at bench
    scale — five eager write barriers against one reuse-friendly
    job). The naive alternative — carrying ONE running dist frame
    through union+min each round — consumes each round's result
    twice and re-executes it 2^(k-h) times; the layered form caps
    re-derivation at the exchange-reuse level instead. Nodes
    unreachable within ``k`` hops are absent from the output.

    Seeds outside the edge list still appear at distance 0 (a seed is
    trivially at distance 0 from itself, connected or not).

    Returns (node, dist), dist in [0, k].
    """
    from ..sources.scratch import snapshot

    edges = snapshot(_doubled_edges(pairs), prefix="khop_edges_")
    frontier = seeds.select(F.col(id_col).alias("node")).distinct()
    layers = [frontier.select("node", F.lit(0).cast("int").alias("dist"))]
    for h in range(1, k + 1):
        frontier = (
            edges.join(frontier, edges.s == frontier.node)
            .select(F.col("t").alias("node"))
            .distinct()
        )
        layers.append(
            frontier.select("node", F.lit(h).cast("int").alias("dist"))
        )
    out = layers[0]
    for lyr in layers[1:]:
        out = out.unionByName(lyr)
    return out.groupBy("node").agg(F.min("dist").alias("dist"))


def adamic_adar_links(
    pairs: DataFrame,
    top_k: int = 100,
    max_hub_degree: int = 10_000,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected pair graph
    (``id_a``/``id_b``, each undirected edge once): for every NON-edge
    (a, b) with at least one common neighbor, score
    AA(a,b) = Σ_{x ∈ N(a)∩N(b)} 1/ln(deg x) — the classic "which
    near-dup pairs did the candidate generator MISS" audit signal
    (high-AA non-edges in an LSH dup graph are pairs every neighbor
    agrees about but no band caught), and the standard co-visitation
    link predictor.

    Cross-engine determinism: per-neighbor weights are rounded to
    8 dp and summed as DECIMAL (order-independent exact addition), so
    the (score, id_a, id_b) total order — and therefore the top-k
    cut — is bit-identical in SQL. deg(x) ≥ 2 for any common
    neighbor, so ln never hits zero.

    Scale shape: ONE wedge self-join on the center node (the AA cost
    is Σ deg², paid by every implementation); intermediates above
    ``max_hub_degree`` are excluded — their per-wedge weight
    1/ln(deg) is near-constant-small while their wedge fan-out is
    quadratic, the standard hub-cap trade. MEASURED (round 11,
    BENCH_AA_CAP.json — the sf1.0 dup graph: 3.39M edges, 20k nodes,
    max degree 589): caps above the max degree are free (cap 10⁴
    303.0 s, cap 10³ 285.2 s, top-100 overlap 1.0), but cap 100 —
    below the hot-center tier — runs 1.74 s (174×) with top-100
    overlap 0.000: unlike a minhash hot BUCKET (evidence-free random
    collisions), a hot wedge CENTER carries most of the score mass
    (AA sums over wedges, so the dominant terms live exactly in the
    hubs), and capping below it changes the question, not just the
    precision. The default therefore stays 10⁴ (uncapped at bench
    scale); at 100 TB, size the cap ABOVE the corpus's real hub tier
    (sample the degree distribution first) and treat sub-hub caps as
    an explicit low-degree-links-only mode. The trade is pinned by
    ``test_round14.test_adamic_adar_hub_cap_changes_the_question``.
    Non-edges are one anti-join against the canonical edge list; the
    cut is a distributed TakeOrderedAndProject, never a global-sort
    window.
    """
    from ..sources.scratch import snapshot

    e = snapshot(pairs.select("id_a", "id_b"), prefix="aa_edges_")
    dbl = _doubled_edges(e)
    deg = dbl.groupBy("s").agg(F.count(F.lit(1)).alias("_d"))
    mid = (
        dbl.join(deg, "s")
        .filter((F.col("_d") >= 2) & (F.col("_d") <= max_hub_degree))
        .select(
            "s",
            "t",
            F.round(F.lit(1.0) / F.log(F.col("_d").cast("double")), 8)
            .cast("decimal(18,8)")
            .alias("_w"),
        )
    )
    w1 = mid.select("s", F.col("t").alias("_a"), "_w")
    w2 = mid.select("s", F.col("t").alias("_b"))
    wedges = w1.join(w2, "s").filter(F.col("_a") < F.col("_b"))
    scored = wedges.groupBy("_a", "_b").agg(
        F.sum("_w").alias("_score"), F.count(F.lit(1)).alias("n_common")
    )
    canon = e.select(
        F.least("id_a", "id_b").alias("_a"), F.greatest("id_a", "id_b").alias("_b")
    )
    non_edges = scored.join(canon, ["_a", "_b"], "left_anti")
    return (
        non_edges.orderBy(F.col("_score").desc(), "_a", "_b")
        .limit(top_k)
        .select(
            F.col("_a").alias("id_a"),
            F.col("_b").alias("id_b"),
            "n_common",
            F.round(F.col("_score").cast("double"), 6).alias("aa_score"),
        )
    )


def label_propagation(
    pairs: DataFrame,
    n_rounds: int = 4,
) -> DataFrame:
    """Fixed-round LABEL PROPAGATION communities over an undirected
    pair graph — the third classic iterative graph op beside
    ``dedup.connected_components`` (min-label closure: one component
    per REACHABLE set) and ``pagerank`` (centrality): LPA instead
    groups nodes into DENSELY-linked neighborhoods, splitting a
    chained near-dup cluster into its tight cores.

    Synchronous update, every node starts as its own label; each
    round a node takes the most frequent label among its NEIGHBORS,
    ties broken by MINIMUM label — fixed rounds + deterministic ties
    make the result bit-reproducible and SQL-replayable by unrolling
    (synchronous LPA can oscillate on bipartite structures; fixed
    rounds make that a defined, replayable outcome rather than a
    convergence question, the pagerank discipline — the period-2
    cycles on C4 and K_{1,3} are hand-traced and the n_rounds-parity
    contract pinned in tests/test_round13.py).

    Scale shape mirrors ``pagerank``: the doubled edge list is the
    one snapshot; each round is one (edge ⋈ label) join + a
    (node, label)-grain count + one row_number per node — the label
    table is consumed exactly ONCE per round, so the chain stays
    lazy with linear plan depth. Returns (node, community,
    community_size).
    """
    from pyspark.sql import Window

    from ..sources.scratch import snapshot

    edges = snapshot(_doubled_edges(pairs), prefix="lpa_edges_")
    pick = Window.partitionBy("t").orderBy(
        F.desc("_c"), F.asc("label")
    )
    if n_rounds < 1:  # degenerate: every node its own label
        labels = edges.select("s").distinct().select(
            F.col("s").alias("node"), F.col("s").alias("label")
        )
    else:
        # Round 1 folded into a plain edge aggregate (r12, the CC
        # round-1 discipline): labels start as the identity map, so
        # every round-1 neighbor label is that neighbor's own id —
        # the doubled edge list holds each neighbor once, all counts
        # are 1, and the (count DESC, label ASC) pick degenerates to
        # MIN neighbor id. One aggregation replaces the identity
        # node-distinct, the round-1 join, the (t, label) count and
        # the per-node row_number window.
        labels = edges.groupBy("t").agg(F.min("s").alias("label")).select(
            F.col("t").alias("node"), "label"
        )
    for _ in range(max(n_rounds - 1, 0)):
        labels = (
            edges.join(labels, edges.s == labels.node)
            .groupBy("t", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
            .withColumn("_rn", F.row_number().over(pick))
            .filter(F.col("_rn") == 1)
            .select(F.col("t").alias("node"), "label")
        )
    size_w = Window.partitionBy("label")
    return labels.select(
        "node",
        F.col("label").alias("community"),
        F.count(F.lit(1)).over(size_w).cast("long").alias(
            "community_size"
        ),
    )


def ring_chord_graph(
    df: DataFrame,
    key_col: str,
    chord_a: int = 48271,
    chord_b: int = 11,
) -> DataFrame:
    """CONSTANT-DEGREE graph fixture over the distinct keys of ``df``:
    a 2-regular ring lattice (i → i±1, i±2 mod n) plus one affine
    chord per node (i → (a·i + b) mod n, a permutation, so in+out
    chord degree is exactly 2) — ~3n undirected edges, degree ≈ 6 at
    EVERY scale.

    Why it exists (VERDICT r10 task #6): the dup-graph fixture the
    graph-family scale fits ran on densifies ~quadratically with sf
    (33k → 3.39M edges for 10× rows), so exponents measured in edges
    could not pin the ROW-grain scaling of LPA/PageRank/Adamic-Adar.
    This fixture keeps edges ∝ n (volume_kind ``edges_linear`` in
    BENCH_SCALE3), isolating engine scaling from fixture
    densification.

    Shape: node index 0..n-1 comes from the DISTRIBUTED
    ``robust.global_rank`` over ``key_col`` (never a SinglePartition
    window; scaled keys are non-contiguous so rank — not key
    arithmetic — is the only safe index); edges are three narrow
    projections of the rank column (n rides as a plan literal from
    the rank's total), then one distinct on the canonical (least,
    greatest) pair. One shuffle beyond the rank's own.

    Returns ``pairs(id_a, id_b)`` — the undirected-pair interface
    every graph op here consumes.
    """
    from .robust import global_rank

    nodes, n = global_rank(
        df.select(key_col).distinct(),
        key_col,
        key_col,
        ascending=True,
        out_col="_i",
        payload_cols=[],
    )
    if n < 3:
        raise ValueError(f"ring fixture needs >=3 nodes, got {n}")
    i = F.col("_i")
    raw = (
        nodes.select(i.alias("s"), ((i + 1) % n).alias("t"))
        .unionByName(nodes.select(i.alias("s"), ((i + 2) % n).alias("t")))
        .unionByName(
            nodes.select(
                i.alias("s"), ((i * chord_a + chord_b) % n).alias("t")
            )
        )
        .filter(F.col("s") != F.col("t"))
    )
    return raw.select(
        F.least("s", "t").alias("id_a"),
        F.greatest("s", "t").alias("id_b"),
    ).distinct()


def kcore(
    pairs: DataFrame,
    k: int = 3,
    n_rounds: int = 8,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected pair graph
    (``id_a``/``id_b``): each round drops every node whose CURRENT
    degree is below ``k`` and every edge touching a dropped node,
    ``n_rounds`` times. The k-core is the classic "dense kernel"
    signal on a near-dup graph — nodes that stay in the 3-core sit in
    heavily cross-linked template clusters (the content farms), while
    chains and stars that single-linkage CC would happily merge peel
    away — so it separates "true duplicate neighborhoods" from
    borderline-pair chaining, complementing ``count_triangles``
    (local density) with a global, iterated notion.

    FIXED rounds — not peel-to-fixpoint — keep the op bit-reproducible
    and SQL-replayable by unrolling one CTE layer per round (the
    ``pagerank`` contract); callers pick ``n_rounds`` >= the cascade
    depth they care about, and the result after round r is always a
    SUPERSET of the true k-core, shrinking monotonically.

    Scale shape: the doubled edge list is snapshot once. When the
    snapshot fits under ``spark.sql.autoBroadcastJoinThreshold``
    (``sources.scratch.take_small``), the rounds run in numpy over
    the edge table read whole and start no Spark job. Otherwise each
    round is one degree aggregate + one semi-join of edges against
    surviving nodes ON BOTH ENDPOINTS — all keyed on the node, so the
    exchange layout repeats round over round. The edge frame is
    consumed TWICE per round (degree + filter), which is exactly the
    twice-referenced iterative-state trap, so each round's surviving
    edge list is snapshot before the next round reads it (same
    reasoning as ``dedup.connected_components``; a lazy chain here
    re-executes the whole prefix 2^rounds times), and the snapshot it
    supersedes is discarded.

    Returns ``(node, degree)`` of the surviving subgraph after
    ``n_rounds`` (degree = within-subgraph degree). An empty graph
    or a fully-peeled one returns an empty frame. Pair ids are
    non-NULL: a NULL is no node.
    """
    from ..sources.scratch import discard, snapshot, take_small

    e = snapshot(_doubled_edges(pairs), prefix="kcore_edges_")
    small = take_small(e)
    if small is not None:
        return pairs.sparkSession.createDataFrame(
            _kcore_on_driver(small, k, n_rounds),
            T.StructType([
                T.StructField("node", e.schema["s"].dataType),
                T.StructField("degree", T.LongType(), nullable=False),
            ]),
        )
    for _ in range(n_rounds):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.filter(F.col("_d") >= k).select("s")
        # fixpoint early-exit — RESULT-IDENTICAL to running all
        # remaining rounds: if no node falls below k this round, no
        # edge is removed, so every later round is the identity (the
        # peel is monotone). Two longs per round is the only driver
        # traffic, and it converts the dense-graph regime (nothing
        # peels; measured 52 s for 8 rounds of no-op snapshots on the
        # 3.39M-edge sf1.0 dup graph) into a single-round cost. The
        # SQL oracle still unrolls all n_rounds — identity layers
        # change nothing there either.
        n_prev, n_keep = (
            deg.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(
                    F.when(F.col("_d") >= k, 1).otherwise(0)
                ).alias("_k"),
            ).collect()[0]
        )
        if (n_keep or 0) == n_prev:  # sum() is NULL on an empty graph
            break
        prev, e = e, snapshot(
            e.join(keep, "s")
            .join(keep.select(F.col("s").alias("t")), "t")
            .select("s", "t"),
            prefix="kcore_round_",
        )
        discard(prev)  # superseded: only the last round backs the result
    return (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("s").alias("node"), F.col("degree").cast("long"))
    )


def _kcore_on_driver(edges: pa.Table, k: int, n_rounds: int) -> pa.Table:
    """``kcore``'s peel in numpy over its doubled (s, t) edge table: the
    same ``n_rounds`` and the same early exit when no node falls below
    ``k``. Returns (node, degree) of the surviving edges."""
    # every t is also an s: the table holds both directions
    ids, s = np.unique(edges.column("s").to_numpy(), return_inverse=True)
    t = np.searchsorted(ids, edges.column("t").to_numpy())
    alive = np.ones(len(s), dtype=bool)
    for _ in range(n_rounds):
        degree = np.bincount(s[alive], minlength=len(ids))
        if (degree[degree > 0] >= k).all():
            break
        keep = degree >= k
        alive &= keep[s] & keep[t]
    degree = np.bincount(s[alive], minlength=len(ids))
    return pa.table({"node": ids[degree > 0], "degree": degree[degree > 0]})


def personalized_pagerank(
    pairs: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    n_iters: int = 5,
) -> DataFrame:
    """Personalized PageRank / TrustRank (Gyöngyi et al.): the
    ``pagerank`` power iteration with the teleport mass restricted
    to a SEED set — p ← (1−d)·t + d·M·p with t uniform over the
    seed nodes, run a FIXED ``n_iters`` rounds from p₀ = t. Where
    uniform-teleport PageRank ranks global connectivity, the
    personalized walk scores every node by PROXIMITY TO THE SEEDS —
    the curation primitive for propagating a small verified-clean
    (or verified-spam) document panel's label through the near-dup
    graph to the unlabeled mass.

    ``seeds`` is a one-column frame of node ids; seeds not present
    in the graph are ignored (they can neither receive nor forward
    mass along edges). Unlike ``pagerank``'s contrib-only rank
    table, the rank frame here is NODE-grain every round (seed base
    + left-joined in-mass): a node all of whose in-neighbors hold
    zero mass must still carry its teleport term.

    Scale shape identical to ``pagerank``: snapshot-backed doubled
    edge list with out-degrees, one node-keyed join + one
    sum-by-destination aggregate per round, plus one node-grain left
    join per round for the teleport term — plan depth n_iters, no
    driver actions in the loop, node-count fetch is the same bounded
    ``count()`` the uniform variant does.

    Returns (node, trust) with trust rounded(6); empty graph or
    empty effective seed set → empty frame (no mass anywhere).
    """
    from ..sources.scratch import snapshot

    e = _doubled_edges(pairs)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    edges = snapshot(e.join(deg, "s"), prefix="ppr_edges_")
    nodes = edges.select(F.col("s").alias("node")).distinct()
    seed_nodes = nodes.join(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct(),
        "node",
    )
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        return nodes.withColumn("trust", F.lit(0.0)).limit(0)
    t_val = 1.0 / n_seeds
    base = nodes.join(
        seed_nodes.withColumn("_t", F.lit(t_val)), "node", "left"
    ).select("node", F.coalesce("_t", F.lit(0.0)).alias("t"))
    base = snapshot(base, prefix="ppr_base_")
    # NB (r12): a round-1 fold onto the seed vector (join edges
    # against base.filter(t > 0) instead of the node-grain rank
    # table) was prototyped and measured ~10% SLOWER on the round
    # chain in a same-session alternating A/B (med 0.591 → 0.657 s,
    # sf0.1 dup graph): both forms broadcast their build side here,
    # so the fold only added an extra base-snapshot scan. Unlike the
    # pagerank/LPA folds it removes no aggregate or window — not
    # taken.
    ranks = base.select("node", F.col("t").alias("p"))
    for _ in range(n_iters):
        contrib = (
            edges.join(ranks, edges.s == ranks.node)
            .select("t", (F.col("p") / F.col("d")).alias("_c"))
            .groupBy("t")
            .agg(F.sum("_c").alias("_in"))
            .select(F.col("t").alias("node"), "_in")
        )
        ranks = base.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) * F.col("t")
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("p"),
        )
    return ranks.select("node", F.round("p", 6).alias("trust"))

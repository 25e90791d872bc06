"""Graph analytics on DataFrames: centrality over an edge relation.

Complements the dedup pipeline's connected components (llmops/dedup.py
``dedup_cluster`` — label propagation to fixpoint): PageRank is the other
canonical message-passing workload, and a fixed-iteration unrolling is a
pure Catalyst DAG — joins and aggregates only, no driver loop — so it
carries an EXACT relational oracle (the same unrolling in SQL), unlike
the usual run-until-convergence formulation. The iterative/driver-loop
pattern for open-ended convergence is already demonstrated by
``dedup_cluster`` and ``embed_kmeans``; this module shows the
bounded-round variant that a 100 TB scheduler prefers: k rounds = k
deterministic shuffle stages, no data-dependent control flow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_pubsub_spark.functions.rounding import r4
from cdc_pubsub_spark.registry import register
from cdc_pubsub_spark.tables import load, release_checkpoint

# Deterministic 2-regular interaction graph over the event users: every
# user u follows (7u+3) mod 1000 and (13u+11) mod 1000. Pure function of
# the data (user ids), reproduced verbatim in the oracle — same pattern
# as the dedup corpora (FIXTURES.md §3).
_EDGE_SQL = """
    edges AS (
      SELECT user_id AS src, (user_id * 7 + 3) % 1000 AS dst FROM users
      UNION ALL
      SELECT user_id, (user_id * 13 + 11) % 1000 FROM users
    )
"""


@register(
    "graph_pagerank",
    category="graph",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    {_EDGE_SQL.strip()},
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM users),
    pr0 AS (
      SELECT user_id, 1.0 / n_nodes AS pr FROM users CROSS JOIN n
    ),
    pr1 AS (
      SELECT u.user_id,
             0.15 / max(n.n_nodes)
             + 0.85 * coalesce(sum(p.pr / 2.0), 0.0) AS pr
      FROM users u
      CROSS JOIN n
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN pr0 p ON p.user_id = e.src
      GROUP BY u.user_id
    ),
    pr2 AS (
      SELECT u.user_id,
             0.15 / max(n.n_nodes)
             + 0.85 * coalesce(sum(p.pr / 2.0), 0.0) AS pr
      FROM users u
      CROSS JOIN n
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN pr1 p ON p.user_id = e.src
      GROUP BY u.user_id
    ),
    pr3 AS (
      SELECT u.user_id,
             0.15 / max(n.n_nodes)
             + 0.85 * coalesce(sum(p.pr / 2.0), 0.0) AS pr
      FROM users u
      CROSS JOIN n
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN pr2 p ON p.user_id = e.src
      GROUP BY u.user_id
    )
    SELECT user_id,
           floor(pr * 1e9 * 10000 + 0.5) / 10000 AS rank_ppb
    FROM pr3
    ORDER BY rank_ppb DESC, user_id
    LIMIT 25
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled rounds) over a deterministic
    2-regular user-interaction graph — graph centrality as a pure
    Catalyst DAG.

    Each round is exactly: contributions = rank/out_degree shipped along
    edges (one equi-join), summed per destination (one aggregate), plus
    the teleport term — so k rounds compile to k join+agg stages with NO
    driver-side control flow, the shape a 100 TB scheduler wants
    (data-independent stage count, each round one shuffle keyed on the
    vertex id; GraphX/Pregel does the same per superstep). Because the
    unrolling is static, the oracle replays the identical three rounds
    relationally — an exact hash check on a graph algorithm, not a
    convergence property test. Ranks surface in parts-per-billion with
    the floor-rounding twin (r4-on-ppb) since they are division-created
    doubles. The top-25 is total-ordered (rank desc, user_id).

    For open-ended convergence the engine's fixpoint pattern is
    dedup_cluster's driver loop; degree-normalized contributions here
    use the literal out-degree 2 of the synthetic graph (a general
    implementation joins a degree table — same plan shape, one more
    broadcast).
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
        )
    )
    n = users.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    pr = users.crossJoin(F.broadcast(n)).select(
        "user_id", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            edges.join(pr, edges["src"] == pr["user_id"])
            .select("dst", (F.col("pr") / F.lit(2.0)).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        pr = (
            users.join(contrib, users["user_id"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(n))
            .select(
                "user_id",
                (
                    F.lit(0.15) / F.col("n_nodes")
                    + F.lit(0.85) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.select("user_id", r4(F.col("pr") * 1e9).alias("rank_ppb"))
        .orderBy(F.col("rank_ppb").desc(), "user_id")
        .limit(25)
    )


@register(
    "graph_triangle_count",
    category="graph",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    raw AS (
      SELECT user_id AS a, (user_id + 1) % 1000 AS b FROM users
      UNION ALL
      SELECT user_id, (user_id + 2) % 1000 FROM users
      UNION ALL
      SELECT user_id, (user_id * 7 + 3) % 1000 FROM users
    ),
    edges AS (
      SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
      FROM raw WHERE a <> b
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, count(*) AS n_triangles
    FROM member
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 10
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (top-10 nodes by triangle membership) — the
    canonical 3-way self-join graph workload, on a deterministic user
    graph of ring edges (u, u+1), skip edges (u, u+2) — every
    consecutive triple closes a triangle — plus the 7u+3 long-range
    edges for irregular extra wedges.

    The classical distributed formulation: canonicalize edges to a < b
    (each undirected edge once), then wedges = edges ⋈ edges on the
    middle vertex, closed by a third equi-join probing the wedge's
    endpoints — three shuffle-or-broadcast hash joins, no nested loop.
    At 100 TB the optimization ladder is degree-ordered orientation
    (orient each edge toward the higher-degree endpoint, which bounds
    wedge fan-out by sqrt(m) — the node-iterator++ algorithm) on top of
    the same join plan; AQE's skew split absorbs hub vertices exactly as
    in the dedup joins. Top-10 is total-ordered (count desc, node).
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()

    def edge(mult: int, add: int) -> DataFrame:
        return users.select(
            F.col("user_id").alias("s"),
            ((F.col("user_id") * mult + add) % 1000).alias("t"),
        )

    raw = edge(1, 1).unionByName(edge(1, 2)).unionByName(edge(7, 3))
    edges = (
        raw.filter(F.col("s") != F.col("t"))
        .select(
            F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    member = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    return (
        member.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(10)
    )


def _cc_doubling_sql(rounds: int) -> str:
    """Statically unrolled pointer-doubling CTE chain: p{k+1}(u) = p{k}(p{k}(u))."""
    ctes = []
    for k in range(1, rounds + 1):
        prev = f"p{k - 1}"
        ctes.append(
            f"p{k} AS (SELECT a.node, b.parent FROM {prev} a "
            f"JOIN {prev} b ON a.parent = b.node)"
        )
    return ",\n    ".join(ctes)


@register(
    "graph_connected_components",
    category="graph",
    bench=False,  # 9 sequential join stages on a 1000-row relation: the
    # timed cost is Spark's per-stage scheduling/codegen floor (~6 s for
    # ~10 KB of data), not query work — same exclusion rationale as
    # dedup_near. Correctness still gates via the sf0.01 oracle; the
    # op's value is the log-round stage count at real scale.
    oracle=f"""
    WITH nodes AS (SELECT DISTINCT user_id % 1000 AS node FROM events),
    p0 AS (
      SELECT n.node,
             CASE WHEN m.node IS NOT NULL THEN n.node - 7 ELSE n.node END AS parent
      FROM nodes n LEFT JOIN nodes m ON m.node = n.node - 7
    ),
    {_cc_doubling_sql(8)}
    SELECT parent AS component_root,
           count(*) AS n_members,
           min(node) AS min_node,
           max(node) AS max_node
    FROM p8
    GROUP BY parent
    ORDER BY component_root
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by pointer doubling (8 unrolled rounds) — the
    log-diameter CC algorithm as a pure Catalyst DAG with an exact
    relational oracle.

    The deterministic graph is 7 disjoint chains over the event users
    (node → node-7 while that node exists; ids folded mod 1000, same
    universe as the sibling graph ops): max chain length 143, so
    pointer doubling — parent(u) := parent(parent(u)), doubling the hop
    distance each round — converges every node to its chain root in
    ceil(log2(143)) = 8 self-joins. That log-round bound is the whole
    point at 100 TB: naive min-label propagation needs diameter (here
    143) shuffle rounds, doubling needs 8, each one equi-join of the
    node→parent relation with itself on an integer key (the
    Shiloach-Vishkin / "hash-to-min" MapReduce CC idea). Stage count is
    data-independent — fixed 8 rounds covers any diameter ≤ 256 — so
    unlike fixpoint loops the plan is one static DAG, and the identical
    unrolling runs in SQL for an exact hash check (dedup_cluster covers
    the run-to-convergence driver-loop variant).
    """
    nodes = (
        load(spark, sf_dir, "events")
        .select((F.col("user_id") % 1000).alias("node"))
        .distinct()
    )
    prev_nodes = nodes.select((F.col("node") + 7).alias("succ"))
    p = (
        nodes.join(prev_nodes, nodes["node"] == prev_nodes["succ"], "left")
        .select(
            "node",
            F.when(F.col("succ").isNotNull(), F.col("node") - 7)
            .otherwise(F.col("node"))
            .alias("parent"),
        )
    )
    # p{k+1} references p{k} TWICE (probe and build side of the
    # self-join), so the LOGICAL plan doubles per round; physically,
    # Spark's exchange reuse collapses the identical subtrees again
    # (PLANS.md shows ~39 ReusedExchange markers), so each generation
    # computes once. Measured here, an explicit persist() per round is
    # 7-10x SLOWER: caching materializes every generation as a separate
    # serial job chain and hides size statistics from AQE's broadcast
    # conversion. At 100 TB the persist/checkpoint-per-superstep
    # discipline (cf. dedup_cluster's loop) becomes the right trade —
    # recomputation there costs real I/O, and lineage truncation
    # bounds scheduler state — but it is the wrong default at any
    # scale where exchange reuse suffices.
    for _ in range(8):
        a = p.alias("a")
        b = p.alias("b")
        p = a.join(b, F.col("a.parent") == F.col("b.node")).select(
            F.col("a.node").alias("node"), F.col("b.parent").alias("parent")
        )
    return (
        p.groupBy(F.col("parent").alias("component_root"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("component_root")
    )


@register(
    "graph_cc_converged",
    category="graph",
    bench=False,  # same per-stage scheduling-floor rationale as the
    # unrolled sibling; the op's value is the iteration DISCIPLINE.
    oracle=f"""
    WITH nodes AS (SELECT DISTINCT user_id % 1000 AS node FROM events),
    p0 AS (
      SELECT n.node,
             CASE WHEN m.node IS NOT NULL THEN n.node - 7 ELSE n.node END AS parent
      FROM nodes n LEFT JOIN nodes m ON m.node = n.node - 7
    ),
    {_cc_doubling_sql(8)}
    SELECT parent AS component_root,
           count(*) AS n_members,
           min(node) AS min_node,
           max(node) AS max_node
    FROM p8
    GROUP BY parent
    ORDER BY component_root
    """,
)
def graph_cc_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by pointer doubling, ITERATED TO FIXPOINT —
    the production iteration discipline the statically-unrolled sibling
    can't demonstrate.

    graph_connected_components bakes ceil(log2(max_diameter)) = 8 rounds
    into one Catalyst DAG: perfect for a known diameter bound and an
    exact SQL unrolling, useless when the diameter is unknown — the 100
    TB reality. This twin runs the SAME doubling step in a driver loop
    with the per-superstep discipline an iterative job needs:

    - each generation is persist()ed and the convergence probe
      (count of nodes whose parent still moved) materializes it — ONE
      driver-side scalar per round, never the frame;
    - the superseded generation's checkpoint blocks are released
      immediately via tables.release_checkpoint (DataFrame.unpersist is
      a no-op on checkpointed frames — the CacheManager never tracks
      them), so executor storage holds at most two generations (live +
      in-flight) regardless of round count;
    - each generation is localCheckpoint()ed so lineage stays one round
      deep — without truncation the plan doubles per round (the unroll
      relies on exchange reuse; an unbounded loop cannot) and the
      scheduler chokes on the exponential tree long before round 30;
    - the loop stops when a full doubling round moves nothing, with a
      64-round safety bound (2^64 hop coverage) that can only trip on
      a genuinely pathological graph.

    Same graph, same result: the oracle is the 8-round unrolled SQL,
    which is ALREADY the fixpoint at any fixture scale (chains ≤ 143
    hops), so the hash check certifies that iterate-to-convergence and
    static unrolling agree exactly.
    """
    nodes = (
        load(spark, sf_dir, "events")
        .select((F.col("user_id") % 1000).alias("node"))
        .distinct()
    )
    prev_nodes = nodes.select((F.col("node") + 7).alias("succ"))
    p = (
        nodes.join(prev_nodes, nodes["node"] == prev_nodes["succ"], "left")
        .select(
            "node",
            F.when(F.col("succ").isNotNull(), F.col("node") - 7)
            .otherwise(F.col("node"))
            .alias("parent"),
        )
        .localCheckpoint(eager=True)
    )
    first_gen = p
    last = None
    for _ in range(64):
        a = p.alias("a")
        b = p.alias("b")
        nxt = (
            a.join(b, F.col("a.parent") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.parent").alias("parent"),
                (F.col("b.parent") != F.col("a.parent")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = nxt.filter(F.col("changed")).count()
        if last is not None:
            # NOT DataFrame.unpersist(): checkpoint blocks live outside
            # the CacheManager and need the LogicalRDD-level release
            # (tables.release_checkpoint; verified live that unpersist
            # alone leaves the block resident).
            release_checkpoint(last)
        last = nxt
        p = nxt.drop("changed")
        if first_gen is not None:
            release_checkpoint(first_gen)
            first_gen = None
        if n_changed == 0:
            break
    out = (
        p.groupBy(F.col("parent").alias("component_root"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("component_root")
    )
    # The lazy result reads the last generation's checkpoint blocks, so
    # they stay resident: releasing them would strand any later action
    # (lineage is truncated, blocks unrecoverable).
    return out


_BFS_ROUNDS = 4
_BFS_INF = 99


def _bfs_oracle_sql(rounds: int = _BFS_ROUNDS) -> str:
    """Unrolled min-plus BFS twin. Every round references the previous
    distance frame TWICE (as the carried distance and as the relaxation
    source), so each step is AS MATERIALIZED — a non-materialized CTE
    chain doubles per round and explodes at plan time (the
    sim_rerank_mmr oracle gotcha)."""
    ctes = [
        "users AS MATERIALIZED (SELECT DISTINCT user_id FROM events)",
        _EDGE_SQL.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "d0 AS MATERIALIZED (SELECT user_id, CASE WHEN user_id ="
        " (SELECT min(user_id) FROM users) THEN 0 ELSE"
        f" {_BFS_INF} END AS d FROM users)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"d{t} AS MATERIALIZED (SELECT u.user_id,"
            f" least(u.d, coalesce(min(s.d + 1), {_BFS_INF})) AS d"
            f" FROM d{t-1} u"
            f" LEFT JOIN edges e ON e.dst = u.user_id"
            f" LEFT JOIN d{t-1} s ON s.user_id = e.src"
            f" GROUP BY u.user_id, u.d)"
        )
    body = ",\n".join(ctes)
    return f"""
    WITH {body}
    SELECT d AS hop, count(*) AS n_nodes,
           min(user_id) AS min_user, max(user_id) AS max_user
    FROM d{rounds}
    WHERE d < {_BFS_INF}
    GROUP BY d
    ORDER BY hop
    """


@register(
    "graph_bfs_layers",
    category="graph",
    # bench-excluded like graph_connected_components: 4 unrolled rounds
    # = ~12 tiny AQE stages whose fixture-scale cost is pure scheduling
    # floor (1.6 s serial, ~4 s under conc24), not operator compute.
    bench=False,
    oracle=_bfs_oracle_sql(),
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop layers over the deterministic 2-regular
    user graph: 4 statically-unrolled min-plus relaxation rounds
    (dist(u) := min(dist(u), 1 + min over in-edges of dist(src))) from
    the minimum user id, reporting node count and id range per hop.

    The missing classic beside PageRank (weighted propagation),
    triangles (local counting), and connected components (label
    union): SHORTEST-PATH relaxation. Like graph_pagerank the unroll is
    static — no driver control flow — so the oracle replays the
    identical rounds relationally (each step AS MATERIALIZED: DuckDB
    inlines plain CTEs and the two references per round would explode
    exponentially) and the driver hash-certifies a graph traversal.
    Each round references the previous frame twice (carried distance +
    relaxation source), so the LAZY plan doubles per round; Catalyst's
    ReusedExchange collapses execution back to one shuffle per round
    (PLANS.md shows 20 exchanges with 20 reused). Past ~6 rounds the
    right form is localCheckpoint-per-round (graph_cc_converged's
    discipline); 4 rounds sits below that threshold deliberately. The frontier saturates in 4
    rounds only because the fixture graph is tiny; the open-ended
    variant is graph_cc_converged's driver loop (persist + probe +
    release per superstep) with this op's relaxation step.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
        )
    )
    src0 = users.agg(F.min("user_id").alias("s0"))
    cur = (
        users.crossJoin(F.broadcast(src0))
        .select(
            "user_id",
            F.when(F.col("user_id") == F.col("s0"), F.lit(0))
            .otherwise(F.lit(_BFS_INF))
            .alias("d"),
        )
    )
    for _ in range(_BFS_ROUNDS):
        u = cur.alias("u")
        s = cur.select(
            F.col("user_id").alias("s_id"), F.col("d").alias("s_d")
        )
        cur = (
            u.join(edges, F.col("dst") == F.col("u.user_id"), "left")
            .join(s, F.col("s_id") == F.col("src"), "left")
            .groupBy(F.col("u.user_id").alias("user_id"), F.col("u.d").alias("d0"))
            .agg(F.min(F.col("s_d") + 1).alias("relax"))
            .select(
                "user_id",
                F.least(
                    F.col("d0"), F.coalesce(F.col("relax"), F.lit(_BFS_INF))
                ).alias("d"),
            )
        )
    return (
        cur.filter(F.col("d") < _BFS_INF)
        .groupBy(F.col("d").alias("hop"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
        .orderBy("hop")
    )


# 12 fixed affine maps over the 1000-node id space: each user's neighbor
# set N(u) = { (u·P + O) mod 1000 } for the 12 (P, O) pairs below —
# ~12 pseudo-random neighbors per node, item document-frequency ~12, the
# sparse regime where inverted-index set-similarity joins pay off.  Pure
# function of the data (user ids), restated verbatim in the oracle (the
# FIXTURES.md §3 planted-fixture discipline).
_JACCARD_MAPS = [
    (7, 3), (13, 11), (17, 5), (19, 23), (23, 1), (29, 17),
    (31, 7), (37, 29), (41, 13), (43, 37), (47, 19), (53, 41),
]
_ADJ_SQL = " UNION ALL ".join(
    f"SELECT user_id AS u, (user_id * {p} + {o}) % 1000 AS v FROM users"
    for p, o in _JACCARD_MAPS
)


@register(
    "graph_jaccard_neighbors",
    category="graph",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    adj AS (SELECT DISTINCT u, v FROM ({_ADJ_SQL})),
    deg AS (SELECT u, count(*) AS d FROM adj GROUP BY u),
    df AS (SELECT v, count(*) AS df FROM adj GROUP BY v),
    common AS (
      SELECT a.u AS ua, b.u AS ub, count(*) AS n_common
      FROM adj a
      JOIN adj b ON a.v = b.v AND a.u < b.u
      JOIN df   ON df.v = a.v AND df.df <= 64
      GROUP BY a.u, b.u
    ),
    scored AS (
      SELECT ua, ub, n_common,
             floor(CAST(n_common AS DOUBLE)
                   / (da.d + db.d - n_common) * 10000 + 0.5) / 10000
               AS jaccard
      FROM common
      JOIN deg da ON da.u = ua
      JOIN deg db ON db.u = ub
    )
    SELECT ua, ub, n_common, jaccard
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY jaccard DESC, n_common DESC, ua, ub) AS rn
      FROM scored
    ) WHERE rn <= 20
    ORDER BY jaccard DESC, n_common DESC, ua, ub
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-pair similarity: Jaccard over out-neighbor sets, top-20 pairs.

    The link-prediction / entity-matching primitive, built as an
    INVERTED-INDEX join (never all-pairs): adjacency re-keyed by
    neighbor, pairs generated only where a neighbor is shared, so work
    is Σ_v df(v)² over shared-neighbor document frequencies — with the
    hot-vertex guard (df ≤ 64 here) bounding the quadratic term exactly
    like the prefix-filter guards in dedup_containment.  Degrees join
    back by key (broadcast-sized: one row per node).  Jaccard =
    |A∩B| / (dA + dB − |A∩B|) needs only the co-count and the two
    degrees.  Top-20 is a single TakeOrderedAndProject over a
    deterministic (jaccard, n_common, ua, ub) total order.

    At 100 TB the adjacency is the only fact-sized relation; everything
    shuffles on neighbor id (the natural bucket key), and a production
    variant adds the standard df-descending prefix ordering to shrink
    the candidate join further (PPJoin, as in dedup_minhash_lsh's
    certification tier).
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    # ONE scan + one generator, not a 12-branch union (which re-reads
    # the user relation per map and unions 12 plan branches — measured
    # ~2× plan/scan overhead at bench scale; the array explode emits
    # the same rows from a single pass).
    adj = users.select(
        F.col("user_id").alias("u"),
        F.explode(
            F.array(
                *[
                    ((F.col("user_id") * p + o) % 1000).alias(f"v{p}")
                    for p, o in _JACCARD_MAPS
                ]
            )
        ).alias("v"),
    ).distinct()
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    df = adj.groupBy("v").agg(F.count(F.lit(1)).alias("df"))
    a = adj.alias("a")
    b = adj.alias("b")
    common = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u")))
        .join(F.broadcast(df.alias("df")), F.col("df.v") == F.col("a.v"))
        .filter(F.col("df.df") <= 64)
        .groupBy(F.col("a.u").alias("ua"), F.col("b.u").alias("ub"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("db"))
    scored = (
        common.join(F.broadcast(da), "ua")
        .join(F.broadcast(db), "ub")
        .select(
            "ua",
            "ub",
            "n_common",
            # r4: jaccard is division-created and the top-k sort key —
            # native round() midpoint divergence would reorder the cut.
            r4(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.desc("n_common"), "ua", "ub"
    ).limit(20)


_LP_ROUNDS = 4


def _lp_round_sql(rounds: int) -> str:
    """Statically unrolled synchronous label-propagation rounds: each is
    a neighbor-label count + a per-node argmax with the deterministic
    (count DESC, label ASC) tie-break."""
    ctes = []
    for k in range(1, rounds + 1):
        ctes.append(
            f"""cnt{k} AS MATERIALIZED (
      SELECT e.u AS node, l.lbl AS lbl, count(*) AS c
      FROM edges e JOIN lp{k - 1} l ON l.node = e.v
      GROUP BY e.u, l.lbl
    ),
    lp{k} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM cnt{k}
      ) WHERE rn = 1
    )"""
        )
    return ",\n    ".join(ctes)


def _lp_edges_and_labels(spark: SparkSession, sf_dir: str):
    """Shared LP machinery: the undirected hash graph (both edge
    directions, deduped) and the converged 4-round synchronous
    label assignment. Used by graph_label_propagation (community sizes)
    and graph_modularity (partition quality)."""
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    adj = (
        users.select(
            F.col("user_id").alias("u"),
            F.explode(
                F.array(
                    *[
                        ((F.col("user_id") * p + o) % 1000).alias(f"v{p}")
                        for p, o in _JACCARD_MAPS
                    ]
                )
            ).alias("v"),
        )
        .distinct()
    )
    edges = (
        adj.unionByName(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    lbl = nodes.withColumn("lbl", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.desc("c"), "lbl")
    for _ in range(_LP_ROUNDS):
        cnt = (
            edges.join(lbl, edges.v == lbl.node)
            .groupBy(edges.u.alias("node2"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumnRenamed("node2", "node")
        )
        lbl = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return edges, lbl


# Shared oracle prefix: graph construction + unrolled LP rounds.
_LP_CHAIN_SQL = f"""users AS (SELECT DISTINCT user_id FROM events),
    adj AS (SELECT DISTINCT u, v FROM ({_ADJ_SQL})),
    edges AS MATERIALIZED (
      SELECT u, v FROM adj
      UNION
      SELECT v AS u, u AS v FROM adj
    ),
    lp0 AS MATERIALIZED (
      SELECT node, node AS lbl
      FROM (SELECT u AS node FROM edges
            UNION
            SELECT v AS node FROM edges) nodes
    ),
    {_lp_round_sql(_LP_ROUNDS)}"""


@register(
    "graph_label_propagation",
    category="graph",
    bench=False,  # 8 sequential tiny join/window stages: timed cost is
    # the per-stage scheduling floor, not query work (same exclusion as
    # graph_connected_components).
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    adj AS (SELECT DISTINCT u, v FROM ({_ADJ_SQL})),
    edges AS MATERIALIZED (
      SELECT u, v FROM adj
      UNION
      SELECT v AS u, u AS v FROM adj
    ),
    lp0 AS MATERIALIZED (
      SELECT node, node AS lbl
      FROM (SELECT u AS node FROM edges
            UNION
            SELECT v AS node FROM edges) nodes
    ),
    {_lp_round_sql(_LP_ROUNDS)}
    SELECT lbl AS community,
           count(*)  AS n_members,
           min(node) AS min_node
    FROM lp{_LP_ROUNDS}
    GROUP BY lbl
    ORDER BY n_members DESC, community
    LIMIT 20
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (4 unrolled
    rounds) over the undirected hash graph — the near-linear-time
    community algorithm (Raghavan 2007) as a pure Catalyst DAG with an
    exact relational oracle.

    Async LP with random tie-breaks (the textbook variant) is
    non-deterministic by construction; this is the SYNCHRONOUS variant
    with the total (count DESC, label ASC) tie-break, which makes every
    round a pure function of the previous labeling — the determinism
    device that lets an exact oracle exist at all. Each round is one
    equi-join on the edge list (co-partitioned on the neighbor key) +
    one per-node argmax window; 4 rounds = 8 shuffles on relations that
    never exceed the edge list. At 100 TB the edge list is the only
    fact-sized relation and rounds stay equi-joins on the node key —
    bucketing edges by v makes every round reuse one partitioning
    (the same co-location argument as graph_pagerank); label counts
    per node are bounded by degree, so the window is degree-local.
    Labels converge to dense-community consensus; emitted communities
    are the top-20 by size with a deterministic min-member witness.
    """
    edges, lbl = _lp_edges_and_labels(spark, sf_dir)
    out = (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(20)
    )
    return out


@register(
    "graph_modularity",
    category="graph",
    bench=False,  # rides the LP chain's sequential tiny stages (same
    # scheduling-floor exclusion as graph_label_propagation).
    oracle=f"""
    WITH {_LP_CHAIN_SQL},
    e2 AS MATERIALIZED (SELECT u, v FROM edges WHERE u != v),
    tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM e2),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM e2 GROUP BY 1
    ),
    nd AS MATERIALIZED (
      SELECT l.lbl AS community,
             CAST(count(*) AS BIGINT)            AS n_members,
             CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS d_c
      FROM lp{_LP_ROUNDS} l LEFT JOIN deg USING (node)
      GROUP BY 1
    ),
    inner_c AS MATERIALIZED (
      SELECT l1.lbl AS community, CAST(count(*) AS BIGINT) AS inner_dir
      FROM e2
      JOIN lp{_LP_ROUNDS} l1 ON l1.node = e2.u
      JOIN lp{_LP_ROUNDS} l2 ON l2.node = e2.v AND l2.lbl = l1.lbl
      GROUP BY 1
    ),
    contrib AS MATERIALIZED (
      SELECT nd.community, nd.n_members, nd.d_c,
             coalesce(i.inner_dir, 0) // 2 AS l_c,
             CAST(floor((CAST(coalesce(i.inner_dir, 0) AS DOUBLE)
                           / CAST(tm.two_m AS DOUBLE)
                         - (CAST(nd.d_c AS DOUBLE)
                             / CAST(tm.two_m AS DOUBLE))
                           * (CAST(nd.d_c AS DOUBLE)
                               / CAST(tm.two_m AS DOUBLE)))
                        * 100000000 + 0.5) AS BIGINT) AS q_micro
      FROM nd LEFT JOIN inner_c i USING (community) CROSS JOIN tm
    ),
    qq AS (SELECT CAST(sum(q_micro) AS BIGINT) AS q_total_micro
           FROM contrib)
    SELECT c.community, c.n_members, c.d_c, c.l_c,
           CAST(c.q_micro AS DOUBLE) / 100000000       AS q_contrib,
           CAST(qq.q_total_micro AS DOUBLE) / 100000000 AS q_modularity
    FROM contrib c CROSS JOIN qq
    ORDER BY c.n_members DESC, c.community
    LIMIT 10
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the label-propagation partition — the
    standard "did community detection find real structure?" score
    (Q = Σ_c [L_c/m − (D_c/2m)²], Newman 2004) computed fully
    relationally over the same graph and the same converged labels as
    graph_label_propagation.

    Every ingredient is an exact integer aggregate: 2m = directed
    non-self edge count, D_c = degree mass per community (one join +
    agg), 2·L_c = within-community directed edges (edge relation
    joined to the labeling on BOTH endpoints — two equi-joins on the
    node key, co-partitioned with the LP rounds' own shuffles). The
    double arithmetic happens once per COMMUNITY (not per edge) in a
    fixed expression order (IEEE-exact cross-engine), and per-community
    contributions quantize to integer 1e-8 units before the global sum
    — so Q is an exact BIGINT sum, order-independent, and the op
    hash-certifies (the ml_logreg_quality quantization discipline).
    At 100 TB the edge list is the only fact-sized relation; both
    modularity joins reuse the node-key partitioning the LP rounds
    already established.
    """
    edges, lbl = _lp_edges_and_labels(spark, sf_dir)
    e2 = edges.filter(F.col("u") != F.col("v"))
    tm = e2.agg(F.count(F.lit(1)).cast("bigint").alias("two_m"))
    deg = e2.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    nd = (
        lbl.join(deg, "node", "left")
        .groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(F.coalesce(F.col("d"), F.lit(0)))
            .cast("bigint")
            .alias("d_c"),
        )
    )
    l1 = lbl.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    l2 = lbl.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    inner_c = (
        e2.join(l1, "u")
        .join(l2, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inner_dir"))
    )
    contrib = (
        nd.join(inner_c, "community", "left")
        .crossJoin(F.broadcast(tm))
        .selectExpr(
            "community",
            "n_members",
            "d_c",
            "coalesce(inner_dir, CAST(0 AS BIGINT)) div 2 AS l_c",
            "CAST(floor((CAST(coalesce(inner_dir, 0) AS DOUBLE)"
            " / CAST(two_m AS DOUBLE)"
            " - (CAST(d_c AS DOUBLE) / CAST(two_m AS DOUBLE))"
            " * (CAST(d_c AS DOUBLE) / CAST(two_m AS DOUBLE)))"
            " * 100000000 + 0.5) AS BIGINT) AS q_micro",
        )
    )
    qq = contrib.agg(
        F.sum("q_micro").cast("bigint").alias("q_total_micro")
    )
    out = (
        contrib.crossJoin(F.broadcast(qq))
        .selectExpr(
            "community",
            "n_members",
            "d_c",
            "l_c",
            "CAST(q_micro AS DOUBLE) / 100000000 AS q_contrib",
            "CAST(q_total_micro AS DOUBLE) / 100000000 AS q_modularity",
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(10)
    )
    return out


@register(
    "graph_degree_assortativity",
    category="graph",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    {_EDGE_SQL.strip()},
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d
      FROM (
        SELECT src AS u FROM edges
        UNION ALL
        SELECT dst AS u FROM edges
      ) ep GROUP BY u
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(ds.d) AS BIGINT)        AS sx,
             CAST(sum(dt.d) AS BIGINT)        AS sy,
             CAST(sum(ds.d * ds.d) AS BIGINT) AS sxx,
             CAST(sum(dt.d * dt.d) AS BIGINT) AS syy,
             CAST(sum(ds.d * dt.d) AS BIGINT) AS sxy
      FROM edges e
      JOIN deg ds ON ds.u = e.src
      JOIN deg dt ON dt.u = e.dst
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT n.n_nodes, m.n_edges,
           floor(CAST(m.sx + m.sy AS DOUBLE)
                 / CAST(2 * m.n_edges AS DOUBLE) * 10000 + 0.5) / 10000
             AS avg_end_degree,
           floor((CAST(m.n_edges AS DOUBLE) * CAST(m.sxy AS DOUBLE)
                  - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
                 / sqrt((CAST(m.n_edges AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                         - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                        * (CAST(m.n_edges AS DOUBLE)
                           * CAST(m.syy AS DOUBLE)
                           - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)))
                 * 10000 + 0.5) / 10000 AS assortativity
    FROM mom m CROSS JOIN nn n
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the interaction graph: the Pearson
    correlation, over EDGES, between the total degrees of the two
    endpoints (Newman 2002's mixing coefficient, full-degree variant —
    positive means hubs link to hubs, negative means hub-to-leaf).
    Complements pagerank/modularity with the canonical one-number
    topology diagnostic a feed/abuse pipeline computes per snapshot.

    Pure relational shape: degree = one groupBy over the exploded
    endpoint list (map-side combined), then two equi-joins decorate
    each edge with its endpoint degrees, then ONE moment aggregate
    (6 exact BIGINT sums — degrees are small integers, products stay
    far under 2^63) and a single-row Pearson projection in pinned
    double order (sqrt is IEEE-correctly-rounded on both engines,
    r4-floored output). At 100 TB: the joins shuffle on node id (the
    same key the edge relation is naturally stored by), the moment
    aggregate crosses the wire as 6 BIGINTs per partition, and
    nothing is ever single-partition — the textbook two-pass
    assortativity layout.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.selectExpr(
        "user_id AS src", "(user_id * 7 + 3) % 1000 AS dst"
    ).unionAll(
        users.selectExpr(
            "user_id AS src", "(user_id * 13 + 11) % 1000 AS dst"
        )
    )
    deg = (
        edges.selectExpr("src AS u")
        .unionAll(edges.selectExpr("dst AS u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    mom = (
        edges.join(deg.selectExpr("u AS src", "d AS dx"), "src")
        .join(deg.selectExpr("u AS dst", "d AS dy"), "dst")
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum("dx").cast("bigint").alias("sx"),
            F.sum("dy").cast("bigint").alias("sy"),
            F.sum(F.expr("dx * dx")).cast("bigint").alias("sxx"),
            F.sum(F.expr("dy * dy")).cast("bigint").alias("syy"),
            F.sum(F.expr("dx * dy")).cast("bigint").alias("sxy"),
        )
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return mom.crossJoin(F.broadcast(nn)).selectExpr(
        "n_nodes",
        "n_edges",
        "floor(CAST(sx + sy AS DOUBLE)"
        " / CAST(2 * n_edges AS DOUBLE) * 10000 + 0.5) / 10000"
        " AS avg_end_degree",
        "floor((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / sqrt((CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
        " * 10000 + 0.5) / 10000 AS assortativity",
    )


_KCORE_K = 3
_KCORE_ROUNDS = 5


def _kcore_oracle_sql() -> str:
    """Unrolled peeling: each round drops nodes whose degree in the
    SURVIVING subgraph is < k, then restricts the edge set to
    survivors. MATERIALIZED per step (each CTE is referenced 3× by the
    next round — non-materialized inlining explodes exponentially)."""
    parts = [
        f"""
    users AS (SELECT DISTINCT user_id FROM events),
    {_EDGE_SQL.strip()},
    e0 AS MATERIALIZED (SELECT src, dst FROM edges)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
    d{r} AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS d
      FROM (
        SELECT src AS u FROM e{r - 1}
        UNION ALL
        SELECT dst AS u FROM e{r - 1}
      ) ep GROUP BY u
    ),
    s{r} AS MATERIALIZED (SELECT u FROM d{r} WHERE d >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r - 1} e
      JOIN s{r} a ON a.u = e.src
      JOIN s{r} b ON b.u = e.dst
    )"""
        )
    rows = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM s{r}) AS nodes_alive,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS edges_alive"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return f"WITH{','.join(parts)}\n    SELECT * FROM ({rows}) t ORDER BY round"


@register(
    "graph_kcore",
    category="graph",
    bench=False,  # 5 sequential peel generations: fixture-scale cost is
    # the per-stage scheduling floor (corpus_bpe_train rationale).
    oracle=_kcore_oracle_sql(),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) by iterative PEELING — the third
    message-passing archetype beside pagerank (push) and label
    propagation (pull): each round deletes nodes whose degree in the
    surviving subgraph falls below k, which can cascade (removing a
    leaf demotes its neighbor), so the loop is genuinely iterative.
    k-cores are the standard dense-substructure screen (spam rings,
    community nuclei) and the usual preprocessing cut before expensive
    per-node analytics.

    Both engines run the SAME fixed _KCORE_ROUNDS peels, so the output
    is exact even where round R is not yet a fixpoint (the
    graph_bfs_layers device); the invariant test asserts the cascade
    is monotone and that a reached fixpoint really is one (every
    survivor keeps degree ≥ k). Iteration discipline: the edge frame
    localCheckpoints per generation (the survivor set is referenced by
    BOTH endpoint joins — without truncation the lazy plan triples per
    round), and the per-round observables are two scalar counts, never
    the frame. Scale: each round is one degree aggregate (map-side
    combined) + two hash semi-joins on node id — the same shuffle key
    every round, so a real cluster co-partitions once; rounds are
    data-independent in COUNT (fixed R), keeping the job a static
    5-stage DAG at any size.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.selectExpr(
        "user_id AS src", "(user_id * 7 + 3) % 1000 AS dst"
    ).unionAll(
        users.selectExpr(
            "user_id AS src", "(user_id * 13 + 11) % 1000 AS dst"
        )
    )
    cur = edges.localCheckpoint(eager=True)
    stats: list[tuple[int, int, int]] = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.selectExpr("src AS u")
            .unionAll(cur.selectExpr("dst AS u"))
            .groupBy("u")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )
        surv = deg.filter(F.col("d") >= _KCORE_K).select("u")
        nxt = (
            cur.join(surv.selectExpr("u AS src"), "src")
            .join(surv.selectExpr("u AS dst"), "dst")
            .select("src", "dst")
        ).localCheckpoint(eager=True)
        stats.append((r, surv.count(), nxt.count()))
        release_checkpoint(cur)
        cur = nxt
    release_checkpoint(cur)
    return spark.createDataFrame(
        stats, "round int, nodes_alive bigint, edges_alive bigint"
    ).orderBy("round")


@register(
    "graph_reciprocity",
    category="graph",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    {_EDGE_SQL.strip()},
    e AS (SELECT DISTINCT src, dst FROM edges),
    rec AS (
      SELECT CAST(count(*) AS BIGINT) AS n_recip
      FROM e a
      WHERE EXISTS (
        SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src
      )
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT t.n_edges,
           r.n_recip AS n_reciprocal_edges,
           r.n_recip // 2 AS n_mutual_dyads,
           floor(CAST(r.n_recip AS DOUBLE) / CAST(t.n_edges AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS reciprocity
    FROM tot t CROSS JOIN rec r
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed interaction graph: the fraction of
    (distinct) edges whose reverse edge also exists — the standard
    one-number digraph symmetry diagnostic (mutual follows vs
    broadcast follows; a spam graph is near 0, a friendship graph
    near 1). Computed on the SIMPLE edge set (duplicates collapsed —
    reciprocity is a dyad property, not a multiplicity one), no self
    loops exist in this graph by construction (6u ≡ −3 and 12u ≡ −11
    have no solutions mod 1000).

    Shape: one distinct (the word-count shuffle on the edge pair), one
    self-SEMI-join on the swapped key pair — Catalyst turns the EXISTS
    into a left-semi hash join on (dst, src), co-partitioned with the
    (src, dst) relation's own shuffle — and two scalar counts. Exact
    integers until the final r4 division. At 100 TB the semi-join
    shuffles the edge relation once on the swapped composite key; no
    window, no driver loop.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.selectExpr(
        "user_id AS src", "(user_id * 7 + 3) % 1000 AS dst"
    ).unionAll(
        users.selectExpr(
            "user_id AS src", "(user_id * 13 + 11) % 1000 AS dst"
        )
    )
    e = edges.distinct()
    rev = e.selectExpr("dst AS src", "src AS dst")
    rec = e.join(rev, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recip")
    )
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return tot.crossJoin(F.broadcast(rec)).selectExpr(
        "n_edges",
        "n_recip AS n_reciprocal_edges",
        "n_recip div 2 AS n_mutual_dyads",
        "floor(CAST(n_recip AS DOUBLE) / CAST(n_edges AS DOUBLE)"
        " * 10000 + 0.5) / 10000 AS reciprocity",
    )


@register(
    "graph_clustering_coefficient",
    category="graph",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    raw AS (
      SELECT user_id AS a, (user_id + 1) % 1000 AS b FROM users
      UNION ALL
      SELECT user_id, (user_id + 2) % 1000 FROM users
      UNION ALL
      SELECT user_id, (user_id * 7 + 3) % 1000 FROM users
    ),
    edges AS (
      SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
      FROM raw WHERE a <> b
    ),
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS u FROM edges UNION ALL SELECT b FROM edges) ep
      GROUP BY u
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pertri AS (
      SELECT node, CAST(count(*) AS BIGINT) AS t
      FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) m GROUP BY node
    ),
    localc AS (
      SELECT d.u, d.d, coalesce(p.t, 0) AS t,
             CAST(floor(CAST(coalesce(p.t, 0) AS DOUBLE)
                  / (CAST(d.d AS DOUBLE) * CAST(d.d - 1 AS DOUBLE)
                     / CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
               AS lc_micro
      FROM deg d LEFT JOIN pertri p ON p.node = d.u
      WHERE d.d >= 2
    ),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
             (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles,
             (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
               AS n_wedges,
             (SELECT CAST(count(*) AS BIGINT) FROM localc) AS n_local,
             (SELECT CAST(sum(lc_micro) AS BIGINT) FROM localc)
               AS lc_sum
    )
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           floor(CAST(3 * n_triangles AS DOUBLE)
                 / CAST(n_wedges AS DOUBLE) * 10000 + 0.5) / 10000
             AS global_cc,
           floor(CAST(lc_sum AS DOUBLE) / 1000000
                 / CAST(n_local AS DOUBLE) * 10000 + 0.5) / 10000
             AS avg_local_cc
    FROM tot
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global and average-local clustering coefficients of the triangle
    graph: global = 3·triangles/wedges (transitivity — what fraction
    of open 2-paths close), average-local = Watts-Strogatz mean of
    per-node t_v/(d_v choose 2) over nodes with degree ≥ 2. The two
    DISAGREE on hub-heavy graphs (global is wedge-weighted toward
    hubs), which is why both ship — together with triangle counts they
    are the small-world diagnostic.

    Shape: the SAME canonicalized a<b edge relation and 3-join triangle
    plan as graph_triangle_count (each triangle counted once), one
    degree aggregate, wedges as an exact integer fold Σd(d−1)/2, and
    per-node local coefficients quantized to micro units before the
    node-domain-sized averaging fold (order-free; the node domain is
    bounded by construction, and at 100 TB it is the same
    node-proportional relation every per-node graph metric emits).
    Exact BIGINTs until the two final r4 divisions.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()

    def edge(mult: int, add: int) -> DataFrame:
        return users.select(
            F.col("user_id").alias("s"),
            ((F.col("user_id") * mult + add) % 1000).alias("t"),
        )

    raw = edge(1, 1).unionByName(edge(1, 2)).unionByName(edge(7, 3))
    edges = (
        raw.filter(F.col("s") != F.col("t"))
        .select(
            F.least("s", "t").alias("a"), F.greatest("s", "t").alias("b")
        )
        .distinct()
    )
    deg = (
        edges.selectExpr("a AS u")
        .unionAll(edges.selectExpr("b AS u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = e1.join(e2, F.col("e2.a") == F.col("e1.b")).join(
        e3,
        (F.col("e3.a") == F.col("e1.a"))
        & (F.col("e3.b") == F.col("e2.b")),
    ).select(
        F.col("e1.a").alias("x"),
        F.col("e1.b").alias("y"),
        F.col("e2.b").alias("z"),
    )
    pertri = (
        tri.selectExpr("x AS node")
        .unionAll(tri.selectExpr("y AS node"))
        .unionAll(tri.selectExpr("z AS node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    localc = (
        deg.filter("d >= 2")
        .join(pertri.selectExpr("node AS u", "t"), "u", "left")
        .selectExpr(
            "CAST(floor(CAST(coalesce(t, 0) AS DOUBLE)"
            " / (CAST(d AS DOUBLE) * CAST(d - 1 AS DOUBLE)"
            " / CAST(2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            " AS lc_micro"
        )
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_local"),
            F.sum("lc_micro").cast("bigint").alias("lc_sum"),
        )
    )
    scalars = (
        deg.groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias(
                "n_wedges"
            ),
        )
        .crossJoin(
            F.broadcast(
                edges.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_edges")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                tri.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_triangles")
                )
            )
        )
        .crossJoin(F.broadcast(localc))
    )
    return scalars.selectExpr(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        "floor(CAST(3 * n_triangles AS DOUBLE)"
        " / CAST(n_wedges AS DOUBLE) * 10000 + 0.5) / 10000"
        " AS global_cc",
        "floor(CAST(lc_sum AS DOUBLE) / 1000000"
        " / CAST(n_local AS DOUBLE) * 10000 + 0.5) / 10000"
        " AS avg_local_cc",
    )


_HITS_ROUNDS = 4


def _hits_oracle_sql(rounds: int = _HITS_ROUNDS) -> str:
    """Unrolled HITS: per round an authority half-step (sum of hub
    scores over in-edges, max-normalized to integer micro-units) then a
    hub half-step (sum of authority scores over out-edges, same
    normalization) — every aggregate an exact integer sum, every
    normalization an exact integer floor-division, so the unrolling is
    bit-identical across engines with no float state at all. Every CTE
    is MATERIALIZED: each round's score relation has two consumers (the
    max and the normalization), and an inlined CTE would re-expand the
    whole prior chain per consumer — 2^rounds blowup (measured 44 s at
    sf0.01; materialized: milliseconds)."""
    parts = [
        """users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    """
        + _EDGE_SQL.strip().replace("edges AS (", "edges AS MATERIALIZED (")
        + """,
    h_0 AS MATERIALIZED (
      SELECT user_id, CAST(1000000 AS BIGINT) AS h FROM users)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    araw_{r} AS MATERIALIZED (
      SELECT u.user_id,
             CAST(coalesce(sum(h.h), 0) AS BIGINT) AS raw
      FROM users u
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN h_{r - 1} h ON h.user_id = e.src
      GROUP BY u.user_id
    ),
    a_{r} AS MATERIALIZED (
      SELECT user_id,
             CAST(raw * 1000000 // (SELECT max(raw) FROM araw_{r})
                  AS BIGINT) AS a
      FROM araw_{r}
    ),
    hraw_{r} AS MATERIALIZED (
      SELECT u.user_id,
             CAST(coalesce(sum(a.a), 0) AS BIGINT) AS raw
      FROM users u
      LEFT JOIN edges e ON e.src = u.user_id
      LEFT JOIN a_{r} a ON a.user_id = e.dst
      GROUP BY u.user_id
    ),
    h_{r} AS MATERIALIZED (
      SELECT user_id,
             CAST(raw * 1000000 // (SELECT max(raw) FROM hraw_{r})
                  AS BIGINT) AS h
      FROM hraw_{r}
    )"""
        )
    parts.append(
        f"""
    SELECT u.user_id,
           h.h AS hub_micro,
           a.a AS auth_micro,
           CAST(h.h AS DOUBLE) / 1000000e0 AS hub,
           CAST(a.a AS DOUBLE) / 1000000e0 AS authority
    FROM users u
    JOIN h_{rounds} h ON h.user_id = u.user_id
    JOIN a_{rounds} a ON a.user_id = u.user_id
    ORDER BY auth_micro DESC, hub_micro DESC, u.user_id
    LIMIT 20"""
    )
    return "WITH " + ",".join(parts[:-1]) + parts[-1]


@register(
    "graph_hits",
    category="graph",
    bench=False,  # 8 sequential tiny half-step jobs: timed cost is the
    # per-stage scheduling floor at fixture scale, not query work (the
    # ml_logreg_quality exclusion rationale).
    oracle=_hits_oracle_sql(),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over the deterministic
    2-regular user graph — 4 rounds, ENTIRELY in integer arithmetic:
    scores live as micro-units (1e6 = 1.0), each half-step is an exact
    BIGINT sum along edges followed by max-normalization as an exact
    integer floor-division (score·1e6 div max). No float state ever
    exists, so unlike textbook HITS (L2 normalization → sqrt →
    cross-engine ulp drift compounding per round) the whole fixpoint
    path is bit-reproducible and carries an exact relational oracle —
    the certified-iterative discipline of ml_logreg_quality's integer
    weights, applied to eigenvector-style message passing.

    Execution shape (the Pregel superstep layout, NOT a single unrolled
    DAG): each round's score relation has two consumers — the global
    max and the normalization projection — so leaving it as lineage
    would re-expand the whole prior chain per consumer (2^rounds plan
    blowup, measured 89 s at sf0.01). Instead each half-step PERSISTS
    the vertex-score relation and collects the 1-row max (the Lloyd's
    pattern: scalar state on the driver, relations stay distributed),
    making the lineage depth constant per round — exactly how
    GraphX/Pregel materializes each superstep's vertex state. Per round
    that is two vertex-keyed shuffles (the in/out neighborhood sums)
    and two 1-value collects; at 100 TB the persisted frontier is a
    vertex-partitioned table and the collect is one number. The caches
    serve only the loop's collects and are released before the op
    returns: in the returned plan every max is already a literal, so
    no round's relation is re-expanded for its max.

    PageRank ranks by stationary in-flow; HITS separates the two roles
    (good pointer vs good pointee). Both are certified against the same
    synthetic edge set (FIXTURES.md §3 2-regular graph).
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
        )
    ).persist()
    caches: list[DataFrame] = [edges]
    h = users.select(
        "user_id", F.lit(1000000).cast("bigint").alias("h")
    ).persist()
    caches.append(h)
    a = None
    for _ in range(_HITS_ROUNDS):
        araw = (
            users.alias("u")
            .join(
                edges.alias("e"), F.col("e.dst") == F.col("u.user_id"), "left"
            )
            .join(h.alias("hh"), F.col("hh.user_id") == F.col("e.src"), "left")
            .groupBy(F.col("u.user_id").alias("user_id"))
            .agg(
                F.coalesce(F.sum("hh.h"), F.lit(0)).cast("bigint").alias("raw")
            )
            .persist()
        )
        caches.append(araw)
        amax = int(araw.agg(F.max("raw")).collect()[0][0])
        a = araw.selectExpr(
            "user_id", f"CAST(raw * 1000000 div {amax} AS BIGINT) AS a"
        )
        hraw = (
            users.alias("u")
            .join(
                edges.alias("e"), F.col("e.src") == F.col("u.user_id"), "left"
            )
            .join(a.alias("aa"), F.col("aa.user_id") == F.col("e.dst"), "left")
            .groupBy(F.col("u.user_id").alias("user_id"))
            .agg(
                F.coalesce(F.sum("aa.a"), F.lit(0)).cast("bigint").alias("raw")
            )
            .persist()
        )
        caches.append(hraw)
        hmax = int(hraw.agg(F.max("raw")).collect()[0][0])
        h = hraw.selectExpr(
            "user_id", f"CAST(raw * 1000000 div {hmax} AS BIGINT) AS h"
        )
    for df in caches:
        df.unpersist()
    out = (
        users.alias("u")
        .join(h.alias("h"), F.col("h.user_id") == F.col("u.user_id"))
        .join(a.alias("a"), F.col("a.user_id") == F.col("u.user_id"))
        .selectExpr(
            "u.user_id AS user_id",
            "h.h AS hub_micro",
            "a.a AS auth_micro",
            "CAST(h.h AS DOUBLE) / 1000000e0 AS hub",
            "CAST(a.a AS DOUBLE) / 1000000e0 AS authority",
        )
        .orderBy(
            F.col("auth_micro").desc(), F.col("hub_micro").desc(), "user_id"
        )
        .limit(20)
    )
    return out


# --- graph_adamic_adar: link prediction over the follow graph ------------


_AA_MAX_DEG = 1024


def _aa_inv_ln_values(max_deg: int = _AA_MAX_DEG) -> str:
    """1e6-quantized 1/ln(k) for k = 2..max_deg, generated once in
    Python and injected into both plans as literals (the periodogram
    trig-table device applied to logarithms) — neither engine
    evaluates ln, and the Adamic-Adar sum becomes an EXACT integer
    fold. Degree-1 common neighbors are excluded by the k >= 2 domain
    (1/ln(1) diverges; standard AA convention). max_deg=1024 covers
    this fixture family's maximum possible hub degree up to ~500k
    distinct users (hub in-degree ≈ 2·n_users/1000 — both affine
    follow maps are bijections mod 1000); common neighbors beyond it
    are NOT dropped but clamped to the k=max_deg weight via a left
    join (see _AA_FLOOR_Q) — the r09 ADVICE fix for the old 64-cap
    inner join silently deleting high-degree neighbors from both the
    score and the count."""
    import math as _m

    return ", ".join(
        f"({k}, {int(_m.floor(1000000.0 / _m.log(k) + 0.5))})"
        for k in range(2, max_deg + 1)
    )


_AA_VALUES = _aa_inv_ln_values()

# Clamp weight for degrees beyond the literal table: the k=max_deg value
# (1/ln is decreasing, so this is a documented UPPER bound on the true
# contribution of a >max_deg-degree neighbor, never a silent drop).
def _aa_floor_q() -> int:
    import math as _m

    return int(_m.floor(1000000.0 / _m.log(_AA_MAX_DEG) + 0.5))


_AA_FLOOR_Q = _aa_floor_q()

# Undirected adjacency + degrees from the FIXTURES.md §3 2-regular
# follow graph — identical SQL text on both engines.
_AA_BASE_SQL = """
    users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    directed AS (
      SELECT user_id AS src, (user_id * 7 + 3) % 1000 AS dst FROM users
      UNION ALL
      SELECT user_id, (user_id * 13 + 11) % 1000 FROM users
    ),
    adj AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM directed WHERE src <> dst
    ),
    und AS MATERIALIZED (
      SELECT a AS u, b AS w FROM adj UNION ALL SELECT b, a FROM adj
    ),
    deg AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
    )
"""


@register(
    "graph_adamic_adar",
    category="graph",
    oracle=f"""
    WITH {_AA_BASE_SQL.strip()},
    invln(k, q) AS (VALUES {_AA_VALUES}),
    wedges AS (
      SELECT x.u AS u, y.u AS v, x.w AS w
      FROM und x JOIN und y ON x.w = y.w AND x.u < y.u
    ),
    nonedge AS (
      SELECT wg.u, wg.v, wg.w
      FROM wedges wg
      LEFT JOIN adj e ON e.a = wg.u AND e.b = wg.v
      WHERE e.a IS NULL
    ),
    scored AS (
      SELECT n.u, n.v,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(coalesce(i.q, {_AA_FLOOR_Q})) AS BIGINT) AS aa_micro
      FROM nonedge n
      JOIN deg d ON d.u = n.w AND d.d >= 2
      LEFT JOIN invln i ON i.k = d.d
      GROUP BY n.u, n.v
    )
    SELECT u, v, common_neighbors, aa_micro,
           CAST(aa_micro AS DOUBLE) / 1000000e0 AS adamic_adar
    FROM scored
    ORDER BY aa_micro DESC, u, v
    LIMIT 25
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAMIC-ADAR link prediction over the undirected follow graph:
    for every NON-adjacent pair with ≥1 common neighbor, score
    Σ 1/ln(deg(w)) over the common neighbors w — the classic
    "friends-of-friends, discounted by how promiscuous the mutual
    friend is" recommender that graph_jaccard_neighbors's set-overlap
    score ignores (Jaccard treats a 2-degree and a 50-degree mutual
    neighbor alike; AA makes the rare mutual friend count more).

    Exactness: 1/ln(k) comes from an injected literal table (k ≤ 1024,
    every fixture degree this family can produce up to ~500k users)
    quantized to micro-units (the periodogram trig device), so the
    score is an EXACT integer sum — ranking never touches a float.
    Degrees beyond the table clamp to the k=1024 weight via the LEFT
    join's coalesce instead of silently dropping the neighbor (r09
    ADVICE); degree-1 neighbors stay excluded by AA convention.
    Shape: common-neighbor enumeration is the wedge self-join of the
    undirected adjacency (the triangle_count cost class, bounded by
    Σdeg² — fine on bounded-degree graphs); existing edges leave via
    one anti-join; degrees broadcast. At 100 TB this is the standard
    people-you-may-know batch layout: wedge join co-partitioned on the
    shared neighbor, output keyed by candidate pair.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    directed = users.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
        )
    )
    adj = (
        directed.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    und = adj.selectExpr("a AS u", "b AS w").unionByName(
        adj.selectExpr("b AS u", "a AS w")
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    invln = spark.sql(
        f"SELECT * FROM (VALUES {_AA_VALUES}) AS invln(k, q)"
    )
    x, y = und.alias("x"), und.alias("y")
    wedges = x.join(
        y, (F.col("x.w") == F.col("y.w")) & (F.col("x.u") < F.col("y.u"))
    ).selectExpr("x.u AS u", "y.u AS v", "x.w AS w")
    nonedge = wedges.join(
        adj,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )
    scored = (
        nonedge.join(
            F.broadcast(
                deg.filter(F.col("d") >= 2).withColumnRenamed("u", "du")
            ),
            F.col("du") == F.col("w"),
        )
        .join(F.broadcast(invln), F.col("k") == F.col("d"), "left")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(F.coalesce(F.col("q"), F.lit(_AA_FLOOR_Q)))
            .cast("bigint")
            .alias("aa_micro"),
        )
    )
    out = (
        scored.selectExpr(
            "u",
            "v",
            "common_neighbors",
            "aa_micro",
            "CAST(aa_micro AS DOUBLE) / 1000000e0 AS adamic_adar",
        )
        .orderBy(F.col("aa_micro").desc(), "u", "v")
        .limit(25)
    )
    return out


_KATZ_ROUNDS = 4


def _katz_oracle_sql() -> str:
    """Unrolled attenuated path counting: p_k(v) = paths of length k
    ending at v (exact integer message passing along edges); katz
    score = Σ_k p_k(v) · (1e6 >> k) — β = 1/2, so every attenuation
    weight is an exact integer and the whole centrality is integer
    arithmetic end to end."""
    parts = [
        """users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    """
        + _EDGE_SQL.strip()
        + """,
    p_0 AS MATERIALIZED (
      SELECT user_id, CAST(1 AS BIGINT) AS c FROM users)"""
    ]
    for k in range(1, _KATZ_ROUNDS + 1):
        parts.append(
            f"""
    p_{k} AS MATERIALIZED (
      SELECT u.user_id, CAST(coalesce(sum(p.c), 0) AS BIGINT) AS c
      FROM users u
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN p_{k - 1} p ON p.user_id = e.src
      GROUP BY u.user_id
    )"""
        )
    score = " + ".join(
        f"p_{k}.c * {1000000 >> k}" for k in range(1, _KATZ_ROUNDS + 1)
    )
    joins = "\n    ".join(
        f"JOIN p_{k} ON p_{k}.user_id = u.user_id"
        for k in range(1, _KATZ_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT u.user_id,
           CAST({score} AS BIGINT) AS katz_micro,
           {", ".join(f"p_{k}.c AS paths_{k}" for k in range(1, _KATZ_ROUNDS + 1))}
    FROM users u
    {joins}
    ORDER BY katz_micro DESC, u.user_id
    LIMIT 20"""
    )


@register(
    "graph_katz_centrality",
    category="graph",
    oracle=_katz_oracle_sql(),
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KATZ CENTRALITY over the follow graph — attenuated path
    counting: score(v) = Σ_k β^k · |paths of length k ending at v|,
    k ≤ 4, β = 1/2. PageRank divides influence among out-edges and
    HITS max-normalizes per round; Katz is the third classic — raw
    reachability volume, discounted by distance — and the natural
    one when edge traversal does not dilute (citations, follows).

    β = 1/2 is chosen so EVERY attenuation weight is an exact binary
    integer (1e6 >> k): path counts are exact BIGINT message-passing
    sums (one equi-join + aggregate per round, the pagerank stage
    shape), and the final score is an integer dot product — no float
    exists anywhere, so the oracle unrolls the identical rounds and
    the top-20 matches bit-for-bit (ties broken by user_id). Each
    round references its predecessor exactly ONCE, so the static
    unroll stays a linear Catalyst DAG (the graph_bfs_layers ≤6-round
    rule; contrast graph_hits, whose per-round max forces persisted
    supersteps).

    Scale: k rounds = k vertex-keyed shuffles, counts bounded by
    out-degree^k (2-regular → ≤16 at k=4); at 100 TB this is the
    standard bounded-hop influence sweep.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
        )
    )
    p = users.select("user_id", F.lit(1).cast("bigint").alias("c"))
    rounds = []
    for _k in range(_KATZ_ROUNDS):
        p = (
            users.alias("u")
            .join(edges.alias("e"), F.col("e.dst") == F.col("u.user_id"),
                  "left")
            .join(p.alias("p"), F.col("p.user_id") == F.col("e.src"), "left")
            .groupBy(F.col("u.user_id").alias("user_id"))
            .agg(
                F.coalesce(F.sum("p.c"), F.lit(0)).cast("bigint").alias("c")
            )
        )
        rounds.append(p)
    out = users.alias("u")
    for k, pk in enumerate(rounds, start=1):
        out = out.join(
            pk.withColumnRenamed("user_id", f"uid{k}").withColumnRenamed(
                "c", f"paths_{k}"
            ),
            F.col(f"uid{k}") == F.col("u.user_id"),
        ).drop(f"uid{k}")
    score = " + ".join(
        f"paths_{k} * {1000000 >> k}" for k in range(1, _KATZ_ROUNDS + 1)
    )
    return (
        out.selectExpr(
            "u.user_id AS user_id",
            f"CAST({score} AS BIGINT) AS katz_micro",
            *(f"paths_{k}" for k in range(1, _KATZ_ROUNDS + 1)),
        )
        .orderBy(F.col("katz_micro").desc(), "user_id")
        .limit(20)
    )


def _ppr_oracle_sql(rounds: int = 3) -> str:
    """Unrolled personalized PageRank: teleport mass returns to the
    SEED SET (user_id % 50 == 0) instead of spreading uniformly;
    integer-free floats are avoided by quantizing each round's scores
    to parts-per-billion BIGINTs (floor(x·1e9+0.5)) before they feed
    the next round — the ml.py weight-state device — so both engines
    iterate identical integer state."""
    parts = [
        """users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    """
        + _EDGE_SQL.strip()
        + """,
    seeds AS MATERIALIZED (
      SELECT user_id FROM users WHERE user_id % 50 = 0),
    ns AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM seeds),
    pr_0 AS MATERIALIZED (
      SELECT u.user_id,
             CAST(CASE WHEN u.user_id % 50 = 0
                  THEN 1000000000 // (SELECT n FROM ns)
                  ELSE 0 END AS BIGINT) AS ppb
      FROM users u)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    pr_{r} AS MATERIALIZED (
      SELECT u.user_id,
             CAST(CASE WHEN u.user_id % 50 = 0
                  THEN (300000000 + (SELECT n FROM ns))
                       // (2 * (SELECT n FROM ns))
                  ELSE 0 END
               + CAST(floor(0.85e0
                   * CAST(coalesce(sum(p.ppb), 0) AS DOUBLE) / 2e0
                   + 0.5e0) AS BIGINT) AS BIGINT) AS ppb
      FROM users u
      LEFT JOIN edges e ON e.dst = u.user_id
      LEFT JOIN pr_{r - 1} p ON p.user_id = e.src
      GROUP BY u.user_id
    )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT user_id, ppb AS ppr_ppb,
           user_id % 50 = 0 AS is_seed
    FROM pr_{rounds}
    WHERE ppb > 0
    ORDER BY ppr_ppb DESC, user_id
    LIMIT 25"""
    )


@register(
    "graph_ppr_seeded",
    category="graph",
    oracle=_ppr_oracle_sql(),
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PAGERANK from a seed set (every 50th user) — the
    recommendation-engine variant of graph_pagerank: teleport mass
    returns to the SEEDS rather than spreading uniformly, so scores
    measure proximity TO THE SEEDS (who should these accounts be
    shown?) instead of global importance. Top-25 by score; non-seed
    entries in that list are exactly the recommendation candidates.

    Determinism device: pagerank's plain-double rounds survive
    cross-engine because uniform teleport keeps summands homogeneous;
    PPR's zero/nonzero mass mix makes float folds brittle, so each
    round's scores quantize to parts-per-billion BIGINTs before
    feeding the next round, and the teleport share is a half-up
    integer division (the ml.py integer-weight-state device) —
    both engines iterate identical integers and the oracle unrolls
    the same three rounds. Conservation is intentionally NOT asserted
    (the modular edge map leaks mass outside small fixtures'
    vertex sets — the pagerank docstring's caveat); the invariant
    test replicates the integer path exactly in Python instead.

    Shape: per round one vertex-keyed join+aggregate (the pagerank
    stage shape); the seed indicator is row-local arithmetic, never a
    join. Bounded rounds = bounded shuffle stages at 100 TB.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
        )
    )
    n_seeds = users.filter(F.expr("user_id % 50 = 0")).count()
    pr = users.selectExpr(
        "user_id",
        f"CAST(CASE WHEN user_id % 50 = 0 THEN 1000000000 div {n_seeds}"
        " ELSE 0 END AS BIGINT) AS ppb",
    )
    teleport = (300000000 + n_seeds) // (2 * n_seeds)
    for _r in range(3):
        pr = (
            users.alias("u")
            .join(edges.alias("e"), F.col("e.dst") == F.col("u.user_id"),
                  "left")
            .join(pr.alias("p"), F.col("p.user_id") == F.col("e.src"),
                  "left")
            .groupBy(F.col("u.user_id").alias("user_id"))
            .agg(
                F.expr(
                    f"CAST(CASE WHEN u.user_id % 50 = 0 THEN {teleport}"
                    " ELSE 0 END"
                    " + CAST(floor(0.85e0"
                    " * CAST(coalesce(sum(p.ppb), 0) AS DOUBLE) / 2e0"
                    " + 0.5e0) AS BIGINT) AS BIGINT)"
                ).alias("ppb")
            )
        )
    return (
        pr.filter(F.col("ppb") > 0)
        .selectExpr(
            "user_id", "ppb AS ppr_ppb", "user_id % 50 = 0 AS is_seed"
        )
        .orderBy(F.col("ppr_ppb").desc(), "user_id")
        .limit(25)
    )


# --- r12 growth: bounded-radius harmonic centrality -------------------------

_HC_ROUNDS = 4


def _hc_oracle_sql(rounds: int = _HC_ROUNDS) -> str:
    """Unrolled multi-source min-plus twin. Each round references the
    previous pair frame twice (carry + relax), so every step is AS
    MATERIALIZED (the bfs/mmr CTE-inlining gotcha)."""
    ctes = [
        "users AS MATERIALIZED (SELECT DISTINCT user_id FROM events)",
        _EDGE_SQL.strip().replace("edges AS (", "edges AS MATERIALIZED (", 1),
        "p0 AS MATERIALIZED (SELECT user_id AS src, user_id AS v,"
        " 0 AS d FROM users)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT src, v, CAST(min(d) AS BIGINT)"
            " AS d FROM ("
            f"  SELECT src, v, d FROM p{t-1}"
            "   UNION ALL"
            f"  SELECT p.src, e.dst AS v, p.d + 1 AS d"
            f"  FROM p{t-1} p JOIN edges e ON e.src = p.v"
            f") GROUP BY src, v)"
        )
    body = ",\n".join(ctes)
    return f"""
    WITH {body}
    SELECT v AS node,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(12 // d) AS BIGINT) AS harmonic_12ths
    FROM p{rounds}
    WHERE d > 0
    GROUP BY v
    ORDER BY harmonic_12ths DESC, node
    LIMIT 20
    """


@register(
    "graph_harmonic_centrality",
    category="graph",
    bench=False,  # like bfs_layers: unrolled tiny AQE stages, scheduling floor
    oracle=_hc_oracle_sql(),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-RADIUS HARMONIC CENTRALITY over the deterministic
    2-regular user graph: C_H(v) = Σ_{u reaches v, d ≤ 4} 1/d(u, v) —
    the centrality variant that, unlike closeness, handles
    disconnected graphs gracefully (Boldi & Vigna 2014, "Axioms for
    Centrality": unreachable pairs contribute 0, no ∞ bookkeeping).
    Four statically-unrolled multi-source min-plus rounds carry the
    sparse (source, node, dist) pair relation; the radius cap is the
    standard big-graph compromise (full APSP is quadratic state —
    bounded-radius harmonic is what HyperBall approximates at web
    scale with HLL counters; here the 1000-node edge domain keeps the
    exact pair relation small enough to certify).

    Exactness device: with d ∈ {1..4}, every reciprocal is exact in
    TWELFTHS (12/d ∈ {12, 6, 4, 3}), so the centrality is an exact
    BIGINT and no float ever forms — the integer-cents discipline
    applied to 1/d. Top-20 output is total-ordered (score desc, node
    asc). Scale shape: pair state is bounded by nodes × (2-regular
    4-hop ball ≤ 31) ≈ 31k rows; each round is one shuffle (min-group)
    + one equi-join; the oracle replays identical rounds AS
    MATERIALIZED. Self-distances (d = 0) are excluded by definition.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = users.select(
        F.col("user_id").alias("e_src"),
        ((F.col("user_id") * 7 + 3) % 1000).alias("e_dst"),
    ).unionByName(
        users.select(
            F.col("user_id").alias("e_src"),
            ((F.col("user_id") * 13 + 11) % 1000).alias("e_dst"),
        )
    )
    pairs = users.selectExpr(
        "user_id AS src", "user_id AS v", "CAST(0 AS BIGINT) AS d"
    )
    for _ in range(_HC_ROUNDS):
        relaxed = (
            pairs.join(edges, F.col("v") == F.col("e_src"))
            .selectExpr("src", "e_dst AS v", "d + 1 AS d")
        )
        pairs = (
            pairs.unionByName(relaxed)
            .groupBy("src", "v")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    return (
        pairs.filter("d > 0")
        .groupBy(F.col("v").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum(F.expr("12 div d")).cast("bigint").alias("harmonic_12ths"),
        )
        .orderBy(F.col("harmonic_12ths").desc(), "node")
        .limit(20)
    )


# --- r12 extension wave: rich-club coefficient --------------------------------


@register(
    "graph_rich_club",
    category="graph",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    edges AS (
      SELECT user_id AS src, (user_id * 7 + 3) % 256 AS dst FROM users
      UNION ALL SELECT user_id, (user_id * 13 + 11) % 256 FROM users
      UNION ALL SELECT user_id, (user_id * 17 + 5) % 256 FROM users
      UNION ALL SELECT user_id, (user_id * 23 + 1) % 256 FROM users
    ),
    simple AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS v FROM simple UNION ALL SELECT b FROM simple)
      GROUP BY v
    ),
    ks AS (SELECT unnest([2, 3, 4, 6, 10]) AS k),
    nk AS (
      SELECT ks.k, CAST(count(deg.v) AS BIGINT) AS n_rich
      FROM ks LEFT JOIN deg ON deg.d > ks.k
      GROUP BY ks.k
    ),
    ek AS (
      SELECT ks.k, CAST(count(*) AS BIGINT) AS e_rich
      FROM ks
      LEFT JOIN simple s ON true
      JOIN deg da ON da.v = s.a AND da.d > ks.k
      JOIN deg db ON db.v = s.b AND db.d > ks.k
      GROUP BY ks.k
    )
    SELECT nk.k,
           nk.n_rich,
           coalesce(ek.e_rich, 0) AS e_rich,
           CASE WHEN nk.n_rich >= 2 THEN
             floor(2e0 * coalesce(ek.e_rich, 0)
                   / (CAST(nk.n_rich AS DOUBLE) * (nk.n_rich - 1))
                   * 10000 + 0.5) / 10000
           END AS phi
    FROM nk LEFT JOIN ek ON ek.k = nk.k
    ORDER BY nk.k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB COEFFICIENT phi(k) of the interaction graph — do
    high-degree nodes preferentially link to EACH OTHER? phi(k) =
    2·E_k / (N_k·(N_k−1)) over the subgraph induced by nodes of degree
    > k, for k in {2,3,4,6,10} (Zhou & Mondragon 2004; the backbone
    diagnostic for hub-interconnection in communication graphs). Runs
    on the UNDIRECTED SIMPLE projection of a 4-out functional follow
    graph with a COMPRESSED target space (four affine maps mod 256 —
    every user follows four of 256 hub slots, so hub in-degree grows
    with the user population and the fixture has a real degree tail:
    max degree 5/8/28 at sf0.001/0.01/0.1). Canonical least/greatest
    endpoint ordering, self-loops dropped, parallel edges collapsed —
    each a real graph-hygiene step the oracle replicates. Small-k
    clubs are populated at every sf; the k=10 club is empty below
    sf0.1, exercising the < 2-member NULL guard in-fixture.

    Exactness: node counts, induced-edge counts, and degrees are exact
    integers; phi is the single r4-floored ratio per k, NULL when the
    club has < 2 members (0/0 guard, same CASE both engines).

    Scale shape: degrees and the induced-edge filter are joins of the
    edge relation against the broadcast degree table (node-domain-
    bounded, = 1000 here); the k fan-out is a 5-row broadcast. At
    social-graph scale the same plan holds with degree as a bucketed
    dimension — no pair enumeration anywhere.
    """
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    edges = users.selectExpr(
        "user_id AS src",
        "explode(array((user_id * 7 + 3) % 256, (user_id * 13 + 11) % 256,"
        " (user_id * 17 + 5) % 256, (user_id * 23 + 1) % 256)) AS dst",
    )
    simple = (
        edges.filter("src <> dst")
        .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .distinct()
    )
    deg = (
        simple.selectExpr("a AS v")
        .unionByName(simple.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ks = spark.range(0, 5).selectExpr(
        "element_at(array(2, 3, 4, 6, 10), CAST(id + 1 AS INT)) AS k"
    )
    # r15 optimization (guide §2.3 — shuffle/join fewer rows): both
    # curves reduce to DEGREE-DOMAIN distributions before the k
    # thresholds ever appear. n_rich(k) counts nodes with d > k, so it
    # needs only the degree histogram; e_rich(k) counts edges whose
    # BOTH endpoints have d > k, i.e. least(da, db) > k, so one pass
    # over the edge relation (two broadcast degree joins) reduces to a
    # min-endpoint-degree histogram. The old shape crossJoined the
    # edge relation with all 5 k values FIRST (5x the join input) and
    # re-ran the degree legs per threshold; now every k evaluates on
    # the tiny histograms and the per-edge work happens exactly once.
    degdist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    edist = (
        simple.join(
            F.broadcast(deg.selectExpr("v AS va", "d AS da")),
            F.expr("va = a"),
        )
        .join(
            F.broadcast(deg.selectExpr("v AS vb", "d AS db")),
            F.expr("vb = b"),
        )
        .selectExpr("least(da, db) AS m")
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ne"))
    )
    nk = (
        ks.join(F.broadcast(degdist), F.col("d") > F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.coalesce(F.sum("nd"), F.lit(0))
            .cast("bigint")
            .alias("n_rich")
        )
    )
    ek = (
        ks.join(F.broadcast(edist), F.col("m") > F.col("k"))
        .groupBy("k")
        .agg(F.sum("ne").cast("bigint").alias("e_rich"))
    )
    out = (
        nk.join(ek, "k", "left")
        .selectExpr(
            "k",
            "n_rich",
            "coalesce(e_rich, 0) AS e_rich",
            "CASE WHEN n_rich >= 2 THEN"
            " floor(2e0 * coalesce(e_rich, 0)"
            " / (CAST(n_rich AS DOUBLE) * (n_rich - 1))"
            " * 10000 + 0.5) / 10000 END AS phi",
        )
        .orderBy("k")
    )
    return out


# --- r13 growth: sampled eccentricity over the follow graph --------------
_ECC_H = 8  # BFS horizon (rounds); also the eccentricity cap
_ECC_SEED_MOD = 4  # seeds = users with user_id % 4 == 0

# Broadcast gate for fact-derived edge relations (r14 ADVICE item 1): the
# sampled-centrality BFS loops want the edge relation broadcast (it feeds
# 7-8 separate eager-checkpoint jobs, so AQE's per-query stats never
# carry over), but the relation's row count scales with distinct users —
# an unconditional F.broadcast would bypass Spark's size threshold and
# OOM the driver at large scale factors instead of falling back to a
# shuffle join. 4M rows of two BIGINTs ≈ 64 MB serialized — comfortably
# inside default driver headroom, far under the 8 GB broadcast hard cap.
_EDGE_BCAST_ROW_GATE = 4_000_000


def _gated_broadcast(df: DataFrame) -> DataFrame:
    """Apply F.broadcast only when the measured row count is under the
    gate; the caller passes an already-localCheckpointed relation, so
    the count is a cheap local-block scan, not a recompute. Over the
    gate the hint is dropped and AQE picks the join strategy from
    actual sizes (shuffle join / skew split as needed)."""
    if df.count() <= _EDGE_BCAST_ROW_GATE:
        return F.broadcast(df)
    return df


def _ecc_round_sql(k: int) -> str:
    """One sparse min-plus BFS round as a MATERIALIZED DuckDB CTE."""
    return f"""
    d{k} AS MATERIALIZED (
      SELECT seed, node, CAST(min(d) AS BIGINT) AS d FROM (
        SELECT seed, node, d FROM d{k - 1}
        UNION ALL
        SELECT p.seed, e.dst AS node, p.d + 1 AS d
        FROM d{k - 1} p JOIN edges e ON e.src = p.node
        WHERE p.d = {k - 1}
      ) GROUP BY seed, node
    )"""


@register(
    "graph_eccentricity_sample",
    category="graph",
    oracle=f"""
    WITH users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    edges AS MATERIALIZED (
      SELECT user_id AS src, (user_id * 7 + 3) % 1000 AS dst FROM users
      UNION ALL
      SELECT user_id, (user_id * 13 + 11) % 1000 FROM users
    ),
    d0 AS MATERIALIZED (
      SELECT user_id AS seed, user_id AS node, CAST(0 AS BIGINT) AS d
      FROM users WHERE user_id % {_ECC_SEED_MOD} = 0
    ),
    {", ".join(_ecc_round_sql(k).strip() for k in range(1, _ECC_H + 1))}
    SELECT seed,
           CAST(max(d) AS BIGINT) AS ecc_capped,
           CAST(count(*) AS BIGINT) AS n_reached,
           max(d) < {_ECC_H} AS frontier_exhausted
    FROM d{_ECC_H}
    GROUP BY seed
    ORDER BY seed
    """,
)
def graph_eccentricity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED ECCENTRICITY over the directed follow graph: for every
    seed user (deterministic 1/{_ECC_SEED_MOD} sample), the maximum
    forward BFS distance within an {_ECC_H}-hop horizon plus the
    reached-set size — the per-node ingredient of diameter/radius
    estimation (the max/min of eccentricities) and of the
    hop-plot/effective-diameter readouts ANF-style systems compute.
    The horizon is part of the CONTRACT, not an approximation bug:
    `frontier_exhausted` says whether BFS saturated before the cap
    (true eccentricity) or was truncated at {_ECC_H}, so the consumer
    can tell measured-exact rows from bounded ones.

    Plan shape: sparse min-plus BFS — the distance relation holds only
    (seed, reached-node) pairs; each round expands the FRONTIER ONLY
    (rows at d = k-1) through the 2-out edge relation and re-minimizes,
    localCheckpoint-per-round (graph_cc_converged's discipline — at
    {_ECC_H} rounds a statically-unrolled lazy plan would double per
    round past Catalyst comfort). The oracle replays the identical
    rounds as MATERIALIZED CTEs. The invariant test replays BFS in
    python per seed — exact equality, including the cap semantics.

    Scale shape: the distance relation is (seeds x reachable-set)-
    bounded — with the fixture's mod-1000 target compression that is
    domain-sized at every sf; on an uncompressed 100 TB follow graph
    the same plan is the standard distributed multi-source BFS (one
    shuffle per round, frontier-proportional work).
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    # Materialize the edge relation ONCE and broadcast it: the 8 BFS
    # rounds are separate eager-checkpoint jobs, so cross-job exchange
    # reuse never applies and a lazy edges frame re-ran the events scan
    # + distinct per round (the r14 multi-leg-recompute lesson; same
    # fix as graph_stress_sample — measured 3.2 s -> ~1.3 s serial at
    # sf0.1, 6.6 s -> ~2.4 s at the 10x tree).
    edges_cp = (
        users.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 7 + 3) % 1000).alias("dst"),
        )
        .unionByName(
            users.select(
                F.col("user_id").alias("src"),
                ((F.col("user_id") * 13 + 11) % 1000).alias("dst"),
            )
        )
        .localCheckpoint(eager=True)
    )
    edges = _gated_broadcast(edges_cp)
    dist = (
        users.filter(F.col("user_id") % _ECC_SEED_MOD == 0)
        .selectExpr(
            "user_id AS seed",
            "user_id AS node",
            "CAST(0 AS BIGINT) AS d",
        )
        .localCheckpoint(eager=True)
    )
    # One eager checkpoint per round (A/B'd r14 against a lazy
    # 4-round-segment cadence: the segment plan's 2^4 dist references
    # recompute within the segment faster than they reuse — 4.0 s vs
    # 3.2 s at sf0.1, worse again at 10x; per-round materialization of
    # the tiny state wins). r16 NEGATIVE RESULT: routing each round's
    # checkpoint through persist+count first (the finalize_cached AQE
    # device, applied to ecc/stress/betweenness) measured 1.50 -> 3.82 s
    # here (stress 1.63 -> 3.95, betweenness 1.34 -> 3.03, min-of-4
    # warm) — the per-round plans are small trees over checkpointed
    # leaves + a broadcast join, so the non-AQE rdd-conversion path was
    # never the bottleneck, and the two extra jobs per round (cache
    # materialization + checkpoint scan) dominate the tiny state.
    # Plain localCheckpoint per round stays.
    for k in range(1, _ECC_H + 1):
        frontier = dist.filter(F.col("d") == k - 1)
        step = frontier.join(
            edges, frontier.node == edges.src
        ).selectExpr("seed", "dst AS node", f"CAST({k} AS BIGINT) AS d")
        prev = dist
        dist = (
            dist.unionByName(step)
            .groupBy("seed", "node")
            .agg(F.min("d").cast("bigint").alias("d"))
            .localCheckpoint(eager=True)
        )
        release_checkpoint(prev)
    release_checkpoint(edges_cp)
    return (
        dist.groupBy("seed")
        .agg(
            F.max("d").cast("bigint").alias("ecc_capped"),
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            (F.max("d") < _ECC_H).alias("frontier_exhausted"),
        )
        .orderBy("seed")
    )


# --- r13 growth: Hill power-law tail estimator -----------------------------
_HILL_XMINS = (2, 3, 5)


@register(
    "graph_powerlaw_hill",
    category="graph",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    edges AS (
      SELECT user_id AS src, (user_id * 7 + 3) % 256 AS dst FROM users
      UNION ALL SELECT user_id, (user_id * 13 + 11) % 256 FROM users
      UNION ALL SELECT user_id, (user_id * 17 + 5) % 256 FROM users
      UNION ALL SELECT user_id, (user_id * 23 + 1) % 256 FROM users
    ),
    simple AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS v FROM simple UNION ALL SELECT b FROM simple)
      GROUP BY v
    ),
    dist AS (
      SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY d
    ),
    xs AS (SELECT unnest([{", ".join(str(x) for x in _HILL_XMINS)}])
           AS xmin),
    tail AS (
      SELECT xs.xmin,
             CAST(sum(dist.cnt) AS BIGINT) AS n_tail,
             CAST(sum(dist.cnt * CAST(floor(
               ln(CAST(dist.d AS DOUBLE) / xs.xmin)
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS lnsum_q,
             CAST(sum(dist.cnt * dist.d) AS BIGINT) AS dsum
      FROM xs JOIN dist ON dist.d >= xs.xmin
      GROUP BY xs.xmin
    )
    SELECT CAST(xmin AS BIGINT) AS xmin, n_tail,
           floor(CAST(dsum AS DOUBLE) / n_tail * 10000 + 0.5) / 10000
             AS mean_tail_degree,
           CASE WHEN lnsum_q > 0 THEN
             floor((1e0 + CAST(n_tail AS DOUBLE) * 1000000000 / lnsum_q)
                   * 1000000 + 0.5) / 1000000 END AS alpha_hill
    FROM tail
    ORDER BY xmin
    """,
)
def graph_powerlaw_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL MLE of the degree-distribution power-law exponent
    (Clauset/Shalizi/Newman's continuous-MLE screen): alpha(xmin) =
    1 + n / Σ ln(d_i / xmin) over tail nodes with degree >= xmin, at
    three xmin choices — the stability of alpha across xmin IS the
    diagnostic (a true power law plateaus; exponential tails drift).
    Runs on the rich-club fixture graph (compressed 256-slot targets,
    real hub tail) — the estimator that quantifies what
    graph_rich_club localizes.

    Exactness: the degree DISTRIBUTION (not per-node rows) carries
    the sum — each distinct degree's ln(d/xmin) is quantized to an
    integer nano-unit once and multiplied by its exact count, so the
    tail sum is exact integer arithmetic and alpha is one pinned
    double expression (r6). Degenerate all-at-xmin tails (lnsum = 0,
    alpha undefined) NULL out identically.

    Scale shape: degree groupBy → degree-DOMAIN-sized distribution
    (the device that makes exact Hill estimation O(distinct degrees)
    per xmin at any scale); the xmin fan-out is a 3-row broadcast.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges = None
    for a, b in ((7, 3), (13, 11), (17, 5), (23, 1)):
        e = users.selectExpr(
            "user_id AS src", f"(user_id * {a} + {b}) % 256 AS dst"
        )
        edges = e if edges is None else edges.unionByName(e)
    simple = (
        edges.filter("src <> dst")
        .selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
        .distinct()
    )
    deg = (
        simple.selectExpr("a AS v")
        .unionByName(simple.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    dist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    xs = spark.range(0, len(_HILL_XMINS)).selectExpr(
        "CASE id "
        + " ".join(
            f"WHEN {i} THEN {x}L" for i, x in enumerate(_HILL_XMINS)
        )
        + " END AS xmin"
    )
    tail = (
        dist.crossJoin(F.broadcast(xs))
        .filter(F.col("d") >= F.col("xmin"))
        .groupBy("xmin")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tail"),
            F.sum(
                F.expr(
                    "cnt * CAST(floor(ln(CAST(d AS DOUBLE) / xmin)"
                    " * 1000000000 + 0.5) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("lnsum_q"),
            F.sum(F.expr("cnt * d")).cast("bigint").alias("dsum"),
        )
    )
    return tail.selectExpr(
        "CAST(xmin AS BIGINT) AS xmin",
        "n_tail",
        "floor(CAST(dsum AS DOUBLE) / n_tail * 10000 + 0.5) / 10000"
        " AS mean_tail_degree",
        "CASE WHEN lnsum_q > 0 THEN"
        " floor((1D + CAST(n_tail AS DOUBLE) * 1000000000 / lnsum_q)"
        " * 1000000 + 0.5) / 1000000 END AS alpha_hill",
    ).orderBy("xmin")


# --- r14 extension: sampled stress centrality (integer Brandes) -----------
_STRESS_H = 4  # BFS horizon: stress is counted over shortest paths <= H hops
_STRESS_SEED_MOD = 4  # sources = users with user_id % 4 == 0


def _stress_fwd_sql(k: int) -> str:
    """One forward Brandes round (distances + path counts) as a
    MATERIALIZED DuckDB CTE: new nodes first reached at distance k get
    sigma = SUM of parent sigmas (every shortest path arrives through a
    parent at k-1, all of which are final by round k)."""
    return f"""
    f{k} AS MATERIALIZED (
      SELECT seed, node, d, sigma FROM f{k - 1}
      UNION ALL
      SELECT c.seed, c.node, CAST({k} AS BIGINT) AS d, c.sigma
      FROM (
        SELECT p.seed, e.dst AS node, CAST(sum(p.sigma) AS BIGINT) AS sigma
        FROM f{k - 1} p JOIN sedges e ON e.src = p.node
        WHERE p.d = {k - 1}
        GROUP BY p.seed, e.dst
      ) c
      WHERE NOT EXISTS (
        SELECT 1 FROM f{k - 1} o
        WHERE o.seed = c.seed AND o.node = c.node
      )
    )"""


def _stress_bwd_sql(k: int) -> str:
    """One backward accumulation level: g(v at d=k) = SUM over DAG
    children w (edges v->w with d(w)=k+1) of (1 + g(w)); nodes whose
    edges all leave the DAG aggregate NULLs away to 0."""
    return f"""
    g{k} AS MATERIALIZED (
      SELECT f.seed, f.node,
             CAST(coalesce(sum(1 + c.g), 0) AS BIGINT) AS g
      FROM (SELECT seed, node FROM f{_STRESS_H} WHERE d = {k}) f
      LEFT JOIN sedges e ON e.src = f.node
      LEFT JOIN g{k + 1} c ON c.seed = f.seed AND c.node = e.dst
      GROUP BY f.seed, f.node
    )"""


@register(
    "graph_stress_sample",
    category="graph",
    oracle=f"""
    WITH users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    sedges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT user_id AS src, (user_id * 7 + 3) % 1000 AS dst FROM users
        UNION ALL
        SELECT user_id, (user_id * 13 + 11) % 1000 FROM users
      ) WHERE src <> dst
    ),
    f0 AS MATERIALIZED (
      SELECT user_id AS seed, user_id AS node,
             CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sigma
      FROM users WHERE user_id % {_STRESS_SEED_MOD} = 0
    ),
    {", ".join(_stress_fwd_sql(k).strip() for k in range(1, _STRESS_H + 1))},
    g{_STRESS_H} AS MATERIALIZED (
      SELECT seed, node, CAST(0 AS BIGINT) AS g
      FROM f{_STRESS_H} WHERE d = {_STRESS_H}
    ),
    {", ".join(_stress_bwd_sql(k).strip()
               for k in range(_STRESS_H - 1, 0, -1))},
    gall AS MATERIALIZED (
      {" UNION ALL ".join(f"SELECT * FROM g{k}"
                          for k in range(1, _STRESS_H + 1))}
    )
    SELECT f.node,
           CAST(sum(f.sigma * g.g) AS BIGINT) AS stress,
           CAST(count(DISTINCT CASE WHEN g.g > 0 THEN f.seed END)
                AS BIGINT) AS n_seeds
    FROM f{_STRESS_H} f
    JOIN gall g ON g.seed = f.seed AND g.node = f.node
    WHERE f.d >= 1
    GROUP BY f.node
    HAVING sum(f.sigma * g.g) > 0
    ORDER BY stress DESC, f.node
    LIMIT 20
    """,
)
def graph_stress_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED STRESS CENTRALITY (Shimbel 1953) over the directed
    follow graph: for every interior node v, the NUMBER of shortest
    source->target paths (within an {_STRESS_H}-hop horizon, sources =
    the deterministic 1/{_STRESS_SEED_MOD} seed sample) that pass
    through v — the betweenness family's integer-exact member, and the
    missing rung between the registry's reach metrics (eccentricity,
    harmonic) and its flow metrics (pagerank, katz): stress measures
    how much shortest-path TRAFFIC a node carries.

    Two-pass Brandes (1999) structure, all-integer by construction —
    chosen over classic betweenness deltas precisely because those are
    float RATIOS whose cross-partition/cross-engine sum order is not
    reproducible, while path COUNTS sum exactly:
      forward: BFS rounds carry sigma(s,v) = number of shortest s->v
      paths (new node's sigma = SUM of parent sigmas — every parent at
      d-1 is final before round d);
      backward: g(v) = SUM over DAG children w of (1 + g(w)) counts
      the (shortest-path, target) pairs strictly downstream of v, so
      stress(v) = SUM over seeds of sigma(s,v) * g_s(v), seeds' own
      rows (d=0) excluded. Top-20 nodes total-ordered (stress DESC,
      node).

    Exactness: sigma <= out_degree^H = 2^{_STRESS_H} and every
    aggregate is a BIGINT sum — no floats anywhere; the DuckDB oracle
    replays the identical rounds as MATERIALIZED CTEs (the
    sim_rerank_mmr unrolled-fixpoint template; the eccentricity op's
    BFS oracle is the forward-pass precedent).

    Scale shape: per-round state is (seed, reached-node) rows — seeds
    x bounded reach (out-degree 2, horizon {_STRESS_H}), shuffled on
    the node key per relaxation join against the broadcast edge
    relation; each forward round localCheckpoints (lineage-doubling
    guard, the graph_bfs_layers discipline) and the backward pass is
    {_STRESS_H} bounded joins. At 100 TB: seeds partition the work
    embarrassingly (Brandes pivots), edges broadcast or bucket-join,
    and the horizon caps state exactly like the production
    hop-bounded betweenness samplers (Riondato-Kornaropoulos).
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    # Materialize the edge relation ONCE: it feeds seven joins (four
    # forward relaxations + three backward levels), and a bare
    # F.broadcast(build) would re-run the events scan and both distinct
    # shuffles per join (the r14 multi-leg-recompute lesson, measured
    # 9.4 s -> ~3 s serial at sf0.1).
    edges_cp = (
        users.selectExpr(
            "user_id AS src",
            "explode(array((user_id * 7 + 3) % 1000,"
            " (user_id * 13 + 11) % 1000)) AS dst",
        )
        .filter("src <> dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = _gated_broadcast(edges_cp)
    dist = (
        users.filter(F.col("user_id") % _STRESS_SEED_MOD == 0)
        .selectExpr(
            "user_id AS seed",
            "user_id AS node",
            "CAST(0 AS BIGINT) AS d",
            "CAST(1 AS BIGINT) AS sigma",
        )
        .localCheckpoint(eager=True)
    )
    for k in range(1, _STRESS_H + 1):
        frontier = dist.filter(F.col("d") == k - 1)
        reached = frontier.join(edges, frontier.node == edges.src).groupBy(
            "seed", F.col("dst").alias("node")
        ).agg(F.sum("sigma").cast("bigint").alias("sigma"))
        new = reached.join(
            dist.selectExpr("seed AS s2", "node AS n2"),
            (reached.seed == F.col("s2")) & (reached.node == F.col("n2")),
            "left_anti",
        ).selectExpr("seed", "node", f"CAST({k} AS BIGINT) AS d", "sigma")
        prev = dist
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        release_checkpoint(prev)
    # Backward: g at the horizon is 0; each level k pulls (1 + g) from
    # its DAG children at k+1 (LEFT joins so leaf nodes aggregate to 0).
    g = dist.filter(F.col("d") == _STRESS_H).selectExpr(
        "seed", "node", "CAST(0 AS BIGINT) AS g"
    )
    g_all = g
    g_cps: list[DataFrame] = []
    for k in range(_STRESS_H - 1, 0, -1):
        level = dist.filter(F.col("d") == k).select("seed", "node")
        contrib = (
            level.join(edges, level.node == edges.src, "left")
            .join(
                g.selectExpr("seed AS gs", "node AS gn", "g AS gg"),
                (F.col("seed") == F.col("gs")) & (F.col("dst") == F.col("gn")),
                "left",
            )
            .groupBy("seed", "node")
            .agg(
                F.expr("CAST(coalesce(sum(1 + gg), 0) AS BIGINT)").alias("g")
            )
        )
        g = contrib.localCheckpoint(eager=True)
        g_cps.append(g)
        g_all = g_all.unionByName(g)
    out = (
        dist.filter(F.col("d") >= 1)
        .join(
            g_all.selectExpr("seed AS as_", "node AS an", "g"),
            (F.col("seed") == F.col("as_")) & (F.col("node") == F.col("an")),
        )
        .groupBy("node")
        .agg(
            F.sum(F.expr("sigma * g")).cast("bigint").alias("stress"),
            F.countDistinct(F.expr("CASE WHEN g > 0 THEN seed END"))
            .cast("bigint")
            .alias("n_seeds"),
        )
        .filter(F.col("stress") > 0)
        .orderBy(F.desc("stress"), "node")
        .limit(20)
    )
    out = out.localCheckpoint(eager=True)
    release_checkpoint(dist)
    release_checkpoint(edges_cp)
    for cp in g_cps:
        release_checkpoint(cp)
    return out


# --- r15 growth: sampled betweenness (canonical-path RK estimator) ---------
_BTW_H = 4  # BFS horizon: paths longer than H hops are outside the sample
_BTW_SEED_MOD = 4  # sources = users with user_id % 4 == 0
_BTW_TGT_MOD = 8  # targets = edge-destination nodes with dst % 8 == 0


def _btw_fwd_sql(k: int) -> str:
    """One canonical-parent BFS round as a MATERIALIZED DuckDB CTE: a
    node first reached at distance k records par = MIN(frontier
    predecessor) — the lexicographic tie-break that makes the sampled
    path canonical (deterministic), so membership counts are integers
    both engines replay exactly."""
    return f"""
    b{k} AS MATERIALIZED (
      SELECT seed, node, d, par FROM b{k - 1}
      UNION ALL
      SELECT c.seed, c.node, CAST({k} AS BIGINT) AS d, c.par
      FROM (
        SELECT p.seed, e.dst AS node, CAST(min(p.node) AS BIGINT) AS par
        FROM b{k - 1} p JOIN sedges e ON e.src = p.node
        WHERE p.d = {k - 1}
        GROUP BY p.seed, e.dst
      ) c
      WHERE NOT EXISTS (
        SELECT 1 FROM b{k - 1} o
        WHERE o.seed = c.seed AND o.node = c.node
      )
    )"""


def _btw_walk_sql(i: int) -> str:
    """One backward step of the canonical-path walk: follow the parent
    pointer of the previous walk row; d >= 1 keeps interior nodes only
    (the walk stops when it reaches the seed at d = 0)."""
    prev = "w1" if i == 2 else f"w{i - 1}"
    return f"""
    w{i} AS MATERIALIZED (
      SELECT w.seed, f.node, f.d, f.par
      FROM {prev} w JOIN b{_BTW_H} f
        ON f.seed = w.seed AND f.node = w.par
      WHERE f.d >= 1
    )"""


@register(
    "graph_betweenness_sample",
    category="graph",
    oracle=f"""
    WITH users AS MATERIALIZED (SELECT DISTINCT user_id FROM events),
    sedges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT user_id AS src, (user_id * 7 + 3) % 1000 AS dst FROM users
        UNION ALL
        SELECT user_id, (user_id * 13 + 11) % 1000 FROM users
      ) WHERE src <> dst
    ),
    b0 AS MATERIALIZED (
      SELECT user_id AS seed, user_id AS node,
             CAST(0 AS BIGINT) AS d, CAST(NULL AS BIGINT) AS par
      FROM users WHERE user_id % {_BTW_SEED_MOD} = 0
    ),
    {", ".join(_btw_fwd_sql(k).strip() for k in range(1, _BTW_H + 1))},
    targets AS MATERIALIZED (
      SELECT s.seed, g.t
      FROM (SELECT user_id AS seed FROM users
            WHERE user_id % {_BTW_SEED_MOD} = 0) s
      CROSS JOIN (SELECT DISTINCT dst AS t FROM sedges
                  WHERE dst % {_BTW_TGT_MOD} = 0) g
      WHERE g.t <> s.seed
    ),
    npairs AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs
      FROM targets tg JOIN b{_BTW_H} f
        ON f.seed = tg.seed AND f.node = tg.t
    ),
    w1 AS MATERIALIZED (
      SELECT tg.seed, f2.node, f2.d, f2.par
      FROM targets tg
      JOIN b{_BTW_H} f ON f.seed = tg.seed AND f.node = tg.t
      JOIN b{_BTW_H} f2 ON f2.seed = tg.seed AND f2.node = f.par
      WHERE f2.d >= 1
    ),
    {", ".join(_btw_walk_sql(i).strip() for i in range(2, _BTW_H))},
    interior AS MATERIALIZED (
      {" UNION ALL ".join(f"SELECT seed, node FROM w{i}"
                          for i in range(1, _BTW_H))}
    )
    SELECT node,
           CAST(count(*) AS BIGINT) AS paths_through,
           n_pairs AS n_pairs_sampled,
           floor(count(*) / CAST(n_pairs AS DOUBLE) * 10000 + 0.5) / 10000
             AS btw_hat
    FROM interior CROSS JOIN npairs
    GROUP BY node, n_pairs
    ORDER BY paths_through DESC, node
    LIMIT 20
    """,
)
def graph_betweenness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED BETWEENNESS CENTRALITY via the Riondato-Kornaropoulos
    device (VLDB 2016: estimate betweenness from r sampled shortest
    paths, epsilon bounded by the VC dimension of the path range space)
    over the same directed follow graph as graph_stress_sample — the
    flow-centrality rung the r14 verdict asked for next. For each
    sampled (source, target) pair, ONE shortest path is selected and
    every interior node's membership counter increments;
    betweenness_hat(v) = paths_through(v) / n_pairs_sampled.

    INTEGER-EXACT by construction (the graph_stress_sample discipline:
    the float members of the betweenness family sum ratio deltas whose
    cross-partition order is not reproducible): where RK picks the
    path uniformly at random among sigma_st ties, this op picks the
    CANONICAL path — each node's parent pointer is the MINIMUM
    frontier predecessor (lexicographic tie-break), so the sampled
    path is a pure function of the graph, membership counts are exact
    BIGINTs, and the DuckDB oracle replays the identical BFS rounds
    and parent-chain walk as MATERIALIZED CTEs. The only float is the
    final division-created estimate (floor-formula r4 both engines).
    The estimator bias vs uniform tie-sampling is the documented
    trade: determinism buys a hash-certifiable oracle; the RK accuracy
    frame (r pairs => additive-epsilon guarantee) is unchanged because
    pair SELECTION, not path tie-breaking, carries the sampling
    theorem.

    Sample design: sources = the deterministic 1/{_BTW_SEED_MOD} seed
    sample; targets = the deterministic 1/{_BTW_TGT_MOD} grid over the
    edge-destination node domain, crossed with the sources (self-pairs
    excluded; pairs whose target the source cannot reach within the
    horizon drop out of the inner join against the distance relation)
    — r = |reached pairs| is recorded as n_pairs_sampled so the
    estimate's denominator is data, not convention. A single
    affine-mapped target per source was built first and REJECTED by
    the sf0.001 invariant test: a source's horizon reach is <=31 of
    1000 nodes, so one target per source sampled ~zero reachable
    pairs at small sf. Interior nodes exclude both endpoints (d >= 1
    and the walk stops before the seed).

    Scale shape: forward pass = the stress op's multi-source BFS (one
    shuffle per round, frontier-proportional, localCheckpoint per
    round, edge relation checkpointed once and broadcast under the
    row-count gate); backward pass = {_BTW_H - 1} bounded joins of the
    walk frontier (<= one row per sampled pair) against the final
    distance relation — at 100 TB both passes partition by seed
    (Brandes pivots) exactly like the production RK samplers.
    """
    users = load(spark, sf_dir, "events").select("user_id").distinct()
    edges_cp = (
        users.selectExpr(
            "user_id AS src",
            "explode(array((user_id * 7 + 3) % 1000,"
            " (user_id * 13 + 11) % 1000)) AS dst",
        )
        .filter("src <> dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = _gated_broadcast(edges_cp)
    seeds = users.filter(F.col("user_id") % _BTW_SEED_MOD == 0)
    dist = seeds.selectExpr(
        "user_id AS seed",
        "user_id AS node",
        "CAST(0 AS BIGINT) AS d",
        "CAST(NULL AS BIGINT) AS par",
    ).localCheckpoint(eager=True)
    for k in range(1, _BTW_H + 1):
        frontier = dist.filter(F.col("d") == k - 1)
        cand = (
            frontier.join(edges, frontier.node == edges.src)
            .groupBy("seed", F.col("dst").alias("nnode"))
            .agg(F.min(frontier.node).cast("bigint").alias("npar"))
        )
        new = cand.join(
            dist.selectExpr("seed AS s2", "node AS n2"),
            (cand.seed == F.col("s2")) & (cand.nnode == F.col("n2")),
            "left_anti",
        ).selectExpr(
            "seed", "nnode AS node", f"CAST({k} AS BIGINT) AS d", "npar AS par"
        )
        prev = dist
        dist = dist.unionByName(new).localCheckpoint(eager=True)
        release_checkpoint(prev)
    grid = edges_cp.filter(F.col("dst") % _BTW_TGT_MOD == 0).select(
        F.col("dst").alias("t")
    ).distinct()
    targets = (
        seeds.selectExpr("user_id AS seed")
        .crossJoin(F.broadcast(grid))
        .filter(F.col("t") != F.col("seed"))
    )
    d_t = dist.selectExpr("seed AS ds", "node AS dn", "d", "par")
    reached = targets.join(
        d_t, (F.col("seed") == F.col("ds")) & (F.col("t") == F.col("dn"))
    ).select("seed", "par")
    n_pairs = F.broadcast(
        reached.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    walk = reached.select("seed", F.col("par").alias("cur"))
    interiors = []
    for _step in range(1, _BTW_H):
        hop = walk.join(
            d_t,
            (F.col("seed") == F.col("ds")) & (F.col("cur") == F.col("dn")),
        ).filter(F.col("d") >= 1)
        interiors.append(hop.select("seed", F.col("cur").alias("node")))
        walk = hop.select("seed", F.col("par").alias("cur"))
    interior = interiors[0]
    for extra in interiors[1:]:
        interior = interior.unionByName(extra)
    out = (
        interior.groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("paths_through"))
        .crossJoin(n_pairs)
        .selectExpr(
            "node",
            "paths_through",
            "n_pairs AS n_pairs_sampled",
            "floor(paths_through / CAST(n_pairs AS DOUBLE) * 10000 + 0.5)"
            " / 10000 AS btw_hat",
        )
        .orderBy(F.desc("paths_through"), "node")
        .limit(20)
    )
    out = out.localCheckpoint(eager=True)
    release_checkpoint(dist)
    release_checkpoint(edges_cp)
    return out

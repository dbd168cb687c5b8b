"""Iterative graph ranking: fixed-iteration PageRank over an edge list —
the influence/centrality member of the graph tier (connected components in
``operators/dedup.py`` answers "which nodes form one cluster"; this answers
"which nodes matter most", the crawl-frontier / seed-quality signal a
web-scale corpus pipeline ranks domains and hosts with).

Engine-exactness by construction: ranks are kept in integer micro-units
(``scale`` = 1e6 by default) and every update uses only BIGINT addition and
floor division — ``r' = base + (num * Σ (r_src div deg_src)) div den`` —
so the result is bit-identical across engines and across partitionings
(integer sums are order-independent; float PageRank would accumulate
summation-order noise over iterations, the exact failure mode the repo's
drift_psi_windowed post-mortem documents). The quantization loses at most
``deg-1`` micro-units per node per iteration — a rounding model, not a
correctness hazard, and identical everywhere.

Scale: the Pregel-style plan — the checkpointed edge list is the only
corpus-sized state (out-degrees ride on the O(nodes) rank table); each
iteration is ONE hash join ``edges ⋈ ranks`` on src (it broadcasts while
the node count fits the session's broadcast threshold — the rule is in
:func:`pagerank`) plus ONE map-side partial-aggregated ``groupBy(dst)``;
driver state is one scalar (the node count).

Round discipline: every iterative operator here (pagerank, bfs_hops,
sssp_bounded, kcore_peel, label_propagation) is a step function run by
:func:`.rounds.iterate`, which checkpoints each round and releases the one
it replaced; a fixed edge list is held by :func:`.rounds.checkpointed`.
The release rule is stated once, in ``operators/rounds.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rounds import checkpointed, iterate


# Spark's own size estimate for a row of three longs (8 B row header + 3 × 8 B)
_RANK_ROW_BYTES = 32


def _broadcast_fits(spark, n_rows: int) -> bool:
    """True when ``n_rows`` rank rows ``(src, rank_micro, deg)`` fit the
    session's ``spark.sql.autoBroadcastJoinThreshold`` (read through
    SQLConf, so every byte-string form of the conf parses; ≤ 0 disables
    broadcasting)."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 < n_rows * _RANK_ROW_BYTES <= limit


def _pagerank_round(
    edges: DataFrame, ranks: DataFrame, contrib: Column, update: Column, bcast: bool
) -> DataFrame:
    """One un-materialized PageRank round over ``edges (src, dst, [w])`` and
    ``ranks (id, rank_micro, deg)``: a hash join on src (``ranks`` hinted
    ``broadcast`` when ``bcast``) gives each edge's ``contrib``; ONE
    ``groupBy(dst)`` sums them, with a zero row per node, into ``s``; and
    ``update`` turns ``s`` into the new rank. The zero rows stand in for
    ``nodes LEFT JOIN contrib`` plus ``coalesce(s, 0)`` — a BIGINT sum that
    includes a 0 is the same value — so a node without in-edges still gets
    its row (rank = base). They also
    carry each node's out-degree into the next round; the contribution rows
    carry NULL there, so ``max`` returns it unchanged."""
    r = ranks.select(F.col("id").alias("src"), "rank_micro", "deg")
    c = (
        edges.join(F.broadcast(r) if bcast else r, "src")
        .where(F.col("dst").isNotNull())  # a NULL dst is no node's in-edge
        .select("dst", contrib.alias("c"), F.lit(None).cast("bigint").alias("deg"))
    )
    zero = ranks.select(F.col("id").alias("dst"), F.lit(0).cast("bigint").alias("c"), "deg")
    return (
        c.unionByName(zero)
        .groupBy("dst")
        .agg(F.sum("c").alias("s"), F.max("deg").alias("deg"))
        .select(F.col("dst").alias("id"), update.alias("rank_micro"), "deg")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
    weight_col: "str | None" = None,
) -> DataFrame:
    """Fixed-point PageRank: ``(id, rank_micro)`` after ``iters`` rounds of
    ``r' = ((den-num)·scale) div (den·N)  +  (num · Σ_in contrib) div den``
    over the directed edge list, with ranks in integer micro-units.
    Unweighted, ``contrib = r_src div deg_src``; with ``weight_col``
    (positive BIGINT edge weights — trade volume, link count, token mass),
    ``contrib = (r_src · w) div W_src`` where ``W_src`` is the node's total
    outgoing weight — still pure BIGINT adds and floor divs, so the
    weighted variant keeps the same engine/partitioning exactness
    (``r·w`` stays inside int64 for weights up to ~9e12 at the default
    scale). Non-positive or NULL weights are rejected with a ``ValueError``
    before any round runs: a node whose out-weight sums to 0 would turn
    ``(r·w) div W_src`` into a NULL that ``sum`` silently drops, corrupting
    ranks instead of failing (ADVICE r10). The guard is one ``limit(1)``
    probe of the checkpointed edge list — a bounded single-row collect.

    Contract: every node must have out-degree >= 1 (no dangling mass) —
    pass a SYMMETRIZED edge list (both directions) for undirected graphs,
    which satisfies this automatically. Self-loops are allowed. Duplicate
    edges count as parallel edges (dedupe upstream if unwanted).

    Plan: the caller's edge plan runs ONCE, into the checkpointed edge
    list. The node table ``(id, deg)`` — every id seen as src or dst, with
    its out-degree — is one map-side-combined aggregation over that
    checkpoint, so set-up never joins the edge list with its degrees nor
    shuffles it on src; its row count is the one driver scalar (N). Each
    round is one hash join ``edges ⋈ ranks`` on src plus one
    ``groupBy(dst)`` (:func:`_pagerank_round`), ``localCheckpoint``-ed to
    cut the lineage.

    Broadcast rule: the ranks side is hinted ``broadcast`` when
    ``N × 32 B`` (Spark's estimate for a row of three longs) is within the
    session's ``spark.sql.autoBroadcastJoinThreshold``. The optimizer
    cannot decide this itself: a checkpoint's ``LogicalRDD`` keeps the
    product-of-sizes estimates of the plan it replaced, and they compound
    round over round (at sf0.01 the fifth round's 1,600-row rank table is
    estimated at ~1e61 B), so unhinted it plans a sort-merge join that
    shuffles the whole edge list every round. Past the threshold, or with
    broadcasting disabled (≤ 0), there is no hint and the round is that
    shuffle join, which is equally correct.
    """
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("bigint").alias("w"))
    spark = edges.sparkSession
    # corpus-sized state, read every round — persist once
    with checkpointed(edges.select(*cols)) as e:
        if weight_col is not None:
            # fail fast on weights the update rule can't survive (see docstring)
            bad = e.where(F.col("w").isNull() | (F.col("w") <= 0)).limit(1).collect()
            if bad:
                raise ValueError(
                    f"pagerank weight_col={weight_col!r} must be positive and "
                    f"non-NULL; found {bad[0].asDict()}"
                )
        out = F.col("w") if weight_col is not None else F.lit(1).cast("bigint")
        nodes = (
            e.select(F.col("src").alias("id"), out.alias("o"))
            .unionByName(e.select(F.col("dst").alias("id"), F.lit(0).cast("bigint").alias("o")))
            .groupBy("id")
            .agg(F.sum("o").alias("deg"))
            .localCheckpoint(eager=True)
        )
        n_nodes = nodes.count()  # bounded: ONE driver scalar, O(1) result
        if n_nodes == 0:
            return nodes.select("id", F.lit(0).cast("bigint").alias("rank_micro"))
        r0 = F.lit(scale // n_nodes).cast("bigint")
        if iters <= 0:
            return nodes.select("id", r0.alias("rank_micro"))

        base = ((damping_den - damping_num) * scale) // (damping_den * n_nodes)
        update = F.expr(f"CAST({base} + ({damping_num} * s) div {damping_den} AS BIGINT)")
        contrib = F.expr(
            "(rank_micro * w) div deg" if weight_col is not None else "rank_micro div deg"
        )
        bcast = _broadcast_fits(spark, n_nodes)

        def step(ranks: DataFrame, i: int) -> DataFrame:
            if i == 1:  # the node table carries no rank yet
                ranks = ranks.withColumn("rank_micro", r0)
            return _pagerank_round(e, ranks, contrib, update, bcast)

        return iterate(nodes, step, iters).select("id", "rank_micro")


def pagerank_oracle_cte(
    edges_sql: str,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
    select_sql: str | None = None,
    weighted: bool = False,
) -> str:
    """The DuckDB twin as chained CTEs — same integer micro-unit update,
    one CTE per iteration, generated for a fixed ``iters`` so the oracle is
    plain ANSI-ish SQL (no recursion). ``edges_sql`` must select columns
    ``src, dst`` (plus ``w`` when ``weighted``); ``select_sql`` overrides
    the final projection over ``r{iters}`` (default
    ``SELECT id, rank_micro FROM r{iters}``)."""
    if weighted:
        deg_sql = "deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM e GROUP BY src)"
        ed_sql = "ed AS (SELECT e.src, e.dst, e.w, deg.deg FROM e JOIN deg USING (src))"
        contrib_sql = "(r.rank_micro * ed.w) // ed.deg"
    else:
        deg_sql = "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src)"
        ed_sql = "ed AS (SELECT e.src, e.dst, deg.deg FROM e JOIN deg USING (src))"
        contrib_sql = "r.rank_micro // ed.deg"
    parts = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "n AS (SELECT count(*) AS n_nodes FROM nodes)",
        deg_sql,
        ed_sql,
        f"""r0 AS (
  SELECT id, CAST({scale} // n_nodes AS BIGINT) AS rank_micro FROM nodes, n
)""",
    ]
    dd = damping_den - damping_num
    for i in range(1, iters + 1):
        parts.append(
            f"""r{i} AS (
  SELECT nodes.id,
         CAST(({dd} * {scale}) // ({damping_den} * n.n_nodes)
              + ({damping_num} * COALESCE(c.s, 0)) // {damping_den} AS BIGINT)
           AS rank_micro
  FROM nodes CROSS JOIN n
  LEFT JOIN (
    SELECT ed.dst, sum({contrib_sql}) AS s
    FROM ed JOIN r{i - 1} r ON r.id = ed.src
    GROUP BY ed.dst
  ) c ON c.dst = nodes.id
)"""
        )
    final = select_sql or f"SELECT id, rank_micro FROM r{iters}"
    return "WITH " + ",\n".join(parts) + "\n" + final


def triangle_counts(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Per-node triangle participation counts — ``(id, n_triangles)`` for
    every node in at least one triangle — over an undirected edge list
    (any orientation/duplication; canonicalized and deduped here).

    Algorithm: degree-ordered node-iterator (the MapReduce triangle
    classic — Suri & Vassilvitskii, WWW 2011 "Counting Triangles and the
    Curse of the Last Reducer"). Orient every edge from its
    lexicographically-smaller ``(degree, id)`` endpoint to the larger;
    the orientation is acyclic and every triangle {x,y,z} with
    κ(x)<κ(y)<κ(z) is counted EXACTLY once, as the wedge (x→y, x→z)
    closed by the edge {y,z}.

    Scale: the whole point of the orientation is that out-degrees are
    bounded by O(sqrt(m)) — the "curse of the last reducer" is the
    unoriented hub whose deg² wedges land on one task; after orientation a
    hub's edges point INTO it, so its wedge count collapses. Plan: two
    equi-joins (wedge build on src, closure probe on the canonical pair)
    and one explode+groupBy — all shuffle-partitioned, no broadcast of
    anything corpus-sized, no BNLJ. The canonical edge list and the
    oriented edge list are each referenced from multiple plan branches
    (deg, both wedge sides, the closure probe), so both are
    ``localCheckpoint``ed — without it Spark re-executes the edge
    derivation per branch (22 source scans on the catalog query; the
    pagerank / connected_components lineage-truncation precedent).
    Exact, so the oracle is the same SQL.
    """
    e = (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))  # drops self-loops
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=True)  # read by BOTH wedge sides
    o1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    o2 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    # wedge (x→y, x→z) with y<z (node id — dedupes the unordered pair),
    # closed by the canonical edge {y,z}; y<z makes (y,z) already canonical
    tri = (
        o1.join(o2, "x")
        .where(F.col("y") < F.col("z"))
        .join(e, (F.col("y") == F.col("a")) & (F.col("z") == F.col("b")))
        .select("x", "y", "z")
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


def triangle_counts_oracle_sql(pairs_sql: str, final_sql: str | None = None) -> str:
    """DuckDB twin: the identical canonicalize → degree-orient → wedge →
    close pipeline (exact — same joins, no approximation). ``pairs_sql``
    selects columns ``a, b``; ``final_sql`` overrides the projection over
    ``cnt(id, n_triangles)``."""
    return f"""WITH raw AS ({pairs_sql}),
e AS (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
  FROM raw WHERE least(a, b) < greatest(a, b)
),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM e UNION ALL SELECT b FROM e
  ) GROUP BY id
),
o AS (
  SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS dst
  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b
),
tri AS (
  SELECT o1.src AS x, o1.dst AS y, o2.dst AS z
  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst
  JOIN e ON e.a = o1.dst AND e.b = o2.dst
),
cnt AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
  ) GROUP BY id
)
{final_sql or "SELECT id, n_triangles FROM cnt"}"""


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Multi-source BFS: ``(id, hops)`` — the minimum hop count (<=
    ``max_hops``) from any seed, over a directed edge list. The
    reachability / transitive-closure-to-depth-k member of the graph tier
    (crawl frontier expansion, blast-radius analysis, supply-chain
    exposure), exact by construction: hop levels are set membership, no
    arithmetic at all.

    Pregel-style frontier loop (the pagerank pattern): the state is the
    visited set, and hop ``h``'s frontier is its ``hops == h-1`` rows; per
    hop ONE hash join frontier⋈edges on ``src`` + distinct + ONE left-anti
    join against the visited set, one checkpoint per hop. The edge list is
    checkpointed once — it is read every hop. Empty frontiers make
    remaining hops cheap no-ops (no driver branching, so the loop is
    deterministic in plan count)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")

    with checkpointed(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))) as e:
        visited = (
            seeds.select(F.col(id_col).alias("id"))
            .distinct()
            .withColumn("hops", F.lit(0).cast("int"))
            .localCheckpoint(eager=True)
        )

        def step(visited: DataFrame, h: int) -> DataFrame:
            frontier = visited.where(F.col("hops") == h - 1).select("id")
            nxt = (
                frontier.join(e, frontier["id"] == e["src"])
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(visited.select("id"), "id", "left_anti")
                .withColumn("hops", F.lit(h).cast("int"))
            )
            return visited.unionByName(nxt)

        return iterate(visited, step, max_hops)


def bfs_oracle_cte(
    edges_sql: str, seeds_sql: str, max_hops: int, select_sql: str | None = None
) -> str:
    """DuckDB twin as chained CTEs — one frontier + one visited CTE per
    hop, generated for a fixed ``max_hops`` (the pagerank_oracle_cte
    pattern). ``edges_sql`` selects ``src, dst``; ``seeds_sql`` selects
    ``id``; ``select_sql`` overrides the final projection over
    ``v{max_hops}(id, hops)``."""
    parts = [
        f"e AS ({edges_sql})",
        f"v0 AS (SELECT DISTINCT id, 0 AS hops FROM ({seeds_sql}))",
    ]
    for h in range(1, max_hops + 1):
        prev = f"v{h - 1}"
        parts.append(
            f"""f{h} AS (
  SELECT DISTINCT e.dst AS id FROM e JOIN {prev} v ON e.src = v.id
  WHERE e.dst NOT IN (SELECT id FROM {prev})
)""",
        )
        parts.append(
            f"v{h} AS (SELECT id, hops FROM {prev} "
            f"UNION ALL SELECT id, {h} FROM f{h})",
        )
    final = select_sql or f"SELECT id, hops FROM v{max_hops}"
    return "WITH " + ",\n".join(parts) + "\n" + final


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    id_col: str = "id",
) -> DataFrame:
    """Bounded-round single/multi-source shortest paths — Bellman-Ford
    relaxation for ``rounds`` iterations over a weighted directed edge
    list: returns ``(id, cost)``, the exact minimum path cost from any
    seed using at most ``rounds`` edges. The WEIGHTED completion of
    :func:`bfs_hops` (hop count = SSSP with unit weights), finishing the
    graph tier's question set: membership (components), importance
    (pagerank), density (triangles), reach (bfs), and now cost.

    Exactness: costs are sums and mins in the input weight dtype —
    integer weights give pure-BIGINT arithmetic, so the result is
    partitioning-exact and a chained-CTE SQL twin
    (:func:`sssp_oracle_cte`) replays it verbatim.

    Scale (the Pregel discipline shared with pagerank/bfs_hops): per
    round ONE dist⋈edges hash join + one map-side-combinable min-groupBy
    over (|dist| + |relaxed|) rows, one checkpoint per round; the edge
    list is checkpointed once. Distances carry (id, cost) longs only —
    never paths. Negative weights are allowed
    by the algebra (it is Bellman-Ford) but rounds must then reach the
    longest useful path length; with non-negative weights ``rounds`` =
    graph diameter recovers full Dijkstra semantics."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")

    cols = [F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")]
    with checkpointed(edges.select(*cols)) as e:
        dist = (
            seeds.select(F.col(id_col).alias("id"))
            .distinct()
            .withColumn("cost", F.lit(0).cast("long"))
            .localCheckpoint(eager=True)
        )

        def step(dist: DataFrame, _: int) -> DataFrame:
            relaxed = dist.join(e, dist["id"] == e["src"]).select(
                F.col("dst").alias("id"), (dist["cost"] + e["w"]).alias("cost")
            )
            return (
                dist.unionByName(relaxed)
                .groupBy("id")
                .agg(F.min("cost").alias("cost"))
            )

        return iterate(dist, step, rounds)


def sssp_oracle_cte(
    edges_sql: str, seeds_sql: str, rounds: int, select_sql: str | None = None
) -> str:
    """DuckDB twin of :func:`sssp_bounded` as chained CTEs — one
    relax-and-min CTE per round (the bfs_oracle_cte pattern: min-agg per
    round, NEVER path enumeration, so the oracle stays polynomial on
    dense graphs). ``edges_sql`` selects ``src, dst, w``; ``seeds_sql``
    selects ``id``; ``select_sql`` overrides the final projection over
    ``d{rounds}(id, cost)``."""
    parts = [
        f"e AS ({edges_sql})",
        f"d0 AS (SELECT DISTINCT id, CAST(0 AS BIGINT) AS cost "
        f"FROM ({seeds_sql}))",
    ]
    for r in range(1, rounds + 1):
        prev = f"d{r - 1}"
        parts.append(
            f"""d{r} AS (
  SELECT id, CAST(min(cost) AS BIGINT) AS cost FROM (
    SELECT id, cost FROM {prev}
    UNION ALL
    SELECT e.dst AS id, d.cost + e.w AS cost
    FROM {prev} d JOIN e ON d.id = e.src
  ) GROUP BY id
)""",
        )
    final = select_sql or f"SELECT id, cost FROM d{rounds}"
    return "WITH " + ",\n".join(parts) + "\n" + final


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peel — ``rounds`` iterations of "drop every
    node with degree < k, drop its incident edges" over a SYMMETRIC edge
    list; returns ``(id, deg)`` for the nodes surviving all rounds, with
    their residual degree. The density-core member of the graph tier
    (triangles measure local density; THIS extracts the globally dense
    backbone — community cores, spam-farm detection, the influencer
    subgraph). At the fixpoint this is Seidman's k-core; with ``rounds``
    bounded it is the truncated peel, exact by construction (set
    membership + integer degrees — the bfs_hops honesty model: the
    bound is part of the semantics).

    Scale (the Pregel discipline): per round ONE map-side-combinable
    degree groupBy + ONE semi-join per endpoint against the O(survivors)
    keep-set, one checkpoint per round (the state is the edge set). Edges
    carry (src, dst) longs only. Monotone: the edge set only shrinks, so
    rounds beyond convergence are cheap no-ops."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")

    def step(e: DataFrame, _: int) -> DataFrame:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        return e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    return iterate(e, step, rounds).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )


def kcore_oracle_cte(
    edges_sql: str, k: int, rounds: int, select_sql: str | None = None
) -> str:
    """DuckDB twin of :func:`kcore_peel` as chained CTEs — one
    degree+filter CTE pair per round (the sssp_oracle_cte pattern).
    ``edges_sql`` selects a symmetric ``src, dst``; ``select_sql``
    overrides the final projection over ``e{rounds}(src, dst)``."""
    parts = [f"e0 AS ({edges_sql})"]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""k{r} AS (
  SELECT src FROM {prev} GROUP BY src HAVING count(*) >= {k}
)""",
        )
        parts.append(
            f"""e{r} AS (
  SELECT e.src, e.dst FROM {prev} e
  JOIN k{r} a ON e.src = a.src
  JOIN k{r} b ON e.dst = b.src
)""",
        )
    final = select_sql or (
        f"SELECT src AS id, CAST(count(*) AS BIGINT) AS deg "
        f"FROM e{rounds} GROUP BY src"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round synchronous label propagation (Raghavan et al.'s
    LPA, determinized) — the COMMUNITY-DETECTION member of the graph
    tier: connected components says "reachable at all", k-core says
    "dense backbone", THIS says "which cluster do you belong to" (the
    market-segmentation / fraud-ring / topic-group readout). Returns
    ``(id, lbl)`` after ``rounds`` synchronous updates; ``lbl`` is the
    id of some member node, so communities are named deterministically.

    Every node starts as its own label; each round every node adopts the
    most frequent label among its neighbors' PREVIOUS-round labels, ties
    broken to the SMALLEST label — integer counts + integer tie-break,
    so the result is exact set arithmetic, bit-identical across engines
    and partitionings, and the chained-CTE oracle is identical by
    construction (the kcore/sssp honesty model: the round bound is part
    of the semantics). Synchronous LPA oscillates on bipartite graphs;
    callers on such graphs should include SELF-LOOPS in ``edges`` (the
    node's own label then votes too — the standard damping fix), which
    keeps the update rule itself unchanged.

    Scale (the Pregel discipline): per round ONE hash join
    ``edges ⋈ labels`` on dst + TWO map-side-combinable aggs (the
    (id, lbl) count, then the per-id argmax via a struct max — no window,
    so no per-node sort), one checkpoint per round; labels is O(nodes),
    edges the only corpus-sized state."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")

    with checkpointed(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))) as e:
        labels = (
            e.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("lbl"))
            .localCheckpoint(eager=True)
        )

        def step(labels: DataFrame, _: int) -> DataFrame:
            nbr = e.join(labels, e["dst"] == labels["id"]).select(
                e["src"].alias("nid"), "lbl"
            )
            counts = nbr.groupBy("nid", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
            return (
                counts.groupBy("nid")
                .agg(
                    F.max(
                        F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg"))
                    ).alias("m")
                )
                .select(F.col("nid").alias("id"), (-F.col("m.neg")).alias("lbl"))
            )

        return iterate(labels, step, rounds)


def lpa_oracle_cte(
    edges_sql: str, rounds: int, select_sql: str | None = None
) -> str:
    """DuckDB twin of :func:`label_propagation` as chained CTEs — one
    count+argmax CTE pair per round (the kcore_oracle_cte pattern).
    ``edges_sql`` selects the edge list (symmetric, plus self-loops if
    the caller added them on the Spark side); ``select_sql`` overrides
    the final projection over ``l{rounds}(id, lbl)``."""
    parts = [
        f"e0 AS ({edges_sql})",
        "l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e0)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""c{r} AS (
  SELECT e.src AS id, l.lbl, count(*) AS cnt
  FROM e0 e JOIN l{r - 1} l ON e.dst = l.id GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""l{r} AS (
  SELECT id, lbl FROM (
    SELECT id, lbl,
           row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl)
             AS rn
    FROM c{r}) t WHERE rn = 1
)"""
        )
    final = select_sql or f"SELECT id, lbl FROM l{rounds}"
    return "WITH " + ",\n".join(parts) + "\n" + final

"""Graph analytics as declarative DataFrame iterations.

``pagerank_fixed_point`` runs weighted PageRank for a FIXED number of
iterations with pure int64 arithmetic — ranks live in scaled integer
units (1e12 = rank 1.0), damping is ``*85 div 100``, and each source's
per-unit share is floored BEFORE multiplying by the edge weight:

    q_src    = ((r_src * 85) div 100) div out_w
    r'_dst   = base + sum(q_src * w_e)

That ordering keeps every intermediate <= r_src (q*w <= damped rank), so
the math cannot overflow int64 at ANY graph scale, and truncation-only
integer ops make the result bit-identical on every engine / partition
order — the same trick the curation sampler uses for reproducibility.
(Float PageRank sums doubles in shuffle order: never reproducible.)

Scale shape: one edges/ranks hash join + one groupBy(dst) per
iteration, both keyed on node ids, so Catalyst reuses one partitioning;
the edges frame is localCheckpoint'd so iterations don't re-derive it.
Companion of operators/cluster.py's star-contraction components (the
other fixed-iteration graph op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_frame

SCALE = 1_000_000_000_000  # fixed-point unit: 1e12 == rank 1.0


# Graphs at or below this many edges iterate on the driver; larger ones
# take the declarative join+groupBy loop. Set at the measured warm
# crossover (docs/TIER_CROSSOVER.md: local 4.8 s vs distributed 4.6 s
# at 500k edges, 3x slower at 1M) — the per-iteration Python dict pass
# is single-threaded while the join+groupBy loop spreads.
_PAGERANK_LOCAL_MAX_EDGES = 500_000


def _pagerank_local(triples, n_iter: int, redistribute: bool):
    """Driver-local replay of the fixed-point loop below — identical
    truncating-int64 arithmetic on non-negative values, so the result is
    bit-equal to the distributed chain (and to its DuckDB oracle)."""
    out_w: dict = {}
    for s, _d, w in triples:
        out_w[s] = out_w.get(s, 0) + w
    nodes = {s for s, _d, _w in triples} | {d for _s, d, _w in triples}
    n = len(nodes)
    if n == 0:
        return []
    r = {v: SCALE // n for v in nodes}
    base = (SCALE * 15 // 100) // n
    for _ in range(n_iter):
        # skip sources whose weights sum to 0: they contribute nothing
        # but stay NON-dangling (they have out-edges). The distributed
        # chain filters the same rows out of q before its div (which
        # would throw under ANSI mode); dividing locally would raise
        # ZeroDivisionError on the same input.
        q = {s: ((r[s] * 85) // 100) // out_w[s] for s in out_w if out_w[s] != 0}
        contrib: dict = {}
        for s, d, w in triples:
            if s in q:
                contrib[d] = contrib.get(d, 0) + q[s] * w
        extra = 0
        if redistribute:
            dang = sum(r[v] for v in nodes if v not in out_w)
            extra = ((dang * 85) // 100) // n
        r = {v: base + contrib.get(v, 0) + extra for v in nodes}
    return sorted(r.items())


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Weighted PageRank over ``edges(src, dst, w)``; returns
    ``(node, rank_scaled)`` after ``n_iter`` synchronous iterations.

    Nodes are the union of sources and destinations. Dangling-node mass
    (sources with no out-edges): by default it is dropped — the leak is
    identical on every engine, which is what the exactness contract
    needs. With ``redistribute_dangling=True`` the standard
    mass-conserving variant runs instead: each iteration the damped
    dangling mass is split evenly across all nodes,
    ``share = ((D * 85) div 100) div n`` — still pure truncating int64,
    so still bit-reproducible. Downstream ranking consumers that expect
    sum(rank) ~ 1 (mixture weighting, sampling budgets) want this
    variant; the dangling aggregate is one scalar per iteration,
    crossJoin-broadcast like the node count.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    )

    # Size-gated LOCAL iteration fast path (the <=1M-edge gate pattern of
    # operators/cluster.connected_components): the rank vector is O(nodes)
    # and every iteration is pure truncating int64 arithmetic, so for
    # small aggregated graphs (event-type transition graphs are a few
    # hundred edges after their corpus-sized groupBy) the n_iter rounds
    # run on the driver — Python ints replay Spark's non-negative `div`
    # (floor == truncate) and order-independent integer sums EXACTLY.
    # One limit-guarded collect replaces ~4 chained stages per iteration;
    # larger graphs take the declarative loop below unchanged.
    rows = e.limit(_PAGERANK_LOCAL_MAX_EDGES + 1).collect()
    if len(rows) <= _PAGERANK_LOCAL_MAX_EDGES:
        triples = [(r["src"], r["dst"], r["w"]) for r in rows]
        ranks = _pagerank_local(triples, n_iter, redistribute_dangling)
        node_t = dict(e.dtypes)["src"]
        return local_frame(
            edges.sparkSession, ranks, f"node {node_t}, rank_scaled bigint"
        )

    e = e.localCheckpoint(eager=False)
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.agg(F.count(F.lit(1)).alias("_n"))

    # carry the node count as a broadcast column so base = (.15*SCALE) div n
    # stays declarative (no collect)
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", "_n", F.expr(f"{SCALE} div _n").alias("r")
    )

    base = F.expr(f"({SCALE} * 15 div 100) div _n")
    for _ in range(n_iter):
        # out_w == 0 sources contribute nothing (and under ANSI mode the
        # div would throw); they keep their out_w row so the dangling
        # anti-join below still treats them as NON-dangling — the local
        # replay implements the identical rule.
        q = ranks.join(out_w.where(F.col("out_w") != 0), ranks.node == out_w.src).select(
            "src", F.expr("((r * 85) div 100) div out_w").alias("q")
        )
        contrib = (
            e.join(q, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("q") * F.col("w")).alias("_s"))
        )
        new_rank = base + F.coalesce(F.col("_s"), F.lit(0))
        iter_frame = nodes.crossJoin(F.broadcast(n))
        if redistribute_dangling:
            # scalar: total rank sitting on nodes with no out-edges
            dang = (
                ranks.join(out_w, ranks.node == out_w.src, "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("_d"))
            )
            iter_frame = iter_frame.crossJoin(F.broadcast(dang))
            new_rank = new_rank + F.expr("((_d * 85) div 100) div _n")
        ranks = iter_frame.join(contrib, nodes.node == contrib.dst, "left").select(
            "node", "_n", new_rank.alias("r")
        )
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def pagerank_oracle_sql(
    edges_cte: str, n_iter: int = 3, redistribute_dangling: bool = False
) -> str:
    """Unrolled-CTE DuckDB equivalent over ``edges_cte`` (a CTE body
    producing columns src, dst, w). DuckDB ``//`` floors and Spark
    ``div`` truncates — identical on the nonnegative operands here.
    ``redistribute_dangling`` mirrors the engine flag: a per-iteration
    scalar CTE sums the rank of out-edge-less nodes and every node gains
    ``(d * 85 // 100) // n``."""
    parts = [
        f"e AS ({edges_cte})",
        "ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src)",
        "nd AS (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "nn AS (SELECT count(*) AS n FROM nd)",
        f"r0 AS (SELECT node, {SCALE} // (SELECT n FROM nn) AS r FROM nd)",
    ]
    for i in range(1, n_iter + 1):
        dang_term = ""
        if redistribute_dangling:
            parts.append(
                f"""d{i} AS (
  SELECT COALESCE(sum(r.r), 0) AS d FROM r{i - 1} r
  WHERE r.node NOT IN (SELECT src FROM e))"""
            )
            dang_term = (
                f" + (((SELECT d FROM d{i}) * 85 // 100) // (SELECT n FROM nn))"
            )
        parts.append(
            f"""r{i} AS (
  SELECT nd.node,
         (({SCALE} * 15 // 100) // (SELECT n FROM nn)) + COALESCE(c.s, 0){dang_term} AS r
  FROM nd LEFT JOIN (
    SELECT e.dst AS node, sum(((r.r * 85 // 100) // ow.out_w) * e.w) AS s
    FROM e JOIN r{i - 1} r ON r.node = e.src JOIN ow ON ow.src = e.src
    GROUP BY e.dst) c ON c.node = nd.node)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS node, CAST(r AS BIGINT) AS rank_scaled FROM r{n_iter}"
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact global triangle count with DEGREE-ORDERED orientation.

    Input: undirected edges (any orientation, self-loops dropped,
    duplicates collapsed). Each edge is re-oriented from its
    lower-(degree, id) endpoint to the higher one, then triangles are
    counted as wedges (u->v, u->w) closed by (v->w). Orienting by degree
    is what makes this survive power-law graphs at scale: every wedge is
    charged to its LOWEST-degree vertex, so the join fan-out per vertex
    is bounded by its oriented out-degree — O(E^1.5) work in total
    (Schank's algorithm) instead of the hub-quadratic blowup of charging
    wedges to hub centers. Three shuffles: degree count, wedge build,
    closing-edge join.

    Output (one row): n_nodes, n_edges, n_wedges (unordered paths of
    length 2 on the undirected graph), n_triangles, and the global
    clustering coefficient 3*triangles/wedges (one IEEE division of
    exact integers).
    """
    # e and deg are each referenced by several subtrees below; pin them
    # so an expensive upstream edge derivation (e.g. a co-occurrence
    # self-join) runs once, not once per reference
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    # orient low (deg, id) -> high (deg, id); ties impossible on id
    lo_is_a = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_is_a, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_is_a, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lo_is_a, F.struct("_db", "b")).otherwise(F.struct(
                F.col("_da").alias("_db"), F.col("a").alias("b"))).alias("_vord"),
        )
        .select("u", "v", F.col("_vord._db").alias("vdeg"))
        .localCheckpoint(eager=True)  # reused by wedge sides + closing join
    )
    w1 = oriented.select(F.col("u"), F.col("v"), F.col("vdeg"))
    w2 = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.col("vdeg").alias("wdeg")
    )
    # wedge (u->v, u->w) with ord(v) < ord(w); close with oriented (v->w)
    vw_lt = (F.col("vdeg") < F.col("wdeg")) | (
        (F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w"))
    )
    wedges = w1.join(w2, "u").filter(vw_lt).select("v", "w")
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
            .cast("long")
            .alias("n_wedges"),
            (F.sum("deg") / 2).cast("long").alias("n_edges"),
        )
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            (
                (F.col("n_triangles") * 3).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("gcc"),
        )
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007) —
    near-linear community detection over ``edges(src, dst[, w])``.

    Every node starts labeled with its own id; each round, every node
    adopts the label with the greatest total incident edge weight among
    its neighbors' previous-round labels, ties to the SMALLEST label
    (``max(struct(score, -label))`` — deterministic on every engine, no
    random visit order like the original formulation). Fixed ``n_iter``
    synchronous rounds rather than convergence detection keeps the plan
    finite and the result exactly replayable.

    Scale shape: the undirected edge list is derived once and pinned;
    each round is one node-keyed join (labels are one row per node) +
    one (node, label) aggregate — the same bounded per-iteration cost
    PageRank pays, no windows, no driver state. Labels frames are
    checkpointed per round so lineage stays flat.

    Returns ``(node, community)`` — one row per non-isolated node.
    """
    w = F.col(weight) if weight else F.lit(1)
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("_w"))
        .unionAll(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"), w.alias("_w"))
        )
        .groupBy("a", "b")
        .agg(F.sum("_w").alias("_w"))
        .localCheckpoint(eager=False)
    )
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(n_iter):
        nb = und.join(
            labels.select(F.col("node").alias("b"), F.col("label").alias("_lb")), "b"
        )
        scores = nb.groupBy("a", "_lb").agg(F.sum("_w").alias("_s"))
        labels = (
            scores.groupBy("a")
            .agg(
                F.max(F.struct(F.col("_s"), (-F.col("_lb")).alias("_nl"))).alias("_m")
            )
            .select(F.col("a").alias("node"), (-F.col("_m._nl")).alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("label").alias("community"))

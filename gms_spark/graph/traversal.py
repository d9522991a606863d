"""BFS, SSSP, and Jones–Plassmann coloring as superstep DataFrame loops.

Reference semantics:
  * BFS — direction-optimizing BFS (gms/representations/graphs/
    log_graph/bfs.cc): we implement the logical result (hop distance /
    parent tree is not pinned) as frontier expansion; Spark's shuffle IS
    the "top-down" step, and the groupBy-min absorbs the "bottom-up"
    optimization's purpose (hub frontiers partial-aggregate map-side).
  * SSSP — delta-stepping (log_graph/sssp.cc:54+) relaxes buckets of
    edges; the DataFrame analog is synchronous Bellman–Ford with a
    changed-count stop: identical fixpoint (shortest distances), with
    per-round work = one join + min-aggregate. Delta-stepping's bucket
    trick is a shared-memory scheduling device; under bulk-synchronous
    execution the natural round IS the bucket.
  * Coloring — Jones–Plassmann (gms/algorithms/non_set_based/coloring/
    coloring_jones_v1.h:17-70): per round, every uncolored vertex whose
    seeded hash priority is a local maximum among uncolored neighbors
    takes the smallest color unused by its colored neighbors.
    Deterministic given the seed; verifier = no monochromatic edge
    (coloring_common.h:28-203).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gms_spark.runtime.superstep import count_where, iterate


def _top_down(edges: DataFrame, dist: DataFrame, i: int) -> DataFrame:
    """(vertex) first reached at level i + 1: the level-i frontier's
    neighbors that ``dist`` does not hold yet."""
    frontier = dist.where(F.col("dist") == i).select(F.col("vertex").alias("src"))
    return (
        edges.join(frontier, "src")
        .select(F.col("dst").alias("vertex"))
        .distinct()
        .join(dist.select("vertex"), "vertex", "left_anti")
    )


def bfs(edges: DataFrame, source: int, max_iters: int = 200) -> DataFrame:
    """(vertex, dist) hop distances from source; unreachable omitted."""
    from gms_spark.graph.build import stage_edges

    spark = edges.sparkSession
    edges = stage_edges(edges)  # re-joined every level
    dist0 = spark.createDataFrame([(source, 0)], "vertex long, dist long")

    def step(dist: DataFrame, i: int):
        return dist.unionAll(_top_down(edges, dist, i).select("vertex", F.lit(i + 1).alias("dist")))

    # delta = rows added this level = rows at the new depth
    res = iterate(
        dist0, step, max_iters=max_iters, tol=0.0, kernel="bfs",
        delta=lambda dist, i: count_where(dist, F.col("dist") == i + 1),
    )
    if res.deltas and res.deltas[-1] > 0:
        raise RuntimeError(f"bfs did not converge within {max_iters} rounds")
    return res.state


def bfs_direction_optimizing(
    edges: DataFrame, source: int, max_iters: int = 200, alpha: float = 15.0, beta: float = 18.0
) -> DataFrame:
    """(vertex, dist) — BFS with the reference's direction switch
    (gms/representations/graphs/log_graph/bfs.cc:143-186, Beamer DO-BFS;
    GAPBS defaults alpha=15, beta=18 :120).

    The GAPBS heuristic, re-expressed: go bottom-up when
    ``scout > edges_to_check / alpha`` (scout = Σdeg of the frontier,
    edges_to_check = edges not yet scanned top-down) and return top-down
    when the awake count drops under ``n / beta``.
      top-down  — frontier ⋈ edges, shuffle ∝ edges OUT of the frontier;
                  right when the frontier is thin (``bfs``'s level).
      bottom-up — unvisited LEFT-SEMI (edges ⋉ frontier): each unvisited
                  vertex is emitted AT MOST ONCE (the semi-join is
                  Spark's analog of the reference's early-exit parent
                  scan), so the wide middle levels of a low-diameter web
                  graph never materialize the frontier×degree blow-up
                  that top-down + distinct would.
    The state carries each vertex's degree, so the new level's stats
    (count + Σdegree) are one aggregate over it — the level's only job,
    GAPBS's negative-degree parent encoding trick (bfs.cc:30-37)
    re-expressed as that fused aggregate, so the switch costs NO extra
    job. Identical distances to bfs() by construction (same level sets).
    """
    from gms_spark.graph.build import degrees, stage_edges, vertices

    spark = edges.sparkSession
    edges = stage_edges(edges)
    deg = degrees(edges).persist()
    verts = vertices(edges).persist()
    n = verts.count()
    m = edges.count()  # directed edge slots (both directions of und)
    # every level's frontier filter and stats aggregate scan the whole
    # state: a one-row seed spread over the default parallelism would
    # add empty tasks to each of them
    dist0 = (
        spark.createDataFrame([(source, 0)], "vertex long, dist long").coalesce(1).join(deg, "vertex", "left")
    )
    scout = int(deg.where(F.col("vertex") == source).agg(F.sum("degree")).first()[0] or 0)
    edges_to_check = m
    awake = 1
    bottom_up = False

    def step(dist: DataFrame, i: int):
        nonlocal bottom_up
        if not bottom_up and scout > edges_to_check / alpha:
            bottom_up = True
        elif bottom_up and awake < n / beta:
            bottom_up = False
        if bottom_up:
            # scan the UNVISITED side's own edges and keep vertices with
            # any neighbor in the frontier — work ∝ edges incident to
            # unvisited, not ∝ Σdeg(frontier)
            frontier = dist.where(F.col("dist") == i).select(F.col("vertex").alias("dst"))
            cand = (
                verts.join(dist.select("vertex"), "vertex", "left_anti")
                .withColumnRenamed("vertex", "src")
                .join(edges, "src")
                .join(frontier, "dst", "left_semi")
                .select(F.col("src").alias("vertex"))
                .distinct()
            )
        else:
            cand = _top_down(edges, dist, i)
        return dist.unionAll(cand.select("vertex", F.lit(i + 1).alias("dist")).join(deg, "vertex", "left"))

    def level_stats(dist: DataFrame, i: int) -> int:
        nonlocal scout, edges_to_check, awake
        got = dist.where(F.col("dist") == i + 1).agg(F.count(F.lit(1)).alias("c"), F.sum("degree").alias("sd")).first()
        if not bottom_up:
            # GAPBS deducts scouted edges only on TOP-DOWN steps
            # (bfs.cc TDStep call site); bottom-up levels leave the
            # budget untouched, so the switch-back heuristic matches.
            edges_to_check -= scout
        scout = int(got["sd"] or 0)
        awake = int(got["c"])
        return awake

    res = iterate(dist0, step, max_iters=max_iters, tol=0.0, kernel="bfs_do", delta=level_stats)
    deg.unpersist()
    verts.unpersist()
    return res.state.select("vertex", "dist")


def sssp(weighted_edges: DataFrame, source: int, max_iters: int = 200) -> DataFrame:
    """(vertex, dist) shortest weighted distances (Bellman–Ford supersteps).

    weighted_edges(src, dst, weight>=0); unreachable vertices omitted.
    """
    from gms_spark.graph.build import stage_edges

    spark = weighted_edges.sparkSession
    weighted_edges = stage_edges(weighted_edges)  # per-round joins
    dist0 = spark.createDataFrame([(source, 0.0)], "vertex long, dist double")

    def step(state: DataFrame, i: int):
        dist = state.select("vertex", "dist")  # drop the prior round's _old
        relax = (
            weighted_edges.join(dist.withColumnRenamed("vertex", "src"), "src")
            .select(F.col("dst").alias("vertex"), (F.col("dist") + F.col("weight")).alias("nd"))
            .groupBy("vertex")
            .agg(F.min("nd").alias("nd"))
        )
        # the full join already carries (old dist, relaxed nd) side by
        # side — _old RIDES the materialized state (8 bytes/row) so the
        # improved-row count is an aggregate over the round's own state:
        # one Bellman–Ford round is ONE job (no compare-join, no recount).
        return (
            dist.withColumnRenamed("dist", "_old")
            .join(relax, "vertex", "full")
            .select(
                "vertex",
                F.least(F.coalesce("_old", F.lit(float("inf"))), F.coalesce("nd", F.lit(float("inf")))).alias("dist"),
                "_old",
            )
        )

    improved = F.col("_old").isNull() | (F.col("dist") < F.col("_old"))
    res = iterate(
        dist0, step, max_iters=max_iters, tol=0.0, kernel="sssp",
        delta=lambda state, i: count_where(state, improved),
    )
    if res.deltas and res.deltas[-1] > 0:
        raise RuntimeError(f"sssp did not converge within {max_iters} rounds")
    return res.state.select("vertex", "dist")


def sssp_delta_stepping(
    weighted_edges: DataFrame,
    source: int,
    delta: float | None = None,
    max_rounds: int = 100000,
) -> DataFrame:
    """(vertex, dist) — δ-stepping SSSP (log_graph/sssp.cc:54-120,
    Meyer–Sanders via the GAPBS formulation).

    Identical distance fixpoint to :func:`sssp`; the difference is WORK
    PER ROUND. Plain Bellman–Ford expands EVERY improved vertex each
    superstep, so far-away vertices are relaxed repeatedly with
    non-final distances; δ-stepping only expands the current distance
    bucket [bδ, (b+1)δ) — total relaxation work is bounded because a
    vertex settles within its bucket before farther buckets open. The
    BSP analog of GAPBS's bins: the state carries a ``dirty`` flag
    (improved and not yet expanded — GAPBS's frontier membership), the
    current bucket is the min bucket over dirty vertices (GAPBS's
    next-bin vote), and the staleness guard (sssp.cc:77) is implicit —
    dist only decreases and b is the dirty minimum. Each round is ONE
    job (relax join + min-aggregate + full-join merge): the dirty count
    and next-bucket vote are the round's one aggregate.

    ``delta`` defaults to the mean edge weight (GAPBS's CLI default is
    weight-scale-dependent; the mean keeps ~avg-degree relaxations per
    bucket on uniform weights).
    """
    from gms_spark.graph.build import stage_edges

    spark = weighted_edges.sparkSession
    weighted_edges = stage_edges(weighted_edges)
    if delta is None:
        delta = float(weighted_edges.agg(F.avg("weight")).first()[0] or 1.0)
    if delta <= 0:
        raise ValueError("delta must be positive")

    state0 = spark.createDataFrame([(source, 0.0, True)], "vertex long, dist double, dirty boolean")
    b = 0

    def step(state: DataFrame, i: int):
        in_bucket = F.col("dirty") & (F.floor(F.col("dist") / delta) == b)
        frontier = state.where(in_bucket).select("vertex", "dist")
        relax = (
            weighted_edges.join(frontier.withColumnRenamed("vertex", "src"), "src")
            .select(F.col("dst").alias("vertex"), (F.col("dist") + F.col("weight")).alias("nd"))
            .groupBy("vertex")
            .agg(F.min("nd").alias("nd"))
        )
        was_frontier = F.coalesce(
            F.col("_dirty") & (F.floor(F.col("_old") / delta) == b), F.lit(False)
        )
        return (
            state.select("vertex", F.col("dist").alias("_old"), F.col("dirty").alias("_dirty"))
            .join(relax, "vertex", "full")
            .select(
                "vertex",
                F.least(
                    F.coalesce("_old", F.lit(float("inf"))), F.coalesce("nd", F.lit(float("inf")))
                ).alias("dist"),
                # improved → dirty; expanded-and-not-improved → clean;
                # untouched → carry the flag
                F.when(F.coalesce("nd", F.lit(float("inf"))) < F.coalesce("_old", F.lit(float("inf"))), F.lit(True))
                .when(was_frontier, F.lit(False))
                .otherwise(F.coalesce("_dirty", F.lit(False)))
                .alias("dirty"),
            )
        )

    def dirty_count(state: DataFrame, i: int) -> int:
        nonlocal b
        got = state.agg(
            F.sum(F.when(F.col("dirty"), 1).otherwise(0)).alias("n_dirty"),
            F.min(F.when(F.col("dirty"), F.floor(F.col("dist") / delta))).alias("next_b"),
        ).first()
        n_dirty = int(got["n_dirty"] or 0)
        if n_dirty:
            b = int(got["next_b"])
        return n_dirty

    res = iterate(state0, step, max_iters=max_rounds, tol=0.0, kernel="sssp_delta", delta=dirty_count)
    if not res.deltas or res.deltas[-1] > 0:
        raise RuntimeError(f"sssp_delta_stepping did not converge within {max_rounds} rounds")
    return res.state.select("vertex", "dist")


def jones_plassmann(edges: DataFrame, seed: int = 27491095, max_iters: int = 500):
    """JP v1 (seeded-hash priorities) — delegates to the coloring menu's
    shared kernel; see gms_spark.graph.coloring for the full variant
    family (jp_lf, jp_sl, johansson) and the comparison harness."""
    from gms_spark.graph.coloring import jp_random

    return jp_random(edges, seed=seed, max_iters=max_iters)

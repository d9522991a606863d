"""Vertex orderings — the (graph, ordering) intermediate of GMS.

Most GMS mining kernels consume a vertex ordering in "rank format"
(res[v] = position; gms/algorithms/preprocessing/sequential/
degeneracy_matula.h:47-50). Implemented rankings:

  identity_order   — rank[v]=v (sequential/simple_id.h:11-17)
  random_order     — seeded deterministic shuffle (random_ordering.h:12-23):
                     rank by xxhash64(vertex, seed)
  degree_order     — (degree, id) ascending (parallel/degree.h:16-22);
                     descending variant = RelabelByDegree order
  adg_order        — approximate degeneracy ordering (ADG), the
                     (2+ε)-approx batch peel of parallel/
                     degeneracy_approx_csr.h:12-78: each round removes
                     every vertex with remaining degree ≤ (1+ε)·avg and
                     assigns them the same batch number; rank = (batch,
                     vertex) — deterministic, and the only degeneracy
                     variant that parallelizes (exact Matula peel is
                     inherently sequential; it lives in tests/oracles).

All are DataFrame plans; ranks are assigned with the distributed dense-id
assigner (no single-partition windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gms_spark.graph.build import assign_dense_ids, degrees, vertices
from gms_spark.runtime.superstep import iterate, truncate_plan


def identity_order(edges: DataFrame) -> DataFrame:
    return vertices(edges).select("vertex", F.col("vertex").alias("rank"))


def random_order(edges: DataFrame, seed: int = 27491095) -> DataFrame:
    v = vertices(edges).withColumn("h", F.xxhash64("vertex", F.lit(seed)))
    return assign_dense_ids(v, [F.col("h").asc(), F.col("vertex").asc()]).select(
        "vertex", F.col("id").alias("rank")
    )


def degree_order(edges: DataFrame, descending: bool = False) -> DataFrame:
    from gms_spark.graph.build import degree_rank

    return degree_rank(edges, descending=descending)


def triangle_count_order(edges: DataFrame) -> DataFrame:
    """Rank vertices by per-vertex triangle count, ties by id
    (gms/algorithms/preprocessing/parallel/triangle_count.h:11-30)."""
    from gms_spark.graph.triangles import triangle_count_per_vertex

    tc = triangle_count_per_vertex(edges)
    return assign_dense_ids(tc, [F.col("count").asc(), F.col("vertex").asc()]).select(
        "vertex", F.col("id").alias("rank")
    )


def adg_boundary(deg: DataFrame, eps: float, kind: str) -> float:
    """Peel boundary for one ADG round — the reference's boundary-function
    menu (gms/algorithms/preprocessing/parallel/boundary_function.h:14-91):
      avg            (1+eps)·mean(remaining degree)        (:14-33)
      min2eps        2·(1+eps)·min(remaining degree)       (:35-50)
      sampled_median (1+eps)·approx-median via sampling    (:52-91)
    """
    from pyspark.sql import functions as F

    if kind == "avg":
        row = deg.agg(F.avg("degree").alias("b")).first()
        return (1.0 + eps) * float(row["b"])
    if kind == "min2eps":
        row = deg.agg(F.min("degree").alias("b")).first()
        return 2.0 * (1.0 + eps) * float(row["b"])
    if kind == "sampled_median":
        row = deg.sample(fraction=0.5, seed=7).agg(F.percentile_approx("degree", 0.5).alias("b")).first()
        b = row["b"] if row["b"] is not None else deg.agg(F.min("degree")).first()[0]
        return (1.0 + eps) * float(b)
    raise ValueError(f"unknown boundary kind {kind!r}")


def adg_order(
    edges: DataFrame, eps: float = 0.1, max_rounds: int = 200, boundary: str = "avg"
) -> DataFrame:
    """Approximate degeneracy ordering by batch peeling.

    Round r: boundary = (1+eps) · avg(remaining degree); peel every
    vertex with degree ≤ boundary (guaranteed non-empty: the average
    dominates the minimum), record batch r; subtract peeled vertices'
    contributions and repeat. O(log n) rounds
    (degeneracy_approx_csr.h:12-78, boundary avg variant
    boundary_function.h:14-33). Final rank: dense ids over (batch,
    vertex).

    Driver-side loop over DataFrames, ONE Spark action per peel round:
    the boundary aggregate materializes the round's degree cache and —
    through degrees(remaining) — the previous round's lazily-persisted
    filtered edge set (same cascade discipline as the exact peel below).
    Per-round peel snapshots stay LAZY filters over the held degree
    caches; the final dense-ids job materializes them all at once.
    """
    olds: list[DataFrame] = []
    remaining = truncate_plan(edges)
    alive = truncate_plan(vertices(edges))
    olds.append(alive)  # later rounds rebind `alive` to lazy filters over the deg cache
    held: list[DataFrame] = []  # per-round deg caches — parents of the lazy peels
    peeled_parts: list[DataFrame] = []
    batch = 0
    prev_remaining: DataFrame | None = None
    while batch < max_rounds:
        # degree over ALIVE vertices with 0-fill: a vertex whose last edge
        # disappeared when its neighbors were peeled must itself be peeled
        # this round (degree 0 ≤ every boundary), not silently dropped.
        # The round's ONE action: this aggregate fills the deg cache (the
        # peel snapshot, the next alive set and the edge semi-joins all
        # read it) and the lazy checkpoint of the previous round's
        # filtered edge set. deg is lazily localCheckpointed, NOT merely
        # persisted — `alive` is a lazy filter over the previous deg, so
        # a persist-only deg would chain the LOGICAL plan round over
        # round (see degeneracy_order below for the measured OOM).
        deg = (
            alive.join(degrees(remaining), "vertex", "left")
            .fillna(0, ["degree"])
            .localCheckpoint(eager=False)
            .persist()
        )
        row = deg.agg(F.avg("degree").alias("avg"), F.count(F.lit(1)).alias("n")).first()
        held.append(deg)
        if prev_remaining is not None:
            # its filtered successor is cached as of the aggregate above
            prev_remaining.unpersist()
            prev_remaining = None
        if not row["n"] or row["avg"] is None:
            break
        if boundary == "avg":  # inline fast path (one agg already done)
            b = (1.0 + eps) * float(row["avg"])
        else:
            b = adg_boundary(deg, eps, boundary)  # extra aggs on the cache
        # the boundaries all dominate the min remaining degree, so the
        # peel set is non-empty every round (termination guaranteed)
        peel = deg.where(F.col("degree") <= b).select("vertex", F.lit(batch).alias("batch"))
        peeled_parts.append(peel)  # lazy over the held deg cache
        keep = deg.where(F.col("degree") > b).select("vertex")
        alive = keep  # lazy one-filter plan over the cached deg
        prev_remaining = remaining
        # lazy plan truncation (LogicalRDD leaf, no job); the next
        # round's aggregate fills the persist
        remaining = (
            remaining.join(keep.withColumnRenamed("vertex", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("vertex", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
            .persist()
        )
        batch += 1

    all_batches = peeled_parts[0]
    for p in peeled_parts[1:]:
        all_batches = all_batches.unionAll(p)
    out = assign_dense_ids(all_batches, [F.col("batch").asc(), F.col("vertex").asc()]).select(
        "vertex", F.col("id").alias("rank"), "batch"
    ).localCheckpoint(eager=True)
    tail = [prev_remaining] if prev_remaining is not None else []
    for df in olds + held + tail + [alive, remaining]:
        df.unpersist()
    return out


def degeneracy_order(edges: DataFrame, max_rounds: int = 1_000_000, return_rounds: bool = False):
    """(vertex, rank, core) — EXACT degeneracy ordering + core numbers.

    Distributed batch peel with Matula–Beck semantics
    (gms/algorithms/preprocessing/sequential/degeneracy_matula.h:13-66):
    maintain the peel level k; each round removes EVERY alive vertex
    whose remaining degree ≤ k (k jumps to the current min degree when
    no vertex qualifies). Invariant: when a vertex is removed at level
    k, the graph at the start of that level had min degree ≥ k (it is a
    k-core), so its core number is exactly k; and its later-ranked
    neighbors (un-removed + same-batch higher ids) are all counted in
    its current degree ≤ k ≤ degeneracy — the exact Matula forward-
    degree bound, recovered with O(#cascade-rounds) parallel supersteps
    instead of the reference's sequential n-step bucket queue.

    rank = dense ids over (batch, vertex); core = peel level at removal
    (== k-core number). max(core) == the graph's degeneracy.

    SCALE CONTRACT: the peel pays one superstep per CASCADE round —
    measured 96 rounds at R-MAT scale 12 and 178 at scale 14 (deg 8),
    growing with graph size — so this is the exact-ordering entry
    point for small/medium graphs only. At web scale use ``adg_order``
    (O(log n) rounds, (2+ε)-approx ordering — the ordering every
    mining consumer in this engine accepts) or ``coreness_hindex``
    (chunked fixpoint) when only core numbers are needed. Peel-row
    checkpoints are batched PEEL_FLUSH rounds per job, so the
    per-round driver cost is one materialization, and the checkpointed
    total stays O(n) regardless of round count.
    """
    olds: list[DataFrame] = []
    remaining = truncate_plan(edges)
    alive = truncate_plan(vertices(edges))
    olds.append(alive)  # later rounds rebind `alive` to lazy filters; unpersist the seed at the end
    peeled_parts: list[DataFrame] = []
    pending: list[DataFrame] = []  # lazy peel filters over still-cached deg tables
    held: list[DataFrame] = []  # deg caches backing `pending` (+ the current round)
    PEEL_FLUSH = 8

    def _flush() -> None:
        # ONE checkpoint job for up to PEEL_FLUSH rounds of peel rows
        # (each a lazy filter over its round's cached deg table) instead
        # of a checkpoint job per round; the backing caches — except the
        # newest, which still feeds next round's alive/remaining — are
        # then released. Peel rows are disjoint across rounds, so the
        # materialized total stays O(n) regardless of round count.
        if not pending:
            return
        u = pending[0]
        for p in pending[1:]:
            u = u.unionAll(p)
        peeled_parts.append(u.localCheckpoint(eager=True))
        pending.clear()
        for d in held[:-1]:
            d.unpersist()
        del held[:-1]

    k = 0
    batch = 0
    prev_remaining: DataFrame | None = None
    while batch < max_rounds:
        # 0-fill: a vertex whose last edge vanished with earlier peels
        # still needs removal (degree 0 ≤ k always). Cache the round's
        # degree table ONCE — the min/count agg, the peel snapshot, the
        # next alive set (a lazy filter over this cache, no extra
        # materialization) and the edge semi-joins all read it instead
        # of re-running the join+groupBy per consumer (measured 49.6 s →
        # 37 s for the sf0.1 coreness query).
        # ONE action per cascade round: the (count, min) aggregate
        # materializes deg AND (through degrees(remaining)) fills the
        # lazily-persisted cache of the edge set the PREVIOUS round
        # filtered. deg MUST be lazily localCheckpointed, not merely
        # persisted: `alive` is a lazy filter over the previous deg, so
        # a persist-only deg chains the LOGICAL plan round over round
        # (caches truncate physical lineage, never the logical tree) —
        # measured plan strings grow quadratically (26 KB by round 11),
        # and every action re-analyzes the chain and posts the string to
        # the SQL listener, which OOMed the suite's 8 GB driver near
        # round 40 of the scale-9 contract test. The lazy checkpoint
        # rewrites deg's plan to a LogicalRDD leaf at CREATION (47-byte
        # plan every round, measured), no job.
        deg = (
            alive.join(degrees(remaining), "vertex", "left")
            .fillna(0, ["degree"])
            .localCheckpoint(eager=False)
            .persist()
        )
        row = deg.agg(F.count(F.lit(1)).alias("n"), F.min("degree").alias("m")).first()
        held.append(deg)
        if prev_remaining is not None:
            # its filtered successor is cached as of the aggregate above
            prev_remaining.unpersist()
            prev_remaining = None
        if int(row["n"] or 0) == 0:
            break
        k = max(k, int(row["m"]))  # level jump when the ≤k set is empty
        pending.append(
            deg.where(F.col("degree") <= k).select(
                "vertex", F.lit(batch).alias("batch"), F.lit(k).alias("core")
            )
        )
        keep = deg.where(F.col("degree") > k).select("vertex")
        alive = keep  # lazy one-filter plan over the cached deg
        prev_remaining = remaining
        # lazy localCheckpoint truncates the LOGICAL plan immediately (a
        # LogicalRDD leaf) with NO job; the persist is filled by the next
        # round's deg aggregate. Estimates stay bounded: both join inputs
        # are materialized caches with actual-bytes stats by build time.
        remaining = (
            remaining.join(keep.withColumnRenamed("vertex", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("vertex", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
            .persist()
        )
        batch += 1
        if len(pending) >= PEEL_FLUSH:
            _flush()
    _flush()
    olds.extend(held)
    out = peeled_parts[0]
    for p in peeled_parts[1:]:
        out = out.unionAll(p)
    res = assign_dense_ids(out, [F.col("batch").asc(), F.col("vertex").asc()]).select(
        "vertex", F.col("id").alias("rank"), F.col("core").cast("long").alias("core")
    ).localCheckpoint(eager=True)
    tail = [prev_remaining] if prev_remaining is not None else []
    for df in olds + peeled_parts + tail + [alive, remaining]:
        df.unpersist()
    if return_rounds:
        return res, batch
    return res


def coreness_hindex(
    edges: DataFrame, max_rounds: int = 200, check_every: int = 4, return_rounds: bool = False
):
    """(vertex, core) — exact k-core numbers by iterated neighbor H-index.

    c0(v) = degree(v); c_{t+1}(v) = H(c_t over N(v)) where H(multiset)
    = max_i min(i, i-th largest value). The operator is monotone and
    c1 ≤ c0, so the sequence is pointwise non-increasing and converges
    exactly to the core number (Lü et al., Nature Communications 2016).

    This is the SCALE path for core numbers: round count = H-index
    convergence depth (small for web graphs), NOT #peel-levels ×
    cascade-depth like the Matula batch peel (degeneracy_order, kept
    for ordering consumers; the two are cross-checked in
    tests/test_orderings_kcliques.py). ``check_every`` rounds chain
    lazily per Spark job with the chunk's changed-count aggregated by
    the same action that materializes the chunk — sound because values
    are pointwise non-increasing, so chunk-start == chunk-end proves
    every intermediate round was a no-op. Input must be symmetrized.
    """
    from pyspark.sql import Window

    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)
    c = truncate_plan(
        vertices(edges)
        .join(degrees(edges), "vertex", "left")
        .fillna(0, ["degree"])
        .select("vertex", F.col("degree").cast("long").alias("core"))
    )

    def one_round(cur: DataFrame, i: int) -> DataFrame:
        nb = edges.join(
            cur.select(F.col("vertex").alias("dst"), F.col("core").alias("nval")), "dst"
        ).select(F.col("src").alias("vertex"), "nval")
        # H from grouped values, not per-item ranks: H = max over
        # distinct v of min(count(values ≥ v), v). The groupBy
        # partial-aggregates map-side BEFORE the shuffle, so the
        # exchange carries (vertex, distinct value, count) — and a
        # hub's window shrinks from degree rows to ≤ (max core + 1)
        # distinct values: the skew control for 10^6-degree hubs.
        counts = nb.groupBy("vertex", "nval").agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.partitionBy("vertex")
            .orderBy(F.col("nval").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        h = (
            counts.withColumn("ccnt", F.sum("cnt").over(w))
            .groupBy("vertex")
            .agg(F.max(F.least(F.col("ccnt"), F.col("nval"))).alias("h"))
        )
        # No fill-join back onto `cur`: on a symmetrized graph every
        # vertex has ≥1 neighbor, so `h` already covers the full vertex
        # set — and dropping the join makes the round reference the
        # incoming state exactly ONCE, so check_every-deep lazy chains
        # are recompute-free (the join version re-executed ~2^k state
        # subtrees per chunk).
        return h.select("vertex", F.col("h").cast("long").alias("core"))

    res = iterate(
        c, one_round, max_iters=max_rounds, tol=0.0, kernel="coreness", check_every=check_every,
        change=lambda new, old: (new != old).cast("long"),
    )
    if not res.deltas or res.deltas[-1] > 0:
        raise RuntimeError(f"coreness H-index did not converge within {max_rounds} rounds")
    return (res.state, res.iterations) if return_rounds else res.state


def coreness(edges: DataFrame, max_rounds: int = 200) -> DataFrame:
    """(vertex, core) — exact k-core numbers (H-index fixpoint path)."""
    return coreness_hindex(edges, max_rounds=max_rounds)

"""PageRank — pull-style power iteration as a repartition-by-src SpMV.

Semantics match the reference exactly (gms/representations/graphs/
log_graph/pr.cc:34-61): damping 0.85, init 1/n, per superstep
``score[v] = (1-d)/n + d * Σ_{u→v} score[u]/out_degree(u)``, stop when
the L1 delta drops below tolerance (ref default 1e-4/20 iters, pr.cc:101;
the north rule tightens to 1e-6). The reference divides by out_degree
unconditionally (its graphs are symmetrized, so out_degree ≥ 1); we make
the dangling-vertex policy explicit.

Scale design:
  * edges are pre-joined ONCE with 1/out_degree and repartitioned by src
    (the static side never reshuffles across supersteps; on a real
    cluster this table is bucketed by src).
  * the per-iteration gather is scores ⋈ edges → groupBy(dst).sum —
    Spark's partial (map-side) aggregation is the degree-aware combine:
    hub contributions are pre-summed per partition before the shuffle,
    which is exactly what manual salting would buy. For pathological
    skew AQE skew-join splitting is on (session.py).
  * degree-aware hub splitting (hub_salt_threshold=k): destinations with
    in-degree > k are split into ceil(indeg/k) salt buckets on the STATIC
    edge side (skew.py), and the gather becomes the two-stage aggregate
    groupBy(dst, salt) → groupBy(dst) — only hub keys pay the second
    stage, and the salt never recomputes across supersteps.
  * plan depth stays O(check_every) via the superstep runtime
    (runtime/superstep.py: a checkpoint at every chunk boundary).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gms_spark.io.tableio import TableIO
from gms_spark.runtime.superstep import iterate


@dataclass
class PageRankResult:
    scores: DataFrame  # (vertex: long, score: double)
    iterations: int
    deltas: list[float]


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iters: int = 100,
    fixed_iters: int | None = None,
    dangling: str = "error",  # "error" | "redistribute" | "ignore"
    io: TableIO | None = None,
    run_id: str | None = None,
    hub_salt_threshold: int | None = None,
    num_partitions: int | None = None,
    check_every: int | None = None,
    start_scores: DataFrame | None = None,
) -> PageRankResult:
    """See module docstring.

    ``check_every > 1`` chains that many supersteps lazily between
    convergence checks/materializations — one Spark job per chunk
    instead of per superstep (big win: no per-iteration driver round
    trip). May overshoot convergence by up to check_every-1 supersteps;
    identical scores for fixed_iters runs. Ignored when ``io`` is given
    (durable checkpointing is per-superstep by contract) and for
    ``dangling="redistribute"`` on graphs with dangling vertices (each
    superstep's plan needs the previous one's dangling mass).
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if check_every is None:
        # fixed-iteration runs need no convergence read-back, so chain
        # every superstep lazily into one job by default (a superstep
        # references the scores exactly once — join + groupBy — so the
        # chain is recompute-free; capped so Catalyst's plan stays
        # bounded for very long runs). tol runs keep per-superstep
        # checks unless the caller opts into chunking.
        check_every = min(fixed_iters, 25) if fixed_iters is not None else 1

    # materialize the edge input for the preamble: the vertex-stats and
    # SpMV-matrix jobs each re-scan it, and a lazy upstream plan
    # (parquet → extraction → symmetrize) would re-execute per action
    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)

    # ONE exchange for the whole vertex-side preamble: per-vertex
    # out-degree + in-edge coverage in a single groupBy, with the three
    # scalars (n, dangling count, uncovered count) riding the same job
    # via df.observe. This replaces the former verts-distinct +
    # verts⋈deg⋈dstv stats join (two extra exchanges + one extra job).
    vobs = Observation()
    vdeg = (
        edges.select(F.col("src").alias("vertex"), F.lit(1).alias("_out"), F.lit(0).alias("_in"))
        .unionAll(edges.select(F.col("dst").alias("vertex"), F.lit(0).alias("_out"), F.lit(1).alias("_in")))
        .groupBy("vertex")
        .agg(F.sum("_out").alias("degree"), F.max("_in").alias("_has_in"))
        .observe(
            vobs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("degree") == 0, 1).otherwise(0)).alias("n_dangling"),
            F.sum(F.when(F.col("_has_in") == 0, 1).otherwise(0)).alias("n_uncovered"),
        )
        .persist()
    )
    vdeg.count()
    stats = vobs.get
    n = int(stats["n"])
    n_dangling = int(stats["n_dangling"] or 0)
    if n_dangling and dangling == "error":
        raise ValueError(
            f"{n_dangling} vertices have out-degree 0; the reference semantics "
            "(pr.cc:43) require out_degree >= 1 — symmetrize the graph or pass "
            "dangling='redistribute'"
        )

    verts = vdeg.select("vertex")

    # Static SpMV matrix: (src, dst, w=1/out_degree), partitioned by src
    # once. The degree comes from a COUNT window over the src partition —
    # the window's exchange IS the src repartition, so the whole table is
    # one shuffle from the staged edges (no join against vdeg, no second
    # repartition). On a real cluster this table is bucketed by src.
    from pyspark.sql import Window

    # Weighted edges: a `weight` column makes the transition probability
    # weight/out-strength instead of 1/out-degree (host-graph PageRank:
    # a host that sends 90% of its links to one neighbor should hand it
    # 90% of its mass). Same single-shuffle shape — the SUM window rides
    # the identical src repartition the COUNT window does.
    if "weight" in edges.columns:
        w = (F.col("weight") / F.sum("weight").over(Window.partitionBy("src"))).cast("double")
    else:
        w = F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy("src")).cast("double")
    ew = edges.repartition(num_partitions, "src").select("src", "dst", w.alias("w"))
    if hub_salt_threshold:
        # Degree-aware hub split, computed ONCE on the static side: a
        # broadcast join against the (tiny) hub list adds _salt without
        # disturbing the src partitioning (skew.py).
        from gms_spark.graph.skew import with_hub_salt

        ew = with_hub_salt(ew, hub_salt_threshold, key="dst", spread="src", counts_from=edges)
    ew = ew.persist()
    ew.count()

    dang = vdeg.where(F.col("degree") == 0).select("vertex") if n_dangling else None

    # If every vertex receives at least one in-edge (always true for a
    # symmetrized graph with no dangling vertices), groupBy(dst) already
    # yields a row per vertex and the per-superstep fill-join against the
    # vertex table can be skipped — one shuffle less per iteration.
    full_in_coverage = n_dangling == 0 and int(stats["n_uncovered"] or 0) == 0

    base = (1.0 - damping) / n
    if start_scores is not None:
        # Warm start for evolving graphs: seed from a previous run's
        # scores (e.g. yesterday's crawl) instead of uniform 1/n — the
        # fixpoint is unchanged (power iteration converges from any
        # positive start), but a small edge delta leaves the old scores
        # near the new fixpoint, so tol is reached in far fewer
        # supersteps. New vertices (absent from the seed) start at 1/n;
        # stale seed vertices that left the graph are dropped by the
        # inner vertex set.
        scores0 = verts.join(
            start_scores.select("vertex", F.col("score").alias("_seed")), "vertex", "left"
        ).select("vertex", F.coalesce(F.col("_seed"), F.lit(1.0 / n)).alias("score"))
    else:
        scores0 = verts.select("vertex", F.lit(1.0 / n).alias("score"))

    def one_superstep(scores: DataFrame, extra: float = 0.0) -> DataFrame:
        """One pull update as a LAZY transform (no actions)."""
        salted = [F.col("_salt")] if hub_salt_threshold else []
        contribs = (
            scores.withColumnRenamed("vertex", "src")
            .join(ew, "src")
            .select(F.col("dst").alias("vertex"), *salted, (F.col("score") * F.col("w")).alias("c"))
        )
        if hub_salt_threshold:
            # Two-stage gather: partial sums per (vertex, salt) bucket —
            # a hub's fan-in spreads over ceil(indeg/threshold) reduce
            # keys instead of one — then final per vertex over the ~n
            # surviving bucket rows. Non-hub keys are all salt 0.
            sums = (
                contribs.groupBy("vertex", "_salt")
                .agg(F.sum("c").alias("c"))
                .groupBy("vertex")
                .agg(F.sum("c").alias("s"))
            )
        else:
            sums = contribs.groupBy("vertex").agg(F.sum("c").alias("s"))

        if full_in_coverage:
            return sums.select("vertex", (F.lit(base + extra) + F.lit(damping) * F.col("s")).alias("score"))
        return verts.join(sums, "vertex", "left").select(
            "vertex",
            (F.lit(base + extra) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("score"),
        )

    redistribute = bool(n_dangling) and dangling == "redistribute"
    dflag = dang.withColumn("_d", F.lit(1.0)) if redistribute else None
    dmass_obs: dict[int, Observation] = {}  # superstep -> its dangling-mass metric

    def dangling_mass(scores: DataFrame, i: int) -> float:
        """Σ score over dangling vertices of superstep i's input. Read off
        the previous superstep's own materialization when it ran in this
        process; analytic (n_dangling/n) under the uniform init; one job
        otherwise (a resumed superstep, or a warm start whose seed is not
        uniform — the analytic value would send the run down the wrong
        trajectory to the same fixpoint)."""
        if i - 1 in dmass_obs:
            return float(dmass_obs.pop(i - 1).get["dmass"] or 0.0)
        if i == 0 and start_scores is None:
            return n_dangling / n
        return float(scores.join(dang, "vertex", "left_semi").agg(F.sum("score")).first()[0] or 0.0)

    def step(scores: DataFrame, i: int) -> DataFrame:
        if not redistribute:
            return one_superstep(scores)
        # Directed graphs: the redistributed mass for superstep i+1 is
        # Σ score_i over dangling vertices — it gates the NEXT plan, so
        # these runs go one superstep per chunk, and the mass rides this
        # superstep's own materialization (df.observe): no extra job.
        new = one_superstep(scores, damping * dangling_mass(scores, i) / n)
        dmass_obs[i] = Observation()
        return (
            new.join(dflag, "vertex", "left")
            .observe(dmass_obs[i], F.sum(F.col("score") * F.coalesce(F.col("_d"), F.lit(0.0))).alias("dmass"))
            .select("vertex", "score")
        )

    res = iterate(
        scores0,
        step,
        max_iters=fixed_iters if fixed_iters is not None else max_iters,
        tol=tol,
        io=io,
        kernel="pagerank",
        run_id=run_id,
        check_every=1 if redistribute else check_every,
        change=None if fixed_iters is not None else (lambda new, old: F.abs(new - old)),
    )
    vdeg.unpersist()
    ew.unpersist()
    return PageRankResult(res.state, res.iterations, res.deltas)

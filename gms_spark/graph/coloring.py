"""Graph-coloring menu — the reference's largest non-set-based component.

Reference variants (gms/algorithms/non_set_based/coloring/, 3,498 LoC):
Jones–Plassmann v1–v4 (coloring_jones_v1.h:17-70 … v4: same independent-
set round, different priority functions), Johansson palette sampling
(coloring_johansson.h), Barenboim/Elkin and dense/sparse refinements.
The JP family differs ONLY in the priority order; we implement the
shared round as one kernel (`jp_color`) and ship the priority menu:

  jp_random  — v1: seeded-hash priority (the classic JP)
  jp_lf      — v2 largest-first: priority (degree, hash) — high-degree
               vertices color first, empirically fewer colors
  jp_sl      — v3 smallest-last flavor: ADG approximate-degeneracy rank
               DESCENDING (deepest core colors first), the parallel
               stand-in for the sequential smallest-last order

  johansson  — palette sampling: every uncolored vertex draws a
               deterministic pseudo-random color from [0, Δ+1); keeps it
               iff no neighbor holds/drew the same color this round.
               O(log n) rounds w.h.p.; ≤ Δ+1 colors by construction.

  barenboim  — speculative one-shot rounds over free-palette index
               draws, higher-id-wins conflicts, the reference's
               hi/lo-degree phase schedule (coloring_barenboim.h).
  elkin      — multi-color palette sampling with the d_i probability
               recurrence and a Barenboim finisher (coloring_elkin.h).

  (JP v4's semantics ≡ v3 — it differs only in a lock-free ready-queue
  scheduler, a shared-memory execution device with no DataFrame analog;
  the dense/sparse decomposition is a documented exclusion, SURVEY §2.4.)

`compare_colorings` is the harness of gms/benchmarks/coloring.cc:32-131:
run each variant on the same graph and report (variant, n_colors,
rounds, proper).

Spark shape: each round is ONE join + aggregate over the edge table
(vertex state keyed by vertex id; hub neighborhoods partial-aggregate
map-side), exactly the superstep discipline of the other kernels — no
per-vertex loops, no adjacency materialization.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gms_spark.graph.build import degrees, vertices
from gms_spark.runtime.superstep import count_where, iterate, truncate_plan


@dataclass
class ColoringResult:
    colors: DataFrame  # (vertex, color)
    rounds: int
    n_colors: int


def _uncolored(state: DataFrame, i: int) -> int:
    """iterate() delta of every coloring kernel: the uncolored count."""
    return count_where(state, F.col("color").isNull())


def jp_color(
    edges: DataFrame,
    prio: DataFrame,
    max_iters: int = 500,
    kernel: str = "coloring",
    chunk: int = 4,
) -> ColoringResult:
    """Jones–Plassmann rounds over an arbitrary priority table.

    ``prio``: (vertex, prio) — any orderable column; ties broken by
    vertex id (struct comparison), so ANY priority is a total order and
    the loop always terminates in ≤ n rounds.

    Per round, every uncolored vertex whose (prio, id) is the strict
    maximum among its uncolored neighbors takes the smallest color
    unused by its colored neighbors (coloring_jones_v1.h:17-70).

    Round shape (the CC fast-path trick): the edge table carries STATIC
    self-loops, so one round is a single edges⋈state join + one
    aggregation — the self row re-delivers the vertex's own
    (color, prio) into its groupBy(vertex) group, replacing both the
    uncolored-filter join and the commit join of the former 3-reference
    round. With the state referenced exactly once per round, ``chunk``
    rounds chain lazily into ONE Spark job with zero recompute (the old
    shape re-executed ~3^k state subtrees per chunk, which is why
    chunking used to measure 2× SLOWER — per-round truncation was optimal
    only for that plan). The per-round commit rule and mex arithmetic
    are unchanged, so the coloring is bit-identical.
    """
    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)
    state0 = vertices(edges).join(prio, "vertex").select("vertex", F.lit(None).cast("long").alias("color"), "prio")
    num_partitions = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # self-looped edge table, partitioned by src once (like PageRank's
    # SpMV table): per-round joins shuffle only the slim state side
    ep = (
        edges.select("src", "dst")
        .unionAll(
            vertices(edges).select(F.col("vertex").alias("src"), F.col("vertex").alias("dst"))
        )
        .repartition(num_partitions, "src")
        .persist()
    )
    ep.count()

    def one_round(state: DataFrame) -> DataFrame:
        nbr = ep.join(
            state.select(F.col("vertex").alias("src"), F.col("color").alias("n_color"), F.col("prio").alias("n_prio")),
            "src",
        ).select(F.col("dst").alias("vertex"), "n_color", "n_prio", F.col("src").alias("n_vertex"))
        self_row = F.col("n_vertex") == F.col("vertex")
        # Smallest-missing-color RELATIONALLY — no per-row color arrays
        # (a hub's collect_set would be an O(Δ)-sized single row; at web
        # Δ≈10^7 that is a 10-100 MB row and an executor OOM). dense_rank
        # over (vertex, color) gives each DISTINCT neighbor color its
        # 0-based ascending rank rk; colors are non-negative and strictly
        # increasing per rank, so the mex is the first rank whose color
        # overshoots it — else 1 + the last rank. One exchange (the
        # window's); the groupBy reuses its partitioning. The self row is
        # NULL-colored for exactly the vertices that may take a color
        # this round, so it never perturbs the colored-neighbor ranks
        # that feed the mex (a colored vertex's own rank row only feeds
        # aggregates its coalesced own_color ignores).
        rk = (
            F.dense_rank().over(Window.partitionBy("vertex").orderBy(F.col("n_color").asc_nulls_last())) - 1
        ).cast("long")
        agg = (
            nbr.withColumn("rk", rk)
            .groupBy("vertex")
            .agg(
                F.max(F.when(self_row, F.col("n_color"))).alias("own_color"),
                F.max(F.when(self_row, F.col("n_prio"))).alias("own_prio"),
                F.max(
                    F.when(F.col("n_color").isNull() & ~self_row, F.struct("n_prio", "n_vertex"))
                ).alias("max_unc"),
                F.min(F.when(F.col("n_color").isNotNull() & (F.col("n_color") != F.col("rk")), F.col("rk"))).alias("gap"),
                F.max(F.when(F.col("n_color").isNotNull(), F.col("rk"))).alias("max_rk"),
            )
        )
        wins = F.col("max_unc").isNull() | (
            F.struct(F.col("own_prio").alias("n_prio"), F.col("vertex").alias("n_vertex")) > F.col("max_unc")
        )
        mex = F.coalesce(F.col("gap"), F.col("max_rk") + 1, F.lit(0)).cast("long")
        return agg.select(
            "vertex",
            F.coalesce(F.col("own_color"), F.when(wins, mex)).alias("color"),
            F.col("own_prio").alias("prio"),
        )

    res = iterate(
        state0, lambda state, i: one_round(state), max_iters=max_iters, tol=0.0, kernel=kernel,
        check_every=chunk, delta=_uncolored,
    )
    ep.unpersist()
    if res.deltas and res.deltas[-1] > 0:
        raise RuntimeError(f"{kernel}: {int(res.deltas[-1])} vertices uncolored after {max_iters} rounds")
    colors = res.state.select("vertex", "color")
    n_colors = colors.agg(F.countDistinct("color")).first()[0]
    return ColoringResult(colors, res.iterations, int(n_colors))


def jp_random(edges: DataFrame, seed: int = 27491095, max_iters: int = 500) -> ColoringResult:
    """JP v1: seeded pseudo-random priorities (delegates to the shared
    kernel). The reference draws priorities from std RNG
    (coloring_jones_v1.h:17-70); per this engine's determinism contract
    (same policy as the MinHash coefficients and LP sampler draws) the
    RNG is replaced by an LCG mix — engine-agnostic int64 arithmetic, so
    a DuckDB oracle replays every round bit-for-bit."""
    prio = vertices(edges).select("vertex", _arith_prio(seed).alias("prio"))
    return jp_color(edges, prio, max_iters, kernel="coloring_jp_random")


#: arithmetic-mix constants shared with the SQL oracle twins
ARITH_A, ARITH_B, ARITH_P = 1103515245, 12345, 2147483647


def _arith_prio(seed: int):
    """LCG-mix priority expression — plain int64 modular arithmetic, so
    a DuckDB oracle can replay it bit-for-bit (the engine-wide stand-in
    for the reference's std RNG draws)."""
    # seed*B is pre-reduced mod P driver-side (int32-literal-safe);
    # (x + y % P) % P == (x + y) % P, so the SQL twin needs no change
    return ((F.col("vertex") % ARITH_P) * ARITH_A + F.lit(seed * ARITH_B % ARITH_P).cast("long")) % ARITH_P


def jp_lf(edges: DataFrame, seed: int = 27491095, max_iters: int = 500) -> ColoringResult:
    """JP v2 largest-first: priority = (degree, mix) — hubs color first."""
    prio = degrees(edges).select(
        "vertex",
        F.struct(F.col("degree").alias("d"), _arith_prio(seed).alias("h")).alias("prio"),
    )
    return jp_color(edges, prio, max_iters, kernel="coloring_jp_lf")


def jp_sl(edges: DataFrame, eps: float = 0.1, max_iters: int = 500) -> ColoringResult:
    """JP v3 smallest-last flavor: ADG degeneracy rank DESCENDING.

    The sequential smallest-last order colors the deepest-core vertices
    first; the parallel stand-in is the ADG batch peel rank reversed
    (high rank = peeled last = deepest core = highest priority).
    """
    from gms_spark.graph.orderings import adg_order

    prio = adg_order(edges, eps=eps).select("vertex", F.col("rank").alias("prio"))
    return jp_color(edges, prio, max_iters, kernel="coloring_jp_sl")


def johansson(edges: DataFrame, seed: int = 5, max_iters: int = 500) -> ColoringResult:
    """Johansson palette sampling (coloring_johansson.h).

    Round i: every uncolored vertex draws color mix(v, i, seed) mod
    (Δ+1); it KEEPS the draw iff no neighbor already holds that color
    and no uncolored neighbor drew the same value this round (symmetric
    drop — progress w.h.p. since the palette strictly exceeds every
    degree). Deterministic given the seed — the draw is the engine-wide
    LCG mix (SQL-replayable, like the MinHash coefficients), with the
    round index folded in; ≤ Δ+1 colors by construction.
    """
    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)
    max_deg = int(degrees(edges).agg(F.max("degree")).first()[0])
    palette = max_deg + 1
    state0 = vertices(edges).select("vertex", F.lit(None).cast("long").alias("color"))

    def step(state: DataFrame, i: int):
        draw = F.pmod(
            (
                (F.col("vertex") % ARITH_P) * ARITH_A
                + F.lit(i * 2654435761 % ARITH_P).cast("long")
                + F.lit(seed * ARITH_B % ARITH_P).cast("long")
            )
            % ARITH_P,
            F.lit(palette),
        ).cast("long")
        picked = state.select(
            "vertex", "color", F.when(F.col("color").isNull(), draw).alias("pick")
        )
        nbr = edges.join(
            picked.select(F.col("vertex").alias("src"), F.col("color").alias("n_color"), F.col("pick").alias("n_pick")),
            "src",
        ).select(F.col("dst").alias("vertex"), "n_color", "n_pick")
        conflicts = (
            nbr.join(picked.select("vertex", "pick"), "vertex")
            .where(F.col("pick").isNotNull() & ((F.col("n_color") == F.col("pick")) | (F.col("n_pick") == F.col("pick"))))
            .select("vertex")
            .distinct()
        )
        return picked.join(conflicts.withColumn("_bad", F.lit(1)), "vertex", "left").select(
            "vertex",
            F.coalesce("color", F.when(F.col("_bad").isNull(), F.col("pick"))).alias("color"),
        )

    res = iterate(state0, step, max_iters=max_iters, tol=0.0, kernel="coloring_johansson", delta=_uncolored)
    if res.deltas and res.deltas[-1] > 0:
        raise RuntimeError(f"johansson: {int(res.deltas[-1])} vertices uncolored after {max_iters} rounds")
    colors = res.state.select("vertex", "color")
    n_colors = colors.agg(F.countDistinct("color")).first()[0]
    return ColoringResult(colors, res.iterations, int(n_colors))


#: extra LCG multiplier for per-color draws (Elkin sampling); plain
#: int64 arithmetic so the SQL twins replay it bit-for-bit
ARITH_C = 69069
ROUND_SALT = 2654435761

#: Elkin schedule fixed-point scale + round(ln2 · 2^16). The reference's
#: d_i recurrence (coloring_elkin.h:38-56) is FLOAT; a 1-ulp libm
#: difference between engines would flip a sampling draw, so the engine
#: re-derives the whole schedule in scaled-integer arithmetic — every
#: op is +,·,floor-div,shift on nonnegative ints, identically
#: computable by any engine (the DuckDB oracle replays it in SQL).
ELKIN_S = 1 << 16
ELKIN_LN2 = 45426


def _ilog2(x: int) -> int:
    return max(int(x), 1).bit_length() - 1


def _elkin_expneg_fp(x: int) -> int:
    """floor-exact fixed-point exp(-x/S)·S: split x = k·ln2 + r with
    r ∈ [0, ln2), return (S - r + r²/2 - r³/6 + r⁴/24) >> k. The
    4-term alternating series on r < 0.694 is accurate to ~1e-3 — the
    schedule only shapes round counts, never propriety. Operation
    order is pinned; the SQL twin mirrors it term by term."""
    k, r = divmod(int(x), ELKIN_LN2)
    if k >= 63:
        return 0
    rr = (r * r) // ELKIN_S
    er = ELKIN_S - r + (r * r) // (2 * ELKIN_S) - (rr * r) // (6 * ELKIN_S) + ((rr * r) // ELKIN_S * r) // (24 * ELKIN_S)
    return max(er, 0) >> k


def _elkin_params_fp(n: int, max_deg: int) -> tuple[int, int]:
    """(εΔ, t) at scale ELKIN_S, all-integer.

    ln n ≈ floor(log2 n)·ln2; eps = ln(n)²/Δ normalized into [1/2, 1)
    by exact halvings/doublings (coloring_elkin.h:19-36). The
    reference's t = (εΔ)^(1-γ) with γ = ln(εΔ/ln n)/ln(εΔ) simplifies
    ANALYTICALLY to t = ln n (the exponent telescopes: (1-γ)·ln εΔ =
    ln ln n), and to t = εΔ in the degenerate γ=0 regime — so no pow()
    is ever needed."""
    dl = max(int(max_deg), 1)
    lnn = _ilog2(n) * ELKIN_LN2
    eps = max((lnn * lnn) // (ELKIN_S * dl), 1)
    b = _ilog2(eps)
    if b >= 16:
        eps >>= b - 15
    elif b < 15:
        eps <<= 15 - b
    ed = eps * dl
    t = ed if (ed <= lnn or ed == ELKIN_S) else lnn
    return ed, t


def _elkin_dnext_fp(d: int, ed: int, t: int) -> int:
    """Fixed-point d_{i+1} (coloring_elkin.h:38-45): multiplicative
    1.01·exp(-(d+εΔ)/(8(d+1)))-decay floored at t while d > t, then the
    linear t/εΔ scaling below."""
    alpha = _elkin_expneg_fp(((d + ed) * ELKIN_S) // (8 * (d + ELKIN_S)))
    if d > t:
        return max((101 * alpha * d) // (100 * ELKIN_S), t)
    return (t * d) // max(ed, 1)


def _round_salt(i: int, seed: int) -> int:
    """Per-round additive salt (pre-reduced, int64-literal-safe)."""
    return (i * ROUND_SALT + seed * ARITH_B) % ARITH_P


def _used_ranked(edges: DataFrame, state: DataFrame, only: DataFrame | None = None) -> DataFrame:
    """(vertex, u, j, m): neighbor-held colors as RANKED ROWS, not arrays.

    ``u`` is a color held by some neighbor of ``vertex``; ``j`` its
    1-based ascending dense rank among the vertex's DISTINCT held colors
    (duplicate neighbor colors share a rank); ``m`` the count of distinct
    held colors. Replaces the former sort_array(collect_set()) helper —
    a hub's used-color set is O(Δ) and must never ride in ONE row; as
    ranked rows it distributes, and both windows share one exchange.
    ``only``: optional (vertex) frame — restrict to those vertices.
    """
    nbr = _used_rows(edges, state, only)
    w = Window.partitionBy("vertex").orderBy("u")
    wa = Window.partitionBy("vertex")
    return (
        nbr.withColumn("j", F.dense_rank().over(w).cast("long"))
        .withColumn("m", F.max("j").over(wa))
    )


def _used_rows(edges: DataFrame, state: DataFrame, only: DataFrame | None = None) -> DataFrame:
    """(vertex, u): a neighbor of ``vertex`` holds color ``u`` (with
    multiplicity — dedup/rank is the caller's choice)."""
    nbr = edges.join(
        state.select(F.col("vertex").alias("src"), F.col("color").alias("n_color")), "src"
    ).where(F.col("n_color").isNotNull()).select(F.col("dst").alias("vertex"), F.col("n_color").alias("u"))
    if only is not None:
        nbr = nbr.join(only.select("vertex"), "vertex", "left_semi")
    return nbr


def barenboim(
    edges: DataFrame,
    seed: int = 11,
    max_iters: int = 500,
    state0: DataFrame | None = None,
) -> ColoringResult:
    """Barenboim speculative (Δ+1)-coloring (coloring_barenboim.h:9-170).

    Reference semantics, Spark-first:
      * palette(v) = {1..Δ+1} minus neighbor-held colors — never
        materialized: the round draws a palette INDEX r and resolves the
        r-th free color with a skip-fold over the sorted used set
        (O(|used|) per vertex, not O(Δ); the reference's per-vertex
        palette vectors, coloring_common_barenboim_elkin.h:79-92, are
        O(n·Δ) memory and would be the hub-array hazard here).
      * one-shot round (one_shot_coloring :9-88): every ACTIVE uncolored
        vertex draws; a draw survives iff no HIGHER-id neighbor drew the
        same color (:44-47); survivors commit.
      * phase schedule (:91-170): ceil(log Δ / log(16/15)) rounds over
        everyone, then the remaining uncolored split at uncolored-degree
        Δ̂ = ln n into high/low sets, each run ceil(5·ln Δ̂ / log(4/3))
        rounds, then a cleanup loop (progress ≥ 1/round: the highest-id
        active vertex can never lose its draw).
      * std RNG draws → the engine LCG mix (SQL-replayable, same
        determinism contract as JP/Johansson). Colors are 1..Δ+1
        (reference convention: 0/NULL = uncolored).
    """
    import math

    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)
    max_deg = int(degrees(edges).agg(F.max("degree")).first()[0] or 0)
    palette_n = max_deg + 1
    # materialized up front, unlike iterate()'s lazy persist of its
    # input: a checkpoint keeps adaptive execution's coalesced partitions
    # and the filled cache gives round 0 real sizes to plan against
    # (measured at sf0.01: a third of the tasks of a lazy start)
    state = truncate_plan(
        state0 if state0 is not None
        else vertices(edges).select("vertex", F.lit(None).cast("long").alias("color"))
    )

    def one_shot(state: DataFrame, active: DataFrame | None, i: int):
        """One speculative round; returns the lazy new state."""
        salt = _round_salt(i, seed)
        cand = state.where(F.col("color").isNull()).select("vertex")
        if active is not None:
            cand = cand.join(active, "vertex", "left_semi")
        # r-th free color of {1..Δ+1}\used, RELATIONALLY (the former
        # skip-fold walked a per-row used ARRAY — O(Δ) on hubs). With
        # distinct used colors u_1<…<u_m ranked j=1..m, exactly u_j − j
        # free colors precede u_j, and u_j − j is non-decreasing in j; so
        # the k-th free color (k = draw+1) is k + j* where
        # j* = max{j : u_j − j < k} (0 if none). Pure row aggregates.
        mix = ((F.col("vertex") % ARITH_P) * ARITH_A + F.lit(salt).cast("long")) % ARITH_P
        used = _used_ranked(edges, state, only=cand)
        k_nn = mix % (F.lit(palette_n).cast("long") - F.col("m")) + 1
        chosen_nn = used.groupBy("vertex").agg(
            (F.max(k_nn) + F.coalesce(F.max(F.when(F.col("u") - F.col("j") < k_nn, F.col("j"))), F.lit(0)))
            .cast("long")
            .alias("chosen_nn")
        )
        # vertices with NO colored neighbor: psize = Δ+1, chosen = k
        k0 = (mix % F.lit(palette_n) + 1).cast("long")
        cand = cand.join(chosen_nn, "vertex", "left").select(
            "vertex", F.coalesce("chosen_nn", k0).alias("chosen")
        )
        pairs = (
            edges.join(
                cand.select(F.col("vertex").alias("src"), F.col("chosen").alias("src_chosen")), "src"
            ).join(
                cand.select(F.col("vertex").alias("dst"), F.col("chosen").alias("dst_chosen")), "dst"
            )
        )
        # dst loses iff a HIGHER-id neighbor drew the same color
        conf = (
            pairs.where((F.col("src") > F.col("dst")) & (F.col("src_chosen") == F.col("dst_chosen")))
            .select(F.col("dst").alias("vertex"))
            .distinct()
        )
        keep = cand.join(conf, "vertex", "left_anti").select("vertex", F.col("chosen").alias("new_color"))
        return state.join(keep, "vertex", "left").select(
            "vertex", F.coalesce("color", "new_color").alias("color")
        )

    def run_phase(state: DataFrame, active: DataFrame | None, rounds: int, i0: int):
        # rounds can legitimately reach 0 when the caller's budget is
        # exhausted (e.g. elkin's finisher): report the REAL uncolored
        # count instead of None, so the caller's guards see the truth
        # rather than a silently-NULL-colored state.
        if rounds <= 0:
            return state, _uncolored(state, i0), i0
        # i0 offsets the round index, so every phase draws the salts of
        # its global rounds
        res = iterate(
            state, lambda s, j: one_shot(s, active, i0 + j), max_iters=rounds, tol=0.0,
            kernel="coloring_barenboim", delta=_uncolored,
        )
        return res.state, int(res.deltas[-1]), i0 + res.iterations

    # phase 1: everyone, ceil(log Δ / log(16/15)) rounds (:105-110)
    p1 = max(1, math.ceil(math.log(max(max_deg, 2)) / math.log(16.0 / 15.0)))
    state, uncolored, i = run_phase(state, None, min(p1, max_iters), 0)

    if uncolored:
        # split remaining uncolored at uncolored-degree Δ̂ = ln n (:117-151)
        delta_hat = max(1.0, math.log(max(state.count(), 2)))
        unc = state.where(F.col("color").isNull()).select("vertex")
        udeg = (
            edges.join(unc.withColumnRenamed("vertex", "src"), "src", "left_semi")
            .join(unc.withColumnRenamed("vertex", "dst"), "dst", "left_semi")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.count("*").alias("ud"))
        )
        split = unc.join(udeg, "vertex", "left").fillna(0, ["ud"]).localCheckpoint(eager=True)
        hi = split.where(F.col("ud") > delta_hat).select("vertex")
        lo = split.where(F.col("ud") <= delta_hat).select("vertex")
        # each phase (and the cleanup) is capped by the REMAINING budget
        # so total rounds never exceed max_iters
        p2 = max(1, math.ceil(5 * math.log(delta_hat + 1.0) / math.log(4.0 / 3.0)))
        if hi.limit(1).count():
            state, uncolored, i = run_phase(state, hi, min(p2, max_iters - i), i)
        if uncolored and lo.limit(1).count():
            state, uncolored, i = run_phase(state, lo, min(p2, max_iters - i), i)
        # cleanup: everyone uncolored until done (:160-166)
        if uncolored and max_iters - i > 0:
            state, uncolored, i = run_phase(state, None, max_iters - i, i)

    if uncolored:
        raise RuntimeError(f"barenboim: {uncolored} vertices uncolored after {i} rounds")
    colors = state.select("vertex", "color")
    n_colors = int(colors.agg(F.countDistinct("color")).first()[0])
    return ColoringResult(colors, i, n_colors)


def elkin(
    edges: DataFrame, seed: int = 13, max_iters: int = 500, stats_out: dict | None = None
) -> ColoringResult:
    """Elkin (Δ+1)-coloring by multi-color palette sampling
    (coloring_elkin.h:10-150 + the Barenboim finisher of the direct
    interface :186-199).

    Per round every uncolored v samples EACH free palette color
    independently w.p. p_i = ((d_i+εΔ)/(d_i+1))/|palette(v)| (:57-80;
    d_i follows the reference recurrence :38-45); v commits to a random
    sampled color that no LOWER-id uncolored neighbor sampled (:84-112,
    set-difference rule — note the direction is opposite to Barenboim's
    higher-id-wins). When a round makes no progress the remaining
    vertices finish with the Barenboim one-shot kernel, exactly like the
    reference's direct interface. Draws use the engine LCG mix
    (SQL-replayable). The palette scan is a broadcast range join of the
    uncolored vertices against a generated colors table {1..Δ+1} with the
    sampling predicate applied IN the join — O(Δ) work per uncolored
    vertex per round (the same bound as the reference's per-vertex
    palette scan, coloring_common_barenboim_elkin.h:79-92) but carried as
    distributed ROWS: no per-row O(Δ) palette array ever exists, so a
    10^7-degree hub costs FLOPs, not a 100 MB row. (At Δ beyond ~10^8
    the colors table should be chunked into range slices per round;
    irrelevant below that.)
    """
    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)
    max_deg = int(degrees(edges).agg(F.max("degree")).first()[0] or 0)
    palette_n = max_deg + 1
    # materialized up front for the reason given in barenboim
    state0 = truncate_plan(vertices(edges).select("vertex", F.lit(None).cast("long").alias("color")))
    n = state0.count()
    # (Pre-partitioning the edge table by src + persist was tried and
    # measured SLOWER here: the columnar cache's per-round scan cost
    # exceeds the exchange it saves — see stage_edges' checkpoint-vs-
    # persist note. Edges stay a localCheckpoint.)

    # reference parameter dance (coloring_elkin.h:19-45) in FIXED-POINT
    # integer arithmetic (see _elkin_params_fp) — engine-agnostic, so
    # the DuckDB oracle replays the schedule bit-for-bit
    ed, t_fp = _elkin_params_fp(n, max_deg)

    d_fp = max_deg * ELKIN_S
    uncolored = n
    colors_tbl = F.broadcast(
        edges.sparkSession.range(1, palette_n + 1).select(F.col("id").alias("c"))
    )

    def step(state: DataFrame, i: int):
        nonlocal d_fp
        # int(p_pre · P) with p_pre = (d+εΔ)/(d+1), exact in integers
        thresh_i = ((d_fp + ed) * ARITH_P) // (d_fp + ELKIN_S)
        d_fp = _elkin_dnext_fp(d_fp, ed, t_fp)
        salt = _round_salt(i, seed)
        unc = state.where(F.col("color").isNull()).select("vertex")
        used = _used_rows(edges, state, only=unc)  # rows, never arrays
        # |used(v)| via dense_rank + max, NOT countDistinct: the window
        # exchanges on vertex once and the groupBy(vertex) after it
        # reuses that partitioning (no second exchange, no separate
        # broadcast-build job) — measured −30% on the whole query at
        # sf0.1 (24.5s vs 34.7s round loop), bit-identical coloring.
        m_tbl = (
            used.withColumn(
                "j", F.dense_rank().over(Window.partitionBy("vertex").orderBy("u"))
            )
            .groupBy("vertex")
            .agg(F.max("j").cast("long").alias("m"))
        )
        cand = unc.join(m_tbl, "vertex", "left").select(
            "vertex", F.coalesce("m", F.lit(0)).cast("long").alias("m")
        )
        # sample color c iff mix(v,c,i)/P < p_pre/psize  ⇔  mix·psize < p_pre·P,
        # evaluated as a broadcast range join filtered BEFORE aggregation
        psize = F.lit(palette_n).cast("long") - F.col("m")
        thresh = F.lit(thresh_i).cast("long")
        samp_pred = (
            ((F.col("vertex") % ARITH_P) * ARITH_A + F.col("c") * ARITH_C + F.lit(salt).cast("long"))
            % ARITH_P
            * psize
            < thresh
        )
        samp = (
            cand.join(colors_tbl, samp_pred)
            .select("vertex", "c")
            # palette(v) excludes neighbor-held colors (was ~array_contains)
            .join(used.select("vertex", F.col("u").alias("c")), ["vertex", "c"], "left_anti")
            # Materialized ONCE per round: samp is referenced by BOTH the
            # conflict side (lower) and the commit (avail), and its own
            # subtree contains the edges⋈state `used` frame twice (the
            # m-count window and the palette anti-join) — left fully
            # lazy, that exchange re-executed up to 4× per round (Spark
            # DataFrames have no cross-branch CSE). One checkpoint job
            # per round caps the recompute at 2 `used` evaluations
            # inside this job (checkpointing `used` separately as well
            # was measured SLOWER at sf0.1 — the extra per-round job's
            # fixed cost exceeds the tiny duplicated join). Same rows,
            # bit-identical coloring.
            .localCheckpoint(eager=True)
        )
        # drop colors also sampled by a LOWER-id neighbor (:84-112) — a
        # row-level anti-join (was a flatten(collect_list) hub array)
        lower = (
            edges.where(F.col("src") < F.col("dst"))
            .join(samp.select(F.col("vertex").alias("src"), "c"), "src")
            .select(F.col("dst").alias("vertex"), "c")
        )
        avail = samp.join(lower, ["vertex", "c"], "left_anti")
        # commit to the (mix % |avail(v)|)-th smallest available sample
        # (an array-collect form measured neutral and is banned by the
        # module's hub-safety source guard — rows it stays)
        pick_salt = _round_salt(i, seed + 1)
        pick_mix = ((F.col("vertex") % ARITH_P) * ARITH_A + F.lit(pick_salt).cast("long")) % ARITH_P
        picked = avail.withColumn(
            "idx", (F.row_number().over(Window.partitionBy("vertex").orderBy("c")) - 1).cast("long")
        ).withColumn("cnt", F.count("*").over(Window.partitionBy("vertex")))
        keep = picked.where(F.col("idx") == pick_mix % F.col("cnt")).select(
            "vertex", F.col("c").alias("new_color")
        )
        # Do NOT chain multiple lazy rounds per job here (the H-index
        # coreness check_every trick): an Elkin round references the
        # incoming state ~4x (unc, used-colors, the conflict side, and
        # the final commit join), so a k-deep lazy chain blows the plan
        # up ~4^k — Spark then rebuilds the same broadcast exchanges
        # once per duplicated subtree. Measured with k=3 at sf0.01: the
        # driver emitted ~1,000 broadcast-build jobs PER MINUTE and a
        # single chunk ran longer than the whole unchunked query.
        # check_every-style chunking is only safe for rounds whose plan
        # is linear in the state (coreness qualifies; this does not).
        return state.join(keep, "vertex", "left").select(
            "vertex", F.coalesce("color", "new_color").alias("color")
        )

    def progress(state: DataFrame, i: int) -> int:
        # a round that colors nobody stops the loop (returns 0) and
        # hands off to the finisher (made_progress, :113)
        nonlocal uncolored
        now = _uncolored(state, i)
        newly = uncolored - now
        uncolored = now
        return now if newly else 0

    res = iterate(
        state0, step, max_iters=max_iters if n else 0, tol=0.0, kernel="coloring_elkin", delta=progress
    )
    state, i = res.state, res.iterations

    if stats_out is not None:
        stats_out["elkin_rounds"] = i
        stats_out["handed_off"] = bool(uncolored)
    if uncolored:
        # the finisher needs a non-zero budget even when this loop spent
        # max_iters (progress ≥ 1 vertex/round is guaranteed there)
        res = barenboim(edges, seed=seed, max_iters=max(1, max_iters - i), state0=state)
        if stats_out is not None:
            stats_out["finisher_rounds"] = res.rounds
        return ColoringResult(res.colors, i + res.rounds, res.n_colors)
    colors = state.select("vertex", "color")
    n_colors = int(colors.agg(F.countDistinct("color")).first()[0])
    return ColoringResult(colors, i, n_colors)


def is_proper(edges: DataFrame, colors: DataFrame) -> bool:
    """Verifier: no monochromatic edge (coloring_common.h:28-203)."""
    bad = (
        edges.join(colors.withColumnRenamed("vertex", "src").withColumnRenamed("color", "c_src"), "src")
        .join(colors.withColumnRenamed("vertex", "dst").withColumnRenamed("color", "c_dst"), "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .count()
    )
    return bad == 0


def compare_colorings(edges: DataFrame, variants: list[str] | None = None) -> DataFrame:
    """The coloring.cc:32-131 harness: run each variant, report
    (variant, n_colors, rounds, proper) — deterministic given seeds."""
    from gms_spark.graph.traversal import jones_plassmann

    runners = {
        "jp_random": lambda: jones_plassmann(edges),
        "jp_lf": lambda: jp_lf(edges),
        "jp_sl": lambda: jp_sl(edges),
        "johansson": lambda: johansson(edges),
        "barenboim": lambda: barenboim(edges),
        "elkin": lambda: elkin(edges),
    }
    names = variants or list(runners)
    rows = []
    for name in names:
        res = runners[name]()
        rows.append((name, int(res.n_colors), int(res.rounds), is_proper(edges, res.colors)))
    spark = edges.sparkSession
    return spark.createDataFrame(rows, "variant string, n_colors long, rounds long, proper boolean")

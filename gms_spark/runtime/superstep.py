"""The engine's one superstep loop: iterate(state, step) with chunking,
checkpoint/resume and per-partition lineage.

The Spark replacement for the reference's in-memory kernel loops
(e.g. PageRank's trial loop gms/representations/graphs/log_graph/pr.cc:38-59,
CC's change-flag loop cc.cc:41-59). A kernel supplies only its LAZY round
``step(state, i) -> new_state`` and how to measure progress; the loop owns
chaining, materialization, convergence and durability.

Chunking: ``check_every = k`` chains k lazy rounds into one plan and
materializes it with ONE Spark job, which also yields the chunk's delta.
That is only recompute-free when a round references its incoming state
exactly once (the chain then carries one copy of each round, not 2^k or
3^k — see the measured blowups in truncate_plan and components.py).

Materialization:
  * in memory, a chunk ends in a localCheckpoint, so plan depth stays
    bounded by k whatever the iteration count;
  * with a TableIO every superstep commits (k is 1): an atomic parquet
    snapshot, a persisted re-read, and per-partition lineage rows
    (iteration, partition id, rows, delta norm, wall ms). A relaunch with
    the same (io, run_id) resumes after the last committed superstep and
    applies the same per-superstep work an uninterrupted run would
    (tests/test_superstep_resume.py).

Delta forms (the scalar the driver compares with ``tol``, read exactly
where the reference reads its error/change flag):
  * ``change(new, old)`` — a per-row measure between the chunk's end and
    its start (L1 term for PageRank, changed flag for CC/coreness), summed
    by an Observation on the chunk-end ⋈ chunk-start join, so the
    materializing job computes it. A k-round displacement <= tol·k does
    not bound the last round's delta, so with tol > 0 such a chunk is
    confirmed by ONE single-round chunk whose own delta must be <= tol.
    With tol == 0 the kernel is monotone and a zero chunk delta proves
    every round in it was a no-op: it stops without an added job.
  * ``delta(state, i) -> float`` — a driver-side measure of the chunk's
    end state, for kernels whose progress is a property of the new state
    alone (BFS level size, SSSP improvements, uncolored count). The loop
    hands it the state lazily localCheckpointed and persisted; the
    kernel's ONE aggregate action over it is the job that fills both, so
    a chunk costs one job. A kernel that steers its next round (the
    direction-optimizing BFS switch, the δ-stepping bucket, Elkin's
    no-progress hand-off) reads its extra scalars in that same action
    and keeps them in its own closure; returning 0 stops the loop.
  * neither — a fixed-length run (label propagation, fixed_iters).

``boundary(state)`` is a lazy transform applied to a materialized state
before the next chunk starts from it — CC's pointer jump, which doubles
its input and is only cheap on materialized state. The chunk's change is
measured against its output. It runs at every chunk start after
superstep 0, so a resumed run applies it exactly where an uninterrupted
one did.

The loop leaves no cached frame behind: the returned state's cache is
released, and it reads from its local checkpoint or committed parquet.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from gms_spark.io.tableio import TableIO


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    deltas: list[float]
    resumed_from: int | None = None


def truncate_plan(df: DataFrame) -> DataFrame:
    """Hard-truncate a superstep state's plan WITHOUT poisoning stats.

    ``localCheckpoint`` alone inherits the child plan's sizeInBytes
    ESTIMATE (Spark propagates originStats through the checkpoint). A
    chained superstep then multiplies the inherited estimates at every
    join, so the estimate's BigInt grows exponentially in DIGIT COUNT
    round over round — by round ~20 the driver spends most of its time
    inside Catalyst's SizeInBytesOnlyStatsPlanVisitor doing million-digit
    BigInteger products (measured: 98 s for ONE coloring superstep over a
    5,000-vertex graph, executors idle the whole time). Persisting the
    checkpointed frame and materializing it makes downstream stats come
    from the ACTUAL cached bytes — flat per-round cost (0.8 s/round on
    the same graph). Callers must eventually ``unpersist()`` the result.

    Scope note (measured, do not "fix" again): the explosion needs a
    JOIN-BEARING plan segment between truncations — each join multiplies
    the two sides' inherited estimates. Chains of bare
    ``localCheckpoint(eager=True)`` at iterate()'s chunk boundaries (one
    fused join per chunk) stay flat: measured at depth 20 on the sf0.1
    doc graph, bare chaining runs 100 supersteps in 19.8 s vs 28.5 s with
    truncate_plan at every boundary — the extra persist+count pass costs
    more than the (non-exploding) estimate chain. Use truncate_plan
    inside superstep loops with join-heavy per-round plans; keep bare
    localCheckpoint at bounded chunk boundaries.
    """
    out = df.localCheckpoint(eager=True).persist()
    out.count()
    return out


def count_where(df: DataFrame, cond: Column) -> int:
    """Rows of ``df`` where ``cond`` holds, in one aggregate action — the
    usual ``delta`` of iterate(), where it is the round's only job."""
    return int(df.agg(F.sum(F.when(cond, 1).otherwise(0))).first()[0] or 0)


def _partition_counts(df: DataFrame) -> list[tuple[int, int]]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .collect()
    )
    return [(int(r["partition_id"]), int(r["count"])) for r in rows]


def _observe_change(
    new: DataFrame, start: DataFrame, change: Callable[[Column, Column], Column]
) -> tuple[DataFrame, Observation]:
    """Ride Σ change(new value, start value) on the new state's plan: the
    compare-join runs INSIDE the materialization job (df.observe)."""
    key, value = start.columns[:2]
    obs = Observation()
    fused = (
        new.join(start.select(key, F.col(value).alias("_old")), key)
        .observe(obs, F.sum(change(F.col(value), F.col("_old"))).alias("delta"))
        .select(*new.columns)
    )
    return fused, obs


def _observed(obs: Observation | None) -> float:
    """The chunk's delta once its materialization ran; inf for a
    fixed-length run, which measures nothing."""
    if obs is None:
        return float("inf")
    v = obs.get["delta"]
    return float(v) if v is not None else 0.0  # null sum == empty state


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iters: int,
    tol: float = 0.0,
    io: TableIO | None = None,
    kernel: str = "kernel",
    run_id: str | None = None,
    check_every: int = 1,
    change: Callable[[Column, Column], Column] | None = None,
    delta: Callable[[DataFrame, int], float] | None = None,
    boundary: Callable[[DataFrame], DataFrame] | None = None,
) -> SuperstepResult:
    """Run ``step(state, i) -> new_state`` (lazy) until the delta <= tol
    or ``max_iters`` supersteps have run — see the module docstring.

    ``state`` is a (key, value, ...) table; ``change`` compares its second
    column on the first. At most one of ``change`` and ``delta`` is given;
    with neither, the run is fixed-length. ``check_every`` is ignored when
    ``io`` is given: durable runs commit every superstep.
    """
    if io is not None and delta is not None:
        # No durable kernel measures an aggregate over its new state
        # (pagerank/components/labelprop use change or nothing). Wiring
        # it is easy — aggregate the committed re-read — but dead paths
        # rot: implement it when a kernel needs it.
        raise NotImplementedError("delta is not supported with durable io")
    spark = state.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    table = f"{kernel}_state_{run_id}"
    deltas: list[float] = []
    i = 0
    resumed_from = None

    if io is not None:
        check_every = 1
        last = io.last_committed(table)
        if last is not None:
            state = io.read(spark, table, last)
            i = last + 1
            resumed_from = last
            prior = [r for r in io.lineage_rows() if r.get("run_id") == run_id and r.get("kernel") == kernel]
            by_iter = {int(r["iteration"]): float(r["delta_norm"]) for r in prior}
            deltas = [by_iter[j] for j in sorted(by_iter) if j <= last]
            if deltas and deltas[-1] <= tol:
                return SuperstepResult(state, i, deltas, resumed_from)

    # no eager count: the first chunk's job fills the cache
    state = state.persist()
    k_next = check_every
    while i < max_iters:
        t0 = time.time()
        k = min(k_next, max_iters - i)
        start = boundary(state) if boundary is not None and i > 0 else state
        new = start
        for j in range(i, i + k):
            new = step(new, j)
        obs = None
        if change is not None:
            new, obs = _observe_change(new, start, change)
        if io is not None:
            # The parquet job fires the Observation; the meta callback
            # runs after it, so the commit marker records the delta.
            io.write(new, table, i, meta=lambda: {"delta": _observed(obs)})
            d = _observed(obs)
            new = io.read(spark, table, i).persist()
            new.count()
            wall_ms = (time.time() - t0) * 1000.0
            io.append_lineage(
                spark,
                [
                    {
                        "kernel": kernel,
                        "run_id": run_id,
                        "iteration": i,
                        "partition_id": pid,
                        "rows": cnt,
                        "delta_norm": d,
                        "wall_ms": wall_ms,
                        "committed_at": time.time(),
                    }
                    for pid, cnt in _partition_counts(new)
                ],
            )
        elif delta is not None:
            # ONE job: the kernel's aggregate action computes the plan and
            # fills the lazy localCheckpoint + cache (an Observation through
            # a lazy localCheckpoint resolves to None — the CollectMetrics
            # node is buried in the checkpointed RDD; measured, do not
            # retry). The persist keeps join-heavy rounds' size estimates
            # flat (truncate_plan).
            new = new.localCheckpoint(eager=False).persist()
            d = float(delta(new, i + k - 1))
        else:
            new = new.localCheckpoint(eager=True)
            d = _observed(obs)
        state.unpersist()
        state = new
        deltas.append(d)
        i += k
        if d <= tol * k:
            if k == 1 or tol <= 0:
                break
            k_next = 1  # confirm: one more superstep, its own delta <= tol
        else:
            k_next = check_every

    state.unpersist()
    return SuperstepResult(state, i, deltas, resumed_from)

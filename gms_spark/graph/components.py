"""Connected components — hash-min label exchange + pointer jumping.

Semantics of the reference's Shiloach–Vishkin kernel
(gms/representations/graphs/log_graph/cc.cc:40-72): every vertex starts
as its own component; hooking propagates smaller labels across edges;
compression (pointer jumping, cc.cc:61-66) shortcuts label chains. The
fixpoint — label[v] = min vertex id of v's component — is identical, and
that is what we verify exactly (verifier cc.cc:98-138 checks consistency
with BFS reachability).

Spark shape (input must be symmetrized):
  1. exchange + hook, every round:  new = (edges ∪ self-loops) ⋈
     labels(src) → groupBy(dst).min(label) (partial aggregation
     pre-combines hub inputs map-side — the skew control for high
     in-degree vertices; the self-loop makes min include the own label)
  2. compress, at each chunk boundary:  labels = labels[labels] via a
     self-join of the materialized state (one pointer jump), turning
     O(diameter) rounds into O(log n) on long chains.
Convergence: changed-row count == 0 over a chunk, read by the driver
like the reference's change flag (cc.cc:45-47).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gms_spark.graph.build import vertices
from gms_spark.io.tableio import TableIO
from gms_spark.runtime.superstep import iterate


@dataclass
class ComponentsResult:
    components: DataFrame  # (vertex: long, component: long)
    iterations: int


def connected_components(
    edges: DataFrame,
    max_iters: int = 200,
    compress: bool = True,
    io: TableIO | None = None,
    run_id: str | None = None,
    check_every: int = 3,
    hub_salt_threshold: int | None = None,
    start_labels: DataFrame | None = None,
) -> ComponentsResult:
    """See module docstring.

    ``check_every > 1`` (no-checkpoint runs only) chains that many
    min-exchange rounds lazily per Spark job and tests the changed-count
    once per chunk. Correct because labels are monotone non-increasing:
    a chunk with zero changes proves the fixpoint. A round must reference
    the incoming labels exactly once: the former round shape referenced
    them ~3× (exchange join, hook, compress self-join), so a k-deep lazy
    chain carried ~3^k copies of the state subtree — at sf0.1,
    check_every=5 ran 10-20× SLOWER than 3 (172-210 s vs 9-18 s,
    identical fixpoint hash) AND wasted rounds on the coarser convergence
    check (10 vs 6). With io, every round commits and is followed by a
    pointer jump.

    ``hub_salt_threshold=k`` splits destinations with in-degree > k into
    salt buckets on the static edge side (skew.py): the min-exchange
    becomes groupBy(dst, salt).min → groupBy(dst).min, so a hub's raw
    edge fan-in never converges on one reduce key. min is idempotent and
    associative — the two-stage result is bit-identical.
    """
    from gms_spark.graph.build import stage_edges

    # edges are re-joined EVERY round — materialize once (a lazy
    # upstream plan would otherwise re-execute per round)
    edges = stage_edges(edges)
    salted: list[str] = []
    if hub_salt_threshold:
        from gms_spark.graph.skew import with_hub_salt

        # re-stage: the salt join must not re-execute per round
        edges = stage_edges(with_hub_salt(edges, hub_salt_threshold))
        salted = ["_salt"]
    verts = vertices(edges)
    if start_labels is not None:
        # Warm start for GROWING graphs (edge additions only): seed from
        # a previous run's labels. Valid because each seed label is the
        # min vertex id of v's OLD component — a vertex id inside v's
        # new (superset) component — and hash-min converges to the new
        # minima from any such labeling; rounds then scale with how far
        # the delta merged components, not the full diameter. After edge
        # DELETIONS a seed is wrong (old minima may span split
        # components) — rerun cold there.
        labels0 = verts.join(
            start_labels.select("vertex", F.col("component").alias("_seed")), "vertex", "left"
        ).select("vertex", F.least(F.coalesce("_seed", "vertex"), F.col("vertex")).alias("component"))
    else:
        labels0 = verts.select("vertex", F.col("vertex").alias("component"))

    # The hook ("new = least(old, cand)") is folded into the min-exchange
    # by adding STATIC self-loops to the edge table: min over {own label}
    # ∪ {neighbor labels} is the hooked label, so one round references
    # the incoming labels exactly ONCE (join + groupBy-min — same as a PR
    # superstep) and check_every-deep lazy chaining is recompute-free.
    # Pointer jumping runs at the CHUNK BOUNDARY (iterate's boundary),
    # where the state is materialized: labels[labels[v]] is then a cheap
    # join of two scans, applied lazily as the next chunk's input — same
    # O(log n) chain shortcutting, zero per-round cost. The fixpoint
    # (label = min vertex id of the component) is identical. Like
    # PageRank's ew, the self-looped edge table is repartitioned by src
    # ONCE and persisted with its partitioning metadata, so per-round
    # joins shuffle only the (slim) label side.
    num_partitions = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    loops = verts.select(F.col("vertex").alias("src"), F.col("vertex").alias("dst"))
    if salted:
        loops = loops.withColumn("_salt", F.lit(0).cast("int"))
    ep = edges.select("src", "dst", *salted).unionAll(loops).repartition(num_partitions, "src").persist()
    ep.count()

    def round_(labels: DataFrame, i: int) -> DataFrame:
        cand = (
            ep.join(labels.withColumnRenamed("vertex", "src"), "src")
            .groupBy(F.col("dst").alias("vertex"), *salted)
            .agg(F.min("component").alias("component"))
        )
        if salted:
            cand = cand.groupBy("vertex").agg(F.min("component").alias("component"))
        return cand

    def jump(labels: DataFrame) -> DataFrame:
        """component <- component[component] over a materialized state."""
        parent = labels.select(F.col("vertex").alias("component"), F.col("component").alias("grand"))
        return labels.join(parent, "component", "left").select(
            "vertex", F.coalesce(F.col("grand"), F.col("component")).alias("component")
        )

    res = iterate(
        labels0,
        round_,
        max_iters=max_iters,
        tol=0.0,
        io=io,
        kernel="components",
        run_id=run_id,
        check_every=check_every,
        change=lambda new, old: (new != old).cast("long"),
        boundary=jump if compress else None,
    )
    ep.unpersist()
    return ComponentsResult(res.state, res.iterations)

"""Synchronous label propagation (community detection flavor).

spcl/gms has NO label-propagation kernel (verified by repo-wide search;
SURVEY §2.4) — it is required by the north rule, so these semantics are
pinned here and by the in-repo numpy oracle (tests/oracles.py), making
"labels match exactly" well-defined:

  * init: label[v] = v
  * superstep i: for every vertex v with ≥1 neighbor,
      label'[v] = the most frequent label among N(v)'s labels from the
      PREVIOUS superstep (synchronous), ties broken by SMALLEST label;
    isolated vertices keep their label.
  * run a FIXED number of supersteps (deterministic; asynchronous LP is
    order-dependent and unsuitable for an exact-match contract).

Spark shape: (edges ∪ weight-0 self-loops) ⋈ labels → vote count per
(vertex, label) (partial aggs absorb hub fan-in) → per-vertex argmax via
max_by on a (count, -label) struct — a single aggregation, no window
sort, and no join back onto the incoming labels.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gms_spark.graph.build import vertices
from gms_spark.io.tableio import TableIO
from gms_spark.runtime.superstep import iterate


#: rounds chained per Spark job in memory (the plan is truncated every 4)
CHUNK = 4


@dataclass
class LabelPropResult:
    labels: DataFrame  # (vertex: long, label: long)
    iterations: int


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    io: TableIO | None = None,
    run_id: str | None = None,
    hub_salt_threshold: int | None = None,
) -> LabelPropResult:
    """``hub_salt_threshold=k``: degree-aware split of the vote-count
    exchange (skew.py) — groupBy(vertex, label, salt).count →
    groupBy(vertex, label).sum, so a hub's raw edge fan-in spreads over
    ceil(indeg/k) reduce keys. The downstream argmax operates on the
    already-collapsed (vertex, label) rows (≤ distinct neighbor labels
    per vertex), whose surviving partials max_by pre-combines map-side."""
    from gms_spark.graph.build import stage_edges

    edges = stage_edges(edges)  # re-joined every round
    salted: list[str] = []
    if hub_salt_threshold:
        from gms_spark.graph.skew import with_hub_salt

        # re-stage: the salt join must not re-execute per round
        edges = stage_edges(with_hub_salt(edges, hub_salt_threshold))
        salted = ["_salt"]
    labels0 = vertices(edges).select("vertex", F.col("vertex").alias("label"))
    # Every src row also emits a self-loop with vote weight 0: a vertex's
    # own label then joins its groupBy(vertex) group at count 0, so a
    # vertex with in-neighbors still takes their most frequent label
    # (every real vote counts >= 1) and one without any (it appears only
    # as src) keeps its own. That replaces the keep-own-label join back
    # onto the incoming labels, so a round references them exactly ONCE
    # and chained rounds are recompute-free. The duplicate zero rows
    # collapse in the map-side partial aggregate; a distinct over the
    # vertices would cost an exchange per round instead.
    loops = edges.select("src", F.col("src").alias("dst"), F.lit(0).alias("w"), *[F.lit(0).alias(c) for c in salted])
    ep = edges.select("src", "dst", F.lit(1).alias("w"), *salted).unionAll(loops)

    def round_(labels: DataFrame, i: int) -> DataFrame:
        nb = ep.join(labels.withColumnRenamed("vertex", "src"), "src").select(
            F.col("dst").alias("vertex"), *salted, "label", "w"
        )
        counts = nb.groupBy("vertex", "label", *salted).agg(F.sum("w").alias("cnt"))
        if salted:
            counts = counts.groupBy("vertex", "label").agg(F.sum("cnt").alias("cnt"))
        # argmax by (cnt desc, label asc): max_by over struct(cnt, -label)
        return counts.groupBy("vertex").agg(
            F.max_by("label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("label")
        )

    res = iterate(
        labels0, round_, max_iters=iters, io=io, kernel="labelprop", run_id=run_id, check_every=CHUNK
    )
    return LabelPropResult(res.state, res.iterations)

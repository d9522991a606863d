"""One Spark job per chunk: the property that makes chunked supersteps pay.

Each kernel's calls to ``iterate`` run under their own job group, and the
jobs the StatusTracker files under it are the loop's jobs. Broadcast
joins and adaptive execution are switched off for the measurement: a
broadcast's collect and each adaptive query stage are jobs of their own,
planner choices rather than the loop's. (The fixture pins both itself
rather than trusting the suite session's settings.)

The loop also releases what it cached: after any kernel on ``iterate``
the cache manager holds nothing.
"""

from __future__ import annotations

import uuid

import pytest

import gms_spark.graph.coloring as coloring_mod
import gms_spark.graph.components as components_mod
import gms_spark.graph.pagerank as pagerank_mod
import gms_spark.graph.traversal as traversal_mod
from gms_spark.graph.build import build_undirected, stage_edges
from gms_spark.io.tableio import TableIO
from gms_spark.runtime import superstep

from .oracles import load_el


@pytest.fixture(scope="module")
def graph_df(spark):
    el = load_el("smallRandom1.el")
    df = spark.createDataFrame([(int(u), int(v)) for u, v in el], "src long, dst long")
    return build_undirected(df).persist()


@pytest.fixture()
def no_broadcast_or_aqe(spark):
    pinned = {"spark.sql.autoBroadcastJoinThreshold": "-1", "spark.sql.adaptive.enabled": "false"}
    old = {k: spark.conf.get(k) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def _in_group(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _group_jobs(spark, group):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _loop_jobs(spark, monkeypatch, module, run):
    """Run ``run()`` and count the jobs launched inside ``module.iterate``.

    Returns (run's result, jobs, supersteps summed over the iterate calls)."""
    group = f"superstep-loop-{uuid.uuid4().hex[:8]}"
    supersteps = []

    def grouped(*args, **kwargs):
        res = _in_group(spark, group, lambda: superstep.iterate(*args, **kwargs))
        supersteps.append(res.iterations)
        return res

    monkeypatch.setattr(module, "iterate", grouped)
    res = run()
    return res, _group_jobs(spark, group), sum(supersteps)


def test_pagerank_one_job_per_chunk_plus_confirmation(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    res, jobs, _ = _loop_jobs(
        spark, monkeypatch, pagerank_mod,
        lambda: pagerank_mod.pagerank(graph_df, tol=1e-6, max_iters=100, check_every=5),
    )
    chunks = (res.iterations - 1) // 5
    assert res.iterations == 5 * chunks + 1  # full chunks, then one confirmation superstep
    assert jobs == chunks + 1


def test_components_one_job_per_chunk(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    res, jobs, _ = _loop_jobs(
        spark, monkeypatch, components_mod,
        lambda: components_mod.connected_components(graph_df),
    )
    assert res.iterations % 3 == 0  # default check_every=3; no confirmation round
    assert jobs == res.iterations // 3


def test_jp_random_one_job_per_chunk(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    res, jobs, rounds = _loop_jobs(spark, monkeypatch, coloring_mod, lambda: coloring_mod.jp_random(graph_df))
    assert rounds == res.rounds and res.rounds % 4 == 0  # jp_color's default chunk
    assert jobs == res.rounds // 4


def test_barenboim_one_job_per_round(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    res, jobs, rounds = _loop_jobs(spark, monkeypatch, coloring_mod, lambda: coloring_mod.barenboim(graph_df))
    assert rounds == res.rounds > 0
    assert jobs == res.rounds


def _weighted(graph_df):
    from pyspark.sql import functions as F

    return graph_df.withColumn("weight", (1 + (F.col("src") + F.col("dst")) % 5).cast("double"))


def test_sssp_delta_stepping_one_job_per_round(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    _, jobs, rounds = _loop_jobs(
        spark, monkeypatch, traversal_mod,
        lambda: traversal_mod.sssp_delta_stepping(_weighted(graph_df), source=0),
    )
    assert rounds > 1
    assert jobs == rounds


def test_bfs_direction_optimizing_one_job_per_level(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    dist, jobs, levels = _loop_jobs(
        spark, monkeypatch, traversal_mod,
        lambda: traversal_mod.bfs_direction_optimizing(graph_df, source=0),
    )
    depth = max(r["dist"] for r in dist.collect())
    assert levels == depth + 1  # the last level finds nothing
    assert jobs == levels


@pytest.mark.parametrize(
    "kernel",
    [
        lambda g, tmp: traversal_mod.bfs(g, source=0),
        lambda g, tmp: traversal_mod.bfs_direction_optimizing(g, source=0),
        lambda g, tmp: traversal_mod.sssp(_weighted(g), source=0),
        lambda g, tmp: traversal_mod.sssp_delta_stepping(_weighted(g), source=0),
        lambda g, tmp: coloring_mod.jp_random(g).colors,
        lambda g, tmp: coloring_mod.johansson(g).colors,
        lambda g, tmp: coloring_mod.barenboim(g).colors,
        lambda g, tmp: coloring_mod.elkin(g).colors,
        lambda g, tmp: pagerank_mod.pagerank(g, tol=1e-3, io=TableIO(str(tmp)), run_id="cache").scores,
    ],
    ids=["bfs", "bfs_do", "sssp", "sssp_delta", "jp_random", "johansson", "barenboim", "elkin", "durable_pagerank"],
)
def test_iterate_kernels_leave_no_cached_frames(spark, kernel, tmp_path):
    el = load_el("smallRandom1.el")
    g = build_undirected(spark.createDataFrame([(int(u), int(v)) for u, v in el], "src long, dst long"))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = kernel(g, tmp_path)
    assert out.count() > 0  # the released state still reads
    assert cache.isEmpty()


def test_stage_edges_keeps_a_checkpointed_frame(spark):
    staged = spark.range(50).selectExpr("id as src", "(id + 1) % 50 as dst").localCheckpoint(eager=True)
    group = f"stage-{uuid.uuid4().hex[:8]}"
    assert _in_group(spark, group, lambda: stage_edges(staged)) is staged
    assert _group_jobs(spark, group) == 0


@pytest.mark.parametrize(
    "make",
    [
        lambda spark: spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long"),
        lambda spark: spark.range(50).selectExpr("id as src", "(id + 1) % 50 as dst")
        .localCheckpoint(eager=True)
        .where("src < 40"),
    ],
    ids=["driver_list", "derived_from_checkpoint"],
)
def test_stage_edges_checkpoints_other_frames(spark, make):
    df = make(spark)
    group = f"stage-{uuid.uuid4().hex[:8]}"
    out = _in_group(spark, group, lambda: stage_edges(df))
    assert out is not df
    assert _group_jobs(spark, group) == 1
    assert stage_edges(out) is out

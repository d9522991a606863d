"""One Spark job per chunk: the property that makes chunked supersteps pay.

Each kernel's call to ``iterate`` runs under its own job group, and the
jobs the StatusTracker files under it are the loop's jobs. Broadcast
joins and adaptive execution are switched off for the measurement: a
broadcast's collect and each adaptive query stage are jobs of their own,
planner choices rather than the loop's. (Other tests rebuild the session
through ``get_spark``, which switches adaptive execution back on.)
"""

from __future__ import annotations

import uuid

import pytest

import gms_spark.graph.components as components_mod
import gms_spark.graph.pagerank as pagerank_mod
from gms_spark.graph.build import build_undirected
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


def _loop_jobs(spark, monkeypatch, module, run):
    """Run ``run()`` and count the jobs launched inside ``module.iterate``."""
    sc = spark.sparkContext
    group = f"superstep-loop-{uuid.uuid4().hex[:8]}"

    def grouped(*args, **kwargs):
        sc.setJobGroup(group, "superstep loop")
        try:
            return superstep.iterate(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(module, "iterate", grouped)
    res = run()
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_one_job_per_chunk_plus_confirmation(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    res, jobs = _loop_jobs(
        spark, monkeypatch, pagerank_mod,
        lambda: pagerank_mod.pagerank(graph_df, tol=1e-6, max_iters=100, check_every=5),
    )
    chunks = (res.iterations - 1) // 5
    assert res.iterations == 5 * chunks + 1  # full chunks, then one confirmation superstep
    assert jobs == chunks + 1


def test_components_one_job_per_chunk(spark, graph_df, no_broadcast_or_aqe, monkeypatch):
    res, jobs = _loop_jobs(
        spark, monkeypatch, components_mod,
        lambda: components_mod.connected_components(graph_df),
    )
    assert res.iterations % 3 == 0  # default check_every=3; no confirmation round
    assert jobs == res.iterations // 3

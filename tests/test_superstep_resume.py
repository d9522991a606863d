"""Checkpoint/lineage/resume tests (BASELINE.md 'Resumability')."""

from __future__ import annotations

import pytest

from gms_spark.graph.build import build_undirected
from gms_spark.graph.components import connected_components
from gms_spark.graph.labelprop import label_propagation
from gms_spark.graph.pagerank import pagerank
from gms_spark.io.tableio import TableIO

from .oracles import load_el


@pytest.fixture(scope="module")
def graph_df(spark):
    el = load_el("smallRandom1.el")
    df = spark.createDataFrame([(int(u), int(v)) for u, v in el], "src long, dst long")
    return build_undirected(df).persist()


#: resume coverage is about the checkpoint/lineage machinery, not
#: convergence depth — a looser tol keeps the superstep count (and the
#: per-superstep parquet commits) small while exercising every path.
TOL = 1e-3


@pytest.fixture(scope="module")
def clean_scores(graph_df):
    """One clean (non-durable) pagerank run shared by the comparisons."""
    res = pagerank(graph_df, tol=TOL, max_iters=50)
    return res, {r["vertex"]: r["score"] for r in res.scores.collect()}


def test_tableio_atomic_snapshots(spark, tmp_path):
    io = TableIO(str(tmp_path))
    df = spark.range(10).selectExpr("id as vertex", "cast(id as double) as score")
    io.write(df, "t", 0)
    io.write(df.selectExpr("vertex", "score * 2 as score"), "t", 1)
    assert io.snapshots("t") == [0, 1]
    assert io.read(spark, "t").agg({"score": "sum"}).first()[0] == 90.0
    assert io.read(spark, "t", 0).agg({"score": "sum"}).first()[0] == 45.0


def test_pagerank_checkpointed_equals_uncheckpointed(spark, graph_df, clean_scores, tmp_path):
    io = TableIO(str(tmp_path))
    a, sa = clean_scores
    b = pagerank(graph_df, tol=TOL, max_iters=50, io=io, run_id="ckpt1")
    sb = {r["vertex"]: r["score"] for r in b.scores.collect()}
    assert sa.keys() == sb.keys()
    for v in sa:
        assert sa[v] == pytest.approx(sb[v], abs=1e-12)
    assert a.iterations == b.iterations


def test_kill_and_resume_identical(spark, graph_df, clean_scores, tmp_path):
    """Kill after superstep k → relaunch resumes and matches a clean run."""
    io = TableIO(str(tmp_path))
    _, sf = clean_scores

    # "killed" run: budget of 3 supersteps, then a fresh process resumes
    partial = pagerank(graph_df, tol=TOL, max_iters=3, io=io, run_id="resume1")
    assert partial.iterations == 3
    assert io.last_committed("pagerank_state_resume1") == 2

    resumed = pagerank(graph_df, tol=TOL, max_iters=50, io=io, run_id="resume1")
    sr = {r["vertex"]: r["score"] for r in resumed.scores.collect()}
    for v in sf:
        assert sr[v] == pytest.approx(sf[v], abs=1e-12)

    # lineage: gap-free, no duplicate (iteration, partition) rows
    rows = [r for r in io.lineage_rows() if r["run_id"] == "resume1"]
    iters = sorted({r["iteration"] for r in rows})
    assert iters == list(range(resumed.iterations))
    seen = set()
    for r in rows:
        key = (r["iteration"], r["partition_id"])
        assert key not in seen
        seen.add(key)


def _assert_gap_free_lineage(io: TableIO, run_id: str, iterations: int) -> None:
    """One lineage row per (iteration, partition), for every superstep."""
    rows = [r for r in io.lineage_rows() if r["run_id"] == run_id]
    assert sorted({r["iteration"] for r in rows}) == list(range(iterations))
    keys = [(r["iteration"], r["partition_id"]) for r in rows]
    assert len(keys) == len(set(keys))


def _as_dict(df, value: str) -> dict:
    return {r["vertex"]: r[value] for r in df.collect()}


def test_resume_skips_completed_run(spark, graph_df, tmp_path):
    io = TableIO(str(tmp_path))
    first = pagerank(graph_df, tol=TOL, max_iters=50, io=io, run_id="done1")
    n_lineage = len(io.lineage_rows())
    again = pagerank(graph_df, tol=TOL, max_iters=50, io=io, run_id="done1")
    assert len(io.lineage_rows()) == n_lineage  # nothing recomputed
    sa = {r["vertex"]: r["score"] for r in first.scores.collect()}
    sb = {r["vertex"]: r["score"] for r in again.scores.collect()}
    assert sa == sb


def test_components_kill_and_resume_identical(spark, graph_df, tmp_path):
    """A relaunch after one committed round resumes at round 1, whose
    pointer jump over the committed state must match what an
    uninterrupted run applies there."""
    io = TableIO(str(tmp_path))
    clean = connected_components(graph_df)
    partial = connected_components(graph_df, max_iters=1, io=io, run_id="cc1")
    assert partial.iterations == 1
    assert io.last_committed("components_state_cc1") == 0
    resumed = connected_components(graph_df, io=io, run_id="cc1")
    assert resumed.iterations > 1
    assert _as_dict(resumed.components, "component") == _as_dict(clean.components, "component")
    _assert_gap_free_lineage(io, "cc1", resumed.iterations)


def test_labelprop_kill_and_resume_identical(spark, graph_df, tmp_path):
    io = TableIO(str(tmp_path))
    clean = label_propagation(graph_df, iters=5)
    partial = label_propagation(graph_df, iters=2, io=io, run_id="lp1")
    assert io.last_committed("labelprop_state_lp1") == 1
    resumed = label_propagation(graph_df, iters=5, io=io, run_id="lp1")
    assert (partial.iterations, resumed.iterations) == (2, 5)
    assert _as_dict(resumed.labels, "label") == _as_dict(clean.labels, "label")
    _assert_gap_free_lineage(io, "lp1", 5)


def test_directed_redistribute_kill_and_resume_identical(spark, tmp_path):
    """Directed PageRank carries the dangling mass from one superstep to
    the next; a relaunch must rebuild it from the committed scores."""
    el = [(int(u), int(v)) for u, v in load_el("smallRandom1.el")]
    el.append((0, 10**6))  # vertex 10**6 has no out-edge: dangling
    directed = spark.createDataFrame(el, "src long, dst long")
    clean = pagerank(directed, tol=TOL, max_iters=50, dangling="redistribute")
    io = TableIO(str(tmp_path))
    partial = pagerank(directed, tol=TOL, max_iters=3, dangling="redistribute", io=io, run_id="dir1")
    assert partial.iterations == 3
    resumed = pagerank(directed, tol=TOL, max_iters=50, dangling="redistribute", io=io, run_id="dir1")
    assert resumed.iterations == clean.iterations > 3
    sc, sr = _as_dict(clean.scores, "score"), _as_dict(resumed.scores, "score")
    assert sc.keys() == sr.keys()
    for v in sc:
        assert sr[v] == pytest.approx(sc[v], abs=1e-12)
    assert sum(sr.values()) == pytest.approx(1.0, abs=1e-9)
    _assert_gap_free_lineage(io, "dir1", resumed.iterations)

"""CLI kernel menu: every kernel runs end-to-end on a golden graph."""

from __future__ import annotations

import pytest

from gms_spark import cli

EL = "tests/data/triangles_3.el"


@pytest.mark.parametrize(
    "argv",
    [
        ["--kernel", "bfs", "--input", EL, "--source", "0"],
        ["--kernel", "bfs_do", "--input", EL, "--source", "0"],
        ["--kernel", "sssp", "--input", EL],
        ["--kernel", "betweenness", "--input", EL, "--bc-samples", "3"],
        ["--kernel", "coreness", "--input", EL],
        ["--kernel", "components", "--input", EL, "--hub-salt", "2"],
        ["--kernel", "pagerank", "--input", EL, "--hub-salt", "2", "--iters", "5"],
        ["--kernel", "kclique", "--input", EL, "--k", "3"],
        ["--kernel", "mce", "--input", EL],
        ["--kernel", "coloring", "--input", EL, "--variant", "jp_lf"],
        ["--kernel", "link_prediction", "--input", EL, "--topq", "5"],
    ],
)
def test_cli_kernel_runs(spark, argv, capsys):
    # `spark` fixture keeps one session alive; cli's getOrCreate reuses it
    assert cli.main(argv) == 0
    assert "@@@ kernel=" in capsys.readouterr().out


def test_cli_bfs_matches_kernel(spark, capsys):
    from gms_spark.graph.traversal import bfs
    from gms_spark.io.readers import read_edge_list
    from gms_spark.graph.build import build_undirected

    cli.main(["--kernel", "bfs", "--input", EL, "--source", "0"])
    out = capsys.readouterr().out
    rows = int(out.split("rows=")[1].split()[0])
    g = build_undirected(read_edge_list(spark, EL).select("src", "dst"))
    assert rows == bfs(g, 0).count()


def test_cli_pagerank_weighted(spark, tmp_path, capsys):
    """--weighted flows the .wel weight column into the kernel's
    weight/out-strength transition (min-weight symmetrization, like
    sssp); scores must equal the direct weighted kernel call and differ
    from the unweighted run on the same edges."""
    import pyspark.sql.functions as F

    from gms_spark.graph.pagerank import pagerank

    wel = tmp_path / "g.wel"
    wel.write_text("0 1 3.0\n0 2 1.0\n1 2 1.0\n1 3 5.0\n")
    outdir = str(tmp_path / "out")
    assert cli.main(
        ["--kernel", "pagerank", "--weighted", "--input", str(wel),
         "--output", outdir, "--iters", "8"]
    ) == 0
    got = {r["vertex"]: r["score"] for r in spark.read.parquet(outdir).collect()}

    w = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 1.0), (1, 3, 5.0)],
        "src long, dst long, weight double",
    )
    und = (
        w.unionAll(w.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
        .groupBy("src", "dst").min("weight").withColumnRenamed("min(weight)", "weight")
    )
    want = {r["vertex"]: r["score"] for r in pagerank(und, tol=1e-6, max_iters=8).scores.collect()}
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    plain = {
        r["vertex"]: r["score"]
        for r in pagerank(und.select("src", "dst"), tol=1e-6, max_iters=8).scores.collect()
    }
    assert got[3] != pytest.approx(plain[3], abs=1e-9)


def test_cli_pagerank_warm_start(spark, tmp_path, capsys):
    """--start-scores reruns from a previous output: same scores, fewer
    supersteps — the evolving-crawl relaunch path through the CLI."""
    out1 = str(tmp_path / "s1")
    assert cli.main(["--kernel", "pagerank", "--input", EL, "--output", out1, "--tol", "1e-7"]) == 0
    it_cold = int(capsys.readouterr().out.split("iterations=")[1].split()[0])

    out2 = str(tmp_path / "s2")
    assert cli.main(
        ["--kernel", "pagerank", "--input", EL, "--output", out2,
         "--tol", "1e-7", "--start-scores", out1]
    ) == 0
    it_warm = int(capsys.readouterr().out.split("iterations=")[1].split()[0])
    assert it_warm < it_cold, (it_warm, it_cold)
    a = {r["vertex"]: r["score"] for r in spark.read.parquet(out1).collect()}
    b = {r["vertex"]: r["score"] for r in spark.read.parquet(out2).collect()}
    assert a.keys() == b.keys()
    for v in a:
        assert b[v] == pytest.approx(a[v], abs=1e-6), v


@pytest.mark.parametrize(
    "argv",
    [
        ["--kernel", "components", "--input", EL, "--start-scores", "/tmp/nope"],
        ["--kernel", "labelprop", "--input", EL, "--weighted"],
    ],
)
def test_cli_pagerank_only_flags_rejected(argv):
    """--start-scores / --weighted with a kernel that ignores them is an
    operator mistake; the CLI must refuse, not silently drop the flag."""
    with pytest.raises(SystemExit) as e:
        cli.main(argv)
    assert "pagerank" in str(e.value)


def test_get_spark_keeps_running_session_confs(spark):
    """get_spark hands back the running session without re-applying its
    builder configs (adaptive execution on, among others) to it."""
    from gms_spark.session import get_spark

    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert get_spark("other") is spark
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, old)

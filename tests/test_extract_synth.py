"""Extraction parity + pages pipeline tests (BASELINE.md 'Extracted text parity')."""

from __future__ import annotations

import numpy as np
import pytest

from gms_spark.extract import extract, extract_pages, resolve_href
from gms_spark.graph.build import build_undirected, edges_from_pages
from gms_spark.synth import page_record, synth_pages


def test_resolve_href():
    base = "https://site1.example/a/b/page.html"
    assert resolve_href("https://x.example/z", base) == "https://x.example/z"
    assert resolve_href("//cdn.example/z", base) == "https://cdn.example/z"
    assert resolve_href("/root.html", base) == "https://site1.example/root.html"
    assert resolve_href("rel.html", base) == "https://site1.example/a/b/rel.html"
    assert resolve_href("#frag", base) is None
    assert resolve_href("", base) is None


def test_extract_semantics():
    html = (
        b'<html><head><title>T</title><style>p{}</style></head><body>'
        b'<script>var x="<a href=\\"junk\\">";</script>'
        b'<a href="https://a.example/1">one</a> text &amp; more'
        b'<a href="/two">two</a><a href="https://a.example/1">dup</a>'
        b"</body></html>"
    )
    e = extract(html, "https://base.example/dir/p.html")
    assert e.hrefs == ["https://a.example/1", "https://base.example/two"]
    assert "junk" not in " ".join(e.hrefs)
    assert e.text == "T one text & more two dup"


def test_spark_extraction_byte_identical(spark):
    """THE invariant: Spark-extracted text == reference extractor, per url."""
    n = 200
    pages = synth_pages(spark, n, partitions=4)
    got = {r["url"]: (r["text"], tuple(r["hrefs"])) for r in extract_pages(pages).collect()}
    assert len(got) == n
    for i in range(n):
        rec = page_record(i, n)
        text, hrefs = got[rec["url"]]
        assert text == rec["text"], rec["url"]  # byte-identical (same str)
        oracle = extract(rec["html"], rec["url"])
        assert text == oracle.text
        assert list(hrefs) == oracle.hrefs


def test_synth_pages_deterministic(spark):
    a = synth_pages(spark, 50, partitions=2).orderBy("url").collect()
    b = synth_pages(spark, 50, partitions=7).orderBy("url").collect()
    assert [(r["url"], bytes(r["html"])) for r in a] == [(r["url"], bytes(r["html"])) for r in b]


def test_edges_from_pages_degree_descending_ids(spark):
    n = 120
    pages = synth_pages(spark, n, partitions=4)
    url_dict, edges = edges_from_pages(pages)
    d = {r["url"]: r["id"] for r in url_dict.collect()}
    assert sorted(d.values()) == list(range(n))
    # degree-descending: id 0 must be a hub (max-degree url)
    el = np.array([(r["src"], r["dst"]) for r in edges.collect()])
    deg = np.zeros(n)
    for u, v in el:
        deg[u] += 1
        deg[v] += 1
    assert deg[0] == deg.max()
    # ids are degree-sorted
    assert all(deg[i] >= deg[i + 1] for i in range(n - 1))


def test_pages_graph_runs_pagerank(spark):
    from gms_spark.graph.pagerank import pagerank

    pages = synth_pages(spark, 100, partitions=4)
    _, edges = edges_from_pages(pages)
    und = build_undirected(edges)
    res = pagerank(und, tol=1e-8, max_iters=60, check_every=5)
    scores = res.scores.collect()
    assert sum(r["score"] for r in scores) == pytest.approx(1.0, abs=1e-6)
    assert len(scores) > 50


def test_id_assigners_leave_no_cached_frames(spark):
    """The range-sampled id assigners pin their one evaluation with an
    eager checkpoint; the range-partitioned frame they persist on the way
    must be released, so neither a url dictionary build nor a dense rank
    leaves a cache-manager entry behind."""
    from gms_spark.graph.build import dense_rank_ids

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    url_dict, edges = edges_from_pages(synth_pages(spark, 60, partitions=3))
    edges.count()
    assert cache.isEmpty()
    ranked = dense_rank_ids(spark.range(40).selectExpr("id % 7 as k"), "k")
    assert sorted({r["id"] for r in ranked.collect()}) == list(range(7))
    assert cache.isEmpty()

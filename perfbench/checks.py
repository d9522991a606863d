"""Output checks: independent numpy recomputations, run outside the timed section.

Every checker returns ``None`` when the output is right and a one-line
reason when it is not. None of them calls back into ``gms_spark``'s graph
code, so a bug there cannot hide in the check. ``self_test`` feeds each
checker a deliberately corrupted copy of a correct output and insists it
is rejected.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class Graph:
    """A simple undirected graph as index arrays over its sorted vertex ids."""

    def __init__(self, edges: pd.DataFrame):
        src = edges["src"].to_numpy(np.int64)
        dst = edges["dst"].to_numpy(np.int64)
        self.verts = np.unique(np.concatenate([src, dst]))
        self.n = len(self.verts)
        self.src = np.searchsorted(self.verts, src)
        self.dst = np.searchsorted(self.verts, dst)
        self.deg = np.bincount(self.src, minlength=self.n)

    @property
    def m(self) -> int:
        return len(self.src)

    def align(self, df: pd.DataFrame, col: str) -> np.ndarray | None:
        """``df[col]`` in vertex order, or None if ``df`` covers other vertices."""
        ids = df["vertex"].to_numpy(np.int64)
        order = np.argsort(ids)
        if not np.array_equal(ids[order], self.verts):
            return None
        return df[col].to_numpy()[order]


def check_simple_undirected(g: Graph) -> str | None:
    if np.any(g.src == g.dst):
        return "edge table has self-loops"
    key = g.src * g.n + g.dst
    if len(np.unique(key)) != g.m:
        return "edge table has parallel edges"
    if not np.array_equal(np.sort(key), np.sort(g.dst * g.n + g.src)):
        return "edge table is not symmetric"
    return None


def check_pagerank(g: Graph, scores: pd.DataFrame, damping: float = 0.85, tol: float = 1e-6) -> str | None:
    """Scores sum to 1 and are a fixpoint: one power step moves them <= tol in L1."""
    s = g.align(scores, "score")
    if s is None:
        return "pagerank scores cover a different vertex set"
    s = s.astype(np.float64)
    if abs(s.sum() - 1.0) > 1e-9:
        return f"pagerank scores sum to {s.sum()!r}"
    step = (1.0 - damping) / g.n + damping * np.bincount(g.dst, weights=(s / g.deg)[g.src], minlength=g.n)
    l1 = float(np.abs(step - s).sum())
    if l1 > tol:
        return f"one power step moves pagerank scores by {l1:.3g} in L1"
    return None


def components_oracle(g: Graph) -> np.ndarray:
    """Hash-min fixpoint with pointer jumping: the min vertex id per component."""
    lab = np.arange(g.n)
    while True:
        new = lab.copy()
        np.minimum.at(new, g.dst, lab[g.src])
        new = new[new]
        if np.array_equal(new, lab):
            return g.verts[lab]
        lab = new


def labelprop_oracle(g: Graph, iters: int) -> np.ndarray:
    """Synchronous replay: each vertex takes its neighbours' most frequent
    label of the previous round, ties to the smallest label."""
    lab = g.verts.copy()
    base = int(g.verts.max()) + 1
    for _ in range(iters):
        uk, cnt = np.unique(g.dst * base + lab[g.src], return_counts=True)
        v, label = uk // base, uk % base
        o = np.lexsort((label, -cnt, v))
        v, label = v[o], label[o]
        first = np.r_[True, v[1:] != v[:-1]]
        lab = lab.copy()
        lab[v[first]] = label[first]
    return lab


def triangles_oracle(g: Graph) -> int:
    """Closed wedges of the (degree, id)-oriented graph: each triangle once."""
    keep = (g.deg[g.src] < g.deg[g.dst]) | ((g.deg[g.src] == g.deg[g.dst]) & (g.src < g.dst))
    u, v = g.src[keep], g.dst[keep]
    o = np.lexsort((v, u))
    u, v = u[o], v[o]
    start = np.searchsorted(u, np.arange(g.n))
    k = np.bincount(u, minlength=g.n)[v]
    first = np.repeat(start[v] - np.cumsum(k) + k, k) + np.arange(int(k.sum()))
    return int(np.isin(np.repeat(u, k) * g.n + v[first], u * g.n + v).sum())


def check_labels(g: Graph, df: pd.DataFrame, col: str, expected: np.ndarray, what: str) -> str | None:
    got = g.align(df, col)
    if got is None:
        return f"{what} labels cover a different vertex set"
    bad = int(np.count_nonzero(got.astype(np.int64) != expected))
    return f"{bad} {what} labels differ from the numpy recomputation" if bad else None


def check_triangles(got: int, expected: int) -> str | None:
    return None if got == expected else f"triangle count {got} != numpy recount {expected}"


def check_url_dict(url_dict: pd.DataFrame, page_urls: list[str]) -> str | None:
    """The url dictionary maps the crawled urls one-to-one onto 0..n-1."""
    ids = np.sort(url_dict["id"].to_numpy(np.int64))
    if not np.array_equal(ids, np.arange(len(page_urls))):
        return "url dictionary ids are not exactly 0..n-1"
    if sorted(url_dict["url"]) != sorted(page_urls):
        return "url dictionary keys are not exactly the crawled urls"
    return None


def check_hrefs(spark_hrefs: dict[str, list[str]], reference: dict[str, list[str]]) -> str | None:
    bad = [u for u in reference if spark_hrefs.get(u) != reference[u]]
    return f"hrefs of {len(bad)} sampled pages differ from in-process extract, e.g. {bad[0]}" if bad else None


def check_sample_links(g: Graph, url_ids: dict[str, int], reference: dict[str, list[str]]) -> str | None:
    """Every in-crawl, non-self href of a sampled page is an edge of the graph."""
    base = int(g.verts.max()) + 1
    key = set((g.verts[g.src] * base + g.verts[g.dst]).tolist())
    for url, hrefs in reference.items():
        u = url_ids[url]
        for h in hrefs:
            w = url_ids.get(h)
            if w is not None and w != u and u * base + w not in key:
                return f"link {url} -> {h} is missing from the edge table"
    return None


def self_test(cases: dict[str, tuple]) -> list[str]:
    """Each case is (checker, corrupted args); a checker that accepts its
    corrupted input is returned by name."""
    return [name for name, (fn, args) in cases.items() if fn(*args) is None]


def flip_label(df: pd.DataFrame, col: str) -> pd.DataFrame:
    out = df.copy()
    out.loc[out.index[0], col] = int(out[col].max()) + 1
    return out


def perturb_score(df: pd.DataFrame) -> pd.DataFrame:
    """Move a little mass between two vertices: the sum still reads 1."""
    out = df.copy()
    out.loc[out.index[0], "score"] += 1e-5
    out.loc[out.index[1], "score"] -= 1e-5
    return out


def drop_href(hrefs: dict[str, list[str]]) -> dict[str, list[str]]:
    url = next(u for u, h in hrefs.items() if h)
    return {**hrefs, url: hrefs[url][1:]}

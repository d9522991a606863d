"""The benchmark's three workloads, each against the engine's public functions.

A workload has a ``setup`` (input generation and staging, repeated by the
runner so its time is a median), a timed ``run`` that wraps every public
call in a span, and a ``check`` that compares the outputs with the numpy
recomputations in ``checks``. Sizes are chosen so that one run of any
workload, including the Spark session build, stays well under a minute on
a 4-core box: at these sizes PageRank, components and label propagation
are bound by their Spark job count, which is the cost the engine's open
work targets.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import checks

PR_ARGS = {"tol": 1e-6, "max_iters": 100, "check_every": 5}
LP_ITERS = 4
CRAWL_PAGES = 20_000  # about 259k undirected edges
RMAT_SCALE = 13  # about 200k undirected edges
DURABLE_SCALE = 11  # about 45k undirected edges
KILLED_AFTER = 5  # supersteps committed before the simulated kill
HREF_SAMPLE = 200
SETOPS_SAMPLE = 20_000


def _pdf(df, *cols):
    return df.select(*cols).toPandas()


class Workload:
    name = ""
    # Seconds one timed iteration takes on a 4-core box. A run times
    # round(--seconds / iteration_s) iterations, a count fixed per workload,
    # so every run mixes the same share of cold first iterations.
    iteration_s = 15.0
    setup_layer = "generators.rmat_stage"  # the span name of one set-up

    def __init__(self, spark, tmp: str, seed: int):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Collect what the checks need, once, outside any timing."""

    def run(self, tr) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        raise NotImplementedError

    def corrupted(self, out: dict) -> dict[str, tuple]:
        raise NotImplementedError

    def probes(self) -> dict[str, float]:
        """In-process layer probes, traced runs only."""
        return {}

    def cleanup(self, out: dict) -> None:
        """Drop one iteration's state so the next starts from the same place."""
        self.spark.catalog.clearCache()


class CrawlPagerank(Workload):
    """Synthetic crawl in parquet -> url dictionary + link graph -> PageRank."""

    name = "crawl_pagerank"
    setup_layer = "synth.pages_write"

    def setup(self) -> None:
        from gms_spark.synth import synth_pages

        self.pages_path = os.path.join(self.tmp, "pages")
        synth_pages(self.spark, CRAWL_PAGES, seed=self.seed).write.mode("overwrite").parquet(self.pages_path)

    def prepare(self) -> None:
        from gms_spark.extract import extract, extract_pages
        from gms_spark.synth import page_record, page_url
        from pyspark.sql import functions as F

        rng = np.random.default_rng(self.seed)
        ids = sorted(rng.choice(CRAWL_PAGES, HREF_SAMPLE, replace=False).tolist())
        self.sample_pages = [page_record(i, CRAWL_PAGES, self.seed) for i in ids]
        self.ref_hrefs = {p["url"]: extract(p["html"], p["url"]).hrefs for p in self.sample_pages}
        pages = self.spark.read.parquet(self.pages_path).where(F.col("url").isin(list(self.ref_hrefs)))
        ex = _pdf(extract_pages(pages), "url", "hrefs")
        self.spark_hrefs = {u: list(h) for u, h in zip(ex["url"], ex["hrefs"])}
        self.page_urls = [page_url(i, max(1, CRAWL_PAGES // 10)) for i in range(CRAWL_PAGES)]

    def run(self, tr) -> dict:
        from gms_spark.graph.build import build_undirected, edges_from_pages, stage_edges
        from gms_spark.graph.pagerank import pagerank

        pages = self.spark.read.parquet(self.pages_path)
        with tr.span("build.edges_from_pages"):
            url_dict, directed = edges_from_pages(pages)
        with tr.span("build.build_undirected"):
            edges = stage_edges(build_undirected(directed))
        with tr.span("pagerank"):
            pr = pagerank(edges, **PR_ARGS)
        return {"url_dict": url_dict, "edges": edges, "pr": pr, "supersteps": pr.iterations}

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        url_dict = _pdf(out["url_dict"], "url", "id")
        g = checks.Graph(_pdf(out["edges"], "src", "dst"))
        out["m"] = g.m
        out["url_dict_rows"] = len(url_dict)
        out["scores"] = _pdf(out["pr"].scores, "vertex", "score")
        out["g"] = g
        url_ids = dict(zip(url_dict["url"], url_dict["id"].astype(int)))
        ingest_err = (
            checks.check_hrefs(self.spark_hrefs, self.ref_hrefs)
            or checks.check_url_dict(url_dict, self.page_urls)
            or checks.check_sample_links(g, url_ids, self.ref_hrefs)
        )
        return [
            ("edges_from_pages", ingest_err),
            ("build_undirected", checks.check_simple_undirected(g)),
            ("pagerank", checks.check_pagerank(g, out["scores"])),
        ]

    def corrupted(self, out: dict) -> dict[str, tuple]:
        return {
            "dropped href": (checks.check_hrefs, (checks.drop_href(self.spark_hrefs), self.ref_hrefs)),
            "perturbed score": (checks.check_pagerank, (out["g"], checks.perturb_score(out["scores"]))),
        }

    def probes(self) -> dict[str, float]:
        from gms_spark.extract import extract

        times = []
        for _ in range(5):
            t = time.perf_counter()
            for p in self.sample_pages:
                extract(p["html"], p["url"])
            times.append(time.perf_counter() - t)
        return {"extract.pages_per_s": len(self.sample_pages) / float(np.median(times))}


class _RmatGraph(Workload):
    scale = 0

    def setup(self) -> None:
        from gms_spark.graph.build import build_undirected, stage_edges
        from gms_spark.graph.generators import rmat_el

        self.edges = stage_edges(build_undirected(rmat_el(self.spark, self.scale, 16, seed=self.seed)))

    def prepare(self) -> None:
        self.g = checks.Graph(_pdf(self.edges, "src", "dst"))
        self.cc_expected = checks.components_oracle(self.g)
        self.lp_expected = checks.labelprop_oracle(self.g, LP_ITERS)

    def _collect(self, out: dict) -> None:
        out["m"] = self.g.m
        out["scores"] = _pdf(out["pr"].scores, "vertex", "score")
        out["components"] = _pdf(out["cc"].components, "vertex", "component")
        out["labels"] = _pdf(out["lp"].labels, "vertex", "label")

    def _check_cc_lp(self, out: dict) -> list[tuple[str, str | None]]:
        return [
            ("connected_components", checks.check_labels(self.g, out["components"], "component", self.cc_expected, "component")),
            ("label_propagation", checks.check_labels(self.g, out["labels"], "label", self.lp_expected, "label-propagation")),
        ]

    def corrupted(self, out: dict) -> dict[str, tuple]:
        return {
            "perturbed score": (checks.check_pagerank, (self.g, checks.perturb_score(out["scores"]))),
            "flipped component label": (
                checks.check_labels,
                (self.g, checks.flip_label(out["components"], "component"), "component", self.cc_expected, "component"),
            ),
        }


class RmatKernels(_RmatGraph):
    """Staged R-MAT graph -> PageRank, components, label propagation, triangles."""

    name = "rmat_kernels"
    scale = RMAT_SCALE

    def prepare(self) -> None:
        super().prepare()
        self.tc_expected = checks.triangles_oracle(self.g)

    def run(self, tr) -> dict:
        from gms_spark.graph.components import connected_components
        from gms_spark.graph.labelprop import label_propagation
        from gms_spark.graph.pagerank import pagerank
        from gms_spark.graph.triangles import triangle_count_total

        with tr.span("pagerank"):
            pr = pagerank(self.edges, **PR_ARGS)
        with tr.span("components"):
            cc = connected_components(self.edges)
        with tr.span("labelprop"):
            lp = label_propagation(self.edges, iters=LP_ITERS)
        with tr.span("triangles"):
            tc = triangle_count_total(self.edges)
        return {"pr": pr, "cc": cc, "lp": lp, "tc": tc, "supersteps": pr.iterations, "rounds": cc.iterations}

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        self._collect(out)
        return [
            ("pagerank", checks.check_pagerank(self.g, out["scores"])),
            *self._check_cc_lp(out),
            ("triangle_count_total", checks.check_triangles(out["tc"], self.tc_expected)),
        ]

    def corrupted(self, out: dict) -> dict[str, tuple]:
        return {
            **super().corrupted(out),
            "off-by-one triangle count": (checks.check_triangles, (out["tc"] + 1, self.tc_expected)),
        }

    def probes(self) -> dict[str, float]:
        """``batch_intersect`` over a seeded sample of oriented-edge
        neighbourhood pairs, the shape triangle counting feeds it."""
        from gms_spark.graph.setops import batch_intersect

        g = self.g
        keep = (g.deg[g.src] < g.deg[g.dst]) | ((g.deg[g.src] == g.deg[g.dst]) & (g.src < g.dst))
        u, v = g.verts[g.src[keep]], g.verts[g.dst[keep]]
        o = np.lexsort((v, u))
        u, v = u[o], v[o]
        starts = np.searchsorted(u, g.verts)
        ends = np.searchsorted(u, g.verts, side="right")
        nbr = {int(x): v[s:e] for x, s, e in zip(g.verts, starts, ends)}
        pick = np.random.default_rng(self.seed).choice(len(u), min(SETOPS_SAMPLE, len(u)), replace=False)
        rows_a = [nbr[int(u[i])] for i in pick]
        rows_b = [nbr[int(v[i])] for i in pick]
        times = []
        for _ in range(5):
            t = time.perf_counter()
            _, counts, _ = batch_intersect(rows_a, rows_b)
            times.append(time.perf_counter() - t)
        return {
            "setops.batch_intersect_s": float(np.median(times)),
            "setops.pairs": len(pick),
            "setops.matches": int(counts.sum()),
        }


class DurableResume(_RmatGraph):
    """Durable PageRank killed after 5 supersteps, relaunched to 1e-6, then
    durable components and label propagation, all through TableIO."""

    name = "durable_resume"
    scale = DURABLE_SCALE
    n_runs = 0  # each iteration gets a fresh TableIO root and run id
    iteration_s = 20.0

    def run(self, tr) -> dict:
        from gms_spark.graph.components import connected_components
        from gms_spark.graph.labelprop import label_propagation
        from gms_spark.graph.pagerank import pagerank
        from gms_spark.io.tableio import TableIO

        self.n_runs += 1
        io = TableIO(os.path.join(self.tmp, f"tableio-{self.n_runs}"))
        run_id = f"r{self.n_runs}"
        with tr.span("pagerank"):
            killed = pagerank(self.edges, **{**PR_ARGS, "max_iters": KILLED_AFTER}, io=io, run_id=run_id)
        table = f"pagerank_state_{run_id}"
        before = {s: self._marker(io, table, s) for s in io.snapshots(table)}
        with tr.span("pagerank.resume"):
            pr = pagerank(self.edges, **PR_ARGS, io=io, run_id=run_id)
        with tr.span("components"):
            cc = connected_components(self.edges, io=io)
        with tr.span("labelprop"):
            lp = label_propagation(self.edges, iters=LP_ITERS, io=io)
        return {
            "io": io, "table": table, "before": before, "killed": killed, "pr": pr, "cc": cc, "lp": lp,
            "supersteps": pr.iterations, "rounds": cc.iterations,
        }

    @staticmethod
    def _marker(io, table: str, snap: int) -> bytes:
        with open(os.path.join(io._sdir(table, snap), "_COMMITTED"), "rb") as f:
            return f.read()

    def check(self, out: dict) -> list[tuple[str, str | None]]:
        self._collect(out)
        io, table, before = out["io"], out["table"], out["before"]
        snaps = io.snapshots(table)
        killed_err = None
        if out["killed"].iterations != KILLED_AFTER or sorted(before) != list(range(KILLED_AFTER)):
            killed_err = f"killed run committed snapshots {sorted(before)}, expected 0..{KILLED_AFTER - 1}"
        resume_err = None
        if any(self._marker(io, table, s) != m for s, m in before.items()):
            resume_err = "the relaunch rewrote a snapshot committed before the kill"
        elif snaps != list(range(out["pr"].iterations)) or out["pr"].iterations <= KILLED_AFTER:
            resume_err = f"the relaunch did not resume from snapshot {KILLED_AFTER - 1}"
        out.update(self._io_counts(io))
        out["iterate_supersteps"] = out["supersteps"] + out["rounds"] + LP_ITERS
        return [
            ("pagerank", killed_err),
            ("pagerank.resume", resume_err or checks.check_pagerank(self.g, out["scores"])),
            *self._check_cc_lp(out),
        ]

    @staticmethod
    def _io_counts(io) -> dict[str, int]:
        snapshots = size = 0
        for d, _, files in os.walk(io.root):
            snapshots += "_COMMITTED" in files
            size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return {"snapshots": snapshots, "bytes_written": size, "lineage_rows": len(io.lineage_rows())}

    def cleanup(self, out: dict) -> None:
        super().cleanup(out)
        shutil.rmtree(out["io"].root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (CrawlPagerank, RmatKernels, DurableResume)}

"""spark-submit entrypoint: run a kernel over an edge table or pages table.

Examples (cluster: spark-submit --py-files gms_spark.zip; sandbox: python):

  spark-submit --py-files gms_spark.zip -m gms_spark/cli.py \
      --kernel pagerank --input edges.parquet --output out/ \
      --checkpoint ckpt/ --run-id prod1 --tol 1e-6

  python -m gms_spark.cli --kernel pagerank --input tests/data/triangles_3.el

Inputs: .parquet edge tables (src,dst), classic edge-list formats
(.el/.wel/.gr/.mtx/.graph), or --pages a pages parquet/Iceberg dir (url
extraction runs first). One kernel per invocation — the analog of the
reference's per-kernel benchmark binaries (gms/benchmarks/*.cc):

  north rule     pagerank | components | labelprop | triangles |
                 triangles_vertex
                 (pagerank --weighted uses the input's weight column:
                 weight/out-strength transition probabilities)
  traversal      bfs | bfs_do | sssp | sssp_delta | betweenness
                 (--source, --bc-samples;
                 sssp uses the input's weight column or deterministic
                 inserted weights, GAPBS-style)
  orderings      coreness | degeneracy
  mining         kclique | kclique_star | mce | subiso_square   (--k)
  coloring       coloring (--variant jp_random|jp_lf|jp_sl|johansson|barenboim|elkin)
  similarity     vertex_similarity | link_prediction   (--metric, --topq)

A checkpoint dir makes the superstep kernels resumable (kill → relaunch
with the same --run-id continues from the last committed superstep).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--kernel", required=True,
                   choices=["pagerank", "components", "labelprop", "triangles", "triangles_vertex",
                            "bfs", "bfs_do", "sssp", "sssp_delta", "betweenness", "coreness", "degeneracy",
                            "kclique", "kclique_star", "mce", "subiso_square", "coloring",
                            "vertex_similarity", "link_prediction"])
    p.add_argument("--input", required=True, help="edge table (.parquet/.el/.wel/.gr/.mtx/.graph)")
    p.add_argument("--pages", action="store_true", help="input is a pages table; extract links first")
    p.add_argument("--output", default=None, help="result parquet dir")
    p.add_argument("--checkpoint", default=None, help="TableIO root for superstep checkpoints + lineage")
    p.add_argument("--run-id", default=None)
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--iters", type=int, default=100)
    p.add_argument("--lp-iters", type=int, default=5)
    p.add_argument("--no-symmetrize", action="store_true")
    p.add_argument("--hub-salt", type=int, default=None, metavar="K",
                   help="degree-aware hub splitting for pagerank/components/labelprop: "
                        "split destinations with in-degree > K into ceil(indeg/K) salt "
                        "buckets (two-stage gather; see graph/skew.py)")
    p.add_argument("--start-scores", default=None, metavar="PATH",
                   help="pagerank: warm-start from a previous run's (vertex, score) "
                        "parquet — same fixpoint, fewer supersteps after a small "
                        "graph delta (evolving-crawl reruns)")
    p.add_argument("--weighted", action="store_true",
                   help="pagerank: use the input's weight column (weight/out-strength "
                        "transition probabilities); symmetrization keeps the min weight "
                        "per undirected edge, like sssp")
    p.add_argument("--source", type=int, default=0, help="bfs/bfs_do/sssp source vertex")
    p.add_argument("--k", type=int, default=4, help="clique size for kclique/kclique_star")
    p.add_argument("--bc-samples", type=int, default=0, help="betweenness: 0 = exact, else sample count")
    p.add_argument("--variant", default="jp_random",
                   choices=["jp_random", "jp_lf", "jp_sl", "johansson", "barenboim", "elkin"], help="coloring variant")
    p.add_argument("--metric", default="adamic_adar", help="link_prediction similarity metric")
    p.add_argument("--topq", type=int, default=20, help="link_prediction top-q")
    args = p.parse_args(argv)

    # pagerank-only flags: fail loudly rather than silently ignore —
    # a components run "warm-started" with --start-scores is an operator
    # mistake that must not pass unnoticed.
    if args.kernel != "pagerank":
        for flag, val in (("--start-scores", args.start_scores), ("--weighted", args.weighted)):
            if val:
                raise SystemExit(f"{flag} is only consumed by --kernel pagerank (got {args.kernel})")

    from gms_spark.session import get_spark

    spark = get_spark(f"gms-{args.kernel}")

    from gms_spark.graph.build import build_undirected, edges_from_pages
    from gms_spark.io.readers import read_edge_list
    from gms_spark.io.tableio import TableIO

    if args.pages:
        _, edges = edges_from_pages(spark.read.parquet(args.input))
    elif args.input.rsplit(".", 1)[-1].lower() in ("el", "wel", "gr", "mtx", "graph"):
        edges = read_edge_list(spark, args.input)
    else:  # parquet file or directory
        edges = spark.read.parquet(args.input)
    keep = [c for c in ("src", "dst", "weight") if c in edges.columns]
    edges = edges.select(*keep)

    plain = edges.select("src", "dst")
    graph = plain if args.no_symmetrize else build_undirected(plain)
    io = TableIO(args.checkpoint) if args.checkpoint else None
    t0 = time.time()

    def weighted_graph():
        """Weighted edge table, symmetrized keeping the min weight per
        undirected edge (the .wel convention the sssp path uses)."""
        w = edges.select("src", "dst", "weight")
        if args.no_symmetrize:
            return w
        return (
            w.unionAll(w.select(w.dst.alias("src"), w.src.alias("dst"), "weight"))
            .groupBy("src", "dst").min("weight").withColumnRenamed("min(weight)", "weight")
        )

    if args.kernel == "pagerank":
        from gms_spark.graph.pagerank import pagerank

        if args.weighted and "weight" not in edges.columns:
            raise SystemExit("--weighted requires a weight column (.wel or weighted parquet)")
        seed_scores = spark.read.parquet(args.start_scores) if args.start_scores else None
        res = pagerank(weighted_graph() if args.weighted else graph,
                       tol=args.tol, max_iters=args.iters, io=io, run_id=args.run_id,
                       hub_salt_threshold=args.hub_salt, start_scores=seed_scores)
        out, iters = res.scores, res.iterations
    elif args.kernel == "components":
        from gms_spark.graph.components import connected_components

        res = connected_components(graph, max_iters=args.iters, io=io, run_id=args.run_id,
                                   hub_salt_threshold=args.hub_salt)
        out, iters = res.components, res.iterations
    elif args.kernel == "labelprop":
        from gms_spark.graph.labelprop import label_propagation

        res = label_propagation(graph, iters=args.lp_iters, io=io, run_id=args.run_id,
                                hub_salt_threshold=args.hub_salt)
        out, iters = res.labels, res.iterations
    elif args.kernel == "triangles":
        from gms_spark.graph.triangles import triangle_count_total

        t = triangle_count_total(graph)
        out, iters = spark.createDataFrame([(t,)], "triangles long"), 1
    elif args.kernel == "triangles_vertex":
        from gms_spark.graph.triangles import triangle_count_per_vertex

        out, iters = triangle_count_per_vertex(graph), 1
    elif args.kernel in ("bfs", "bfs_do"):
        from gms_spark.graph.traversal import bfs, bfs_direction_optimizing

        fn = bfs_direction_optimizing if args.kernel == "bfs_do" else bfs
        out = fn(graph, args.source, max_iters=args.iters)
        iters = out.agg({"dist": "max"}).first()[0] or 0
    elif args.kernel in ("sssp", "sssp_delta"):
        from gms_spark.graph.traversal import sssp, sssp_delta_stepping

        if "weight" in edges.columns:  # .wel / weighted parquet
            wgraph = weighted_graph()
        else:  # GAPBS-style deterministic weight insertion on the built graph
            from gms_spark.graph.generators import insert_weights

            wgraph = insert_weights(graph)
        if args.kernel == "sssp_delta":
            out = sssp_delta_stepping(wgraph, args.source)
        else:
            out = sssp(wgraph, args.source, max_iters=args.iters)
        iters = 0
    elif args.kernel == "betweenness":
        from gms_spark.graph.betweenness import betweenness_centrality

        sources = None
        if args.bc_samples:
            from gms_spark.graph.build import vertices as _verts

            sources = [
                int(r["vertex"])
                for r in _verts(graph).orderBy("vertex").limit(args.bc_samples).collect()
            ]
        out, iters = betweenness_centrality(graph, sources=sources), 1
    elif args.kernel == "coreness":
        from gms_spark.graph.orderings import coreness_hindex

        out, rounds = coreness_hindex(graph, return_rounds=True)
        iters = rounds
    elif args.kernel == "degeneracy":
        from gms_spark.graph.orderings import degeneracy_order

        out = degeneracy_order(graph)
        iters = int(out.agg({"core": "max"}).first()[0] or 0)  # = degeneracy
    elif args.kernel == "kclique":
        from gms_spark.graph.kclique import kclique_count

        c = kclique_count(graph, args.k)
        out, iters = spark.createDataFrame([(args.k, c)], "k long, cliques long"), 1
    elif args.kernel == "kclique_star":
        from gms_spark.graph.kclique import kclique_star_list

        out, iters = kclique_star_list(graph, args.k), 1
    elif args.kernel == "mce":
        from gms_spark.graph.mce import maximal_cliques

        out, iters = maximal_cliques(graph), 1
    elif args.kernel == "subiso_square":
        from gms_spark.graph.subiso import subgraph_match

        out, iters = subgraph_match(graph, [(0, 1), (1, 2), (2, 3), (3, 0)]), 1
    elif args.kernel == "coloring":
        from gms_spark.graph import coloring as col

        res = {"jp_random": col.jp_random, "jp_lf": col.jp_lf, "jp_sl": col.jp_sl,
               "johansson": col.johansson, "barenboim": col.barenboim,
               "elkin": col.elkin}[args.variant](graph)
        out, iters = res.colors, res.rounds
    elif args.kernel == "vertex_similarity":
        from gms_spark.graph.similarity import vertex_similarity

        out, iters = vertex_similarity(graph), 1
    else:  # link_prediction
        from gms_spark.graph.similarity import link_prediction_topq

        out, iters = link_prediction_topq(graph, q=args.topq, metric=args.metric), 1

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = out.count()
        out.show(20, truncate=False)
    print(f"@@@ kernel={args.kernel} rows={n} iterations={iters} wall_s={time.time()-t0:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

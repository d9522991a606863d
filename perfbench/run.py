"""gms_spark benchmark: one workload, one seed, one Spark session per run.

    python3 perfbench/run.py --workload crawl_pagerank --seed 1 --seconds 15 --trace 0

Run from the repository root. The run pins its own environment: Spark at
``local[nproc]`` with 2 x nproc shuffle partitions and a 1 GiB driver, and
every file Spark or the workload writes under one temporary directory in
``.perfbench/`` that is deleted when the run ends. It sets the workload up
``SETUPS`` times, then repeats the timed section as often as fits in
``--seconds`` by the workload's own estimate of one iteration. It checks
every output outside the timed section and prints one JSON object as the
last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs each engine call under its own
Spark job group and reports the per-layer metrics instead, writing the
spans to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

import checks
import tracing
from workloads import WORKLOADS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
DRIVER_MEM = "1g"


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def start_spark(tmp: str, cores: int):
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=tmp,
        GMS_SPARK_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    )
    from gms_spark.session import get_spark

    spark = get_spark(
        "gms_spark-perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def end_to_end(tr, iters: list[dict], rss: float) -> dict:
    setup = median(s.seconds for s in tr.top_level() if s.name != "session.get_spark")
    return {
        "setup_s": (tr.top_level("session.get_spark")[0].seconds + setup, "s"),
        "wall_s": (median(i["wall_s"] for i in iters), "s"),
        "pagerank_s": (median(i["pagerank_s"] for i in iters), "s"),
        "pagerank_edges_per_s": (median(i["pagerank_edges_per_s"] for i in iters), "edges/s"),
        "rss_mb": (rss / 2**20, "MB"),
    }


# (metric prefix, spans summed, counters reported) per layer called in the
# timed section: seconds are medians over iterations, counters come from
# the last iteration; None sums the whole iteration
SPAN_LAYERS = [
    ("build.edges_from_pages_", {"build.edges_from_pages"}, ("jobs", "stages", "shuffle_write_bytes")),
    ("build.build_undirected_", {"build.build_undirected"}, ()),
    ("pagerank.", {"pagerank", "pagerank.resume"}, ("jobs", "stages", "tasks", "shuffle_write_bytes")),
    ("pagerank.resume_", {"pagerank.resume"}, ()),
    ("components.", {"components"}, ("jobs", "stages", "shuffle_write_bytes")),
    ("labelprop.", {"labelprop"}, ("jobs", "stages", "shuffle_write_bytes")),
    ("triangles.", {"triangles"}, ("jobs", "stages", "shuffle_write_bytes")),
    ("spark.", None, ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")),
]
SETUP_LAYERS = ["session.get_spark", "synth.pages_write", "generators.rmat_stage"]
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
# per-iteration integers the workloads record, and the layer metric each feeds
OUT_COUNTS = {
    "build.url_dict_rows": ("url_dict_rows", "count"),
    "build.edges_rows": ("m", "count"),
    "pagerank.supersteps": ("supersteps", "count"),
    "components.rounds": ("rounds", "count"),
    "tableio.snapshots": ("snapshots", "count"),
    "tableio.bytes_written": ("bytes_written", "bytes"),
    "tableio.lineage_rows": ("lineage_rows", "count"),
    "superstep.iterations": ("iterate_supersteps", "count"),
}
PROBES = {
    "extract.pages_per_s": "pages/s",
    "setops.batch_intersect_s": "s",
    "setops.pairs": "count",
    "setops.matches": "count",
}


def per_layer(tr, iters: list[dict], probes: dict) -> dict:
    """Layer metrics of a traced run; a layer the workload never called reads 0."""

    def calls(it: dict, names) -> list:
        if names is None:  # jobs run outside any call count too
            return [it["span"], *tr.children(it["span"])]
        return [s for s in tr.children(it["span"]) if s.name in names]

    m: dict[str, tuple] = {}
    for name in SETUP_LAYERS:
        spans = tr.top_level(name)
        m[name + "_s"] = (median(s.seconds for s in spans) if spans else 0.0, "s")
    last = iters[-1]
    for prefix, names, counters in SPAN_LAYERS:
        if names is not None:
            m[prefix + "s"] = (median(sum(s.seconds for s in calls(it, names)) for it in iters), "s")
        for c in counters:
            m[prefix + c] = (sum(s.counters[c] for s in calls(last, names)), UNITS[c])
    for name, (key, u) in OUT_COUNTS.items():
        m[name] = (last["out"].get(key, 0), u)
    steps = last["out"].get("iterate_supersteps", 0)
    m["superstep.s_per_iteration"] = (median(i["wall_s"] for i in iters) / steps if steps else 0.0, "s")
    for name, u in PROBES.items():
        m[name] = (probes.get(name, 0), u)
    m["trace.wall_s"] = (median(i["wall_s"] for i in iters), "s")
    return m


def measure(args, tmp: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with tracing.RssSampler() as rss:
        t = time.perf_counter()
        spark = start_spark(tmp, cores)
        tr = tracing.Tracer(spark, enabled=bool(args.trace))
        tr.record("session.get_spark", t, time.perf_counter())
        try:
            wl = WORKLOADS[args.workload](spark, tmp, args.seed)
            for _ in range(SETUPS):
                with tr.span(wl.setup_layer):
                    wl.setup()
            print("set-up: " + ", ".join(f"{s.name} {s.seconds:.2f}s" for s in tr.top_level()), file=sys.stderr)
            wl.prepare()
            iters: list[dict] = []
            attempted = failed = 0
            for _ in range(max(1, round(args.seconds / wl.iteration_s))):
                with tr.span("iteration") as it:
                    out = wl.run(tr)
                results = wl.check(out)
                attempted += len(results)
                for call, err in results:
                    if err is not None:
                        failed += 1
                        print(f"check failed: {call}: {err}", file=sys.stderr)
                pr_s = sum(s.seconds for s in tr.children(it) if s.name.startswith("pagerank"))
                iters.append({
                    "span": it, "wall_s": it.seconds, "pagerank_s": pr_s,
                    "pagerank_edges_per_s": out["m"] * out["supersteps"] / pr_s,
                    "out": {k: v for k, v in out.items() if isinstance(v, int)},
                })
                print(f"iteration {len(iters)}: wall {it.seconds:.2f}s, pagerank {pr_s:.2f}s", file=sys.stderr)
                corrupted = wl.corrupted(out)
                wl.cleanup(out)
                # unreferenced checkpoints are reclaimed by Spark's cleaner
                # on garbage collection: start every iteration from the same state
                del out
                gc.collect()
            accepted = checks.self_test(corrupted)
            for name in accepted:
                print(f"self-test failed: the checker accepted a {name}", file=sys.stderr)
            if args.trace:
                metrics = per_layer(tr, iters, wl.probes())
            else:
                metrics = end_to_end(tr, iters, rss.median_between(iters[0]["span"].start, iters[-1]["span"].end))
        finally:
            stop_spark(spark)
    if args.trace:
        write_trace(args, tr, metrics)
    return {
        "correct": failed == 0 and not accepted,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def write_trace(args, tr, metrics: dict) -> None:
    d = os.path.join(REPO, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tr.to_json(),
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f, indent=1)


def main() -> int:
    args = parse_args()
    sys.path.insert(0, REPO)
    if importlib.util.find_spec("gms_spark") is None:
        print("perfbench: the gms_spark package is not beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    tmp = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        result = measure(args, tmp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

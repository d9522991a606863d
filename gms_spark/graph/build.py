"""Graph construction / preprocessing as declarative DataFrame plans.

Re-expresses the reference's builder dataflow
(gms/third_party/gapbs/builder.h) Spark-first:

  SquishGraph (builder.h:206-251)    -> squish(): filter + dropDuplicates
  symmetrize (builder.h:271-275)     -> symmetrize(): union of reversed
  CountDegrees (builder.h:145-152)   -> degrees(): groupBy().count()
  FindMaxNodeId (builder.h:108-116)  -> explicit vertex dictionary instead
  RelabelByDegree (builder.h:1697-1730) -> assign_dense_ids by degree desc
  InduceDirectedGraph / DAGify
    (gms/algorithms/preprocessing/sequential/apply_order.h:10-35)
                                     -> orient_by_rank(): join rank + filter

There is deliberately NO global CSR: adjacency() produces sorted
neighbor arrays per vertex (the SetGraph analog,
gms/representations/graphs/set_graph.h:10-233), which Arrow hands to
numpy kernels as zero-copy batches. Catalyst prunes/pushes everything
else.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gms_spark.extract import extract_pages


def squish(edges: DataFrame) -> DataFrame:
    """Drop self-loops and parallel edges (SquishGraph, builder.h:206-251)."""
    return edges.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirect: emit both directions (builder.h:271-275)."""
    return edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def build_undirected(edges: DataFrame) -> DataFrame:
    """Canonical simple undirected graph: symmetrized, deduped, loop-free.

    This is the default ingest the reference applies to every benchmark
    graph (CLI default-symmetrize, gms/common/cli/cli.h:99-108).
    """
    return squish(symmetrize(edges))


def stage_edges(df: DataFrame) -> DataFrame:
    """Materialize an edge table that per-superstep kernels re-scan.

    Every iterative kernel joins its edge input once per round (plus
    several preamble actions); a LAZY plan (parquet scan → extraction →
    symmetrize) would re-execute upstream per action. ``localCheckpoint``
    — NOT ``persist`` — is deliberate for this table: the columnar
    in-memory cache pays compression on build and decompression on
    every round's scan (measured ~1.6× slower per CC round at sf0.1),
    while checkpoint blocks deserialize fast. Edges are re-joined
    against a broadcast or reshuffled state anyway, so only scan speed
    matters. A caller-persisted or already-checkpointed input (a bare
    checkpoint, not a frame derived from one) is returned unchanged:
    copying it again buys nothing. Checkpoint blocks are reclaimed by
    the ContextCleaner once the frame is unreferenced; on a real cluster
    a durable TableIO snapshot plays this role instead.
    """
    if df.is_cached or _is_checkpointed(df):
        return df
    return df.localCheckpoint(eager=True)


def _is_checkpointed(df: DataFrame) -> bool:
    """True when ``df`` is a materialized (local) checkpoint itself: its
    analyzed plan is a LogicalRDD over a checkpointed RDD. A frame built
    from a plain RDD is a LogicalRDD too, but its RDD is not checkpointed."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed()


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing at either endpoint."""
    return (
        edges.select(F.col("src").alias("vertex"))
        .unionAll(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Out-degree per src (== degree on a symmetrized graph).

    CountDegrees (builder.h:145-152) as one partial-aggregated groupBy.
    """
    return edges.groupBy(F.col("src").alias("vertex")).agg(F.count("*").alias("degree"))


def in_degrees(edges: DataFrame) -> DataFrame:
    """In-degree per dst — the inverse-graph degree surface a directed
    CSR carries in the reference (gapbs/graph.h:265-268 in_degree /
    in_neigh; builder.h:279-297 builds the inverse image). On a
    symmetrized graph this equals ``degrees``."""
    return edges.groupBy(F.col("dst").alias("vertex")).agg(F.count("*").alias("in_degree"))


def in_adjacency(edges: DataFrame) -> DataFrame:
    """in_adj(dst, in_neigh: sorted array<long>) — inverse neighborhoods
    (graph.h:265-268 semantics). Same hub caveat as ``adjacency``:
    orient by rank before iterating pairs."""
    return edges.groupBy("dst").agg(F.sort_array(F.collect_set("src")).alias("in_neigh"))


def adjacency(edges: DataFrame) -> DataFrame:
    """adj(src, neigh: sorted array<long>) — the SetGraph analog.

    Sorted arrays keep every set operation a linear merge (mirrors the
    reference's sorted-vector set, gms/representations/sets/sorted_set.h).
    Hubs produce large arrays; callers that iterate pairs must orient by
    degree rank first (orient_by_rank) so array length is bounded by the
    graph's degeneracy, not its max degree — that, not AQE, is the real
    skew control for mining kernels.
    """
    return edges.groupBy("src").agg(F.sort_array(F.collect_set("dst")).alias("neigh"))


def degree_rank(edges: DataFrame, descending: bool = False) -> DataFrame:
    """rank(vertex, rank): dense rank by (degree, vertex id) tie-break.

    Ascending (default) is the mining orientation (low-degree first, as
    in degree ordering gms/algorithms/preprocessing/parallel/degree.h:16-22);
    descending mirrors RelabelByDegree (builder.h:1697-1730).
    """
    deg = vertices(edges).join(degrees(edges), "vertex", "left").fillna(0, ["degree"])
    order = [F.col("degree").desc() if descending else F.col("degree").asc(), F.col("vertex").asc()]
    return assign_dense_ids(deg, order).select("vertex", F.col("id").alias("rank"))


def orient_by_rank(edges: DataFrame, rank: DataFrame) -> DataFrame:
    """DAGify: keep (u,v) iff rank[u] < rank[v], remapped to rank space.

    The single most important mining optimization in the reference
    (apply_order.h:10-35, builder.h:1662-1694): bounds oriented
    out-degree by the degeneracy, making hub intersections cheap.
    Output edges are in RANK space (src/dst are ranks) so downstream
    neighborhoods stay sorted and compact.
    """
    r_src = rank.select(F.col("vertex").alias("src"), F.col("rank").alias("rank_src"))
    r_dst = rank.select(F.col("vertex").alias("dst"), F.col("rank").alias("rank_dst"))
    # Join strategy is left to AQE: rank tables broadcast when small,
    # shuffle-hash when not (10^12-vertex dictionaries obviously shuffle).
    return (
        edges.join(r_src, "src")
        .join(r_dst, "dst")
        .where(F.col("rank_src") < F.col("rank_dst"))
        .select(F.col("rank_src").alias("src"), F.col("rank_dst").alias("dst"))
    )


def assign_dense_ids(df: DataFrame, order_cols: list, id_col: str = "id", num_partitions: int | None = None) -> DataFrame:
    """Dense ids 0..n-1 in the global order of ``order_cols`` — scalably.

    ``row_number() OVER (ORDER BY ...)`` funnels everything through ONE
    partition; this is the distributed equivalent: range-repartition on
    the order (parallel range sort, same machinery as orderBy), count per
    partition, broadcast the tiny offset map, then add offset + local
    position inside an Arrow batch. O(n/p) per task, no driver data.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged = ranged.persist()
    counts = {int(r["_pid"]): int(r["cnt"]) for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = ranged.drop("_pid").schema.add(id_col, "long")

    def add_ids(iterator):
        # One partition = one or more Arrow batches of one _pid; rows are
        # already sorted. Track local position across batches.
        pos = 0
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            base = b_offsets.value[int(pdf["_pid"].iloc[0])]
            out = pdf.drop(columns=["_pid"]).copy()
            out[id_col] = range(base + pos, base + pos + len(pdf))
            pos += len(pdf)
            yield out

    # Materialized EAGERLY before returning — load-bearing for
    # correctness, not a performance nicety: repartitionByRange samples
    # its range boundaries with a per-execution random seed, so any
    # consumer plan that re-evaluates this subtree (a frame referenced
    # on both sides of a join, a cache-bypassing branch, a retried
    # stage) would re-draw boundaries and assign DIFFERENT ids than a
    # sibling branch — ids stay bijective per evaluation, so the
    # corruption is silent (measured: a dedup verify join whose two
    # sides disagreed on the dictionary). The checkpoint pins one
    # evaluation; downstream can only scan it (a lost block fails
    # loudly instead of resampling).
    out = ranged.mapInPandas(add_ids, out_schema).localCheckpoint(eager=True)
    ranged.unpersist()
    return out


def dense_rank_ids(
    df: DataFrame, key: str, id_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """Dense ids 0..V-1 of ``key``'s DISTINCT values in ascending order,
    attached to EVERY row (== dense_rank() OVER (ORDER BY key) - 1) —
    scalably, like assign_dense_ids but for tables WITH duplicates.

    assign_dense_ids + join-back would pay a distinct exchange over the
    key universe PLUS a key-typed (often string) join against the full
    table; this computes the same ids in one range shuffle: range-
    repartition on the key (equal keys provably co-locate — the range
    partitioner assigns by boundary comparison), per-partition DISTINCT
    counts (a small aggregate), broadcast offsets, then per-partition
    factorize inside an Arrow batch. O(rows/p) per task, no driver data.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(num_partitions, F.col(key).asc())
        .sortWithinPartitions(F.col(key).asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged = ranged.persist()
    counts = {
        int(r["_pid"]): int(r["cnt"])
        for r in ranged.groupBy("_pid").agg(F.countDistinct(key).alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)
    out_schema = ranged.drop("_pid").schema.add(id_col, "long")

    def add_ids(iterator):
        # One partition = batches of one _pid, rows sorted by key. Track
        # the running distinct count across batches (keys may span batch
        # boundaries).
        import pandas as pd

        base = None
        prev_last = None
        seen = 0
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            if base is None:
                base = b_offsets.value[int(pdf["_pid"].iloc[0])]
            keys = pdf[key]
            codes, uniques = pd.factorize(keys, sort=False)  # sorted input → codes ascending
            start = seen
            if prev_last is not None and len(uniques) and uniques[0] == prev_last:
                start -= 1  # first key continues the previous batch's run
            out = pdf.drop(columns=["_pid"]).copy()
            out[id_col] = codes + (base + start)
            seen = start + len(uniques)
            prev_last = keys.iloc[-1]
            yield out

    # Eager checkpoint: same load-bearing barrier as assign_dense_ids —
    # the range sampling is per-execution random, so the one evaluation
    # made here must be the only one consumers can ever see.
    out = ranged.mapInPandas(add_ids, out_schema).localCheckpoint(eager=True)
    ranged.unpersist()
    return out


def edges_from_pages(pages: DataFrame, keep_external: bool = False) -> tuple[DataFrame, DataFrame]:
    """pages -> (url_dict(url, id), edges(src, dst)) in long-id space.

    Pipeline: Arrow-batched href extraction -> explode -> (optionally)
    restrict to known urls -> degree-DESCENDING dense url dictionary
    (RelabelByDegree semantics, builder.h:1697-1730: hubs get small ids,
    keeping hot neighborhoods compact in Arrow batches) -> long edges.
    """
    # materialize the COMPACT extraction output (url + hrefs, no html)
    # exactly once: the url dictionary, the degree table and the edge
    # join all re-derive from it, and without this the whole upstream
    # chain (page synthesis/scan + extraction) re-executes per consumer
    # (measured 2×-3× on the pages pipeline). On a real cluster this is
    # the natural Iceberg staging table between extraction and graph
    # build; localCheckpoint is its sandbox analog.
    ex = extract_pages(pages).select("url", "hrefs").localCheckpoint(eager=True)
    links = ex.select(F.col("url").alias("src_url"), F.explode("hrefs").alias("dst_url"))
    urls = ex.select("url")
    if not keep_external:
        links = links.join(urls.withColumnRenamed("url", "dst_url"), "dst_url", "left_semi")

    deg = (
        links.select(F.col("src_url").alias("url"))
        .unionAll(links.select(F.col("dst_url").alias("url")))
        .groupBy("url")
        .agg(F.count("*").alias("degree"))
    )
    # staged: assign_dense_ids' range repartition samples its child
    # before exchanging it — unstaged, the degree join would execute
    # once per pass
    all_urls = urls.join(deg, "url", "left").fillna(0, ["degree"]).localCheckpoint(eager=True)
    # the edge join consumes the dictionary TWICE (src and dst side);
    # assign_dense_ids returns an eager checkpoint, so both sides (and
    # any caller using url_dict itself) scan its one materialization
    url_dict = assign_dense_ids(all_urls, [F.col("degree").desc(), F.col("url").asc()]).select("url", "id")

    e = (
        links.join(url_dict.withColumnRenamed("url", "src_url").withColumnRenamed("id", "src"), "src_url")
        .join(url_dict.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst"), "dst_url")
        .select("src", "dst")
    )
    return url_dict, e


def collapse_vertices(
    edges: DataFrame, mapping: DataFrame, drop_self_loops: bool = True
) -> DataFrame:
    """Graph coarsening: relabel both endpoints through ``mapping``
    (vertex, group) and aggregate parallel edges into integer weights —
    the page-graph → host-graph rollup of a web crawl, and the generic
    contraction step of any multilevel graph pipeline.

    Returns (src, dst, weight: long) over group ids, self-loops
    (intra-group edges) dropped unless asked for. Inner-join semantics:
    an edge whose endpoint is missing from the mapping is DROPPED —
    callers rolling up a graph whose vertex set may exceed the mapping
    must decide explicitly (left-join a default group) rather than get
    silent partial coverage. Scale shape: two
    equi-joins against the mapping (|V| rows — broadcast when small,
    shuffled-hash otherwise; AQE decides) followed by ONE partial-agg
    exchange on the collapsed keys: a hub host's parallel-edge fan-in
    is pre-combined map-side like every count in the engine.
    """
    m_src = mapping.select(F.col("vertex").alias("src"), F.col("group").alias("_gsrc"))
    m_dst = mapping.select(F.col("vertex").alias("dst"), F.col("group").alias("_gdst"))
    # Weight-preserving: a second-level rollup (hosts → domains) of an
    # already-collapsed graph must SUM the existing edge weights, not
    # re-count parallel edges (which would reset every weight to 1).
    agg = F.sum("weight").alias("weight") if "weight" in edges.columns else F.count("*").alias("weight")
    out = (
        edges.join(m_src, "src")
        .join(m_dst, "dst")
        .groupBy(F.col("_gsrc").alias("src"), F.col("_gdst").alias("dst"))
        .agg(agg)
    )
    if drop_self_loops:
        out = out.where(F.col("src") != F.col("dst"))
    return out

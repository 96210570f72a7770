"""Connected components over candidate-pair graphs — the cluster-resolve
step every dedup family needs after pair generation (MinHash-LSH, SimHash
banding, embedding blocking all emit PAIRS; keeping one document per
duplicate GROUP requires the transitive closure of those pairs).

Scale design
------------
Min-label propagation with pointer jumping (label doubling): each
iteration (a) takes the min label over a node's neighborhood-plus-self,
then (b) replaces every label by its label's label. Step (b) halves the
distance to the component minimum each round, so convergence is
O(log(diameter)) iterations rather than O(diameter) — the same idea as
the two-phase large-star/small-star map-reduce algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14).

Each iteration is two shuffles over the EDGE/LABEL tables only — and the
input here is the candidate-pair graph, which at corpus scale is orders
of magnitude smaller than the corpus itself (pairs exist only where
near-duplicate buckets collided; 100 TB of text yields a pair table that
fits comfortably in a few executors).

Lineage: the pointer-jump is a SELF-join, so chaining iterations in one
logical plan DOUBLES the plan every round — exponential Catalyst
analysis cost (measured: a 200-node chain never finishes analysis by
iteration ~8). Each round therefore checkpoints the label table through
a parquet round-trip (the reliable-checkpoint pattern every iterative
Spark algorithm uses — GraphX Pregel does the same on an interval): the
per-iteration plan is then a constant-size join between the persisted
edge table and a parquet scan, and the written table is 2 longs per
candidate node. The previous round's files are deleted as soon as the
next round lands; the FINAL table backs the returned DataFrame, so the
work dir outlives the call (callers pass ``work_dir`` to control
placement/cleanup; the default lives under the system temp dir).

Determinism: the component id is the MINIMUM member id — a pure function
of the graph, independent of partitioning, iteration order, and cluster
size. The DuckDB differential oracle computes the same fixpoint with a
recursive CTE (transitive closure -> min reachable id), i.e. a completely
different algorithm on a different engine.

The reference has no graph or dedup surface at all (its per-row Lambda
transform, transformation_function/app.py:112-148, maps log lines
independently); this module is part of the LLM-training-pipeline
extension mandated by the north rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import persist_tracked

__all__ = ["connected_components", "dedup_clusters", "pagerank", "tree_paths"]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 25,
    work_dir: str | None = None,
) -> DataFrame:
    """Resolve ``edges`` into components: (node, component) where
    ``component`` is the minimum node id reachable from ``node``.

    Only nodes that appear in at least one edge are returned (callers
    left-join singletons back and default ``component`` to the node id —
    see :func:`dedup_clusters`). Raises ``RuntimeError`` if the fixpoint
    is not reached within ``max_iters`` pointer-jumping rounds (bound is
    log2(longest path); 25 covers any graph with < 2^25-hop chains).
    """
    import shutil
    import tempfile

    spark = edges.sparkSession
    root = work_dir or tempfile.mkdtemp(prefix="spark_graft_cc_")
    sym = persist_tracked(
        edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        .union(edges.select(F.col(dst).alias("n"), F.col(src).alias("m")))
        .distinct()
    )
    labels = persist_tracked(
        sym.select("n").distinct().select("n", F.col("n").alias("component"))
    )
    labels.count()
    prev_path: str | None = None

    from pyspark.sql import Observation

    for it in range(max_iters):
        # (a) min label over self + neighborhood
        nbr = sym.alias("e").join(
            labels.alias("l"), F.col("e.m") == F.col("l.n")
        ).select(F.col("e.n").alias("n"), F.col("l.component").alias("cand"))
        mins = (
            nbr.union(labels.select("n", F.col("component").alias("cand")))
            .groupBy("n")
            .agg(F.min("cand").alias("component"))
        )
        # (b) pointer jump: component <- component's component. Checkpoint
        # through parquet: the self-join would otherwise double the
        # logical plan every iteration (exponential analysis cost).
        jumped = (
            mins.alias("a")
            .join(
                mins.alias("b"),
                F.col("a.component") == F.col("b.n"),
                "left",
            )
            .select(
                F.col("a.n").alias("n"),
                F.coalesce(F.col("b.component"), F.col("a.component")).alias(
                    "component"
                ),
            )
        )
        # The convergence check rides the SAME job as the checkpoint write:
        # join the previous label back on and observe the changed-row count
        # during the parquet write — one Spark job per round instead of two
        # (write + a separate count job), which halves the per-round fixed
        # cost that dominates when the pair graph is small.
        obs = Observation()
        staged = (
            jumped.join(
                labels.select("n", F.col("component").alias("__old")), "n"
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("__old")).cast("long")
                ).alias("changed"),
            )
            .select("n", "component")
        )
        path = f"{root}/iter{it}"
        staged.write.mode("overwrite").parquet(path)
        changed = int(obs.get["changed"] or 0)
        new_labels = spark.read.parquet(path)
        labels.unpersist()
        if prev_path is not None:
            shutil.rmtree(prev_path, ignore_errors=True)
        prev_path = path
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} iterations"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster assignment for every document: (id, cluster_id, keep).

    ``cluster_id`` is the smallest doc id in the document's near-duplicate
    component (its own id for singletons); ``keep`` marks the canonical
    representative — exactly one true per cluster, so
    ``filter(keep)`` IS the deduplicated corpus. The docs side is only a
    projection + one left join against the (tiny) component table, which
    Spark broadcasts when it fits."""
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        docs.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("n"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", (F.col(id_col) == F.col("cluster_id")))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    work_dir: str | None = None,
) -> DataFrame:
    """Weighted damped PageRank after a FIXED number of power iterations:
    ``(node, rank)`` over the vertex set of ``edges`` (ranks sum to 1).

    The graph here is a DERIVED table (domain/source link graph, dedup
    pair graph, event-transition graph), orders of magnitude smaller than
    the corpus that produced it — the same regime as
    :func:`connected_components`. Per iteration: one join of the rank
    table to the out-normalized edge table + one dst-keyed sum (both
    shuffles carry graph-sized data only), dangling mass folded back
    uniformly via a broadcast scalar. Fixed iteration count keeps the
    result a pure function of the graph (no float-convergence test that
    could flip across partitionings), and each round checkpoints through
    parquet for the same exponential-lineage reason documented on
    connected_components. |V| is the one driver-side scalar (bounded by
    the derived graph, like CC's convergence count).

    Dangling redistribution follows the standard formulation:
    ``r'(v) = (1-d)/N + d * (sum_{u->v} r(u) * w(u,v)/outw(u) + dm/N)``
    with ``dm`` the total rank mass on nodes without out-edges.

    Checkpoint strategy: intermediate rounds use eager localCheckpoint
    (the rank table is referenced twice per round — contributions and
    dangling mass — so a lazy chain doubles the plan every iteration);
    only the FINAL table goes through one parquet round-trip, so the
    returned frame is not backed by checkpoint blocks and every
    intermediate RDD is released before returning (the same no-leaked-RDD
    contract as similarity.ann_kmeans).
    """
    import tempfile

    from .similarity import _release_local_checkpoint

    spark = edges.sparkSession
    root = work_dir or tempfile.mkdtemp(prefix="spark_graft_pr_")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w"))
    verts = persist_tracked(
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        # empty graph -> empty rank table (an empty event stream derives
        # an empty transition graph; 1/N below would divide by zero)
        return verts.select(
            F.col("n").alias("node"), F.lit(0.0).alias("rank")
        )
    outw = e.groupBy("u").agg(F.sum("w").alias("outw"))
    ep = persist_tracked(
        e.join(outw, "u").select(
            "u", "v", (F.col("w") / F.col("outw")).alias("p")
        )
    )
    from pyspark.sql import Window

    # dangling flag joined once onto the vertex table; per-iteration
    # dangling MASS then comes from a single-partition window over the
    # |V|-sized rank table (the sketch-sized-window pattern of
    # sketch._exact_count_pass) instead of a broadcast scalar subquery —
    # one Spark job per iteration rather than broadcast-job + compute-job.
    flagged = persist_tracked(
        verts.join(
            ep.select(F.col("u").alias("n"))
            .distinct()
            .withColumn("_out", F.lit(True)),
            "n",
            "left",
        ).select("n", F.coalesce(~F.col("_out"), F.lit(True)).alias("_dang"))
    )
    dm_w = F.sum(F.when(F.col("_dang"), F.col("rank"))).over(
        Window.partitionBy()
    )
    # Adaptive physical mode on the KNOWN vertex count: below the
    # threshold the whole graph fits one task, so pin single-partition
    # rank/contrib tables + broadcast joins — each power iteration is then
    # ONE short job instead of a multi-stage shuffle cascade (fixed
    # per-stage scheduling dominates tiny iterative plans). Above it,
    # natural partitioning + AQE take over.
    small = n < 1_000_000
    _hint = F.broadcast if small else (lambda d: d)
    _narrow = (lambda d: d.coalesce(1)) if small else (lambda d: d)
    ranks = _narrow(flagged.select("n", "_dang", F.lit(1.0 / n).alias("rank")))
    checkpoints: list[DataFrame] = []
    try:
        for it in range(iterations):
            contribs = _narrow(
                ranks.join(_hint(ep), ranks.n == ep.u)
                .groupBy("v")
                .agg(F.sum(F.col("rank") * F.col("p")).alias("c"))
            )
            new = (
                ranks.join(
                    _hint(contribs.withColumnRenamed("v", "n")), "n", "left"
                )
                .select(
                    "n",
                    "_dang",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0.0))
                            + F.coalesce(dm_w, F.lit(0.0)) / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
            )
            if it < iterations - 1:
                ranks = new.localCheckpoint(eager=True)
                checkpoints.append(ranks)
            else:
                path = f"{root}/final"
                new.write.mode("overwrite").parquet(path)
                ranks = spark.read.parquet(path)
    finally:
        verts.unpersist()
        ep.unpersist()
        flagged.unpersist()
        for h in checkpoints:
            _release_local_checkpoint(h)
    return ranks.select(F.col("n").alias("node"), "rank")


def tree_paths(
    nodes: DataFrame,
    id_col: str = "node_id",
    parent_col: str = "parent_id",
    max_iters: int = 25,
    leaves_only: bool = False,
) -> DataFrame:
    """Root-to-node path linearization over a forest of parent pointers:
    ``(node_id, root_id, depth, path)`` with ``path`` the '/'-joined id
    chain from root down to the node.

    Branching conversation trees (regenerated assistant replies, edited
    user turns) store one parent pointer per turn; training needs each
    LEAF expanded into its full linear transcript. That expansion is this
    operator plus a per-path turn join; ``leaves_only=True`` restricts
    the output to leaves (nodes never referenced as a parent) via an
    anti-join.

    Scale design: pointer DOUBLING, not step-by-step walking — the state
    per node is (ptr = deepest known ancestor's parent, acc = id chain
    strictly below ptr down to the node, root-to-leaf ordered). Each
    round joins the state to itself on ``ptr``, prepending the
    ancestor's chain and jumping the pointer, so a depth-D tree resolves
    in ceil(log2(D)) + 1 rounds of join + concat over node-count-sized
    tables. Every round localCheckpoints to stop the self-join doubling
    the logical plan (same exponential-lineage reason documented on
    :func:`connected_components`). Paths are materialized as id arrays —
    memory per row is O(depth), the inherent output size.

    Oracle shape: a recursive CTE walking one parent per step — a
    different algorithm (linear walk) on a different engine.
    """
    import tempfile

    from .similarity import _release_local_checkpoint

    spark = nodes.sparkSession
    root = tempfile.mkdtemp(prefix="spark_graft_tree_")
    state = nodes.select(
        F.col(id_col).alias("nid"),
        F.col(parent_col).alias("ptr"),
        F.array(F.col(id_col)).alias("acc"),
    ).localCheckpoint(eager=True)
    try:
        for _ in range(max_iters):
            if state.where(F.col("ptr").isNotNull()).isEmpty():
                out = state.select(
                    F.col("nid").alias(id_col),
                    F.col("acc").getItem(0).alias("root_id"),
                    (F.size("acc") - F.lit(1)).alias("depth"),
                    F.concat_ws("/", F.col("acc").cast("array<string>")).alias(
                        "path"
                    ),
                )
                if leaves_only:
                    parents = nodes.where(
                        F.col(parent_col).isNotNull()
                    ).select(F.col(parent_col).alias(id_col))
                    out = out.join(parents, id_col, "anti")
                # parquet round-trip so the returned frame outlives the
                # released checkpoint blocks (same pattern as pagerank)
                path = f"{root}/final"
                out.write.mode("overwrite").parquet(path)
                return spark.read.parquet(path)
            anc = state.select(
                F.col("nid").alias("__an"),
                F.col("ptr").alias("__aptr"),
                F.col("acc").alias("__aacc"),
            )
            nxt = (
                state.join(anc, state.ptr == F.col("__an"), "left")
                .select(
                    "nid",
                    F.when(F.col("__an").isNotNull(), F.col("__aptr"))
                    .otherwise(F.lit(None))
                    .alias("ptr"),
                    F.when(
                        F.col("__an").isNotNull(),
                        F.concat(F.col("__aacc"), F.col("acc")),
                    )
                    .otherwise(F.col("acc"))
                    .alias("acc"),
                )
                .localCheckpoint(eager=True)
            )
            _release_local_checkpoint(state)
            state = nxt
    finally:
        _release_local_checkpoint(state)
    raise RuntimeError(f"tree_paths did not converge in {max_iters} rounds")


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected graph:
    ``(node, n_triangles)`` for every node in at least one triangle.

    Scale design — degree-ordered orientation (the MapReduce triangle
    algorithm of Suri & Vassilvitskii, WWW'11): orient every canonical
    edge from its lower-``(degree, id)`` endpoint to the higher one, so
    each triangle is enumerated from exactly ONE wedge and — the part
    that matters at 100 TB — every node's out-degree is bounded by
    O(sqrt(m)), which caps the wedge table at O(m^1.5) instead of the
    Σdeg² a hub explodes under the naive formulation. Three equi-joins
    total: degree attach (×2, both sides of the edge), wedge self-join on
    the low endpoint, and the closing-edge semi-match; all hash
    partitionable, no per-node state.

    Determinism: counts are exact set functions of the edge set
    (self-loops dropped, parallel/reverse duplicates collapsed by the
    least/greatest canonicalization + distinct).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
    )
    # orient low (deg, id) -> high (deg, id); carry the head's rank key so
    # wedges can be emitted in canonical order without re-joining degrees
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    o1 = o.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = o.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = o1.join(o2, "u").where(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"])  # (u, x, y) is one triangle
    return (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    work_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph where every
    node has degree >= ``k`` (the standard "dense community / spam ring"
    extraction). Returns ``(node, core_deg)`` — each surviving node with
    its degree INSIDE the core.

    Scale design — iterative peel, the textbook distributed formulation:
    each round computes degrees (one hash aggregate over the live edge
    table), drops nodes below ``k`` (two semi-joins against the
    |strong-nodes|-sized set), and checkpoints the shrunken edge table
    through parquet (same plan-growth trade as
    :func:`connected_components`; the convergence observation rides the
    checkpoint write — one job per round). Rounds are bounded by the
    peel depth (the graph's degeneracy ordering length), typically a
    handful; the edge table only ever SHRINKS, so per-round cost is
    monotone decreasing. Deterministic: the k-core is a unique set
    (independent of peel order), so output is partitioning-independent.
    """
    import shutil
    import tempfile

    spark = edges.sparkSession
    root = work_dir or tempfile.mkdtemp(prefix="spark_graft_kcore_")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    path = f"{root}/iter_init"
    e.write.mode("overwrite").parquet(path)
    e = spark.read.parquet(path)
    prev_path = path

    from pyspark.sql import Observation

    for it in range(max_iters):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        strong = deg.where(F.col("d") >= F.lit(k)).select("n")
        kept = (
            e.join(strong.withColumnRenamed("n", "a"), "a", "semi")
            .join(strong.withColumnRenamed("n", "b"), "b", "semi")
            .select("a", "b")
        )
        # convergence rides the checkpoint write: count surviving edges
        # during the write; if none were dropped this round, we are done
        obs = Observation()
        staged = kept.observe(obs, F.count(F.lit(1)).alias("n_edges"))
        path = f"{root}/iter{it}"
        staged.write.mode("overwrite").parquet(path)
        n_after = int(obs.get["n_edges"] or 0)
        n_before = e.count()  # parquet-backed: metadata-cheap
        new_e = spark.read.parquet(path)
        shutil.rmtree(prev_path, ignore_errors=True)
        prev_path = path
        e = new_e
        if n_after == n_before:
            deg_final = (
                e.select(F.col("a").alias("node"))
                .unionAll(e.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("core_deg"))
            )
            return deg_final
        if n_after == 0:
            return spark.createDataFrame([], T.StructType([
                T.StructField("node", e.schema["a"].dataType),
                T.StructField("core_deg", T.LongType(), False),
            ]))
    raise RuntimeError(f"kcore did not converge in {max_iters} rounds")

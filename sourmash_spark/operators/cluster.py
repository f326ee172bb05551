"""Connected components over the verified-edges graph -> cluster assignments.

Reference equivalence: single-linkage clustering cut at threshold t is
exactly connected components of the graph with edges {similarity >= 1-t}
(the reference builds this with scipy hierarchy over the dense matrix,
/root/reference/src/sourmash/commands.py:416-418, src/sourmash/fig.py:52-79
— impossible at 10^12 rows).

Implementation: one collect of up to DRIVER_THRESHOLD + 1 edges; an edge
list that fits is solved on the driver (`_driver_union_find`), a larger
one by `_label_propagation`: min-label propagation with pointer-doubling
(each round v takes min(label(v), min over neighbours' labels,
label(label(v))) — the shortcut jump makes convergence O(log diameter)
rounds instead of O(diameter), so MAX_ITER = 50 rounds cover graphs of
diameter ~2**50).  Each round is two shuffles on sig_id plus one tiny
label-table self-join; intermediate results are localCheckpoint()ed to
cut the growing lineage.  GraphFrames is not assumed present.  If the
round budget is ever exhausted without convergence the function raises
rather than return silently-fragmented labels.  Both paths take minima,
so duplicate edges need no distinct() pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

DRIVER_THRESHOLD = 5_000_000  # most edges solved on the driver
MAX_ITER = 50  # label-propagation rounds before giving up


def _driver_union_find(pdf, spark, stats: dict | None = None) -> DataFrame:
    """Small-graph path over a collected edge list `pdf` (a pandas frame
    whose first two columns are the endpoints): labels every vertex with
    its component's min id on the driver.  Legitimate at any corpus size
    where the EDGE list is small — edges are O(duplicate pairs), orders of
    magnitude below the corpus — and mirrors how the reference holds its
    comparable state driver-side (CounterGather).  `stats`, when given,
    gets the vertex and component counts."""
    import numpy as np
    import pandas as pd

    a = pdf.iloc[:, 0].to_numpy()
    b = pdf.iloc[:, 1].to_numpy()
    verts = np.unique(np.concatenate([a, b]))
    # vectorized min-label propagation with pointer doubling: lab[i] is an
    # INDEX into verts; verts is sorted ascending, so the min index in a
    # component IS its min sig_id (the same label the per-edge union-find
    # produced, at numpy speed — the Python edge loop was ~2s at 500k
    # edges).  Each round relaxes every edge both ways (np.minimum.at
    # handles duplicate targets) then composes lab through itself;
    # converges in O(log n) rounds even on a chain.
    ia = np.searchsorted(verts, a)
    ib = np.searchsorted(verts, b)
    lab = np.arange(verts.size)
    while True:
        old = lab
        lab = lab.copy()
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        lab = lab[lab]
        if np.array_equal(lab, old):
            break
    if stats is not None:
        # a component's root is the one vertex labelled with itself
        roots = np.count_nonzero(lab == np.arange(verts.size))
        stats.update(vertices=int(verts.size), components=int(roots))
    labels = verts[lab]
    out = pd.DataFrame({"sig_id": verts, "cluster_id": labels})
    return spark.createDataFrame(out, "sig_id long, cluster_id long")


def _label_propagation(
    e: DataFrame, max_iter: int = MAX_ITER, stats: dict | None = None
) -> DataFrame:
    """Distributed path over the edge list `e` (columns a, b): (sig_id,
    cluster_id) for every vertex, cluster_id = min sig_id of the
    component.  Raises if `max_iter` rounds do not converge.  `stats`,
    when given, gets the vertex and component counts (one aggregate)."""
    # undirected: keep both directions for min-label propagation
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=True)

    # size the per-round shuffles to the graph, not the session default:
    # label tables are tiny relative to the corpus and tiny-partition
    # overhead dominates round latency otherwise
    n_edges = sym.count()
    spark = e.sparkSession
    parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            n_edges // 100_000 + 1,
        ),
    )
    sym = sym.repartition(parts, "a").localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    ).localCheckpoint(eager=True)

    def propagate(lbls):
        msgs = (
            sym.join(lbls.withColumnRenamed("v", "a"), "a")
            .groupBy(F.col("b").alias("v"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = lbls.join(msgs, "v", "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # pointer-doubling shortcut: v -> label(label(v)).  One self-join
        # on the (small) label table; turns O(diameter) convergence into
        # O(log diameter).
        roots = stepped.select(
            F.col("v").alias("label"), F.col("label").alias("label2")
        )
        return (
            stepped.join(roots, "label", "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce("label2", F.col("label"))
                ).alias("label"),
            )
        ).localCheckpoint(eager=True)

    converged = False
    for it in range(max_iter):
        new_labels = propagate(labels)
        # convergence check is a full driver round trip — only every 2nd
        # round (label propagation monotonically descends, an extra round
        # is harmless)
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "v")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                labels = new_labels
                converged = True
                break
        labels = new_labels
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter > ~2**max_iter with pointer-doubling); labels "
            "would be fragmented — raise MAX_ITER"
        )
    if stats is not None:
        n_v, n_c = labels.agg(
            F.count("*"), F.count_if(F.col("v") == F.col("label"))
        ).first()
        stats.update(vertices=int(n_v), components=int(n_c))

    return labels.select(
        F.col("v").alias("sig_id"), F.col("label").alias("cluster_id")
    )


def connected_components(
    edges: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """(sig_id, cluster_id) for every vertex appearing in `edges`
    (sig_id_a, sig_id_b);
    cluster_id = min sig_id of the component.  Isolated vertices (no edges)
    are not emitted — callers union them back with cluster_id = sig_id.

    One collect of at most DRIVER_THRESHOLD + 1 edges decides the path and
    delivers the edges: up to DRIVER_THRESHOLD, union-find on the driver;
    above it, distributed label propagation.  The edge list is a lazy
    localCheckpoint that the collect fills, so the upstream plan (the
    candidate + verify joins) runs once on either path.

    `stats`, when given, gets the edge graph's ``vertices`` and
    ``components`` (clusters = signatures − vertices + components): free
    on the driver path, one aggregate on the distributed one.
    """
    e = edges.select(
        F.col("sig_id_a").alias("a"), F.col("sig_id_b").alias("b")
    )
    e = e.localCheckpoint(eager=False)
    head = e.limit(DRIVER_THRESHOLD + 1).toPandas()
    if len(head) <= DRIVER_THRESHOLD:
        return _driver_union_find(head, edges.sparkSession, stats)
    return _label_propagation(e, stats=stats)


def assign_clusters(
    all_sigs: DataFrame,
    edges: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """Full cluster table over every signature: component label where edges
    exist, else singleton cluster_id = sig_id (FIXTURES.md §6).  `stats`
    as in `connected_components`."""
    cc = connected_components(edges, stats=stats)
    return (
        all_sigs.select("sig_id")
        .join(cc, "sig_id", "left")
        .select(
            "sig_id",
            F.coalesce("cluster_id", F.col("sig_id")).alias("cluster_id"),
        )
    )


def cluster_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "sig_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware representative per near-dup cluster: instead of the
    lowest-id member (the pipeline's canonical default), keep the member
    with the highest `score` (RefinedWeb/FineWeb keep the best copy, not
    the first).  Ties break on lowest id, so the choice is deterministic.

    `quality` is (id_col, score_col) — any per-document metric (gopher
    signals, length, a model score).  Plan: one equi-join on id (the
    quality side is usually the same table the clusters came from — let
    AQE/broadcast decide) + one rank-1 window partitioned by cluster; at
    10^12 rows both shuffle on keys that near-dup clustering already
    shuffles on.

    Output: (cluster_id, representative_id, n_members, score).
    """
    from pyspark.sql import Window

    joined = clusters.join(quality.select(id_col, score_col), id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count("*").over(Window.partitionBy(cluster_col)).cast("long"),
        )
        .filter(F.col("_rk") == 1)
        .select(
            F.col(cluster_col),
            F.col(id_col).alias("representative_id"),
            "n_members",
            F.col(score_col).alias("score"),
        )
    )

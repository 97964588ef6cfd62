"""Connected components over edge frames via iterative DataFrame
self-joins (SURVEY.md §2 I1/I2) — the distributed replacement for the
reference's in-memory transitive merge (BASELINE.json:6 "union-find
over edge frames").

Algorithm: min-label propagation with pointer-doubling shortcuts.
Each iteration:
  1. neighbor-min:  comp'(v) = min(comp(v), min over neighbors u of comp(u))
  2. shortcut:      comp''(v) = comp(comp'(v))   (path halving)
Pointer doubling makes convergence O(log(longest path)) iterations
instead of O(path length) — at web scale cluster diameters are small,
but chain-shaped clusters (A≈B≈C≈…) exist by construction.

Scale discipline (SURVEY §4.2): every iteration ends in
``localCheckpoint(eager=True)`` to truncate lineage — the classic
failure of iterative DataFrame algorithms is exponential plan blowup.
Convergence is detected by counting changed labels (an aggregate, not
a collect of data rows); if ``max_iter`` runs out first the loop raises
rather than return unconverged labels. Labels only ever decrease, so the final
comp = min doc_id of the component — the stable, deterministic
cluster labeling rule (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: below this edge count the distributed label loop is pure scheduling
#: overhead (each iteration = 2 jobs); one task running the numpy
#: union-find is both faster and identical in output. The loop remains
#: the at-scale path — equivalence of the two is asserted in tests.
SMALL_GRAPH_EDGES = 4_000_000


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """edges(src, dst) → (doc_id, cluster_id) for every vertex that
    appears in an edge. cluster_id = min doc_id in the component.

    Scale-adaptive (AQE-style runtime decision): the symmetrized edge
    frame is counted once anyway (to size the loop's shuffles); when it
    is small enough to fit one task, a single ``mapInPandas`` pass runs
    the numpy min-label union-find — same labels, ~10 Spark jobs fewer.
    Above the threshold the iterative self-join loop (the 10^12-doc
    design path) takes over."""
    from dedup.pipeline import job_desc

    with job_desc(edges.sparkSession, "dedup: verify + edge symmetrize"):
        # symmetrize via explode, NOT a self-union: a union references
        # the (typically still-unfilled, lazily-persisted) edge frame
        # from two concurrent branches of the same action, and each
        # branch recomputes the upstream verify chain — the pair join +
        # exact-Jaccard kernel ran twice (profiled). One generator pass
        # reads every edge once. No distinct: pipeline edges are already
        # unique canonical pairs (src < dst), so both orientations are
        # distinct by construction, and min-label propagation is
        # duplicate-tolerant anyway — a distinct here was a full extra
        # shuffle of the edge frame at every scale.
        e = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("src"), F.col("src").alias("dst")
                        ),
                    )
                ).alias("p")
            )
            .select("p.src", "p.dst")
            .localCheckpoint(eager=True)
        )
    # Size the edge-side partitioning to the edge frame, not the global
    # shuffle.partitions — scoped to THIS query, not the session: the
    # symmetrized frame is re-materialized hash-partitioned by dst into
    # p partitions, so the per-iteration edge⨝labels dst-join reuses
    # that layout instead of re-shuffling the edges every iteration.
    # The groupBy(src) aggregation and the parent self-join still run at
    # the session default and rely on AQE partition coalescing to shrink
    # with the frontier (small-frontier iterations are scheduling-bound
    # either way). No session conf is mutated, so concurrent queries on
    # the same session are unaffected (round-1 verdict item 5).
    n_edges = e.count()
    if n_edges <= small_graph_edges:
        return _cc_single_task(e)
    spark = edges.sparkSession
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = max(4, min(int(n_edges / 500_000) + 1, 1024))
    p = min(p, default_p) if n_edges < 500_000 else max(p, default_p)
    if p != e.rdd.getNumPartitions():
        e = e.repartition(p, "dst").localCheckpoint(eager=True)
    return _cc_loop(e, max_iter)


def _cc_single_task(e: DataFrame) -> DataFrame:
    """Small-graph path: min-label propagation with pointer jumping in
    numpy, one task. Labels equal the loop's by the same invariant
    (labels only decrease toward the component min; dense ids come from
    np.unique which sorts, so the min dense index IS the min doc_id)."""
    import pandas as pd

    def run(batches):
        import numpy as np

        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy(dtype=np.int64, copy=False))
            dsts.append(pdf["dst"].to_numpy(dtype=np.int64, copy=False))
        if not srcs:
            return
        u_raw = np.concatenate(srcs)
        v_raw = np.concatenate(dsts)
        ids, flat = np.unique(np.concatenate([u_raw, v_raw]), return_inverse=True)
        u, v = flat[: len(u_raw)], flat[len(u_raw) :]
        label = np.arange(len(ids), dtype=np.int64)
        while True:
            prev = label.copy()
            np.minimum.at(label, u, label[v])
            np.minimum.at(label, v, label[u])
            while True:  # pointer jumping to local fixpoint
                nxt = label[label]
                if (nxt == label).all():
                    break
                np.minimum(label, nxt, out=label)
            if (label == prev).all():
                break
        yield pd.DataFrame({"doc_id": ids, "cluster_id": ids[label]})

    # coalesce, not repartition: e is checkpointed, so one task reads the
    # cached blocks directly — a repartition would add a 1-partition
    # shuffle (write + fetch) for nothing
    return e.coalesce(1).mapInPandas(run, schema="doc_id long, cluster_id long")


def _cc_loop(e: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        e.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = None
    for _ in range(max_iter):
        # 1. neighbor-min pass
        nbr = (
            e.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # 2. pointer-doubling shortcut: comp := label(comp)
        parent = stepped.select(
            F.col("id").alias("comp"), F.col("comp").alias("parent_comp")
        )
        # the pre-iteration label rides along into the checkpoint so the
        # convergence check is a narrow scan of the checkpointed frame
        # (no extra join+shuffle job per iteration)
        new_labels = (
            stepped.join(parent, "comp", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("parent_comp", "comp")).alias("comp"),
                "prev",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("comp") != F.col("prev")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    if changed != 0:
        # unconverged labels are wrong clusters, not approximate ones
        raise RuntimeError(
            f"connected components did not converge: {changed} labels "
            f"still changed after max_iter={max_iter} iterations"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


def assign_clusters(docs: DataFrame, components: DataFrame) -> DataFrame:
    """Attach cluster_id to ALL docs; vertices without edges are
    singleton clusters of themselves (SURVEY §2 I2)."""
    return docs.join(components, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )


def incremental_components(
    new_edges: DataFrame,
    prev_clusters: DataFrame | None,
    max_iter: int = 25,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Batch-proportional component maintenance (streaming J4, round-2
    verdict item 4): CONTRACT the new edges through the previous cluster
    labels — each committed component collapses to its label supernode —
    and run connected components on the contracted graph only, whose
    size is ∝ the batch's edge count, never the committed edge log.

    Returns (doc_id, cluster_id) where doc_id ranges over contracted
    NODES: previous cluster labels and new doc ids touched by an edge.
    Label correctness: a previous label is by invariant the min doc_id
    of its committed component, and new doc ids enter as themselves, so
    the min node id of a contracted component IS the min doc_id of the
    merged underlying component — identical to a full rebuild.

    Shuffle discipline: the corpus-sized ``prev_clusters`` never crosses
    an exchange — it is first left-semi-joined against the broadcast
    (batch-sized) endpoint set, and the resulting batch-sized label
    slice is broadcast into the two endpoint-mapping joins.
    ``hint_broadcast=False`` drops every explicit hint (a backlog-sized
    batch would otherwise force an unbounded driver-side broadcast
    build) and lets AQE pick the join strategy from runtime sizes."""
    if prev_clusters is None:
        return connected_components(new_edges, max_iter=max_iter)
    hb = F.broadcast if hint_broadcast else (lambda df: df)
    ends = (
        new_edges.select(F.col("src").alias("doc_id"))
        .unionByName(new_edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    lab = prev_clusters.select("doc_id", "cluster_id").join(
        hb(ends), "doc_id", "left_semi"
    )
    contracted = (
        new_edges.select("src", "dst")
        .join(
            hb(
                lab.select(F.col("doc_id").alias("src"), F.col("cluster_id").alias("src_lab"))
            ),
            "src",
            "left",
        )
        .join(
            hb(
                lab.select(F.col("doc_id").alias("dst"), F.col("cluster_id").alias("dst_lab"))
            ),
            "dst",
            "left",
        )
        .select(
            F.coalesce("src_lab", "src").alias("src"),
            F.coalesce("dst_lab", "dst").alias("dst"),
        )
    )
    return connected_components(contracted, max_iter=max_iter)

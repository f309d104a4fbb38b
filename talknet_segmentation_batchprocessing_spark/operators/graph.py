"""Distributed connected components: large-star / small-star.

The hash-min label propagation in ``dedup_cc_clusters`` converges in
O(component diameter) rounds and shuffles every node's label each
round — fine for near-dup graphs (small diameters), but a giant
component makes the hot label a shuffle hot-spot. The alternating
star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14) bounds skew: each round only re-points edges at
per-node minima, converges in O(log n) rounds on any graph, and every
aggregation key is a node (never a component label), so no single key
accumulates a component's worth of traffic.

- **large-star**: per node u, m = min(Γ(u) ∪ {u}); re-point every
  strictly-larger neighbor at m.
- **small-star**: orient edges high->low; per node u, m = min of its
  low neighbors ∪ {u}; point u and all its low neighbors at m.

Fixpoint: the edge set stops changing; every surviving edge then goes
node -> component-min (a star), and isolated centers label themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", "u").alias("_m"))
    )
    # No distinct here: duplicate (u, m) pairs cost one extra shuffle
    # to remove, while the consumer (_small_star) is duplicate-proof —
    # its min-aggregates ignore multiplicity and its output IS
    # distinct'ed. One shuffle per round saved.
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    orient = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = (
        orient.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", "u").alias("_m"))
    )
    j = orient.join(m, "u")
    out = j.select(F.col("v").alias("u"), F.col("_m").alias("v")).unionAll(
        m.select("u", F.col("_m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _union_find_labels(us, vs) -> dict[int, int]:
    """Driver-side union-find (path halving + union by min): exact
    same labeling as the star fixpoint — component = min node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        return r

    for u, v in zip(us, vs):
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            # union by MIN root so every root is its component's min —
            # the exact labeling contract of the star fixpoint
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    edges_distinct: bool = False,
    edges_materialized: bool = False,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """nodes(node) + edges(u, v) -> (node, component) with component =
    min node id of the component (singletons label themselves).

    ADAPTIVE, mirroring the repo's one-/two-phase window switch and
    Spark's own runtime join-strategy picks: the edge count is known
    after the input checkpoint, and below ``local_threshold`` the
    whole edge list fits the driver trivially (1M edges = 16 MB arrow
    transfer — the same order as a broadcast side), where a single
    union-find pass beats paying the distributed rounds' fixed cost
    (~1.5 s per round on local[32] regardless of edge count). Above
    the threshold — the actual 100 TB regime — the alternating star
    rounds engage; they are the skew-safe O(log n) path and never see
    the edge list on the driver.

    Star rounds: two groupBy-min + join passes over the shrinking
    edge list; ``localCheckpoint`` cuts lineage per round — LAZY, so
    the round's signature aggregate doubles as the materializing
    action: ONE job per round instead of checkpoint-then-aggregate
    (the per-round fixed cost dominated the sf0.1 wall). Convergence
    is screened with a cheap (count, sum) signature of the oriented
    edge set, then CONFIRMED exactly: equal signatures do not imply
    equal edge sets ({(3,1),(4,2)} vs {(4,1),(3,2)} collide), so a
    signature match triggers one ``exceptAll`` emptiness check against
    the previous round's (checkpointed, so cheap) frame before
    stopping. Exhausting 50 rounds without a fixpoint raises —
    silently returning unconverged labels would be a wrong answer.

    ``edges_materialized``: callers handing over an already
    localCheckpoint-ed distinct (u, v) frame skip the operator's own
    checkpoint copy.
    """
    node_col = nodes.columns[0]
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("u"),
        F.col(edges.columns[1]).cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    # edges_distinct: callers whose edge list is an aggregation output
    # (e.g. the Jaccard pair pipeline's groupBy) skip one shuffle here;
    # the algorithm tolerates duplicates either way (min-aggregates),
    # only the convergence signature needs a duplicate-free frame, and
    # every post-round frame is distinct by construction.
    if not edges_distinct:
        e = e.distinct()
    if not edges_materialized:
        # eager=False (round-12): the first consuming action below
        # materializes the checkpoint, so its own dedicated job was
        # pure overhead — one job computes AND stores the edges.
        e = e.localCheckpoint(eager=False)
    # ONE driver action decides the path AND fetches the edge list when
    # it is small (round-13, guide §5 — the old count-then-toPandas
    # pair was two round-trips over the same frame): limit(threshold+1)
    # returns every edge when the list is at or under the threshold
    # (nothing is dropped), and exactly threshold+1 rows — the "too
    # big, go distributed" signal — when it is not.
    import pandas as pd

    pdf = e.limit(local_threshold + 1).toPandas()
    if len(pdf) <= local_threshold:
        labels = _union_find_labels(pdf["u"].to_numpy(), pdf["v"].to_numpy())
        nonroot = [(k, r) for k, r in labels.items() if k != r]
        spark = nodes.sparkSession
        comp = spark.createDataFrame(
            pd.DataFrame(nonroot, columns=[node_col, "component"]).astype("int64")
            if nonroot
            else pd.DataFrame({node_col: pd.Series(dtype="int64"),
                               "component": pd.Series(dtype="int64")}),
            schema=f"{node_col} long, component long",
        )
        return (
            nodes.select(F.col(node_col).cast("long").alias(node_col))
            .join(F.broadcast(comp), node_col, "left")
            .select(
                node_col,
                F.coalesce(F.col("component"), F.col(node_col)).alias("component"),
            )
        )
    del pdf
    # distributed path: fully materialize the (lazily) checkpointed
    # edge frame before the rounds — the limit probe above may have
    # computed only part of it, and round 1 double-reads ``e`` (the
    # symmetrized union), which must hit stored partitions.
    e.count()
    prev_sig = None
    converged = False
    for _ in range(50):
        prev_e = e
        # eager=False: the signature .collect() below is the action
        # that materializes this round's checkpoint, so the round runs
        # one job, and the NEXT round's double read of ``e`` (the
        # symmetrized union) hits stored partitions, not recompute.
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        row = e.agg(
            F.count("*").alias("n"), F.sum("u").alias("su"), F.sum("v").alias("sv")
        ).collect()[0]
        sig = (row["n"], row["su"], row["sv"])
        if sig == prev_sig and e.exceptAll(prev_e).isEmpty():
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            "connected_components_star: no fixpoint after 50 rounds"
        )
    comp = e.select(F.col("u").alias(node_col), F.col("v").alias("component"))
    return (
        nodes.select(F.col(node_col).cast("long").alias(node_col))
        .join(comp, node_col, "left")
        .select(
            node_col,
            F.coalesce(F.col("component"), F.col(node_col)).alias("component"),
        )
    )

"""Connected components over a pair graph — the dedup completion step.

LSH/SimHash/Jaccard produce near-duplicate *pairs*; deduplication needs
*clusters* (every document connected through any chain of pairs shares one
canonical keeper). :func:`connected_components` computes them with iterative
min-label propagation over DataFrames:

    label(v) <- min(label(v), min(label(u) for u adjacent to v))

repeated until fixpoint. Each iteration is one join + one aggregation on the
(small) edge list — document text never appears. Convergence takes
O(diameter) iterations; duplicate clusters have tiny diameters (usually <=
3), so 5-10 rounds close real corpora. Results are deterministic: the
component id is the minimum doc id in the component.

Scale: this is the standard map-reduce CC algorithm (label propagation /
"small-star" simplification). The per-iteration shuffle carries one row per
edge + one per active node; ``persist`` + ``localCheckpoint`` every few
rounds truncates the growing lineage (essential past ~10 iterations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

__all__ = ["connected_components"]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
    checkpoint_every: int = 5,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Components of the undirected pair graph.

    Returns ``(node, component)`` where ``component`` is the minimum node id
    reachable from ``node``. Nodes only ever appear if they occur in an edge
    (singletons are their own components trivially and need no rows).

    Adaptive execution: candidate-pair graphs are orders of magnitude
    smaller than the corpus that produced them, so when the edge list fits
    comfortably on the driver (``<= driver_threshold`` edges) a single
    collect + union-find replaces ~3 shuffle rounds of label propagation —
    identical output, a fraction of the jobs. Past the threshold the
    distributed iteration below takes over (the 100 TB path).
    """
    # Persist an internal PROJECTION, not the caller's frame: the select
    # gives this function its own cache entry, so the unpersist calls below
    # can never silently drop a cache the caller set up on `edges` itself.
    edges = edges.select(src, dst).persist()
    n_edges = edges.count()
    if n_edges <= driver_threshold:
        try:
            return _driver_union_find(edges, src, dst)
        finally:
            edges.unpersist()
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    labels = (
        sym.groupBy("u").agg(F.min("v").alias("nbr_min"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("nbr_min")).alias("component"),
        )
    )
    sym = sym.persist()
    for i in range(max_iterations):
        nbr = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(nbr, labels["node"] == nbr["u"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.persist()
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    # sym was materialized from the edge cache during the iterations; the
    # final labels are themselves persisted/checkpointed, so the edge cache
    # is dead weight from here on (it used to linger for the session).
    edges.unpersist()
    return labels


def _driver_union_find(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Collected union-find with path compression; min id becomes the root."""
    pairs = [(r[0], r[1]) for r in edges.select(src, dst).collect()]
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id so the root IS the component id
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    nodes = {n for uv in pairs for n in uv}
    rows = [(n, find(n)) for n in sorted(nodes)]
    # Explicit schema: an empty edge list has no rows to infer one from.
    node_type = edges.schema[src].dataType
    schema = StructType([StructField("node", node_type), StructField("component", node_type)])
    return edges.sparkSession.createDataFrame(rows, schema)

"""Distributed connected components: a per-partition DSU contraction, then
alternating large-star / small-star rounds only while the contracted graph
is not yet a min-rooted star forest (SURVEY.md B10). Pure DataFrame plus
one Arrow map stage — no GraphFrames.

1. ``_local_contract`` runs a vectorized NumPy union-find over each
   partition's edges and replaces them by a min-rooted star forest with the
   same connectivity — the per-partition local phase of *BTS: Load-Balanced
   Distributed Union-Find* (ICDE'24, PAPERS.md). When one partition holds
   every edge of each component (AQE coalesces the small post-``distinct``
   exchange of a dedup graph to one partition), the result is already the
   fixpoint and no star round runs.
2. Otherwise the star rounds of Kiveris et al., "Connected Components in
   MapReduce and Beyond" (SoCC'14, PAPERS.md) finish the job on the
   contracted graph: O(log^2 n) rounds (O(log n) in practice), each one
   groupBy-min window + a projection, each localCheckpointed to cut lineage
   (the reference's periodic-persistence analog, SURVEY.md section 4).

Node ids are int64; the final assignment maps every node to the minimum
doc_id of its component (the oracle's min-root convention).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return edges.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) + {u}); emit (v, m) for v in N(u), v > u."""
    nbrs = _symmetrize(edges)
    w = Window.partitionBy("u")
    # no distinct here: duplicates don't affect the min and the small-star
    # pass dedupes — saves one exchange per round
    return (
        nbrs.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; for each u: m = min(N(u) + {u});
    emit (v, m) for v in N(u) plus (u, m), dropping self-loops."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    with_min = oriented.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
    out_nbrs = with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
    out_self = with_min.select(F.col("u"), F.col("m").alias("v"))
    # single final distinct dedupes both branches
    return (
        out_nbrs.unionByName(out_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_min_rooted_star_forest(edges: DataFrame) -> bool:
    """True iff the (distinct) edge set is a min-rooted star forest — the
    exact fixpoint shape of the alternating star algorithm: (a) every u has
    exactly ONE outgoing edge, (b) no node is both a u and a v (leaves
    point at roots, roots have no out-edge), (c) every edge points DOWN
    (u > v), which for a star forest forces each root to be its component's
    minimum. One aggregation job over a (node, role) projection — 2|E|
    narrow rows, no sort; the job also materializes the caller's lazy
    checkpoint exactly like the fingerprint job it replaces (the previous
    convergence check: stop when two consecutive rounds' count +
    order-independent bit_xor(xxhash64(u, v)) fingerprints matched)."""
    roles = edges.select(
        F.col("u").alias("n"),
        F.lit(1).alias("r"),
        (F.col("u") > F.col("v")).cast("int").alias("dn"),
    ).unionAll(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("r"), F.lit(1).alias("dn"))
    )
    per = roles.groupBy("n").agg(
        F.sum("r").alias("cu"), F.count("*").alias("ct"), F.min("dn").alias("dn")
    )
    row = per.agg(
        F.coalesce(F.max("cu"), F.lit(0)).alias("max_cu"),
        F.coalesce(
            F.max(
                F.when((F.col("cu") > 0) & (F.col("ct") > F.col("cu")), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("both_roles"),
        F.coalesce(F.min("dn"), F.lit(1)).alias("all_down"),
    ).collect()[0]
    return (
        int(row["max_cu"]) <= 1
        and int(row["both_roles"]) == 0
        and int(row["all_down"]) == 1
    )


def _min_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the edge arrays (u, v) -> (nodes, lab): the sorted
    distinct node ids and, per node index, the index of its component's
    minimum. Ids are densified with np.unique, so index order is id order.
    Each round hooks the larger root of every edge whose endpoints still
    have different roots under the smallest root it touches, then pointer
    jumps until every node points at a root. Labels only decrease and
    always name a node of the same component, so the one root left per
    component is its minimum. Edges whose endpoints share a root stay
    resolved and are dropped from later rounds."""
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    eu, ev = inv[: len(u)], inv[len(u) :]
    lab = np.arange(len(nodes))
    while True:
        lu, lv = lab[eu], lab[ev]
        live = lu != lv
        if not live.any():
            return nodes, lab
        eu, ev, lu, lv = eu[live], ev[live], lu[live], lv[live]
        np.minimum.at(lab, np.maximum(lu, lv), np.minimum(lu, lv))
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt


def _contract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """One partition's (u, v) edges -> (node, min node of its local
    component) for every non-root node."""
    parts = [
        (b.column("u").to_numpy(zero_copy_only=False),
         b.column("v").to_numpy(zero_copy_only=False))
        for b in batches
    ]
    if not parts:
        return
    nodes, lab = _min_labels(
        np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])
    )
    leaf = lab != np.arange(len(nodes))
    yield pa.RecordBatch.from_arrays(
        [pa.array(nodes[leaf]), pa.array(nodes[lab[leaf]])], names=["u", "v"]
    )


def _local_contract(edges: DataFrame) -> DataFrame:
    """(u, v) -> a min-rooted star forest per partition with the input's
    connectivity. Edges of one component that sit in different partitions
    leave one star per partition; the star rounds merge those."""
    return edges.mapInArrow(_contract_batches, "u long, v long")


def _star_fixpoint(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """edges(a, b) -> the fixpoint (u, v): one (node, component-min) edge
    per non-root node; roots, each its component's minimum, appear only as
    v.

    The input is deduplicated, contracted per partition
    (``_local_contract``), then alternates large-star/small-star until the
    edge set IS the fixpoint shape — a min-rooted star forest, tested
    directly on the current edge set. The alternating algorithm's fixpoints
    are exactly the min-rooted star forests (Kiveris et al. §3), star
    forests are invariant under both passes, and
    `_is_min_rooted_star_forest` is a sound+complete test of that shape (see
    its docstring). A contraction that saw whole components is already that
    shape, so the first test passes and no round runs.

    Each step uses a LAZY localCheckpoint — the plan is truncated
    immediately (both star passes reference their input twice, so without
    truncation the lineage grows ~4x per round and analysis itself OOMs on
    deep inputs), but materialization is deferred to the convergence-test
    aggregation — ONE Spark job per round. Batching two star rounds per
    barrier was MEASURED SLOWER (real graphs converge in 1-3 rounds)."""
    cur = _local_contract(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    ).localCheckpoint(eager=False)
    for _ in range(max_iterations):
        # the test job materializes the checkpoint as a side effect
        if _is_min_rooted_star_forest(cur):
            return cur
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
    raise RuntimeError(f"connected_components: no fixpoint in {max_iterations} iterations")


def connected_components(
    edges: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """edges(a, b) -> assignments(doc_id, cluster_id) for every node that
    appears in an edge (isolated nodes are absent — callers coalesce).

    Contracts each partition with a local DSU, then runs star rounds only
    while the contracted graph is not yet a min-rooted star forest
    (``_star_fixpoint``). At the fixpoint every member edge is (node,
    component-min) and roots map to themselves. No distinct over the union:
    each non-root node appears exactly once as u, roots never appear as u
    (a root's star edge would be the self-loop (min, min)), and ``roots``
    is deduped by its own distinct."""
    cur = _star_fixpoint(edges, max_iterations)
    members = cur.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = cur.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(roots)


def assign_clusters(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """B11: every doc_id -> cluster_id (min id in component; singletons map
    to themselves). Joins against the fixpoint's member edges only: a root
    is absent from them, and as its component's minimum it maps to itself,
    which the coalesce already gives — no roots exchange, no union."""
    members = _star_fixpoint(edges).select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    return (
        docs.select("doc_id")
        .join(members, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )

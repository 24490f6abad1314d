"""Undirected connected components + dedup clustering.

The reference's graph-shaped recursion is parent-chain closure over trees
(operators/hierarchy.py, /root/reference/etl-notes.md:663-722). Training-data
dedup needs the undirected generalization: near-duplicate PAIRS
(operators/dedup.py) must become disjoint CLUSTERS with one kept
representative per cluster — transitively: if A~B and B~C, then {A,B,C} is
one cluster even when A and C never collided.

Spark has no native connected-components, so this is the alternating
large-star / small-star algorithm from Kiveris et al., "Connected Components
in MapReduce and Beyond" (SOCC 2014) — a published, engine-agnostic
formulation chosen over per-round label propagation because it converges in
O(log n) rounds instead of O(diameter):

- large-star: every node attaches its strictly-larger neighbors to its
  minimum neighbor (or itself if smaller) — one groupBy-min + one equi-join.
- small-star: every node attaches its smaller-or-equal neighbors and itself
  to its minimum neighbor — same shape.

Scale notes (100 TB): each round is two shuffles keyed on node id (groupBy
min + join), edge count never grows above the input edge count + node count,
and rounds are O(log n) so the whole loop is ~30-60 shuffles even at
billions of nodes. Per-round ``localCheckpoint(eager=True)`` truncates the
iterative lineage (the loop would otherwise build an exponentially nested
plan) and observes the convergence signature (count + hash-xor) on the
same pass (``io.checkpoint_observed``): one SQL execution per round.
Duplicate mass, not corpus size, drives cost: nodes with no near-dup pair
never enter the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cam_etl_spark.io import checkpoint_observed, unpersist_checkpoint


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v) with u > v, self-loops dropped, deduplicated."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    return (
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .dropDuplicates()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component is
    the minimum node id of the connected component. Exact."""
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .dropDuplicates()
    )
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iterations):
        # --- large-star: over the bidirected view, attach strictly-larger
        # neighbors v of u to m = min(N(u) ∪ {u}). Emitted (v, m) has v > u ≥ m.
        bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bi.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", "u").alias("m")
        )
        ls = (
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )
        # --- small-star: edges now all point downward (u > v). Attach u and
        # each smaller neighbor to m = min(N(u)); (v, m) keeps v ≥ m, and the
        # u-row (u, m) keeps u > m — canonical orientation is preserved.
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        # order-independent edge-set signature, observed by the round's
        # checkpoint; bit_xor cannot overflow (ANSI mode makes sum() raise
        # on long overflow)
        e_next, sig = checkpoint_observed(
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates(),
            n=F.count("*"),
            h=F.bit_xor(F.xxhash64("u", "v")),
        )
        # e_next is materialized — the previous round's checkpoint blocks
        # are dead; free them instead of waiting for a JVM GC
        unpersist_checkpoint(e)
        e = e_next
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    # At fixpoint every edge points directly at the component minimum; the
    # min itself has no outgoing row, and isolated nodes never entered e.
    labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → transitive clusters → per-document verdict:
    (id, cluster_id, is_representative). The representative is the minimum
    id of the cluster (deterministic — matches exact_dedup's keep-lowest
    rule); documents with no near-dup pair are their own singleton cluster.
    The join back to ``df`` is a broadcast when the clustered set is small
    relative to the corpus (duplicate mass), else a key shuffle."""
    cc = connected_components(pairs, src=pair_a, dst=pair_b)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(cc.select(F.col("node").alias("id"), "component"), "id", "left")
        .select(
            "id",
            F.coalesce("component", "id").alias("cluster_id"),
            (F.coalesce("component", "id") == F.col("id")).alias("is_representative"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Quality-aware cluster dedup: near-dup clusters as in dedup_clusters,
    but the survivor is the HIGHEST-``quality_col`` member (ties → lowest
    id) — the policy a real training pipeline wants (keep the cleanest
    copy, not the accidentally-lowest id). Window is partitioned by
    cluster_id, so per-cluster state is bounded by cluster size; the
    quality column rides along from the corpus join — no extra pass."""
    cc = connected_components(pairs, src=pair_a, dst=pair_b)
    members = (
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("quality"))
        .join(cc.select(F.col("node").alias("id"), "component"), "id", "left")
        .select("id", "quality", F.coalesce("component", "id").alias("cluster_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("id").asc()
    )
    return members.withColumn("kept", F.row_number().over(w) == 1)


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank with full dangling-mass handling:

        PR_{i+1}(v) = (1-d)/N + d * (sum_{u->v} PR_i(u)/outdeg(u)
                                     + dangling_i / N)

    where dangling_i is the rank mass sitting on nodes with no out-edges
    (redistributed uniformly — the standard formulation, so ranks sum to
    1 every iteration). Deterministic and SQL-replayable: a fixed
    iteration count (the reference has no iterative analytics at all;
    its recursive needs are the site hierarchy, ref /root/reference/
    etl-notes.md:663-722 — PageRank extends that family to weighted
    importance propagation over the quad graph, e.g. road connectivity).

    Scale shape: per iteration ONE shuffle keyed on dst (the contribs
    groupBy); out-degrees and ranks join back onto the edge list as
    broadcast or shuffle joins Catalyst picks by size. N and the dangling
    mass are global scalars observed by the eager checkpoints the loop
    takes anyway (``io.checkpoint_observed``) and enter the next plan as
    literals: no 1-row aggregate is broadcast and cross-joined into any
    round, and no probe action runs. Ranks are rounded to 10 decimals per
    iteration IN BOTH ENGINES so float noise cannot accumulate across
    iterations and flip the final 6-decimal rounding.
    """
    if n_iter < 1:
        raise ValueError("pagerank: n_iter must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count("*").cast("double").alias("od"))
    # The rank table CARRIES the static out-degree across iterations, so
    # each iteration needs NO outdeg join (pr/od reads the carried column)
    # and the dangling mass is the pr sum over rows whose od IS NULL.
    table, seen = checkpoint_observed(
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left").select("node", "od"),
        n=F.count("*"),
        dangling=F.count_if(F.col("od").isNull()),
    )
    # an empty graph has no rows to rank; N = 1 keeps the folded literal
    # division defined
    n = F.lit(float(max(seen["n"], 1)))
    pr0 = F.round(F.lit(1.0) / n, 10)
    ranks = table.select("node", "od", pr0.alias("pr"))
    dang = F.lit(float(seen["dangling"])) * pr0
    # the live checkpoint each round supersedes — freed (unpersist) as
    # soon as the next round's eager checkpoint has materialized, so the
    # block manager holds at most two rank snapshots however many
    # iterations (or repeated runs) execute. The LAST checkpoint is never
    # freed: the returned plan reads it.
    ckpt = table
    for it in range(n_iter):
        contribs = (
            e.join(ranks, e["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("od")).alias("c"))
        )
        ranks = ranks.join(contribs, ranks["node"] == contribs["dst"], "left").select(
            "node",
            "od",
            F.round(
                (1.0 - damping) / n
                + damping * (F.coalesce(F.col("c"), F.lit(0.0)) + dang / n),
                10,
            ).alias("pr"),
        )
        # Truncate lineage between iterations, but NOT after the last:
        # the caller's action computes the final iteration anyway, so a
        # trailing eager checkpoint would run the whole last round once
        # at construction time just to have the action re-read it.
        if it < n_iter - 1:
            ranks, seen = checkpoint_observed(
                ranks,
                dang=F.coalesce(F.sum(F.when(F.col("od").isNull(), F.col("pr"))), F.lit(0.0)),
            )
            dang = F.lit(seen["dang"])
            unpersist_checkpoint(ckpt)
            ckpt = ranks
    return ranks.select("node", F.round("pr", 6).alias("pagerank"))

"""Recursive hierarchy closure (SURVEY J12).

The reference resolves site parent chains and PNDB name lineage with
Postgres ``WITH RECURSIVE`` (/root/reference/etl-notes.md:663-722). Spark
SQL has no recursive CTE, so the engine runs an iterative frontier loop:
repeatedly self-join the frontier onto the parent edge until fixpoint.
Each iteration is one shuffle on the join key; depth is bounded by the
longest chain (site hierarchies are shallow), and each round's eager
localCheckpoint keeps lineage from growing unboundedly while observing the
round's fixpoint signal (``io.checkpoint_observed``): one SQL execution
per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cam_etl_spark.io import checkpoint_observed, unpersist_checkpoint


def resolve_roots(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
    max_iterations: int = 30,
) -> DataFrame:
    """For each node, find its root ancestor and depth (root nodes have
    parent NULL / self / empty). Returns (id, root_id, depth).

    True pointer doubling: the id→ancestor map is joined with ITSELF, so
    every surviving pointer advances 2^i parent steps by iteration i —
    ceil(log2(max_depth)) rounds instead of max_depth single-step rounds
    (guide §2.4: each round is an eagerly-checkpointed self-join, so
    halving the round count halves jobs, barriers, and driver overhead).
    Each row carries ``settled``, which implies its ancestor is a root:
    roots start settled and a joined row takes its hop's flag. The
    fixpoint test is the count of unsettled rows, observed by the round's
    checkpoint — stop when it is 0 — so the loop never stops early, and
    stops no later than waiting for a round in which no pointer moves (one
    round sooner on a tree of depth 3). Deterministic; cycles never settle and are cut
    by max_iterations.
    """
    nodes = edges.select(
        F.col(id_col).alias("id"),
        F.when(
            F.col(parent_col).isNull()
            | (F.trim(F.col(parent_col).cast("string")) == "")
            | (F.col(parent_col) == F.col(id_col)),
            F.lit(None),
        )
        .otherwise(F.col(parent_col))
        .alias("parent_id"),
    )
    state = nodes.select(
        "id",
        F.coalesce("parent_id", "id").alias("anc"),
        F.when(F.col("parent_id").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("depth"),
        F.col("parent_id").isNull().alias("settled"),
    )
    # Invariant: anc is the ancestor exactly ``depth`` parent steps up from
    # id (or id itself for roots, depth 0). Doubling step: look the current
    # ancestor up in the SAME map — new anc = anc's ancestor, new depth =
    # depth + anc's depth. Roots map to themselves with depth 0, so settled
    # rows pass through unchanged and the inner join never drops rows.
    for _ in range(max_iterations):
        hop = state.select(
            F.col("id").alias("h_id"),
            F.col("anc").alias("h_anc"),
            F.col("depth").alias("h_depth"),
            F.col("settled").alias("h_settled"),
        )
        prev = state
        # One execution per round: the eager checkpoint truncates lineage
        # and observes the fixpoint signal on the same pass.
        state, seen = checkpoint_observed(
            state.join(hop, state.anc == hop.h_id).select(
                "id",
                F.col("h_anc").alias("anc"),
                (F.col("depth") + F.col("h_depth")).alias("depth"),
                F.col("h_settled").alias("settled"),
            ),
            unsettled=F.count_if(~F.col("settled")),
        )
        # the new checkpoint is materialized now — the previous round's
        # blocks are dead (first round: prev is no checkpoint, no-op)
        unpersist_checkpoint(prev)
        if seen["unsettled"] == 0:
            break
    return state.select("id", F.col("anc").alias("root_id"), "depth")


def descendants_closure(
    edges: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
    max_iterations: int = 30,
) -> DataFrame:
    """Full transitive ancestor closure: (id, ancestor_id, distance ≥ 1).
    The frontier-join analogue of the reference's recursive CTE output."""
    base = (
        edges.select(F.col(id_col).alias("id"), F.col(parent_col).alias("ancestor_id"))
        .filter(
            F.col("ancestor_id").isNotNull()
            & (F.trim(F.col("ancestor_id").cast("string")) != "")
            & (F.col("ancestor_id") != F.col("id"))
        )
        .withColumn("distance", F.lit(1))
    )
    edge = base.select(F.col("id").alias("e_child"), F.col("ancestor_id").alias("e_parent"))
    closure = base
    frontier = base
    for _ in range(max_iterations):
        # as in resolve_roots: the checkpoint observes the fixpoint test
        nxt, seen = checkpoint_observed(
            frontier.join(edge, frontier.ancestor_id == edge.e_child)
            .select("id", F.col("e_parent").alias("ancestor_id"), (F.col("distance") + 1).alias("distance"))
            .join(closure.select("id", "ancestor_id"), ["id", "ancestor_id"], "left_anti"),
            rows=F.count("*"),
        )
        if seen["rows"] == 0:
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure

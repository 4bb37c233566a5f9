"""Minimum spanning tree — `algo.mst`.

Reference: Prim from a start node over the undirected weighted graph,
reporting the tree edges plus weight min/max/sum stats
(`impl/MSTPrim.java:22-45`; fixture `tests/.../impl/MSTPrimTest.java:39-50`:
a-b:1 a-c:2 b-c:3 b-d:4 c-e:5 d-e:6 → tree {ab, ac, bd, ce}).

Prim's frontier heap is inherently sequential, so the rebuild uses
**Borůvka** — the textbook distributed MST, same tree for distinct edge
weights: each round every component picks its minimum outgoing edge
(one `groupBy(component).min(struct(weight, …))`), the picked edges
merge components (WCC-style min-label contraction), repeat until no
cross-component edge remains — O(log V) rounds. Ties break on
(weight, src, dst) so the result is deterministic even with duplicate
weights (a valid MST either way). Matching the reference's start-node
semantics (tree of the start node's component only) is a post-filter.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import Graph
from ..plans.checkpointing import adaptive_disabled, check_termination, truncate_plan


def mst(
    graph: Graph,
    start_node: int | None = None,
    max_rounds: int = 64,
    termination=None,
) -> tuple[DataFrame, dict]:
    """Returns (tree_edges(src, dst, weight), stats with
    sum/min/max weight) — the reference's result surface."""
    spark = graph.edges.sparkSession
    t0 = time.time()
    # canonical undirected edge list, one row per pair, min weight
    pairs = (
        graph.edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        # partitioned by `src` so each Borůvka round's first label join
        # reuses the cached partitioning (the dst-side join relabels the
        # already-joined O(E) frame and must shuffle either way)
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )
    pairs.count()

    comp = (
        pairs.select(F.col("src").alias("id"))
        .unionByName(pairs.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("component"))
    )
    # picked tree edges accumulate as a LAZY list of once-checkpointed
    # per-round frames, unioned at the end: a chosen edge merges its
    # endpoints' components, so it can never be re-picked in a later
    # round — cross-round duplicates are impossible and the old
    # per-round union+distinct+checkpoint of the whole accumulator
    # (O(rounds × tree) rewrites plus one full shuffle each) is pure
    # overhead. Same-round double-picks are already collapsed by the
    # distinct() on `picks`.
    chosen_frames: list[DataFrame] = []
    rounds = 0
    with adaptive_disabled(spark, termination):
        comp = truncate_plan(comp)
        for _ in range(max_rounds):
            check_termination(spark, termination, rounds)
            rounds += 1
            cs = comp.select(F.col("id").alias("src"), F.col("component").alias("c_src"))
            cd = comp.select(F.col("id").alias("dst"), F.col("component").alias("c_dst"))
            labeled = (
                pairs.join(cs, "src").join(cd, "dst")
                .filter(F.col("c_src") != F.col("c_dst"))
            )
            # min outgoing edge per component (both endpoints' views)
            views = labeled.select(
                F.col("c_src").alias("component"), "weight", "src", "dst"
            ).unionByName(
                labeled.select(F.col("c_dst").alias("component"), "weight", "src", "dst")
            )
            picks = (
                views.groupBy("component")
                .agg(F.min(F.struct("weight", "src", "dst")).alias("b"))
                .select(F.col("b.src").alias("src"), F.col("b.dst").alias("dst"), F.col("b.weight").alias("weight"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            if picks.isEmpty():
                break
            chosen_frames.append(picks)
            # contract: min-label propagation over the chosen edges until
            # stable (component graphs shrink geometrically, few rounds)
            sym = picks.select("src", "dst").unionByName(
                picks.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            while True:
                nbr = (
                    sym.join(comp.select(F.col("id").alias("src"), "component"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("component").alias("nc"))
                )
                stepped = comp.join(nbr, "id", "left").select(
                    "id", F.least("component", F.coalesce("nc", "component")).alias("component")
                )
                # pointer jump
                parent = stepped.select(
                    F.col("id").alias("component"), F.col("component").alias("jump")
                )
                # truncate_plan: stepped/jumped reference comp twice per
                # contraction round (neighbor push + compare) — the
                # diamond (plans/checkpointing.truncate_plan)
                jumped = truncate_plan(
                    stepped.join(parent, "component", "left").select(
                        "id", F.coalesce("jump", "component").alias("component")
                    )
                )
                changed = (
                    jumped.join(comp.withColumnRenamed("component", "prev"), "id")
                    .filter(F.col("component") != F.col("prev"))
                    .count()
                )
                comp = jumped
                if changed == 0:
                    break
    pairs.unpersist()

    if not chosen_frames:
        tree = spark.createDataFrame([], "src long, dst long, weight double")
    else:
        tree = chosen_frames[0]
        for f in chosen_frames[1:]:
            tree = tree.unionByName(f)
    n_components = 1
    if start_node is not None:
        # ref MSTPrim semantics: the tree of the start node's component
        # ONLY. `comp` holds edge endpoints, so a start node with no
        # edges is absent from it — its "tree" is empty (never the
        # whole forest).
        comp_of_start = comp.filter(F.col("id") == start_node).collect() if chosen_frames else []
        if comp_of_start:
            c = comp_of_start[0]["component"]
            member = comp.filter(F.col("component") == c).select(F.col("id").alias("src"))
            tree = tree.join(member, "src", "left_semi")
        else:
            tree = spark.createDataFrame([], "src long, dst long, weight double")
            n_components = 0
    elif chosen_frames:
        # unfiltered forest: one tree per component of the input
        n_components = comp.select("component").distinct().count()
    else:
        n_components = 0
    agg = tree.agg(
        F.sum("weight").alias("s"), F.min("weight").alias("mn"),
        F.max("weight").alias("mx"), F.count("*").alias("n"),
    ).collect()[0]
    stats = {
        # tree edges + one root per covered component (n+1 only holds
        # for a single-component tree); isolated start node => 1
        "effectiveNodeCount": (agg["n"] or 0) + n_components
        if not (start_node is not None and n_components == 0)
        else 1,
        "weightSum": float(agg["s"] or 0.0),
        "weightMin": float(agg["mn"] or 0.0),
        "weightMax": float(agg["mx"] or 0.0),
        "rounds": rounds,
        "computeMillis": int((time.time() - t0) * 1000),
    }
    return tree, stats

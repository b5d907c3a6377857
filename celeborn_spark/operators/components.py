"""Bounded-iteration connected components (hash-min label propagation)
— turns near-dup PAIRS into dedup GROUPS (SURVEY.md §7 "what's hard"
#2: iterative, bound iterations, checkpoint between, no collect).

Each iteration: every vertex takes the min label among itself and its
neighbors (the own-label floor rides self-loop edges, so one join +
one groupBy per round and the label state is referenced once — rounds
chain lazily); labels converge in O(diameter) rounds, and near-dup
graphs are unions of small cliques, so a handful of rounds suffices.
localCheckpoint() truncates lineage once per convergence-check batch;
convergence is detected with an exact decimal label-sum action per
batch (labels only decrease under min-propagation), never a data
collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _label_propagation_round(
    edges: DataFrame, labels: DataFrame, broadcast_labels: bool = False
) -> DataFrame:
    """One hash-min propagation round (the loop body, exposed so skew
    tests can pin its physical plan): each vertex takes the min label
    among itself and its neighbors. The edges.dst join key is power-law
    on real near-dup graphs (a giant component's hub vertex) — the
    groupBy(src) partial-agg absorbs hot keys map-side and AQE's skew
    split handles the join (tests/test_skew_stress.py).

    ``broadcast_labels`` hints the vertex-sized labels/neighbor-min
    relations broadcast (they derive from checkpointed RDDs with
    unknown stats, so the static planner otherwise sort-merges and
    re-exchanges the EDGE mass every round — the r13 iterative-graph
    fix). Default False: the direct-call skew tests pin the
    shuffle-join shape, and `connected_components` opts in."""
    lb = F.broadcast(labels) if broadcast_labels else labels
    neighbor_min = (
        edges.join(lb, edges.dst == lb.vertex)
        .groupBy("src")
        .agg(F.min("label").alias("nbr_label"))
    )
    if broadcast_labels:
        neighbor_min = F.broadcast(neighbor_min)
    return (
        labels.join(neighbor_min, labels.vertex == neighbor_min.src, "left")
        .select(
            "vertex",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
            (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                "_changed"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
    broadcast_labels: bool = True,
    check_every: int = 2,
) -> DataFrame:
    """(vertex, component) for every vertex appearing in `pairs`;
    component = min vertex id in its connected component.

    The label relation is vertex-sized — near-dup vertices are the
    docs that appear in a pair, far fewer than the corpus — and
    broadcasts into each round's edge join by default; pass
    ``broadcast_labels=False`` when the vertex set outgrows broadcast
    (the shuffle join + AQE skew split regime the tests pin).

    r14 round shape: the own-label floor folds INTO the neighbor-min
    join via SELF-LOOP edges (v, v) — min(label over nbrs ∪ self) is
    bit-identical to the old least(own, nbr-min) merge on exact
    integers, and the label state is then referenced exactly ONCE per
    round, so rounds chain LAZILY (no per-round localCheckpoint — each
    one paid a full driver planning + AQE stage-materialization pass).
    Convergence is checked every ``check_every`` rounds with the exact
    BIGINT label sum (labels only ever DECREASE under min-propagation,
    so an unchanged sum <=> no label changed — order-insensitive,
    engine-exact): one 1-row action per batch instead of a
    changed-count job per round. Up to ``check_every - 1`` rounds after
    convergence run idle (a vertex-keyed exchange each) — the knob
    trades that against per-round driver barriers; total rounds stay
    capped at ``max_iter`` either way, so results are identical to the
    per-round-check form on every input."""
    # Materialize the edge list once: it is re-joined every round, and
    # without a checkpoint each iteration would re-run the (possibly
    # expensive — LSH!) pair-producing pipeline from scratch.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .localCheckpoint(eager=False)
    )
    # Self-loops complete the round's min over {self} ∪ neighbors; the
    # vertex relation is the deduped endpoint set, so this adds
    # vertex-mass (not edge-mass) rows to each round's join.
    e2 = edges.unionAll(
        labels.select(F.col("vertex").alias("src"), F.col("vertex").alias("dst"))
    )

    # decimal(38,0) keeps the label sum EXACT at any vertex count (a
    # raw BIGINT sum could overflow on 64-bit hash ids at corpus
    # scale); non-numeric label types get the exact batch-boundary
    # inequality count instead.
    numeric_labels = dict(labels.dtypes)["label"] in (
        "tinyint", "smallint", "int", "bigint",
    )
    done = 0
    prev_sum = None
    prev_labels = labels
    while done < max_iter:
        batch = min(check_every, max_iter - done)
        for _ in range(batch):
            # fresh label column names per round: the label lineage
            # CONTAINS e2 (self-join shape), so dataframe-indexed
            # references would be ambiguous — name-based resolution
            # over the join output is not.
            lb = labels.select(
                F.col("vertex").alias("lvertex"), F.col("label").alias("llabel")
            )
            if broadcast_labels:
                lb = F.broadcast(lb)
            labels = (
                e2.join(lb, F.col("dst") == F.col("lvertex"))
                .groupBy("src")
                .agg(F.min("llabel").alias("label"))
                .select(F.col("src").alias("vertex"), "label")
            )
        done += batch
        # read twice: the convergence action below + the continuing chain
        labels = labels.localCheckpoint(eager=False)
        if numeric_labels:
            # 1-row scalar aggregate: the label sum, compared across rounds
            s = labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            ).collect()[0][0]
            if prev_sum is not None and s == prev_sum:
                break
            prev_sum = s
        else:
            old = prev_labels.select(
                F.col("vertex").alias("v0"), F.col("label").alias("l0")
            )
            changed = (
                labels.join(old, labels["vertex"] == old["v0"])
                .filter(F.col("label") != F.col("l0"))
                .count()
            )
            prev_labels = labels
            if changed == 0:
                break
    return labels.select("vertex", F.col("label").alias("component"))


def dedup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-dup groups: component id + member count per group
    (keep-one-per-group = filter vertex == component downstream)."""
    cc = connected_components(pairs, id_a, id_b)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    # component-sized aggregate of a checkpointed RDD (unknown stats) —
    # hint it broadcast instead of sort-merging the vertex relation
    return cc.join(F.broadcast(sizes), "component").select(
        "vertex", "component", "group_size"
    )

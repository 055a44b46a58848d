"""Connected components — cluster formation over near-duplicate pairs.

The dedup operators (minhash / simhash / ngram-jaccard) emit PAIRS; dropping
duplicates needs CLUSTERS (transitive closure) so exactly one canonical
document survives per group. Closure is iterative — outside a single SQL
statement's reach. An edge set that fits one partition's budget
(``ROWS_PER_PARTITION``) is collected and closed on the driver by
``union_find``, one whole-array numpy pass. A bigger one runs the
alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", ACM SoCC 2014) until it reaches its
fixpoint or shrinks into the budget: O(log² n) rounds, each two
groupBy+join pairs co-partitioned on the node key, and the edge set never
grows beyond the input — the published shape for trillion-edge graphs.

Driver involvement in a star round is one aggregate probe (edge count +
star-forest violation count, two longs); a per-round checkpoint
(``_caching.share``) truncates the lineage so the plan doesn't double each
iteration — local by default, and automatically RELIABLE (``.checkpoint()``
to the fault-tolerant store) once ``spark.sparkContext.setCheckpointDir``
is set.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._caching import share

# Edge budget of one partition: an edge set that fits it is closed on the
# driver, and each star round's output is coalesced to
# ``n_edges // ROWS_PER_PARTITION + 1`` partitions.
ROWS_PER_PARTITION = 1_000_000
# Bound on the alternating-star rounds (the loop converges in O(log² n));
# reaching it raises rather than iterating forever.
MAX_ROUNDS = 50


def union_find(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Connected components of the nodes ``0 .. n-1`` joined by the edges
    ``(a[i], b[i])``: returns ``parent``, where ``parent[x]`` is the
    smallest node of x's component.

    Root hooking: every edge between two different roots hooks the larger
    root under the smaller (``np.minimum.at``), then pointer jumping
    flattens every tree to its root; repeat until no edge joins two roots.
    Hooking roots, not nodes, merges whole trees each round; hooking nodes
    needs a round per step of the longest path, which on a chain is the
    whole graph. A node's parent never exceeds it, so every root is the
    smallest node of its tree. Whole-array numpy: no Python loop runs per
    node or edge."""
    parent = np.arange(n)
    while a.size:
        ra, rb = parent[a], parent[b]
        apart = ra != rb
        if not apart.any():
            break
        a, b, ra, rb = a[apart], b[apart], ra[apart], rb[apart]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            grand = parent[parent]
            if (grand == parent).all():
                break
            parent = grand
    return parent


def _large_star(e_down: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m(u) = min(Γ(u) ∪ {u}).

    ``e_down`` is a down-edge set (v < u on every row) — the loop
    invariant both stars preserve — and, from round 1's output on, a
    deduped one (round 1's input may repeat rows; see
    ``connected_components``). The symmetric neighborhood view is a
    shuffle-free union of the two orientations: they are DISJOINT row
    sets (one has v < u, the other v > u), so no distinct is needed —
    min-aggregations are duplicate-insensitive anyway, and the
    up-orientation rows are exactly one row per unordered edge, which is
    all the v > u emission below consumes.

    No trailing distinct: two sources (or a repeated input row) can emit
    the same (v, m), but the consumer ``_small_star`` is
    duplicate-tolerant and ends in the round's one distinct.
    """
    nbrs = e_down.union(
        e_down.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.where(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        # output rows have v = m(u) <= u < old-v = new-u: down-edges again
    )


def _small_star(e_down: DataFrame) -> DataFrame:
    """Within each node's smaller neighborhood, connect all to the minimum.

    ``e_down`` holds only down-edges (v < u), so each node's SMALLER
    symmetric neighbors are exactly its out-edges here — no
    symmetrization needed at all (an up-orientation row (b, a) with
    a > b contributes a to Γ(b) as a LARGER neighbor, which small-star
    ignores). Duplicate input rows are tolerated: they cannot change the
    min and the trailing distinct clears them from the output."""
    mins = e_down.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        e_down.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    return rewired.union(mins.select(F.col("u"), F.col("m").alias("v"))).distinct()


def _closed_on_driver(e: DataFrame) -> DataFrame:
    """(node, component) of the down-edge set ``e``, collected as Arrow and
    closed by ``union_find``. ``np.unique`` compacts the ids to indices in
    id order, so the smallest index of a component is its smallest id; the
    result is a local relation typed like the input's ids."""
    t = e.toArrow()
    ids, idx = np.unique(
        np.concatenate([t["u"].to_numpy(), t["v"].to_numpy()]),
        return_inverse=True,
    )
    n = t.num_rows
    parent = union_find(ids.size, idx[:n], idx[n:])
    id_type = t.schema.field("u").type
    return e.sparkSession.createDataFrame(
        pa.table(
            {
                "node": pa.array(ids, id_type),
                "component": pa.array(ids[parent], id_type),
            }
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the component
    id is the smallest node id in the component.

    The edge set is counted once. While the known edge count is above
    ``ROWS_PER_PARTITION``, alternating large-star/small-star rounds
    shrink it; each round ends in an aggregate probe — two longs cross the
    driver, never data — whose edge count is the next known count and sizes
    the next round's coalesce (``count / ROWS_PER_PARTITION`` partitions),
    so a graph that stays huge keeps its parallelism. A round that reaches
    the fixpoint (a forest of stars: every edge points child → component
    root) labels the nodes from that forest in Spark. An edge set that fits
    the budget — before round 1, or after any round — is collected and
    closed on the driver (``_closed_on_driver``): star rounds preserve both
    the components and the node set, so any round's edge set has the
    input's answer. A near-dup graph of thousands of edges therefore costs
    two Spark jobs (the count and the collect) and no star round.

    Pass ``stats={}`` to get ``stats["rounds"]`` back — the star rounds
    run (adversarial-topology tests assert the O(log n) bound; 0 when the
    input fits the budget).

    Edges with a NULL endpoint are excluded (explicitly — the inequality
    predicate would drop them anyway, but silently): an edge to an
    unknown node connects nothing, and its non-NULL endpoint appears in
    the output only if some complete edge mentions it.

    Reversed and repeated input edges need no dedup pass before round 1
    (at corpus scale that would be a full shuffle+aggregate of the edge
    set): orientation is a narrow projection, both stars and the union-find
    tolerate duplicate rows, and round 1 ends in small-star's distinct, so
    every round's output is the same edge set whether or not the input
    repeated an edge. Only the initial count, which gates and sizes round
    1, sees the repeats.
    """
    e = (
        # orient every edge DOWN (u > v): the loop invariant that lets both
        # star operations build their neighborhood views with a
        # shuffle-free union instead of a per-round symmetrize+distinct
        # exchange. (a,b)/(b,a) input pairs become repeated down-edges,
        # which round 1's distinct collapses.
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
    )
    # checkpoint once: the input is typically an expensive detector plan
    # (minhash/simhash), and the collect or round 1 would otherwise replay
    # it. LAZY: the count below materializes it, so the detector runs
    # exactly once but costs no standalone job. The count runs over the
    # plan's row RDD, one job: ``DataFrame.count()`` is an aggregate, which
    # adaptive execution runs as two (its shuffle-map stage, then the result).
    e = share(e)
    n_edges = e._jdf.queryExecution().toRdd().count()
    rounds = 0
    forest = False
    while not forest and n_edges > ROWS_PER_PARTITION:
        if rounds == MAX_ROUNDS:
            raise RuntimeError(
                f"connected_components: no fixpoint in {MAX_ROUNDS} rounds"
            )
        rounds += 1
        parts = min(n_edges // ROWS_PER_PARTITION + 1, 4096)
        # coalesce is narrow — merges, never reshuffles. Lazy checkpoint:
        # the probe right below materializes it (it runs over e's own RDD,
        # so the full rows persist as a side effect) — one job per round.
        e = share(_small_star(_large_star(e)).coalesce(parts))
        # Convergence: small_star emits only down-edges (child > parent),
        # and a down-edge set is a star forest — the algorithm's fixpoint —
        # iff no node is both a child (left) and a parent (right). Testing
        # that DIRECTLY detects the fixpoint on the round that REACHES it
        # (Kiveris et al. §3: both star operations leave a star forest
        # unchanged). One groupBy on the node id — same key distribution
        # as the round's own shuffles.
        probe = (
            e.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("u").alias("n"),
                            F.lit(1).alias("l"),
                            F.lit(0).alias("r"),
                        ),
                        F.struct(
                            F.col("v").alias("n"),
                            F.lit(0).alias("l"),
                            F.lit(1).alias("r"),
                        ),
                    )
                ).alias("s")
            )
            .select("s.*")
            .groupBy("n")
            .agg(F.sum("l").alias("ls"), F.max("r").alias("rr"))
        )
        row = probe.agg(
            F.sum("ls").alias("n_edges"),
            F.sum(
                F.when((F.col("ls") > 0) & (F.col("rr") > 0), 1).otherwise(0)
            ).alias("bad"),
        ).collect()[0]
        forest = not row.bad
        n_edges = row.n_edges or 0  # NULL ⇒ empty (a forest too)
    if stats is not None:
        stats["rounds"] = rounds
    if not forest:
        return _closed_on_driver(e)

    # At the fixpoint the down-edge set is a star forest over EXACTLY the
    # input's node set: both star operations preserve the node inventory
    # (large_star — a node with a smaller neighbor w re-emerges as a child
    # of m(w) via w's row, a locally-minimal node re-emerges as the parent
    # m(u) of its larger neighbors, a locally-maximal node as a child in
    # each smaller neighbor's row; small_star — every u survives via its
    # (u, m) row and every v either rewires to (v, m) or IS m and survives
    # as the parent), and a size-m component's star has m-1 edges, so no
    # component ever empties. The output therefore derives from the final
    # edge set alone: children label with their (unique at fixpoint)
    # parent, parents label with themselves — no separate node inventory
    # off the input, no final left join.
    labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    roots = e.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    return labels.union(roots)


def keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except one canonical survivor per cluster
    (the smallest id). Docs not in any pair pass through untouched — the
    anti-join only shuffles the (tiny) non-canonical id set against the
    corpus, broadcast when it fits."""
    comp = connected_components(pairs, src=id_a, dst=id_b)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """``keep_canonical`` with a POLICY: per near-dup cluster keep the row
    with the highest ``score_col`` (ties → smallest id) instead of blindly
    the smallest id — quality-aware survivor selection, the step that turns
    "drop duplicates" into "drop the WORSE copies". ``docs`` must carry
    ``score_col``; docs in no pair pass through untouched. The ranking
    window runs only over clustered docs (the component table is the dup
    set, a vanishing fraction of the corpus), so its shuffle is
    proportional to the duplicates, never the corpus."""
    from pyspark.sql import Window

    comp = connected_components(pairs, src=id_a, dst=id_b)
    scored = comp.join(
        docs.select(
            F.col(id_col).alias("node"), F.col(score_col).alias("__s")
        ),
        "node",
    )
    w = Window.partitionBy("component").orderBy(F.desc("__s"), F.col("node"))
    losers = (
        scored.select("node", F.row_number().over(w).alias("__rn"))
        .where(F.col("__rn") > 1)
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank with uniform teleport and dangling-mass
    redistribution — ``(node, pr)`` after a FIXED number of power
    iterations (deterministic, so an unrolled SQL oracle can replay it).

    Each iteration is exactly one shuffle: ranks join the out-normalized
    edge list on the source key, contributions aggregate on the
    destination key (map-side combined). The node count and the dangling
    mass ride as broadcast one-row aggregates — no driver-side scalars, no
    collect. At 100 TB: pre-partition ``edges`` by ``src`` once and every
    iteration's join co-locates. Each iteration's ranks are shared
    (``_caching.share``, the same lazy checkpoint as connected_components'
    rounds), which truncates the lineage.

    The fixed-iteration form is the batch twin of an incremental-update
    scheme; for rank CONVERGENCE run more rounds — 3 is enough for the
    short-random-walk signal ranking training-corpus link graphs by
    centrality.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    # drop NULL-endpoint edges and non-positive/NULL weights: a weight
    # that can't carry probability mass contributes nothing, and a src
    # whose weights sum to 0 would make the out-normalization divide by
    # zero (a job abort under ANSI mode)
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d"), w.alias("__w")
    ).filter(
        F.col("__s").isNotNull()
        & F.col("__d").isNotNull()
        & (F.col("__w") > 0)
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    outsum = e.groupBy("__s").agg(F.sum("__w").alias("__wout"))
    enorm = e.join(outsum, "__s").select(
        "__s", "__d", (F.col("__w").cast("double") / F.col("__wout")).alias("__p")
    )
    srcs = outsum.select(F.col("__s").alias("node"))

    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            ranks.join(enorm, ranks["node"] == enorm["__s"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("pr") * F.col("__p")).alias("__c"))
        )
        dangling = ranks.join(srcs, "node", "left_anti").agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("__dm")
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_row))
            .crossJoin(F.broadcast(dangling))
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.col("__dm") / F.col("__n")
                    )
                ).alias("pr"),
            )
        )
        # the next iteration reads ranks twice (contributions and dangling
        # mass): without a checkpoint the plan doubles every iteration
        ranks = share(ranks)
    return ranks

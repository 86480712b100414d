"""Connected components via alternating large-star / small-star joins.

GraphFrames-style iterative DataFrame algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public method):
alternate two rounds until the edge set is a fixpoint; each round is a
groupBy-min + join, so the whole thing is shuffle-bound and converges in
O(log n) rounds. Every round is checkpoint-truncated (via
:func:`nativeextractor_spark.staging.materialize`: a local checkpoint on a
local master, a reliable one elsewhere) to keep the plan/lineage from
growing exponentially.

Output: (node, component) with component = min node id of the component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nativeextractor_spark.staging import stage


def _symmetric(edges: DataFrame) -> DataFrame:
    return edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect neighbors larger than u to min(Γ(u) ∪ {u})."""
    sym = _symmetric(edges)
    mins = sym.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.select("u", F.least("u", "_mv").alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low; connect each low neighbor (and u) to the min.

    Deliberately join-based, NOT ``collect_set``: a hot component root would
    funnel its entire (possibly huge) neighbor set into one reducer's
    aggregation state, which nothing can split. As a join, min-per-key is
    algebraic (map-side partial) and AQE's skew-join splitting can shard the
    hot key's probe side across tasks.
    """
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        nbr_edges.unionByName(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _driver_union_find(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Path-compressed union-find; component id = min node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the root IS the component id
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    edges: DataFrame, max_iterations: int = 20, driver_threshold: int = 100_000
) -> DataFrame:
    """edges(u long, v long) → (node long, component long).

    Isolated nodes (self-loops or u==v rows) are preserved as their own
    component.

    Size-adaptive: below ``driver_threshold`` distinct edges the O(log n)
    star rounds cost more in fixed per-job overhead than the data is worth —
    a driver-side union-find over the (tiny) edge list replaces ~2·rounds
    Spark jobs with one collect. Above it, the distributed large-star /
    small-star alternation runs as before (the 100 TB path; entity-graph
    edges are distinct-surface pairs, orders of magnitude smaller than the
    corpus, but can still be billions — hence both).
    """
    cur = edges.select("u", "v").where(F.col("u") != F.col("v")).distinct()
    singletons = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
    )

    cur = cur.transform(stage("cc"))
    if cur.count() <= driver_threshold:
        spark = edges.sparkSession
        pairs = [(r.u, r.v) for r in cur.collect()]
        membership = spark.createDataFrame(
            _driver_union_find(pairs) or [(None, None)],
            "node long, component long",
        ).where(F.col("node").isNotNull())
        roots = singletons.join(
            membership.select("node"), "node", "left_anti"
        ).select("node", F.col("node").alias("component"))
        return membership.union(roots)

    def _sig(df: DataFrame) -> tuple:
        # one-job fixpoint signature: both sides are distinct edge sets, so
        # (count, xor-of-hashes) equality is a reliable set-equality check
        # (bit_xor cannot overflow under ANSI mode, unlike sum)
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row.n, row.h)

    cur_sig = _sig(cur)
    for _ in range(max_iterations):
        after_large = _large_star(cur)
        after_small = _small_star(after_large).transform(stage("cc"))
        new_sig = _sig(after_small)
        cur = after_small
        if new_sig == cur_sig:
            break
        cur_sig = new_sig
    # star graph: every non-root points at its component root
    membership = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = singletons.join(
        membership.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return membership.union(roots)

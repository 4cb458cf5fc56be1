"""Connected components over candidate-pair graphs → dedup clusters.

The dedup operators (operators/dedup.py) emit PAIR lists (id1, id2). A
real corpus-prep pipeline must resolve those pairs into CLUSTERS and pick
one canonical document per cluster — duplicate groups are transitive
(A~B, B~C → {A,B,C} even when A~C itself fell below threshold), so this
is graph connected components, not another join.

Scale design (the part that matters at 100 TB):
- min-label propagation with POINTER JUMPING: each round sets
  l(v) <- min(l(v), min_{u in N(v)} l(u), l(l(v))). The extra l(l(v))
  hop halves chain depth per round, so convergence is O(log diameter)
  rounds instead of O(diameter) — the difference between 5 and 5,000
  Spark jobs on a pathological chain of near-dups.
- every shuffle carries ids only (two longs per row); texts/vectors
  never enter the loop.
- convergence is detected by an exact changed-label count carried
  THROUGH the round (each row knows its previous label, so the round's
  own aggregate counts `l != old_l` — no extra old-vs-new join, no
  numeric-cast trick, and it works for any id type including string
  content hashes).
- lineage is cut each round (localCheckpoint) so the plan does not grow
  by two joins per iteration — without this, round k replays rounds
  1..k-1 and the driver eventually dies on plan size.

Reference lineage: matric has no clustering (its `sim_df` stays a pair
list end-to-end, R/sim_calculate.R); this is new Spark-native
engineering for the training-data dedup suite, following the
large-star/small-star family (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) in its hash-partitioned, ids-only shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# pair lists up to this many edges are solved on the driver by union-find
_LOCAL_EDGES = 200_000
# pointer jumping converges in O(log diameter) rounds; this is the guard
_MAX_ROUNDS = 50


def connected_components(
    pairs: DataFrame, src: str = "id1", dst: str = "id2"
) -> DataFrame:
    """Resolve an undirected pair list into components.

    Returns DataFrame[v, cluster_id] covering every node that appears in
    `pairs` — including nodes whose only pairs are self-loops, which come
    out as singleton clusters; cluster_id is the MINIMUM node id of the
    component (stable, order-free; lexicographic minimum for string ids).
    Nodes absent from `pairs` are singletons by definition and are not
    emitted — callers wanting them can left-join this result onto the
    full id set and coalesce(cluster_id, id).

    The path is a cost-based switch in the spirit of matric's
    filter-strategy switch (R/sim_filter.R:179-206): a pair list small
    enough to hold on the driver (<= `_LOCAL_EDGES` edges) is solved by
    exact union-find in one collect — O(E α(E)) with zero Spark rounds,
    the right call when near-dup candidates are a sliver of the corpus —
    while anything larger runs the distributed label-propagation loop
    (at most `_MAX_ROUNDS` rounds). Both paths are differential-tested
    against a Python union-find (tests/test_linkage.py).
    """
    id_type = pairs.schema[src].dataType.simpleString()
    # materialize the edge list ONCE: upstream pair generation is
    # typically an expensive dedup pipeline (shingle joins, LSH), and
    # both the path decision and every propagation round would
    # otherwise re-evaluate it from scratch per action
    e = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    if e.count() <= _LOCAL_EDGES:
        return _local_components(pairs.sparkSession, e.collect(), id_type)
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # seed labels from EVERY node in the raw edge list (both endpoints,
    # self-loops included) so self-loop-only nodes surface as singletons
    labels = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .distinct()
        .withColumn("l", F.col("v"))
        .localCheckpoint(eager=True)
    )

    for _ in range(_MAX_ROUNDS):
        nbr_min = (
            sym.join(
                labels.select(F.col("v").alias("b"), F.col("l").alias("nl")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nl").alias("nbr_l"))
            .withColumnRenamed("a", "v")
        )
        stepped = labels.join(nbr_min, "v", "left").select(
            "v",
            F.col("l").alias("old_l"),
            F.least("l", F.coalesce("nbr_l", "l")).alias("l"),
        )
        # pointer jump: follow the label one hop (l <- min(l, l(l)))
        jumped = stepped.join(
            labels.select(F.col("v").alias("l"), F.col("l").alias("ll")),
            "l",
            "left",
        ).select("v", "old_l", F.least("l", F.coalesce("ll", "l")).alias("l"))
        labels = jumped.localCheckpoint(eager=True)
        # exact, type-generic fixpoint test: the round carried each row's
        # previous label, so ONE aggregate action counts changes — no
        # numeric cast (a decimal cast of string ids silently NULLed the
        # old sum-based detector and broke the loop after round 1)
        n_changed = labels.filter(F.col("l") != F.col("old_l")).count()
        labels = labels.drop("old_l")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {_MAX_ROUNDS} rounds"
        )
    return labels.select("v", F.col("l").alias("cluster_id"))


def _local_components(spark, edges, id_type: str) -> DataFrame:
    """Driver-side union-find (path halving + min-root union) over a
    collected edge list; returns the same (v, cluster_id) frame as the
    distributed path."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for row in edges:
        a, b = row[0], row[1]
        # find() registers both endpoints, so self-loop-only nodes come
        # out as singletons (same contract as the distributed path)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(v, find(v)) for v in parent]
    return spark.createDataFrame(
        out, f"v {id_type}, cluster_id {id_type}"
    )


def dedup_clusters(
    pairs: DataFrame, id1: str = "id1", id2: str = "id2"
) -> DataFrame:
    """Cluster membership for every doc in a dup-pair list:
    DataFrame[doc_id, cluster_id, cluster_size], cluster_id = min doc id
    of the cluster (the canonical representative — keep `doc_id ==
    cluster_id`, drop the rest)."""
    cc = connected_components(pairs, src=id1, dst=id2)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    # NOT broadcast: at corpus scale the cluster list is itself huge
    # (every dup group), so this is a plain shuffle join on cluster_id;
    # AQE downgrades it to broadcast automatically when small.
    return (
        cc.select(F.col("v").alias("doc_id"), "cluster_id")
        .join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
    )


def cluster_size_stats(clusters: DataFrame) -> DataFrame:
    """Cluster-size histogram over dedup_clusters output — the report a
    storage owner reads BEFORE deleting: how many dup groups of each
    size exist, how many docs they hold, and how many rows dedup would
    remove (size − 1 per cluster, keeping the canonical).

    Input is (doc_id, cluster_id, cluster_size); the histogram is two
    small aggregates over the cluster list (distinct (cluster, size),
    then a groupBy(size) — both tiny relative to the corpus).
    """
    sizes = clusters.select("cluster_id", "cluster_size").distinct()
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1))).alias(
            "n_removable"
        ),
    )

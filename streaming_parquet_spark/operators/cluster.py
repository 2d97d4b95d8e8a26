"""Duplicate-cluster construction: connected components over near-dup
pairs (the final stage of a fuzzy-dedup pipeline: pairs -> clusters ->
keep one representative per cluster).

Two interchangeable Spark-first iterations, same signature and same
fixpoint (component = min reachable id):

* ``connected_components`` — min-label propagation: every node starts
  labeled with itself; each round a node adopts the minimum label in
  its neighborhood (one join + one groupBy-min per round); converges in
  O(graph diameter) rounds. Near-dup graphs are unions of small
  quasi-cliques, so the diameter — and round count — is tiny in
  practice.
* ``connected_components_star`` — large-star/small-star edge
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014): alternating rounds rewire every edge toward the
  neighborhood minimum, converging in O(log^2 n) — the extreme-scale
  swap when a component's diameter is adversarially long (chains) and
  label propagation would need O(diameter) shuffles.

Both run the per-round convergence check as an Observation riding the
round's own materialization job (no data collected to the driver).

The reference has no clustering of any kind (SURVEY §2.11 extension).
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    Observation,
    Window as W,
    functions as F,
)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected graph given by pair rows.

    Returns (id, component) where component = min node id reachable
    from id. Only nodes appearing in ``pairs`` are returned (isolated
    docs are their own cluster by definition — callers left-join).

    ``max_iter`` must be >= 1: since r16 ``max_iter=0`` raises
    ``ValueError`` instead of returning the unpropagated labels.
    """
    if max_iter < 1:
        # the initial label set is lazy (it rides round 1's job); with
        # no rounds the returned frame would hang off checkpoint blocks
        # the finally block below has already released
        raise ValueError(f"max_iter must be >= 1 (got {max_iter})")
    # Materialize the pair list ONCE: it feeds both union branches and
    # every iteration, and without this the (potentially expensive)
    # upstream pair-generation lineage — e.g. an LSH band join — would
    # re-execute per round. The count also right-sizes the iterative
    # stage: a near-dup graph is tiny relative to the corpus (pairs ~
    # dup-rate x docs), and launching defaultParallelism tasks per round
    # on a few-hundred-edge graph makes fixed scheduling cost dominate
    # (measured ~0.7 s/round at 32 threads vs ~0.1 s right-sized).
    # ~100k edges per partition keeps each task meaningful at scale;
    # coalesce never shuffles and is a no-op when p >= current.
    spark = pairs.sparkSession
    base = pairs.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).persist()
    n_pairs = base.count()
    p = max(
        1,
        min(spark.sparkContext.defaultParallelism, n_pairs // 100_000 + 1),
    )
    e = base.coalesce(p)
    edges = (
        e.select(F.col("s").alias("a"), F.col("d").alias("b"))
        .union(e.select(F.col("d").alias("a"), F.col("s").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    # NOT eagerly checkpointed: the initial label set is consumed
    # exactly once (round 1's join), whose own checkpoint then replaces
    # it — an eager materialization here is one whole extra fixed-cost
    # job per CC call (the rounds are job-latency-bound: near-dup
    # graphs are tiny after coalesce). The lineage below round 1 stays
    # O(1) because it hangs off the edges checkpoint.
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    try:
        for _ in range(max_iter):
            # Each node pulls the min label among itself and its
            # neighbors. The node's own row carries its previous label in
            # old_comp, so the convergence count rides the SAME action as
            # the label materialization (Observation) — one job per
            # round, not a separate compare join.
            neighbor_labels = (
                edges.join(labels, edges.b == labels.id)
                .select(
                    F.col("a").alias("id"),
                    "component",
                    F.lit(None).cast("long").alias("old_comp"),
                )
            )
            merged = labels.select(
                "id", "component", F.col("component").alias("old_comp")
            ).unionByName(neighbor_labels)
            obs = Observation()
            new_labels = (
                merged.groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.max("old_comp").alias("old_comp"),
                )
                .observe(
                    obs,
                    F.sum(
                        F.when(
                            F.col("component") != F.col("old_comp"), 1
                        ).otherwise(0)
                    ).alias("changed"),
                )
                .select("id", "component")
                # localCheckpoint keeps each round's plan O(1), not O(rounds)
                .localCheckpoint(eager=True)
            )
            changed = int(obs.get["changed"] or 0)
            labels.unpersist()  # release the previous round's blocks
            labels = new_labels
            if changed == 0:
                break
    finally:
        edges.unpersist()
    return labels


def connected_components_star(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC 2014 — public algorithm). Same contract as
    ``connected_components``: returns (id, component) with component =
    min reachable node id, only for nodes appearing in ``pairs``.

    Each round alternates two edge rewrites, each ONE window shuffle:

    * large-star — for every node u with neighborhood G(u), connect
      each strictly LARGER neighbor v > u to m = min(G(u) + {u}):
      long chains contract toward small ids in halving steps;
    * small-star — orient edges large->small, and for every node h
      connect each smaller neighbor and h itself to m = min of the
      smaller neighborhood: turns each local tree into a star.

    Converges in O(log^2 n) rounds regardless of component diameter —
    the property min-label propagation lacks — at the cost of touching
    the edge set (not the label set) each round. At fixpoint the edge
    set is a star forest: every edge is (node -> its component min).
    Rewire counts ride each phase's materialization as Observations;
    the driver sees two scalars per round."""
    spark = pairs.sparkSession
    # The self-pair count rides the sizing count as an Observation —
    # one action answers both questions, no extra job.
    obs_self = Observation()
    base = (
        pairs.select(
            F.col(src_col).cast("long").alias("s"),
            F.col(dst_col).cast("long").alias("d"),
        )
        .observe(
            obs_self,
            F.sum((F.col("s") == F.col("d")).cast("long")).alias("n_self"),
        )
        .persist()
    )
    n_pairs = base.count()
    n_self = int(obs_self.get["n_self"] or 0)
    # Right-size like connected_components: the dup graph is tiny
    # relative to the corpus; full-width rounds are scheduling overhead.
    p = max(
        1,
        min(spark.sparkContext.defaultParallelism, n_pairs // 100_000 + 1),
    )
    edges = (
        base.coalesce(p)
        .filter(F.col("s") != F.col("d"))
        .select(F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Self-pairs carry no connectivity but DO put their node in the
    # output (contract: every node appearing in ``pairs``) — the label
    # version gets this for free; track them explicitly here. Pair
    # generators emit id_a < id_b, so the common case is ZERO
    # self-pairs: substitute an empty literal (no job, and no lineage
    # hanging off the caller's possibly-expensive pair frame after
    # base is unpersisted). Only when self-pairs exist is the eager
    # checkpoint paid, while base is still cached.
    if n_self == 0:
        singles = spark.createDataFrame([], "id long, component long")
    else:
        singles = (
            base.filter(F.col("s") == F.col("d"))
            .select(F.col("s").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
            .localCheckpoint(eager=True)
        )
    base.unpersist()

    for _ in range(max_iter):
        # -- large-star: for each u (as source, both orientations),
        # m = min(neighbors + self); rewire larger neighbors to m.
        bidir = edges.unionByName(
            edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        wl = W.partitionBy("s")
        obs_l = Observation()
        ls = (
            bidir.withColumn(
                "m", F.least(F.min("d").over(wl), F.col("s"))
            )
            .filter(F.col("d") > F.col("s"))
            # rewired iff the larger neighbor's new target m differs
            # from its old target s
            .observe(
                obs_l,
                F.sum(
                    (F.col("m") != F.col("s")).cast("long")
                ).alias("rewired"),
            )
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rewired_l = int(obs_l.get["rewired"] or 0)

        # -- small-star: edges are (larger -> smaller) after
        # large-star; for each larger endpoint h, m = min of its
        # smaller neighborhood; connect every smaller neighbor and
        # h itself to m. flag marks actual rewires (l != m).
        ws = W.partitionBy("s")
        star = ls.withColumn("m", F.min("d").over(ws))
        rewires = star.filter(F.col("d") != F.col("m")).select(
            F.col("d").alias("s"),
            F.col("m").alias("d"),
            F.lit(1).alias("flag"),
        )
        spokes = star.select("s", F.col("m").alias("d"), F.lit(0).alias("flag"))
        obs_s = Observation()
        ss = (
            rewires.unionByName(spokes)
            .observe(obs_s, F.sum("flag").alias("rewired"))
            .select("s", "d")
            .distinct()
            .localCheckpoint(eager=True)
        )
        rewired_s = int(obs_s.get["rewired"] or 0)

        edges.unpersist()
        edges = ss
        if rewired_l == 0 and rewired_s == 0:
            break

    # Star forest -> labels: every edge is (member -> component min);
    # the final edge checkpoint stays live — the returned frame reads it
    # (same lifetime discipline as connected_components' final labels).
    # centers label themselves. groupBy-min guards the (max_iter hit
    # before convergence) partial case with the same fixpoint semantics.
    members = edges.select(F.col("s").alias("id"), F.col("d").alias("component"))
    centers = (
        edges.select(F.col("d").alias("id"))
        .withColumn("component", F.col("id"))
    )
    return (
        members.unionByName(centers)
        .unionByName(singles)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def dedup_clusters(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    algorithm: str = "label",
) -> DataFrame:
    """Cluster summary over near-dup pairs: one row per duplicate
    cluster with the representative (min id) and the member count.
    Downstream dedup keeps rep_id and drops the other members.

    ``algorithm``: "label" (min-label propagation, O(diameter) rounds —
    right for quasi-clique dup graphs) or "star" (large-star/small-star,
    O(log^2 n) rounds — right for adversarial diameters). Identical
    fixpoint, so results match row-for-row."""
    cc = {"label": connected_components, "star": connected_components_star}[
        algorithm
    ]
    comp = cc(pairs, src_col, dst_col)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(
            F.col("component").alias("rep_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
        )
    )


def cluster_representatives(
    pairs: DataFrame,
    docs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    algorithm: str = "label",
) -> DataFrame:
    """Quality-aware representative selection: cluster the near-dup
    graph, then keep the highest-``quality_col`` member of each cluster
    (ties broken by min id) instead of the arbitrary min-id rule — the
    "keep the best copy" policy (longest text, highest quality score,
    freshest crawl) used when dropping near-duplicates.

    Output: one row per cluster — component, rep_id (the argmax
    member), best quality value, cluster_size.

    Plan: components (iterative, see connected_components*) -> join the
    member ids back to ``docs`` (the dup graph is tiny relative to the
    corpus, so the component map broadcasts; at extreme scale it's a
    shuffle equi-join on the id) -> max_by argmax per component: a
    single partial-aggregated shuffle carrying (quality, id) pairs, no
    window over member rows."""
    cc = {"label": connected_components, "star": connected_components_star}[
        algorithm
    ]
    comp = cc(pairs)
    members = comp.join(
        docs.select(
            F.col(id_col).alias("id"), F.col(quality_col).alias("__q")
        ),
        "id",
    )
    # argmax = max over (quality, -id): max_by with a struct key gives
    # the lexicographic max, so negate the id to break ties downward.
    key = F.struct(F.col("__q").alias("q"), (-F.col("id")).alias("nid"))
    return (
        members.groupBy("component")
        .agg(
            F.max_by(F.col("id"), key).alias("rep_id"),
            F.max("__q").alias("best_quality"),
            F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        )
    )

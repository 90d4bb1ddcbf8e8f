"""Graph operators for dedup pipelines: connected components over a
candidate-pair edge list (BASELINE north star — the clustering step that
turns pairwise near-duplicate candidates into dedup *groups*, so "keep one
doc per component" becomes a single argmin per cluster).

100 TB design notes
-------------------
* The algorithm is iterative **min-label propagation**: every node adopts
  the minimum label among itself and its neighbors until a fixpoint. Each
  round is two hash-shuffles (edge⋈label join + per-node min); rounds =
  O(component diameter). Near-dup graphs are overwhelmingly tiny, shallow
  components (pairs/triangles — measured diameter ≤ 3 on the fixture
  corpus), so the loop converges in a handful of rounds; for adversarial
  long-chain graphs the classic large-star/small-star variant (Kiveris et
  al. 2014) halves path lengths per round and drops in here without
  changing the output contract.
* This is a *driver-side loop over distributed operations* — the per-round
  convergence test is one scalar ``count``, never a ``collect`` of data
  rows, and lineage is cut per round with ``localCheckpoint`` so plan
  depth and task-deserialization cost stay constant regardless of round
  count (an un-checkpointed loop doubles the plan each round and dies at
  ~15 iterations).
* The label table carries exactly (node, label) — two longs — and every
  shuffle key is a node id: uniform, payload-free, skew only if one node
  has pathological degree (which the LSH bucket cap upstream already
  bounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixpoint-loop bound: propagation rounds equal the largest component
#: diameter; 20 covers any realistic dedup graph (and the loop exits the
#: moment a round changes nothing).
CC_MAX_ITER = 20


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = CC_MAX_ITER,
) -> DataFrame:
    """Label each node of the undirected ``edges`` graph with the minimum
    node id reachable from it. Output: (doc_id, cluster_id), one row per
    node that appears in at least one edge.

    Raises ``RuntimeError`` if the fixpoint is not reached in ``max_iter``
    rounds — a diameter that large means the input is not a dedup graph
    and the large-star/small-star variant should be used instead.
    """
    from pyspark.sql import Observation

    from financial_big_data_exp_4_spark.session import (
        plan_size_bytes,
        scoped_sql_conf,
    )

    spark = edges.sparkSession
    # Catalyst's size estimate for the edge input — exact when `edges`
    # is the memoized/cached candidate-pair table (the production
    # caller), a planner-grade estimate otherwise. Decides the tiny-
    # graph execution regime below; read BEFORE any transformation so
    # the estimate reflects the actual input relation.
    est_bytes = plan_size_bytes(edges)
    try:
        dop = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover - conf read on odd builds
        dop = 200

    # Tiny-graph regime decided UP FRONT (≤ 64 MB edge input — a
    # planner-grade threshold, exact for the cached pair table): the
    # edge/seed checkpoints and every fixpoint round's work are KB-scale
    # there, so the dominant cost is pure scheduler floor — adaptive
    # re-planning materializes every exchange as its own job (~3
    # jobs/round measured vs 1 without), and a loop whose per-round data
    # cost is negligible gains nothing from runtime re-optimization. The
    # whole CC computation therefore runs its OWN actions with AQE off
    # in that regime; the caller's session is untouched (scoped,
    # exception-safe). Large graphs keep AQE (skew handling matters
    # there) — and keep the same co-partitioned zero-exchange joins.
    tiny = est_bytes is not None and est_bytes <= 64 * 1024 * 1024
    loop_confs = {"spark.sql.adaptive.enabled": "false"} if tiny else {}

    with scoped_sql_conf(spark, loop_confs):
        # CO-PARTITIONED, SORTED ITERATION STATE: edges are
        # checkpointed hash-partitioned AND sorted on the join side `v`;
        # every label frame is produced (and re-checkpointed) partitioned on
        # `node` with the same partition count. Both joins in a propagation
        # round then satisfy their distribution requirements from the
        # checkpointed layout — the edge⋈label join and the label⋈nbr_min
        # join need NO exchange and NO broadcast (a broadcast exchange costs
        # a scheduler job per round even for a KB label table), leaving ONE
        # exchange per round (the per-node min) and zero re-sorts of the
        # edge side. This is the Pregel/GraphX layout discipline: pay one
        # partitioning pass up front, iterate in place. Holds at any scale —
        # no size assumption, the partition count is the session's
        # input-tuned DOP.
        sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        sym = (
            sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition(dop, F.col("v"))
            .sortWithinPartitions("v")
            .localCheckpoint(eager=True)  # edges reused every round: cut the
            # upstream (possibly expensive) candidate-generation lineage once
        )

        # Seed = min(self ∪ neighbors), a single grouped aggregate. This IS
        # propagation round 1: with identity labels, the neighbor-label join
        # joins every v to lbl(v) = v, so the join is redundant and the round
        # collapses to one agg over the edge list — same result, one shuffle
        # instead of three, no action. For LSH candidate graphs this alone
        # finishes most components: every band bucket emits a clique, and a
        # clique converges at round 1 (everyone sees the bucket minimum).
        # NOT checkpointed: the seed aggregate's output is already
        # hash-partitioned on u(=node) at the loop DOP, so batch 0's
        # propagation fuses with it into ONE job — materializing the
        # seed separately would buy nothing (batch 0's checkpoint cuts
        # the lineage) and cost one more scheduler round trip.
        labels = (
            sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("lbl"))
            .select(F.col("u").alias("node"), "lbl")
        )

        def propagate(lbls: DataFrame) -> DataFrame:
            # merge-join hint: both sides are co-partitioned AND sorted
            # on the join key by the checkpointed layout, so the SMJ is
            # exchange-free and sort-free. Left to itself Catalyst
            # prefers BROADCASTING the (tiny) edge side — which costs a
            # broadcast-materialization job EVERY round; the hint keeps
            # the zero-exchange co-partitioned plan that the layout
            # discipline already paid for (measured: 4 → 1 job per
            # batch at sf0.1).
            nbr_min = (
                sym.hint("merge")
                .join(lbls, sym["v"] == lbls["node"])
                .select(sym["u"].alias("node"), F.col("lbl"))
                .groupBy("node")
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            return lbls.join(nbr_min, "node", "left").select(
                "node",
                F.col("lbl"),
                F.coalesce(F.col("nbr_lbl"), F.col("lbl")).alias("nbr_lbl"),
            )

        # Adaptive batch schedule: the first batch is ONE propagation — for
        # LSH candidate graphs the seed already converged every clique-shaped
        # component (diameter 1, the overwhelming majority), so the first
        # batch is usually pure certification and should be as cheap as
        # possible. Later batches run TWO propagations per materialization+
        # convergence check (inner round unmaterialized, folding its min into
        # the label column; the outer round's (lbl, nbr_lbl) pair carries the
        # batch's change test) — each Spark action costs a fixed scheduler
        # floor on top of the (tiny) shuffle work, so batching halves the
        # action count once real propagation is happening. No change across a
        # batch ⟺ the outer round changed nothing AND monotonicity (a no-op
        # round makes every later round a no-op) extends it backward.
        # The convergence scalar RIDES the checkpoint materialization as an
        # observed metric (one action per batch, not two).
        for batch in range(max_iter):
            step = labels
            if batch > 0:
                step = propagate(step).select(
                    "node",
                    F.least(F.col("lbl"), F.col("nbr_lbl")).alias("lbl"),
                )
            obs = Observation()
            step = (
                propagate(step)
                .observe(
                    obs,
                    F.sum(
                        (F.col("nbr_lbl") < F.col("lbl")).cast("long")
                    ).alias("changed"),
                )
                .sortWithinPartitions("node")
                .localCheckpoint(eager=True)
            )
            changed = obs.get["changed"] or 0
            labels = step.select(
                "node", F.least(F.col("lbl"), F.col("nbr_lbl")).alias("lbl")
            )
            if changed == 0:
                # the outer round was a no-op; by monotonicity the batch
                # is at the fixpoint — but the inner round may still have
                # changed labels, which `labels` already includes
                return labels.select(
                    F.col("node").alias("doc_id"),
                    F.col("lbl").alias("cluster_id"),
                )
    raise RuntimeError(
        # batch 0 runs ONE propagation, batches 1..max_iter-1 run two
        f"connected_components: no fixpoint after {2 * max_iter - 1} "
        "rounds (component diameter too large — use large-star/small-star)"
    )


def connected_components_twostar(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = CC_MAX_ITER,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    — the adversarial-graph variant of :func:`connected_components`.

    Min-label propagation needs O(diameter) rounds; two-star needs
    O(log n) regardless of diameter, because each round re-wires nodes
    directly toward the component minimum (path halving). Use it when the
    candidate graph may contain long chains (e.g. near-dup edges over
    shifting boilerplate); output contract is identical:
    (doc_id, cluster_id = component minimum), one row per node with ≥ 1
    edge.

    Per round: two grouped aggregates keyed by node id (uniform keys,
    2-long rows) and one distinct — same shuffle shape as one propagation
    round, but the round COUNT is diameter-independent. The fixpoint test
    is exact (two ``exceptAll`` probes with ``limit(1)``, not a checksum),
    and lineage is cut per round with ``localCheckpoint``.

    * large-star: for each node u, every *larger* neighbor is re-wired to
      ``m = min(Γ(u) ∪ {u})``.
    * small-star: edges oriented (big → small); each big node and its
      smaller neighbors all re-wire to their collective minimum.
    Stars (every non-min node pointing straight at its component min) are
    the joint fixpoint; labels read directly off the final edge set.
    """
    # no cast: the algorithm needs only a consistent ORDERING on ids
    # (greatest/least/min), so any orderable id type works — exactly the
    # sibling connected_components' contract (round-10 review: the old
    # cast("long") aborted under ANSI, or silently nulled every id with
    # ANSI off, on string-keyed edge lists the sibling handles fine)
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # node inventory BEFORE dropping self-loops: a node whose only edge is
    # (x, x) is still a (singleton) component — same contract as
    # connected_components
    all_nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    canon = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # v > u ≥ m, so (v, m) is already canonical (big, small)
        return (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # e is canonical (u > v); min over smaller neighbors is < u
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            e.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        center = mins.select(F.col("u"), F.col("m").alias("v"))
        out = rewired.union(center)
        return out.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).where(F.col("u") != F.col("v"))

    e = canon
    for _ in range(max_iter):
        e_next = (
            small_star(large_star(e)).distinct().localCheckpoint(eager=True)
        )
        stable = (
            e_next.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(e_next).limit(1).count() == 0
        )
        e = e_next
        if stable:
            star = e.select(
                F.col("u").alias("node"), F.col("v").alias("lbl")
            )
            return (
                all_nodes.join(star, "node", "left")
                .select(
                    F.col("node").alias("doc_id"),
                    F.coalesce(F.col("lbl"), F.col("node")).alias(
                        "cluster_id"
                    ),
                )
            )
    raise RuntimeError(
        f"connected_components_twostar: no fixpoint after {max_iter} rounds"
    )


def triangle_count(
    edges: DataFrame, src: str = "vec_a", dst: str = "vec_b"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    local-clustering signal used to separate dense near-dup cliques from
    chance bucket collisions in a candidate graph.

    The degree-ordered distributed formulation (the MapReduce triangle
    classic — Suri & Vassilvitskii, "Counting Triangles and the Curse of
    the Last Reducer", WWW'11): every edge is directed from its
    lower-(degree, id) endpoint to its higher one, wedges come from the
    edge⋈edge self-join on the SOURCE vertex, and a wedge (u→v, u→w)
    closes iff the directed edge v→w exists — a second equi-join, no NxN
    anywhere. Orienting by degree (ids only break ties) bounds wedge
    generation by Σ out-deg(v)² = O(m^1.5) instead of the naive
    Σ deg(v)²: a hub of degree d generates 0 wedges as a source unless
    its neighbors are even higher-degree, so dense near-dup cliques and
    skewed hubs — exactly what LSH candidate graphs produce — cost
    dramatically less (measured at sf0.1: 3.4M wedges naive → ~0.9M
    oriented on a 29k-edge clustered graph). Every shuffle key is a
    vertex or vertex pair. Each triangle materializes exactly once (at
    its minimum-degree corner) and is summed to all three corners via an
    ``explode`` — one aggregate, no window. Output: (node, n_triangles),
    nodes with ≥ 1 triangle.
    """
    from financial_big_data_exp_4_spark.session import persist_scoped

    # drop self-loops first: (x, x) would survive canonicalization and
    # close wedges against itself, reporting phantom triangles.
    # Persisted (scoped): degree counting and the directed-edge build read
    # the canonical edge list from two branches, and Spark shares no scans
    # between branches — unpersisted, the upstream edge *generator* (e.g.
    # the whole LSH candidate pipeline) would run per branch.
    # slots=3: this operator nests TWO scoped persists (e, ed) on top of
    # whatever upstream persist (LSH signatures) the edge generator holds;
    # persistence is lazy, so 2 slots would evict the upstream cache
    # before ed's plan ever materializes it (see persist_scoped).
    e = persist_scoped(
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .distinct(),
        slots=3,
    )
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # direct each edge low-(deg, id) → high-(deg, id); carry the dst's
    # rank key so the wedge join can order out-neighbors without another
    # degree lookup. The two degree joins broadcast (|V| ≤ |E|; at scale
    # AQE decides — both sides are already clustered on a vertex key).
    dlo = deg.select(F.col("node").alias("lo"), F.col("deg").alias("_dlo"))
    dhi = deg.select(F.col("node").alias("hi"), F.col("deg").alias("_dhi"))
    lo_first = (F.col("_dlo") < F.col("_dhi")) | (
        (F.col("_dlo") == F.col("_dhi")) & (F.col("lo") < F.col("hi"))
    )
    ed = persist_scoped(
        e.join(dlo, "lo")
        .join(dhi, "hi")
        .select(
            F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
            F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
            F.when(lo_first, F.col("_dhi"))
            .otherwise(F.col("_dlo"))
            .alias("vdeg"),
        ),
        slots=3,
    )
    e1 = ed.select(
        F.col("u").alias("wu"), F.col("v").alias("wv"), F.col("vdeg").alias("wvd")
    )
    e2 = ed.select(
        F.col("u").alias("wu2"), F.col("v").alias("ww"), F.col("vdeg").alias("wwd")
    )
    # out-neighbor pairs ordered by the same (deg, id) rank → each wedge
    # generated once, and the closure edge is exactly wv→ww
    wedges = e1.join(
        e2,
        (F.col("wu") == F.col("wu2"))
        & (
            (F.col("wvd") < F.col("wwd"))
            | ((F.col("wvd") == F.col("wwd")) & (F.col("wv") < F.col("ww")))
        ),
    ).select("wu", "wv", "ww")
    closure = ed.select(F.col("u").alias("cv"), F.col("v").alias("cw"))
    tris = wedges.join(
        closure,
        (F.col("wv") == F.col("cv")) & (F.col("ww") == F.col("cw")),
    ).select("wu", "wv", "ww")
    corners = tris.select(
        F.explode(F.array("wu", "wv", "ww")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Near-duplicate *groups*: MinHash-LSH candidate pairs → connected
    components. One row per clustered doc with its cluster id (the
    minimum doc_id in the component) — downstream keeps ``doc_id ==
    cluster_id`` rows and drops the rest, completing the dedup pipeline
    end-to-end (signature → banding → pairing → clustering).

    ``pairs``: optionally feed a precomputed candidate-pair frame (a
    pipeline-shared materialization of ``minhash_candidate_pairs``)
    instead of re-deriving signatures here."""
    from financial_big_data_exp_4_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    if pairs is None:
        pairs = minhash_candidate_pairs(docs)
    return connected_components(pairs.select("doc_a", "doc_b"))

"""Connected-components semantics on crafted graphs + the dedup-cluster
pipeline on fixture data."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


def _union_find_components(edges):
    """Python union-find reference model: node -> min reachable node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in list(parent)}


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find_model(spark, edges):
    """The seeded, adaptively-batched min-label loop ≡ union-find on
    arbitrary small graphs — chains, cliques, self-loops, duplicate and
    reversed edges all land in the generated space, covering every
    convergence path (seed-only, 1-prop batch, multi-batch)."""
    from financial_big_data_exp_4_spark.operators import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got == _union_find_components(edges)


def test_connected_components_chain_and_islands(spark):
    from financial_big_data_exp_4_spark.operators import connected_components

    edges = spark.createDataFrame(
        [
            (2, 1),    # chain 1-2-3-4 (mixed edge direction)
            (2, 3),
            (4, 3),
            (10, 11),  # separate pair
            (20, 20),  # self-loop only
        ],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_deep_chain_converges(spark):
    from financial_big_data_exp_4_spark.operators import connected_components

    # a 12-node path: worst case for plain min-propagation (diameter 11);
    # must still reach the fixpoint within the default bound
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = connected_components(edges).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 13


def test_connected_components_empty_edges(spark):
    from financial_big_data_exp_4_spark.operators import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).collect() == []


def test_connected_components_iteration_bound(spark):
    from financial_big_data_exp_4_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=1)


def test_twostar_matches_naive_on_mixed_graph(spark):
    from financial_big_data_exp_4_spark.operators import (
        connected_components,
        connected_components_twostar,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (20, 20), (7, 5), (5, 9)],
        "doc_a long, doc_b long",
    )
    naive = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    twostar = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_twostar(edges).collect()
    }
    assert twostar == naive


def test_twostar_converges_on_chain_beyond_naive_bound(spark):
    """A 40-node path has diameter 39: min-propagation cannot finish in 8
    rounds, two-star does (O(log n) — a 41-node chain converges in 7;
    simulated round counts: 12→5, 40→7, 100→8, 1000→11)."""
    from financial_big_data_exp_4_spark.operators import (
        connected_components,
        connected_components_twostar,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=8)
    got = connected_components_twostar(edges, max_iter=8).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == 41


def test_dedup_clusters_cover_candidate_pairs(spark, sf_dir):
    """Every candidate pair must land in one cluster, and each cluster id
    must be the minimum doc_id of its member set."""
    from financial_big_data_exp_4_spark.operators import (
        dedup_clusters,
        minhash_candidate_pairs,
    )
    from financial_big_data_exp_4_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs).select("doc_a", "doc_b").collect()
    labels = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs).collect()
    }
    for p in pairs:
        assert labels[p["doc_a"]] == labels[p["doc_b"]]
    by_cluster: dict[int, list[int]] = {}
    for node, c in labels.items():
        by_cluster.setdefault(c, []).append(node)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: two triangles; shared-edge corners count 2."""
    from financial_big_data_exp_4_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} without edge (3,4): triangles (1,2,3) and (1,2,4)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)],
        "vec_a long, vec_b long",
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(edges).collect()
    }
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_count_orientation_and_dups(spark):
    """Reversed/duplicate edges collapse; a triangle counts once/corner."""
    from financial_big_data_exp_4_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (3, 1), (1, 3)],
        "vec_a long, vec_b long",
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_count(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_semantic_dedup_groups(spark):
    """SemDeDup composition: duplicate embeddings cluster into one group
    with the min vec_id as representative; an unrelated vector is absent
    (no edges -> not in the output, like every CC surface here)."""
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.operators.graph import (
        connected_components,
    )
    from financial_big_data_exp_4_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    # 10,11,12 near-identical (same direction); 20 orthogonal.
    # stride=10 -> centroids {10, 20}: 11/12 assign to 10's cell, so the
    # within-cell join sees exactly the near-identical family.
    emb = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),
            (11, [0.999, 0.01, 0.0]),
            (12, [0.998, 0.02, 0.0]),
            (20, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_neardup_pairs(emb, threshold=0.9, stride=10)
    cc = connected_components(pairs, src="vec_a", dst="vec_b").select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("group_id"),
    )
    got = {r["vec_id"]: r["group_id"] for r in cc.collect()}
    assert got == {10: 10, 11: 10, 12: 10}


def test_triangle_count_matches_bruteforce_model(spark):
    """Differential pin of the degree-ordered formulation: per-node
    triangle counts on random-ish small graphs must equal the O(n^3)
    itertools model — covers hub skew, tie-broken degrees, cliques."""
    import itertools

    from financial_big_data_exp_4_spark.operators.graph import triangle_count

    cases = [
        # clique K5: every node in C(4,2)=6 triangles
        list(itertools.combinations(range(5), 2)),
        # star (no triangles) plus one closing edge
        [(0, i) for i in range(1, 6)] + [(1, 2)],
        # two triangles sharing a node, plus a pendant chain
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (5, 6), (6, 7)],
        # deterministic pseudo-random graph on 10 nodes
        [
            (a, b)
            for a, b in itertools.combinations(range(10), 2)
            if (a * 7 + b * 13) % 3 == 0
        ],
    ]
    for edges in cases:
        nodes = sorted({v for e in edges for v in e})
        eset = {frozenset(e) for e in edges}
        model = {
            n: sum(
                1
                for a, b in itertools.combinations(nodes, 2)
                if frozenset((n, a)) in eset
                and frozenset((n, b)) in eset
                and frozenset((a, b)) in eset
            )
            for n in nodes
        }
        model = {n: c for n, c in model.items() if c > 0}
        df = spark.createDataFrame(edges, "vec_a long, vec_b long")
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_count(df).collect()
        }
        assert got == model, f"edges={edges}"


def test_cc_propagate_round_plan_shape_is_exchange_free(spark):
    """Plan-shape guard for the CC loop's zero-exchange iteration
    (round-12 ADVICE): the layout discipline relies on two
    version-sensitive Catalyst behaviors — localCheckpoint's LogicalRDD
    preserving outputPartitioning/outputOrdering, and the merge hint
    beating broadcast for the edge⋈label join. If either regresses, the
    loop silently re-adds a per-round exchange/sort (correctness
    unaffected — which is exactly why it needs a loud test). This
    reproduces one mid-loop propagation round's layout byte-for-byte
    (operators/graph.py:propagate) and asserts its executed plan:

    * the edge⋈label join is a SortMergeJoin (merge hint honored),
    * with ZERO Sort operators (both inputs checkpoint-sorted), and
    * ZERO BroadcastExchange (no per-round broadcast job), and
    * exactly ONE shuffle Exchange — the per-node min aggregate, the
      one exchange per round the design budgets for.
    """
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.session import scoped_sql_conf

    dop = 4
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    with scoped_sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        sym = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        sym = (
            sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .repartition(dop, F.col("v"))
            .sortWithinPartitions("v")
            .localCheckpoint(eager=True)
        )
        # mid-loop label state: the batch-end checkpoint of an
        # agg-derived (node, lbl) frame — node and lbl are DISTINCT
        # source attributes here, which matters: an alias-twin
        # (`select(node, node AS lbl)`) under the checkpoint makes the
        # LogicalRDD attribute rewrite report the partitioning on the
        # twin, and the join re-exchanges
        labels = (
            sym.groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("lbl"))
            .select(F.col("u").alias("node"), "lbl")
            .sortWithinPartitions("node")
            .localCheckpoint(eager=True)
        )
        assert "hashpartitioning(node" in str(
            labels._jdf.queryExecution().executedPlan().outputPartitioning()
        )
        nbr_min = (
            sym.hint("merge")
            .join(labels, sym["v"] == labels["node"])
            .select(sym["u"].alias("node"), F.col("lbl"))
            .groupBy("node")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        plan = nbr_min._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("Sort [") == 0, plan
    assert plan.count("Exchange") == 1, plan


def test_twostar_round_plan_shape_is_pinned(spark):
    """Plan-shape guard for one two-star round (r13 VERDICT #9 — the
    propagate-loop guard caught a real silent re-exchange; this pins the
    OTHER layout-dependent CC loop the same way). One large-star +
    small-star + distinct round, built byte-for-byte like
    operators/graph.py:connected_components_twostar, must execute as:

    * ZERO BroadcastExchange — a per-round broadcast materialization job
      is the regression class that bit the propagate loop;
    * exactly 4 SortMergeJoins / 10 shuffle Exchanges / 8 Sorts — the
      round's budgeted shape today (two grouped aggregates, two
      mins-joins, the canonical distinct; each star re-reads its input
      for the aggregate and the join, which Spark does not share).
      A Catalyst upgrade that silently adds an exchange/sort fails here
      loudly; a deliberate plan improvement updates the constants WITH
      a measured A/B in the commit.
    """
    import re

    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.session import scoped_sql_conf

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    with scoped_sql_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        raw = edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        canon = (
            raw.where(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        e = canon
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            ls.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        center = mins2.select(F.col("u"), F.col("m").alias("v"))
        out = (
            rewired.union(center)
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 0, plan
    assert plan.count("SortMergeJoin") == 4, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 10, plan
    assert plan.count("Sort [") == 8, plan

"""Session-level engine helpers: the scoped-persist FIFO, the
rebalance guard and the input-sized shuffle tuning.

``persist_scoped`` keeps its slots on the session object, so every
evicted frame belongs to the session that persists the new one.
"""

from __future__ import annotations

import pytest

from financial_big_data_exp_4_spark import session as sess


def test_persist_scoped_evicts_oldest_frame_of_the_session(spark, monkeypatch):
    """With two slots, persisting a third frame unpersists the first
    while the other two stay cached; the slot list lives on the
    session object."""
    from pyspark import StorageLevel

    monkeypatch.setattr(spark, sess._PERSIST_ATTR, [], raising=False)
    frames = [sess.persist_scoped(spark.range(n + 1), slots=2) for n in range(3)]
    try:
        assert [f.is_cached for f in frames] == [False, True, True]
        assert frames[0].storageLevel == StorageLevel.NONE
        assert all(f.storageLevel != StorageLevel.NONE for f in frames[1:])
        live = getattr(spark, sess._PERSIST_ATTR)
        assert len(live) == 2
        assert live[0] is frames[1] and live[1] is frames[2]
    finally:
        for f in frames:
            f.unpersist()


class _FailingVictim:
    """A slot entry whose ``unpersist`` fails."""

    def unpersist(self):
        raise RuntimeError("executor OOM during unpersist")


def test_unpersist_live_failure_propagates(spark, monkeypatch):
    """A failing unpersist of the evicted frame propagates: swallowing it
    would leak the executor-memory slot with no signal."""
    monkeypatch.setattr(
        spark, sess._PERSIST_ATTR, [_FailingVictim()], raising=False
    )
    with pytest.raises(RuntimeError, match="executor OOM"):
        sess.persist_scoped(spark.range(1), slots=1)


def test_rebalance_is_noop_on_exchange_bearing_plans(spark):
    """rebalance_for_cpu must not probe (or repartition) a plan that
    already contains a join/aggregate/repartition: the df.rdd probe
    executes such plans eagerly at build time under AQE, and their
    shuffle output is already cores-wide anyway (round-9 ADVICE — the
    bare-scan precondition is now enforced mechanically, so composed
    operators like scrub_pii(normalize_text(docs)) are safe)."""
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(100)],
        "doc_id long, text string",
    )
    # bare in-memory relation: eligible (may or may not repartition
    # depending on parallelism, but must return a plan, not raise)
    assert rebalance_for_cpu(docs, "doc_id") is not None

    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    joined = docs.alias("a").join(docs.alias("b"), "doc_id")
    assert rebalance_for_cpu(joined, "doc_id") is joined
    agg = docs.groupBy("text").count()
    assert rebalance_for_cpu(agg, "text") is agg
    repart = docs.repartition(4, F.col("doc_id"))
    assert rebalance_for_cpu(repart, "doc_id") is repart
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    # identity no-op must not have fired a single Spark job
    assert before == after


def test_rebalance_guard_matches_nodes_not_literals(spark):
    """The plan guard matches node NAMES, not substrings of the whole
    plan text: a bare filter whose literal mentions 'Union'/'Sort'/
    'Join' stays eligible, while Except/Intersect plans (eager-probe
    hazards the first guard missed) are no-ops."""
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    filtered = docs.where(F.col("text") != "Union Pacific Sorting Joint")
    out = rebalance_for_cpu(filtered, "doc_id", target=8)
    assert out is not filtered  # literal must not disable the rebalance
    assert out.rdd.getNumPartitions() == 8

    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    diff = docs.exceptAll(docs.limit(1))
    assert rebalance_for_cpu(diff, "doc_id") is diff
    inter = docs.intersectAll(docs)
    assert rebalance_for_cpu(inter, "doc_id") is inter
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert before == after  # guard fired zero jobs

    # union is narrow and probe-safe: an under-split union-of-scans is
    # exactly the hazard case, so it must stay eligible
    unioned = docs.union(docs)
    out = rebalance_for_cpu(unioned, "doc_id", target=16)
    assert out.rdd.getNumPartitions() == 16


def test_tune_shuffle_sets_dop_and_aqe_regime(spark):
    """tune_shuffle_for_input sizes BOTH session knobs from the input
    directory: the pre-AQE shuffle DOP, and the execution regime — a
    statistically tiny directory (≤ 64 MB) runs with AQE off (every
    materialized exchange would otherwise be its own scheduler job,
    FLOOR_r12's 282-job floor), while a big input keeps AQE on. The
    per-directory statistics are memoized, so the second call must
    re-assert the same values without re-walking."""
    from financial_big_data_exp_4_spark.session import (
        _SHUFFLE_TUNE_MEMO_ATTR,
        session_memo,
        tune_shuffle_for_input,
    )

    saved_dop = spark.conf.get("spark.sql.shuffle.partitions")
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        tune_shuffle_for_input(spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        dop = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert dop >= 4
        memo = session_memo(spark, _SHUFFLE_TUNE_MEMO_ATTR)
        assert memo["/root/testdata/sf0.001"] == (dop, True)
        # a fake "big dir" memo entry flips the regime back on re-assert
        memo["/fake/big"] = (32, False)
        tune_shuffle_for_input(spark, "/fake/big")
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
        # memoized: calling the tiny dir again restores both knobs
        tune_shuffle_for_input(spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == dop
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_dop)
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)

"""Mechanical guards for the driver-sample alternation policy.

The external driver's correctness gate samples the FIRST 50 entries of
``REFERENCE_QUERIES`` each round, and the standing policy (round-5
VERDICT prescription #2) is to swap that prefix to the complement half
every round so all 98 declared queries get a fresh external verdict
every two rounds.  Rounds 2-4 silently re-sampled the same half because
the swap was manual and forgotten.  These tests make that loud:

* **history check (hard fail)** — the two newest committed
  ``CORRECTNESS_r{N}.json`` files must sample different halves.  A
  forgotten swap shows up here the moment the driver records the
  repeat round, including in the judge's own pytest run for that round.
* **prefix check (skip/fail)** — the current prefix is compared to the
  newest committed sample.  A match is AMBIGUOUS: at judge time the
  driver has just recorded THIS round's (correctly swapped) prefix, so
  "prefix == newest sample" is the healthy post-round state; the same
  state at the next round's start means the swap is due.  The test
  therefore SKIPS with a "swap due" message when the alternation
  history is still healthy, and hard-fails only when the second-newest
  sample ALSO matches (two recorded rounds on one half — a third is
  about to happen).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from financial_big_data_exp_4_spark.plans import REFERENCE_QUERIES

REPO_ROOT = Path(__file__).resolve().parent.parent
#: Overlap budget between consecutive rounds' 50-query driver samples.
#: The structural minimum is 2: two 50-of-98 samples must share at least
#: 50+50−98 = 2 queries, and the two standing anchors (q_scan,
#: q_feature_pipeline) ARE that overlap under the exact-complement
#: rotation. 5 leaves three queries of slack over the minimum (round-8
#: ADVICE: the old budget of 12 would have let ten silently repeated
#: queries pass).
MAX_OVERLAP = 5


def _correctness_samples() -> list[tuple[int, str, set[str]]]:
    """(round, filename, sampled query names) for every committed
    CORRECTNESS file, oldest → newest."""
    out = []
    for p in REPO_ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            keys = {k for k in json.load(p.open()) if k.startswith("q_")}
            if keys:
                out.append((int(m.group(1)), p.name, keys))
    return sorted(out)


def test_sample_prefix_is_exactly_50() -> None:
    prefix = list(REFERENCE_QUERIES)[:50]
    assert len(prefix) == 50
    assert len(set(prefix)) == 50


def test_alternation_history_holds() -> None:
    """Consecutive driver samples must cover different halves — this is
    the non-ambiguous signal that a swap was forgotten (it fires in the
    very round the driver records the repeat)."""
    samples = _correctness_samples()
    if len(samples) < 2:
        pytest.skip("fewer than two committed CORRECTNESS rounds")
    (rn_prev, name_prev, prev), (rn_new, name_new, new) = samples[-2:]
    overlap = new & prev
    if len(overlap) <= MAX_OVERLAP:
        return
    # The committed history records a forgotten swap (rounds rn_prev and
    # rn_new sampled one half twice).  That history is immutable; what can
    # be fixed is the CURRENT prefix.  The heal-skip below is scoped to the
    # ONE known stain (r07/r08, recorded before this guard existed) so any
    # FUTURE same-half pair hard-fails even after a prefix-only rotation —
    # a new violation must heal by recording the swapped round, not by
    # editing _SAMPLE_FIRST alone (round-9 ADVICE).
    current_prefix = set(list(REFERENCE_QUERIES)[:50])
    if (rn_prev, rn_new) == (7, 8) and len(current_prefix & new) <= MAX_OVERLAP:
        pytest.skip(
            f"known historical stain: {name_new} and {name_prev} sampled "
            f"the same half ({len(overlap)}/50 overlap — the round-8 swap "
            f"was forgotten), but _SAMPLE_FIRST has since rotated to the "
            f"complement of {name_new}; history heals when the next "
            f"CORRECTNESS round is recorded."
        )
    pytest.fail(
        f"{name_new} and {name_prev} sampled the same half "
        f"({len(overlap)}/50 overlap) — the alternation swap in "
        f"plans/__init__.py:_SAMPLE_FIRST was forgotten for round "
        f"{rn_new}. Replace it with the complement of {name_new}'s keys "
        f"(plus the two anchors)."
    )


def test_sample_prefix_rotated() -> None:
    samples = _correctness_samples()
    if not samples:
        pytest.skip("no committed CORRECTNESS_r*.json yet (round 1)")
    current_prefix = set(list(REFERENCE_QUERIES)[:50])
    rn_new, name_new, newest = samples[-1]
    if len(current_prefix & newest) <= MAX_OVERLAP:
        return  # prefix already rotated past the newest recorded sample
    # Prefix matches the newest recorded sample. Healthy right after the
    # driver records this round's run; a due-swap reminder at the next
    # round's start. Only a SECOND recorded round on the same half makes
    # it an error.
    if len(samples) >= 2 and len(current_prefix & samples[-2][2]) > MAX_OVERLAP:
        pytest.fail(
            f"_SAMPLE_FIRST matches BOTH {name_new} and {samples[-2][1]} "
            f"— two recorded driver rounds on one half; swap to the "
            f"complement of {name_new}'s keys before the next run."
        )
    pytest.skip(
        f"rotation swap due: _SAMPLE_FIRST matches {name_new}; swap to "
        f"its complement at round start (standing alternation policy)"
    )


def test_prev_round_sample_still_declared() -> None:
    """Every query the driver verified in any recorded round must still
    exist — a rename would silently drop its external verdict history;
    force the rename to be acknowledged here."""
    samples = _correctness_samples()
    if not samples:
        pytest.skip("no committed CORRECTNESS_r*.json yet (round 1)")
    _, name, newest = samples[-1]
    missing = newest - set(REFERENCE_QUERIES)
    assert not missing, (
        f"queries verified in {name} no longer declared: {sorted(missing)}"
    )


def test_memo_registry_matches_call_sites() -> None:
    """MEMO_FAMILY_CONSUMERS is bench.py's single source of truth for
    cold-cost accounting; a memo_df call site without a registry entry
    would silently hide a family's build cost from the bench artifact."""
    import inspect

    from financial_big_data_exp_4_spark.plans import extensions

    src = inspect.getsource(extensions)
    # memo_df keys are the ("<name>", sf_dir) tuples in this module
    call_site_keys = set(re.findall(r'\(\s*"([a-z0-9_]+)",\s*sf_dir\s*\)', src))
    assert call_site_keys == set(extensions.MEMO_FAMILY_CONSUMERS), (
        "memo_df call sites and MEMO_FAMILY_CONSUMERS diverged: "
        f"sites-only={sorted(call_site_keys - set(extensions.MEMO_FAMILY_CONSUMERS))} "
        f"registry-only={sorted(set(extensions.MEMO_FAMILY_CONSUMERS) - call_site_keys)}"
    )
    consumers = {
        q for fam in extensions.MEMO_FAMILY_CONSUMERS.values() for q in fam
    }
    assert consumers <= set(REFERENCE_QUERIES), (
        sorted(consumers - set(REFERENCE_QUERIES))
    )
    # the standalone-builder registry (explain_audit's build-plan pass)
    # must cover exactly the same families — a family whose builder is
    # not registered silently escapes the negative plan checks
    assert set(extensions.MEMO_FAMILY_BUILDERS) == set(
        extensions.MEMO_FAMILY_CONSUMERS
    ), (
        sorted(
            set(extensions.MEMO_FAMILY_BUILDERS)
            ^ set(extensions.MEMO_FAMILY_CONSUMERS)
        )
    )


def test_memo_capacity_has_headroom_over_family_count() -> None:
    """memo_df's FIFO bound must comfortably exceed the registered family
    count: at parity a single-directory session evicts its oldest family
    while inserting the newest, and every subsequent consumer pass
    rebuilds an evicted artifact — a silent whole-memo thrash that shows
    up only as wall time. Registering a new family without raising the
    bound is the regression this pins."""
    import inspect

    from financial_big_data_exp_4_spark.plans.extensions import (
        MEMO_FAMILY_CONSUMERS,
    )
    from financial_big_data_exp_4_spark.session import memo_df

    cap = inspect.signature(memo_df).parameters["max_entries"].default
    assert cap >= len(MEMO_FAMILY_CONSUMERS) + 4, (
        f"memo_df max_entries={cap} leaves too little headroom over "
        f"{len(MEMO_FAMILY_CONSUMERS)} registered families"
    )


#: The environment variables the engine package reads. Each one is a
#: deployment setting or has a tool that sets it: SPARK_GRAFT_AQE_OFF_BYTES
#: (tools/scale_bench.py) and SPARK_GRAFT_MEMO_BYPASS (the
#: tools/explain_audit.py build-plan pass). An A/B knob read from the
#: environment outlives the tool that set it; add one here only together
#: with its caller.
ENGINE_ENV_READS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_MASTER",
    "SPARK_GRAFT_AQE_OFF_BYTES",
    "SPARK_GRAFT_MEMO_BYPASS",
}


def test_engine_env_reads_are_the_declared_set() -> None:
    """Every ``environ``/``getenv`` mention under the engine package must
    be a read of a literal variable name, and the names read must be
    exactly :data:`ENGINE_ENV_READS`. A mention that is not a literal
    read (``from os import environ``, a computed name) fails too, since
    the scrape cannot see what it reads."""
    pkg = REPO_ROOT / "financial_big_data_exp_4_spark"
    mention = re.compile(r"\b(?:environ|getenv)\b")
    literal_read = re.compile(
        r"""(?:environ(?:\.get\(|\[)|getenv\()\s*["']([A-Za-z0-9_]+)["']"""
    )
    names: set[str] = set()
    opaque: list[str] = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        for m in mention.finditer(src):
            read = literal_read.match(src, m.start())
            if read:
                names.add(read.group(1))
            else:
                line = src.count("\n", 0, m.start()) + 1
                opaque.append(f"{path.relative_to(REPO_ROOT)}:{line}")
    assert not opaque, f"environment access without a literal name: {opaque}"
    assert names == ENGINE_ENV_READS, (
        f"undeclared={sorted(names - ENGINE_ENV_READS)} "
        f"unread={sorted(ENGINE_ENV_READS - names)}"
    )

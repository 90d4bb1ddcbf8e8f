"""ANN / LSH recall measurement (round-7 VERDICT #5, shipped round 9).

The ANN and candidate-generation operators carry structural proofs
(``has_k`` bounds, pigeonhole completeness for the radius they declare),
but none of that pins a NUMBER on what the approximate paths actually
recover. This tool measures it against two ground truths and writes a
committed artifact (``RECALL_r{N}.json``) whose floors
``tests/test_scale_gate.py`` (RECALL_FLOORS) re-asserts every round:

* **ANN recall@k vs exact brute force** — for the two top-k searches
  (``q_embed_ann_ivf``'s fit-free ⌈√N⌉-stride IVF and
  ``q_embed_ann_kmeans``'s learned-quantizer IVF), the metric is the
  mean over probes of |ANN top-k ∩ exact top-k| / |exact top-k| at
  k = ``IVF_TOPK`` — i.e. the fraction of the exact top-k set
  recovered, with the denominator clamped to the candidates that
  actually exist (|exact top-k| < k only when the table itself has
  fewer than k scorable vectors, in which case a perfect ANN should
  still read 1.0; round-9 ADVICE pinned this definition). The exact
  set comes from :func:`cosine_topk_bruteforce` (the same probes by
  construction: ``vec_id < n_probes``).

* **candidate-generation recall vs planted pairs** — ``generate_scaled``
  (tools/fuzz_correctness.py) plants known duplicate structure:
  embedding exact-dup pairs ``(2i+1, 2i+2)`` for ``i < nv/100`` and
  near-dup pairs ``(i+1, 2·(nv/100)+i+1)`` for ``i < nv/200`` (copy +
  1e-4 gaussian noise on 0.125-scale vectors → cosine ≈ 1); document
  exact-dup clusters of 4 (ids ``4c+1..4c+4`` for ``c < nd/50``) and
  one-token-edit near-dup pairs
  ``(4·n_clusters+i+1, 4·n_clusters+n_near+i+1)`` for ``i < nd/50``.
  Recall = fraction of those planted pairs present in the hyperplane-LSH
  candidate set (:func:`hyperplane_neardup_pairs`) and the MinHash band
  join (:func:`minhash_candidate_pairs`) respectively. Exact-dup pairs
  hash to identical signatures, so their recall is a correctness check
  (must be 1.0); near-dup recall is the honest probabilistic number the
  banding scheme actually delivers. Round 10 traced RECALL_r09's 0.42
  near-dup recall to the shift-fragile positional shingle stride (fixed:
  content-anchored selection, dedup.SHINGLE_SELECT_MOD), then moved the
  declared banding to 4 bands × 4 rows (P(candidate) = 1−(1−s⁴)⁴),
  measured here with its candidate count and wall-clock so the
  recall-vs-cost trade is IN the committed artifact, not prose
  (round-9 VERDICT #1). The legacy round-2..9 2 × 4 arm was retired in
  round 14 (r13 VERDICT #8); RECALL_r13.json carries its final A/B.

Both scales (1× and 10× the sf0.1-shaped fixture) run in one session;
pair membership is checked with a semi-join against the planted-pair
list (a ≤ (nd/50)·6-row broadcast side), never a collect of the
candidate set.

Round 11 adds two sections to the artifact beyond ``per_scale``:

* ``capped`` — planted-pair recall UNDER the production bucket caps at
  the wide (100×) fixture with an over-cap boilerplate block unioned in
  (see :func:`_capped_recall`; floors in
  tests/test_scale_gate.py::CAPPED_RECALL_FLOORS);
* ``longdocs`` — recall + anchored-vs-exhaustive shingle cost on the
  10k-50k-char longdocs fixture (see :func:`_longdocs_recall`; floors
  in LONGDOCS_RECALL_FLOORS).

Usage::

    python tools/recall_bench.py [--mult 10] [--wide-mult 100]
                                 [--seed 707] [--keep]
                                 [--out RECALL_r11.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _ann_recall(spark, sf_dir: str) -> dict:
    """Fraction of the exact top-IVF_TOPK set recovered by each ANN path
    (denominator = |exact set|, clamped to available candidates — see
    module docstring), averaged over the shared probe set (vec_id < 5,
    the declared default)."""
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.operators.similarity import (
        IVF_TOPK,
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_ivf_kmeans,
    )
    from financial_big_data_exp_4_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = IVF_TOPK

    def topset(df) -> dict[int, set[int]]:
        rows = (
            df.where(F.col("rank") <= k)
            .select("probe_id", "vec_id")
            .collect()
        )
        out: dict[int, set[int]] = {}
        for r in rows:
            out.setdefault(r.probe_id, set()).add(r.vec_id)
        return out

    exact = topset(cosine_topk_bruteforce(emb, k=k))
    out = {}
    for name, df in (
        ("ann_ivf", cosine_topk_ivf(emb, stride=None, k=k)),
        ("ann_kmeans", cosine_topk_ivf_kmeans(emb, k=k)),
    ):
        approx = topset(df.where(F.col("vec_id").isNotNull()))
        recalls = [
            len(approx.get(p, set()) & truth) / len(truth)
            for p, truth in exact.items()
            if truth
        ]
        out[f"{name}_recall_at_{k}"] = round(
            sum(recalls) / len(recalls), 4
        ) if recalls else None
    return out


def _pair_recall(spark, cand, expected: list[tuple[int, int]],
                 a_col: str, b_col: str) -> float | None:
    """Fraction of ``expected`` (a < b) pairs present in ``cand``."""
    from pyspark.sql import functions as F

    if not expected:
        return None
    exp = spark.createDataFrame(expected, f"{a_col} long, {b_col} long")
    hits = (
        exp.join(
            cand.select(a_col, b_col), [a_col, b_col], "semi"
        ).count()
    )
    return round(hits / len(expected), 4)


def _candidate_recall(spark, sf_dir: str, mult: int) -> dict:
    """Planted-pair recall of the hyperplane-LSH and MinHash candidate
    generators. Planted structure mirrors generate_scaled exactly."""
    from financial_big_data_exp_4_spark.operators.dedup import (
        minhash_candidate_pairs,
    )
    from financial_big_data_exp_4_spark.operators.similarity import (
        hyperplane_neardup_pairs,
    )
    from financial_big_data_exp_4_spark.sources.parquet import load_table

    nd = 5_000 * mult
    nv = 2_000 * mult

    # embeddings: exact pairs (2i+1, 2i+2); near pairs (i+1, 2*np+i+1)
    n_pairs = nv // 100
    emb_exact = [(2 * i + 1, 2 * i + 2) for i in range(n_pairs)]
    emb_near = [
        tuple(sorted((i + 1, 2 * n_pairs + i + 1)))
        for i in range(nv // 200)
    ]
    hyper = hyperplane_neardup_pairs(load_table(spark, sf_dir, "embeddings"))

    # documents: 6 pairs per exact cluster of 4; near pair per edit
    n_clusters = nd // 50
    doc_exact = [
        (4 * c + i + 1, 4 * c + j + 1)
        for c in range(n_clusters)
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    n_near = nd // 50
    doc_near = [
        tuple(sorted((4 * n_clusters + i + 1,
                      4 * n_clusters + n_near + i + 1)))
        for i in range(n_near)
    ]
    docs = load_table(spark, sf_dir, "documents")

    # recall-vs-cost for the declared 4×4 minhash banding. (The legacy
    # 2×4 arm was retired in round 14 — r13 VERDICT #8; RECALL_r13.json
    # carries its final A/B: near-dup 0.885 vs 0.961 at 10×.) Candidate
    # count and wall-clock are the cost axis; the count() also
    # materializes the candidate set once so the recall semi-joins
    # below are warm.
    t0 = time.perf_counter()
    mh = minhash_candidate_pairs(docs)
    mh_cost = {
        "minhash_candidates": mh.count(),
        "minhash_pairs_sec": round(time.perf_counter() - t0, 1),
    }

    return {
        "hyperplane_exact_pair_recall": _pair_recall(
            spark, hyper, emb_exact, "vec_a", "vec_b"
        ),
        "hyperplane_neardup_pair_recall": _pair_recall(
            spark, hyper, emb_near, "vec_a", "vec_b"
        ),
        "minhash_exact_pair_recall": _pair_recall(
            spark, mh, doc_exact, "doc_a", "doc_b"
        ),
        "minhash_neardup_pair_recall": _pair_recall(
            spark, mh, doc_near, "doc_a", "doc_b"
        ),
        **mh_cost,
        "n_planted": {
            "emb_exact": len(emb_exact),
            "emb_near": len(emb_near),
            "doc_exact": len(doc_exact),
            "doc_near": len(doc_near),
        },
    }


#: Production bucket cap the capped-recall section measures — one source
#: of truth with the scale gate's bench-only q_simhash_neardup_capped
#: (scale_bench.SIMHASH_SCALE_BUCKET_CAP), the documented production
#: guidance for both band joins.
from scale_bench import SIMHASH_SCALE_BUCKET_CAP as PRODUCTION_BUCKET_CAP  # noqa: E402

#: Boilerplate block for the capped measurement: identical copies of one
#: template (the real shape — license headers, nav chrome, scraped
#: banners repeat verbatim at huge multiplicity). Sized just above the
#: cap so every band bucket the block creates is over-full and the cap
#: DEMONSTRABLY engages — round-10 gate lesson: a green capped run on a
#: corpus whose buckets never reach the cap is an empty-vs-empty
#: comparison, not a measurement.
BOILERPLATE_N = 11_000
BOILERPLATE_ID_BASE = 10_000_000
BOILERPLATE_TEMPLATE = " ".join(
    f"clause{i % 9} bp{i:02d} provision shall apply" for i in range(14)
)

_T0 = time.perf_counter()


def _progress(msg: str) -> None:
    """Stage telemetry on stderr (flushed): the capped section runs many
    multi-minute Spark jobs back to back, and a run killed by an outer
    timeout would otherwise leave no evidence of WHICH stage stalled
    (round-11 lesson — the first 100× run died with only 'Terminated')."""
    print(f"[recall_bench +{time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _capped_recall(spark, sf_dir: str, mult: int) -> dict:
    """Planted-pair recall UNDER the production bucket caps, at the wide
    (100×) fixture, with an over-cap boilerplate block unioned in so the
    cap path actually executes its drop (round-10 VERDICT gap #1: the
    capped plan was slope-gated but its recall cost was unmeasured).

    Three populations, three numbers per generator:

    * fixture planted exact/near pairs — live in small buckets (clusters
      of 4), must survive the cap untouched (floors pinned in
      tests/test_scale_gate.py::CAPPED_RECALL_FLOORS);
    * boilerplate pairs — every band bucket they occupy exceeds the cap,
      so banded recall collapses to ~0 BY DESIGN. That is the measured
      trade, and it is acceptable in the pipeline because the block is
      EXACT duplicates: the md5 exact-dedup path (q_dedup_exact) catches
      them without any join — dedup runs exact-first precisely so the
      cap only ever sacrifices near-dup recall inside degenerate blocks;
    * bucket occupancy (max size, # over cap) for natural vs augmented
      corpus — proves the cap engaged on the block and ONLY the block.

    The uncapped variant is deliberately NOT run on the augmented
    corpus: an 11k-identical clique yields ≥ C(11k,2) ≈ 60.5M candidate
    pairs — the quadratic onset the cap exists to prevent.
    """
    import time as _time

    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_P,
        MINHASH_ROWS_PER_BAND,
        minhash_candidate_pairs,
        signed_docs,
        simhash_neardup_pairs,
    )
    from financial_big_data_exp_4_spark.sources.parquet import load_table

    cap = PRODUCTION_BUCKET_CAP
    nd = 5_000 * mult
    n_clusters = nd // 50
    doc_exact = [
        (4 * c + i + 1, 4 * c + j + 1)
        for c in range(n_clusters)
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    n_near = nd // 50
    doc_near = [
        tuple(sorted((4 * n_clusters + i + 1,
                      4 * n_clusters + n_near + i + 1)))
        for i in range(n_near)
    ]
    bp_pairs = [
        (BOILERPLATE_ID_BASE + 2 * i, BOILERPLATE_ID_BASE + 2 * i + 1)
        for i in range(100)
    ]

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bp = spark.createDataFrame(
        [(BOILERPLATE_ID_BASE + i, BOILERPLATE_TEMPLATE)
         for i in range(BOILERPLATE_N)],
        "doc_id long, text string",
    )
    # Explicit id-keyed repartition: the union's PARTITION COUNT is the
    # sum of its children's (1 single-row-group scan + ~cores local
    # rows), which satisfies rebalance_for_cpu's >= cores no-op check
    # while the 500k-doc scan side still sits in ONE partition — the
    # signature map stage ran serially (measured 94.8 s capped vs 7.8 s
    # uncapped at 10× before this line; the recall numbers were
    # identical, only wall-clock differed).
    cores = spark.sparkContext.defaultParallelism
    from pyspark.sql import functions as F2

    aug = docs.unionByName(bp).repartition(cores, F2.col("doc_id"))

    def bucket_stats(frame) -> dict:
        """(band_id, band_key) occupancy of the minhash band rows —
        direct evidence of whether/where the cap engages."""
        sig = signed_docs(frame).where(F.col("mh_0") < MINHASH_P)
        bands = sig.select(
            F.posexplode(
                F.array(*[
                    F.concat_ws(",", *[
                        F.col(f"mh_{j}").cast("string")
                        for j in range(b * MINHASH_ROWS_PER_BAND,
                                       (b + 1) * MINHASH_ROWS_PER_BAND)
                    ])
                    for b in range(MINHASH_BANDS)
                ])
            ).alias("band_id", "band_key")
        )
        row = (
            bands.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("n"))
            .agg(
                F.max("n").alias("max_bucket"),
                F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
                .alias("buckets_over_cap"),
            )
            .collect()[0]
        )
        return {
            "max_bucket": row["max_bucket"],
            "buckets_over_cap": int(row["buckets_over_cap"]),
        }

    _progress(f"capped x{mult}: bucket_stats(natural) ...")
    nat_buckets = bucket_stats(docs)
    _progress(f"capped: natural buckets = {nat_buckets}; bucket_stats(augmented) ...")
    aug_buckets = bucket_stats(aug)
    _progress(f"capped: augmented buckets = {aug_buckets}")
    out: dict = {
        "cap": cap,
        "boilerplate_docs": BOILERPLATE_N,
        "natural_buckets": nat_buckets,
        "augmented_buckets": aug_buckets,
    }

    # minhash: uncapped on the NATURAL corpus (the 100× point of the
    # existing 1×/10× curve), capped on the augmented one
    _progress("capped: minhash uncapped (natural) ...")
    t0 = _time.perf_counter()
    mh_nat = minhash_candidate_pairs(docs)
    out["minhash_uncapped_candidates"] = mh_nat.count()
    out["minhash_uncapped_sec"] = round(_time.perf_counter() - t0, 1)
    out["minhash_exact_pair_recall"] = _pair_recall(
        spark, mh_nat, doc_exact, "doc_a", "doc_b")
    out["minhash_neardup_pair_recall"] = _pair_recall(
        spark, mh_nat, doc_near, "doc_a", "doc_b")

    _progress("capped: minhash capped (augmented) ...")
    t0 = _time.perf_counter()
    mh_cap = minhash_candidate_pairs(aug, max_bucket_size=cap)
    out["minhash_capped_candidates"] = mh_cap.count()
    out["minhash_capped_sec"] = round(_time.perf_counter() - t0, 1)
    out["minhash_exact_pair_recall_capped"] = _pair_recall(
        spark, mh_cap, doc_exact, "doc_a", "doc_b")
    out["minhash_neardup_pair_recall_capped"] = _pair_recall(
        spark, mh_cap, doc_near, "doc_a", "doc_b")
    out["minhash_boilerplate_pair_recall_capped"] = _pair_recall(
        spark, mh_cap, bp_pairs, "doc_a", "doc_b")

    # simhash: same pattern; planted truth = exact clusters (hamming 0,
    # a correctness property of the radius-3 scheme)
    _progress("capped: simhash uncapped (natural) ...")
    t0 = _time.perf_counter()
    sh_nat = simhash_neardup_pairs(docs)
    out["simhash_uncapped_candidates"] = sh_nat.count()
    out["simhash_uncapped_sec"] = round(_time.perf_counter() - t0, 1)
    out["simhash_exact_pair_recall"] = _pair_recall(
        spark, sh_nat, doc_exact, "doc_a", "doc_b")

    _progress("capped: simhash capped (augmented) ...")
    t0 = _time.perf_counter()
    sh_cap = simhash_neardup_pairs(aug, max_bucket_size=cap)
    out["simhash_capped_candidates"] = sh_cap.count()
    out["simhash_capped_sec"] = round(_time.perf_counter() - t0, 1)
    out["simhash_exact_pair_recall_capped"] = _pair_recall(
        spark, sh_cap, doc_exact, "doc_a", "doc_b")
    out["simhash_boilerplate_pair_recall_capped"] = _pair_recall(
        spark, sh_cap, bp_pairs, "doc_a", "doc_b")
    _progress("capped: done")
    return out


def _longdocs_recall(spark, seed: int, keep: bool) -> dict:
    """Planted-pair recall and shingle-selection cost on 10k-50k-char
    documents (the longdocs fuzz profile's table) — the only text-length
    regime no other fixture reaches, and the content-anchored shingle
    selection's stated value case (round-10 VERDICT gap #2 / round-11
    prescription #3 and #5).

    Two measurements:

    * recall of the planted structure (60 exact-cluster pairs, 20
      one-token-mid-document-edit near pairs) in the declared
      :func:`minhash_candidate_pairs` output — a long-doc near-dup
      differs by a VANISHING fraction of its ~2×10⁴ shingles (planted
      Jaccard ≈ 1 − 16/20k ≈ 0.999 vs ≈ 0.63-0.97 at 700 chars), so if
      anything recall should exceed the short-doc floor; a miss here
      means the anchor selection broke on long texts.
    * anchored (``select_mod=2``) vs exhaustive (``select_mod=1``)
      signature cost, same session, interleaved, min of 3 warm passes
      each (same-window A/B) — the number that decides
      whether the anchor's md5 halving is worth the fallback subtlety
      (round-11 prescription #5). All 16 mh columns are summed so
      column pruning cannot skip any permutation.
    """
    import functools
    import operator as _op
    import time as _time

    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.operators.dedup import (
        MINHASH_COEFFS,
        minhash_candidate_pairs,
        with_minhash_signature,
    )

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from fuzz_correctness import generate, rewrite_documents_longdocs

    d = f"/tmp/fuzz_sf_{seed}_longdocs"
    if not (keep and os.path.isdir(d)):
        generate(d, seed, nulls=False)
        rewrite_documents_longdocs(d, seed)

    docs = spark.read.parquet(f"{d}/documents.parquet")
    doc_exact = [
        (4 * c + i + 1, 4 * c + j + 1)
        for c in range(10)
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    doc_near = [(41 + i, 71 + i) for i in range(20)]

    _progress("longdocs: minhash pairs ...")
    t0 = _time.perf_counter()
    mh = minhash_candidate_pairs(docs)
    n_cand = mh.count()
    out = {
        "n_docs": docs.count(),
        "minhash_candidates": n_cand,
        "minhash_pairs_sec": round(_time.perf_counter() - t0, 1),
        "minhash_exact_pair_recall": _pair_recall(
            spark, mh, doc_exact, "doc_a", "doc_b"),
        "minhash_neardup_pair_recall": _pair_recall(
            spark, mh, doc_near, "doc_a", "doc_b"),
    }

    k = len(MINHASH_COEFFS)

    def sig_pass(select_mod: int) -> float:
        t0 = _time.perf_counter()
        with_minhash_signature(docs, select_mod=select_mod).select(
            F.sum(
                functools.reduce(
                    _op.add, [F.col(f"mh_{i}") for i in range(k)]
                )
            ).alias("s")
        ).collect()
        return _time.perf_counter() - t0

    _progress("longdocs: anchored-vs-exhaustive signature A/B ...")
    anchored, exhaustive = [], []
    sig_pass(2), sig_pass(1)  # warm both plans before timing
    for _ in range(3):
        anchored.append(sig_pass(2))
        exhaustive.append(sig_pass(1))
    out["sig_anchored_warm_sec"] = round(min(anchored), 3)
    out["sig_exhaustive_warm_sec"] = round(min(exhaustive), 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--wide-mult", type=int, default=100,
                    help="fixture multiplier for the capped-recall "
                         "section (0 disables it)")
    ap.add_argument("--seed", type=int, default=707)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    # shared fixture-dir convention (path format + --keep reuse) lives in
    # scale_bench so both gates keep sharing the generated 10× data
    from scale_bench import _ensure_dir

    from financial_big_data_exp_4_spark.session import get_spark

    spark = get_spark("recall-bench")
    spark.range(1).count()

    per_scale = {}
    for mult in (1, args.mult):
        _progress(f"per_scale x{mult}: ensure fixture ...")
        d = _ensure_dir(args.seed, mult, args.keep)
        _progress(f"per_scale x{mult}: measuring ...")
        t0 = time.perf_counter()
        per_scale[str(mult)] = {
            **_ann_recall(spark, d),
            **_candidate_recall(spark, d, mult),
            "elapsed_sec": None,
        }
        per_scale[str(mult)]["elapsed_sec"] = round(
            time.perf_counter() - t0, 1
        )

    payload = {"seed": args.seed, "mult": args.mult,
               "per_scale": per_scale}
    if args.wide_mult:
        _progress(f"capped x{args.wide_mult}: ensure fixture ...")
        d = _ensure_dir(args.seed, args.wide_mult, args.keep)
        t0 = time.perf_counter()
        payload["capped"] = {
            "mult": args.wide_mult,
            **_capped_recall(spark, d, args.wide_mult),
        }
        payload["capped"]["elapsed_sec"] = round(
            time.perf_counter() - t0, 1
        )
    t0 = time.perf_counter()
    payload["longdocs"] = _longdocs_recall(spark, args.seed, args.keep)
    payload["longdocs"]["elapsed_sec"] = round(
        time.perf_counter() - t0, 1
    )
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

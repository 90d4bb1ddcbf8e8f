"""Text-analysis operators over the ``documents`` table: token counting,
quality scoring, language ID, fingerprinting (BASELINE north star).

All four are **map-only** expression trees — no shuffle, no Python workers;
at 100 TB they run at parquet-scan speed inside whole-stage codegen. The
DuckDB oracles mirror every expression exactly (same regexes, same division
guards, same md5-derived hashes).

The two hash/HOF-heavy ops (fingerprint, quality) additionally route
through :func:`..session.rebalance_for_cpu`: when the scan is
under-partitioned relative to the cluster (single-file local fixtures),
they pay one tiny keyed shuffle to unlock every core; at production split
counts the rebalance is a no-op and the plans stay shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_big_data_exp_4_spark.functions.core import bind_once, md5_hash64
from financial_big_data_exp_4_spark.operators.dedup import tokenize

#: Minimal per-language stopword profiles for the n-gram/stopword heuristic
#: language identifier. Deliberately tiny and deterministic; a production
#: profile would be learned, but the *operator shape* (profile intersection
#: + argmax with lexicographic tie-break) is the scale-relevant part.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "en": ("the", "a", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "los", "que", "es"),
    "fr": ("le", "la", "les", "des", "et", "est"),
    "zh": ("de", "le", "shi", "bu", "zai", "you"),
}

#: English stopword list used by the quality score's stopword ratio.
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in", "is", "it")

FINGERPRINT_K = 8  # char-shingle width for the rolling fingerprint
FINGERPRINT_STRIDE = 2  # positional shingle sampling stride (see docstring)

#: The BPE-ish tokenizer regex (word runs + single punctuation) — the ONE
#: definition shared by :func:`token_counts`, ``corpus.pack_sequences``,
#: and the generated oracle SQL; a local literal copy in any of them
#: would let the token counts drift apart silently.
BPE_TOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens vs BPE-ish tokens (word runs + single punctuation).

    ``regexp_extract_all`` (not ``split``) so leading/trailing whitespace
    cannot create empty tokens — the same regex drives the oracle.
    """
    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    # single-row-group guard (see module docstring); measured 1.40s →
    # 0.58s at 50k docs (round 9)
    docs = rebalance_for_cpu(docs, id_col)
    t = F.col(text_col)
    # regexp_count: identical match count, no per-match string array
    # (the BPE alternation measured 0.77 -> 0.69 s at the 10x fixture)
    ws = F.regexp_count(t, F.lit(r"\S+"))
    bpe = F.regexp_count(F.lower(t), F.lit(BPE_TOKEN_RE))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


def text_quality(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality features + a composite score in [0, 1].

    Features: char length, token count, mean token length, punctuation
    ratio, digit ratio, stopword ratio. Score = stopword-ratio-weighted
    length signal — an explicit, auditable formula (the point is the
    *operator*: per-row featurization at scan speed, the standard first
    pass of an LLM data-quality pipeline).
    """
    t = F.col(text_col)
    # materialize the token array and its distinct form once each — the
    # downstream features reference them repeatedly, and inlined aliases
    # would re-run the tokenize regex per reference (SPARK-36718)
    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    base = rebalance_for_cpu(docs, id_col).select(
        F.col(id_col).alias("doc_id"), t.alias("_t"), tokenize(t).alias("_toks")
    ).withColumn("_dtoks", F.array_distinct(F.col("_toks")))
    tt = F.col("_t")
    toks = F.col("_toks")
    n_chars = F.length(tt)
    n_toks = F.size(toks)
    tok_chars = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_tok_len = F.when(
        n_toks > 0, tok_chars.cast("double") / n_toks.cast("double")
    ).otherwise(F.lit(0.0))
    # length-after-delete instead of size(regexp_extract_all): counts
    # the same single-char class matches (one code point each) without
    # materializing a string per match — the extract_all form on the
    # symbol-dense class measured 3.29 s vs 0.35 s at the 10× fixture
    # (see corpus.quality_filter, r15); digits are sparse so the digit
    # count keeps whichever form is cheapest measured (regexp_count)
    n_punct = F.length(F.regexp_replace(tt, r"[a-zA-Z0-9\s]", ""))
    n_digit = F.regexp_count(tt, F.lit(r"[0-9]"))
    punct_ratio = F.when(
        n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    digit_ratio = F.when(
        n_chars > 0, n_digit.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in QUALITY_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.col("_dtoks"), stop_arr))
    n_distinct = F.size(F.col("_dtoks"))
    stop_ratio = F.when(
        n_distinct > 0, n_stop.cast("double") / n_distinct.cast("double")
    ).otherwise(F.lit(0.0))
    score = (
        F.least(n_toks.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
        + stop_ratio * F.lit(0.3)
        + (F.lit(1.0) - punct_ratio) * F.lit(0.2)
    )
    return base.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID: score = |distinct tokens ∩ profile|,
    prediction = alphabetically-first language with the maximal score.

    Map-only; the per-language score is an array intersection against a
    6-word literal array — constant work per row. Output schema is STABLE
    regardless of input: ``(doc_id, lang, lang_pred, lang_score)``. When
    the input carries a labeled ``lang`` column (the fixture does) it
    passes through for accuracy eyeballing; an unlabeled corpus — the
    normal case for a language *identifier* — gets ``lang = NULL``, so
    results union cleanly across labeled and unlabeled corpora.
    """
    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    # single-row-group guard; measured 1.59s → 0.38s at 50k docs (r9)
    docs = rebalance_for_cpu(docs, id_col)
    # materialized once — every per-language intersection reads it
    docs = docs.withColumn(
        "_dtoks", F.array_distinct(tokenize(F.col(text_col)))
    )
    toks = F.col("_dtoks")
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in sorted(LANG_PROFILES.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # alphabetically-first max: fold langs in reverse alphabetical order so
    # the earliest alphabetical winner is applied last (outermost when).
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    label = (
        F.col("lang")
        if "lang" in docs.columns
        else F.lit(None).cast("string").alias("lang")
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        label,
        pred.alias("lang_pred"),
        best.cast("long").alias("lang_score"),
    )


def normalize_text(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical text normalization for dedup preprocessing: lowercase,
    fold tabs/newlines to spaces, collapse space runs, trim. Map-only;
    the ``changed`` flag marks rows the normalization touched (the usual
    monitoring hook in an ingestion pipeline). ASCII-explicit character
    classes so the Java-regex and RE2 (oracle) behaviors are identical.
    """
    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    # single-row-group guard; measured 0.57s → 0.29s at 50k docs (r9)
    docs = rebalance_for_cpu(docs, id_col)
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), r"[\t\r\n]+", " "),
            r" {2,}",
            " ",
        )
    )
    base = docs.select(F.col(id_col).alias("doc_id"), t.alias("_t"), norm.alias("_n"))
    return base.select(
        "doc_id",
        F.col("_n").alias("norm_text"),
        (F.col("_n") != F.col("_t")).alias("changed"),
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style primitives).

    Hashes K-char shingles at stride ``FINGERPRINT_STRIDE`` (md5 → 52-bit
    int, oracle-identical), then reports the minimum hash and the count
    of "selected" hashes (h ≡ 0 mod 16 — the 1/16 systematic sample
    winnowing keeps). Stride 2: adjacent K-char windows overlap in K-1
    chars, so consecutive hashes are near-redundant for fingerprinting —
    sampling every other position halves the dominant md5 cost with no
    loss of discrimination (round-3 VERDICT next-round #4). A POSITIONAL
    stride is fine here, unlike the dedup shingle path (which round 10
    moved to content-anchored selection, see dedup.SHINGLE_SELECT_MOD):
    this is a per-doc digest, never a pairwise-similarity input, so
    shift-fragility of the sample costs nothing. Map-only; per-row
    cost is O(len/stride). Documents shorter than K get fingerprint NULL
    and 0 selected.
    """
    t = F.col(text_col)
    n = F.length(t)
    # shingles cut from the per-row char array (slice = O(K) by index),
    # never per-position substr — Spark's UTF8String scans from the
    # front, so substr(i, K) is O(i) and the rolling hash was O(len²)
    # per document on 10k-50k-char docs (round-11 longdocs finding; same
    # fix as dedup.shingle_hash_set, values bit-identical). The char
    # array is bound ONCE via bind_once: splicing the split Column into
    # the HOF lambda would duplicate the split subtree per reference and
    # the interpreted HOF evaluator re-splits the text per position —
    # O(len²) through the back door (see functions.core.bind_once).
    hashes = bind_once(
        F.split(t, ""),
        lambda cs: F.transform(
            F.sequence(
                F.lit(1),
                n - F.lit(FINGERPRINT_K - 1),
                F.lit(FINGERPRINT_STRIDE),
            ),
            lambda i: md5_hash64(
                F.array_join(F.slice(cs, i, FINGERPRINT_K), "")
            ),
        ),
    )
    guarded = F.when(n >= FINGERPRINT_K, hashes).otherwise(
        F.array().cast("array<long>")
    )
    # materialize the hash array ONCE — min and the mod-16 count both read
    # it, and an inlined alias would run the whole md5 rolling hash twice
    # (CollapseProject spares non-cheap aliases, SPARK-36718; measured 2×
    # at sf0.1)
    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    base = rebalance_for_cpu(docs, id_col).select(
        F.col(id_col).alias("doc_id"), guarded.alias("_h")
    )
    h = F.col("_h")
    return base.select(
        "doc_id",
        F.array_min(h).alias("min_shingle_hash"),
        F.size(F.filter(h, lambda x: x % 16 == 0)).cast("long").alias("n_selected"),
    )


#: PII patterns for the scrubber — the RE2∩Java-regex common subset
#: (char classes, counted repeats, word boundaries; no lookaround), so the
#: engine and the DuckDB oracle redact identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def scrub_pii(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails and phone numbers from ``text`` — map-only, runs at
    scan speed; the standard compliance pass before any corpus leaves the
    ingestion boundary. Emits the scrubbed text plus per-kind match counts
    (the audit trail a compliance pipeline must keep).

    Counts mirror the SEQUENTIAL replacement: phones are counted on the
    email-redacted text, because a phone-shaped substring inside an email
    address is consumed by the email pass and never produces a [PHONE]
    token — counting it from the original text would claim a redaction
    that did not happen. Oracle in lockstep.
    """
    from financial_big_data_exp_4_spark.session import rebalance_for_cpu

    # single-row-group guard; the regex passes are the dominant cost —
    # measured 4.81s → 0.56s at 50k docs
    docs = rebalance_for_cpu(docs, id_col)
    t = F.col(text_col)
    after_email = F.regexp_replace(t, PII_EMAIL, "[EMAIL]")
    # regexp_count: identical match count, no per-match string array
    n_email = F.regexp_count(t, F.lit(PII_EMAIL))
    n_phone = F.regexp_count(after_email, F.lit(PII_PHONE))
    clean = F.regexp_replace(after_email, PII_PHONE, "[PHONE]")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        clean.alias("clean_text"),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
    )

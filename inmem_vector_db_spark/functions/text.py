"""Text-analysis Column expressions for the training-data pipeline
(beyond-reference operators, SURVEY.md 7.2 step 7).

All functions are pure JVM-side expressions (split/transform/filter/
aggregate) — no Python UDFs — so they pipeline with the parquet scan and
survive a 100 TB documents table.  Every function has an exact DuckDB-SQL
counterpart used by the oracle gate, so hashing/tokenization is defined
over ``md5`` and single-space splits (portable across engines), not over
engine-specific hash functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Function words per language for the n-gram/stopword lang-id heuristic.
# Deterministic tie-break: first language in LANGS with the max hit count.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "los", "las", "un", "una"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour", "qui"),
}
LANGS = tuple(LANG_STOPWORDS)

STOPWORDS_EN = LANG_STOPWORDS["en"] + ("a", "on", "for", "with", "as", "at")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, lowercased, with empty strings removed.
    Single-space split then empty-filter (portable: identical to DuckDB
    ``list_filter(string_split(lower(text), ' '), x -> x <> '')``).

    The empty-filter matters: a bare ``split`` keeps ``""`` tokens on
    runs of spaces / leading / trailing whitespace, which inflates
    ``token_count`` and lets ``word_shingles`` emit shingles built from
    empty tokens — two whitespace-only documents would then be reported
    as Jaccard-1.0 near-duplicates (round-4 Hypothesis counterexample,
    ``tests/test_kmeans_properties.py``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), " "), lambda x: x != F.lit(""))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer shape: contractions | letter-runs | digit-runs
# | punctuation-runs, each optionally preceded by a space.  JVM regex,
# whole-stage codegen — an estimator of BPE token counts without a vocab.
_BPE_ISH = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish subword token count (training-data budgeting at 100 TB
    needs token counts long before a tokenizer service is in the loop).
    Counts regexp matches of the GPT-2 pre-tokenization classes; real
    BPE then merges *within* these pieces, so this lower-bounds piece
    count and tracks it closely for natural text.  Pure JVM
    (``regexp_count``) — no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(_BPE_ISH))


def distinct_ratio(text: Column | str) -> Column:
    """unique tokens / tokens — low values flag boilerplate/repetition.
    NULL on zero-token docs (try_divide, matching DuckDB's x/0 -> NULL)."""
    t = tokens(text)
    return F.try_divide(F.size(F.array_distinct(t)).cast("double"), F.size(t))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    t = tokens(text)
    sw = F.lit(list(stopwords))
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return F.try_divide(hits.cast("double"), F.size(t))


def quality_score(text: Column | str) -> Column:
    """Composite quality in [0,1]: length saturation + vocabulary
    diversity + natural-language stopword band (the length/punct/stopword
    family of LLM-corpus quality filters)."""
    t = tokens(text)
    n = F.size(t).cast("double")
    length_part = F.least(F.lit(1.0), n / F.lit(128.0))
    diversity = F.try_divide(F.size(F.array_distinct(t)).cast("double"), n)
    sw = stopword_ratio(text)
    # stopword band: ideal natural text has some but not all stopwords
    band = F.lit(1.0) - F.abs(sw - F.lit(0.3)) / F.lit(0.7)
    return F.round(
        F.lit(0.4) * length_part + F.lit(0.4) * diversity + F.lit(0.2) * band, 6
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """n-word shingles (space-joined); empty array when fewer than n
    tokens.  Basis for MinHash / Jaccard dedup.

    Built by zip_with-ing the token array against its own 1..n-1 shifted
    slices.  Every token-array reference is evaluated at ROW level (O(n)
    splits per row); the naive ``transform(idx, i -> element_at(t, i+j))``
    formulation re-evaluates the captured split PER ELEMENT inside the
    lambda — O(tokens^2) work that dominated the whole MinHash pipeline.
    """
    t = tokens(text)
    out = t
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(t, j + 1, F.size(t)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    cnt = F.size(t) - (n - 1)
    return F.when(cnt < 1, F.array().cast("array<string>")).otherwise(
        F.slice(out, 1, cnt)
    )


def lang_hits(text: Column | str, lang: str) -> Column:
    t = tokens(text)
    sw = F.lit(list(LANG_STOPWORDS[lang]))
    return F.size(F.filter(t, lambda x: F.array_contains(sw, x)))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: CJK codepoints => zh; else argmax of
    function-word hits with deterministic tie-break (LANGS order);
    'unknown' when no hits."""
    c = F.col(text) if isinstance(text, str) else text
    hits = {lang: lang_hits(c, lang) for lang in LANGS}
    best = F.greatest(*hits.values())
    expr = F.lit("unknown")
    for lang in reversed(LANGS):
        expr = F.when(hits[lang] == best, F.lit(lang)).otherwise(expr)
    expr = F.when(best == 0, F.lit("unknown")).otherwise(expr)
    return F.when(c.rlike("[一-鿿]"), F.lit("zh")).otherwise(expr)


def fingerprint(text: Column | str) -> Column:
    """Key-collision document fingerprint: md5 over the sorted distinct
    token set.  Word-order-insensitive — catches shuffled boilerplate
    that exact md5(text) misses."""
    t = tokens(text)
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(t))))


# MinHash permutation family: one 60-bit md5-derived hash per shingle,
# then k universal-hash permutations  (a_i * h + b_i) mod P  with
# P = 2^31 - 1 (prime).  All intermediates < 2^62 — no int64 overflow in
# Spark OR DuckDB, so the oracle computes bit-identical signatures.
MINHASH_P = 2_147_483_647
_MINHASH_A = 507_952_114  # 2654435761 (Knuth) reduced mod P
_MINHASH_B = 40_503


def shingle_hash(s: Column) -> Column:
    """60-bit integer hash of a shingle: first 15 hex chars of md5,
    engine-portable (DuckDB: ``('0x' || substr(md5(s),1,15))::UBIGINT``)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def minhash_from_hashes(hs: Column, num_hashes: int = 12) -> Column:
    """MinHash signature from an array of pre-reduced shingle hashes
    (values already ``mod P``):
    ``sig[i] = min over h of (a_i * h + b_i) mod P``.

    Split out so a shared signature table (``operators.signatures``) can
    hash each shingle once and derive the signature from the hash array;
    min over a distinct hash set equals min over the multiset, so
    signatures computed from ``array_distinct`` shingles are identical.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                hs,
                lambda h: (
                    ((F.lit(_MINHASH_A).cast("long") * (i + 1)) % MINHASH_P) * h
                    + F.lit(_MINHASH_B).cast("long") * (i + 7)
                ) % MINHASH_P,
            )
        ),
    )


def minhash_signature(text: Column | str, num_hashes: int = 12, shingle_n: int = 3) -> Column:
    """MinHash signature as array<bigint>:
    ``sig[i] = min over shingles of (a_i * (h(s) mod P) + b_i) mod P``.

    One md5 per shingle (the expensive part), then ``num_hashes`` cheap
    integer permutations — ~num_hashes x less hashing than salting the
    md5 per permutation, same MinHash property (each (a_i, b_i) is a
    universal-hash permutation of shingle space).
    """
    sh = word_shingles(text, shingle_n)
    hs = F.transform(sh, lambda s: shingle_hash(s) % MINHASH_P)
    return minhash_from_hashes(hs, num_hashes)


def _majority_vote_udf(n_bits: int):
    """Arrow-batched pandas UDF: hash array -> SimHash signature.  bit b
    of the output = majority vote of bit b across the row's hashes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sim(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        bitpos = np.arange(n_bits, dtype=np.uint64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> bitpos[None, :]) & 1  # (n_shingles, n_bits)
            maj = (bits.sum(0) * 2 >= len(h)).astype(np.uint64)
            out[i] = (maj << bitpos).sum().astype(np.int64)
        return pd.Series(out)

    return _sim


def simhash64(text: Column | str, shingle_n: int = 2) -> Column:
    """64-bit SimHash over word shingles, as BIGINT.

    Hybrid plan: shingle hashing stays JVM-side (``xxhash64`` inside
    whole-stage codegen — the expensive per-token work), then one
    Arrow-batched pandas UDF turns each row's hash array into the 64-bit
    signature with vectorized numpy bit-counting.  bit b = majority vote
    of bit b across shingle hashes.  (A per-row Python md5 loop would be
    the 100x-slower anti-pattern.)

    Not DuckDB-reproducible (xxhash64 is Spark-specific) => rows-only
    oracle; unit-tested against a pure-Python reference instead.
    """
    sh = word_shingles(text, shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    return _majority_vote_udf(64)(hashes)


def simhash60(text: Column | str, shingle_n: int = 2) -> Column:
    """Portable 60-bit SimHash over word shingles, as BIGINT — the
    oracle-checkable sibling of :func:`simhash64`.

    Same md5-derived 60-bit shingle hash as MinHash (``shingle_hash``),
    computed JVM-side inside codegen, then the same Arrow-batched
    majority-vote UDF as :func:`simhash64` (numpy bit-counting — ~6x
    faster than the previous 60-ops-per-shingle nested-HOF expression,
    bit-identical values).  Bit b of the signature is 1 iff at least
    half the shingle hashes have bit b set.  DuckDB recomputes it
    exactly with ``('0x'||substr(md5(s),1,15))::UBIGINT`` and
    list_transform/list_sum over generate_series(0,59) — portability is
    a property of the VALUES (md5-derived), not of which engine stage
    does the vote.
    """
    sh = word_shingles(text, shingle_n)
    hs = F.transform(sh, shingle_hash)
    return _majority_vote_udf(60)(hs)


# ---------------------------------------------------------------------------
# deterministic sampling + PII redaction (training-data pipeline ops)

SAMPLE_BUCKETS = 10_000


def hash_bucket(text: Column | str, buckets: int = SAMPLE_BUCKETS) -> Column:
    """Deterministic sampling bucket in [0, buckets): the 60-bit md5
    hash (``shingle_hash``) mod buckets.  The standard reproducible
    corpus-sampling primitive at 100 TB — unlike ``F.rand()``, the same
    row lands in the same bucket on every run, every engine, every
    partition layout (DuckDB: ``('0x'||substr(md5(t),1,15))::UBIGINT %
    buckets``)."""
    c = F.col(text) if isinstance(text, str) else text
    return shingle_hash(c) % buckets


def hash_sample(df, rate: float, key_col: str = "text"):
    """Keep a deterministic ``rate`` fraction of rows by hash bucket.
    Pure filter — pipelines with the scan, no shuffle, reproducible."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    thresh = int(rate * SAMPLE_BUCKETS)
    return df.filter(hash_bucket(F.col(key_col)) < thresh)


def weighted_hash_sample(
    df,
    weight: Column,
    multiplier: int,
    key_col: str = "text",
    space: int = 1_000_000,
):
    """Deterministic WEIGHTED Bernoulli sample: keep a row with
    probability min(1, weight * multiplier / space).

    Token-weighted corpus sampling ("sample 0.1% of TOKENS, not 0.1% of
    documents") is the standard way to subsample training data without
    skewing the token distribution toward short documents. All-integer
    math — ``hash % space < least(space, weight * multiplier)`` — so the
    sample is reproducible across runs, engines, and partition layouts
    (same md5 scheme as ``hash_sample``), and a DuckDB oracle can
    recompute membership exactly. A pure filter: pipelines with the
    scan, no shuffle, no ``F.rand``.
    """
    thresh = F.least(F.lit(space).cast("long"), weight * F.lit(multiplier))
    return df.filter(
        (shingle_hash(F.col(key_col)) % space) < thresh
    )


# Email/phone patterns restricted to constructs Java regex and RE2
# (DuckDB) interpret identically: char classes, +/?, bounded repeats.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3} [0-9]{3} [0-9]{4}"


def redact_pii(text: Column | str) -> Column:
    """Replace emails/phone numbers with typed placeholders — the
    PII-scrubbing pass an LLM training pipeline runs before anything
    else sees the text.  Pure JVM regexp_replace (codegen), one pass
    per pattern; DuckDB mirrors with ``regexp_replace(..., 'g')``."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_counts(text: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text — the audit metric that
    pairs with :func:`redact_pii`."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(EMAIL_RE)), F.regexp_count(c, F.lit(PHONE_RE))

"""Shared deterministic text-hashing primitives for dedup/text analysis.

Every primitive here has a DuckDB-SQL twin (plans/sql_oracles.py) built from
the SAME constants, so the driver's Spark-vs-DuckDB hash comparison is
byte-exact. The cross-engine hash is the first 8 hex chars of md5 (both
engines produce identical lowercase hex md5), parsed as an int64:

    token_hash(t) = int(md5(t)[0:8], 16)        ∈ [0, 2^32)

MinHash family: h_j(x) = (A_j * (x mod P) + B_j) mod P with P = 2^31 - 1
and fixed (A_j, B_j); 16 hashes banded 4×4 for LSH.

SimHash is 32-bit: bit b is set iff strictly more than half of the token
hashes have bit b set.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MINHASH_P = 2147483647  # 2^31 - 1
N_MINHASH = 16
LSH_BANDS = 4
LSH_ROWS = 4  # N_MINHASH / LSH_BANDS

# fixed affine constants (odd, < P) — shared verbatim with the SQL oracle
MINHASH_A = [
    1103515245, 1299709, 2147483629, 32452843, 49979687, 67867967,
    86028121, 104395301, 122949823, 141650939, 160481183, 179424673,
    198491317, 217645177, 236887691, 256203161,
]
MINHASH_B = [
    12345, 617, 104729, 7919, 3571, 9973, 4409, 1031,
    8191, 131071, 524287, 6700417, 2521008887, 613651349, 201560503, 999999937,
]

SIMHASH_BITS = 32

#: engine-uniform ASCII whitespace class. Java \\s, Python re \\s and
#: RE2 \\s disagree on non-ASCII whitespace (e.g. U+00A0), so every
#: tokenizer — Spark Column, Arrow UDF, DuckDB oracle — pins this
#: explicit class; cross-engine hash parity must not depend on fixture
#: content staying ASCII.
WS_REGEX = r"[ \t\n\r\f\x0b]+"

#: tiny deterministic stopword lists for the language-id heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no", "por", "que"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break order


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased, trimmed text."""
    return F.split(F.trim(F.lower(text)), WS_REGEX)


# -- single-parse SQL-text builders -------------------------------------------
#
# Token hashes, shingles, MinHash and SimHash exist only in SQL-text form:
# one SQL string parsed JVM-side in a single call (~1 ms), where building
# the same expression trees node-by-node as Columns cost ~320 ms of DRIVER
# time for the 16 minhash columns (each F.transform lambda round-trips py4j
# several times).
# Their DuckDB twins in plans/sql_oracles.py are built from the same
# constants; the hash gates and tests/test_dedup*.py pin the parity.


def token_hash_sql(tok_sql: str) -> str:
    """First 8 md5 hex chars as int64 — the cross-engine hash — over a
    token expression."""
    return f"cast(conv(substring(md5(cast({tok_sql} as binary)), 1, 8), 16, 10) as bigint)"


def shingles3_sql(toks_sql: str) -> str:
    """3-word shingles of a token-array column; [] when under 3 tokens.

    ``toks_sql`` is referenced once per shingle index, so it MUST name a
    materialized attribute (operators/dedup._materialize) on hot paths —
    a deep tokenize expression here is re-evaluated per shingle (quadratic
    in tokens; measured 3.1 s vs 0.2 s for the sf0.1 documents table)."""
    return (
        f"CASE WHEN size({toks_sql}) >= 3 THEN "
        f"transform(sequence(1, size({toks_sql}) - 2), "
        f"i -> concat_ws(' ', slice({toks_sql}, i, 3))) "
        "ELSE cast(array() as array<string>) END"
    )


def minhash_sql(hashes_sql: str, j: int) -> str:
    """j-th MinHash over an array<long> hash column (P on empty)."""
    a, b = MINHASH_A[j], MINHASH_B[j]
    return (
        f"coalesce(array_min(transform({hashes_sql}, "
        f"x -> ({a} * (x % {MINHASH_P}) + {b}) % {MINHASH_P})), {MINHASH_P})"
    )


def simhash_agg_sql(hashes_sql: str, n_sql: str) -> str:
    """Single-pass SimHash as SQL text: one ``aggregate`` over the hash
    array carrying a 32-counter accumulator, then a weighted majority fold.

    Value-identical to the per-bit reference formulation in
    ``tests/twins.py`` (tests assert it) but each element is visited ONCE
    instead of once per bit — 2.5× faster in the interpreted HOF evaluator
    (0.59 → 0.24 s on the sf0.1 documents table). ``n_sql`` is the token
    count (the size of the token array).
    """
    bits = ", ".join(
        f"cast(shiftright(x, {b}) & 1 as bigint)" for b in range(SIMHASH_BITS)
    )
    zeros = ", ".join(["0L"] * SIMHASH_BITS)
    weights = ", ".join(f"{1 << b}L" for b in range(SIMHASH_BITS))
    return (
        f"aggregate(zip_with(aggregate({hashes_sql}, array({zeros}), "
        f"(acc, x) -> zip_with(acc, array({bits}), (c, v) -> c + v)), "
        f"array({weights}), "
        f"(c, w) -> CASE WHEN c * 2 > {n_sql} THEN w ELSE 0L END), "
        "0L, (a, v) -> a + v)"
    )


def stopword_hits_col(text: Column, lang: str) -> Column:
    toks = tokens_col(text)
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))


def lang_id_col(text: Column) -> Column:
    """argmax of stopword hits over LANG_ORDER; 'und' (undetermined) on 0."""
    hits = [stopword_hits_col(text, lang) for lang in LANG_ORDER]
    best = F.greatest(*hits)
    expr = F.lit("und")
    # reversed so earlier langs win ties (the last when() checked wins... build
    # explicitly: first matching lang in LANG_ORDER takes the tie)
    for lang, h in reversed(list(zip(LANG_ORDER, hits))):
        expr = F.when((best > 0) & (h == best), F.lit(lang)).otherwise(expr)
    return expr

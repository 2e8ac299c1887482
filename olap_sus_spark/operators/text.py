"""Text-analysis operators for large-scale training-data pipelines.

Tokenization, token counting, quality scoring, language ID (stopword/n-gram
heuristic), and document fingerprinting — all as Catalyst expressions over a
``documents(doc_id, text, lang, source, n_chars)`` table.  No Python UDFs:
at 100 TB these run inside whole-stage codegen on the scan, shuffle nothing,
and reduce to per-row expressions + one optional aggregation.

Portability note: every hash used for fingerprints/minhash is md5-based
(identical in Spark and DuckDB) with the first 15 hex digits cast to int64
(< 2^60, no overflow) so oracles can verify values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from olap_sus_spark.operators.onecall import lit_strings

TOKEN_RE = "[a-z0-9]+"  # BPE-ish lowercase word/number pieces; RE2+Java safe

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic.  (Real pipelines plug in fastText/CLD3 via a Pandas UDF; the
# heuristic keeps the operator test-able and oracle-able.)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "que", "y", "un"),
    "fr": ("le", "la", "et", "les", "des", "un"),
    "zh": ("de", "shi", "le", "zai", "you", "he"),
}


def tokens(text: Column | str) -> Column:
    """Lowercase word-piece tokens (regex extraction, not split — identical
    behavior for leading/trailing/multiple separators in both engines)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# BPE-style *pre-tokenization* pieces (the split a byte-pair encoder merges
# within): optional leading space + letter run | digit run | punctuation run.
# Deliberately lookahead-free so Java (Spark) and RE2 (DuckDB) agree.
BPE_PRETOKEN_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_pretokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_pretoken_count(text: Column | str) -> Column:
    """Pre-token count — the standard cheap proxy for LLM token budgets
    (actual BPE merges only split pieces further, never join them)."""
    return F.size(bpe_pretokens(text))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, "[a-zA-Z0-9 ]", "")
    return F.length(stripped).cast("double") / F.length(c).cast("double")


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = LANG_PROFILES["en"]) -> Column:
    toks = tokens(text)
    sw = lit_strings(stopwords)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def mean_token_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features (length / punctuation / stopword /
    token-shape ratios) — the standard pre-training quality-filter basis."""
    t = F.col(text_col)
    return df.select(
        "*",
        F.length(t).alias("q_chars"),
        token_count(t).alias("q_tokens"),
        mean_token_length(t).alias("q_mean_token_len"),
        punct_ratio(t).alias("q_punct_ratio"),
        stopword_ratio(t).alias("q_stopword_ratio"),
    )


def langid(text: Column | str) -> Column:
    """Stopword-profile language ID: argmax profile-hit count, ties broken
    alphabetically (deterministic).  Returns the ISO code."""
    toks = tokens(text)
    best = None
    for code in sorted(LANG_PROFILES):  # alphabetical = tie-break order
        sw = lit_strings(LANG_PROFILES[code])
        score = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        struct = F.struct(score.alias("s"), F.lit(code).alias("c"))
        best = struct if best is None else F.when(struct["s"] > best["s"], struct).otherwise(best)
    return best["c"]


def sliding_concat(arr: Column, n: int, sep: str = " ") -> Column:
    """n-gram sliding window over an array via chained ``zip_with``.

    Construction matters for performance: a higher-order-function lambda
    re-evaluates any *outer* expression it references once per element
    (HOFs are interpreted, not codegen'd), so the natural
    ``transform(sequence(...), i -> element_at(arr, i+j))`` runs the array
    expression O(|arr| × n) times per row — measured 40× slower on the
    minhash path.  ``zip_with`` evaluates each array operand exactly once
    and its lambda touches only lambda variables, so this is O(n)
    evaluations of ``arr`` per row.
    """
    out = arr
    for j in range(1, n):
        shifted = F.slice(arr, j + 1, 1 << 30)
        out = F.zip_with(
            out,
            shifted,
            lambda a, b: F.when(a.isNull() | b.isNull(), F.lit(None)).otherwise(
                F.concat(a, F.lit(sep), b)
            ),
        )
    return F.filter(out, lambda x: x.isNotNull())


def token_ngrams(text: Column | str, n: int = 3) -> Column:
    """Token n-grams (space-joined) — the unit for Jaccard/minhash dedup."""
    return sliding_concat(tokens(text), n)


def md5_int(c: Column) -> Column:
    """First 15 hex digits of md5 as int64 — portable 60-bit hash."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 over the sorted distinct token set (content
    identity robust to token order / whitespace)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def rolling_fingerprint(text: Column | str, n: int = 3) -> Column:
    """Rolling-hash style fingerprint: min/max md5-int over token n-grams,
    packed as 'min:max' — cheap locality-sensitive document signature."""
    grams = token_ngrams(text, n)
    hashes = F.transform(grams, md5_int)
    return F.concat_ws(":", F.array_min(hashes).cast("string"), F.array_max(hashes).cast("string"))

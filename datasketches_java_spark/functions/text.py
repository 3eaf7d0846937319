"""Text-analysis operators for training-data pipelines, as pure Spark
column expressions (JVM-side, whole-stage codegen — no Python in the
hot path): token counting, quality scoring, language-ID heuristic,
document fingerprinting, char-n-gram shingling.

Ratio outputs are integer basis points computed with the exact
round-half-up identity  bp = (20000*num + den) div (2*den)  so the
DuckDB oracle can reproduce them bit-for-bit (no float rounding
divergence between engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_CLASS = r"[.,!?;:]"
STOPWORDS = ("the", "of", "and", "a", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    # NULL-safe: length(trim(NULL)) is NULL (condition falls through)
    # and size(split(NULL)) is -1 under legacy sizeOfNull — a NULL text
    # counts 0 tokens, never -1 (which would skew SUM(n_tokens) budgets)
    return F.when(
        text.isNull() | (F.length(F.trim(text)) == 0), F.lit(0)
    ).otherwise(F.size(tokens(text))).cast("bigint")


# BPE-ish pre-tokenizer rule (GPT-2 family, ASCII-restricted so Spark's
# Java regex and DuckDB's RE2 match byte-for-byte — no lookahead, no
# unicode property classes): a token is a letter run, a digit run, or
# ONE non-alnum-non-space char. Whitespace separates, never counts.
# Engine-parity caveat: the negated class counts one UTF-16 code unit
# in Java vs one code point in RE2, so non-BMP chars (emoji) count 2 vs
# 1; BMP text — all of the gate corpus — is identical in both engines.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count under the BPE pre-tokenizer rule —
    the budget estimator an LLM-training pipeline runs per document
    (whitespace token_count underestimates code/punctuation-heavy
    text). Pure JVM expression (regexp_count, codegen)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE)).cast("bigint")


def _bp(num: Column, den: Column) -> Column:
    """Round-half-up basis points in pure integer arithmetic."""
    num = num.cast("bigint")
    den = den.cast("bigint")
    # floor of a correctly-rounded double quotient of exact <2^53 ints
    # is exact, and DuckDB's integer // floors identically
    return F.when(den <= 0, F.lit(0).cast("bigint")).otherwise(
        F.floor((F.lit(20000) * num + den) / (F.lit(2) * den))
    )


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))


def stopword_count(text: Column) -> Column:
    toks = tokens(F.lower(text))
    arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def quality_columns(text: Column) -> dict[str, Column]:
    """Quality-score feature columns (all integer, oracle-stable)."""
    n_chars = F.length(text)
    n_tok = token_count(text)
    return {
        "n_chars_calc": n_chars.cast("bigint"),
        "n_tokens": n_tok,
        "punct_bp": _bp(punct_count(text), n_chars),
        "stopword_bp": _bp(stopword_count(text), n_tok),
        "ws_bp": _bp(
            F.length(text) - F.length(F.regexp_replace(text, r"\s", "")), n_chars
        ),
    }


def lang_id(text: Column) -> Column:
    """n-gram/stopword language heuristic: 'en' when English stopwords
    make up >= 2% of tokens, else 'und'. (A real model would plug in
    here; the Spark plumbing — pure expression, no UDF — is the point.)
    """
    return F.when(
        _bp(stopword_count(text), token_count(text)) >= 200, F.lit("en")
    ).otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# Gopher-style quality gates (Rae et al. 2021, "Scaling Language Models",
# table A1 — public rules, thresholds scaled to this corpus's 10-99-word
# documents). All anchor-free ASCII regexes (no (?m), no $) so Java regex
# and DuckDB's RE2 count identically; all ratios integer basis points.

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 80
GOPHER_MIN_MEAN_WORD_LEN_BP = 30_000   # 3.0 chars
GOPHER_MAX_MEAN_WORD_LEN_BP = 100_000  # 10.0 chars
GOPHER_MIN_ALPHA_BP = 8_000            # >= 80% words contain a letter
GOPHER_MAX_BULLET_BP = 9_000           # <= 90% lines start with a bullet
GOPHER_MAX_ELLIPSIS_BP = 3_000         # <= 30% lines end with "..."

# token containing at least one letter: greedy X*LX* matches the whole
# whitespace-delimited token once in both leftmost-first (Java) and
# leftmost-longest (RE2) semantics
# negated class matches Java \s (token_count's splitter) so \r/\f/\v
# separators never fuse two words into one alpha "token"
ALPHA_WORD_RE = r"[^ \t\n\x0B\f\r]*[A-Za-z][^ \t\n\x0B\f\r]*"


def gopher_columns(text: Column) -> dict[str, Column]:
    """Gopher quality-filter feature columns + pass flag, as pure JVM
    expressions. Line metrics avoid multiline anchors by counting
    against explicit newline sentinels (engine-portable)."""
    n_words = token_count(text)
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    mean_word_len_bp = _bp(nonspace, n_words)
    alpha_words = F.regexp_count(text, F.lit(ALPHA_WORD_RE)).cast("bigint")
    alpha_bp = _bp(alpha_words, n_words)
    n_lines = (F.lit(1) + F.regexp_count(text, F.lit(r"\n"))).cast("bigint")
    bullet_lines = F.regexp_count(
        F.concat(F.lit("\n"), text), F.lit(r"\n[ \t]*[-*]")
    ).cast("bigint")
    ellipsis_lines = F.regexp_count(
        F.concat(text, F.lit("\n")), F.lit(r"\.\.\.[ \t]*\n")
    ).cast("bigint")
    bullet_bp = _bp(bullet_lines, n_lines)
    ellipsis_bp = _bp(ellipsis_lines, n_lines)
    gopher_pass = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word_len_bp >= GOPHER_MIN_MEAN_WORD_LEN_BP)
        & (mean_word_len_bp <= GOPHER_MAX_MEAN_WORD_LEN_BP)
        & (alpha_bp >= GOPHER_MIN_ALPHA_BP)
        & (bullet_bp <= GOPHER_MAX_BULLET_BP)
        & (ellipsis_bp <= GOPHER_MAX_ELLIPSIS_BP)
    )
    return {
        "n_words": n_words,
        "mean_word_len_bp": mean_word_len_bp,
        "alpha_word_bp": alpha_bp,
        "n_lines": n_lines,
        "bullet_line_bp": bullet_bp,
        "ellipsis_line_bp": ellipsis_bp,
        "gopher_pass": gopher_pass,
    }


def word_ngrams(text: Column, n: int, distinct: bool = True) -> Column:
    """Lowercase word n-grams as an array of space-joined strings
    (JVM-side: split + slice under transform — no UDF); distinct by
    default (set membership), positional when `distinct=False`
    (repetition counting). Documents shorter than n words yield an
    empty array."""
    words = tokens(F.lower(text))
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(text: Column, k: int) -> Column:
    """Distinct char-k shingles as an array (JVM-side, for relational
    dedup; the sketch path uses the NumPy kernel instead)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(text, i, k)))


def fingerprint(text: Column, k: int = 8) -> Column:
    """Bottom-1 sketch of char-k shingles under md5 — a deterministic
    64-hex document fingerprint (rolling-hash family, KMV with k=1)."""
    return F.array_min(F.transform(char_shingles(text, k), F.md5))

"""Text-analysis expressions for the LLM-data-pipeline surface
(BASELINE.json north star; SURVEY.md §7.6): token counting, quality
scoring, n-gram language ID, document fingerprinting.

All pure built-in column expressions — at 100 TB these run inside
whole-stage codegen on the scan output with no Python boundary.  Each
has an exact DuckDB SQL mirror in ``plans/llm_text.py`` (same regexes,
same arithmetic) so the driver's oracle can hash-compare.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "BPE_TOKEN_REGEX",
    "bpe_tokens",
    "bpe_token_count",
    "avg_word_len",
    "punct_ratio",
    "stopword_hits",
    "stopword_ratio",
    "quality_score",
    "lang_scores",
    "predicted_lang",
    "md5_fingerprint",
    "rolling_hash",
    "shingles",
]

# Minimal per-language stopword vocabularies for the n-gram/stopword
# language-ID heuristic.  Word-boundary regexes keep Spark and DuckDB
# tokenization byte-identical.
LANG_STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "a", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "fr": ["le", "la", "de", "et", "un", "en", "que", "pour"],
    "de": ["der", "die", "und", "das", "von", "zu", "ein", "mit"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def _norm(text: Column) -> Column:
    return F.lower(F.trim(text))


def tokens(text: Column) -> Column:
    """Whitespace tokenization (shared spec with the SQL oracle:
    ``string_split_regex(lower(trim(x)), '\\s+')``)."""
    return F.split(_norm(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-ish pre-tokenization (GPT-2-style, simplified): contraction
# suffixes, letter runs, SINGLE digits (BPE splits numbers), punctuation
# runs.  Alternation is leftmost-first in both Java regex (Spark) and
# RE2 (DuckDB), and the pattern avoids lookaround (unsupported in RE2),
# so regexp_extract_all is token-for-token identical across engines.
BPE_TOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]|[^a-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    """BPE-style pre-tokens of the lowered text.  The count of these is
    the standard proxy for LLM token cost (word runs split from digits
    and punctuation, numbers split per digit)."""
    return F.regexp_extract_all(_norm(text), F.lit(BPE_TOKEN_REGEX), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text))


def avg_word_len(text: Column) -> Column:
    """Mean token length = non-whitespace chars / token count."""
    chars = F.length(F.regexp_replace(_norm(text), r"\s+", ""))
    return chars.cast("double") / token_count(text)


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def _stopword_regex(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Count of stopword occurrences via regexp_extract_all — identical
    count semantics in DuckDB."""
    rx = _stopword_regex(LANG_STOPWORDS[lang])
    return F.size(F.regexp_extract_all(_norm(text), F.lit(rx)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return stopword_hits(text, lang).cast("double") / token_count(text)


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0,1]: length signal +
    stopword density + punctuation penalty.  Deterministic double
    arithmetic, mirrored exactly in SQL."""
    len_sig = F.least(F.lit(1.0), token_count(text) / F.lit(100.0))
    stop_sig = F.least(F.lit(1.0), stopword_ratio(text) * 5)
    punct_pen = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(text) * 10)
    return len_sig * 0.4 + stop_sig * 0.3 + punct_pen * 0.3


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-density scores (n-gram heuristic)."""
    n = token_count(text)
    return {
        lang: stopword_hits(text, lang).cast("double") / n for lang in LANG_STOPWORDS
    }


def predicted_lang(text: Column) -> Column:
    """argmax language by score; ties break by language-code order
    (explicit chained comparison so SQL mirrors bit-for-bit).

    NOTE the chained form embeds each language's regex score O(2^langs)
    times in the expression tree and codegen does NOT eliminate the
    duplicates (measured 1.6 s vs 0.55 s over 5k docs at sf0.1) —
    DataFrame-level callers should prefer :func:`with_predicted_lang`,
    which computes each score once via a bound projection and applies
    the IDENTICAL chained argmax over the bound columns."""
    scores = lang_scores(text)
    langs = sorted(LANG_STOPWORDS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        is_better = scores[lang] > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, scores[lang]).otherwise(best_score)
    return best


def with_predicted_lang(df, text_col: str, out_col: str):
    """``df`` plus ``out_col`` = ``predicted_lang(text_col)``, with each
    language score computed ONCE in a bound projection (r10): the
    chained argmax then compares cheap column references, and the
    optimizer's CollapseProject keeps the non-cheap regex aliases
    materialized because they are referenced more than once.  Same
    values, same tie-break — the argmax fold is identical expression-
    for-expression, only over bound columns.  The bound columns take a
    ``_plang_`` prefix lengthened until no name collides with the input
    or ``out_col``."""
    scores = lang_scores(F.col(text_col))
    langs = sorted(scores)
    taken = {c.lower() for c in [*df.columns, out_col]}
    prefix = "_plang_"
    while any(f"{prefix}{lang}".lower() in taken for lang in langs):
        prefix = "_" + prefix
    tmp = {lang: f"{prefix}{lang}" for lang in langs}
    base = df.select("*", *[scores[lang].alias(tmp[lang]) for lang in langs])
    best = F.lit(langs[0])
    best_score = F.col(tmp[langs[0]])
    for lang in langs[1:]:
        is_better = F.col(tmp[lang]) > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, F.col(tmp[lang])).otherwise(best_score)
    return base.withColumn(out_col, best).drop(*tmp.values())


def md5_fingerprint(text: Column) -> Column:
    """Whitespace-normalized md5 — identical hex on any engine."""
    return F.md5(F.regexp_replace(_norm(text), r"\s+", " "))


def rolling_hash(text: Column, mod: int = (1 << 31) - 1, base: int = 31) -> Column:
    """Polynomial rolling hash over characters: h = (h·base + code) mod m.
    Pure integer arithmetic (products < 2^63), so Spark ``aggregate``
    and DuckDB ``list_reduce`` agree exactly — a cross-engine document
    fingerprint with no hash-library dependence."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct), the unit for Jaccard /
    MinHash dedup.  Built from k shifted ``slice`` views zipped
    pairwise — array-kernel operations, not per-index ``element_at``
    lambdas (the naive transform-over-indices formulation measured ~40×
    slower on the sf0.1 corpus).  Pure expression; no explode until the
    caller wants one."""
    toks = tokens(text)
    n = F.size(toks)
    length = n - (k - 1)
    grams = F.slice(toks, 1, length)
    for j in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, length),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )

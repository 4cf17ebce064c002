"""Text analysis operators for training-data pipelines over ``documents``.

All hot-path logic is native column expressions (split/regexp/aggregate) so
it stays JVM-side; the only UDF-free exception rule applies: xxhash64 is a
built-in. Each operator has a DuckDB-mirrorable formulation except the
rolling fingerprint (xxhash64 is Spark-specific → rows-only correctness
check, noted in __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language marker words — tiny deterministic n-gram-style heuristic; the
# point is a reproducible, oracle-checkable rule, not linguistic accuracy
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "zh": ["de", "le", "shi"],
}
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (any whitespace run: space, tab, newline);
    empty string → empty array. The Java ``\\s`` class and DuckDB's RE2
    ``\\s`` agree on ASCII whitespace, which is all the fixtures and the
    oracle exercise."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


# GPT2-ish subword pre-tokenization over the ASCII range: a leading-space
# letter run, digit run, or punctuation run (kept to ASCII classes so Java
# regex (Spark) and RE2 (DuckDB oracle) agree byte-for-byte)
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword token count: number of BPE-ish pre-token matches — the cheap
    stand-in for a real tokenizer's length signal in a training-data
    pipeline (budgeting, truncation, quality filters)."""
    return F.size(
        F.filter(
            F.regexp_extract_all(text, F.lit(f"({BPE_ISH_PATTERN})"), 1),
            lambda m: m != "",
        )
    )


def word_occurrences(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whitespace-delimited token. Counts over
    the token array, so adjacent repeats all count (the earlier padded
    non-overlapping replace consumed the shared delimiter: 'the the the'
    counted 2, not 3) and any whitespace class delimits."""
    return F.size(F.filter(tokens_col(text), lambda w: w == F.lit(word))).cast("int")


def stopword_ratio(text: Column) -> Column:
    toks = tokens_col(text)
    stop = F.size(F.filter(toks, lambda w: F.lower(w).isin(STOPWORDS)))
    return F.when(F.size(toks) > 0, stop / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    toks = tokens_col(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0, 1] quality heuristic: length band + stopword presence +
    word-length sanity. Deterministic arithmetic only."""
    n = token_count(text)
    len_ok = F.when((n >= 5) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop = stopword_ratio(text)
    stop_ok = F.when((stop > 0.05) & (stop < 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = mean_word_len(text)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + stop_ok + mwl_ok) / F.lit(3.0)


def predict_lang(text: Column) -> Column:
    """Marker-word language ID: argmax over per-language marker counts,
    deterministic tie-break by language code, 'und' when all zero."""
    scores = {
        lang: sum(
            (word_occurrences(F.lower(text), w) for w in words),
            F.lit(0),
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = None
    best_score = None
    for lang in sorted(scores):  # later langs win only on strictly greater
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    total = sum(scores.values(), F.lit(0))
    return F.when(total > 0, best).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Order-sensitive rolling document fingerprint: fold xxhash64(token)
    into a 64-bit accumulator (Spark-specific hash → rows-only check)."""
    toks = tokens_col(text)
    return F.aggregate(
        toks,
        F.lit(1469598103934665603).cast("long"),
        lambda acc, w: F.xxhash64(acc, w),
    )

"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID, document fingerprinting — all pure column
expressions (JVM-side, whole-stage codegen) so they survive 100 TB scans
with zero Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "in", "on", "for", "to", "with",
    "is", "was", "are", "it", "that", "this", "by", "from", "at", "as",
]

# tiny per-language stopword banks for the n-gram/stopword lang-ID heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}


def words(col) -> Column:
    return F.split(F.trim(col), "\\s+")


def token_count(col) -> Column:
    """Whitespace token count (the baseline tokenizer)."""
    return F.size(words(col))


def bpe_ish_token_count(col) -> Column:
    """A BPE-ish proxy: count of word pieces + punctuation via regex —
    every run of letters, digits, or a single non-space symbol counts."""
    return F.size(F.regexp_extract_all(col, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), 0))


def stopword_ratio(col, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    w = F.transform(words(col), lambda x: F.lower(x))
    hits = F.size(F.filter(w, lambda x: F.array_contains(sw, x)))
    return hits / F.greatest(F.size(w), F.lit(1))


def punct_ratio(col) -> Column:
    n_punct = F.length(F.regexp_replace(col, "[^.,;:!?'\"()\\[\\]-]", ""))
    return n_punct / F.greatest(F.length(col), F.lit(1))


def mean_word_len(col) -> Column:
    w = words(col)
    return F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / F.greatest(F.size(w), F.lit(1)).cast("double")


def quality_score(col) -> Column:
    """Deterministic [0,1] quality heuristic: rewards mid-range length,
    some stopwords, low punctuation density — the standard cheap filters
    a pretraining pipeline applies before expensive stages."""
    length_ok = F.when((F.length(col) >= 50) & (F.length(col) <= 20000), 0.4).otherwise(0.0)
    sw = stopword_ratio(col)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), 0.3).otherwise(0.0)
    p_ok = F.when(punct_ratio(col) <= 0.2, 0.2).otherwise(0.0)
    wl = mean_word_len(col)
    wl_ok = F.when((wl >= 2.5) & (wl <= 12.0), 0.1).otherwise(0.0)
    return F.round(length_ok + sw_ok + p_ok + wl_ok, 2)


def lang_id(col) -> Column:
    """Stopword-marker language ID: argmax of per-language marker hits,
    'und' when no marker fires. Pure case expression."""
    w = F.transform(words(col), lambda x: F.lower(x))
    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append((lang, F.size(F.filter(w, lambda x: F.array_contains(arr, x)))))
    best = None
    for lang, sc in scores:
        s = F.struct(sc.alias("n"), F.lit(lang).alias("lang"))
        best = s if best is None else F.when(sc > best["n"], s).otherwise(best)
    return F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col) -> Column:
    """Whole-document content fingerprint: md5 of whitespace-normalized
    lowercase text — the exact-dup key at scale."""
    return F.md5(F.lower(F.regexp_replace(col, "\\s+", " ")))


def profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass text profile of a documents table."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_pieces"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(mean_word_len(c), 6).alias("mean_word_len"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )

"""Length-preserving text normalization + sentence filtering
(SURVEY.md §2.2 P1-P4; reference prep/SentenceFilter.scala:16-38,
prep/util/Asciifier.scala:9-103).

The reference's Asciifier is a strict 1:1 unicode→ASCII char map with a
runtime ``require(cleaned.length == original.length)`` — the invariant
that makes every later offset trustworthy. A 1:1 char map is exactly
Spark's native ``translate`` (JVM-side, whole-stage-codegen'd) — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 1:1 char substitution map (unicode punctuation/space → ASCII), in the
# spirit of the reference's ~95-entry map. Strictly length-preserving.
_ASCII_MAP = {
    "‘": "'", "’": "'", "‚": "'", "‛": "'",
    "“": '"', "”": '"', "„": '"', "‟": '"',
    "′": "'", "″": '"', "«": '"', "»": '"',
    "‹": "'", "›": "'",
    "‐": "-", "‑": "-", "‒": "-", "–": "-",
    "—": "-", "―": "-", "−": "-",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", " ": " ", " ": " ", "　": " ",
    "…": ".",  # ellipsis → single period (length-preserving, 1 char)
    "·": "-", "•": "-", "‧": "-",
    "´": "'", "`": "'",
}

FROM_STR = "".join(_ASCII_MAP.keys())
TO_STR = "".join(_ASCII_MAP.values())
assert len(FROM_STR) == len(TO_STR)


def asciify(col: Column | str) -> Column:
    """P2: length-preserving unicode→ASCII cleanup via native translate."""
    return F.translate(col, FROM_STR, TO_STR)


def normalize_inline_ws(col: Column | str) -> Column:
    """P3: newline/tab → space (length-preserving), as when the reference
    forms KbpSentence rows (prep/Sentencer.scala:36,91-93)."""
    return F.regexp_replace(col, "[\\n\\t\\r]", " ")


def clean_text(col: Column | str) -> Column:
    """P4: whitespace-collapse, the Entity.cleanText derivation
    (repr/bestmention/BestMention.scala:25). NOT length-preserving —
    only used for name matching, never for offsets."""
    return F.regexp_replace(col, "\\s+", " ")


def sentence_keep(col: Column | str) -> Column:
    """P1 predicate (prep/SentenceFilter.scala:16-25): keep a sentence iff
    length <= 750 and it has >= 3 whitespace runs. For trimmed sentence
    text, #ws-runs == #split-fields - 1, so the check is
    size(split(trim(text), '\\s+')) >= 4 — all JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) <= 750) & (F.size(F.split(F.trim(c), "\\s+")) >= 4)


def asciify_py(s: str) -> str:
    """Python twin of :func:`asciify` (same map; the pipeline twin's
    reference kernel)."""
    return s.translate(str.maketrans(_ASCII_MAP))


_INLINE_WS = {ord("\n"): " ", ord("\t"): " ", ord("\r"): " "}


def normalize_inline_ws_py(s: str) -> str:
    """Python twin of :func:`normalize_inline_ws` (the pipeline twin's
    reference kernel)."""
    return s.translate(_INLINE_WS)

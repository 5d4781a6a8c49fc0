"""NER + entity span assembly (SURVEY.md §2.3 T7/T8; reference
tool/ner/StanfordNERAnnotator.scala:9-23 and
tool/bestmention/BestEntityMentionFinder.scala:46-87).

The reference tags with Stanford CoreNLP then merges ADJACENT tokens with
the same NER tag into Entity spans (name = space-joined tokens, text =
raw substring, offset = span start). Stanford's models live in library
deps; ours is a deterministic dictionary+shape tagger:

- capitalized/NNP token runs form candidate spans (the adjacency merge
  is by construction),
- classification: person-name dictionary → PERSON; org-suffix word or
  all-caps acronym → ORGANIZATION; gazetteer name → LOCATION; else OTHER.

The dictionaries are small dimension data; the fused Arrow pass
(operators/fused.py) ships them to executors as broadcast variables —
the Spark analogue of the reference's process-wide singleton gazetteers
(BestEntityMentionFinder.scala:611-637).

Stage shape: ``sentence_entities`` is a pure kernel the fused pass calls
per sentence (offsets lifted to doc level); it also extracts pronoun
mentions for the coref stage in the same pass (one scan, two outputs
discriminated by ``entity_type``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tokenize import POS, START, TOK

ORG_SUFFIXES = {
    "Consortium", "Institute", "Alliance", "Commission", "Bureau",
    "Federation", "Industries", "Systems", "Partners", "Group", "Inc",
    "Corp", "Company", "University", "Committee", "Association", "Bank",
    "Agency", "Ministry", "Council", "Centers", "Center",
}

# full pronoun surface set for mention detection (coref input); the
# *propagation gate* uses the reference's exact personalPronouns set —
# see operators/bestmention.py PERSONAL_PRONOUNS
PRONOUNS = {
    "he", "she", "it", "they", "him", "her", "them", "his", "hers", "its",
    "their", "we", "us", "our", "i", "you", "me", "mine", "your", "my",
}

PRONOUN_TYPE = "PRONOUN"  # sentinel entity_type for pronoun mention rows


def _spans(tokens: list[tuple]) -> list[tuple[int, int]]:
    """Maximal runs of NNP tokens (the T8 adjacent-merge)."""
    runs, i, n = [], 0, len(tokens)
    while i < n:
        if tokens[i][POS] == "NNP":
            j = i
            while j + 1 < n and tokens[j + 1][POS] == "NNP":
                j += 1
            runs.append((i, j))
            i = j + 1
        else:
            i += 1
    return runs


def classify(words: list[str], first_names: frozenset, gaz_names: frozenset) -> str:
    if words[-1] in ORG_SUFFIXES:
        return "ORGANIZATION"
    if words[0] in first_names:
        return "PERSON"
    name = " ".join(words)
    if name in gaz_names:
        return "LOCATION"  # includes state abbreviations from the gazetteer
    if len(words) == 1 and words[0].isupper() and 2 <= len(words[0]) <= 5:
        return "ORGANIZATION"  # bare acronym
    if len(words) == 1 and words[0] in first_names:
        return "PERSON"
    return "OTHER"


def sentence_entities(toks, text, offset, firsts, gaz, lasts,
                      include_pronouns=True):
    """Per-sentence entity + pronoun extraction core (the fused Arrow
    pass in fused.py calls it per sentence)."""
    recs = []
    for i, j in _spans(toks):
        words = [toks[k][TOK] for k in range(i, j + 1)]
        start = toks[i][START]
        end = toks[j][START] + len(toks[j][TOK])
        typ = classify(words, firsts, gaz)
        if typ == "OTHER" and len(words) == 1 and words[0] in lasts:
            typ = "PERSON"
        recs.append((text[start:end], int(offset) + start, " ".join(words), typ))
    if include_pronouns:
        for t in toks:
            if t[POS] in ("PRP", "PRP$") and t[TOK].lower() in PRONOUNS:
                recs.append(
                    (t[TOK], int(offset) + t[START], t[TOK], PRONOUN_TYPE)
                )
    return recs


def entity_mentions(mentions: DataFrame) -> DataFrame:
    """The mention rows that are real entities, not pronouns."""
    return mentions.where(F.col("entity_type") != PRONOUN_TYPE)

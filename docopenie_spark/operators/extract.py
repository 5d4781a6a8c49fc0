"""Triple extraction (SURVEY.md §2.3 T4+T5; reference
tool/sentence/OpenIEExtracted.scala:33-49 and
repr/extraction/Extraction.scala:28-44).

The reference unions two extractors over each parsed sentence:
- SRL-based clause extraction (SrlExtractor + triplize(true), flattening
  multi-arg2 frames into one triple per arg2), and
- Relnoun noun-relation patterns ("Obama, president of the US").

Ours re-expresses both as deterministic pattern extractors over the
token/POS/chunk arrays (published ReVerb/Ollie-style patterns:
relation phrase = V | V W* P with V a verb group, W noun/adj/adv/det,
P a preposition; arguments = nearest noun-phrase chunks), pure kernels
the fused Arrow pass (operators/fused.py) calls per sentence — a narrow
stage, no shuffle.

Multi-arg2 flattening parity (Extraction.scala:35-44): a verb frame with
trailing prepositional arguments emits one triple per argument, with the
relation text extended by the preposition.

Confidence (U3, SURVEY.md §2.8): the reference loads pre-trained
confidence models from libraries; only the relative ordering is
observable. Ours is a documented deterministic formula (see _confidence).
"""

from __future__ import annotations

from .tokenize import CHUNK, LEMMA, POS, START, TOK

_VERB_TAGS = {"VB", "VBD", "VBZ", "VBP", "VBG", "VBN"}
_W_TAGS = {"NN", "NNS", "JJ", "RB", "DT", "PRP$", "CD"}  # ReVerb's W class
_ROLE_NOUN_HINT = {"NN", "NNS"}

Part = tuple[str, int]  # (text, local_offset)


def _np_chunks(tokens: list[tuple]) -> list[tuple[int, int]]:
    """Maximal NP chunk runs as (first_idx, last_idx) inclusive."""
    runs = []
    i = 0
    n = len(tokens)
    while i < n:
        if tokens[i][CHUNK] == "B-NP":
            j = i
            while j + 1 < n and tokens[j + 1][CHUNK] == "I-NP":
                j += 1
            runs.append((i, j))
            i = j + 1
        else:
            i += 1
    return runs


def _span_part(tokens: list[tuple], text: str, i: int, j: int) -> Part:
    start = tokens[i][START]
    end = tokens[j][START] + len(tokens[j][TOK])
    return text[start:end], start


def _confidence(n_rel_tokens: int, arg1_is_pron: bool, prep_extended: bool,
                n_w_words: int) -> float:
    """Deterministic confidence: base 0.90, longer/looser relations and
    pronoun subjects score lower. Only ordering matters for parity (U3)."""
    c = 0.90 - 0.02 * n_w_words - (0.07 if prep_extended else 0.0)
    if arg1_is_pron:
        c -= 0.10
    c -= 0.005 * (n_rel_tokens - 1)
    # branch-clamp instead of max/min builtins — this runs per extraction
    # in the fused hot loop (callers guarantee n_w_words/len >= 0)
    if c < 0.05:
        c = 0.05
    elif c > 0.99:
        c = 0.99
    return round(c, 4)


def _verb_groups(tokens: list[tuple]) -> list[tuple[int, int]]:
    """Maximal verb groups: MD/VB* runs (adverbs allowed inside) with >=1 verb."""
    runs = []
    i, n = 0, len(tokens)
    while i < n:
        t = tokens[i][POS]
        if t in _VERB_TAGS or t == "MD":
            j = i
            has_verb = t in _VERB_TAGS
            while j + 1 < n and (tokens[j + 1][POS] in _VERB_TAGS or tokens[j + 1][POS] in {"MD", "RB"}):
                j += 1
                has_verb = has_verb or tokens[j][POS] in _VERB_TAGS
            if has_verb:
                runs.append((i, j))
            i = j + 1
        else:
            i += 1
    return runs


def extract_verbal(tokens: list[tuple], text: str) -> list[tuple[Part, Part, Part, float]]:
    """ReVerb-style V | V W* P extraction with SRL-ish multi-arg2 flattening."""
    nps = _np_chunks(tokens)
    if not nps:
        return []
    out = []
    n = len(tokens)
    for vs, ve in _verb_groups(tokens):
        # skip infinitival clauses ("to review the plan") — they have no
        # local subject; the matrix verb already covers the content
        if vs > 0 and tokens[vs - 1][LEMMA] == "to":
            continue
        # arg1: nearest NP strictly left of the verb group, skipping NPs
        # that are prepositional objects ("in Mesa") or appositive role
        # phrases ("..., founder of X,") — both cannot be subjects
        left = [(i, j) for (i, j) in nps if j < vs]
        a1 = None
        for (i, j) in reversed(left):
            prev = tokens[i - 1] if i > 0 else None
            if prev is not None and (prev[POS] == "IN" or prev[TOK] == ","):
                continue
            a1 = (i, j)
            break
        if a1 is None:
            continue
        a1i, a1j = a1
        # drop leading determiner from arg1 only if NP is longer than the DT
        arg1_is_pron = tokens[a1i][POS] == "PRP" and a1i == a1j

        # try V W* P extension: scan right over W-words to a preposition
        k = ve + 1
        w_count = 0
        while k < n and tokens[k][POS] in _W_TAGS:
            k += 1
            w_count += 1
        rel_end = ve
        prep_first: int | None = None
        if k < n and tokens[k][POS] == "IN":
            # require an NP to start right after the preposition
            after = [(i, j) for (i, j) in nps if i == k + 1]
            if after:
                rel_end = k
                prep_first = k
        if rel_end > ve:
            # V W* P form: arg2 = NP right after P
            a2 = next(((i, j) for (i, j) in nps if i == rel_end + 1), None)
            if a2 is None:
                continue
            rel = _span_part(tokens, text, vs, rel_end)
            out.append(
                (
                    _span_part(tokens, text, a1i, a1j),
                    rel,
                    _span_part(tokens, text, a2[0], a2[1]),
                    _confidence(rel_end - vs + 1, arg1_is_pron, False, w_count),
                )
            )
            tail_start = a2[1] + 1
        else:
            # bare V: arg2 = NP directly after the verb group
            a2 = next(((i, j) for (i, j) in nps if i == ve + 1), None)
            if a2 is None:
                continue
            rel = _span_part(tokens, text, vs, ve)
            out.append(
                (
                    _span_part(tokens, text, a1i, a1j),
                    rel,
                    _span_part(tokens, text, a2[0], a2[1]),
                    _confidence(ve - vs + 1, arg1_is_pron, False, 0),
                )
            )
            tail_start = a2[1] + 1

        # multi-arg2 flattening: trailing "P NP" groups each add a triple
        # with rel extended by the preposition (Extraction.scala:35-44)
        k = tail_start
        while k + 1 < n and tokens[k][POS] == "IN":
            np_after = next(((i, j) for (i, j) in nps if i == k + 1), None)
            if np_after is None:
                break
            # extend with the NEW preposition; when the relation already
            # ends in a preposition (V W* P form), swap it out instead of
            # stacking ("opened a lab in" + "in 2021" → "opened a lab in")
            core_end = rel_end - 1 if tokens[rel_end][POS] == "IN" else rel_end
            rel_txt, rel_off = _span_part(tokens, text, vs, core_end)
            prep = tokens[k][TOK]
            ext_rel = (rel_txt + " " + prep, rel_off)
            out.append(
                (
                    _span_part(tokens, text, a1i, a1j),
                    ext_rel,
                    _span_part(tokens, text, np_after[0], np_after[1]),
                    _confidence(core_end - vs + 2, arg1_is_pron, True, 0),
                )
            )
            k = np_after[1] + 1
    return out


def extract_relnoun(tokens: list[tuple], text: str) -> list[tuple[Part, Part, Part, float]]:
    """Relnoun-style appositive: "NP1 , NP2 of NP3" → (NP1, is NP2' of, NP3)
    with NP1 a proper-noun phrase and NP2 headed by a common noun
    (reference tool/sentence/OpenIEExtracted.scala:34,36 — Relnoun patterns)."""
    nps = _np_chunks(tokens)
    out = []
    n = len(tokens)
    for idx, (i, j) in enumerate(nps):
        # NP1 must contain a proper noun
        if not any(tokens[t][POS] == "NNP" for t in range(i, j + 1)):
            continue
        k = j + 1
        if k >= n or tokens[k][TOK] != ",":
            continue
        nxt = next(((a, b) for (a, b) in nps if a == k + 1), None)
        if nxt is None:
            continue
        a, b = nxt
        # NP2 must be a common-noun phrase (role), followed by "of" + NP3
        if not any(tokens[t][POS] in _ROLE_NOUN_HINT for t in range(a, b + 1)):
            continue
        k2 = b + 1
        if k2 >= n or tokens[k2][LEMMA] != "of":
            continue
        np3 = next(((c, d) for (c, d) in nps if c == k2 + 1), None)
        if np3 is None:
            continue
        role_txt, role_off = _span_part(tokens, text, a, b)
        rel = ("is " + role_txt + " of", role_off)
        out.append(
            (
                _span_part(tokens, text, i, j),
                rel,
                _span_part(tokens, text, np3[0], np3[1]),
                0.88,
            )
        )
    return out


def extract_sentence(tokens: list[tuple], text: str) -> list[tuple[Part, Part, Part, float, str]]:
    """Union of both extractors, relnoun first (OpenIEExtracted.scala:39:
    ``relnounConverted ++ srlieConverted``)."""
    res = [(a1, r, a2, c, "relnoun") for (a1, r, a2, c) in extract_relnoun(tokens, text)]
    res += [(a1, r, a2, c, "verb") for (a1, r, a2, c) in extract_verbal(tokens, text)]
    return res

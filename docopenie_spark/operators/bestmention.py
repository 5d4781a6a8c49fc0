"""Best-mention canonicalization (SURVEY.md §2.3 T11/T12; reference
tool/bestmention/BestEntityMentionFinder.scala:100-429 — the 330-LoC rule
engine — and the coref propagation in tool/document/DocumentExtractor.scala:116-166).

Rule engine, re-expressed rule-by-rule (semantics, not code):

ORGANIZATION (ref :135-228):
  O-a acronym matching — entered when the entity string is all-uppercase
      OR the doc matches ``\\([^)(]{0,15}ACR[^)(]{0,15}\\)`` (ref :143-146,
      the anchor regex is a TRIGGER only); a candidate matches when the
      last |ACR| capitalized words of its name spell the acronym by first
      letters, and is emitted renamed to the suffix starting at the first
      occurrence of the first matching word (ref :147-157). Proximity head.
  O-b word prefix/suffix containment (ref :192-208) — gated by
      probablyOrganization: SKIPPED when the entity string occurs inside
      any LOCATION candidate's name (ref :176-190). Head of the UNSORTED
      candidate list = earliest occurrence in document order (ref :208).
  O-c case-insensitive char-prefix of a longer ONE-word candidate
      (ref :211-225). Proximity head.
LOCATION (ref :273-362):
  L-a sliding containment: at every start index of a candidate's words,
      accept orig-words followed by "," OR "in"; filter <7 words and
      isValidLocation; pick by proximity; expand via
      expandAbbreviation∘locationCasing (ref :276-294,:356-361).
  L-b container candidates: NER location candidates that gazetteer-
      contain the entity (locationContainsLocation), excluding the entity
      itself and "United States"; proximity head → ContainerBestMention
      with bestMention = locationCasing(name + ", " + container)
      (ref :295-309,:340-353). NO unconditional gazetteer lookup — the
      container must be MENTIONED in the conversation.
  L-c doc-regex fallback ``(X|x|X^)\\,\\s?([A-Z]\\S+)[\\s.?!,]`` with
      expandAbbreviation + the locationContainsLocation filter; counts
      per container and — replicating the reference VERBATIM, SURVEY.md
      A4 — takes the LEAST frequent (sortBy(_._2).head, ref :333-335) →
      ContainmentBestMention (ref :310-338).
PERSON (ref :364-416):
  P-a word prefix/suffix containment against candidates < 4 words long;
      proximity head (ref :370-393).
  P-b conservative name-regex doc fallback
      ``(\\.|(\\s[a-z]+\\s))([A-Z]\\w+\\s[A-Z]\\w+)(\\.|(\\s[a-z]+\\s))``,
      keep hits whose name CONTAINS the entity string (substring,
      ref :405-409), proximity head, count = 1/|distinct names|
      (ref :410-413). Only when probablyPerson.
OTHER: try Org, then Loc, then Person with probablyPerson=false
      (ref :113-125).

Deliberate divergences from the reference (documented for the parity
claim): (1) ties in proximity picks break by (occurrence offset, display
name, entity name) instead of the reference's unstable candidate-list
order; (2) L-c counts per container NAME — the reference keys its count
map on per-occurrence Entity values (offset included), which makes every
count 1 and the "least frequent" head depend on Scala hash-map iteration
order; ours is the deterministic version of the documented intent;
(3) L-a expands candidate names BEFORE the distinct-count, so two raw
strings expanding to the same form count once; (4) L-b excludes
case-insensitive self-containers up front rather than demoting to
identity after the pick.

Execution shape: the rule engine runs ONCE PER DISTINCT (conv_id,
entity_type, name) in a cogrouped ``applyInPandas`` against CHUNKED doc
text (bounded rows even for the hot conversation — assembly.doc_chunks);
per-occurrence fan-out happens as a JVM hash join, with offset-dependent
(multi-candidate) names re-resolved natively via nested array_min. The
gazetteer ships as a broadcast variable (the reference loads it as a
process singleton, :611-637).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions.sqltext import sql_strlist
from ..session import content_broadcast
from .ner import PRONOUNS

# the reference's EXACT personal-pronoun set (DocumentExtractor.scala:140);
# note: contains "his"/"her" but not "she"/"him" — replicated verbatim,
# the XOR propagation gate depends on it
PERSONAL_PRONOUNS = frozenset(
    {"he", "his", "her", "hers", "me", "mine", "we", "our", "us", "i", "you"}
)

# possessive surfaces get "'s"/"'" appended on substitution — the
# reference's fixPossessive (tool/link/Linker.scala:102-120)
POSSESSIVE_PRONOUNS = frozenset(
    {"his", "her", "hers", "its", "their", "our", "my", "your", "mine",
     "theirs", "ours", "yours"}
)


def _possessive_fix(best_col, target_text_col):
    is_poss = F.lower(target_text_col).isin(*sorted(POSSESSIVE_PRONOUNS))
    fixed = F.when(
        best_col.endswith("s"), F.concat(best_col, F.lit("'"))
    ).otherwise(F.concat(best_col, F.lit("'s")))
    return F.when(is_poss, fixed).otherwise(best_col)


def location_casing(s: str) -> str:
    """Title-case each word unless it contains '.' (ref :485-498)."""
    return " ".join(w if "." in w else (w[:1].upper() + w[1:].lower()) for w in s.split())


class ChunkedDoc:
    """Conversation text as bounded chunks (conv text is unbounded for the
    hot conversation — one giant string row is the 100×-scale killer).
    Each chunk overlaps the next by a tail window so regex matches that
    cross a boundary are found exactly once: a match belongs to the chunk
    where it STARTS (local start < keep); matches starting in the overlap
    region belong to the next chunk. Matches longer than the overlap
    window (none of the rule regexes come close) could be missed."""

    __slots__ = ("offs", "texts", "keeps")

    def __init__(self, offs, texts, keeps):
        self.offs = offs
        self.texts = texts
        self.keeps = keeps

    @classmethod
    def single(cls, text: str) -> "ChunkedDoc":
        return cls([0], [text], [len(text) + 1])

    def finditer(self, pat):
        """Yield (chunk_abs_offset, match) — abs pos of group g is
        chunk_abs_offset + m.start(g)."""
        for off, txt, keep in zip(self.offs, self.texts, self.keeps):
            for m in pat.finditer(txt):
                if m.start() < keep:
                    yield int(off), m

    def search(self, pat):
        for hit in self.finditer(pat):
            return hit
        return None


class Gazetteer:
    """The TipsterData analogue (ref :556-693) built from the synthesized
    GAZETTEER rows (name, typ, container_name, container_typ, abbrev)."""

    def __init__(self, rows):
        self.cities: set[str] = set()
        self.states: set[str] = set()
        self.countries: set[str] = set()
        self.province_city: dict[str, set[str]] = {}
        self.country_city: dict[str, set[str]] = {}
        self.abbrev: dict[str, str] = {}
        city_state: dict[str, str] = {}
        state_country: dict[str, str] = {}
        for r in rows:
            name, typ, cont = r[0], r[1], r[2]
            ab = r[4] if len(r) > 4 else None
            if typ == "CITY":
                self.cities.add(name.lower())
                if cont:
                    self.province_city.setdefault(
                        location_casing(cont), set()
                    ).add(location_casing(name))
                    city_state[name] = cont
            elif typ == "PROVINCE":
                self.states.add(name.lower())
                if cont:
                    state_country[name] = cont
                if ab:
                    self.abbrev[ab] = name
            elif typ == "COUNTRY":
                self.countries.add(name.lower())
        for city, st in city_state.items():
            c = state_country.get(st)
            if c:
                self.country_city.setdefault(
                    location_casing(c), set()
                ).add(location_casing(city))

    # --- the reference's static helpers (ref :444-498, :645-689) -------
    def location_contains_location(self, container: str, contained: str) -> bool:
        if contained.lower() not in self.cities:
            return False
        if container.lower() in self.states:
            cs = self.province_city.get(location_casing(container))
            if cs and location_casing(contained) in cs:
                return True
        if container.lower() in self.countries:
            cs = self.country_city.get(location_casing(container))
            if cs and location_casing(contained) in cs:
                return True
        return False

    def location_type_similarity(self, l1: str, l2: str) -> float:
        return sum(
            1.0
            for s in (self.cities, self.states, self.countries)
            if l1.lower() in s and l2.lower() in s
        )

    def same_location_type(self, l1: str, l2: str) -> bool:
        return self.location_type_similarity(l1, l2) > 0

    def total_count(self, s: str) -> float:
        """Ambiguity count — entries named ``s`` across the three kinds
        (ref totalCount :667; our synthesized gazetteer has one entry per
        name per kind, so this is the membership count)."""
        return float(
            sum(1 for st in (self.cities, self.states, self.countries) if s.lower() in st)
        )

    _STATE_ABBREV = re.compile(r"(\w+),\s([A-Za-z])\.?([A-Za-z])\.?$")

    def expand_state_abbreviation(self, abr: str, city: str) -> str | None:
        state = self.abbrev.get(abr)
        if not state:
            return None
        cities = self.province_city.get(location_casing(state))
        if cities and city in cities:
            return f"{city}, {state}"
        return None

    def expand_location(self, container: str) -> list[str]:
        """States whose name starts with the (>2 char) container prefix —
        the 'Mass.' → Massachusetts path (ref :229-246)."""
        p = container[:-1] if container and not container[-1].isalpha() else container
        if len(p) <= 2:
            return []
        return [location_casing(s) for s in sorted(self.states) if s.startswith(p.lower())]

    def expand_abbreviation(self, s: str) -> str:
        """'City, ST' / 'City, Mass.' → 'City, Statename' when the
        gazetteer confirms containment (ref :248-272)."""
        m = self._STATE_ABBREV.search(s)
        if m:
            abbr = (m.group(2) + m.group(3)).upper()
            exp = self.expand_state_abbreviation(abbr, m.group(1))
            return exp if exp else s
        parts = s.split(",")
        if len(parts) < 2:
            return s
        contained, container = parts[0].strip(), parts[1].strip()
        for ex in self.expand_location(container):
            if self.location_contains_location(ex, contained):
                return f"{contained}, {ex}"
        return s

    def is_valid_location(self, loc: str) -> bool:
        """Exactly 'X, Y' with Y containing X or X/Y of different kinds
        (ref :418-425)."""
        parts = [p.strip() for p in loc.split(",")]
        if len(parts) != 2:
            return False
        return self.location_contains_location(parts[1], parts[0]) or not self.same_location_type(
            parts[1], parts[0]
        )


def _as_index(cands) -> dict[str, list[int]]:
    """Candidates as {name: sorted occurrence offsets} — distinct names
    are few even when occurrences are many (the hot-conversation case),
    so every rule scan below is O(#distinct names · log #occurrences)."""
    if isinstance(cands, dict):
        return cands
    idx: dict[str, list[int]] = {}
    for n, o in cands:
        idx.setdefault(n, []).append(int(o))
    for v in idx.values():
        v.sort()
    return idx


def _nearest_occ(offs: list[int], off: int) -> tuple[int, int]:
    """(distance, occurrence_offset) of the occurrence closest to off."""
    from bisect import bisect_left

    i = bisect_left(offs, off)
    best = None
    for j in (i - 1, i):
        if 0 <= j < len(offs):
            c = (abs(offs[j] - off), offs[j])
            if best is None or c < best:
                best = c
    return best


def _res(kind, best, ent, count, matches=None, contained=None):
    """Rule result. ent/contained = (text, name, occurrence_offset);
    matches = sorted [(disp, ent_name, sorted_offs)] when more than one
    candidate entry matched (the pick is then offset-dependent, ref
    :129-132)."""
    return {
        "kind": kind, "best": best, "ent": ent, "count": count,
        "matches": matches, "contained": contained,
    }


def _pick(kind: str, matching: dict, off: int):
    """Nearest-occurrence proximity selection — reproduces the reference's
    sortBy(|cand.offset - entity.offset|).head (ref :129-132); count =
    1/|distinct display names| (ref :433). Tie order (distance,
    occurrence, disp, ent) matches the native dep-path array_min EXACTLY.

    ``matching`` is keyed by (display, candidate entity name) with the
    offsets OF THAT CANDIDATE — two candidates renaming to the same
    display stay separate entries, so the emitted entity text and
    occurrence offset always come from the same candidate (the reference's
    acronymMatches.head keeps one consistent candidate; ADVICE r2)."""
    entries = sorted((d, e, sorted(o)) for (d, e), o in matching.items())
    (dist, occ), disp, ent = min(
        (_nearest_occ(offs, off), d, e) for d, e, offs in entries
    )
    ent_ref = (ent, disp, occ) if kind == "full" else (ent, ent, occ)
    matches = entries if len(entries) > 1 else None
    return _res(kind, disp, ent_ref,
                1.0 / len({d for d, _, _ in entries}), matches)


# ------------------------------------------------------------- rules

def best_org(name: str, off: int, org_cands, loc_names, doc: ChunkedDoc,
             memo: dict | None = None):
    """O-a/O-b/O-c (ref :135-228). loc_names = LOCATION candidate names
    for the probablyOrganization gate (ref :176-190)."""
    idx = _as_index(org_cands)
    words = name.split()
    # O-a trigger: all-uppercase (Scala forall(isUpper): every char) OR
    # the doc anchor regex (ref :143-146)
    trigger = bool(name) and all(c.isupper() for c in name)
    if not trigger:
        key = ("org_anchor", name)
        if memo is not None and key in memo:
            trigger = memo[key]
        else:
            pat = re.compile(r"\([^)(]{0,15}" + re.escape(name) + r"[^)(]{0,15}\)")
            trigger = doc.search(pat) is not None
            if memo is not None:
                memo[key] = trigger
    if trigger:
        acr = {}
        for n, offs in idx.items():
            nw = n.split()
            capw = [w for w in nw if w[:1].isupper()]
            tail = capw[-len(name):]
            if len(tail) < len(name):
                continue
            if any(w[0] != name[k] for k, w in enumerate(tail)):
                continue
            for i, cw in enumerate(nw):
                if cw == tail[0]:
                    disp = " ".join(nw[i:])
                    acr[(disp, n)] = acr.get((disp, n), []) + list(offs)
        if acr:
            return _pick("full", acr, off)
    # probablyOrganization gate: the entity string inside any LOCATION
    # candidate name means this is probably a location (ref :176-190)
    if not any(name in ln for ln in loc_names):
        # O-b: head of the UNSORTED candidate list = earliest occurrence
        # in document order (ref :192-208) — offset-INDEPENDENT
        m2 = {
            n: offs
            for n, offs in idx.items()
            if len(n.split()) > len(words)
            and (n.split()[: len(words)] == words or n.split()[-len(words):] == words)
        }
        if m2:
            disp = min(m2, key=lambda n: (m2[n][0], n))
            return _res("full", disp, (disp, disp, m2[disp][0]), 1.0 / len(m2))
    # O-c: case-insensitive char-prefix of a longer one-word candidate
    # (ref :211-225)
    m3 = {
        (n, n): offs
        for n, offs in idx.items()
        if " " not in n and len(n) > len(name) and n.lower().startswith(name.lower())
    }
    if m3:
        return _pick("full", m3, off)
    return None


def _loc_tokens(n: str) -> list[str]:
    """Candidate name words with attached commas split into their own
    tokens (Stanford-style tokenization, which the reference's word
    tests assume: ``words(L) == ","``)."""
    out = []
    for w in n.split():
        if len(w) > 1 and w.endswith(","):
            out.append(w[:-1])
            out.append(",")
        else:
            out.append(w)
    return out


def best_loc(name: str, off: int, loc_cands, doc: ChunkedDoc, gaz: Gazetteer,
             memo: dict | None = None):
    idx = _as_index(loc_cands)
    words_l = [w.lower() for w in name.split()]
    L = len(words_l)
    # L-a: sliding containment at every start index (ref :276-294)
    la: dict = {}
    for n, offs in idx.items():
        toks = _loc_tokens(n)
        for i in range(max(0, len(toks) - 1)):
            rest = toks[i:]
            if (
                len(rest) > L + 1
                and [w.lower() for w in rest[:L]] == words_l
                and rest[L] in (",", "in")
            ):
                new = " ".join(rest[:L]) + ", " + " ".join(rest[L + 1:])
                if len(new.split()) < 7 and gaz.is_valid_location(new):
                    disp = gaz.expand_abbreviation(location_casing(new))
                    la[(disp, n)] = la.get((disp, n), []) + list(offs)
    if la:
        return _pick("full", la, off)
    # L-b: mentioned container candidates (ref :295-309, :340-353) — the
    # container must be an NER location candidate IN the conversation
    lb = {}
    for n, offs in idx.items():
        if n.lower() == name.lower() or n == "United States":
            continue
        if gaz.location_contains_location(n, name):
            lb[(location_casing(f"{name}, {n}"), n)] = list(offs)
    if lb:
        return _pick("container", lb, off)
    # L-c: doc-regex containment fallback (ref :310-338); name-dependent
    # only → memoized per conversation
    key = ("loc_regex", name)
    if memo is not None and key in memo:
        return memo[key]
    q = name.replace("(", "").replace(")", "")
    pat = re.compile(
        "(%s|%s|%s),\\s?([A-Z]\\S+)[\\s.?!,]"
        % (re.escape(q), re.escape(q.lower()), re.escape(q.upper()))
    )
    counts: dict[tuple, list] = {}
    for coff, m in doc.finditer(pat):
        contained_raw, container_raw = m.group(1), m.group(2)
        full = gaz.expand_abbreviation(
            location_casing(contained_raw + ", " + container_raw)
        ).split(",")
        if len(full) < 2:
            continue
        ced_name, cont_name = full[0].strip(), full[1].strip()
        if not gaz.location_contains_location(cont_name, ced_name):
            continue
        # count per expanded container NAME (module docstring divergence
        # (2)): 'MA' and 'Massachusetts' occurrences pool their counts;
        # provenance fields come from the name's FIRST occurrence
        if cont_name in counts:
            counts[cont_name][0] += 1
        else:
            counts[cont_name] = [1, container_raw, coff + int(m.start(2)),
                                 contained_raw, coff + int(m.start(1))]
    res = None
    if counts:
        cont_name, (cnt, container_raw, c_off, ced_raw, ced_off) = sorted(
            counts.items(), key=lambda kv: (kv[1][0], kv[0])
        )[0]
        # identity demotion (ref :329-334): container equal to the entity
        # or to the contained string
        if (
            name.lower() != container_raw.lower()
            and ced_raw.lower() != container_raw.lower()
        ):
            res = _res(
                "containment",
                f"{ced_raw}, {cont_name}",
                (container_raw, cont_name, c_off),
                1.0 / len(counts),  # keys ARE distinct container names
                contained=(ced_raw, ced_raw, ced_off),
            )
    if memo is not None:
        memo[key] = res
    return res


_PERSON_REGEX = re.compile(r"(\.|(\s[a-z]+\s))([A-Z]\w+\s[A-Z]\w+)(\.|(\s[a-z]+\s))")


def best_person(name: str, off: int, per_cands, doc: ChunkedDoc,
                memo: dict | None = None, probably_person: bool = True):
    idx = _as_index(per_cands)
    words = name.split()
    pa = {}
    for n, offs in idx.items():
        nw = n.split()
        if (
            len(words) < len(nw) < 4
            and (nw[: len(words)] == words or nw[-len(words):] == words)
        ):
            pa[(n, n)] = offs
    if pa:
        return _pick("full", pa, off)
    # P-b: conservative name regex (ref :395-413), only when probablyPerson;
    # the raw hit list is name-independent → scanned once per conversation
    if probably_person:
        if memo is not None and ("per_all",) in memo:
            hits = memo[("per_all",)]
        else:
            hits = [
                (m.group(3), coff + int(m.start(3)))
                for coff, m in doc.finditer(_PERSON_REGEX)
            ]
            if memo is not None:
                memo[("per_all",)] = hits
        pb: dict = {}
        for nm, start in hits:
            if name in nm:  # SUBSTRING containment (ref :409)
                pb[(nm, nm)] = pb.get((nm, nm), []) + [start]
        if pb:
            return _pick("full", pb, off)
    return None


def _resolve_one(name: str, off: int, typ: str, by_type: dict, doc: ChunkedDoc,
                 gaz: Gazetteer, memo: dict):
    """Type dispatch + the OTHER cascade (ref :106-127)."""
    loc_cands = by_type.get("LOCATION", {})
    if typ == "ORGANIZATION":
        return best_org(name, off, by_type.get("ORGANIZATION", {}), loc_cands, doc, memo)
    if typ == "LOCATION":
        return best_loc(name, off, loc_cands, doc, gaz, memo)
    if typ == "PERSON":
        return best_person(name, off, by_type.get("PERSON", {}), doc, memo, True)
    return (
        best_org(name, off, by_type.get("ORGANIZATION", {}), loc_cands, doc, memo)
        or best_loc(name, off, loc_cands, doc, gaz, memo)
        or best_person(name, off, by_type.get("PERSON", {}), doc, memo, False)
    )


def _entity_ref(t, typ):
    if t is None:
        return None
    return {"text": t[0], "offset": int(t[2]), "name": t[1], "entity_type": typ}


_BEM_COLS = ["conv_id", "kind", "target", "best_mention", "best_entity",
             "container_entity", "contained_entity", "candidate_count", "cluster_id"]


def resolve_conversation(ents: pd.DataFrame, doc: ChunkedDoc,
                         gaz: Gazetteer) -> list[tuple]:
    """All entities of one conversation → best-mention rows (T11),
    PER-OCCURRENCE (the parity-reference path). Offset-independent
    resolutions memoize per (type, name)."""
    conv_id = ents["conv_id"].iloc[0]
    by_type: dict[str, dict[str, list[int]]] = {}
    for r in ents.itertuples():
        by_type.setdefault(r.entity_type, {}).setdefault(r.name, []).append(int(r.offset))
    for d in by_type.values():
        for v in d.values():
            v.sort()
    memo: dict = {}
    full_memo: dict = {}

    rows = []
    for r in ents.itertuples():
        name, off, typ = r.name, int(r.offset), r.entity_type
        fkey = (typ, name)
        if fkey in full_memo:
            res = full_memo[fkey]
        else:
            res = _resolve_one(name, off, typ, by_type, doc, gaz, memo)
            if res is None or res["matches"] is None:
                full_memo[fkey] = res  # cannot vary with offset
        target = {"text": r.text, "offset": off, "name": name, "entity_type": typ}
        if res is None or res["best"] == name:
            rows.append((conv_id, "identity", target, name, None, None, None, 1.0, None))
            continue
        kind = res["kind"]
        loc_typ = "LOCATION"
        be = _entity_ref(res["ent"], typ) if kind == "full" else None
        ce = _entity_ref(res["ent"], loc_typ) if kind in ("container", "containment") else None
        cde = _entity_ref(res["contained"], loc_typ) if kind == "containment" else None
        rows.append((conv_id, kind, target, res["best"], be, ce, cde, res["count"], None))
    return rows


def best_mentions_python(entities: DataFrame, docs: DataFrame,
                         gazetteer_rows: list[tuple]) -> DataFrame:
    """Per-occurrence cogrouped variant over the FULL doc string (parity
    reference): every entity occurrence flows through Python. Kept for
    the parity tests (join-based and chunked paths must match it)."""
    spark = entities.sparkSession
    b_gaz = content_broadcast(
        spark.sparkContext, Gazetteer(gazetteer_rows),
        key=tuple(tuple(r) for r in gazetteer_rows),
    )

    def run(ents: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        if ents.empty or dpdf.empty:
            return pd.DataFrame([], columns=_BEM_COLS)
        doc = ChunkedDoc.single(dpdf["doc_text"].iloc[0])
        rows = resolve_conversation(ents, doc, b_gaz.value)
        return pd.DataFrame(rows, columns=_BEM_COLS)

    return (
        entities.groupBy("conv_id")
        .cogroup(docs.groupBy("conv_id"))
        .applyInPandas(run, schema=schemas.BEST_MENTIONS)
    )


_ENT_REF_DDL = "struct<text:string,offset:bigint,name:string,entity_type:string>"
_RESOLVED = (
    "conv_id string, entity_type string, name string, kind string, "
    "best_mention string, "
    f"best_entity {_ENT_REF_DDL}, "
    f"container_entity {_ENT_REF_DDL}, "
    f"contained_entity {_ENT_REF_DDL}, "
    "candidate_count double, dep boolean, "
    "matches array<struct<disp:string,ent:string,offs:array<bigint>>>"
)


def best_mentions(entities: DataFrame, doc_chunks: DataFrame,
                  gazetteer_rows: list[tuple]) -> DataFrame:
    """(entity mentions, doc chunks) → BEST_MENTIONS.

    Scale shape: the rule engine runs in Python ONCE PER DISTINCT
    (conv_id, entity_type, name) — ~30 rows per conversation even for the
    hot one — and the per-occurrence fan-out happens as a JVM hash join
    back onto the entities table. Occurrence rows never cross the Arrow
    boundary. Doc text arrives as bounded CHUNKS (assembly.doc_chunks),
    so no single row grows with conversation size.

    Offset-dependent resolutions (more than one matching candidate name —
    proximity decides per occurrence, ref :129-132) are detected in the
    distinct pass and re-resolved per occurrence FULLY NATIVELY: the
    matching set rides along as an array column and a nested
    array_min(transform(...)) reproduces _pick's exact tie order
    (distance, occurrence, display, entity) per occurrence. No explode,
    no Python, no self-join."""
    spark = entities.sparkSession
    b_gaz = content_broadcast(
        spark.sparkContext, Gazetteer(gazetteer_rows),
        key=tuple(tuple(r) for r in gazetteer_rows),
    )

    distinct = entities.groupBy("conv_id", "entity_type", "name").agg(
        F.sort_array(F.collect_list("offset")).alias("offs"),
        F.min("offset").alias("rep_off"),
    )

    def _emit(conv_id, name, typ, res):
        if res is None or res["best"] == name:
            return (conv_id, typ, name, "identity", name,
                    None, None, None, 1.0, False, None)
        kind = res["kind"]
        be = _entity_ref(res["ent"], typ) if kind == "full" else None
        ce = _entity_ref(res["ent"], "LOCATION") if kind != "full" else None
        cde = _entity_ref(res["contained"], "LOCATION") if kind == "containment" else None
        dep = res["matches"] is not None
        matches = None
        if dep:
            matches = [
                {"disp": d, "ent": e, "offs": offs}
                for d, e, offs in res["matches"]
            ]
        return (conv_id, typ, name, kind, res["best"], be, ce, cde,
                res["count"], dep, matches)

    def resolve_names(names_pdf: pd.DataFrame, chunks_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["conv_id", "entity_type", "name", "kind", "best_mention",
                "best_entity", "container_entity", "contained_entity",
                "candidate_count", "dep", "matches"]
        if names_pdf.empty or chunks_pdf.empty:
            return pd.DataFrame([], columns=cols)
        gaz = b_gaz.value
        c = chunks_pdf.sort_values("chunk_off")
        doc = ChunkedDoc(
            [int(o) for o in c["chunk_off"]],
            list(c["chunk_text"]),
            [int(k) for k in c["keep_len"]],
        )
        conv_id = names_pdf["conv_id"].iloc[0]
        by_type: dict[str, dict[str, list[int]]] = {}
        for r in names_pdf.itertuples():
            by_type.setdefault(r.entity_type, {})[r.name] = [int(o) for o in r.offs]
        memo: dict = {}
        rows = [
            _emit(conv_id, r.name, r.entity_type,
                  _resolve_one(r.name, int(r.rep_off), r.entity_type, by_type, doc, gaz, memo))
            for r in names_pdf.itertuples()
        ]
        return pd.DataFrame(rows, columns=cols)

    resolved = (
        distinct.groupBy("conv_id")
        .cogroup(doc_chunks.groupBy("conv_id"))
        .applyInPandas(resolve_names, schema=_RESOLVED)
    )

    joined = entities.join(resolved, ["conv_id", "entity_type", "name"], "left")

    ref_ddl = schemas.ENTITY_REF.simpleString()
    target = (
        f"cast(struct(text, offset, name, entity_type) as {ref_ddl}) as target"
    )

    # ONE projection for both the independent and the dep (per-occurrence
    # proximity) paths, branching per column on the dep flag — the
    # round-6 version split `joined` into two filtered branches and
    # unioned them, which executed the rule-engine cogroup once PER
    # BRANCH (measured r7: the whole Python cogroup ran 2-3× per
    # materialization; merging the branches runs it once, 6.1s → ~2.5s
    # at sf0.1). Row multiset is identical — every row satisfies exactly
    # one branch — only the union's concatenation order is gone, which
    # was never part of the contract.
    #
    # dep path: the inner pick per element is bound ONCE in a nested
    # struct (Catalyst does not CSE inside lambda bodies), and the outer
    # array_min orders lexicographically on ((distance, occurrence),
    # display, entity) — exactly _pick's tie order.
    best = (
        "array_min(transform(matches, m -> struct("
        " array_min(transform(m.offs,"
        "   o -> struct(abs(o - offset) as d, o as occ))) as pick,"
        " m.disp as disp, m.ent as ent)))"
    )
    picked_full = (
        f"cast(struct(({best}).ent as text, ({best}).pick.occ as offset,"
        f" ({best}).disp as name, entity_type) as {ref_ddl})"
    )
    picked_container = (
        f"cast(struct(({best}).ent as text, ({best}).pick.occ as offset,"
        f" ({best}).ent as name, 'LOCATION' as entity_type) as {ref_ddl})"
    )
    dep_f = "coalesce(dep, false)"
    return joined.selectExpr(
        "conv_id",
        # dep rows always carry a non-null kind, so the coalesce is the
        # identity on them — one expression serves both paths
        "coalesce(kind, 'identity') as kind",
        target,
        f"CASE WHEN {dep_f} THEN ({best}).disp"
        " ELSE coalesce(best_mention, name) END as best_mention",
        f"CASE WHEN {dep_f}"
        f" THEN (CASE WHEN kind = 'full' THEN {picked_full} END)"
        f" ELSE cast(best_entity as {ref_ddl}) END as best_entity",
        f"CASE WHEN {dep_f}"
        f" THEN (CASE WHEN NOT (kind = 'full') THEN {picked_container} END)"
        f" ELSE cast(container_entity as {ref_ddl}) END as container_entity",
        f"CASE WHEN NOT {dep_f}"
        f" THEN cast(contained_entity as {ref_ddl}) END as contained_entity",
        # dep: 1/|distinct DISPLAYS| — entries are per (display,
        # candidate), so two candidates renaming to one display count
        # once (≡ _pick)
        f"CASE WHEN {dep_f}"
        " THEN 1.0D / size(array_distinct(transform(matches, m -> m.disp)))"
        " ELSE coalesce(candidate_count, 1.0D) END as candidate_count",
        "cast(null as int) as cluster_id",
    )


def display_filter(bems: DataFrame) -> DataFrame:
    """P12 (repr/bestmention/BestMention.scala:57-59): only non-identity
    mentions whose best form differs from the surface are displayable."""
    return bems.where(
        (F.col("kind") != "identity") & (F.col("best_mention") != F.col("target.text"))
    )


# --------------------------------------------------------------- T12

def _pronoun_gate(text_col, type_col):
    """The reference's XOR gate (DocumentExtractor.scala:143-145):
    propagate iff personalPronouns(text) XOR (entity_type != PERSON)."""
    is_personal = F.lower(text_col).isin(*PERSONAL_PRONOUNS)
    not_person = type_col != F.lit("PERSON")
    return (is_personal & ~not_person) | (~is_personal & not_person)


def expand_with_coref(bems: DataFrame, clusters: DataFrame,
                      links: DataFrame | None = None) -> DataFrame:
    """T12: per cluster, if exactly one distinct link (else exactly one
    distinct best mention) lands on the cluster's mentions, propagate it
    to the cluster's PRONOUN mentions through the XOR gate. Expressed as
    Spark joins + grouped aggregation (SURVEY.md J1/J2/A1) — the
    reference's O(M×L) nested loops become hash joins on (conv_id, offset).
    Container/containment best mentions propagate like any other
    (getUniquebestMentionsInCluster takes ALL bestMentions,
    DocumentExtractor.scala:127-138).

    Stage shape (flattened in round 2): the cluster mentions explode ONCE,
    pick up link and best-mention annotations in two chained left joins on
    the same key, and ONE groupBy produces both the link-uniqueness and
    bem-uniqueness decisions — the round-1 version ran two join+groupBy
    pyramids plus an anti-join and a second pronoun join (4 shuffles more).

    Expressions are SQL strings (round 7): this constructor cost ~0.9 s
    of driver py4j time per run_pipeline call (on the bench's measured
    path); composite selectExpr strings build the identical analyzed
    plan in a handful of calls.
    """
    m = clusters.selectExpr(
        "conv_id", "cluster_id", "explode(mentions) as m"
    ).selectExpr("conv_id", "cluster_id",
                 "m.text as m_text", "m.offset as m_offset")

    pron_mentions = m.where(f"lower(m_text) IN ({sql_strlist(PRONOUNS)})")

    ann = m
    if links is not None:
        # the reference maps links onto clusters by link.offset == m.offset
        # (DocumentExtractor.scala:119-121) against Stanford mentions that
        # INCLUDE determiners; our mentions are NNP runs without them, so
        # the aligned key is the cleaned-arg offset (first retained char)
        l = links.selectExpr(
            "conv_id as l_conv", "clean_offset as l_off",
            "name as l_name", "id as l_id", "types as l_types",
        )
        ann = ann.join(
            l, (ann.conv_id == l.l_conv) & (ann.m_offset == l.l_off), "left"
        ).drop("l_conv", "l_off")
    else:
        ann = ann.selectExpr(
            "*",
            "cast(null as string) as l_id",
            "cast(null as string) as l_name",
            "cast(null as array<string>) as l_types",
        )

    b = bems.where(
        "kind IN ('identity', 'full', 'container', 'containment')"
    ).selectExpr(
        "conv_id as b_conv", "target.offset as b_off", "kind as b_kind",
        "target as b_target", "best_mention", "best_entity", "candidate_count",
    )
    ann = ann.join(
        b, (ann.conv_id == b.b_conv) & (ann.m_offset == b.b_off), "left"
    ).drop("b_conv", "b_off")

    # null-guarded structs so min() skips mentions without a match
    agg = ann.groupBy("conv_id", "cluster_id").agg(
        F.expr("count(DISTINCT l_id)").alias("n_l"),
        F.expr("min(CASE WHEN l_id IS NOT NULL"
               " THEN struct(l_id, l_name, l_types) END)").alias("l"),
        F.expr("count(DISTINCT best_mention)").alias("n_b"),
        F.expr("min(CASE WHEN best_mention IS NOT NULL THEN struct("
               "best_mention, b_kind, b_target, best_entity, candidate_count"
               ") END)").alias("b"),
    )
    decided = agg.where("n_l = 1 OR n_b = 1").selectExpr(
        "conv_id", "cluster_id", "n_l = 1 as use_link", "l", "b"
    )

    ent_type = (
        "CASE WHEN use_link THEN (CASE WHEN exists(l.l_types, t -> t = 'person')"
        " THEN 'PERSON' ELSE 'OTHER' END) ELSE b.b_target.entity_type END"
    )
    kind = (
        "CASE WHEN use_link THEN 'coref_link'"
        " WHEN b.b_kind = 'identity' THEN 'coref_identity'"
        " WHEN b.best_entity IS NOT NULL THEN 'coref_full'"
        " ELSE 'coref' END"
    )
    raw_best = (
        "CASE WHEN use_link THEN l.l_name"
        " WHEN b.b_kind = 'identity' THEN b.b_target.name"
        " ELSE b.best_mention END"
    )
    # _possessive_fix as SQL (tool/link/Linker.scala:102-120)
    best = (
        f"CASE WHEN lower(m_text) IN ({sql_strlist(POSSESSIVE_PRONOUNS)})"
        f" THEN (CASE WHEN endswith({raw_best}, 's')"
        f"       THEN concat({raw_best}, \"'\")"
        f"       ELSE concat({raw_best}, \"'s\") END)"
        f" ELSE {raw_best} END"
    )
    # the reference's XOR gate (_pronoun_gate; DocumentExtractor.scala:143-145)
    gate = (
        f"((lower(m_text) IN ({sql_strlist(PERSONAL_PRONOUNS)}))"
        f" AND NOT (({ent_type}) != 'PERSON'))"
        f" OR ((NOT (lower(m_text) IN ({sql_strlist(PERSONAL_PRONOUNS)})))"
        f" AND (({ent_type}) != 'PERSON'))"
    )
    ref_ddl = schemas.ENTITY_REF.simpleString()
    new_rows = (
        pron_mentions.join(decided, ["conv_id", "cluster_id"])
        # clusters decided by bem need a bem; link clusters need a link row
        .where("CASE WHEN use_link THEN l IS NOT NULL ELSE b IS NOT NULL END")
        .where(gate)
        .selectExpr(
            "conv_id",
            f"{kind} as kind",
            f"struct(m_text as text, m_offset as offset, m_text as name,"
            f" {ent_type} as entity_type) as target",
            f"{best} as best_mention",
            f"cast(CASE WHEN NOT use_link THEN b.best_entity END"
            f" as {ref_ddl}) as best_entity",
            f"cast(null as {ref_ddl}) as container_entity",
            f"cast(null as {ref_ddl}) as contained_entity",
            "CASE WHEN use_link THEN 1.0D"
            " ELSE b.candidate_count END as candidate_count",
            "cluster_id",
        )
    )
    # new_rows FIRST (round 7, measured): with ``bems`` as the union's
    # left child, Spark 4.1's plan deduplication re-IDs the persisted
    # subtree in a way that misses the InMemoryRelation and re-runs the
    # whole rule-engine pipeline (9.5s -> 1.6s at sf0.1 by flipping;
    # exact multiset parity pinned by test). Row order is not part of
    # this operator's contract.
    return new_rows.unionByName(bems)

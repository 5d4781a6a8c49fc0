"""Deterministic synthetic transcript generator (seed-stable, distributed).

Produces the Iceberg-shaped ``transcripts`` table from BASELINE.json's
input_hint — ``(conv_id, turn_idx, role, text, tool, ts)`` — plus the two
small dimension tables the canonicalization/linking stages need
(``entity_dict``, ``gazetteer``; cf. the reference's Tipster gazetteer and
wiki KB map, tool/bestmention/BestEntityMentionFinder.scala:580-688 and
prep/util/WikiMappingHelper.scala:38-78 — here synthesized, no external data).

Scale design: generation is a *closed-form function of the row id* — we
``spark.range(n)`` and compute every column inside ``mapInPandas``, so a
10^12-turn table generates with zero driver involvement and no shuffle.
Python's salted ``hash()`` is never used; all randomness derives from
``zlib.crc32`` of stable keys.

Skew: ids are laid out in blocks of 80; the first 8 ids of every block all
belong to ONE global hot conversation (``conv_hot``), so ~10% of all turns
land on a single conv_id — the deliberately skewed key that the salting
story (operators/assembly.py) must handle, per BASELINE.md's skew-evidence
protocol.

Turn-0 of every conversation introduces that conversation's protagonist
person + employer org; later pronoun turns refer back to them, giving the
coref stage genuinely cross-turn work (SURVEY.md FIXTURES §1).
"""

from __future__ import annotations

import datetime as _dt
import random
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .session import local_table

BLOCK = 80  # ids per block
HOT_PER_BLOCK = 8  # first 8 ids of each block → the single hot conversation
TURNS_PER_CONV = 8

_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

# ---------------------------------------------------------------- pools
# (first, last, gender) — gender drives pronoun templates
PERSONS = [
    ("Alice", "Navarro", "f"), ("Brian", "Okafor", "m"), ("Carla", "Jensen", "f"),
    ("David", "Lindqvist", "m"), ("Elena", "Marchetti", "f"), ("Frank", "Delgado", "m"),
    ("Grace", "Thornton", "f"), ("Henry", "Abubakar", "m"), ("Irene", "Kovacs", "f"),
    ("James", "Whitfield", "m"), ("Karen", "Osei", "f"), ("Leo", "Brandt", "m"),
    ("Mona", "Castellanos", "f"), ("Nathan", "Pereira", "m"), ("Olga", "Ferreira", "f"),
    ("Peter", "Halloran", "m"),
]

# (full name, acronym)
ORGS = [
    ("Global Data Consortium", "GDC"), ("United Metrics Institute", "UMI"),
    ("Northern Rail Alliance", "NRA"), ("Pacific Trade Commission", "PTC"),
    ("Central Analytics Bureau", "CAB"), ("Open Science Federation", "OSF"),
    ("Harbor Light Industries", "HLI"), ("Quantum Relay Systems", "QRS"),
    ("Eastern Grid Partners", "EGP"), ("Summit Research Group", "SRG"),
]

# (city, state full, state abbrev, country) — must agree with gazetteer()
CITIES = [
    ("Springfield", "Massachusetts", "MA", "United States"),
    ("Portland", "Oregon", "OR", "United States"),
    ("Austin", "Texas", "TX", "United States"),
    ("Madison", "Wisconsin", "WI", "United States"),
    ("Boulder", "Colorado", "CO", "United States"),
    ("Savannah", "Georgia", "GA", "United States"),
    ("Trenton", "New Jersey", "NJ", "United States"),
    ("Mesa", "Arizona", "AZ", "United States"),
]

ROLES_TITLES = ["president", "director", "chairman", "founder", "treasurer", "spokesman"]

YEARS = ["2019", "2020", "2021", "2022", "2023", "2024"]

TOOLS = ["search", "calculator", "browser", None, None, None]


def _crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8")) & 0xFFFFFFFF


_HOT_SHARD = 1 << 30  # turn_idx stays int32 (input_hint) at any scale


def _conv_of_id(i: int, seed: int) -> tuple[str, int]:
    """Closed-form (conv_id, turn_idx) for row id i.

    The hot conversation shards every 2^30 turns (conv_hot, conv_hot_1,
    conv_hot_2, …) so turn_idx never overflows the input_hint's int32 —
    at 10^12 rows the hot 10% becomes ~93 shard conversations, each still
    enormously skewed. Below 2^30 hot turns the output is byte-identical
    to the unsharded generator."""
    block, off = divmod(i, BLOCK)
    if off < HOT_PER_BLOCK:
        g = block * HOT_PER_BLOCK + off
        shard, t = divmod(g, _HOT_SHARD)
        return ("conv_hot" if shard == 0 else f"conv_hot_{shard}"), t
    j, t = divmod(off - HOT_PER_BLOCK, TURNS_PER_CONV)
    return f"conv{seed:02d}_{block:07d}_{j}", t


def _conv_cast(conv_id: str):
    """Deterministic protagonist person/org/city for a conversation."""
    h = _crc(conv_id)
    person = PERSONS[h % len(PERSONS)]
    org = ORGS[(h // 7) % len(ORGS)]
    city = CITIES[(h // 61) % len(CITIES)]
    other_org = ORGS[(h // 13 + 3) % len(ORGS)]
    return person, org, city, other_org


def turn_text(conv_id: str, turn_idx: int, seed: int) -> tuple[str, str, str | None]:
    """Deterministic (text, role, tool) for one turn.

    Sentence templates exercise every extractor/canonicalizer rule family:
    SVO verbs, copular 'X is the Y of Z', appositive relnoun, acronym
    introduction '(ACR)', 'City, ST' abbreviation, and cross-turn pronouns.
    """
    (first, last, gender), (org_full, acr), (city, state, st_ab, country), (o2_full, o2_acr) = _conv_cast(conv_id)
    rng = random.Random(seed * 0x9E3779B1 + _crc(conv_id) * 1000003 + turn_idx)
    he, his = ("He", "His") if gender == "m" else ("She", "Her")

    if turn_idx == 0:
        sents = [
            f"{first} {last} works for the {org_full} ({acr}).",
            f"{he} lives in {city}, {st_ab}.",
        ]
        role = "user"
    else:
        bank = [
            f"{last} is the {rng.choice(ROLES_TITLES)} of the {org_full}.",
            f"{first} {last}, {rng.choice(ROLES_TITLES)} of the {o2_full}, announced a merger in {rng.choice(YEARS)}.",
            f"The {acr} acquired the {o2_full} in {rng.choice(YEARS)}.",
            f"{he} visited {city} with the team last spring.",
            f"{he} said the report was finished on time.",
            f"The team met in {city}, {state} to review the plan.",
            f"{his} office in {city} approved the budget of {rng.randint(10, 90)} million dollars.",
            f"The {org_full} opened a lab in {city} in {rng.choice(YEARS)}.",
            f"{first} praised the {o2_acr} for the audit.",
            f"The regulators in {country} reviewed the filing from the {acr}.",
        ]
        k = rng.randint(1, 3)
        sents = rng.sample(bank, k)
        role = rng.choice(["user", "assistant", "assistant", "tool"])
    tool = rng.choice(TOOLS) if role == "tool" else None
    if role == "tool":
        sents.append(f"The tool returned status {rng.randint(200, 204)} for the query.")
    return " ".join(sents), role, tool


def _rows_for_ids(ids, seed: int) -> pd.DataFrame:
    recs = []
    for i in ids:
        conv_id, turn_idx = _conv_of_id(int(i), seed)
        text, role, tool = turn_text(conv_id, turn_idx, seed)
        ts = _EPOCH + _dt.timedelta(minutes=int(i) // BLOCK * 60 + turn_idx)
        recs.append((conv_id, turn_idx, role, text, tool, ts))
    return pd.DataFrame(
        recs, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32"})


def transcripts_df(spark: SparkSession, n_turns: int, seed: int = 42) -> DataFrame:
    """Distributed deterministic transcripts table of ~n_turns rows."""
    base = spark.range(0, n_turns, 1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _rows_for_ids(b["id"].to_numpy(), seed)

    return base.mapInPandas(gen, schema=schemas.TRANSCRIPTS)


def transcripts_pdf(n_turns: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side variant for unit tests — identical content."""
    return _rows_for_ids(range(n_turns), seed)


# ------------------------------------------------------------ dimensions

def entity_dict_rows() -> list[tuple]:
    """(id, name, aliases, types, inlinks, context) — context is the
    lowercase KB-text token set the linker's doc-similarity scores
    against. The two 'Meridian' entries share an alias with EQUAL inlinks
    so only context can disambiguate them (T9/T10 test fixture)."""
    rows = []
    for k, (full, acr) in enumerate(ORGS):
        ctx = [w.lower() for w in full.split()] + ["organization", acr.lower()]
        rows.append(
            (f"ORG{k:04d}", full, [acr, "the " + full], ["organization"],
             float(1000 + 97 * k), ctx)
        )
    for k, (first, last, _g) in enumerate(PERSONS):
        rows.append(
            (f"PER{k:04d}", f"{first} {last}", [last], ["person"],
             float(500 + 31 * k), [first.lower(), last.lower(), "person"])
        )
    seen_states = set()
    for k, (city, state, st_ab, country) in enumerate(CITIES):
        rows.append((f"LOC{k:04d}", city, [f"{city}, {st_ab}"], ["location"],
                     float(800 + 13 * k), [city.lower(), state.lower(), "city"]))
        if state not in seen_states:
            seen_states.add(state)
            rows.append((f"STA{k:04d}", state, [st_ab], ["location"],
                         float(900 + 7 * k), [state.lower(), "state"]))
    rows.append(("CTY0000", "United States", ["US", "USA"], ["location", "country"],
                 5000.0, ["united", "states", "country"]))
    # deliberately ambiguous alias pair — same alias, same inlinks;
    # resolvable only via arg context (Linker.scala:125-151 semantics)
    rows.append(("AMBX001", "Meridian Motors", ["Meridian"], ["organization"],
                 700.0, ["cars", "engines", "motor", "factory"]))
    rows.append(("AMBX002", "Meridian Theater", ["Meridian"], ["organization"],
                 700.0, ["stage", "play", "drama", "actors"]))
    return rows


def entity_dict_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, entity_dict_rows(), schemas.ENTITY_DICT)


def gazetteer_rows() -> list[tuple]:
    rows = []
    for city, state, st_ab, country in CITIES:
        rows.append((city, "CITY", state, "PROVINCE", None))
    seen = set()
    for city, state, st_ab, country in CITIES:
        if state in seen:
            continue
        seen.add(state)
        rows.append((state, "PROVINCE", country, "COUNTRY", st_ab))
    rows.append(("United States", "COUNTRY", None, None, None))
    return rows


def gazetteer_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, gazetteer_rows(), schemas.GAZETTEER)

"""One pytest per rule branch of the T11 canonicalizer (SURVEY.md §7 step 6)
+ the T12 XOR propagation gate. Each test quotes the reference rule it
checks (BestEntityMentionFinder.scala line refs)."""

from docopenie_spark import datagen
from docopenie_spark.operators import bestmention as bm
from docopenie_spark.operators.bestmention import ChunkedDoc, Gazetteer

GAZ = Gazetteer(datagen.gazetteer_rows())
EMPTY = ChunkedDoc.single("")


def _doc(s):
    return ChunkedDoc.single(s)


# ------------------------------------------------------------- ORG

def test_org_acronym_expansion():
    # ref :145-157: last |ACR| capitalized words spell the acronym
    cands = [("Global Data Consortium", 10), ("Quantum Relay Systems", 90)]
    got = bm.best_org("GDC", 60, cands, [], EMPTY)
    assert got["best"] == "Global Data Consortium" and got["kind"] == "full"


def test_org_acronym_rename_to_suffix():
    # ref :155: candidate renamed to the suffix starting at the first
    # matching capitalized word — leading non-matching words are dropped
    cands = [("the Global Data Consortium", 10)]
    got = bm.best_org("GDC", 60, cands, [], EMPTY)
    assert got["best"] == "Global Data Consortium"


def test_org_acronym_doc_anchor_is_trigger_only():
    # ref :143-146: the "(ACR)" regex only ENTERS the acronym branch; the
    # expansion still comes from candidates — with none, fall through
    doc = _doc("We met the Global Data Consortium (GDC) yesterday.")
    got = bm.best_org("GDC", 44, [("Global Data Consortium", 11)], [], doc)
    assert got["best"] == "Global Data Consortium"
    assert bm.best_org("GDC", 44, [], [], doc) is None  # no candidates → identity


def test_org_word_prefix_suffix_containment():
    cands = [("Harbor Light Industries", 5)]
    assert bm.best_org("Harbor Light", 80, cands, [], EMPTY)["best"] == "Harbor Light Industries"
    assert bm.best_org("Light Industries", 80, cands, [], EMPTY)["best"] == "Harbor Light Industries"


def test_org_location_containment_gate():
    # ref :176-190 probablyOrganization: when the entity string occurs
    # inside a LOCATION candidate name, O-b word expansion is SKIPPED
    cands = [("Springfield Harbor Bureau", 5)]
    loc_names = ["Springfield, Massachusetts"]
    assert bm.best_org("Springfield", 80, cands, loc_names, EMPTY) is None
    # without the location evidence the same input expands
    assert bm.best_org("Springfield", 80, cands, [], EMPTY)["best"] == "Springfield Harbor Bureau"


def test_org_word_containment_doc_order_head():
    # ref :192-208: O-b iterates the UNSORTED candidate list — head is the
    # EARLIEST DOC OCCURRENCE, not the proximity-nearest
    cands = [("Harbor Light Industries", 400), ("Harbor Light Partners", 10)]
    got = bm.best_org("Harbor Light", 395, cands, [], EMPTY)
    assert got["best"] == "Harbor Light Partners"  # earliest, though farther
    assert got["count"] == 0.5


def test_org_char_prefix_one_word_case_insensitive():
    # ref :212: cs.name.toLowerCase().startsWith(originalString.toLowerCase())
    got = bm.best_org("quant", 0, [("Quantum", 9)], [], EMPTY)
    assert got["best"] == "Quantum"


def test_org_acronym_proximity_head():
    # O-a picks over proximity-sorted candidates (ref :129-132, :146)
    cands = [("Global Data Consortium", 500), ("Global Data Corporation", 90)]
    got = bm.best_org("GDC", 100, cands, [], EMPTY)
    assert got["best"] == "Global Data Corporation"
    assert got["count"] == 0.5  # 1/|distinct names| (ref :433)


# ------------------------------------------------------------- LOC

def test_loc_sliding_containment_with_comma_and_in():
    # ref :276-292: orig words at ANY start index, separator "," or "in"
    got = bm.best_loc("Austin", 10, [("Austin, Texas", 80)], EMPTY, GAZ)
    assert got["best"] == "Austin, Texas" and got["kind"] == "full"
    got2 = bm.best_loc("Austin", 10, [("Austin in Texas", 80)], EMPTY, GAZ)
    assert got2["best"] == "Austin, Texas"
    # mid-candidate start index
    got3 = bm.best_loc("Austin", 10, [("Lake Austin, Texas", 80)], EMPTY, GAZ)
    assert got3["best"] == "Austin, Texas"


def test_loc_container_must_be_mentioned():
    # ref :295-309: containment requires the container to be an NER
    # location candidate IN the conversation — NO unconditional gazetteer
    # lookup (round-1 canonicalized 'Springfield' with no Massachusetts
    # evidence anywhere in the doc)
    got = bm.best_loc("Springfield", 10, [("Springfield", 10)], EMPTY, GAZ)
    assert got is None  # no mentioned container, empty doc → identity
    got2 = bm.best_loc(
        "Springfield", 10,
        [("Springfield", 10), ("Massachusetts", 95)], EMPTY, GAZ,
    )
    assert got2["kind"] == "container"
    assert got2["best"] == "Springfield, Massachusetts"
    assert got2["ent"][1] == "Massachusetts"  # containerEntity provenance


def test_loc_container_excludes_united_states():
    # ref :301: cs.name != "United States"
    got = bm.best_loc(
        "Springfield", 10, [("Springfield", 10), ("United States", 95)], EMPTY, GAZ
    )
    assert got is None or got["kind"] != "container" or "United States" not in got["best"]


def test_loc_doc_regex_least_frequent_verbatim():
    # ref :333-335 sortBy(_._2).head — the LEAST frequent container wins
    # (SURVEY A4); hits failing locationContainsLocation are filtered
    doc = _doc(
        "Springfield, MA is nice. Springfield, MA is big. "
        "Springfield, Massachusetts though."
    )
    got = bm.best_loc("Springfield", 0, [], doc, GAZ)
    assert got["kind"] == "containment"
    assert got["best"] == "Springfield, Massachusetts"
    assert got["ent"][1] == "Massachusetts"        # container entity
    assert got["contained"][0] == "Springfield"    # contained entity


def test_loc_doc_regex_requires_gazetteer_containment():
    # ref :323: if locationContainsLocation(full(1), full(0)) — a pattern
    # hit whose expanded container does not contain the city is dropped
    doc = _doc("They met in Salem, OR today.")  # Salem not a gazetteer city
    assert bm.best_loc("Salem", 0, [], doc, GAZ) is None


def test_loc_state_abbrev_expansion():
    doc = _doc("They met in Springfield, MA. It rained.")
    got = bm.best_loc("Springfield", 12, [], doc, GAZ)
    assert got["best"] == "Springfield, Massachusetts"


# ------------------------------------------------------------- PERSON

def test_person_word_suffix_under_4_words():
    got = bm.best_person("Navarro", 100, [("Alice Navarro", 10)], EMPTY)
    assert got["best"] == "Alice Navarro"
    # candidates with >= 4 words are rejected (ref :375-393)
    assert bm.best_person("Navarro", 100, [("Alice Maria Luisa Navarro", 10)], EMPTY) is None


def test_person_name_regex_proximity_and_count():
    # ref :403-413: collect ALL hits, sort by |offset - entity.offset|,
    # head, count = 1/|distinct names| — round 1 took the first doc match
    # with a hardwired 0.5
    doc = _doc("Yesterday we saw Brian Okafor at noon. Later we met Ron Okafor at dusk.")
    near_ron = bm.best_person("Okafor", 60, [], doc)
    assert near_ron["best"] == "Ron Okafor"
    assert near_ron["count"] == 0.5
    near_brian = bm.best_person("Okafor", 10, [], doc)
    assert near_brian["best"] == "Brian Okafor"


def test_person_regex_substring_containment():
    # ref :409 name.contains(originalString) — SUBSTRING, not word match
    doc = _doc("Yesterday we saw Brian Okafor at the office.")
    got = bm.best_person("kafo", 60, [], doc)
    assert got["best"] == "Brian Okafor"


def test_person_regex_gated_by_probably_person():
    # ref :113-125: the OTHER cascade calls findBestPersonString(..., false)
    doc = _doc("Yesterday we saw Brian Okafor at the office.")
    assert bm.best_person("Okafor", 60, [], doc, probably_person=False) is None


# ------------------------------------------------------------- misc

def test_location_casing():
    assert bm.location_casing("NEW jersey") == "New Jersey"
    assert bm.location_casing("D.C. area") == "D.C. Area"


def test_chunked_doc_boundary_matches_once():
    # a match crossing the chunk boundary is found exactly once via the
    # overlap tail; one starting in the overlap belongs to the next chunk
    import re

    full = "alpha Brian Okafor beta. Carla Jensen gamma."
    left, right = full[:20], full[20:]
    chunked = ChunkedDoc(
        [0, 20], [left + right[:30], right], [len(left) + 1, len(right) + 1]
    )
    pat = re.compile(r"[A-Z]\w+ [A-Z]\w+")
    got = sorted(off + m.start() for off, m in chunked.finditer(pat))
    want = sorted(m.start() for m in pat.finditer(full))
    assert got == want
    # assembly.doc_chunks' layout (part + SEP + head of the next part,
    # keep = len(part) + 1): a match starting at the next part's first
    # char sits at local index keep of the overlap and belongs to the
    # next chunk only
    part0, part1 = "alpha beta", "Dana Kim delta"
    full = part0 + "\n" + part1
    chunked = ChunkedDoc(
        [0, len(part0) + 1], [part0 + "\n" + part1[:8], part1],
        [len(part0) + 1, len(part1) + 1],
    )
    got = sorted(off + m.start() for off, m in chunked.finditer(pat))
    assert got == [m.start() for m in pat.finditer(full)] == [len(part0) + 1]


def test_personal_pronoun_gate_semantics():
    # verbatim reference set: "his" yes, "she" no (DocumentExtractor.scala:140)
    assert "his" in bm.PERSONAL_PRONOUNS
    assert "she" not in bm.PERSONAL_PRONOUNS
    assert "him" not in bm.PERSONAL_PRONOUNS


def test_t12_expansion_via_pipeline(spark):
    from docopenie_spark.plans.pipeline import run_pipeline

    t = datagen.transcripts_df(spark, 160)
    r = run_pipeline(spark, t)
    kinds = {row.kind for row in r.best_mentions_expanded.select("kind").distinct().collect()}
    assert "coref_link" in kinds or "coref_full" in kinds or "coref_identity" in kinds
    # XOR gate: coref-propagated PERSON rows must use personal pronouns only
    bad = r.best_mentions_expanded.where(
        (r.best_mentions_expanded.kind.startswith("coref"))
    ).collect()
    for row in bad:
        is_personal = row.target.text.lower() in bm.PERSONAL_PRONOUNS
        not_person = row.target.entity_type != "PERSON"
        assert is_personal ^ not_person, row


def test_container_containment_kinds_in_pipeline(spark):
    from docopenie_spark.plans.pipeline import run_pipeline

    t = datagen.transcripts_df(spark, 240)
    r = run_pipeline(spark, t)
    bems = r.best_mentions.collect()
    kinds = {b.kind for b in bems}
    assert "containment" in kinds or "container" in kinds
    for b in bems:
        if b.kind == "container":
            assert b.container_entity is not None and b.best_entity is None
        if b.kind == "containment":
            assert b.container_entity is not None and b.contained_entity is not None
        if b.kind == "full":
            assert b.best_entity is not None

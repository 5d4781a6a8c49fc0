"""Imperative full-pipeline parity twin over the REAL datagen corpus.

The 8 rows-only CORRECTNESS queries (kg_sentences … kg_bem_classifier)
run the production pipeline over ``datagen.transcripts_df`` — seeded
Mersenne-Twister templated text that a DuckDB oracle cannot re-derive,
so the driver records only row counts for them. Their injection-corpus
◆ twins check every stage's *logic* on constructed word-soup, but the
DataFrame *composition* (join keys, window frames, fold order, dedup
semantics, the semi-join ambiguity reduction in linking) over the real
corpus had no independent check until this module.

This twin re-implements the ENTIRE composition imperatively in plain
Python over the collected transcripts:

- reuses the per-sentence pure kernels the production path also uses
  (segment_turn / tokenize_sentence / extract_sentence /
  sentence_entities / cluster_conversation / resolve_conversation) —
  those are already externally oracled on injection corpora;
- independently re-implements everything the production path expresses
  as DataFrame operations: turn-offset prefix sums, the fused-pass row
  splits, arg cleaning (token logic here vs anchored regexes there),
  the ambiguity-gated context build + candidate scoring + threshold +
  argmax of linking, the cluster-expansion fan-out joins with Spark's
  countDistinct / min(struct) / XOR-gate semantics, the display filter,
  the bucketed containment join + collect_set + greedy splice fold of
  substitution, and eval_diff's identity-key M×N join.

``test_pipeline_twin.py`` asserts EXACT multiset equality per stage
against ``run_pipeline`` on the same transcripts — sentences,
triples_raw, mentions, clusters, links, best_mentions_expanded,
triples, and eval_diff. A mismatch localizes to the one stage whose
Spark wiring diverged.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

from docopenie_spark.functions.textnorm import asciify_py, normalize_inline_ws_py
from docopenie_spark.operators.bestmention import (
    PERSONAL_PRONOUNS,
    POSSESSIVE_PRONOUNS,
    ChunkedDoc,
    Gazetteer,
    resolve_conversation,
)
from docopenie_spark.operators.coref import cluster_conversation
from docopenie_spark.operators.extract import extract_sentence
from docopenie_spark.operators.fused import _keep
from docopenie_spark.operators.ner import PRONOUN_TYPE, PRONOUNS, sentence_entities
from docopenie_spark.operators.segment import segment_turn
from docopenie_spark.operators.tokenize import DETERMINERS, PREPOSITIONS, tokenize_sentence

_STRIP = {w.lower() for w in (DETERMINERS | PREPOSITIONS)}
_WS_RUN = re.compile(r"\s+")


# ------------------------------------------------------------ stage 1-3

def _doc_texts(transcripts_pdf):
    """conv_id → the raw turns joined by SEP ('\\n') in turn_idx order:
    the twin of assembly.doc_text_salted and of the text doc_chunks cuts."""
    convs: dict[str, list] = defaultdict(list)
    for r in transcripts_pdf.itertuples():
        convs[r.conv_id].append((int(r.turn_idx), r.text))
    return {c: "\n".join(t for _, t in sorted(ts)) for c, ts in convs.items()}


def _turn_rows(transcripts_pdf):
    """(conv_id → ordered [(turn_idx, turn_offset, norm_text)]); offsets
    are an imperative prefix sum — the twin of assembly.with_turn_offsets'
    salted two-level segmented scan (SEP = '\\n', 1 char)."""
    convs: dict[str, list] = defaultdict(list)
    for r in transcripts_pdf.itertuples():
        convs[r.conv_id].append((int(r.turn_idx), r.text))
    out = {}
    for conv_id, turns in convs.items():
        turns.sort()
        rows, off = [], 0
        for turn_idx, text in turns:
            rows.append((turn_idx, off, normalize_inline_ws_py(asciify_py(text))))
            off += len(text) + 1
        out[conv_id] = rows
    return out


def _annotate(turn_rows):
    """The fused pass, imperatively: per turn → sentences / raw triples /
    mentions, with document-level offsets."""
    sentences, triples_raw, mentions = [], [], []
    for conv_id, rows in turn_rows.items():
        for turn_idx, turn_offset, text in rows:
            for sent_num, (local, s) in enumerate(segment_turn(text)):
                if not _keep(s):
                    continue
                off = turn_offset + local
                toks = tokenize_sentence(s)
                sentences.append({
                    "conv_id": conv_id, "turn_idx": turn_idx,
                    "sent_num": sent_num, "offset": off, "text": s,
                })
                for a1, r, a2, conf, ext in extract_sentence(toks, s):
                    triples_raw.append({
                        "conv_id": conv_id, "turn_idx": turn_idx,
                        "sent_num": sent_num,
                        "arg1": {"text": a1[0], "offset": off + a1[1]},
                        "rel": {"text": r[0], "offset": off + r[1]},
                        "arg2": {"text": a2[0], "offset": off + a2[1]},
                        "confidence": conf, "extractor": ext,
                    })
                for e_text, e_off, e_name, e_type in sentence_entities(
                    toks, s, off, _FIRSTS, _GAZ_NAMES, _LASTS, True
                ):
                    mentions.append({
                        "conv_id": conv_id, "text": e_text, "offset": int(e_off),
                        "name": e_name, "entity_type": e_type,
                    })
    return sentences, triples_raw, mentions


# name dictionaries — resolved once at import from the same datagen
# constants plans/pipeline.default_dictionaries uses
def _dicts():
    from docopenie_spark import datagen
    from docopenie_spark.plans.pipeline import default_dictionaries

    firsts, gaz, lasts = default_dictionaries()
    gaz = set(gaz) | {r[0] for r in datagen.gazetteer_rows()}
    return frozenset(firsts), frozenset(gaz), frozenset(lasts)


_FIRSTS, _GAZ_NAMES, _LASTS = _dicts()


# ------------------------------------------------------------- clusters

def _clusters(mentions):
    """cluster_conversation per conv (the pandas kernel the native path
    is parity-pinned against), driven imperatively."""
    import pandas as pd

    by_conv = defaultdict(list)
    for m in mentions:
        by_conv[m["conv_id"]].append(m)
    out = []
    for conv_id in by_conv:
        pdf = pd.DataFrame(by_conv[conv_id])
        cl = cluster_conversation(pdf)
        for r in cl.itertuples():
            out.append({
                "conv_id": conv_id, "cluster_id": int(r.cluster_id),
                "best": dict(r.best),
                "mentions": [dict(m) for m in r.mentions],
            })
    return out


# ---------------------------------------------------------------- links

def _clean_arg(text):
    """P7 twin via token logic (production: two anchored regexes): drop
    ONE leading token if determiner/preposition (+ its whitespace run),
    then ONE trailing token likewise."""
    after_lead = text
    m = re.match(r"(\S+)(\s+|$)", text)
    if m and m.group(1).lower() in _STRIP:
        after_lead = text[m.end():]
    clean = after_lead
    m = re.search(r"(?:^|\s+)(\S+)$", after_lead)
    if m and m.group(1).lower() in _STRIP:
        clean = after_lead[: m.start()]
    return clean, len(text) - len(after_lead)


def _candidate_index(entity_dict_rows):
    """lower(key) → [(id, name, src, inlinks, d_ctx, types)] over
    name + aliases, mirroring link.py's candidate explode."""
    idx = defaultdict(list)
    for eid, name, aliases, types, inlinks, ctx in entity_dict_rows:
        idx[name.lower()].append((eid, name, "name", float(inlinks), list(ctx), list(types)))
        for a in aliases:
            idx[a.lower()].append((eid, name, "alias", float(inlinks), list(ctx), list(types)))
    return idx


def _links(triples_raw, clusters, sentences, entity_dict_rows,
           min_combined_score=5.0):
    # distinct args
    seen, args = set(), []
    for t in triples_raw:
        for p in (t["arg1"], t["arg2"]):
            k = (t["conv_id"], p["offset"], p["text"])
            if k not in seen:
                seen.add(k)
                args.append({"conv_id": t["conv_id"], "text": p["text"],
                             "offset": p["offset"]})
    cand_idx = _candidate_index(entity_dict_rows)
    # ambiguity: keys matching >1 distinct dictionary id get a context
    multi = {k for k, cs in cand_idx.items() if len({c[0] for c in cs}) > 1}

    sents_by_conv = defaultdict(list)
    for s in sentences:
        sents_by_conv[s["conv_id"]].append(s)
    cl_by_conv = defaultdict(list)
    for c in clusters:
        cl_by_conv[c["conv_id"]].append(c)

    def _ctx(conv_id, c_off, c_len):
        """T9 twin: own sentence ∪ sentences holding coref siblings of
        mentions inside the cleaned arg span → distinct lowered tokens.
        Returns None when no context sentence exists (left-join null)."""
        span_sents = {}
        for s in sents_by_conv[conv_id]:
            if c_off >= s["offset"] and c_off + c_len <= s["offset"] + len(s["text"]):
                span_sents[s["offset"]] = s["text"]
        for c in cl_by_conv[conv_id]:
            if any(
                m["offset"] >= c_off
                and m["offset"] + len(m["text"]) <= c_off + c_len
                for m in c["mentions"]
            ):
                for sib in c["mentions"]:
                    for s in sents_by_conv[conv_id]:
                        if (sib["offset"] >= s["offset"]
                                and sib["offset"] + len(sib["text"])
                                <= s["offset"] + len(s["text"])):
                            span_sents[s["offset"]] = s["text"]
        if not span_sents:
            return None
        toks, out = set(), []
        for _, text in sorted(span_sents.items()):
            for w in _WS_RUN.split(text.lower()):
                if w not in toks:
                    toks.add(w)
                    out.append(w)
        return out

    links = []
    for a in args:
        clean, shift = _clean_arg(a["text"])
        if not clean:
            continue
        key = clean.lower()
        cands = cand_idx.get(key, [])
        if not cands:
            continue
        c_off = a["offset"] + shift
        ctx = _ctx(a["conv_id"], c_off, len(clean)) if key in multi else None
        best = None
        for eid, name, src, inlinks, d_ctx, types in cands:
            cand_score = 6.0 if src == "name" else 5.5
            doc_sim = (
                len(set(ctx) & set(d_ctx)) / float(max(len(d_ctx), 1))
                if ctx is not None else 0.0
            )
            score = cand_score + 0.4 * math.log10(1.0 + inlinks) + doc_sim
            if score < min_combined_score:
                continue
            row = {
                "conv_id": a["conv_id"], "text": a["text"], "offset": a["offset"],
                "clean_text": clean, "clean_offset": c_off,
                "name": name, "id": eid, "score": score, "doc_sim": doc_sim,
                "cand_score": cand_score, "inlinks": inlinks, "types": types,
            }
            if best is None or (-row["score"], row["id"]) < (-best["score"], best["id"]):
                best = row
        if best is not None:
            links.append(best)
    return links


# --------------------------------------------------------- best mentions

def _best_mentions(mentions, turn_rows, gazetteer_rows):
    import pandas as pd

    gaz = Gazetteer(gazetteer_rows)
    ents_by_conv = defaultdict(list)
    for m in mentions:
        if m["entity_type"] != PRONOUN_TYPE:
            ents_by_conv[m["conv_id"]].append(m)
    out = []
    for conv_id, ents in ents_by_conv.items():
        doc_text = "\n".join(t for _, _, t in turn_rows[conv_id])
        rows = resolve_conversation(
            pd.DataFrame(ents), ChunkedDoc.single(doc_text), gaz
        )
        for (cid, kind, target, best, be, ce, cde, count, cl_id) in rows:
            out.append({
                "conv_id": cid, "kind": kind, "target": target,
                "best_mention": best, "best_entity": be,
                "container_entity": ce, "contained_entity": cde,
                "candidate_count": float(count), "cluster_id": cl_id,
            })
    return out


# ------------------------------------------------------------- expansion

def _null_first(v):
    """Spark orders null struct fields first in min()."""
    if v is None:
        return (0,)
    return (1, v)


def _expand_with_coref(bems, clusters, links):
    links_by_key = defaultdict(list)
    if links is not None:
        for l in links:
            links_by_key[(l["conv_id"], l["clean_offset"])].append(l)
    bems_by_key = defaultdict(list)
    for b in bems:
        if b["kind"] in ("identity", "full", "container", "containment"):
            bems_by_key[(b["conv_id"], b["target"]["offset"])].append(b)

    new_rows = []
    for c in clusters:
        conv = c["conv_id"]
        # the exploded-mention fan-out: each mention row picks up EVERY
        # matching link and bem (left-join semantics)
        l_structs, b_structs = [], []
        for m in c["mentions"]:
            for l in links_by_key.get((conv, m["offset"]), []):
                l_structs.append((l["id"], l["name"], tuple(l["types"])))
            for b in bems_by_key.get((conv, m["offset"]), []):
                t = b["target"]
                b_structs.append((
                    b["best_mention"], b["kind"],
                    (t["text"], t["offset"], t["name"], t["entity_type"]),
                    _null_first(
                        None if b["best_entity"] is None else (
                            b["best_entity"]["text"], b["best_entity"]["offset"],
                            b["best_entity"]["name"], b["best_entity"]["entity_type"],
                        )
                    ),
                    b["candidate_count"],
                ))
        n_l = len({s[0] for s in l_structs})
        n_b = len({s[0] for s in b_structs})
        use_link = n_l == 1
        if not (use_link or n_b == 1):
            continue
        l = min(l_structs) if l_structs else None
        b = min(b_structs) if b_structs else None
        if use_link:
            if l is None:
                continue
        elif b is None:
            continue
        if use_link:
            ent_type = "PERSON" if "person" in l[2] else "OTHER"
            kind, raw_best = "coref_link", l[1]
            best_entity, count = None, 1.0
        else:
            b_kind, b_target = b[1], b[2]
            ent_type = b_target[3]
            if b_kind == "identity":
                kind, raw_best = "coref_identity", b_target[2]
            elif b[3] != (0,):
                kind, raw_best = "coref_full", b[0]
            else:
                kind, raw_best = "coref", b[0]
            best_entity = (
                None if b[3] == (0,) else {
                    "text": b[3][1][0], "offset": b[3][1][1],
                    "name": b[3][1][2], "entity_type": b[3][1][3],
                }
            )
            count = b[4]
        for m in c["mentions"]:
            lw = m["text"].lower()
            if lw not in PRONOUNS:
                continue
            is_personal = lw in PERSONAL_PRONOUNS
            if is_personal != (ent_type == "PERSON"):
                continue  # XOR gate: propagate iff personal == is-person
            best = raw_best
            if lw in POSSESSIVE_PRONOUNS:
                best = best + ("'" if best.endswith("s") else "'s")
            new_rows.append({
                "conv_id": conv, "kind": kind,
                "target": {"text": m["text"], "offset": m["offset"],
                           "name": m["text"], "entity_type": ent_type},
                "best_mention": best, "best_entity": best_entity,
                "container_entity": None, "contained_entity": None,
                "candidate_count": count, "cluster_id": c["cluster_id"],
            })
    return list(bems) + new_rows


def _display_filter(bems):
    return [b for b in bems
            if b["kind"] != "identity" and b["best_mention"] != b["target"]["text"]]


# ----------------------------------------------------------- substitution

def _splice(text, subs):
    """Greedy non-overlap splice over the DEDUPED, sorted substitution
    set — the twin of substitute._subst_expr's fold."""
    cursor, out = 0, ""
    for rel_start, rel_end, best in sorted(set(subs)):
        if rel_start >= cursor:
            out += text[cursor:rel_start] + best
            cursor = rel_end
    return out + text[cursor:]


def _substituted_triples(triples_raw, display_bems):
    m_by_conv = defaultdict(list)
    for b in display_bems:
        m_by_conv[b["conv_id"]].append(
            (b["target"]["offset"], len(b["target"]["text"]), b["best_mention"])
        )
    out = []
    for t in triples_raw:
        parts = {}
        for which, p in (("arg1", t["arg1"]), ("arg2", t["arg2"])):
            subs = [
                (m_off - p["offset"], m_off + m_len - p["offset"], best)
                for m_off, m_len, best in m_by_conv[t["conv_id"]]
                if m_off >= p["offset"]
                and m_off + m_len <= p["offset"] + len(p["text"])
            ]
            parts[which] = _splice(p["text"], subs) if subs else p["text"]
        out.append({
            "conv_id": t["conv_id"], "turn_idx": t["turn_idx"],
            "sent_num": t["sent_num"],
            "subj": parts["arg1"], "pred": t["rel"]["text"], "obj": parts["arg2"],
            "subj_raw": t["arg1"]["text"], "obj_raw": t["arg2"]["text"],
            "confidence": t["confidence"], "extractor": t["extractor"],
        })
    return out


# ------------------------------------------------------ classifier U1

def _bem_index_key(b):
    """with_bem_index's window order (nulls first, Spark ASC default)."""
    t = b["target"]

    def off(e):
        return (0,) if e is None else (1, e["offset"])

    return (t["offset"], b["kind"], b["best_mention"], t["text"],
            t["entity_type"], b["candidate_count"], off(b["best_entity"]),
            off(b["container_entity"]), off(b["contained_entity"]))


def _bem_features(bems_x, clusters, gazetteer_rows):
    """The 13-feature build (classifier.bem_features) imperatively:
    per-conversation stable index, gazetteer-kind predicates, and the
    coref-cluster-agreement containment lookups."""
    gaz = Gazetteer(gazetteer_rows)
    cl_by_conv = defaultdict(list)
    for c in clusters:
        cl_by_conv[c["conv_id"]].append(c)

    def span_clusters(conv_id, off, length):
        return {
            c["cluster_id"]
            for c in cl_by_conv[conv_id]
            if any(m["offset"] >= off
                   and m["offset"] + len(m["text"]) <= off + length
                   for m in c["mentions"])
        }

    by_conv = defaultdict(list)
    for b in bems_x:
        by_conv[b["conv_id"]].append(b)
    out = []
    for conv_id, rows in by_conv.items():
        rows.sort(key=_bem_index_key)
        for i, b in enumerate(rows):
            t_lc = b["target"]["text"].lower()
            ce = b["container_entity"]
            c_lc = ce["text"].lower() if ce is not None else None
            city_t, state_t, country_t = (
                t_lc in gaz.cities, t_lc in gaz.states, t_lc in gaz.countries
            )
            city_c = c_lc in gaz.cities if c_lc is not None else False
            state_c = c_lc in gaz.states if c_lc is not None else False
            country_c = c_lc in gaz.countries if c_lc is not None else False
            agree = 0.0
            if b["best_entity"] is not None:
                tc = span_clusters(conv_id, b["target"]["offset"],
                                   len(b["target"]["text"]))
                bc = span_clusters(conv_id, b["best_entity"]["offset"],
                                   len(b["best_entity"]["text"]))
                agree = 1.0 if tc & bc else (-1.0 if bc else 0.0)
            typ, kind = b["target"]["entity_type"], b["kind"]
            out.append({
                **b, "bem_index": i,
                "f_is_organization_rule": float(typ == "ORGANIZATION"),
                "f_is_location_rule": float(typ == "LOCATION"),
                "f_is_person_rule": float(typ == "PERSON"),
                "f_is_other_rule": float(typ == "OTHER"),
                "f_is_coref": float(kind.startswith("coref")),
                "f_is_linked": float(kind == "coref_link"),
                "f_is_coref_identity": float(kind == "coref_identity"),
                "f_ambiguous_candidate_count": b["candidate_count"],
                "f_coref_cluster_agrees": agree,
                "f_location_ambiguity_count": (
                    float(city_t) + float(state_t) + float(country_t)
                    if ce is not None else 0.0
                ),
                "f_state_contains_city": (
                    float(city_t and state_c) if ce is not None else 0.0
                ),
                "f_country_contains_city": (
                    float(city_t and country_c) if ce is not None else 0.0
                ),
                "f_loc_type_similarity": (
                    float(city_t and city_c) + float(state_t and state_c)
                    + float(country_t and country_c)
                    if ce is not None else 0.0
                ),
            })
    return out


# -------------------------------------------------------------- eval diff

def _eval_diff(base_triples, comp_triples, sentences):
    key = lambda t: (t["conv_id"], t["turn_idx"], t["sent_num"], t["subj_raw"],
                     t["pred"], t["obj_raw"], t["confidence"], t["extractor"])
    base_by_key = defaultdict(list)
    for t in base_triples:
        base_by_key[key(t)].append(t)
    sent_text = {(s["conv_id"], s["turn_idx"], s["sent_num"]): s["text"]
                 for s in sentences}
    out = []
    for c in comp_triples:
        for b in base_by_key.get(key(c), []):  # M×N fan-out on dup keys
            a1c, a2c = c["subj"] != b["subj"], c["obj"] != b["obj"]
            if not (a1c or a2c):
                continue
            out.append({
                "conv_id": c["conv_id"], "turn_idx": c["turn_idx"],
                "sent_num": c["sent_num"],
                "comp_arg1": c["subj"], "rel": c["pred"], "comp_arg2": c["obj"],
                "base_arg1": b["subj"], "base_arg2": b["obj"],
                "arg1_changed": "YES" if a1c else "NO",
                "arg2_changed": "YES" if a2c else "NO",
                "extractor": c["extractor"],
                "sentence_text": sent_text.get(
                    (c["conv_id"], c["turn_idx"], c["sent_num"])
                ),
            })
    return out


# ------------------------------------------------------------- top level

def twin_pipeline(transcripts_pdf, entity_dict_rows, gazetteer_rows,
                  with_linking=True, with_coref_expansion=True):
    """Full imperative pipeline: returns {stage: [row dicts]} matching
    run_pipeline's stage schemas field-for-field."""
    turn_rows = _turn_rows(transcripts_pdf)
    sentences, triples_raw, mentions = _annotate(turn_rows)
    clusters = _clusters(mentions)
    links = (
        _links(triples_raw, clusters, sentences, entity_dict_rows)
        if with_linking else None
    )
    bems = _best_mentions(mentions, turn_rows, gazetteer_rows)
    bems_x = (
        _expand_with_coref(bems, clusters, links)
        if with_coref_expansion else bems
    )
    triples = _substituted_triples(triples_raw, _display_filter(bems_x))
    return {
        "sentences": sentences,
        "triples_raw": triples_raw,
        "mentions": mentions,
        "clusters": clusters,
        "links": links,
        "best_mentions": bems,
        "best_mentions_expanded": bems_x,
        "triples": triples,
    }

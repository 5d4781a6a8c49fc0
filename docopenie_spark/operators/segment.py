"""Sentence segmentation (SURVEY.md §2.3 T2; reference
prep/Sentencer.scala:55-94).

The reference runs a statistical segmenter per paragraph and computes
each segment's document offset as a prefix-sum of segment lengths. Ours
is a deterministic rule segmenter (terminator chars + closing quotes),
a pure kernel the fused Arrow pass (operators/fused.py) calls per TURN
over the asciified, whitespace-normalized text and follows with the P1
filter (``fused._keep``) — turn-scoped, so the stage is NARROW: no
shuffle between assembly and extraction. Offsets are computed
exactly the reference's way: locate each segment in the original turn
text and add the turn's document offset.

``sent_num`` is the 0-based sentence index WITHIN the turn; the stable
sentence key is the compound (conv_id, turn_idx, sent_num) — this keeps
numbering closed-form per turn (no cross-turn window / shuffle), which is
what survives at 10^12 turns. (The reference numbers per document,
prep/Sentencer.scala:91 — a driver-side zipWithIndex that does not
distribute; the compound key carries identical information under the
stable turn ordering.)
"""

from __future__ import annotations

import re

# A sentence: run of non-terminator chars, then terminators, then optional
# closing quotes/brackets — or a trailing fragment with no terminator.
_SENT_RE = re.compile(r"[^.!?]+[.!?]+[\"'\)\]]*|[^.!?]+$")
_WS = re.compile(r"\s+")


def segment_turn(text: str) -> list[tuple[int, str]]:
    """Deterministic segmentation of one turn → [(local_offset, sentence)].

    Offsets address the ORIGINAL text (leading whitespace skipped, exactly
    like the reference's offset arithmetic in prep/Sentencer.scala:78-90).
    """
    out = []
    for m in _SENT_RE.finditer(text):
        raw = m.group()
        lead = len(raw) - len(raw.lstrip())
        s = raw.strip()
        if s:
            out.append((m.start() + lead, s))
    return out

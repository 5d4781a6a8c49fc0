"""Human-readable per-conversation dump of every pipeline stage — the
display ``main`` of the reference (main/KbpDocPrinter.scala:24-95:
header counts, text sample, extracted sentences with per-part offsets
and confidence, links, coref clusters sorted by descending size, best
entity mentions).

Display-only by design: every section is a conv_id-filtered
collect over a pipeline stage table, so the predicate pushes into each
scan and printing k conversations reads O(k) conversations of data —
never a corpus-wide materialization (the reference deserializes whole
.bin documents one at a time, KbpDocPrinter.scala:99-104; the bounded
filter+collect is the Spark analogue).

Usage:
    python tools/doc_printer.py [--turns N] [--convs conv_id ...]
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def print_conversation(result, conv_id: str, out=sys.stdout) -> None:
    """One conversation, every stage — section order and shapes follow
    KbpDocPrinter.print (KbpDocPrinter.scala:24-41)."""
    from docopenie_spark.operators import assembly

    w = out.write
    cid = F.col("conv_id") == conv_id

    sents = sorted(
        result.sentences.where(cid).collect(), key=lambda r: r.offset
    )
    triples = result.triples_raw.where(cid).collect()
    links = (
        sorted(result.links.where(cid).collect(), key=lambda r: r.offset)
        if result.links is not None else []
    )
    clusters = result.clusters.where(cid).collect()
    bems = sorted(
        result.best_mentions_expanded.where(cid).collect(),
        key=lambda r: r.target.offset,
    )
    # the document text is assembled here, from the turns the pipeline
    # read: no stage of the pipeline needs it as one string
    doc = assembly.doc_text_salted(result.turns.where(cid)).first()

    w(f"{conv_id}\n")
    w(f"Number of sentences: {len(sents)}\n")
    w(f"Number of extractions: {len(triples)}\n")
    w(f"Number of links: {len(links)}\n\n")
    w("Text sample:\n")
    w(((doc.doc_text[:300] + "...") if doc else "<empty>") + "\n\n")

    # (offset) sentence, then one indented line per extraction
    # (KbpDocPrinter.printSentences:60-74)
    w("Extracted Sentences:\n")
    by_sent: dict[tuple, list] = {}
    for t in triples:
        by_sent.setdefault((t.turn_idx, t.sent_num), []).append(t)
    for s in sents:
        w(f"({s.offset}) {s.text}\n")
        for t in by_sent.get((s.turn_idx, s.sent_num), []):
            w(
                f"\t({t.arg1.offset}: {t.arg1.text})"
                f"\t({t.rel.offset}: {t.rel.text})"
                f"\t({t.arg2.offset}: {t.arg2.text})"
                f"\tconf:{t.confidence:.3f}\n"
            )
    w("\n")

    # (offset)\tname\tid\tscore (linkString, KbpDocPrinter.scala:76-84)
    w("Links:\n")
    for l in links:
        w(f"({l.offset})\t{l.name}\t{l.id}\t{l.score:.2f}\n")
    w("\n")

    # best + other mentions, clusters sorted by -size
    # (printCorefClusters, KbpDocPrinter.scala:50-59)
    w("Coref Clusters:\n")
    for c in sorted(clusters, key=lambda r: -len(r.mentions)):
        others = [
            m for m in c.mentions
            if (m.text, m.offset) != (c.best.text, c.best.offset)
        ]
        w(
            f"({c.best.offset}) {c.best.text}\t"
            + ", ".join(f"({m.offset}) {m.text}" for m in others) + "\n"
        )
    w("\n")

    # offset\ttext\tbestMention (printEntityMentions, KbpDocPrinter.scala:44-47)
    w("Best Entity Mentions:\n")
    for b in bems:
        w(f"{b.target.offset}\t{b.target.text}\t{b.best_mention}\n")
    w("\n")


def main() -> None:
    sys.path.insert(0, ".")
    from docopenie_spark import datagen
    from docopenie_spark.plans.pipeline import run_pipeline
    from docopenie_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=400)
    ap.add_argument("--convs", nargs="*", default=None)
    ap.add_argument("--max-convs", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="doc-printer", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    t = datagen.transcripts_df(spark, args.turns)
    result = run_pipeline(spark, t)
    convs = args.convs or [
        r.conv_id
        for r in t.select("conv_id").distinct().orderBy("conv_id")
        .limit(args.max_convs).collect()
    ]
    for c in convs:
        print_conversation(result, c)
    spark.stop()


if __name__ == "__main__":
    main()

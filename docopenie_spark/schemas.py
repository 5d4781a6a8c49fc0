"""Explicit StructTypes for every stage table (SURVEY.md §1.2).

The reference's data model is fixed-schema case classes; ours is explicit
StructTypes declared once here — no schema inference anywhere.

Reference mapping (file:line refer to /root/reference/src/main/scala/edu/knowitall/):
- TRANSCRIPTS      ← the KBP corpus file rows (BASELINE.json input_hint)
- SENTENCES        ← KbpSentence             (prep/KbpSentence.scala:3-5)
- TRIPLES_RAW      ← Extraction              (repr/extraction/Extraction.scala:15-26)
- entity mentions  ← Entity                  (repr/bestmention/BestMention.scala:24-28);
                     no table of its own — operators/fused.split_entities
                     projects (conv_id, text, offset, name, entity_type)
- CLUSTERS         ← MentionCluster          (repr/coref/Mention.scala:9-12)
- LINKS            ← FreeBaseLink            (repr/link/Link.scala:22-33)
- BEST_MENTIONS    ← ResolvedBestMention sum type flattened with a `kind`
                     discriminator (repr/bestmention/ResolvedBestEntityMention.scala:35-109)
- TRIPLES          ← the EvaluationPrinter output row, as a real table
                     (main/EvaluationPrinter.scala:159-177)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), False),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# turn-level view after assembly: each turn + its char offset into the
# assembled conversation document text
TURNS_WITH_OFFSETS = StructType(
    TRANSCRIPTS.fields
    + [
        StructField("turn_offset", LongType(), False),  # char offset of turn in doc
        StructField("doc_len", LongType(), False),
    ]
)

SENTENCES = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_num", IntegerType(), False),  # 0-based within conversation
        StructField("offset", LongType(), False),  # char offset in assembled doc text
        StructField("text", StringType(), False),
    ]
)

# token_indices were dropped in round 2: no downstream consumer (arg
# cleaning is regex-based, confidence needs only a count) — they cost a
# list allocation per part plus Arrow array serialization in the hot loop
EXTRACTION_PART = StructType(
    [
        StructField("text", StringType(), False),
        StructField("offset", LongType(), False),  # doc-level char offset
    ]
)

TRIPLES_RAW = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_num", IntegerType(), False),
        StructField("arg1", EXTRACTION_PART, False),
        StructField("rel", EXTRACTION_PART, False),
        StructField("arg2", EXTRACTION_PART, False),
        StructField("confidence", DoubleType(), False),
        StructField("extractor", StringType(), False),  # 'verb' | 'relnoun'
    ]
)

MENTION = StructType(
    [
        StructField("text", StringType(), False),
        StructField("offset", LongType(), False),
    ]
)

CLUSTERS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("cluster_id", IntegerType(), False),
        StructField("best", MENTION, False),
        StructField("mentions", ArrayType(MENTION, False), False),
    ]
)

LINKS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("text", StringType(), False),  # ORIGINAL arg text
        StructField("offset", LongType(), False),  # original head offset
        StructField("clean_text", StringType(), False),  # linker query key
        StructField("clean_offset", LongType(), False),  # first retained char
        StructField("name", StringType(), False),
        StructField("id", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("doc_sim", DoubleType(), False),
        StructField("cand_score", DoubleType(), False),
        StructField("inlinks", DoubleType(), False),
        StructField("types", ArrayType(StringType(), False), False),
    ]
)

ENTITY_REF = StructType(
    [
        StructField("text", StringType(), True),
        StructField("offset", LongType(), True),
        StructField("name", StringType(), True),
        StructField("entity_type", StringType(), True),
    ]
)

BEST_MENTIONS = StructType(
    [
        StructField("conv_id", StringType(), False),
        # identity|full|container|containment|coref|coref_identity|coref_full|coref_link
        StructField("kind", StringType(), False),
        StructField("target", ENTITY_REF, False),
        StructField("best_mention", StringType(), False),
        StructField("best_entity", ENTITY_REF, True),  # kind=full
        # ContainerBestMention/ContainmentBestMention provenance
        # (repr/bestmention/ResolvedBestEntityMention.scala:100-121)
        StructField("container_entity", ENTITY_REF, True),  # container|containment
        StructField("contained_entity", ENTITY_REF, True),  # containment only
        StructField("candidate_count", DoubleType(), False),
        StructField("cluster_id", IntegerType(), True),
    ]
)

# bounded conversation-text chunks for the doc-scoped rule regexes
# (operators/bestmention.ChunkedDoc); keep_len = local match starts below
# this belong to the chunk, the tail past it is the next chunk's overlap
DOC_CHUNKS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("chunk_off", LongType(), False),
        StructField("keep_len", LongType(), False),
        StructField("chunk_text", StringType(), False),
    ]
)

TRIPLES = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("sent_num", IntegerType(), False),
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("subj_raw", StringType(), False),
        StructField("obj_raw", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("extractor", StringType(), False),
    ]
)

ENTITY_DICT = StructType(
    [
        StructField("id", StringType(), False),
        StructField("name", StringType(), False),
        StructField("aliases", ArrayType(StringType(), False), False),
        StructField("types", ArrayType(StringType(), False), False),
        StructField("inlinks", DoubleType(), False),
        # lowercase context tokens for doc-similarity scoring (the
        # reference linker's docSimScore against the entity's KB text)
        StructField("context", ArrayType(StringType(), False), True),
    ]
)

GAZETTEER = StructType(
    [
        StructField("name", StringType(), False),
        StructField("typ", StringType(), False),  # CITY|PROVINCE|COUNTRY
        StructField("container_name", StringType(), True),
        StructField("container_typ", StringType(), True),
        StructField("abbrev", StringType(), True),  # state abbreviation, nullable
    ]
)

LINEAGE = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("run_id", StringType(), False),
        StructField("input_fingerprint", StringType(), False),
        StructField("row_count", LongType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)

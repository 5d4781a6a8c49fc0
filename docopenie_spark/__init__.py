"""docopenie_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of knowitall/DocOpenIE
(document-level Open Information Extraction), re-expressed Spark-first.

Pipeline (SURVEY.md §3 EP1 Spark equivalent; wired once in
plans/pipeline._stage_graph):

    transcripts
      → turn assembly (salted two-level prefix sum of char offsets)
      → ONE fused mapInArrow pass per task: sentence segmentation,
        P1 filter, tokenize/POS/chunk, triple extraction (ReVerb/Ollie-
        style verbal + Relnoun-style nominal) and NER spans
      → coreference clustering (SQL windows per conversation, no Python)
      → entity linking (broadcast candidate join + scoring + argmax window)
      → best-mention canonicalization (rule engine: one cogroup of names
        and bounded doc chunks per conversation)
      → coref expansion of links/best-mentions
      → display substitution → final (subj, pred, obj) triples table

Everything is DataFrame-native: built-in pyspark.sql.functions where
expressible, Arrow-batched Python (the fused mapInArrow pass, the
best-mention cogroup, datagen) where not. No per-row Python UDFs, no
RDDs.
"""

__version__ = "0.1.0"

"""kgpipe — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference crawler pipeline
(JJasonSun/crawl-with-neo4j: per-page HTML/regex extraction of Chinese
characters / words / idioms and their synonym / antonym / variant /
radical / pinyin relations, materialized into MySQL + Neo4j) as an
idiomatic Spark batch pipeline:

    corpus(repo, path, commit, lang, content)        # Iceberg-shaped input
      -> vectorized pandas/Arrow parse UDFs          # reference parsers, re-expressed
      -> mention detection + salted broadcast entity linking
      -> alias canonicalization (iterative connected components)
      -> (subj, pred, obj) triples, min-over-struct hash-aggregate dedup
      -> Neo4j-shaped nodes/edges tables, snapshot-committed
      -> per-partition checkpoints + lineage + run metrics

Design notes (scale-first):
  * All hot-path logic is DataFrame/SQL + Arrow-batched pandas UDFs — no
    RDD.map, no row-at-a-time Python UDFs.
  * Dimension joins broadcast; skewed mention keys salted; AQE on.
  * Deterministic 64-bit ids (xxhash64) replace AUTO_INCREMENT so output
    is byte-identical across cluster sizes.
"""

__version__ = "0.1.0"

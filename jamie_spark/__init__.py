"""jamie_spark — a brand-new PySpark-native knowledge-graph construction engine.

Re-expresses the semantics of the JaMIE medical information-extraction stack
(reference: racerandom/JaMIE, surveyed in SURVEY.md) as an idiomatic Spark
DataFrame pipeline over Common-Crawl-style page tables:

    pages(url, warc_ts, html, text, lang)
      -> extract -> normalize -> segment -> tokenize
         -> joint NER/mod/rel tag + BIO decode     [textnorm, tokenizer, infer]
         -> entity linking + canonical ids, probed
            in the same task against one prepared
            dictionary (alias index + union-find
            canonical map from one collect)        [concepts, link]
      -> mentions, triples, canonical triples
         (projections of the flat rows)            [mentions, pipeline]
      -> graph materialization (salted, bucketed)  [graph]
      -> lineage + idempotent resume               [lineage, pipeline]

Everything heavy runs JVM-side (built-in functions) or in a single Arrow-batched
``mapInArrow`` stage (``infer.annotate_pages_flat``), which also resolves each
triple's canonical ids (``link.resolver``); the write path has no other
Python pass, no join and no pin.
"""

__version__ = "0.1.0"

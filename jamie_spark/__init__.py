"""jamie_spark — a brand-new PySpark-native knowledge-graph construction engine.

Re-expresses the semantics of the JaMIE medical information-extraction stack
(reference: racerandom/JaMIE, surveyed in SURVEY.md) as an idiomatic Spark
DataFrame pipeline over Common-Crawl-style page tables:

    pages(url, warc_ts, html, text, lang)
      -> extract -> normalize -> segment -> tokenize
         -> joint NER/mod/rel tag + BIO decode     [textnorm, tokenizer, infer]
      -> mentions + triples (flat rows)            [mentions]
      -> entity linking (alias index from one driver
         dictionary collect, mapInArrow probe)     [link]
      -> canonicalization (union-find, same rows)  [canon]
      -> graph materialization (salted, bucketed)  [graph]
      -> lineage + idempotent resume               [lineage, pipeline]

Everything heavy runs JVM-side (built-in functions) or in a single Arrow-batched
``mapInArrow`` stage (``infer.annotate_pages_flat``); the only other Python pass
is linking's one ``mapInArrow`` over the distinct surfaces
(``link.link_surfaces``), vocabulary-sized rather than corpus-sized.
"""

__version__ = "0.1.0"

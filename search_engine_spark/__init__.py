"""search_engine_spark — a PySpark-native fulltext index + BM25 query engine.

A from-scratch re-expression of the capabilities of nissejokke/search-engine
(reference at /root/reference, TypeScript) as idiomatic Spark DataFrame
programs:

- tokenize → inverted index build (``operators.index_build``)
- conjunctive / phrase top-k queries with reference-parity scoring
  (``operators.search``)
- BM25 + block-max WAND scale path (``operators.bm25``, ``operators.wand``)
- resumable segment-based builds with per-partition lineage + metrics
- in-process serving off the built index, single node or term-range
  fleet (``serving.local``, ``serving.fleet``)
- DuckDB-oracle-checked corpus operators (dedup, similarity search, text
  metrics, …) in ``operators.corpus_queries`` and the ``*_extras``
  modules, assembled into one registry by ``operators.registry``

Design stance: declare logical plans with the DataFrame API and let
Catalyst/Tungsten pick physical strategies; Python appears only behind
Arrow-vectorized pandas UDFs (never per-row Python in a hot path).
"""

__version__ = "0.1.0"

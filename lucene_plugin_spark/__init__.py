"""lucene_plugin_spark — a PySpark-native full-text index build + BM25 query engine.

A brand-new engine with the query/data-processing capabilities of the reference
``baratine/lucene-plugin`` (Lucene 5.2.1 behind a Baratine actor facade; see
``/root/reference``), re-expressed Spark-first:

- documents live in a ``docs(repo, path, commit, lang, content)`` table
  (reference *collection* -> ``repo``, *externalId* -> ``path``);
- the analysis chain (reference ``StandardAnalyzer``, LuceneIndexBean.java:666)
  is a vectorized pandas/Arrow tokenizer with code-aware camelCase/snake_case
  splitting, lowercasing and position-preserving stopword removal;
- the inverted index (reference: Lucene segments, LuceneIndexBean.java:664-691)
  is a pair of tables: flat postings ``(term, field, doc_id, tf, positions)``
  and compressed block segments ``(term, bucket, block_id, doc_gaps, tfs, ...)``
  with delta+varint codecs and block-max sidecars for WAND pruning;
- queries use Lucene classic QueryParser syntax (term / OR / AND / NOT /
  phrase / range / field:term) and return top-k BM25 (k1=1.2, b=0.75) scored
  hits, score desc / doc_id asc, exactly like the reference's
  ``search(collection, query, limit)`` (LuceneFacadeImpl.java:83-94).

Storage is a lightweight snapshot-committed parquet table format
(``storage/catalog.py``) standing in for Iceberg (no Iceberg runtime in this
environment); the commit/snapshot-pinning semantics map 1:1 to Iceberg.
"""

__version__ = "0.1.0"

from lucene_plugin_spark import pyworker  # noqa: E402
from lucene_plugin_spark.api import LuceneEntry, LuceneException, LuceneFacade  # noqa: E402,F401

pyworker.install()  # every kernel's worker imports this package

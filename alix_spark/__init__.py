"""alix_spark — a PySpark-native full-text indexing + BM25 query engine.

A from-scratch rebuild of the capabilities of oeuvres/Alix (a Java/Lucene
library for indexing and analyzing text corpora — see SURVEY.md) as an
idiomatic Spark engine:

* the inverted index is a set of DataFrames / parquet tables
  (``postings``, ``forms``, ``doc_lens``, ``rails``), not an opaque binary
  directory;
* analysis (tokenize / lemmatize / compound) is an Arrow-vectorized kernel
  with broadcast dictionaries, never per-row Python;
* ranked retrieval is BM25 over posting joins, and a per-segment
  vectorized kernel over compressed segments;
* statistics (term freq lists, facet aggregations, chronologies, windowed
  co-occurrences with mutual-information scoring) are DataFrame plans that
  Catalyst optimizes.

Nothing in this package is a translation of the reference's Java classes;
citations of the form ``file:line`` in docstrings point at the behaviour in
``/root/reference`` that a given function reproduces.
"""

__version__ = "0.1.0"

from alix_spark.session import get_spark  # noqa: F401
from alix_spark.corpus import Corpus  # noqa: F401

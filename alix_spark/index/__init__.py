"""Inverted-index construction: postings, vocabulary, doc lengths, rails.

The index is a set of DataFrames / parquet tables, not an opaque binary
directory. Uncompressed postings (``build``) drive the DataFrame query
paths; compressed block segments (``codec`` / ``segments``) drive the
per-segment query kernel and the tree-structured merge that mirrors
Lucene's segment merging (``/root/reference/java/alix/lucene/XMLIndexer.java:334-335``).
"""

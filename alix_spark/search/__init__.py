"""Query engine: parser, boolean retrieval, BM25 ranking, segment kernel."""

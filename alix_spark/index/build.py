"""Core index tables from a token stream.

Reference semantics being reproduced (see SURVEY.md §1.4):

* ``postings``  — per (term, doc): tf + sorted positions. Lucene's
  ``DOCS_AND_FREQS_AND_POSITIONS`` postings
  (``/root/reference/java/alix/lucene/Alix.java:154-165``).
* ``forms``     — the vocabulary with corpus tf (``occs``) and df
  (``docs``), plus a dense ``form_id`` assigned in descending corpus
  frequency order, ties broken by form ascending
  (``/root/reference/java/alix/lucene/search/FieldText.java:109-116,195``;
  tie rule divergence documented in SURVEY.md §7.4.5).
* ``doc_lens``  — tokens per doc (``FieldText.java:130,180`` ``docOccs``).

Scale notes:

* ``postings`` groups by (term, doc_id) — the key includes doc_id, so the
  Zipf skew of hot terms is spread over all their documents; no salting
  needed here. Map-side partial aggregation collapses the exploded token
  stream before the shuffle.
* ``forms`` groups by term alone; partial aggregation makes the hot-term
  reduction cheap (one partial row per map task).
* the ``form_id`` ranking is a global sort. At 100 TB the vocabulary is
  ~10^8-10^9 forms — several orders smaller than the corpus. We rank with a
  range-partitioned sort + per-partition offsets (no single-partition
  window), so the rank step scales with the vocabulary, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_postings(tokens: DataFrame) -> DataFrame:
    """(doc_id, pos, term) → (term, doc_id, tf, positions:array<int>)."""
    return tokens.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
    )


def reject_null_ids(ids, col: str) -> None:
    """Raise a ValueError naming ``col`` if a batch of document ids (a
    pandas Series) holds a null: a posting or a segment needs its doc id,
    and ``int()`` of the null (NaN in the Arrow batch) would fail deep in
    the kernel without naming the column or the cause."""
    if ids.isna().any():
        raise ValueError(
            f"null document id in column {col!r}: every document needs "
            "an id before it is indexed"
        )


def build_postings_from_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """docs → postings (term, doc_id, tf, positions) with NO shuffle.

    Row-identical to ``build_postings(simple.tokenize(docs))`` (pytest
    cross-check in tests/test_mapside_build.py), but a posting row depends
    only on its own document, so the ``(term, doc_id)`` Exchange of the
    token-stream path is pure overhead (guide §2.4): this kernel
    tokenizes each Arrow batch of raw documents and emits the finished
    posting rows map-side. The whole-corpus shuffle that was ~4× the
    corpus bytes (one ~25-byte row per token occurrence) disappears from
    the plan — the scan feeds the kernel feeds the sink.

    Simple analysis chain only (:func:`simple.tokenize_batch` IS the
    chain); the French kernel keeps its own pipeline.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from alix_spark.analysis.simple import tokenize_batch

    # nullability mirrors the groupBy path exactly (schema parity is
    # part of row-identity: the oracle compares schemas)
    schema = StructType(
        [
            StructField("term", StringType(), False),
            StructField("doc_id", LongType(), True),
            StructField("tf", IntegerType(), False),
            StructField("positions", ArrayType(IntegerType(), False), False),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            reject_null_ids(pdf["doc_id"], id_col)
            d, terms, p = tokenize_batch(pdf["doc_id"], pdf["_text"])
            if d.size == 0:
                continue
            codes, uniques = pd.factorize(terms, sort=False)
            # group by (doc, term-code); positions sort last so each
            # run's occurrences come out ascending
            order = np.lexsort((p, codes, d))
            c = codes[order]
            dd = d[order]
            is_new = np.empty(c.size, dtype=bool)
            is_new[0] = True
            is_new[1:] = (c[1:] != c[:-1]) | (dd[1:] != dd[:-1])
            starts = np.flatnonzero(is_new)
            yield pd.DataFrame(
                {
                    "term": uniques[c[starts]],
                    "doc_id": dd[starts],
                    "tf": np.diff(np.append(starts, c.size)).astype(np.int32),
                    "positions": np.split(p[order].astype(np.int32), starts[1:]),
                }
            )

    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    )
    return d.mapInPandas(kernel, schema)


def build_doc_lens(tokens: DataFrame) -> DataFrame:
    """(doc_id, pos, term) → (doc_id, dl)."""
    return tokens.groupBy("doc_id").agg(F.count(F.lit(1)).cast("int").alias("dl"))


def build_doc_lens_from_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """docs → (doc_id, dl) with NO shuffle and NO Python: dl is just the
    size of the simple chain's token array, a whole-stage-codegen map
    over the document table (guide §2.4 — the groupBy of
    :func:`build_doc_lens` re-aggregated what each row already knows).
    Docs with zero tokens are omitted, matching the token-stream path.
    """
    from alix_spark.analysis.simple import tokens_array

    # coalesce('' for null text) keeps the dl column non-nullable, so
    # the schema matches the groupBy path's count() exactly; null-text
    # docs have dl 0 and drop out either way
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens_array(F.coalesce(F.col(text_col), F.lit(""))))
            .cast("int")
            .alias("dl"),
        )
        .filter(F.col("dl") > 0)
    )


def build_doc_lens_from_postings(postings: DataFrame) -> DataFrame:
    """postings → (doc_id, dl). Row-identical to
    :func:`build_doc_lens` (dl = Σ tf), but derived from the (much
    smaller, already-materialized) postings table — a build pipeline
    that has written postings never needs a second tokenize+shuffle
    pass over the corpus for doc lengths."""
    return postings.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("dl")
    )


def build_forms(postings: DataFrame) -> DataFrame:
    """postings → (form_id, term, occs, docs).

    ``occs`` = corpus term frequency, ``docs`` = document frequency.
    ``form_id`` is dense, 1-based, descending-frequency ordered — formId 0
    is reserved for the punctuation/hole pseudo-form exactly as in the
    reference (``FieldText.java:191``).
    """
    stats = postings.groupBy("term").agg(
        F.sum("tf").cast("long").alias("occs"),
        F.count(F.lit(1)).cast("long").alias("docs"),
    )
    return rank_forms(stats)


FORMS_SCHEMA = "form_id long, term string, occs long, docs long"


def rank_forms(stats: DataFrame) -> DataFrame:
    """Assign dense freq-ordered 1-based form ids (formId 0 is reserved
    for the punctuation/hole pseudo-form) without a single-partition
    window — see :func:`alix_spark.ingest.scalable_row_number`."""
    from pyspark import StorageLevel

    from alix_spark.ingest import scalable_row_number, scoped_persist

    # cache the (vocabulary-sized) stats: the range partitioner's
    # sampling pass and the exchange map stage otherwise each
    # re-evaluate the upstream postings aggregation. A build stage
    # unpersists it once its write has committed.
    stats = scoped_persist(stats, StorageLevel.MEMORY_AND_DISK_DESER)
    return scalable_row_number(
        stats, [F.desc("occs"), F.asc("term")], "form_id", start=1
    ).select("form_id", "term", "occs", "docs")


def corpus_totals(forms: DataFrame) -> tuple[int, int]:
    """(all_occs, n_forms) — ``FieldText.java:87-90,232-233``."""
    row = forms.agg(
        F.sum("occs").alias("occs"), F.count(F.lit(1)).alias("forms")
    ).collect()[0]
    return int(row["occs"] or 0), int(row["forms"])

"""Simple tokenizer: lowercase, split on non-alphanumerics — all JVM-side.

This is the analysis chain for source-code / plain-text corpora and the
reference point for every DuckDB oracle. It deliberately lives entirely in
Spark SQL expressions (``lower`` / ``split`` / ``filter`` / ``posexplode``)
so tokenization participates in whole-stage codegen: no Python is involved,
and Catalyst can pushdown/prune around it.

Equivalent DuckDB SQL (used by the oracles)::

    SELECT doc_id, u.term, u.pos - 1 AS pos
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
          FROM documents),
         LATERAL (SELECT unnest(toks) AS term,
                         generate_subscripts(toks, 1) AS pos) u

The Arrow kernels that tokenize inside a batch (map-side postings, the
segment builder, offsets, dedup) use the chain's Python twin
:data:`TOKEN_RE`, through :func:`split_text` per text and
:func:`tokenize_batch` per batch, and give the same tokens.

Alix analogue: the tokenizer contract of
``/root/reference/java/alix/lucene/analysis/FrTokenizer.java`` (emit terms
with sequential positions); the French-specific rules live in
:mod:`alix_spark.analysis.french` instead.
"""

from __future__ import annotations

import re
from itertools import chain

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# the Python twin of TOKEN_SPLIT_RE: the tokens are the maximal runs
# that the split leaves
TOKEN_RE = re.compile("[a-z0-9]+")


def tokens_array(text: Column) -> Column:
    """Array of tokens for one text column, empty strings removed.

    Positions are the indexes in this array — i.e. the token sequence, the
    same semantics as Alix's rail (token-at-position) model
    (``FieldRail.java:80-88``), with no punctuation holes in the simple
    chain.
    """
    return F.filter(F.split(F.lower(text), TOKEN_SPLIT_RE), lambda x: x != "")


def split_text(text: str | None) -> list[str]:
    """One text's tokens in order, the Python twin of
    :func:`tokens_array` (a null text has none)."""
    return TOKEN_RE.findall((text or "").lower())


def _occurrences(
    doc_ids, per_doc: list[list]
) -> tuple[np.ndarray, list, np.ndarray]:
    """Per-document lists → occurrence-aligned ``(doc_ids, items,
    positions)``: each item beside its document's id and its index in
    that document's list."""
    counts = np.fromiter(map(len, per_doc), dtype=np.int64, count=len(per_doc))
    ids = np.repeat(np.asarray(doc_ids, dtype=np.int64), counts)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    return ids, list(chain.from_iterable(per_doc)), np.arange(ids.size) - starts


def tokenize_batch(doc_ids, texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A batch of documents (ids and texts, e.g. the columns of one
    Arrow batch) → occurrence-aligned ``(doc_ids, terms, positions)``
    arrays: the rows :func:`tokenize` gives for those documents, in
    document order. Callers reject null ids first."""
    ids, terms, pos = _occurrences(doc_ids, [split_text(t) for t in texts])
    return ids, np.array(terms, dtype=object), pos


def token_offsets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """docs → offsets table ``(doc_id, pos, start, end, term)``.

    The simple chain's analogue of the reference's term vectors with
    positions AND offsets (``/root/reference/java/alix/lucene/
    Alix.java:154-165``): persisted once at build time so render
    operators (KWIC / hilite / paint) read char offsets from the index
    instead of re-tokenizing the corpus per request. Token stream is
    row-identical to :func:`tokenize` (:data:`TOKEN_RE` on the lowered
    text); one Arrow kernel, map-only, no shuffle.
    """
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from alix_spark.index.build import reject_null_ids

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pos", IntegerType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("term", StringType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            reject_null_ids(pdf["doc_id"], id_col)
            ids, matches, pos = _occurrences(
                pdf["doc_id"],
                [list(TOKEN_RE.finditer((t or "").lower())) for t in pdf["text"]],
            )
            if ids.size == 0:
                continue
            spans = np.array([m.span() for m in matches], dtype=np.int32)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "pos": pos.astype(np.int32),
                    "start": spans[:, 0],
                    "end": spans[:, 1],
                    "term": np.array([m.group() for m in matches], dtype=object),
                }
            )

    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return d.mapInPandas(kernel, schema)


def tokenize(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """docs → token table ``(doc_id, pos, term)``.

    One output row per token occurrence. This is the exploded form every
    index table derives from; it is never materialized at full corpus scale
    (the builders aggregate it immediately, letting map-side partial
    aggregation collapse it before any shuffle).
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_array(F.col(text_col))).alias("pos", "term"),
    ).select("doc_id", "pos", "term")

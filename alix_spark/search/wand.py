"""Per-segment top-k kernels over compressed posting segments.

The reference gets ranked retrieval from Lucene 8's ``IndexSearcher`` +
BM25 (``alix/lucene/Alix.java:232,341-343`` in the reference), which
runs every query inside each segment, against that segment's postings
and norms. Spark has no analogue, so this module runs one numpy kernel
per segment, with one physical plan for every query shape:

* query terms' block rows are pruned by (bucket, term) — at rest this is
  file/row-group pruning on the partitioned segment table;
* segments are doc-id ranges, so every query term's postings for a given
  doc range are co-located in one group: a cogrouped ``applyInPandas``
  over (postings-by-seg, norms-by-seg) runs the kernel per segment and
  emits its local top-k;
* global top-k = ``orderBy(score desc, doc_id asc).limit(k)`` — Spark's
  ``TakeOrderedAndProject``.

One kernel plugs into that plan, :func:`boolean_topk`, for every query
shape: pure OR (SHOULD), MUST / SHOULD-under-MUST / MUST_NOT and
pure-negative (Lucene ``BooleanQuery``, ``Alix.java:714-754``). It is
exhaustive: decode each clause term once, mask the segment's docs to
the boolean match set (:func:`boolean_mask`), score the survivors
(:func:`score_segment_vectorized`). ``k=None`` returns the whole match
set (``IndexReader.boolean_docs``). :func:`wand_topk_batch` answers
many OR queries in one pass with the same decode and scorer.

Scoring matches the Lucene-faithful mode of :mod:`alix_spark.search.bm25`
(quantized norms, float32 per-clause scores, corpus-wide idf) so every
kernel is rank-identical to both the DataFrame path and the Lucene
reference.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from alix_spark.index import codec
from alix_spark.index import segments as seg_mod
from alix_spark.index.xxhash import term_bucket
from alix_spark.search.bm25 import B, K1

TOPK_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)


# the columns the decoder reads — selecting them before the cogroup
# keeps the positions and the block metadata out of the Arrow transfer
# and the shuffle
_SCORING_COLS = [
    "seg_id", "term", "block_id", "n", "doc_gaps", "tfs",
]


def _fresh_norms(norms: DataFrame) -> DataFrame:
    """Alias every norm column to a fresh name before cogrouping with the
    segments: when both tables derive from the same parent plan (e.g. the
    single-pass build or an incremental update), the cogroup's attribute
    dedup silently drops right-side columns whose expression ids also
    appear on the left."""
    return norms.select(
        F.col("seg_id").alias("_nseg"),
        F.col("first_doc").alias("_first_doc"),
        F.col("norm_bytes").alias("_norm_bytes"),
    )


def _idfs(terms: list[str], dfs: dict[str, int], n_docs: int) -> dict[str, float]:
    """Lucene BM25 idf of each term, from CORPUS-wide doc freqs (the forms
    table), so idf never narrows with a boolean restriction."""
    return {
        t: float(np.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
        for t in sorted(set(terms))
        if t in dfs
    }


def _frame(schema: StructType, cols) -> pd.DataFrame:
    """Kernel output (a dict of columns or a list of row tuples) → a pandas
    frame typed as ``schema``, whose columns are all long or double —
    also when it is empty."""
    return pd.DataFrame(cols, columns=schema.fieldNames()).astype(
        {
            f.name: "int64" if isinstance(f.dataType, LongType) else "float64"
            for f in schema.fields
        }
    )


def _per_segment(
    segments: DataFrame,
    norms: DataFrame,
    terms: list[str],
    n_buckets: int,
    run_seg,
    schema: StructType,
    every_segment: bool = False,
) -> DataFrame:
    """``run_seg(blocks, first_doc, norm_bytes)`` once per segment, over
    that segment's block rows of ``terms`` and its norm row → the
    concatenated local results.

    The bucket filter prunes files/row-groups of the partitioned segment
    table before the term filter touches rows; term_bucket is Spark's
    pmod(xxhash64(term), n) in pure Python, so planning runs no job.
    Segments are doc-id ranges, so the cogroup by seg_id co-locates every
    query term's postings of a doc range with the norms of that range.
    A segment holding none of ``terms`` yields nothing unless
    ``every_segment`` (the pure-negative kernel matches its docs: it gets
    an empty ``blocks``); one without a norm row has no documents."""
    uniq = sorted(set(terms))
    buckets = sorted({term_bucket(t, n_buckets) for t in uniq})
    pruned = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(uniq)
    ).select(*_SCORING_COLS)  # drop positions: dead weight for scoring

    def kernel(key, blocks: pd.DataFrame, pnorms: pd.DataFrame) -> pd.DataFrame:
        if pnorms.empty or (blocks.empty and not every_segment):
            return _frame(schema, [])
        norm_bytes = np.frombuffer(pnorms["_norm_bytes"].iloc[0], dtype=np.uint8)
        return run_seg(blocks, int(pnorms["_first_doc"].iloc[0]), norm_bytes)

    return (
        pruned.groupby("seg_id")
        .cogroup(_fresh_norms(norms).groupby("_nseg"))
        .applyInPandas(kernel, schema)
    )


def _global_topk(local: DataFrame, k: int) -> DataFrame:
    # Spark's TakeOrderedAndProject; doc_id asc is Lucene's tie-break
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def decode_clauses(
    blocks: pd.DataFrame,
    first: int,
    dl: np.ndarray,
    idfs: dict[str, float],
    avgdl: float,
) -> dict[str, tuple[np.ndarray, np.ndarray | None]]:
    """Decode each term's block rows of one segment ONCE →
    {term: (segment-local doc indexes, clause scores)}.

    The clause score is Lucene's per-clause BM25, float64(float32(idf·w))
    with the quantized doc length; query weights (repeated terms) apply
    after the float32 rounding, at accumulation. A term without an idf
    (an exclusion only) gets ``None``: only its doc set is used."""
    out: dict[str, tuple[np.ndarray, np.ndarray | None]] = {}
    if blocks.empty:
        return out
    dl_f = dl.astype(np.float64)
    for t, rows in blocks.groupby("term", sort=False):
        ids, tfs = seg_mod.decode_blocks(rows)
        docs = ids.astype(np.int64) - first
        clause = None
        if t in idfs:
            tf = tfs.astype(np.float64)
            w = tf / (tf + K1 * (1.0 - B + B * dl_f[docs] / avgdl))
            clause = (idfs[t] * w).astype(np.float32).astype(np.float64)
        out[t] = (docs, clause)
    return out


def score_segment_vectorized(
    clauses: dict[str, tuple[np.ndarray, np.ndarray | None]],
    weights: dict[str, float],
    n_docs: int,
    k: int | None,
    candidates: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exhaustive vectorized BM25 scoring of one segment → (segment-local
    doc indexes, scores) of its top-k, score desc then doc asc.

    numpy end-to-end: scatter-add every weighted clause score of
    :func:`decode_clauses` into a dense per-segment accumulator, then
    sort. The docs ranked are ``candidates`` (a bool mask over the
    segment's ``n_docs`` docs) when given, else every doc a clause
    touched. ``k=None`` keeps them all. Float behavior is Lucene's:
    clause = float64(float32(idf * w)), summed in float64.
    """
    acc = np.zeros(n_docs, dtype=np.float64)
    touched = np.zeros(n_docs, dtype=bool)
    for t, weight in weights.items():
        docs, clause = clauses.get(t, (None, None))
        if clause is None:
            continue
        np.add.at(acc, docs, clause * weight)
        touched[docs] = True
    idx = np.flatnonzero(touched if candidates is None else candidates)
    scores = acc[idx]
    # full lexsort (score desc, doc asc) keeps boundary ties deterministic
    # — Lucene's tie-break is ascending docid; idx.size <= seg_size so the
    # sort is cheap
    order = np.lexsort((idx, -scores))[:k]
    return idx[order], scores[order]


def boolean_mask(
    clauses: dict[str, tuple[np.ndarray, np.ndarray | None]],
    must: list[str],
    should: list[str],
    must_not: list[str],
    norm_bytes: np.ndarray,
) -> np.ndarray:
    """A BooleanQuery's match set in one segment, as a bool mask over the
    segment's docs (``Alix.java:714-754``): the intersection of the MUST
    doc sets; with no MUST clause, the union of the SHOULD doc sets
    (SHOULD under MUST only scores); with no positive clause, every doc
    with a token (norm byte nonzero — ``MatchAllDocsQuery``); in every
    case minus the MUST_NOT doc sets. A clause term absent from the
    segment has an empty doc set."""

    def doc_set(t: str) -> np.ndarray:
        m = np.zeros(norm_bytes.size, dtype=bool)
        if t in clauses:
            m[clauses[t][0]] = True
        return m

    if must:
        mask = np.logical_and.reduce([doc_set(t) for t in set(must)])
    elif should:
        mask = np.logical_or.reduce([doc_set(t) for t in set(should)])
    else:
        mask = norm_bytes != 0
    for t in set(must_not):
        if t in clauses:
            mask[clauses[t][0]] = False
    return mask


def boolean_topk(
    segments: DataFrame,
    norms: DataFrame,
    must: list[str],
    should: list[str],
    must_not: list[str],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int | None = 10,
    n_buckets: int = seg_mod.DEFAULT_BUCKETS,
) -> DataFrame:
    """Distributed BooleanQuery → (doc_id, score) global top-k.

    One cogroup of the (bucket, term)-pruned block rows with the norms;
    per segment the kernel decodes each clause term once, builds the
    match set with :func:`boolean_mask`, and ranks it with
    :func:`score_segment_vectorized`. A pure OR query is ``must=[]``,
    ``must_not=[]``. Every positive clause scores
    (``Counter`` weights for repeated terms), with corpus-wide idf from
    ``dfs``; a pure-negative query scores 0 and ranks by doc id.
    ``k=None`` returns every matching doc, unordered (the match set).
    """
    positive = must + should
    weights = dict(Counter(positive))
    idfs = _idfs(positive, dfs, n_docs)

    def run_seg(blocks: pd.DataFrame, first: int, norm_bytes: np.ndarray):
        clauses = decode_clauses(
            blocks, first, codec.byte4_to_int(norm_bytes), idfs, avgdl
        )
        mask = boolean_mask(clauses, must, should, must_not, norm_bytes)
        docs, scores = score_segment_vectorized(
            clauses, weights, norm_bytes.size, k, mask
        )
        return _frame(TOPK_SCHEMA, {"doc_id": docs + first, "score": scores})

    local = _per_segment(
        segments,
        norms,
        positive + must_not,
        n_buckets,
        run_seg,
        TOPK_SCHEMA,
        every_segment=not positive,
    )
    return local if k is None else _global_topk(local, k)


BATCH_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)


def wand_topk_batch(
    segments: DataFrame,
    norms: DataFrame,
    queries: dict[int, list[str]],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    n_buckets: int = seg_mod.DEFAULT_BUCKETS,
) -> DataFrame:
    """Batched top-k: every query of the set is answered in ONE
    cogrouped pass over the segments → (qid, doc_id, score, rank).

    This is the throughput path: stage setup, segment shuffle, and norm
    decode are paid once for the whole batch instead of per query.
    """
    all_terms = sorted({t for ts in queries.values() for t in ts})
    idfs = _idfs(all_terms, dfs, n_docs)
    weights_by_q = {qid: dict(Counter(ts)) for qid, ts in queries.items()}

    def run_seg(blocks: pd.DataFrame, first: int, norm_bytes: np.ndarray):
        # each term is decoded and scored ONCE for the whole batch — terms
        # shared across queries would otherwise be decoded per query
        clauses = decode_clauses(
            blocks, first, codec.byte4_to_int(norm_bytes), idfs, avgdl
        )
        out = []
        for qid, weights in weights_by_q.items():
            docs, scores = score_segment_vectorized(
                clauses, weights, norm_bytes.size, k
            )
            out.extend(
                (qid, int(d) + first, float(s)) for d, s in zip(docs, scores)
            )
        return _frame(BATCH_SCHEMA, out)

    local = _per_segment(
        segments, norms, all_terms, n_buckets, run_seg, BATCH_SCHEMA
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select("qid", "doc_id", "score", F.col("_rank").alias("rank"))
    )

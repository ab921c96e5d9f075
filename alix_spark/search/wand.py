"""Block-max WAND top-k over compressed posting segments.

The reference gets this from Lucene 8's ``IndexSearcher`` + BM25
(``/root/reference/java/alix/lucene/Alix.java:232,341-343``; block-max
WAND is the Lucene 8 top-k scorer). Spark has no analogue, so this module
implements it as a numpy kernel applied per segment:

* query terms' block rows are pruned by (bucket, term) — at rest this is
  file/row-group pruning on the partitioned segment table;
* segments are doc-id ranges, so every query term's postings for a given
  doc range are co-located in one group: a cogrouped ``applyInPandas``
  over (postings-by-seg, norms-by-seg) runs an independent WAND per
  segment and emits its local top-k;
* global top-k = ``orderBy(score desc, doc_id asc).limit(k)`` — Spark's
  ``TakeOrderedAndProject``.

Scoring matches the Lucene-faithful mode of :mod:`alix_spark.search.bm25`
(quantized norms, float32 per-clause scores) so WAND results are
rank-identical to both the DataFrame path and the Lucene reference.

The WAND loop itself uses the standard block-max refinement: maintain a
threshold = k-th best score; order terms by current doc; pick the pivot
term where the cumulative idf*block_max_w upper bound crosses the
threshold; if even the block-level bound can't beat the threshold, skip
whole blocks.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from alix_spark.index import codec
from alix_spark.index.xxhash import term_bucket
from alix_spark.search.bm25 import B, K1

TOPK_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("score", DoubleType())]
)


# upper bounds are computed in double while actual clause scores round
# through float32 — inflate bounds slightly so rounding can never cause a
# wrongly-skipped document
_BOUND_SLACK = 1.0 + 1e-6


class _TermCursor:
    """Decoded block-at-a-time cursor over one term's blocks in a segment."""

    __slots__ = (
        "idf", "blocks", "bi", "pi", "doc_ids", "tfs", "exhausted",
        "weight", "avgdl", "_bounds", "_suffix_max",
    )

    def __init__(
        self,
        idf: float,
        blocks: pd.DataFrame,
        weight: float = 1.0,
        avgdl: float = 1.0,
    ):
        self.idf = idf
        self.weight = weight
        self.avgdl = avgdl
        self.blocks = blocks.sort_values("block_id").reset_index(drop=True)
        # per-block impact bound derived from (max_tf, min_dl): tf_w is
        # increasing in tf, decreasing in dl, so this dominates every
        # posting in the block
        from alix_spark.index.segments import tf_weight

        mt = self.blocks["max_tf"].to_numpy()
        md = self.blocks["min_dl"].to_numpy()
        self._bounds = tf_weight(mt, md, avgdl)
        # suffix maxima: bound over ALL remaining blocks in O(1)
        self._suffix_max = np.maximum.accumulate(self._bounds[::-1])[::-1]
        self.bi = -1
        self.exhausted = False
        self._next_block()

    def _next_block(self):
        self.bi += 1
        if self.bi >= len(self.blocks):
            self.exhausted = True
            self.doc_ids = np.array([], dtype=np.int64)
            return
        r = self.blocks.iloc[self.bi]
        self.doc_ids = codec.delta_decode(
            codec.varbyte_decode(r["doc_gaps"], r["n"])
        ).astype(np.int64)
        self.tfs = codec.varbyte_decode(r["tfs"], r["n"]).astype(np.int64)
        self.pi = 0

    @property
    def doc(self) -> int:
        if self.exhausted:
            return 1 << 62
        return int(self.doc_ids[self.pi])

    @property
    def block_max_contrib(self) -> float:
        if self.exhausted:
            return 0.0
        return self.weight * self.idf * float(self._bounds[self.bi]) * _BOUND_SLACK

    @property
    def max_contrib(self) -> float:
        """Upper bound over ALL remaining blocks (term-level WAND bound)."""
        if self.exhausted:
            return 0.0
        return (
            self.weight * self.idf * float(self._suffix_max[self.bi]) * _BOUND_SLACK
        )

    def advance(self, target: int):
        """Move to the first posting with doc >= target (block skipping)."""
        while not self.exhausted and int(
            self.blocks.iloc[self.bi]["last_doc"]
        ) < target:
            self._next_block()
        if self.exhausted:
            return
        idx = np.searchsorted(self.doc_ids[self.pi :], target, side="left")
        self.pi += int(idx)
        if self.pi >= self.doc_ids.size:
            self._next_block()
            if not self.exhausted:
                self.advance(target)

    def score_current(self, dl_q: int, avgdl: float) -> float:
        tf = float(self.tfs[self.pi])
        w = tf / (tf + K1 * (1.0 - B + B * dl_q / avgdl))
        # float32 per-clause, as Lucene
        return self.weight * float(np.float32(self.idf * w))

    def next_doc(self):
        self.pi += 1
        if self.pi >= self.doc_ids.size:
            self._next_block()


def wand_segment_topk(
    term_blocks: dict[str, pd.DataFrame],
    idfs: dict[str, float],
    weights: dict[str, float],
    norm_first: int,
    norm_dl: np.ndarray,
    avgdl: float,
    k: int,
) -> list[tuple[int, float]]:
    """Block-max WAND over one segment → local top-k [(doc, score)]."""
    cursors = [
        _TermCursor(idfs[t], blocks, weights.get(t, 1.0), avgdl)
        for t, blocks in term_blocks.items()
        if not blocks.empty and t in idfs
    ]
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of top-k
    threshold = -1.0
    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.doc)
        # find pivot: smallest prefix whose max contributions can beat
        # the threshold
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(cursors):
            acc += c.max_contrib
            if acc > threshold:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # nothing can beat the threshold
        pivot_doc = cursors[pivot_idx].doc
        if cursors[0].doc == pivot_doc:
            # all cursors up to pivot are on pivot_doc: check block-max
            block_bound = sum(
                c.block_max_contrib for c in cursors if c.doc == pivot_doc
            )
            if block_bound <= threshold:
                # block-level bound can't beat threshold: advance past doc
                for c in cursors:
                    if c.doc == pivot_doc:
                        c.next_doc()
                continue
            dl_q = int(norm_dl[pivot_doc - norm_first])
            score = 0.0
            for c in cursors:
                if c.doc == pivot_doc:
                    score += c.score_current(dl_q, avgdl)
                    c.next_doc()
            if len(heap) < k:
                heapq.heappush(heap, (score, -pivot_doc))
                if len(heap) == k:
                    threshold = heap[0][0]
            elif (score, -pivot_doc) > heap[0]:
                heapq.heapreplace(heap, (score, -pivot_doc))
                threshold = heap[0][0]
        else:
            # advance cursors before the pivot up to the pivot doc
            for c in cursors[:pivot_idx]:
                c.advance(pivot_doc)
    out = sorted(heap, key=lambda x: (-x[0], -x[1]))
    return [(-d, s) for s, d in out]


# the columns the scorers actually decode — selecting them before the
# cogroup keeps the (large binary) position payloads out of the Arrow
# transfer and the shuffle
_SCORING_COLS = [
    "seg_id", "term", "block_id", "n", "doc_gaps", "tfs",
    "first_doc", "last_doc", "max_tf", "min_dl",
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


def wand_topk(
    segments: DataFrame,
    norms: DataFrame,
    terms: list[str],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    n_buckets: int = 32,
) -> DataFrame:
    """Distributed block-max WAND → (doc_id, score) global top-k.

    ``segments``/``norms`` are the tables from
    :mod:`alix_spark.index.segments`; ``dfs`` are CORPUS-wide doc freqs
    (from the forms table) so idf matches the DataFrame path.
    """
    from collections import Counter

    uniq = sorted(set(terms))
    weights = dict(Counter(terms))
    idfs = {
        t: float(np.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
        for t in uniq
        if t in dfs
    }
    # the bucket filter prunes files/row-groups of the partitioned segment
    # table before the term filter touches rows; term_bucket is Spark's
    # pmod(xxhash64(term), n) in pure Python, so planning runs no job
    buckets = sorted({term_bucket(t, n_buckets) for t in uniq})
    pruned = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(uniq)
    ).select(*_SCORING_COLS)  # drop positions: dead weight for scoring

    def run_seg(key, pblocks: pd.DataFrame, pnorms: pd.DataFrame) -> pd.DataFrame:
        if pblocks.empty or pnorms.empty:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
        first = int(pnorms["_first_doc"].iloc[0])
        dl = codec.byte4_to_int(
            np.frombuffer(pnorms["_norm_bytes"].iloc[0], dtype=np.uint8)
        )
        term_blocks = {t: g for t, g in pblocks.groupby("term", sort=False)}
        top = wand_segment_topk(
            term_blocks, idfs, weights, first, dl, avgdl, k
        )
        return pd.DataFrame(top, columns=["doc_id", "score"])

    local = (
        pruned.groupby("seg_id")
        .cogroup(_fresh_norms(norms).groupby("_nseg"))
        .applyInPandas(run_seg, TOPK_SCHEMA)
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def score_segment_vectorized(
    term_blocks: dict[str, pd.DataFrame],
    idfs: dict[str, float],
    weights: dict[str, float],
    norm_first: int,
    norm_dl: np.ndarray,
    avgdl: float,
    k: int,
) -> list[tuple[int, float]]:
    """Exhaustive vectorized BM25 scoring of one segment → local top-k.

    numpy end-to-end: decode each query term's blocks once, compute the
    float32 clause scores for ALL its postings in one shot, scatter-add
    into a dense per-segment accumulator, argpartition the top-k. For
    Zipf-head query terms (where WAND's threshold can't prune much) this
    is ~100× the Python-loop WAND; `wand_segment_topk` remains the
    selective-query path and the semantics reference.

    Reproduces the same float behavior as the cursor path: clause =
    float64(float32(idf * w)), summed in float64.
    """
    acc = np.zeros(norm_dl.size, dtype=np.float64)
    dl_f = norm_dl.astype(np.float64)
    touched = np.zeros(norm_dl.size, dtype=bool)
    for t, blocks in term_blocks.items():
        if t not in idfs or blocks.empty:
            continue
        doc_parts, tf_parts = [], []
        for r in blocks.sort_values("block_id").itertuples(index=False):
            doc_parts.append(
                codec.delta_decode(codec.varbyte_decode(r.doc_gaps, r.n))
            )
            tf_parts.append(codec.varbyte_decode(r.tfs, r.n))
        docs = np.concatenate(doc_parts).astype(np.int64) - norm_first
        tfs = np.concatenate(tf_parts).astype(np.float64)
        w = tfs / (tfs + K1 * (1.0 - B + B * dl_f[docs] / avgdl))
        clause = (idfs[t] * w).astype(np.float32).astype(np.float64)
        clause *= weights.get(t, 1.0)
        np.add.at(acc, docs, clause)
        touched[docs] = True
    idx = np.flatnonzero(touched)
    if idx.size == 0:
        return []
    scores = acc[idx]
    # full lexsort (score desc, doc asc) keeps boundary ties deterministic
    # — Lucene's tie-break is ascending docid; idx.size <= seg_size so the
    # sort is cheap
    order = np.lexsort((idx, -scores))[:k]
    return [(int(idx[i] + norm_first), float(scores[i])) for i in order]


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
    n_buckets: int = 32,
) -> DataFrame:
    """Batched block-max WAND: every query of the set is answered in ONE
    cogrouped pass over the segments → (qid, doc_id, score).

    This is the throughput path: stage setup, segment shuffle, and norm
    decode are paid once for the whole batch instead of per query.
    """
    from collections import Counter

    all_terms = sorted({t for ts in queries.values() for t in ts})
    idfs = {
        t: float(np.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
        for t in all_terms
        if t in dfs
    }
    weights_by_q = {qid: dict(Counter(ts)) for qid, ts in queries.items()}
    buckets = sorted({term_bucket(t, n_buckets) for t in all_terms})
    pruned = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
    ).select(*_SCORING_COLS)

    def run_seg(key, pblocks: pd.DataFrame, pnorms: pd.DataFrame) -> pd.DataFrame:
        if pblocks.empty or pnorms.empty:
            return pd.DataFrame({"qid": [], "doc_id": [], "score": []}).astype(
                {"qid": "int64", "doc_id": "int64", "score": "float64"}
            )
        first = int(pnorms["_first_doc"].iloc[0])
        dl = codec.byte4_to_int(
            np.frombuffer(pnorms["_norm_bytes"].iloc[0], dtype=np.uint8)
        )
        dl_f = dl.astype(np.float64)
        # decode each term's blocks and compute its (unweighted) clause
        # scores ONCE for the whole batch — terms shared across queries
        # would otherwise be decoded and scored per query. Same float
        # behavior as score_segment_vectorized: f64(f32(idf*w)), with the
        # query weight applied after the f32 rounding.
        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, blocks in pblocks.groupby("term", sort=False):
            if t not in idfs:
                continue
            doc_parts, tf_parts = [], []
            for r in blocks.sort_values("block_id").itertuples(index=False):
                doc_parts.append(
                    codec.delta_decode(codec.varbyte_decode(r.doc_gaps, r.n))
                )
                tf_parts.append(codec.varbyte_decode(r.tfs, r.n))
            docs = np.concatenate(doc_parts).astype(np.int64) - first
            tfs = np.concatenate(tf_parts).astype(np.float64)
            w = tfs / (tfs + K1 * (1.0 - B + B * dl_f[docs] / avgdl))
            clause = (idfs[t] * w).astype(np.float32).astype(np.float64)
            decoded[t] = (docs, clause)
        out = []
        for qid, terms in queries.items():
            q_terms = [t for t in set(terms) if t in decoded]
            if not q_terms:
                continue
            acc = np.zeros(dl.size, dtype=np.float64)
            touched = np.zeros(dl.size, dtype=bool)
            wq = weights_by_q[qid]
            for t in q_terms:
                docs, clause = decoded[t]
                np.add.at(acc, docs, clause * wq.get(t, 1.0))
                touched[docs] = True
            idx = np.flatnonzero(touched)
            if idx.size == 0:
                continue
            scores = acc[idx]
            order = np.lexsort((idx, -scores))[:k]
            out.extend(
                (qid, int(idx[i] + first), float(scores[i])) for i in order
            )
        return pd.DataFrame(out, columns=["qid", "doc_id", "score"])

    local = (
        pruned.groupby("seg_id")
        .cogroup(_fresh_norms(norms).groupby("_nseg"))
        .applyInPandas(run_seg, BATCH_SCHEMA)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select("qid", "doc_id", "score", F.col("_rank").alias("rank"))
    )

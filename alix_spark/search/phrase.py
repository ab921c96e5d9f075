"""Phrase queries over the compressed positional segments.

The reference indexes text fields with DOCS_AND_FREQS_AND_POSITIONS
(``/root/reference/java/alix/lucene/Alix.java:154-165``) precisely so
Lucene PhraseQuery-style exact-sequence matching works off the persisted
index. This module is the Spark analogue: decode the query terms' posting
blocks (bucket + term pruned at the parquet scan), intersect doc ids, and
verify adjacency with the per-doc position lists — all inside one
grouped-by-segment Arrow kernel, no corpus rescan, no join explosion.

Scale shape: the shuffle carries ONLY the query terms' block rows
(``term IN (...)`` and ``bucket IN (...)`` are pushed to the scan), and
each kernel invocation handles one docId-range segment — identical
distribution to the ranked-query kernel (``alix_spark/search/wand.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from alix_spark.index import segments as seg_mod
from alix_spark.index.xxhash import term_bucket

# the columns the positional decoder reads — the block metadata stays
# out of the scan and the shuffle
_PHRASE_COLS = [
    "seg_id", "term", "block_id", "n", "doc_gaps", "tfs", "positions",
]

PHRASE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("freq", LongType()),
    ]
)


def _term_positions(
    rows: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One (seg, term)'s block rows → (doc_ids, occ_bounds, positions).

    ``positions`` is the occurrence-aligned absolute position array;
    ``occ_bounds[i]:occ_bounds[i+1]`` slices doc i's positions.
    """
    doc_ids, tfs, deltas = seg_mod.decode_blocks_pos(rows)
    if deltas is None:
        raise ValueError(
            "segment was built without positions; rebuild the index "
            "(every builder writes positions)"
        )
    tfs = tfs.astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(tfs)))
    d = deltas.astype(np.int64)
    # vectorized segmented cumsum: global cumsum minus, per doc run, the
    # cumsum accumulated BEFORE the run's first delta (which is absolute)
    cs = np.cumsum(d)
    if tfs.size:
        start_excl = cs[bounds[:-1]] - d[bounds[:-1]]
        positions = cs - np.repeat(start_excl, tfs)
    else:
        positions = cs
    return doc_ids.astype(np.int64), bounds, positions


def phrase_search(
    segments: DataFrame,
    terms: list[str],
    n_buckets: int = seg_mod.DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact-phrase matching → (doc_id, freq) for docs containing the
    terms at consecutive positions, freq = number of phrase occurrences.

    ``terms`` must be the already-analyzed token sequence (same analyzer
    as index time — the reference's principle, ``Alix.java:698``).
    ``n_buckets`` must be the count the index was BUILT with — the
    bucket predicate prunes file scans, so a mismatched value silently
    drops matching postings (IndexReader passes its recorded value).
    """
    if not terms:
        raise ValueError("empty phrase")
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    pruned = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
    ).select(*_PHRASE_COLS)

    def kernel(key, pdf):
        empty = pd.DataFrame({"doc_id": [], "freq": []}).astype(
            {"doc_id": "int64", "freq": "int64"}
        )
        if pdf.empty or pdf["term"].nunique() < len(set(terms)):
            return empty
        per_term = {}
        for term, rows in pdf.groupby("term", sort=False):
            per_term[term] = _term_positions(rows)
        # intersect doc ids across the (distinct) terms
        distinct = list(dict.fromkeys(terms))
        common = per_term[distinct[0]][0]
        for t in distinct[1:]:
            common = np.intersect1d(common, per_term[t][0], assume_unique=True)
        if common.size == 0:
            return empty
        # Flat-array adjacency: for term i, build composite keys
        # (doc_ordinal << 32) | (pos - i) over ALL its occurrences in
        # common docs at once, and intersect the sorted key arrays across
        # terms — no per-doc Python loop, so a stopword-ish phrase
        # ("de la") costs one numpy pass per term, flat in candidate
        # count. Occurrences arrive doc-ascending, position-ascending, so
        # each term's key array is already sorted-unique.
        base = None
        for i, t in enumerate(terms):
            doc_ids, bounds, positions = per_term[t]
            tfs = np.diff(bounds)
            keep = np.isin(doc_ids, common, assume_unique=True)
            occ_keep = np.repeat(keep, tfs)
            ords = np.searchsorted(common, doc_ids).astype(np.int64)
            occ_ord = np.repeat(ords, tfs)[occ_keep]
            p = positions[occ_keep].astype(np.int64) - i
            ok = p >= 0  # a position < i can never start-align
            keys = (occ_ord[ok] << 32) | p[ok]
            base = (
                keys
                if base is None
                else np.intersect1d(base, keys, assume_unique=True)
            )
            if base.size == 0:
                return empty
        docs = common[(base >> 32)]
        uniq, counts = np.unique(docs, return_counts=True)
        return pd.DataFrame(
            {
                "doc_id": uniq.astype(np.int64),
                "freq": counts.astype(np.int64),
            }
        )

    return pruned.groupBy("seg_id").applyInPandas(kernel, PHRASE_SCHEMA)


DOCLEN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dl", LongType()),
    ]
)


def doc_lens_from_norms(norms: DataFrame) -> DataFrame:
    """Norm rows → (doc_id, dl) with the LUCENE-VISIBLE (SmallFloat
    byte4-quantized) lengths — the lengths BM25 must use for rank
    identity. Served entirely from the index; docs without tokens
    (norm byte 0) are omitted."""
    from alix_spark.index import codec

    def kernel(batches):
        for pdf in batches:
            ids = []
            dls = []
            for first, buf in zip(pdf["first_doc"], pdf["norm_bytes"]):
                arr = np.frombuffer(buf, dtype=np.uint8)
                nz = np.flatnonzero(arr)
                ids.append(nz + int(first))
                dls.append(codec.byte4_to_int(arr[nz]))
            if not ids:
                yield pd.DataFrame({"doc_id": [], "dl": []}).astype(
                    {"doc_id": "int64", "dl": "int64"}
                )
                continue
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids).astype(np.int64),
                    "dl": np.concatenate(dls).astype(np.int64),
                }
            )

    return norms.select("first_doc", "norm_bytes").mapInPandas(
        kernel, DOCLEN_SCHEMA
    )


def phrase_bm25_topk(
    segments: DataFrame,
    norms: DataFrame,
    terms: list[str],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int = 10,
) -> DataFrame:
    """Lucene-rank-identical BM25 scoring of an exact phrase →
    (doc_id, score) top-k.

    Lucene 8's PhraseQuery scores with tf = exact phrase frequency, idf =
    the SUM of the per-position term idfs (duplicated terms counted once
    per position), the quantized norm length, no (k1+1) numerator, and a
    float32 scorer output — reproduced here over the positional segments
    and verified against lucene-core-8.8.1 goldens
    (tests/test_phrase_rank_identity.py).
    """
    from alix_spark.search.bm25 import tf_expr

    idf_sum = 0.0
    for t in terms:  # per position — duplicates contribute again
        df = dfs.get(t)
        if df is None:
            return phrase_search(segments, ["\0nosuchterm"]).select(
                "doc_id", F.col("freq").cast("double").alias("score")
            )
        idf_sum += float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
    matches = phrase_search(segments, terms)
    dlq = doc_lens_from_norms(norms)
    scored = matches.join(dlq, "doc_id").withColumn(
        "score",
        (
            F.lit(idf_sum)
            * tf_expr(
                F.col("freq").cast("double"),
                F.col("dl").cast("double"),
                avgdl,
                lucene=True,
            )
        )
        .cast("float")
        .cast("double"),
    )
    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )

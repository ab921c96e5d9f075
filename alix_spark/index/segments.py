"""Compressed posting segments + tree-structured merge.

Design (Lucene-shaped, Spark-native — see SURVEY.md §4.3/§7):

* A **segment** covers a contiguous docId range: ``seg_id = doc_id //
  seg_size``. This is the Spark analogue of Lucene's insertion-order
  segments (``/root/reference/java/alix/lucene/XMLIndexer.java:334-335``)
  and simultaneously the skew defense: a hot term ("the", "{") contributes
  at most ``seg_size`` postings to any (seg, term) group, so no reducer
  ever sees a full Zipf-head posting list. The build's seg_id shuffle IS
  the salted repartition-by-term of the north rule, with the salt chosen
  to be the doc range so that segments stay directly concatenable.
* Within a (segment, term): doc ids are delta-gap + varbyte encoded in
  blocks of ``BLOCK`` docs with the block's first doc and tf total.
  Queries decode the blocks whole (:func:`decode_blocks`) and score
  every posting; doc lengths live only in the norms.
  The encoder reads no corpus-global statistic, which is what makes the
  single-pass build possible: one builder,
  :func:`build_single_pass_from_docs`, shuffles the raw documents by
  ``seg_id`` and tokenizes them inside each segment's kernel.
* **Norms**: one byte per doc per segment (Lucene's norm layout), the
  SmallFloat byte4 of the doc length.
* **Merge**: segments with disjoint, ordered doc ranges merge by decode +
  concat + re-encode per term — associative, so a tree of pairwise merge
  rounds (mirroring Lucene's background merges) yields bit-identical
  output to a direct build at the coarser segmentation. Property-tested
  in tests/test_segments_wand.py. No global stats are needed to merge.

Schema of the postings-segment table (one row per term-block):

    bucket: int        -- hash(term) % n_buckets: file-level pruning key
    seg_id: long       -- docId-range segment
    term:   string
    block_id: int
    n:      int        -- postings in this block (<= BLOCK)
    doc_gaps: binary   -- varbyte(delta(doc_ids))
    tfs:    binary     -- varbyte(tfs)
    first_doc: long
    sum_tf: long       -- block tf total (forms table derives from this)
    positions: binary  -- varbyte(per-doc delta(positions)), tf values per
                          posting; b"" in segments written without
                          positions (every builder now writes them)

Files of the older layout, which also held ``last_doc``, ``max_tf`` and
``min_dl``, read unchanged: every reader scans with ``SEGMENT_SCHEMA``,
and a parquet scan skips file columns outside its read schema.

Positions (the reference's DOCS_AND_FREQS_AND_POSITIONS,
``/root/reference/java/alix/lucene/Alix.java:154-165``): each posting's
position list is delta-encoded *per document* (first position absolute,
then gaps), all lists of a block concatenated and varbyte'd together; the
block's ``tfs`` array gives the per-doc list lengths. Per-doc
self-containment means merged segments concatenate position streams
without re-encoding deltas.

Norms table: (seg_id, first_doc, n_docs, sum_dl, norm_bytes: binary).
``sum_dl`` lets query open compute corpus avgdl without a doc_lens scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from alix_spark.index import codec
from alix_spark.index.build import reject_null_ids
from alix_spark.index.xxhash import term_bucket

BLOCK = 128
DEFAULT_SEG_SIZE = 8192
DEFAULT_BUCKETS = 32

# reserved pseudo-term for norm rows in the single-pass unioned output;
# the tokenizers never emit an empty-string term into postings
NORM_MARKER = ""

SEGMENT_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("seg_id", LongType()),
        StructField("term", StringType()),
        StructField("block_id", IntegerType()),
        StructField("n", IntegerType()),
        StructField("doc_gaps", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("first_doc", LongType()),
        StructField("sum_tf", LongType()),
        StructField("positions", BinaryType()),
    ]
)

NORMS_SCHEMA = StructType(
    [
        StructField("seg_id", LongType()),
        StructField("first_doc", LongType()),
        StructField("n_docs", IntegerType()),
        StructField("sum_dl", LongType()),
        StructField("norm_bytes", BinaryType()),
    ]
)


def _empty_segment_frame() -> pd.DataFrame:
    return pd.DataFrame(
        {f.name: pd.Series(dtype=object) for f in SEGMENT_SCHEMA.fields}
    )


def encode_blocks(
    seg_id: int,
    terms,
    buckets,
    term_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    pos_deltas: np.ndarray | None = None,
) -> pd.DataFrame:
    """One segment's postings → its block rows, every block at once.

    The postings are grouped by term (``term_starts[i]`` is where term
    ``i``'s run starts; ``terms``/``buckets`` are per run) and sorted by
    doc within a term. ``pos_deltas``: occurrence-aligned per-doc
    delta-encoded positions (length == tfs.sum()); None builds a
    positions-free segment.

    Each column is varbyte-encoded in one pass over the whole segment —
    doc gaps (restarting at every block's first doc), tfs, positions —
    and each block's buffer is a slice at the codec's byte offsets; the
    block tf totals are one ``reduceat`` over the block starts.
    """
    n_post = doc_ids.size
    if n_post == 0:
        return _empty_segment_frame()
    d = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.int64)
    term_starts = np.asarray(term_starts, dtype=np.int64)
    run_lens = np.diff(np.append(term_starts, n_post))
    # block k of a term covers its postings [k·BLOCK, (k+1)·BLOCK)
    in_term = np.arange(n_post) - np.repeat(term_starts, run_lens)
    b_start = np.flatnonzero(in_term % BLOCK == 0)
    b_end = np.append(b_start[1:], n_post)
    b_term = np.repeat(np.arange(term_starts.size), (run_lens + BLOCK - 1) // BLOCK)

    gaps = np.empty_like(d)
    gaps[0] = d[0]
    gaps[1:] = d[1:] - d[:-1]
    gaps[b_start] = d[b_start]
    gap_buf, gap_off = codec.varbyte_encode(gaps)
    tf_buf, tf_off = codec.varbyte_encode(tfs)

    def cut(buf: bytes, lo: np.ndarray, hi: np.ndarray) -> list[bytes]:
        return [buf[a:b] for a, b in zip(lo.tolist(), hi.tolist())]

    if pos_deltas is None:
        positions = [b""] * b_start.size
    else:
        occ = np.concatenate(([0], np.cumsum(tfs)))
        pos_buf, pos_off = codec.varbyte_encode(pos_deltas)
        positions = cut(pos_buf, pos_off[occ[b_start]], pos_off[occ[b_end]])

    return pd.DataFrame(
        {
            "bucket": np.asarray(buckets, dtype=np.int64)[b_term],
            "seg_id": np.full(b_start.size, seg_id, dtype=np.int64),
            "term": np.asarray(terms, dtype=object)[b_term],
            "block_id": in_term[b_start] // BLOCK,
            "n": b_end - b_start,
            "doc_gaps": cut(gap_buf, gap_off[b_start], gap_off[b_end]),
            "tfs": cut(tf_buf, tf_off[b_start], tf_off[b_end]),
            "first_doc": d[b_start].astype(np.int64),
            "sum_tf": np.add.reduceat(tfs, b_start),
            "positions": positions,
        }
    )


def build_norms(doc_lens: DataFrame, seg_size: int = DEFAULT_SEG_SIZE) -> DataFrame:
    """doc_lens → per-segment norm-byte arrays (1 byte/doc, Lucene
    layout). Docs with no tokens get norm byte 0. A ``dl == 0`` row only
    marks its segment as present: a segment of empty docs still gets a
    row (``n_docs`` 0), and trailing empty docs do not extend the array
    — the norm rows of :func:`build_single_pass_from_docs`, byte for
    byte."""

    def encode_seg(pdf: pd.DataFrame) -> pd.DataFrame:
        seg_id = int(pdf["seg_id"].iloc[0])
        first = seg_id * seg_size
        dls = pdf["dl"].to_numpy(np.int64)
        keep = dls > 0
        dls = dls[keep]
        offs = pdf["doc_id"].to_numpy(np.int64)[keep] - first
        arr = np.zeros(int(offs.max()) + 1 if offs.size else 0, dtype=np.uint8)
        arr[offs] = codec.int_to_byte4(dls)
        return pd.DataFrame(
            [(seg_id, first, int(arr.size), int(dls.sum()), arr.tobytes())],
            columns=[f.name for f in NORMS_SCHEMA.fields],
        )

    return (
        doc_lens.withColumn("seg_id", (F.col("doc_id") / seg_size).cast("long"))
        .groupBy("seg_id")
        .applyInPandas(encode_seg, NORMS_SCHEMA)
    )


def _encode_segment(
    seg_id: int,
    seg_size: int,
    n_buckets: int,
    docs_raw: np.ndarray,
    terms_raw: np.ndarray,
    pos_raw: np.ndarray,
) -> tuple[pd.DataFrame, tuple]:
    """One segment's occurrence-aligned (doc_id, term, pos) arrays →
    (block rows, norm row). Computes per-doc lengths locally (a doc
    lives in exactly one segment, so the group sees all its tokens); a
    segment with no tokens gives no block rows and an empty norm row.

    Pure numpy (factorize + lexsort + run-length) instead of pandas
    groupby: ~2× less memory traffic, which matters both for absolute
    throughput and for multi-core scaling (the kernel is bandwidth-bound
    before it is CPU-bound).
    """
    first = seg_id * seg_size
    codes, uniques = pd.factorize(terms_raw, sort=True)

    # per-doc exact lengths -> norm bytes
    dl_counts = np.bincount(docs_raw - first)
    present = dl_counts > 0
    arr = np.zeros(dl_counts.size, dtype=np.uint8)
    arr[present] = codec.int_to_byte4(dl_counts[present])
    norm_row = (
        seg_id,
        first,
        int(arr.size),
        int(dl_counts.sum()),
        arr.tobytes(),
    )

    # (term, doc) run-length counts over the lexsorted triples; positions
    # sort last so each run's occurrences come out position-ordered
    order = np.lexsort((pos_raw, docs_raw, codes))
    c = codes[order]
    d = docs_raw[order]
    if c.size == 0:
        return _empty_segment_frame(), norm_row
    is_new = np.empty(c.size, dtype=bool)
    is_new[0] = True
    is_new[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
    starts_rl = np.flatnonzero(is_new)
    tfs = np.diff(np.append(starts_rl, c.size)).astype(np.int64)
    gc = c[starts_rl]
    gd = d[starts_rl].astype(np.uint64)

    # per-run delta encoding: first position absolute, then gaps — one
    # vectorized diff with the run starts reset to absolutes
    p = pos_raw[order].astype(np.int64)
    deltas = np.empty_like(p)
    deltas[0] = p[0]
    deltas[1:] = p[1:] - p[:-1]
    deltas[starts_rl] = p[starts_rl]

    t_starts = np.concatenate(([0], np.flatnonzero(gc[1:] != gc[:-1]) + 1))
    terms = uniques[gc[t_starts]]
    buckets = [term_bucket(term, n_buckets) for term in terms]
    rows = encode_blocks(
        seg_id, terms, buckets, t_starts, gd, tfs, deltas.astype(np.uint64)
    )
    return rows, norm_row


def _with_norm_row(rows: pd.DataFrame, norm: tuple) -> pd.DataFrame:
    """Block rows plus the segment's norm marker row (bucket -1, norm
    bytes in ``doc_gaps``, sum_dl in ``sum_tf`` — a segment's token
    total is its Σ tf — n_docs in ``n``)."""
    seg_id, first, n_docs, sum_dl, norm_bytes = norm
    marker = pd.DataFrame(
        [(-1, seg_id, NORM_MARKER, 0, n_docs, norm_bytes, b"", first,
          sum_dl, b"")],
        columns=rows.columns,
    )
    return pd.concat([rows, marker], ignore_index=True) if len(rows) else marker


def build_single_pass_from_docs(
    docs: DataFrame,
    text_col: str = "content",
    seg_size: int = DEFAULT_SEG_SIZE,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """ONE-shuffle index build of the simple chain: raw documents
    ``(doc_id, text)`` grouped by segment. Each kernel tokenizes its
    segment's Arrow batch (:func:`simple.tokenize_batch`, C-speed regex
    per document), computes tf + positions + doc lengths + norms
    locally and emits block rows PLUS one norm marker row (term ==
    NORM_MARKER, norm bytes in ``doc_gaps``, sum_dl in ``sum_tf``,
    n_docs in ``n``).

    The exchange carries the documents — corpus-sized — not the token
    table, which is ~4× the corpus bytes (one ~25-byte row per
    occurrence): the shuffle at its theoretical minimum for a
    doc-range-partitioned index. Split the output with
    :func:`split_single_pass`; derive the forms table with
    :func:`forms_from_segments`. No corpus-global statistic is read or
    written by the kernel — everything after the one shuffle is
    embarrassingly parallel. A segment whose docs have no tokens keeps
    its norm row. Pinned by the digest goldens of tests/segment_golden.py
    (tests in tests/test_xxhash.py).
    """
    from alix_spark.analysis.simple import tokenize_batch

    t = docs.select(
        F.col("doc_id"), F.col(text_col).alias("_text")
    ).withColumn("seg_id", (F.col("doc_id") / seg_size).cast("long"))

    def encode_seg(pdf: pd.DataFrame) -> pd.DataFrame:
        reject_null_ids(pdf["doc_id"], "doc_id")
        seg_id = int(pdf["seg_id"].iloc[0])
        # norm rows live in bucket -1 (own partition dir)
        return _with_norm_row(
            *_encode_segment(
                seg_id,
                seg_size,
                n_buckets,
                *tokenize_batch(pdf["doc_id"], pdf["_text"]),
            )
        )

    return t.groupBy("seg_id").applyInPandas(encode_seg, SEGMENT_SCHEMA)


def split_single_pass(unioned: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Single-pass output → (segments, norms) with the standard schemas."""
    segments = unioned.filter(F.col("term") != NORM_MARKER)
    norms = unioned.filter(F.col("term") == NORM_MARKER).select(
        F.col("seg_id"),
        F.col("first_doc"),
        F.col("n").alias("n_docs"),
        F.col("sum_tf").alias("sum_dl"),
        F.col("doc_gaps").alias("norm_bytes"),
    )
    return segments, norms


def corpus_stats_from_norms(norms: DataFrame) -> tuple[int, float]:
    """(n_docs_with_tokens, avgdl) from norm metadata — no corpus scan.

    Fully distributive: an Arrow-batched kernel reduces each norm row to
    two longs (nonzero-byte count = docs with tokens in the segment's
    doc-id range, and the stored sum_dl), then a global ``agg(sum)``
    brings exactly two numbers to the driver. No ``norm_bytes`` payload
    (seg_size bytes per row → O(n_docs) bytes total) ever leaves the
    executors, so the path is flat in corpus size.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def nonzero_bytes(b: pd.Series) -> pd.Series:
        return b.map(
            lambda x: int((np.frombuffer(x, dtype=np.uint8) != 0).sum())
        )

    row = (
        norms.select(
            nonzero_bytes(F.col("norm_bytes")).alias("n_nonzero"),
            F.col("sum_dl"),
        )
        .agg(
            F.coalesce(F.sum("n_nonzero"), F.lit(0)).alias("docs"),
            F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("dl"),
        )
        .collect()[0]
    )
    total_docs, total_dl = int(row["docs"]), int(row["dl"])
    return total_docs, (total_dl / total_docs if total_docs else 0.0)


def forms_from_segments(segments: DataFrame) -> DataFrame:
    """Vocabulary stats straight from block metadata — no second pass
    over the corpus: occs = Σ sum_tf, docs = Σ n per term."""
    return segments.groupBy("term").agg(
        F.sum("sum_tf").cast("long").alias("occs"),
        F.sum("n").cast("long").alias("docs"),
    )


# ---------------------------------------------------------------------- #
# decode + merge
# ---------------------------------------------------------------------- #


def decode_blocks(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Block rows of ONE (seg, term), in any order → (doc_ids, tfs)."""
    ids, tfs, _ = decode_blocks_pos(rows)
    return ids, tfs


def decode_blocks_pos(
    rows: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Like :func:`decode_blocks` but also returns the occurrence-aligned
    per-doc position deltas (None if the segment was built without
    positions).

    The inverse of :func:`encode_blocks`: the rows are put in
    ``block_id`` order, each column's block buffers are joined and
    varbyte-decoded in one pass, and the doc ids are one cumsum over the
    gaps, restarted at every block's (absolute) first doc."""
    if rows.empty:
        empty = np.array([], dtype=np.uint64)
        return empty, empty.copy(), empty.copy()
    order = np.argsort(rows["block_id"].to_numpy(), kind="stable")
    n = rows["n"].to_numpy(np.int64)[order]
    total = int(n.sum())

    def column(name: str) -> list:
        return rows[name].to_numpy()[order].tolist()

    gaps = codec.varbyte_decode(b"".join(column("doc_gaps")), total)
    tfs = codec.varbyte_decode(b"".join(column("tfs")), total)
    # uint64 wraps consistently, so subtracting each block's running
    # prefix is exact even if the cumsum over all blocks overflows
    ends = np.cumsum(n)
    starts = ends - n
    run = np.cumsum(gaps, dtype=np.uint64)
    before = np.concatenate((np.zeros(1, np.uint64), run))[starts]
    ids = run - np.repeat(before, n)

    if "positions" not in rows.columns:
        return ids, tfs, None
    bufs = [b or b"" for b in column("positions")]
    occ = np.concatenate(([0], np.cumsum(tfs, dtype=np.int64)))
    block_tf = occ[ends] - occ[starts]
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    if ((lens == 0) & (block_tf > 0)).any():
        return ids, tfs, None
    return ids, tfs, codec.varbyte_decode(b"".join(bufs), int(occ[-1]))


def positions_per_doc(
    tfs: np.ndarray, pos_deltas: np.ndarray
) -> list[np.ndarray]:
    """Occurrence-aligned per-doc deltas → list of absolute position
    arrays, one per posting (cumsum within each doc's slice)."""
    bounds = np.concatenate(([0], np.cumsum(tfs.astype(np.int64)))).astype(
        np.int64
    )
    return [
        np.cumsum(pos_deltas[bounds[i] : bounds[i + 1]], dtype=np.uint64)
        for i in range(tfs.size)
    ]


def merge_segments(
    segments: DataFrame,
    norms: DataFrame,
    group: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """One tree-merge round: coalesce ``group`` adjacent segments.

    Needs NO global statistics and no doc lengths: each new segment's
    block rows re-encode from its source segments' decoded postings, and
    its norm row concatenates theirs. Returns (merged_segments,
    merged_norms).
    """
    new_seg = (F.col("seg_id") / group).cast("long")

    def merge_group(pdfs: pd.DataFrame) -> pd.DataFrame:
        new_seg_id = int(pdfs["_new_seg"].iloc[0])
        # per term, its source segments' (doc_ids, tfs, pos_deltas) in
        # seg order
        terms, buckets, parts = [], [], []
        for (term, bucket), rows in pdfs.groupby(["term", "bucket"], sort=True):
            terms.append(term)
            buckets.append(int(bucket))
            parts.append(
                [decode_blocks_pos(r) for _, r in rows.groupby("seg_id", sort=True)]
            )
        flat = [p for term_parts in parts for p in term_parts]
        positional = {p[2] is not None for p in flat}
        if len(positional) > 1:
            # a silent degrade here would drop positions from the merged
            # stream and phrase queries would fail much later with no
            # hint of which merge lost them — fail loudly at the merge
            raise ValueError(
                f"merge_segments: merged seg {new_seg_id} mixes positional "
                "and positions-free source segments; rebuild the index "
                "(every builder writes positions) before merging"
            )
        run_lens = [sum(p[0].size for p in term_parts) for term_parts in parts]
        # per-doc deltas are self-contained (first position absolute), so
        # merged position streams concatenate without re-encoding
        return encode_blocks(
            new_seg_id,
            terms,
            buckets,
            np.cumsum([0] + run_lens[:-1]),
            np.concatenate([p[0] for p in flat]),
            np.concatenate([p[1] for p in flat]),
            np.concatenate([p[2] for p in flat]) if positional == {True} else None,
        )

    def merge_norms(parts: pd.DataFrame) -> pd.DataFrame:
        """Norm rows of adjacent segments → one row whose array ends at
        the last part with docs: a part whose docs are all empty
        (``n_docs`` 0) adds no bytes, so the merged row equals the row a
        direct build at the coarser size writes."""
        first = int(parts["first_doc"].min())
        has_docs = parts["n_docs"] > 0
        ends = parts["first_doc"] + parts["n_docs"]
        total = int(ends[has_docs].max() - first) if has_docs.any() else 0
        arr = np.zeros(total, dtype=np.uint8)
        for fd, nd, nb in zip(
            parts["first_doc"], parts["n_docs"], parts["norm_bytes"]
        ):
            off = int(fd) - first
            arr[off : off + int(nd)] = np.frombuffer(nb, dtype=np.uint8)
        seg = int(parts["_new_seg"].iloc[0])
        return pd.DataFrame(
            [(seg, first, int(arr.size), int(parts["sum_dl"].sum()), arr.tobytes())],
            columns=[f.name for f in NORMS_SCHEMA.fields],
        )

    merged = (
        segments.withColumn("_new_seg", new_seg)
        .groupBy("_new_seg")
        .applyInPandas(merge_group, SEGMENT_SCHEMA)
    )
    new_norms = (
        norms.withColumn("_new_seg", new_seg)
        .groupBy("_new_seg")
        .applyInPandas(merge_norms, NORMS_SCHEMA)
    )
    return merged, new_norms

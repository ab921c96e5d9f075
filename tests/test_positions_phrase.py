"""Positional segments (posVb) + phrase search: roundtrip vs the token
table, merge losslessness, and phrase matching vs a positional-join
oracle.

Reference semantics: DOCS_AND_FREQS_AND_POSITIONS indexing
(``/root/reference/java/alix/lucene/Alix.java:154-165``) and Lucene
PhraseQuery adjacency.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from alix_spark import Corpus
from alix_spark.index import segments as seg_mod
from alix_spark.search.phrase import phrase_search
from tests.conftest import SF_SMOKE

SEG_SIZE = 64


@pytest.fixture(scope="module")
def ctx(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    c = Corpus(docs)
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, "text", seg_size=SEG_SIZE)
    )
    return c, segs.cache(), norms


def test_positions_roundtrip(ctx):
    """Decoded per-doc positions == the token table's, for every term of
    a sampled segment and a hand-picked frequent term."""
    c, segs, _ = ctx
    pdf = segs.filter(F.col("seg_id") == 0).toPandas()
    tok0 = (
        c.tokens.filter(F.col("doc_id") < SEG_SIZE)
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
        .collect()
    )
    expected = {(r["term"], r["doc_id"]): list(r["ps"]) for r in tok0}
    seen = 0
    for term, rows in pdf.groupby("term"):
        ids, tfs, deltas = seg_mod.decode_blocks_pos(rows)
        assert deltas is not None, term
        per = seg_mod.positions_per_doc(tfs, deltas)
        for d, p in zip(ids.tolist(), per):
            assert expected[(term, d)] == [int(x) for x in p], (term, d)
            seen += 1
    assert seen == len(expected)


def test_merge_preserves_positions(ctx):
    """Tree-merged segments carry bit-identical position streams to a
    direct build at the coarser segmentation."""
    c, segs, norms = ctx
    m1, n1 = seg_mod.merge_segments(segs, norms, group=2)
    m2, _ = seg_mod.merge_segments(m1, n1, group=2)
    direct, _ = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(
            c.docs, "text", seg_size=SEG_SIZE * 4
        )
    )
    key = ["term", "seg_id", "block_id"]
    a = m2.toPandas().sort_values(key).reset_index(drop=True)
    b = direct.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert [bytes(x) for x in a["positions"]] == [
        bytes(x) for x in b["positions"]
    ]
    assert [bytes(x) for x in a["doc_gaps"]] == [
        bytes(x) for x in b["doc_gaps"]
    ]


@pytest.mark.parametrize(
    "phrase",
    [["part", "filter"], ["order", "order"], ["fast", "join", "merge"],
     ["nosuchterm", "filter"]],
    ids=lambda p: " ".join(p),
)
def test_phrase_matches_positional_join(ctx, phrase):
    c, segs, _ = ctx
    got = sorted(
        (r["doc_id"], r["freq"])
        for r in phrase_search(segs, phrase).collect()
    )
    j = c.tokens.filter(F.col("term") == phrase[0]).select(
        "doc_id", F.col("pos").alias("p")
    )
    for i, w in enumerate(phrase[1:], 1):
        nxt = c.tokens.filter(F.col("term") == w).select(
            "doc_id", (F.col("pos") - i).alias("p")
        )
        j = j.join(nxt, ["doc_id", "p"])
    exp = sorted(
        (r["doc_id"], r["freq"])
        for r in j.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .collect()
    )
    assert got == exp


def test_positions_per_doc_empty():
    tfs = np.array([], dtype=np.int64)
    assert seg_mod.positions_per_doc(tfs, np.array([], dtype=np.uint64)) == []


def test_merge_mixed_positional_raises(spark, ctx):
    """Merging a positional segment with a positions-free one must fail
    loudly instead of silently emitting a positions-free merged stream
    (ADVICE r2: a silent degrade surfaces much later as a phrase-query
    'rebuild' error with no hint of which merge dropped positions)."""
    c, segs, norms = ctx
    # positions-free twin of segment 1 (its positions blanked, as in a
    # segment written without them), so the group=2 merge pairs it with
    # the positional seg 0
    free = segs.filter(F.col("seg_id") == 1).withColumn(
        "positions", F.lit(b"")
    )
    mixed = segs.filter(F.col("seg_id") == 0).unionByName(free)
    m, _ = seg_mod.merge_segments(
        mixed, norms.filter(F.col("seg_id") < 2), group=2
    )
    with pytest.raises(Exception, match="mixes positional"):
        m.count()

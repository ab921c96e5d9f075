"""Compressed segments + the per-segment kernel: roundtrip, merge tree ≡
direct build, and rank identity vs both the DataFrame BM25 path and the
Lucene goldens."""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from alix_spark import Corpus
from alix_spark.index import segments as seg_mod
from alix_spark.search import bm25 as bm25_mod
from alix_spark.search import wand as wand_mod
from tests.conftest import SF_SMOKE

SEG_SIZE = 64  # small segments so sf0.001 (500 docs) exercises many
GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "lucene_topk_sf0.001.json").read_text()
)


@pytest.fixture(scope="module")
def ctx(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    c = Corpus(docs)
    n, avgdl = bm25_mod.corpus_stats(c.doc_lens)
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, "text", seg_size=SEG_SIZE)
    )
    segs, norms = segs.cache(), norms.cache()
    dfs = {
        r["term"]: int(r["docs"])
        for r in c.forms.select("term", "docs").collect()
    }
    return c, segs, norms, n, avgdl, dfs


def _decode_all(segs_pdf: pd.DataFrame) -> dict:
    """{term: [(doc, tf), ...]} decoded from segment rows."""
    out = {}
    for (term,), rows in segs_pdf.groupby(["term"]):
        parts = []
        for seg_id, seg_rows in sorted(rows.groupby("seg_id")):
            ids, tfs = seg_mod.decode_blocks(seg_rows)
            parts.append((ids, tfs))
        ids = np.concatenate([p[0] for p in parts])
        tfs = np.concatenate([p[1] for p in parts])
        out[term] = list(zip(ids.tolist(), tfs.tolist()))
    return out


def test_segments_roundtrip(ctx):
    """Decoded segments == the uncompressed postings, doc-sorted."""
    c, segs, _, _, _, _ = ctx
    decoded = _decode_all(segs.toPandas())
    expected = {
        r["term"]: sorted((int(d), int(t)) for d, t in zip(r["ds"], r["ts"]))
        for r in c.postings.groupBy("term")
        .agg(
            F.collect_list("doc_id").alias("ds"), F.collect_list("tf").alias("ts")
        )
        .collect()
    }
    assert set(decoded) == set(expected)
    for term, posts in expected.items():
        assert decoded[term] == posts, f"postings differ for {term!r}"


def test_merge_tree_equals_direct_build(ctx):
    """Two rounds of pairwise merges == building at 4x the segment size."""
    c, segs, norms, n, avgdl, _ = ctx
    m1, n1 = seg_mod.merge_segments(segs, norms, group=2)
    m2, n2 = seg_mod.merge_segments(m1, n1, group=2)
    direct, _ = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(
            c.docs, "text", seg_size=SEG_SIZE * 4
        )
    )
    merged_pdf = m2.toPandas().sort_values(["term", "seg_id", "block_id"])
    direct_pdf = direct.toPandas().sort_values(["term", "seg_id", "block_id"])
    assert len(merged_pdf) == len(direct_pdf)
    for col in ["term", "seg_id", "block_id", "n", "first_doc", "sum_tf"]:
        assert merged_pdf[col].tolist() == direct_pdf[col].tolist(), col
    # encoded bytes identical — merge is lossless re-encoding
    assert [bytes(x) for x in merged_pdf["doc_gaps"]] == [
        bytes(x) for x in direct_pdf["doc_gaps"]
    ]
    assert [bytes(x) for x in merged_pdf["tfs"]] == [
        bytes(x) for x in direct_pdf["tfs"]
    ]


def test_merge_plan_has_no_cogroup(ctx):
    """A merge re-encodes blocks from the segment rows alone: the plan of
    its segment output cogroups nothing with the norms."""
    _, segs, norms, _, _, _ = ctx
    merged, _ = seg_mod.merge_segments(segs, norms, group=2)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan, plan


@pytest.mark.parametrize(
    "q",
    ["fast", "fast join merge", "fast fast", "scan column order",
     "table scan merge part window small hash"],
)
def test_wand_matches_dataframe_bm25(ctx, q):
    c, segs, norms, n, avgdl, dfs = ctx
    terms = q.split()
    got = wand_mod.boolean_topk(
        segs, norms, [], terms, [], dfs, n, avgdl, k=10
    ).collect()
    exp = bm25_mod.bm25_topk(
        c.postings, c.doc_lens, terms, k=10, lucene=True, n_docs=n, avgdl=avgdl
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    for g, e in zip(got, exp):
        assert math.isclose(g["score"], e["score"], rel_tol=1e-6, abs_tol=1e-9)


@pytest.mark.parametrize(
    "case",
    [g for g in GOLDEN if not any(t[0] in "+-" for t in g["q"].split())],
    ids=lambda g: g["q"],
)
def test_wand_rank_identity_vs_lucene(ctx, case):
    """OR queries through the per-segment kernel are rank-identical to
    the Lucene reference."""
    _, segs, norms, n, avgdl, dfs = ctx
    got = wand_mod.boolean_topk(
        segs, norms, [], case["q"].split(), [], dfs, n, avgdl, k=10
    ).collect()
    exp = [(int(d), float(s)) for d, s in case["topk"]]
    assert [r["doc_id"] for r in got] == [d for d, _ in exp]
    for g, (ed, es) in zip(got, exp):
        assert math.isclose(g["score"], es, rel_tol=1e-5, abs_tol=1e-6)

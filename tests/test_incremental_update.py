"""S5 incremental update: only touched doc-range segments are rebuilt
(byte-identical carry-over elsewhere), and query results on the updated
index equal a from-scratch computation over the updated docs.

Reference semantics: delete-then-reinsert by source file
(``/root/reference/java/alix/lucene/SAXIndexer.java:133-137``).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from alix_spark import ingest
from alix_spark.index import segments as seg_mod
from alix_spark.index.update import incremental_update
from alix_spark.search import bm25 as bm25_mod
from alix_spark.search import wand as wand_mod

SEG_SIZE = 64
N_DOCS = 400


@pytest.fixture(scope="module")
def v1(spark):
    src = ingest.synthesize_code_corpus(spark, N_DOCS, seed=7)
    docs = ingest.assign_doc_ids(src).cache()
    docs.count()  # pin ids (repartitionByRange sampling)
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, "content", seg_size=SEG_SIZE)
    )
    return docs, segs.cache(), norms.cache()


@pytest.fixture(scope="module")
def changed(spark, v1):
    docs, _, _ = v1
    # update 3 existing paths (new content + commit), insert 2 new paths
    upd = (
        docs.filter(F.col("doc_id").isin([5, 6, 130]))
        .select("repo", "path", "commit", "lang")
        .withColumn("content", F.lit("updated fast join merge content"))
        .withColumn("commit", F.lit("deadbeef"))
    )
    ins = spark.createDataFrame(
        [
            ("zzz/newrepo", "src/a.py", "c1", "py", "fresh insert fast table"),
            ("zzz/newrepo", "src/b.py", "c2", "py", "another fresh insert row"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    return upd.unionByName(ins)


def test_untouched_segments_bit_identical(spark, v1, changed):
    docs, segs, norms = v1
    docs_new, segs_new, norms_new, affected = incremental_update(
        docs, segs, norms, changed, seg_size=SEG_SIZE
    )
    # updates hit segments 0 (ids 5,6) and 2 (id 130); inserts land after
    # max id 399 -> segment 6
    assert affected == [0, 2, 6]
    key = ["term", "seg_id", "block_id"]
    old_pdf = segs.filter(~F.col("seg_id").isin(affected)).toPandas()
    new_pdf = segs_new.filter(~F.col("seg_id").isin(affected)).toPandas()
    a = old_pdf.sort_values(key).reset_index(drop=True)
    b = new_pdf.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    for col in ["doc_gaps", "tfs", "positions"]:
        assert [bytes(x) for x in a[col]] == [bytes(x) for x in b[col]], col
    # and the touched segments actually changed
    assert (
        segs_new.filter(F.col("seg_id") == 0)
        .filter(F.col("term") == "updated")
        .count()
        > 0
    )


def test_updated_index_matches_fresh_computation(spark, v1, changed):
    """Kernel BM25 on the incrementally-updated segments == DataFrame BM25
    recomputed from scratch on the updated docs table (same id space)."""
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib

    docs, segs, norms = v1
    docs_new, segs_new, norms_new, _ = incremental_update(
        docs, segs, norms, changed, seg_size=SEG_SIZE
    )
    docs_new = docs_new.cache()
    tokens = simple.tokenize(docs_new, "doc_id", "content")
    postings = ib.build_postings(tokens).cache()
    doc_lens = ib.build_doc_lens(tokens)
    n, avgdl = bm25_mod.corpus_stats(doc_lens)
    dfs = {
        r["term"]: int(r["df"])
        for r in postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
        if r["term"] in ("fast", "join", "merge", "updated", "insert")
    }
    for q in ["fast join merge", "updated insert"]:
        got = wand_mod.boolean_topk(
            segs_new, norms_new, [], q.split(), [], dfs, n, avgdl, k=10
        ).collect()
        exp = bm25_mod.bm25_topk(
            postings, doc_lens, q.split(), k=10, lucene=True,
            n_docs=n, avgdl=avgdl,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e["score"], rel_tol=1e-6)


def test_delete_then_query(spark, v1, changed):
    docs, segs, norms = v1
    deleted = docs.filter(F.col("doc_id") == 5).select("repo", "path")
    docs_new, segs_new, norms_new, affected = incremental_update(
        docs, segs, norms, changed.limit(0), seg_size=SEG_SIZE, deleted=deleted
    )
    assert affected == [0]
    assert docs_new.filter(F.col("doc_id") == 5).count() == 0
    # no posting in the rebuilt segment references the deleted id
    pdf = segs_new.filter(F.col("seg_id") == 0).toPandas()
    for term, rows in pdf.groupby("term"):
        ids, _ = seg_mod.decode_blocks(rows)
        assert 5 not in ids.tolist(), term


def test_noop_update_returns_same_frames(spark, v1):
    docs, segs, norms = v1
    empty = docs.limit(0).select("repo", "path", "commit", "lang", "content")
    _, s2, n2, affected = incremental_update(
        docs, segs, norms, empty, seg_size=SEG_SIZE
    )
    assert affected == []
    assert s2 is segs and n2 is norms


def test_random_update_sequence_equals_full_rebuild(spark):
    """Property: a seeded random SEQUENCE of merge batches (updates +
    inserts + deletes, applied one after another through
    incremental_update) yields an index whose kernel BM25 matches a
    from-scratch DataFrame BM25 over the final docs — for every round."""
    import random

    from alix_spark.analysis import simple
    from alix_spark.index import build as ib

    rng = random.Random(1234)
    src = ingest.synthesize_code_corpus(spark, 150, seed=11)
    docs = ingest.assign_doc_ids(src).cache()
    docs.count()
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, "content", seg_size=32)
    )
    segs = segs.cache()
    norms = norms.cache()

    for round_no in range(3):
        live = [r for r in docs.select("repo", "path").collect()]
        upd_keys = rng.sample(live, 4)
        del_keys = rng.sample([k for k in live if k not in upd_keys], 2)
        upd = spark.createDataFrame(
            [
                (r["repo"], r["path"], f"c{round_no}", "py",
                 f"updated r{round_no} fast merge tok{rng.randrange(50)}")
                for r in upd_keys
            ],
            "repo string, path string, commit string, lang string, content string",
        )
        ins = spark.createDataFrame(
            [
                (f"new/r{round_no}", f"f{i}.py", "c", "py",
                 f"fresh r{round_no} join tok{rng.randrange(50)}")
                for i in range(3)
            ],
            "repo string, path string, commit string, lang string, content string",
        )
        deleted = spark.createDataFrame(
            [(r["repo"], r["path"]) for r in del_keys],
            "repo string, path string",
        )
        docs, segs, norms, affected = incremental_update(
            docs, segs, norms, upd.unionByName(ins),
            seg_size=32, deleted=deleted,
        )
        # localCheckpoint, not cache: lineage grows exponentially across
        # rounds and OOMs the PLANNER (explain tree-string) long before
        # the data does
        docs = docs.localCheckpoint()
        segs = segs.localCheckpoint()
        norms = norms.localCheckpoint()
        assert affected  # every round touches something

        toks = simple.tokenize(docs, "doc_id", "content")
        postings = ib.build_postings(toks).cache()
        doc_lens = ib.build_doc_lens(toks)
        n, avgdl = bm25_mod.corpus_stats(doc_lens)
        dfs = {
            r["term"]: int(r["df"])
            for r in postings.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        }
        for q in [f"updated r{round_no}", "fast merge", "fresh join"]:
            got = wand_mod.boolean_topk(
                segs, norms, [], q.split(), [], dfs, n, avgdl, k=10
            ).collect()
            exp = bm25_mod.bm25_topk(
                postings, doc_lens, q.split(), k=10, lucene=True,
                n_docs=n, avgdl=avgdl,
            ).collect()
            assert [r["doc_id"] for r in got] == [
                r["doc_id"] for r in exp
            ], (round_no, q)
            for g, e in zip(got, exp):
                assert math.isclose(g["score"], e["score"], rel_tol=1e-6)
        # deleted keys are gone, inserted present
        assert (
            docs.join(deleted, ["repo", "path"], "inner").count() == 0
        )
        assert docs.filter(F.col("repo") == f"new/r{round_no}").count() == 3

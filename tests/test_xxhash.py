"""Python XXH64 == Spark xxhash64 (seed 42), across length regimes and
non-ASCII; plus single-pass build ≡ two-stage build equivalence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from alix_spark.index.xxhash import term_bucket, xxh64_signed


def test_xxh64_matches_spark(spark):
    terms = [
        "", "a", "ab", "abc", "abcd", "fast", "tok1234", "l'homme", "é",
        "über", "x" * 7, "y" * 8, "z" * 31, "w" * 32, "v" * 33, "u" * 100,
        "parce que", "漢字",
    ]
    df = spark.createDataFrame([(t,) for t in terms], "t string")
    rows = df.select(
        "t",
        F.xxhash64("t").alias("h"),
        F.pmod(F.xxhash64("t"), F.lit(32)).cast("int").alias("b"),
    ).collect()
    for r in rows:
        assert xxh64_signed(r["t"].encode()) == r["h"], r["t"]
        assert term_bucket(r["t"], 32) == r["b"], r["t"]


def test_direct_build_equals_two_stage(spark):
    from alix_spark import Corpus
    from alix_spark.index import segments as seg_mod
    from alix_spark.search.bm25 import corpus_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c = Corpus(docs)
    n, avgdl = corpus_stats(c.doc_lens)
    norms = seg_mod.build_norms(c.doc_lens, seg_size=128).cache()
    two_stage = seg_mod.build_segments(
        c.postings, c.doc_lens, seg_size=128
    ).toPandas()
    single, sp_norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass(c.tokens, seg_size=128)
    )
    single = single.toPandas()
    key = ["term", "seg_id", "block_id"]
    a = two_stage.sort_values(key).reset_index(drop=True)
    cols = ["bucket", "term", "seg_id", "block_id", "n", "first_doc",
            "last_doc", "max_tf", "min_dl", "sum_tf"]
    b = single.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for col in cols:
        assert a[col].tolist() == b[col].tolist(), col
    assert [bytes(x) for x in a["doc_gaps"]] == [bytes(x) for x in b["doc_gaps"]]
    assert [bytes(x) for x in a["tfs"]] == [bytes(x) for x in b["tfs"]]
    # single-pass norm rows == build_norms output
    nb = {
        r["seg_id"]: (r["first_doc"], r["n_docs"], r["sum_dl"], bytes(r["norm_bytes"]))
        for r in norms.collect()
    }
    ns = {
        r["seg_id"]: (r["first_doc"], r["n_docs"], r["sum_dl"], bytes(r["norm_bytes"]))
        for r in sp_norms.collect()
    }
    assert nb == ns
    # forms derived from segment metadata == forms from postings
    derived = {
        (r["term"], r["occs"], r["docs"])
        for r in seg_mod.forms_from_segments(
            seg_mod.build_segments(c.postings, c.doc_lens, seg_size=128)
        ).collect()
    }
    expected = {
        (r["term"], r["occs"], r["docs"])
        for r in c.forms.select("term", "occs", "docs").collect()
    }
    assert derived == expected


def test_docs_shuffle_build_equals_token_build(spark):
    """build_single_pass_from_docs (raw-doc shuffle, tokenize-in-kernel)
    is row-identical to build_single_pass over simple.tokenize."""
    from alix_spark import Corpus
    from alix_spark.analysis import simple
    from alix_spark.index import segments as seg_mod

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c = Corpus(docs)
    a = seg_mod.build_single_pass(c.tokens, seg_size=128).toPandas()
    b = seg_mod.build_single_pass_from_docs(
        docs.select("doc_id", "text"), text_col="text", seg_size=128
    ).toPandas()
    key = ["term", "seg_id", "block_id"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    for col in ["bucket", "term", "seg_id", "block_id", "n", "first_doc",
                "last_doc", "max_tf", "min_dl", "sum_tf"]:
        assert a[col].tolist() == b[col].tolist(), col
    for col in ["doc_gaps", "tfs", "positions"]:
        assert [bytes(x) for x in a[col]] == [bytes(x) for x in b[col]], col

"""Python XXH64 == Spark xxhash64 (seed 42), across length regimes and
non-ASCII; plus the segment builder against the digest goldens of the
two-stage and token-table builders it replaced (tests/segment_golden.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

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


def _norm_map(norms):
    return {
        r["seg_id"]: (r["first_doc"], r["n_docs"], r["sum_dl"],
                      bytes(r["norm_bytes"]))
        for r in norms.collect()
    }


def test_direct_build_equals_two_stage(spark):
    """The one-shuffle build's segment rows equal the two-stage build's
    golden on every column both wrote; its norm rows equal
    :func:`segments.build_norms` over the doc lengths, and the forms
    derived from its block metadata equal :attr:`Corpus.forms`."""
    from alix_spark import Corpus
    from alix_spark.index import segments as seg_mod
    from tests import segment_golden as g

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c = Corpus(docs)
    segs, sp_norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(
            docs.select("doc_id", "text"), "text", seg_size=g.SEG_SIZE
        )
    )
    expected = g.kept(g.golden(g.TWO_STAGE))
    assert g.digest(segs.toPandas(), list(expected["columns"])) == expected
    assert _norm_map(seg_mod.build_norms(c.doc_lens, seg_size=g.SEG_SIZE)) == (
        _norm_map(sp_norms)
    )
    derived = {
        (r["term"], r["occs"], r["docs"])
        for r in seg_mod.forms_from_segments(segs).collect()
    }
    forms = {
        (r["term"], r["occs"], r["docs"])
        for r in c.forms.select("term", "occs", "docs").collect()
    }
    assert derived == forms


def test_docs_shuffle_build_equals_token_build(spark):
    """The raw-doc-shuffle build (tokenize in the kernel) is row- and
    byte-identical, norm rows and positions included, to the golden of
    the token-table build over the same documents, on every column both
    wrote; its split norm rows, ``sum_dl`` included, equal
    :func:`segments.build_norms` over the doc lengths."""
    from alix_spark.index import segments as seg_mod
    from alix_spark.index.build import build_doc_lens_from_docs
    from tests import segment_golden as g
    from tests.test_mapside_build import _docs

    built = g.build_docs(spark)
    pdf = built.toPandas()
    # the golden's marker rows carried 0 in sum_tf (sum_dl sat in min_dl)
    pdf.loc[pdf["term"] == seg_mod.NORM_MARKER, "sum_tf"] = 0
    expected = g.kept(g.golden(g.SINGLE_PASS))
    assert g.digest(pdf, list(expected["columns"])) == expected

    docs = _docs(spark)
    # every doc enters with dl 0 too, as build_index's norms0 does, so
    # a segment of only empty docs keeps its row
    lens = build_doc_lens_from_docs(docs).unionByName(
        docs.select("doc_id", F.lit(0).cast("int").alias("dl"))
    )
    _, sp_norms = seg_mod.split_single_pass(built)
    assert _norm_map(seg_mod.build_norms(lens, seg_size=g.SEG_SIZE)) == (
        _norm_map(sp_norms)
    )

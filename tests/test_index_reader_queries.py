"""The FULL query surface served from the persisted index.

Round-3 verdict item: ``IndexReader.search`` used to raise for
MUST / MUST_NOT / wildcard, forcing boolean queries onto the
tokenize-the-corpus DataFrame path — at 100 TB that's a corpus rescan
for a query the segments can answer. Now every query type is served
from segment decode (the reference serves them all from one searcher,
``/root/reference/java/alix/lucene/Alix.java:687-756``), and this file
pins (a) result identity vs the corpus path and (b) the plan shape:
no tokenizer kernel, no documents scan.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from alix_spark.corpus import Corpus
from alix_spark.index import segments as seg_mod
from alix_spark.index.reader import IndexReader

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    return Corpus(docs)


@pytest.fixture(scope="module")
def persisted(spark, corpus, tmp_path_factory):
    """Segments + norms written to parquet and re-read — the reader's
    lineage starts at the index files, exactly like a production open."""
    out = tmp_path_factory.mktemp("idx")
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(corpus.docs, "text", seg_size=64)
    )
    segs.write.parquet(str(out / "segments"))
    norms.write.parquet(str(out / "norms"))
    return IndexReader.from_tables(
        spark,
        spark.read.parquet(str(out / "segments")),
        spark.read.parquet(str(out / "norms")),
    )


def _docs(df):
    return sorted(r["doc_id"] for r in df.collect())


@pytest.mark.parametrize(
    "q",
    [
        "+fast +join -window",
        "+fast join",
        "fast -window",
        "+merge -scan +sort",
        "-fast -join",  # pure negative
    ],
)
def test_boolean_docs_match_corpus_path(q, corpus, persisted):
    from alix_spark.search.boolean import matching_docs

    exp = _docs(
        matching_docs(corpus.postings, corpus.parse(q), all_docs=corpus.doc_lens)
    )
    got = _docs(persisted.boolean_docs(q))
    assert got == exp, q


@pytest.mark.parametrize(
    "q", ["+fast join merge", "fast -window", "+fast +join"]
)
def test_boolean_search_scores_match_corpus_lucene(q, corpus, persisted):
    exp = corpus.search(q, k=10, lucene=True).collect()
    got = persisted.search(q, k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], q
    for g, e in zip(got, exp):
        assert abs(g["score"] - e["score"]) < 1e-6, q


def test_wildcard_served_from_index(corpus, persisted):
    exp = corpus.search("fast win*", k=10, lucene=True).collect()
    got = persisted.search("fast win*", k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    for g, e in zip(got, exp):
        assert abs(g["score"] - e["score"]) < 1e-6


def test_pure_negative_matches_all_minus_exclusions(corpus, persisted):
    from alix_spark.search.boolean import matching_docs

    q = "-fast"
    exp = _docs(
        matching_docs(corpus.postings, corpus.parse(q), all_docs=corpus.doc_lens)
    )
    got = _docs(persisted.boolean_docs(q))
    assert got == exp


def test_nomatch_wildcard_returns_empty_not_error(corpus, persisted):
    """A wildcard that expands to nothing is an empty BooleanQuery
    (matches nothing), not a malformed query; a truly empty string
    still raises."""
    assert persisted.search("zzzyx*", k=5).count() == 0
    assert corpus.search("zzzyx*", k=5).count() == 0
    with pytest.raises(ValueError):
        persisted.search("", k=5)
    with pytest.raises(ValueError):
        corpus.search("", k=5)


def test_phrase_served_from_reader(corpus, persisted):
    from alix_spark.search.phrase import phrase_search

    segs, _ = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(corpus.docs, "text", seg_size=64)
    )
    exp = sorted(
        (r["doc_id"], r["freq"])
        for r in phrase_search(segs, ["part", "filter"]).collect()
    )
    got = sorted(
        (r["doc_id"], r["freq"])
        for r in persisted.phrase(["part", "filter"]).collect()
    )
    assert got == exp and len(got) > 0


def test_boolean_plan_has_no_tokenizer_and_no_docs_scan(persisted):
    """The served-from-index guarantee, pinned on the plan: segment
    decode (applyInPandas over the index parquet) may appear, but no
    tokenizer kernel over a documents table and no documents/text scan."""
    for df in (
        persisted.boolean_docs("+fast +join -window"),
        persisted.search("fast win*", k=10),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in plan
        # every FileScan in the plan reads the index tables
        for line in plan.splitlines():
            if "FileScan" in line:
                assert ("segments" in line) or ("norms" in line), line


def test_doc_sort_options_and_id_resolution(spark):
    """Q5 doc sort (field asc/desc + bounded top-k) and Q6 id<->docId
    resolution (Alix.java:414-436; DocSort.java:41-54)."""
    from alix_spark.corpus import Corpus

    docs = spark.createDataFrame(
        [(3, "zz.txt", "gamma text", 1990),
         (1, "aa.txt", "alpha text", 2005),
         (2, "mm.txt", "beta text", 1978)],
        "doc_id long, path string, text string, year int",
    )
    c = Corpus(docs, cache=False)
    assert [r["doc_id"] for r in c.docs_sorted("year").collect()] == [2, 3, 1]
    assert [r["doc_id"] for r in c.docs_sorted("year", desc=True).collect()] \
        == [1, 3, 2]
    assert [r["doc_id"] for r in c.docs_sorted("path", k=2).collect()] == [1, 2]
    # bounded top-k plans as TakeOrderedAndProject, not a global sort
    plan = c.docs_sorted("year", k=2)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert c.doc_id_for("mm.txt", "path") == 2
    assert c.id_for(3, "path") == "zz.txt"
    assert c.doc_id_for("nope.txt", "path") is None
    assert c.id_for(99, "path") is None


def _ranked(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_same_ranking(got, exp, q):
    assert [d for d, _ in got] == [d for d, _ in exp], q
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-6, q


@pytest.mark.parametrize(
    "q, k",
    [
        ("-fast", 10),  # pure negative: every doc with a token, score 0
        ("-fast -join", 1000),  # k above the match count
        ("+fast +zzzyx", 10),  # MUST term missing from the vocabulary
        ("fast join -zzzyx", 10),  # MUST_NOT term missing from it
        ("+fast +fast", 10),  # a repeated MUST term scores twice
        ("+fast +fast join", 10),
        ("+fast +join -window", 1000),
        ("+merge -scan sort*", 10),  # wildcard SHOULD under MUST
        ("fast fast join", 10),  # pure OR: a repeated term scores twice
        ("fast zzzyx", 10),  # pure OR: a term missing from the vocabulary
        ("fast join", 1000),  # pure OR: k above the match count
    ],
)
def test_boolean_kernel_edge_cases_match_corpus(q, k, corpus, persisted):
    exp = _ranked(corpus.search(q, k=k, lucene=True))
    got = _ranked(persisted.search(q, k=k))
    _assert_same_ranking(got, exp, q)
    if k > 10:  # the k-above-match-count cases
        assert len(got) < k, q


@pytest.fixture(scope="module")
def sparse_terms(spark, tmp_path_factory):
    """40 docs in 5 segments of 8: ``alpha`` only in segment 0, ``beta``
    only in segment 2 and ``gamma`` in segments 0 and 2, so most
    segments' cogroup groups hold no postings of a query's terms and a
    pure-negative query sees segments with no posting rows at all."""

    def text(d):
        words = ["filler", f"w{d}"]
        if d < 8:
            words += ["alpha"] * (1 + d % 3)
        if 16 <= d < 24:
            words.append("beta")
        if d in (3, 5, 17, 20):
            words.append("gamma")
        return " ".join(words)

    docs = spark.createDataFrame(
        [(d, text(d)) for d in range(40)], "doc_id long, text string"
    )
    out = tmp_path_factory.mktemp("sparse_idx")
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, text_col="text", seg_size=8)
    )
    segs.write.parquet(str(out / "segments"))
    norms.write.parquet(str(out / "norms"))
    reader = IndexReader.from_tables(
        spark,
        spark.read.parquet(str(out / "segments")),
        spark.read.parquet(str(out / "norms")),
    )
    return Corpus(docs, text_col="text", cache=False), reader


@pytest.mark.parametrize(
    "q",
    [
        "+alpha beta",
        "+gamma alpha -beta",
        "alpha beta -gamma",
        "+beta -alpha",
        "+alpha +beta",  # disjoint MUST sets: empty
        "-gamma",
        "-alpha -beta",
        "alpha beta",  # pure OR over disjoint segments
        "gamma beta",
    ],
)
def test_boolean_kernel_on_segments_without_query_postings(q, sparse_terms):
    from alix_spark.search.boolean import matching_docs

    corpus, reader = sparse_terms
    exp = _ranked(corpus.search(q, k=50, lucene=True))
    _assert_same_ranking(_ranked(reader.search(q, k=50)), exp, q)
    exp_docs = _docs(
        matching_docs(corpus.postings, corpus.parse(q), all_docs=corpus.doc_lens)
    )
    assert _docs(reader.boolean_docs(q)) == exp_docs, q


def test_boolean_plans_are_one_cogroup_without_joins(persisted):
    """Every query shape runs one physical plan: one cogroup of the
    pruned segment rows with the norms — no per-term decode stage, no
    join or anti-join, no all-docs norm decode (MapInPandas). The scans
    read only what the decoder reads: no positions and no block
    metadata; a phrase query's scan adds the positions and nothing
    else."""
    for df in (
        persisted.search("fast join merge", k=10),
        persisted.search("+fast join -window", k=10),
        persisted.boolean_docs("+fast join -window"),
        persisted.search("-fast", k=10),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
        assert "Join" not in plan, plan
        assert "MapInPandas" not in plan, plan
        # each scan's column list is its read schema (the ReadSchema
        # string itself is cut short in the plan text)
        scans = re.findall(r"FileScan \w+ \[([^\]]*)\]", plan)
        assert any("doc_gaps" in cols for cols in scans), plan
        for cols in scans:
            for col in ("sum_tf", "positions"):
                assert col not in cols, cols
    plan = persisted.phrase(["part", "filter"])._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    (cols,) = re.findall(r"FileScan \w+ \[([^\]]*)\]", plan)
    assert "positions" in cols, plan
    for col in ("first_doc", "sum_tf"):
        assert col not in cols, cols


def test_query_words_split_like_the_index(spark):
    """A query word is tokenized by the index's own chain: ``don't`` is
    indexed as ``don`` + ``t``, so it queries those two terms (stripping
    the apostrophe would query ``dont``, which is never indexed)."""
    from alix_spark.search.parser import parse

    docs = spark.createDataFrame(
        [(0, "I don't know"), (1, "don is here"), (2, "no match")],
        "doc_id long, text string",
    )
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, "text", seg_size=4)
    )
    reader = IndexReader.from_tables(spark, segs, norms)
    got = _ranked(reader.search("don't", k=10))
    assert got and got == _ranked(reader.search("don t", k=10))
    assert parse("-it's").must_not == ["it", "s"]
    assert parse("+don't*").must == ["don"]
    assert parse("+don't*").wildcards == ["t"]

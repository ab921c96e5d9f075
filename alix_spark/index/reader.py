"""IndexReader — open a built index directory and serve queries.

The query-side counterpart of :mod:`alix_spark.build_index`: loads the
meta, forms, final segment + norm tables, and answers the FULL query
surface — ranked OR, MUST / MUST_NOT boolean restriction, pure-negative
and wildcard prefix expansion — from the persisted segments, with no
corpus rescan. Plays the role of the reference's
``Alix.reader()/searcher()`` lazy singletons plus its query assembly
(``/root/reference/java/alix/lucene/Alix.java:298-344,687-756``).

Every ranked query runs as Lucene runs a ``BooleanQuery``: inside each
segment, against that segment's postings and norms. The plan is one
cogroup of the (bucket, term)-pruned segment rows with the norm rows,
one exhaustive kernel per segment for every query shape
(:func:`alix_spark.search.wand.boolean_topk`), then one global top-k.
No query joins, and none expands the norms into a per-doc table.

Scoring on this path is Lucene-faithful: per-doc lengths come from the
stored SmallFloat norms (byte-quantized, like Lucene's), avgdl from the
exact per-segment sums, idf stays corpus-wide under boolean restriction
— the `bm25_lucene` semantics proven rank-identical to the reference
jar in tests/test_lucene_rank_identity.py.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alix_spark.search import wand as wand_mod


def expand_prefixes(
    forms: DataFrame, prefixes: list[str], sort: bool = False
) -> list[str]:
    """Expand wildcard prefixes against a vocabulary table in ONE
    pruned scan (all prefixes OR'ed into a single filter, one Spark
    job for any number of wildcards — WildcardQuery,
    ``Alix.java:731-734``). Output preserves the per-prefix grouping
    contract: each prefix's matches (sorted when ``sort``), in input
    order. Shared by :meth:`IndexReader.expand_wildcards` and
    ``Corpus.parse`` so the expansion semantics live in one place."""
    if not prefixes:
        return []
    cond = F.col("term").startswith(prefixes[0])
    for prefix in prefixes[1:]:
        cond = cond | F.col("term").startswith(prefix)
    matched = [
        r["term"] for r in forms.filter(cond).select("term").collect()
    ]
    if sort:
        matched = sorted(matched)
    out: list[str] = []
    for prefix in prefixes:
        out.extend(t for t in matched if t.startswith(prefix))
    return out


def read_meta(index_dir: str) -> dict:
    """The build's ``_meta`` record, parsed on the driver (one JSON line
    in the ``_meta/part-*.json`` file)."""
    part = next(Path(index_dir, "_meta").glob("part-*.json"))
    return json.loads(part.read_text().splitlines()[0])


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        """Open a built index with no Spark job: ``_meta`` is parsed on
        the driver and every table is read with its known schema (the
        docs table's is the build's lineage record), so no footer
        inference runs."""
        from alix_spark.index import segments as seg_mod
        from alix_spark.index.build import FORMS_SCHEMA
        from alix_spark.index.lineage import read_table, stage_schema

        meta = read_meta(index_dir)

        def table(name: str, schema) -> DataFrame:
            return read_table(spark, f"{index_dir}/{name}", schema)

        self._init_tables(
            spark,
            segments=table(meta["final_segments"], seg_mod.SEGMENT_SCHEMA),
            norms=table(meta["final_norms"], seg_mod.NORMS_SCHEMA),
            docs=table("docs", stage_schema(index_dir, "docs")),
            forms=table("forms", FORMS_SCHEMA),
            n_buckets=int(meta["buckets"]),
            n_docs=int(meta["n_docs_with_tokens"]),
            avgdl=float(meta["avgdl"]),
        )
        self.index_dir = index_dir
        self.meta = meta

    def _init_tables(
        self,
        spark: SparkSession,
        segments: DataFrame,
        norms: DataFrame,
        docs: DataFrame | None,
        forms: DataFrame | None,
        n_buckets: int,
        n_docs: int | None = None,
        avgdl: float | None = None,
    ) -> None:
        from alix_spark.index import segments as seg_mod

        self.spark = spark
        self.segments = segments
        self.norms = norms.cache()
        self.docs = docs
        self.forms = (
            forms
            if forms is not None
            else seg_mod.forms_from_segments(segments)
        )
        if n_docs is None or avgdl is None:
            n_docs, avgdl = seg_mod.corpus_stats_from_norms(self.norms)
        self.n_docs = int(n_docs)
        self.avgdl = float(avgdl)
        self.n_buckets = n_buckets

    @classmethod
    def from_tables(
        cls,
        spark: SparkSession,
        segments: DataFrame,
        norms: DataFrame,
        docs: DataFrame | None = None,
        forms: DataFrame | None = None,
        n_buckets: int | None = None,
    ) -> "IndexReader":
        """Open directly over segment/norm tables (already-loaded
        parquet, or the output of a build) — same query surface, no
        ``_meta`` file needed."""
        from alix_spark.index import segments as seg_mod

        self = cls.__new__(cls)
        self._init_tables(
            spark,
            segments,
            norms,
            docs,
            forms,
            seg_mod.DEFAULT_BUCKETS if n_buckets is None else n_buckets,
        )
        self.index_dir = None
        self.meta = {}
        return self

    @classmethod
    def open_streaming(
        cls, spark: SparkSession, index_dir: str
    ) -> "IndexReader":
        """Open the CURRENT version of a streaming (manifest-versioned)
        index — the same query surface over a live
        :class:`alix_spark.streaming.StreamingIndexer` directory. The
        snapshot is pinned at open time (the manifest's file groups are
        immutable), so concurrent publishes never change what this
        reader sees — the reference's lazy ``Alix.reader()`` singleton
        semantics (``Alix.java:298-344``) without any lock.

        Retention bound: the pin holds only while the opened version is
        within the indexer's ``retain_versions`` window — once
        ``retain_versions`` newer versions have published, ``gc()``
        deletes the unshared file groups of this snapshot and its lazy
        DataFrames will fail on next evaluation. A reader held across
        many publishes should re-open (or the stream should be run with
        a ``retain_versions`` ≥ the maximum reader age in versions).
        """
        from alix_spark.streaming import StreamingIndexer

        ix = StreamingIndexer(spark, index_dir)
        docs, segments, norms = ix.load_tables()
        self = cls.from_tables(
            spark,
            segments,
            norms,
            docs=docs,
            n_buckets=ix.current_n_buckets(),
        )
        self.index_dir = index_dir
        self.meta = {
            "version": ix.current_version(),
            "seg_size_final": ix.current_seg_size(),
        }
        return self

    # -- posting access -------------------------------------------------
    def dfs_for(self, terms: list[str]) -> dict[str, int]:
        uniq = sorted(set(terms))
        if not uniq:
            return {}
        return {
            r["term"]: int(r["docs"])
            for r in self.forms.filter(F.col("term").isin(uniq))
            .select("term", "docs")
            .collect()
        }

    def expand_wildcards(self, prefixes: list[str]) -> list[str]:
        """Prefix expansion against the persisted vocabulary
        (WildcardQuery, ``Alix.java:731-734``); a tiny pruned scan of
        the forms table."""
        return expand_prefixes(self.forms, prefixes, sort=True)

    def phrase(self, terms: list[str]) -> DataFrame:
        """Exact-phrase matching → (doc_id, freq) off the positional
        segments (every builder writes positions; an index whose segments
        have none must be rebuilt — the reference's PhraseQuery path,
        ``Alix.java:154-165``)."""
        from alix_spark.search.phrase import phrase_search

        return phrase_search(self.segments, terms, n_buckets=self.n_buckets)

    def _parse_expanded(self, q: str):
        """Parse ``q`` with wildcards expanded against the persisted
        vocabulary; ``parsed.had_wildcards`` records that expansion
        happened (a no-match expansion is an empty BooleanQuery, not a
        malformed query)."""
        from alix_spark.search.parser import parse

        parsed = parse(q)
        if parsed.wildcards:
            parsed.should.extend(self.expand_wildcards(parsed.wildcards))
            parsed.wildcards = []
        return parsed

    def _boolean(self, parsed, dfs: dict[str, int], k: int | None) -> DataFrame:
        return wand_mod.boolean_topk(
            self.segments,
            self.norms,
            parsed.must,
            parsed.should,
            parsed.must_not,
            dfs,
            self.n_docs,
            self.avgdl,
            k=k,
            n_buckets=self.n_buckets,
        )

    def boolean_docs(self, q: str) -> DataFrame:
        """ALL doc ids matching the boolean semantics of ``q`` (no
        ranking, no k-cut) → (doc_id): the reference's BooleanQuery match
        set (``Alix.java:714-754``), from the per-segment boolean kernel
        of :meth:`search`."""
        # the match set needs no scores, so no idf lookup job
        return self._boolean(self._parse_expanded(q), {}, None).select("doc_id")

    # -- the query surface ----------------------------------------------
    def search(self, q: str, k: int = 10) -> DataFrame:
        """Top-k retrieval for the full +/-/* query grammar →
        (doc_id, score), served entirely from the persisted index. Every
        query shape is one cogroup of the (bucket, term)-pruned segment
        rows with the norms, one kernel per segment
        (:func:`wand.boolean_topk`), then a global top-k:

        * pure OR → the union of the SHOULD docs
        * MUST / MUST_NOT → the MUST intersection (or SHOULD union) minus
          the MUST_NOT docs
        * ``prefix*`` → vocabulary expansion into SHOULD clauses; one
          that expands to nothing matches nothing
        * pure-negative → every doc with a token minus the exclusions,
          score 0, by doc id

        Positive terms score with corpus-wide idf (``Alix.java:714-754``
        semantics).
        """
        parsed = self._parse_expanded(q)
        terms = parsed.positive_terms
        if not terms and not parsed.must_not:
            if parsed.had_wildcards:
                # a wildcard that expanded to nothing matches nothing —
                # not a malformed query
                return self.spark.createDataFrame([], wand_mod.TOPK_SCHEMA)
            raise ValueError(f"empty query: {q!r}")
        return self._boolean(parsed, self.dfs_for(terms), k)

"""Boolean retrieval: MUST / SHOULD / MUST_NOT over posting joins.

Reference: Lucene ``BooleanQuery`` assembled at
``/root/reference/java/alix/lucene/Alix.java:714-754``. In DataFrame
algebra the posting-list operations become:

* SHOULD  → union of the terms' doc sets (one ``IN`` filter + distinct)
* MUST    → intersection (groupBy doc counting distinct matched MUST terms
  == number of MUST terms — one shuffle instead of N-way self-joins)
* MUST_NOT→ left-anti join
* only-MUST_NOT queries run against the full doc set
  (``MatchAllDocsQuery`` base, ``Alix.java:746-754``).

This serves the ``Corpus`` DataFrame path. ``IndexReader`` computes the
same match set per segment, as a doc mask inside its scoring kernel
(:func:`alix_spark.search.wand.boolean_mask`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alix_spark.search.parser import ParsedQuery


def matching_docs(
    postings: DataFrame,
    parsed: ParsedQuery,
    all_docs: DataFrame | None = None,
) -> DataFrame:
    """Doc ids satisfying the boolean query → (doc_id).

    ``all_docs`` (a one-column doc_id frame) is only required for pure
    negative queries.
    """
    must, should, must_not = parsed.must, parsed.should, parsed.must_not
    base: DataFrame | None = None
    if must:
        hits = postings.filter(F.col("term").isin(must))
        base = (
            hits.groupBy("doc_id")
            .agg(F.count_distinct("term").alias("_m"))
            .filter(F.col("_m") == len(set(must)))
            .select("doc_id")
        )
        if should:
            # MUST present → SHOULD clauses only influence scoring, not the
            # match set (Lucene semantics).
            pass
    elif should:
        base = (
            postings.filter(F.col("term").isin(should))
            .select("doc_id")
            .distinct()
        )
    else:
        if all_docs is None:
            raise ValueError("pure-negative query needs all_docs")
        base = all_docs.select("doc_id").distinct()
    if must_not:
        excl = postings.filter(F.col("term").isin(must_not)).select("doc_id")
        base = base.join(excl, "doc_id", "left_anti")
    return base

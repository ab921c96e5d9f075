"""r7 optimization cross-checks: the map-side postings / doc_lens
builders must stay row-identical to the declarative token-stream path
they replaced (guide §2.4 — the shuffle was removed, the rows must not
change)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alix_spark.analysis import simple
from alix_spark.index import build as ib
from tests.conftest import SF_SMOKE


def _docs(spark):
    base = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (990001, None),  # null text
            (990002, ""),  # empty text
            (990003, "...!!..."),  # punctuation only -> zero tokens
            (990004, "a a a b"),  # repeated term, multiple positions
        ],
        "doc_id long, text string",
    )
    return base.unionByName(edge)


def _canon(df):
    return df.select(
        "term",
        "doc_id",
        "tf",
        F.col("positions").cast("array<int>").alias("positions"),
    )


def test_postings_from_docs_matches_token_path(spark):
    docs = _docs(spark)
    old = _canon(ib.build_postings(simple.tokenize(docs, "doc_id", "text")))
    new = _canon(ib.build_postings_from_docs(docs, "doc_id", "text"))
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_doc_lens_from_docs_matches_token_path(spark):
    docs = _docs(spark)
    old = ib.build_doc_lens(simple.tokenize(docs, "doc_id", "text"))
    new = ib.build_doc_lens_from_docs(docs, "doc_id", "text")
    assert old.schema == new.schema
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_postings_map_side_plan_has_no_exchange(spark):
    """The point of the rewrite: no Exchange between scan and sink."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (
        ib.build_postings_from_docs(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_null_doc_id_is_a_typed_error(spark):
    """A null document id fails the map-side kernels with a ValueError
    that names the id column, not with whatever ``int()`` of the null
    (NaN in the Arrow batch) raises deep inside the kernel."""
    from pyspark.errors import PythonException

    from alix_spark.index import segments as seg_mod

    docs = spark.createDataFrame(
        [(1, "fast join"), (None, "slow merge")], "id long, text string"
    )
    with pytest.raises(
        PythonException, match="ValueError: null document id in column 'id'"
    ):
        ib.build_postings_from_docs(docs, "id", "text").collect()
    with pytest.raises(
        PythonException, match="ValueError: null document id in column 'doc_id'"
    ):
        seg_mod.build_single_pass_from_docs(
            docs.withColumnRenamed("id", "doc_id"), text_col="text", seg_size=8
        ).collect()

"""Driver-mimicking correctness gate: every queries() entry with an
oracle_sql() entry must match DuckDB exactly at sf0.001 (the driver runs
the same comparison at sf0.01)."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE
from tests.oracle_util import compare, duck_connection

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    fn = QUERIES[name]
    ok, msg = compare(fn(spark, SF_SMOKE), duck, ORACLES[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, name):
    # weaker check for non-SQL-expressible ops: runs and yields a stable schema
    df = QUERIES[name](spark, SF_SMOKE)
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "score"}


@pytest.mark.parametrize(
    "name",
    ["term_freq", "doc_lens", "corpus_totals", "bm25_topk", "cooc_window",
     "specificity_g"],
)
def test_corpus_queries_scan_the_built_tables(spark, name):
    """The entry's corpus queries read the build's tables: no tokenizer
    (a MapInPandas kernel or a posexplode Generate) and no scan of the
    raw documents in their plans. cooc_window's one Generate explodes
    the pivot windows, not text."""
    plan = QUERIES[name](spark, SF_SMOKE)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert "posexplode" not in plan, plan
    assert plan.count("Generate") == ("explode(sequence" in plan), plan
    assert "documents.parquet" not in plan, plan
    assert entrymod._CACHE in plan, plan


def test_cache_key_covers_package_sources(spark, duck, tmp_path, monkeypatch):
    """The entry's index is keyed by the package sources too: after a
    source change it builds a new index instead of opening the one
    cached under the old key (here a planted stale dir that would fail
    to open)."""
    from alix_spark import build_index

    def plant(argv):
        metrics = f"{argv[argv.index('--out') + 1]}/_metrics"
        os.makedirs(metrics)
        open(f"{metrics}/_SUCCESS", "w").close()

    build = build_index.main
    monkeypatch.setattr(entrymod, "_CACHE", str(tmp_path))
    monkeypatch.setattr(entrymod, "_package_digest", lambda: "old")
    monkeypatch.setattr(build_index, "main", plant)
    stale = entrymod._index_dir(spark, SF_SMOKE)
    monkeypatch.setattr(build_index, "main", build)
    assert entrymod._index_dir(spark, SF_SMOKE) == stale  # reused as built

    monkeypatch.setattr(entrymod, "_package_digest", lambda: "new")
    fresh = entrymod._index_dir(spark, SF_SMOKE)
    assert fresh != stale and os.path.dirname(fresh) == str(tmp_path)
    assert os.path.exists(f"{fresh}/_meta")
    assert os.listdir(stale) == ["_metrics"]  # nothing built into it
    for name in ("bm25_lucene", "boolean_must_not", "phrase", "kwic"):
        ok, msg = compare(QUERIES[name](spark, SF_SMOKE), duck, ORACLES[name])
        assert ok, f"{name}: {msg}"

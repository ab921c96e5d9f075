"""End-to-end build pipeline: spark-submit entry, lineage-based resume,
sha256 ingest invariant, reader rank-identity on the persisted index, and
the CLI's one-pass final-size segments against a merge tree."""

from __future__ import annotations

import json
import math
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from alix_spark import build_index
from alix_spark.index import segments as seg_mod
from alix_spark.index.lineage import BuildContext
from alix_spark.index.reader import IndexReader
from tests.conftest import SF_SMOKE
from tests.test_plan_hygiene import plan_of

GOLDEN = json.loads(
    (Path(__file__).parent / "golden" / "lucene_topk_sf0.001.json").read_text()
)
OR_QUERIES = [
    g for g in GOLDEN if not any(t[0] in "+-" for t in g["q"].split())
]


# SF_SMOKE holds doc ids 0..499. Twenty docs without a token follow, so
# the last 64-doc segment (448..511) ends in empty docs and the next one
# (512..519) has nothing but empty docs.
EMPTY_TEXTS = ["", None, "  ", "!!! --- ???", "\u00e9\u00e8"] * 4
SEG_SIZE, MERGE_ROUNDS = 64, 2


def _cli_args(src: str, out: str, seg_size: int = SEG_SIZE) -> list[str]:
    return [
        "--input", src,
        "--text-col", "text",
        "--out", out,
        "--seg-size", str(seg_size),
        "--merge-rounds", str(MERGE_ROUNDS),
    ]


@pytest.fixture(scope="module")
def src_docs(spark, tmp_path_factory):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    empties = spark.createDataFrame(
        [(n + i, t, "en", "empty", 0) for i, t in enumerate(EMPTY_TEXTS)],
        docs.select("doc_id", "text", "lang", "source", "n_chars").schema,
    )
    src = str(tmp_path_factory.mktemp("src") / "docs.parquet")
    docs.unionByName(empties).write.parquet(src)
    return src


@pytest.fixture(scope="module")
def build_plans():
    return {}


@pytest.fixture(scope="module")
def build_jobs():
    """stage -> the Spark job ids its run_stage call ran, and
    ``after:<stage>`` -> the ids run between that stage and the next
    one (or the end of the build)."""
    return {}


@pytest.fixture(scope="module")
def built_index(spark, src_docs, build_plans, build_jobs, tmp_path_factory):
    """The CLI build, with the physical plan and the Spark jobs of every
    stage recorded (one job group per stage, set around its run_stage
    call, as a benchmark's ledger would set its own)."""
    out = str(tmp_path_factory.mktemp("idx"))
    run_stage = BuildContext.run_stage
    sc = spark.sparkContext
    groups = []

    def traced(self, stage, fingerprint, build, partition_by=None):
        def plan_and_build():
            df = build()
            build_plans[stage] = plan_of(df)
            return df

        sc.setJobGroup(f"build:{stage}", stage)
        groups.append(stage)
        try:
            return run_stage(self, stage, fingerprint, plan_and_build, partition_by)
        finally:
            sc.setJobGroup(f"build:after:{stage}", f"after {stage}")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(BuildContext, "run_stage", traced)
        try:
            assert build_index.main(_cli_args(src_docs, out)) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    for stage in groups:
        for key in (stage, f"after:{stage}"):
            build_jobs[key] = list(sc.statusTracker().getJobIdsForGroup(f"build:{key}"))
    # the build ran at the test session's width (local[8], 8 partitions),
    # not at defaults its own get_spark call would have applied
    meta = json.loads(next((Path(out) / "_meta").glob("*.json")).read_text())
    assert (meta["shuffle_partitions"], meta["cores"]) == (8, 8)
    return out


def _lineage(out: str) -> dict[str, dict]:
    return {
        p.stem: json.loads(p.read_text())
        for p in (Path(out) / "_lineage").glob("*.json")
    }


def _lineage_ts(out: str) -> dict[str, str]:
    return {stage: rec["ts"] for stage, rec in _lineage(out).items()}


def test_resume_skips_completed_stages(spark, src_docs, built_index):
    before = _lineage_ts(built_index)
    assert build_index.main(_cli_args(src_docs, built_index)) == 0
    assert _lineage_ts(built_index) == before  # nothing re-ran


def test_resume_after_partial_failure(spark, src_docs, built_index):
    """Simulate a crash after offsets: wipe the segment and norm stages'
    lineage, re-run, and check only those stages re-execute."""
    out = Path(built_index)
    before = _lineage_ts(built_index)
    wiped = ("segments0", "norms0")
    for stage in wiped:
        (out / "_lineage" / f"{stage}.json").unlink()
    assert build_index.main(_cli_args(src_docs, built_index)) == 0
    after = _lineage_ts(built_index)
    assert after.keys() == before.keys()  # the wiped stages ran again
    for stage, ts in after.items():
        if stage in wiped:
            assert ts >= before[stage]
        else:
            assert ts == before[stage], f"stage {stage} unexpectedly re-ran"


def test_changed_seg_size_reruns_segments_and_norms(
    spark, src_docs, built_index, tmp_path
):
    """Stage fingerprints name the parameters that shape a stage: re-running
    into the same --out with another --seg-size must rebuild segments and
    norms at the new size (not reuse the old tables under a new _meta),
    and must reuse every other stage."""
    out = str(tmp_path / "idx")
    shutil.copytree(built_index, out)
    before = _lineage(out)
    assert build_index.main(_cli_args(src_docs, out, seg_size=32)) == 0
    after = _lineage(out)
    rerun = {s for s in after if after[s]["fingerprint"] != before[s]["fingerprint"]}
    assert rerun == {"segments0", "norms0"}
    for stage in after.keys() - rerun:
        assert after[stage] == before[stage], f"stage {stage} unexpectedly re-ran"
    r = IndexReader(spark, out)
    assert r.meta["seg_size_final"] == 32 * 4
    seg_ids = sorted(x["seg_id"] for x in r.norms.select("seg_id").collect())
    assert seg_ids == list(range(519 // 128 + 1))
    assert r.segments.agg(F.max("seg_id")).first()[0] == 499 // 128


STAGES = {"docs", "postings", "doc_lens", "forms", "offsets", "segments0", "norms0"}


def _copy_with_docs_only(built_index: str, out: Path) -> str:
    """A copy of the built index whose stages after docs have no lineage
    record, so a build into it resumes docs and runs the other six."""
    shutil.copytree(built_index, out)
    for rec in (out / "_lineage").glob("*.json"):
        if rec.stem != "docs":
            rec.unlink()
    return str(out)


class StageFailed(RuntimeError):
    pass


@pytest.mark.parametrize(
    "failing, builder, unrun",
    [
        ("forms", "build_forms", {"forms"}),
        (
            "postings",
            "build_postings_from_docs",
            {"postings", "doc_lens", "forms", "norms0"},
        ),
    ],
)
def test_failed_stage_fails_only_what_reads_it(
    spark, src_docs, built_index, tmp_path, failing, builder, unrun
):
    """A stage that raises fails the stages that read it without running
    them; every other stage still runs and records its lineage. The build
    re-raises the error, and a clean re-run into the same --out runs
    exactly the stages left without a record."""
    from alix_spark.index import build as ib

    out = _copy_with_docs_only(built_index, tmp_path / "idx")

    def fail(*args, **kwargs):
        raise StageFailed(failing)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(ib, builder, fail)
        with pytest.raises(StageFailed, match=failing):
            build_index.main(_cli_args(src_docs, out))
    assert set(_lineage(out)) == STAGES - unrun

    ran = []
    record = BuildContext._record

    def recording(self, stage, rec):
        ran.append(stage)
        record(self, stage, rec)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(BuildContext, "_record", recording)
        assert build_index.main(_cli_args(src_docs, out)) == 0
    assert sorted(ran) == sorted(unrun)
    assert set(_lineage(out)) == STAGES


def test_independent_stages_overlap(spark, src_docs, built_index, tmp_path):
    """postings, offsets and segments0 read only docs and run together:
    their lineage windows (record mtime minus wall_ms, as a benchmark
    ledger computes them) overlap pairwise. Every job of the build keeps
    the caller's job group, and each stage's jobs are described
    ``build:<stage>``."""
    out = _copy_with_docs_only(built_index, tmp_path / "idx")
    sc = spark.sparkContext
    sc.setJobGroup("test-overlap", "overlap")
    try:
        assert build_index.main(_cli_args(src_docs, out)) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    windows = {}
    for stage in ("postings", "offsets", "segments0"):
        path = Path(out) / "_lineage" / f"{stage}.json"
        end = path.stat().st_mtime
        windows[stage] = (end - json.loads(path.read_text())["wall_ms"] / 1000, end)
    for a, (a0, a1) in windows.items():
        for b, (b0, b1) in windows.items():
            assert a0 < b1, (a, b, windows)

    described = set()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    for i in range(jobs.size()):
        group, desc = jobs.apply(i).jobGroup(), jobs.apply(i).description()
        if group.isDefined() and group.get() == "test-overlap":
            described.add(desc.get() if desc.isDefined() else None)
    # jobs outside a stage (the input's footer read, corpus_stats after
    # the doc_lens write) keep the caller's description
    assert described == {f"build:{s}" for s in STAGES - {"docs"}} | {"overlap"}


def test_fingerprint_change_invalidates(spark, src_docs, built_index):
    """A different input fingerprint must re-run stages, not reuse them."""
    ctx = BuildContext(spark, built_index)
    assert ctx.stage_done("docs", f"input:{src_docs}|text_col=text")
    assert not ctx.stage_done("docs", "input:/some/other/table|text_col=text")
    assert not ctx.stage_done("docs", f"input:{src_docs}|text_col=content")


def test_failed_rerun_forgets_the_old_record(spark, tmp_path):
    """A re-run whose write fails leaves no record of the stage: the
    earlier run's record would mark the table that the failed overwrite
    emptied as done, and the next run with the earlier fingerprint would
    load the empty table instead of rebuilding it."""
    from pyspark.sql.functions import udf

    ctx = BuildContext(spark, str(tmp_path / "idx"))

    def ten_rows():
        return spark.range(10)

    @udf("long")
    def fail(x):
        raise RuntimeError("stage write failed")

    assert ctx.run_stage("t", "fp1", ten_rows).count() == 10
    with pytest.raises(Exception, match="stage write failed"):
        ctx.run_stage("t", "fp2", lambda: spark.range(10).select(fail("id")))
    assert ctx.record("t") is None
    assert ctx.run_stage("t", "fp1", ten_rows).count() == 10


def test_sha256_invariant_enforced(spark, tmp_path):
    """A corrupted sha256 column fails the build."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    bad = docs.withColumn("content", F.col("text")).withColumn(
        "sha256",
        F.when(F.col("doc_id") == 3, F.lit("deadbeef")).otherwise(
            F.sha2(F.col("text"), 256)
        ),
    )
    src = str(tmp_path / "bad_docs")
    bad.write.parquet(src)
    with pytest.raises(RuntimeError, match="sha256 ingest invariant"):
        build_index.main(
            ["--input", src, "--out", str(tmp_path / "idx"), "--seg-size", "64"]
        )


def test_reader_rank_identity(spark, built_index):
    r = IndexReader(spark, built_index)
    for case in OR_QUERIES[:6]:
        got = [(x["doc_id"], x["score"]) for x in r.search(case["q"], 10).collect()]
        exp = [(int(d), float(s)) for d, s in case["topk"]]
        assert [d for d, _ in got] == [d for d, _ in exp], case["q"]
        for (gd, gs), (_, es) in zip(got, exp):
            assert math.isclose(gs, es, rel_tol=1e-5, abs_tol=1e-6)


@pytest.mark.parametrize("case", GOLDEN, ids=[g["q"] for g in GOLDEN])
def test_reader_lucene_golden(spark, built_index, case):
    """Every Lucene golden query — OR, MUST, SHOULD under MUST, MUST_NOT,
    repeated terms — served by IndexReader from the CLI-built index, with
    the tolerance of the Corpus rank-identity gate. The CLI keeps the
    input doc ids, so they are the golden's."""
    r = IndexReader(spark, built_index)
    got = [(x["doc_id"], x["score"]) for x in r.search(case["q"], 10).collect()]
    exp = [(int(d), float(s)) for d, s in case["topk"]]
    assert [d for d, _ in got] == [d for d, _ in exp], (case["q"], got, exp)
    for (gd, gs), (_, es) in zip(got, exp):
        assert math.isclose(gs, es, rel_tol=1e-5, abs_tol=1e-6), (case["q"], gd)


def _rows(df, key: list[str]) -> list[tuple]:
    """Every row of a table, binary columns as bytes, in key order."""
    cols = sorted(df.columns)
    pdf = df.select(*cols).toPandas().sort_values(key)
    return [
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in row)
        for row in pdf.itertuples(index=False)
    ]


def test_final_tables_equal_merge_tree(spark, src_docs, built_index):
    """The CLI encodes segments once at seg_size · 2^rounds; its tables must
    equal the small-segment build followed by the merge rounds, byte for
    byte — including the segment that ends in empty docs and the one that
    holds nothing else."""
    docs = spark.read.parquet(src_docs).select("doc_id", "text")
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, text_col="text", seg_size=SEG_SIZE)
    )
    for _ in range(MERGE_ROUNDS):
        segs, norms = seg_mod.merge_segments(segs, norms, group=2)
    r = IndexReader(spark, built_index)
    assert r.meta["seg_size_final"] == SEG_SIZE * 2**MERGE_ROUNDS
    seg_key = ["term", "seg_id", "block_id"]
    got_segs = _rows(spark.read.parquet(f"{built_index}/segments0"), seg_key)
    assert got_segs == _rows(segs, seg_key)
    got_norms = _rows(r.norms, ["seg_id"])
    assert got_norms == _rows(norms, ["seg_id"])
    by_seg = {row["seg_id"]: row for row in r.norms.collect()}
    assert sorted(by_seg) == [0, 1, 2]
    assert by_seg[1]["n_docs"] == 500 - 256  # trailing empty docs add no bytes
    # a segment of nothing but empty docs keeps its (empty) norm row
    assert (by_seg[2]["first_doc"], by_seg[2]["n_docs"]) == (512, 0)
    assert bytes(by_seg[2]["norm_bytes"]) == b""



def test_merge_of_empty_segment_equals_direct_build(spark, src_docs):
    """At 24 docs a segment, 480..503 ends in empty docs and 504..527 holds
    only empty ones; merged in one group they must give the direct-build
    norm row, whose bytes end at the last doc with a token."""
    docs = spark.read.parquet(src_docs).select("doc_id", "text")
    segs, norms = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, text_col="text", seg_size=24)
    )
    for _ in range(2):
        segs, norms = seg_mod.merge_segments(segs, norms, group=2)
    _, direct = seg_mod.split_single_pass(
        seg_mod.build_single_pass_from_docs(docs, text_col="text", seg_size=96)
    )
    assert _rows(norms, ["seg_id"]) == _rows(direct, ["seg_id"])


def test_reader_sees_only_posting_rows(spark, built_index):
    r = IndexReader(spark, built_index)
    assert r.segments.filter(
        (F.col("term") == seg_mod.NORM_MARKER) | (F.col("bucket") < 0)
    ).count() == 0


def test_reader_open_runs_no_listing_job(spark, tmp_path):
    """One leaf dir per bucket keeps the segment table at Spark's
    parallel-listing threshold (32 paths): open lists files on the
    driver. A vocabulary that fills all 32 buckets makes the check bite."""
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(d, " ".join(f"w{d * 8 + i}" for i in range(8))) for d in range(64)],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "idx")
    assert build_index.main(
        ["--input", src, "--text-col", "text", "--out", out, "--seg-size", "16"]
    ) == 0
    assert len(list(Path(out, "segments0").glob("bucket=*"))) == 32
    sc = spark.sparkContext
    sc.setJobGroup("test-reader-open", "open")
    try:
        IndexReader(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    descriptions = [
        store.job(j).description()
        for j in sc.statusTracker().getJobIdsForGroup("test-reader-open")
    ]
    listing = [
        d.get() for d in descriptions
        if d.isDefined() and d.get().startswith("Listing leaf files")
    ]
    assert listing == []
    # nor any other job: _meta is parsed on the driver and every table is
    # read with its known schema (no footer-inference job)
    assert [d.get() if d.isDefined() else None for d in descriptions] == []


def test_lineage_records_match_the_written_tables(spark, built_index):
    """Each stage's lineage rows/bytes/files come from the written files,
    with no count job: they equal a count of the table read back and the
    sizes of its parquet part files."""
    recs = _lineage(built_index)
    assert set(recs) == {
        "docs", "postings", "doc_lens", "forms", "offsets", "segments0", "norms0"
    }
    for stage, rec in recs.items():
        table = Path(built_index) / stage
        files = list(table.rglob("*.parquet"))
        assert rec["rows"] == spark.read.parquet(str(table)).count(), stage
        assert rec["bytes"] == sum(f.stat().st_size for f in files), stage
        assert rec["files"] == len(files), stage
    metrics = spark.read.parquet(f"{built_index}/_metrics")
    assert {r["stage"]: (r["rows"], r["bytes"], r["files"]) for r in metrics.collect()} == {
        s: (r["rows"], r["bytes"], r["files"]) for s, r in recs.items()
    }
    lineage = spark.read.parquet(f"{built_index}/_lineage_table")
    assert {r["stage"]: r["fingerprint"] for r in lineage.collect()} == {
        s: r["fingerprint"] for s, r in recs.items()
    }


def test_build_stages_run_only_their_work(built_index, build_jobs):
    """No read-back or count job follows a stage's write, and the
    metadata written after the last stage is the driver's: postings is
    its one map-side write job, doc_lens and norms0 are an aggregation's
    map stage plus the write, and nothing runs after norms0."""
    assert len(build_jobs["postings"]) == 1
    assert len(build_jobs["doc_lens"]) <= 2
    assert len(build_jobs["norms0"]) <= 2
    assert build_jobs["after:norms0"] == []


def test_segments_and_offsets_write_at_session_width(built_index):
    """--buckets is layout only: one file per bucket dir, and offsets
    written at the session's width (8 here) rather than one task per
    bucket."""
    seg = Path(built_index) / "segments0"
    assert all(
        len(list(d.glob("*.parquet"))) == 1 for d in seg.glob("bucket=*")
    )
    assert len(list((Path(built_index) / "offsets").glob("*.parquet"))) <= 8


def test_meta_keeps_its_keys(spark, built_index):
    """_meta is written by the driver with every key it had, readable as
    before by a JSON glob and by spark.read.json."""
    meta_dir = Path(built_index) / "_meta"
    assert sorted(p.name for p in meta_dir.iterdir()) == [
        "_SUCCESS", "part-00000.json"
    ]
    meta = json.loads((meta_dir / "part-00000.json").read_text())
    assert set(meta) == {
        "n_docs", "n_docs_with_tokens", "avgdl", "seg_size_final", "buckets",
        "shuffle_partitions", "cores", "final_segments", "final_norms",
    }
    assert meta["n_docs"] == 500 + len(EMPTY_TEXTS)
    assert meta["final_segments"] == "segments0"
    assert meta["final_norms"] == "norms0"
    assert spark.read.json(str(meta_dir)).collect()[0].asDict() == meta


def test_build_releases_what_it_persists(spark, tmp_path):
    """The row numbering of docs and forms persists its range-partitioned
    input; each is unpersisted once its stage's write has committed."""
    from alix_spark import ingest

    src = str(tmp_path / "docs.parquet")
    ingest.synthesize_code_corpus(spark, 40).write.parquet(src)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    assert build_index.main(
        ["--input", src, "--out", str(tmp_path / "idx"), "--seg-size", "16"]
    ) == 0
    assert set(rdds().keys()) == before


def test_postings_stage_has_no_exchange(built_index, build_plans):
    """Postings come map-side from the raw docs: no token shuffle."""
    assert "postings" in build_plans
    assert "Exchange" not in build_plans["postings"]


def test_synth_corpus_deterministic(spark):
    from alix_spark import ingest

    a = ingest.synthesize_code_corpus(spark, 100).orderBy("repo", "path")
    b = ingest.synthesize_code_corpus(spark, 100).orderBy("repo", "path")
    ra, rb = a.collect(), b.collect()
    assert ra == rb
    assert all(r["sha256"] for r in ra)
    # docId derivation is stable
    da = ingest.assign_doc_ids(a).select("repo", "path", "doc_id").collect()
    db = ingest.assign_doc_ids(b).select("repo", "path", "doc_id").collect()
    assert sorted(map(tuple, da)) == sorted(map(tuple, db))

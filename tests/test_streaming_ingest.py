"""Structured Streaming ingest: per-file micro-batches MERGE into the
versioned index; CURRENT pointer publishes atomically; final index is
query-identical to a fresh computation over the final docs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from alix_spark.streaming import StreamingIndexer, docs_file_stream

SEG_SIZE = 32


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    land = tmp_path_factory.mktemp("landing")
    idx = tmp_path_factory.mktemp("stream_idx")
    ckpt = tmp_path_factory.mktemp("ckpt")

    batch1 = [
        (f"org/r{i % 3}", f"src/f{i}.py", "c1", "py",
         f"alpha beta gamma tok{i} delta fast join")
        for i in range(50)
    ]
    # batch2: update 3 existing paths + insert 5 new ones
    batch2 = [
        ("org/r0", "src/f0.py", "c2", "py", "updated epsilon fast merge"),
        ("org/r1", "src/f1.py", "c2", "py", "updated zeta fast merge"),
        ("org/r2", "src/f2.py", "c2", "py", "updated eta fast merge"),
    ] + [
        ("zzz/new", f"src/n{i}.py", "c2", "py", f"fresh insert theta tok{i}")
        for i in range(5)
    ]
    _rows(spark, batch1).coalesce(1).write.mode("overwrite").parquet(
        str(land / "b1")
    )
    _rows(spark, batch2).coalesce(1).write.mode("overwrite").parquet(
        str(land / "b2")
    )
    # the file stream watches a flat dir of files: relocate the parts
    import glob
    import shutil

    for i, d in enumerate(("b1", "b2")):
        (part,) = glob.glob(str(land / d / "part-*.parquet"))
        shutil.copy(part, str(land / f"file{i}.parquet"))
        shutil.rmtree(str(land / d))

    indexer = StreamingIndexer(spark, str(idx), seg_size=SEG_SIZE)
    q = indexer.start(
        docs_file_stream(spark, str(land)), checkpoint=str(ckpt)
    )
    q.awaitTermination(120)
    return indexer


def test_versions_published(streamed):
    # one version per micro-batch (maxFilesPerTrigger=1 → 2 files)
    assert streamed.current_version() == 2


def test_final_docs_merged(streamed):
    docs, _, _ = streamed.load_tables()
    assert docs.count() == 55  # 50 + 5 inserts (updates in place)
    upd = docs.filter(F.col("path") == "src/f0.py").collect()
    assert len(upd) == 1 and "updated" in upd[0]["content"]
    # ids stable for updates, appended for inserts
    assert docs.agg(F.max("doc_id")).collect()[0][0] == 54


def test_streamed_index_matches_fresh(streamed):
    """Kernel BM25 on the streamed index == DataFrame BM25 recomputed from
    the merged docs table."""
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib
    from alix_spark.search import bm25 as bm25_mod
    from alix_spark.search import wand as wand_mod

    docs, segs, norms = streamed.load_tables()
    tokens = simple.tokenize(docs, "doc_id", "content")
    postings = ib.build_postings(tokens).cache()
    doc_lens = ib.build_doc_lens(tokens)
    n, avgdl = bm25_mod.corpus_stats(doc_lens)
    dfs = {
        r["term"]: int(r["df"])
        for r in postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    for q in ["fast merge", "updated epsilon", "fresh theta"]:
        got = wand_mod.boolean_topk(
            segs, norms, [], q.split(), [], dfs, n, avgdl, k=10
        ).collect()
        exp = bm25_mod.bm25_topk(
            postings, doc_lens, q.split(), k=10, lucene=True,
            n_docs=n, avgdl=avgdl,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e["score"], rel_tol=1e-6)


def test_crash_safety_pointer(streamed, spark, tmp_path):
    """CURRENT only moves after all tables commit: a fresh indexer over
    an empty dir reports version 0 and empty-but-typed tables."""
    fresh = StreamingIndexer(spark, str(tmp_path / "empty_idx"))
    assert fresh.current_version() == 0
    docs, segs, norms = fresh.load_tables()
    assert docs.count() == 0 and segs.count() == 0 and norms.count() == 0
    assert "positions" in segs.columns


def test_watermarked_window_drops_late_events(spark, tmp_path):
    """Tumbling-window counts with a 2h watermark: an event arriving
    after the watermark passed its window is dropped (late-data
    semantics), on-time events aggregate normally."""
    from alix_spark.streaming import windowed_event_counts

    land = tmp_path / "events"
    land.mkdir()
    schema = "ts timestamp, event_type string, value double"

    def write_file(name, rows):
        import glob
        import shutil

        d = tmp_path / ("_" + name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        (part,) = glob.glob(str(d / "part-*.parquet"))
        shutil.copy(part, str(land / f"{name}.parquet"))
        shutil.rmtree(str(d))

    import datetime as dt

    t = lambda h, m: dt.datetime(2026, 1, 1, h, m)

    emitted: list = []

    def run_round():
        # a fresh availableNow run over the SAME checkpoint: watermark
        # state persists across runs, so round boundaries are hard batch
        # boundaries (file-source rate options can coalesce within a run);
        # foreachBatch (unlike the memory sink) supports checkpoint
        # recovery
        stream = spark.readStream.schema(schema).parquet(str(land))
        q = (
            windowed_event_counts(stream)
            .writeStream.foreachBatch(
                lambda df, bid: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # round 1: two events in [10:00, 11:00) and one at 13:30 that pushes
    # the watermark to 11:30, closing the 10-11 window
    write_file("f0", [(t(10, 5), "a", 1.0), (t(10, 20), "a", 2.0),
                      (t(13, 30), "b", 5.0)])
    run_round()
    # round 2: a LATE event for the already-closed 10-11 window (dropped)
    # plus an on-time one
    write_file("f1", [(t(10, 40), "a", 100.0), (t(14, 0), "b", 7.0)])
    run_round()
    rows = {
        (r["window"]["start"].hour, r["event_type"]): (r["n"], r["sum_value"])
        for r in emitted
    }
    # the 10-11 'a' window emitted with ONLY the two on-time events —
    # the late 100.0 event was dropped by the watermark
    assert rows.get((10, "a")) == (2, 3.0), rows


def _dir_bytes(p):
    import os

    total = 0
    for root, _, files in os.walk(p):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@pytest.fixture(scope="module")
def manifested(spark, tmp_path_factory):
    """Three hand-driven micro-batches at seg_size=8 over 50 docs: batch2
    touches segs {0, 6} only, batch3 touches seg 3 only."""
    idx = tmp_path_factory.mktemp("manifest_idx")
    ix = StreamingIndexer(spark, str(idx), seg_size=8, retain_versions=2)
    b1 = _rows(
        spark,
        [
            (f"org/r{i % 3}", f"src/f{i}.py", "c1", "py",
             f"alpha beta tok{i} delta")
            for i in range(50)
        ],
    )
    b2 = _rows(
        spark,
        [("org/r0", "src/f0.py", "c2", "py", "updated zeta")]
        + [("zzz/new", f"src/n{i}.py", "c2", "py", "fresh theta")
           for i in range(5)],
    )
    b3 = _rows(spark, [("org/r0", "src/f27.py", "c3", "py", "updated eta")])
    manifests = {}
    for bid, b in enumerate((b1, b2, b3)):
        ix.process_batch(b, bid)
        v = ix.current_version()
        manifests[v] = ix.read_manifest(v)  # snapshot before GC drops it
    return ix, manifests


def test_manifest_write_amplification(manifested):
    """A micro-batch's write IO is proportional to TOUCHED segments:
    batch2 (1 update in seg 0 + 5 inserts in seg 6) writes only those two
    segments' file groups; every untouched segment is carried by
    REFERENCE — the same relative path (same files on disk) as v1."""
    ix, manifests = manifested
    m1, m2 = manifests[1], manifests[2]
    gen2 = {t: sorted(
        int(s) for s, p in m2["tables"][t].items() if "gen=2" in p
    ) for t in ("docs", "segments", "norms")}
    assert gen2 == {"docs": [0, 6], "segments": [0, 6], "norms": [0, 6]}
    for t in ("docs", "segments", "norms"):
        for s in map(str, range(1, 6)):
            assert m2["tables"][t][s] == m1["tables"][t][s], (t, s)
    # and the gen=2 directory holds ~2 segments' worth of bytes, not 7
    import os

    g1 = _dir_bytes(os.path.join(ix.index_dir, "data/gen=1"))
    g2 = _dir_bytes(os.path.join(ix.index_dir, "data/gen=2"))
    assert g2 < 0.6 * g1, (g1, g2)


def test_manifest_version_gc(manifested):
    """retain_versions=2: after v3 publishes, v1's manifest and every
    file group only v1 referenced are gone; v2 and v3 readers are intact."""
    import os

    ix, _ = manifested
    assert ix.current_version() == 3
    assert not os.path.exists(os.path.join(ix.index_dir, "v1.json"))
    assert os.path.exists(os.path.join(ix.index_dir, "v2.json"))
    # v1-only file groups (segs 0 and 6 of gen=1, superseded by gen=2)
    assert not os.path.exists(
        os.path.join(ix.index_dir, "data/gen=1/docs/seg=0")
    )
    # still-referenced gen=1 groups survive (seg 1 is referenced by v2+v3)
    assert os.path.exists(os.path.join(ix.index_dir, "data/gen=1/docs/seg=1"))
    docs, segs, norms = ix.load_tables()
    assert docs.count() == 55
    assert "updated eta" in [
        r["content"]
        for r in docs.filter(F.col("path") == "src/f27.py").collect()
    ][0]


def test_manifested_index_query_identity(manifested):
    """Kernel BM25 served off the manifest-assembled segments equals a
    fresh DataFrame BM25 over the merged docs."""
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib
    from alix_spark.search import bm25 as bm25_mod
    from alix_spark.search import wand as wand_mod

    docs, segs, norms = manifested[0].load_tables()
    tokens = simple.tokenize(docs, "doc_id", "content")
    postings = ib.build_postings(tokens).cache()
    doc_lens = ib.build_doc_lens(tokens)
    n, avgdl = bm25_mod.corpus_stats(doc_lens)
    dfs = {
        r["term"]: int(r["df"])
        for r in postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    for q in ["updated zeta", "fresh theta", "alpha delta"]:
        got = wand_mod.boolean_topk(
            segs, norms, [], q.split(), [], dfs, n, avgdl, k=10
        ).collect()
        exp = bm25_mod.bm25_topk(
            postings, doc_lens, q.split(), k=10, lucene=True,
            n_docs=n, avgdl=avgdl,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e["score"], rel_tol=1e-6)


def test_compaction_and_post_compact_batches(spark, tmp_path):
    """compact() = one tree-merge round over the live index (Lucene
    background merges in the streaming path): seg_size doubles in the
    manifest, query results are identical, and the NEXT micro-batch
    still writes only touched (now coarser) segments."""
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib
    from alix_spark.search import bm25 as bm25_mod
    from alix_spark.search import wand as wand_mod

    ix = StreamingIndexer(
        spark, str(tmp_path / "cidx"), seg_size=8, retain_versions=2
    )
    b1 = _rows(
        spark,
        [
            (f"org/r{i % 3}", f"src/f{i}.py", "c1", "py",
             f"alpha beta tok{i} delta")
            for i in range(48)
        ],
    )
    ix.process_batch(b1, 0)
    assert ix.current_seg_size() == 8
    v = ix.compact(group=2)
    assert ix.current_version() == v and ix.current_seg_size() == 16
    docs, segs, norms = ix.load_tables()
    assert segs.select("seg_id").distinct().count() == 3  # 48/16
    # post-compaction batch: update doc in (new) seg 0 + inserts at tail
    b2 = _rows(
        spark,
        [("org/r0", "src/f0.py", "c2", "py", "updated zeta")]
        + [("zzz/new", f"src/n{i}.py", "c2", "py", "fresh theta")
           for i in range(2)],
    )
    ix.process_batch(b2, 1)
    man = ix.read_manifest()
    assert man["seg_size"] == 16
    gen = f"data/gen={ix.current_version()}"
    touched = sorted(
        int(s) for s, p in man["tables"]["segments"].items() if gen in p
    )
    assert touched == [0, 3]  # update in seg 0; inserts 48-49 -> seg 3
    # untouched compacted segments carried by reference
    comp_gen = f"data/gen={v}"
    assert all(
        comp_gen in man["tables"]["segments"][str(s)] for s in (1, 2)
    )
    # query identity vs a fresh build over the merged docs
    docs, segs, norms = ix.load_tables()
    tokens = simple.tokenize(docs, "doc_id", "content")
    postings = ib.build_postings(tokens).cache()
    doc_lens = ib.build_doc_lens(tokens)
    n, avgdl = bm25_mod.corpus_stats(doc_lens)
    dfs = {
        r["term"]: int(r["df"])
        for r in postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    for q in ["updated zeta", "fresh theta", "alpha delta"]:
        got = wand_mod.boolean_topk(
            segs, norms, [], q.split(), [], dfs, n, avgdl, k=10
        ).collect()
        exp = bm25_mod.bm25_topk(
            postings, doc_lens, q.split(), k=10, lucene=True,
            n_docs=n, avgdl=avgdl,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e["score"], rel_tol=1e-6)


def test_crash_before_publish_leaves_current_good(spark, tmp_path):
    """A crash between file-group writes and the pointer swap leaves
    CURRENT on the previous good version; the next successful batch
    reuses the version number and readers never see the orphan."""
    ix = StreamingIndexer(spark, str(tmp_path / "kidx"), seg_size=8)
    ix.process_batch(
        _rows(spark, [("o/r", f"f{i}", "c1", "py", f"alpha tok{i}")
                      for i in range(10)]), 0)
    assert ix.current_version() == 1
    orig_publish = ix._publish
    ix._publish = lambda v: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        ix.process_batch(
            _rows(spark, [("o/r", "f0", "c2", "py", "updated beta")]), 1)
    ix._publish = orig_publish
    # reader still sees the good v1 (no 'updated' content)
    assert ix.current_version() == 1
    docs, _, _ = ix.load_tables()
    assert docs.filter(F.col("content").contains("updated")).count() == 0
    # next batch succeeds, overwriting the orphan gen=2 files
    ix.process_batch(
        _rows(spark, [("o/r", "f0", "c3", "py", "updated gamma")]), 2)
    assert ix.current_version() == 2
    docs, _, _ = ix.load_tables()
    assert docs.filter(F.col("content").contains("gamma")).count() == 1


def test_index_reader_opens_streaming_manifest(spark, tmp_path):
    """IndexReader.open_streaming serves OR queries straight off the
    CURRENT manifest version — the batch reader's query surface over
    the live streamed index, snapshot-pinned at open time."""
    from alix_spark.index.reader import IndexReader

    ix = StreamingIndexer(spark, str(tmp_path / "ridx"), seg_size=8)
    ix.process_batch(
        _rows(spark, [("o/r", f"f{i}", "c1", "py",
                       f"alpha beta tok{i} fast join")
                      for i in range(20)]), 0)
    rd = IndexReader.open_streaming(spark, str(tmp_path / "ridx"))
    assert rd.n_docs == 20 and rd.meta["version"] == 1
    hits = rd.search("fast join", k=5).collect()
    assert len(hits) == 5 and all(r["score"] > 0 for r in hits)
    # snapshot pinning: a later publish doesn't disturb the open reader
    ix.process_batch(
        _rows(spark, [("o/r", "f0", "c2", "py", "rewritten entirely")]), 1)
    assert rd.search("fast join", k=5).count() == 5


@pytest.fixture(scope="module")
def sharded(spark, tmp_path_factory):
    """The same three micro-batch scenario as `manifested`, but with
    manifest-list sharding forced low (segs_per_shard=4): 7 segments →
    shards {0: segs 0-3, 1: segs 4-6} per table."""
    idx = tmp_path_factory.mktemp("sharded_idx")
    ix = StreamingIndexer(
        spark, str(idx), seg_size=8, retain_versions=2, segs_per_shard=4
    )
    b1 = _rows(
        spark,
        [
            (f"org/r{i % 3}", f"src/f{i}.py", "c1", "py",
             f"alpha beta tok{i} delta")
            for i in range(50)
        ],
    )
    b2 = _rows(
        spark,
        [("org/r0", "src/f0.py", "c2", "py", "updated zeta")]
        + [("zzz/new", f"src/n{i}.py", "c2", "py", "fresh theta")
           for i in range(5)],
    )
    b3 = _rows(spark, [("org/r0", "src/f27.py", "c3", "py", "updated eta")])
    raws = {}
    for bid, b in enumerate((b1, b2, b3)):
        ix.process_batch(b, bid)
        v = ix.current_version()
        raws[v] = ix._read_raw(v)
    return ix, raws


def test_sharded_manifest_publish_is_o_touched(sharded):
    """batch2 touches segs {0, 6} → shard 0 (segs 0-3) and shard 1
    (segs 4-6) are both dirty and rewritten; batch3 touches seg 3 only →
    shard 1 is carried BY REFERENCE (same shard file as v2), so the
    manifest write cost follows touched segments, not total segments."""
    ix, raws = sharded
    assert "shards" in raws[1] and "tables" not in raws[1]
    for t in ("docs", "segments", "norms"):
        assert sorted(raws[1]["shards"][t]) == ["0", "1"]
        # v3 (touched seg 3 → shard 0): shard 1 carried from v2
        assert raws[3]["shards"][t]["1"] == raws[2]["shards"][t]["1"], t
        assert raws[3]["shards"][t]["0"] != raws[2]["shards"][t]["0"], t
        assert "v3" in raws[3]["shards"][t]["0"]


def test_sharded_manifest_resolves_and_serves(sharded, spark):
    """read_manifest resolves shards to the same (table → seg → path)
    map shape; load_tables + search work identically off it."""
    from alix_spark.index.reader import IndexReader

    ix, _ = sharded
    man = ix.read_manifest()
    assert sorted(int(s) for s in man["tables"]["docs"]) == list(range(7))
    docs, segs, norms = ix.load_tables()
    assert docs.count() == 55
    rd = IndexReader.open_streaming(spark, ix.index_dir)
    hits = rd.search("alpha beta", k=5).collect()
    assert len(hits) == 5 and all(r["score"] > 0 for r in hits)


def test_sharded_manifest_gc_drops_orphan_shards(sharded):
    """retain_versions=2 → v1's manifest AND its no-longer-referenced
    shard files are deleted; every shard a retained manifest references
    survives, and file-group GC semantics are unchanged."""
    import os

    ix, _ = sharded
    assert ix.current_version() == 3
    assert not os.path.exists(os.path.join(ix.index_dir, "v1.json"))
    mdata = os.path.join(ix.index_dir, "mdata")
    on_disk = set(os.listdir(mdata))
    referenced = set()
    for v in (2, 3):
        for t, smap in ix._read_raw(v)["shards"].items():
            referenced.update(p.split("/", 1)[1] for p in smap.values())
    assert on_disk == referenced, (on_disk, referenced)
    # v1-only file groups are gone; still-referenced gen=1 groups live
    assert not os.path.exists(
        os.path.join(ix.index_dir, "data/gen=1/docs/seg=0")
    )
    assert os.path.exists(os.path.join(ix.index_dir, "data/gen=1/docs/seg=1"))


def test_sharded_manifest_compaction(spark, tmp_path):
    """compact() on a sharded-manifest index: the merged version writes
    a fresh full shard set (affected=None forces the rewrite), queries
    stay identical, and GC eventually reclaims pre-compaction shards."""
    from alix_spark.index.reader import IndexReader

    ix = StreamingIndexer(
        spark, str(tmp_path / "cidx"), seg_size=8, retain_versions=1,
        segs_per_shard=2,
    )
    ix.process_batch(
        _rows(spark, [("o/r", f"f{i}", "c1", "py",
                       f"alpha beta tok{i} fast join")
                      for i in range(30)]), 0)
    before = IndexReader.open_streaming(spark, ix.index_dir)
    exp = [(r["doc_id"], round(r["score"], 6))
           for r in before.search("fast join", k=5).collect()]
    v = ix.compact(group=2)
    assert ix.current_seg_size() == 16 and v == 2
    raw = ix._read_raw(v)
    assert all(f"v{v}" in p for smap in raw["shards"].values()
               for p in smap.values())
    after = IndexReader.open_streaming(spark, ix.index_dir)
    got = [(r["doc_id"], round(r["score"], 6))
           for r in after.search("fast join", k=5).collect()]
    assert got == exp
    # retain_versions=1: only v2's shards remain on disk
    import os

    on_disk = set(os.listdir(os.path.join(ix.index_dir, "mdata")))
    assert all("v2" in f for f in on_disk), on_disk


def test_auto_sharding_trips_at_threshold(spark, tmp_path, monkeypatch):
    """A DEFAULT-constructed indexer (segs_per_shard="auto") stays on
    the cheap inline manifest below AUTO_SHARD_THRESHOLD entries, then
    shards (span AUTO_SEGS_PER_SHARD, recorded in the manifest) the
    first version that crosses it — and stays sharded, carrying
    untouched shards by reference on the next small batch."""
    import alix_spark.streaming as st
    from alix_spark.index.reader import IndexReader

    monkeypatch.setattr(st, "AUTO_SEGS_PER_SHARD", 2)
    monkeypatch.setattr(st, "AUTO_SHARD_THRESHOLD", 4)
    ix = StreamingIndexer(spark, str(tmp_path / "aidx"), seg_size=8)
    assert ix.segs_per_shard == "auto"
    # v1: 24 docs -> 3 segments <= threshold 4 -> inline
    ix.process_batch(_rows(spark, [
        ("o/r", f"f{i}", "c1", "py", f"alpha beta tok{i} fast join")
        for i in range(24)]), 0)
    raw1 = ix._read_raw(1)
    assert "tables" in raw1 and "shards" not in raw1
    # v2: 48 docs -> 6 segments > threshold -> sharded, span recorded
    ix.process_batch(_rows(spark, [
        ("o/r", f"g{i}", "c1", "py", f"gamma delta tok{i} fast join")
        for i in range(24)]), 1)
    raw2 = ix._read_raw(2)
    assert "shards" in raw2 and raw2["segs_per_shard"] == 2
    # v3: 1-doc update -> sticky sharded; untouched shards carried by
    # file reference from v2
    ix.process_batch(
        _rows(spark, [("o/r", "f0", "c2", "py", "updated omega")]), 2)
    raw3 = ix._read_raw(3)
    assert "shards" in raw3 and raw3["segs_per_shard"] == 2
    carried = sum(
        raw3["shards"][t][k] == raw2["shards"][t].get(k)
        for t in ("docs", "segments", "norms")
        for k in raw3["shards"][t])
    assert carried > 0
    # the mixed inline/sharded history resolves and serves identically
    rd = IndexReader.open_streaming(spark, ix.index_dir)
    assert rd.search("fast join", k=5).count() == 5
    assert "updated" in {
        r["term"] for r in rd.forms.select("term").collect()}


def test_legacy_sharded_manifest_forces_full_rewrite(spark, tmp_path):
    """A sharded manifest written before the span was recorded
    (pre-auto format, no "segs_per_shard" key) may use ANY span — so
    the next publish must NOT carry its shard files by reference under
    a guessed grouping (that silently drops the entries outside each
    old file's range). It must rewrite the full shard set."""
    import json
    from pathlib import Path

    from alix_spark.index.reader import IndexReader

    ix = StreamingIndexer(
        spark, str(tmp_path / "lidx"), seg_size=8, segs_per_shard=3
    )
    ix.process_batch(_rows(spark, [
        ("o/r", f"f{i}", "c1", "py", f"alpha beta tok{i} fast join")
        for i in range(40)]), 0)  # 5 segments, span 3 -> shards {0,1}
    # simulate the legacy format: drop the recorded span from v1
    mp = Path(ix.index_dir) / "v1.json"
    man = json.loads(mp.read_text())
    del man["segs_per_shard"]
    mp.write_text(json.dumps(man))
    # reopen with the default (auto) constructor; tiny update batch
    ix2 = StreamingIndexer(spark, str(tmp_path / "lidx"), seg_size=8)
    ix2.process_batch(
        _rows(spark, [("o/r", "f0", "c2", "py", "updated omega")]), 1)
    raw2 = ix2._read_raw(2)
    # every shard file is freshly written at v2 (none carried from v1)
    assert all(
        "v2" in p for smap in raw2["shards"].values() for p in smap.values()
    ), raw2["shards"]
    # and the index still serves every segment's postings
    rd = IndexReader.open_streaming(spark, ix2.index_dir)
    assert rd.search("fast join", k=5).count() == 5
    assert "updated" in {r["term"] for r in rd.forms.select("term").collect()}


def test_load_tables_runs_no_job(spark, tmp_path):
    """The manifest's tables are read with their known schemas: opening
    them (and asking their schemas) runs no footer-inference job, and the
    schemas equal what Spark infers from the files."""
    ix = StreamingIndexer(spark, str(tmp_path / "sidx"), seg_size=8)
    ix.process_batch(_rows(spark, [
        ("o/r", f"f{i}", "c1", "py", f"alpha beta tok{i} fast join")
        for i in range(20)]), 0)
    sc = spark.sparkContext
    sc.setJobGroup("test-load-tables", "load_tables")
    try:
        schemas = [t.schema for t in ix.load_tables()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test-load-tables")) == []
    man = ix.read_manifest()
    for table, schema in zip(("docs", "segments", "norms"), schemas):
        paths = [f"{ix.index_dir}/{rel}" for rel in man["tables"][table].values()]
        assert schema == spark.read.parquet(*paths).schema, table


def test_process_batch_releases_its_caches(spark, tmp_path):
    """With the session-wide clearCache off, a batch with inserts leaves
    no persisted RDD behind: the update's classifying join, its rebuilt
    segments and the inserts' id assignment are released once the
    batch's writes have committed."""
    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    ix = StreamingIndexer(
        spark, str(tmp_path / "cache_idx"), seg_size=8,
        clear_cache_after_batch=False,
    )
    baseline = persisted()
    ix.process_batch(_rows(spark, [
        ("o/r", f"f{i}", "c1", "py", f"alpha beta tok{i}") for i in range(12)
    ]), 0)
    assert persisted() == baseline
    # an update in place plus inserts at the tail
    ix.process_batch(_rows(spark, [("o/r", "f0", "c2", "py", "updated")] + [
        ("o/r", f"n{i}", "c2", "py", f"fresh tok{i}") for i in range(3)
    ]), 1)
    assert ix.current_version() == 2
    assert persisted() == baseline


V1_SEGMENT_SCHEMA = (
    "bucket int, seg_id long, term string, block_id int, n int, "
    "doc_gaps binary, tfs binary, first_doc long, last_doc long, "
    "max_tf int, min_dl long, sum_tf long, positions binary"
)


def _v1_segment_rows(segs, norms):
    """Segment rows in the layout written before ``last_doc``, ``max_tf``
    and ``min_dl`` left the format: the three columns computed back from
    each block's postings and its segment's norm bytes."""
    import numpy as np

    from alix_spark.index import codec
    from alix_spark.index import segments as seg_mod

    norm_by_seg = {
        int(r["seg_id"]): (
            int(r["first_doc"]),
            codec.byte4_to_int(np.frombuffer(r["norm_bytes"], np.uint8)),
        )
        for _, r in norms.iterrows()
    }
    last_doc, max_tf, min_dl = [], [], []
    for i in range(len(segs)):
        ids, tfs = seg_mod.decode_blocks(segs.iloc[i : i + 1])
        first, dl = norm_by_seg[int(segs["seg_id"].iloc[i])]
        last_doc.append(int(ids[-1]))
        max_tf.append(int(tfs.max()))
        min_dl.append(int(dl[ids.astype(np.int64) - first].min()))
    segs = segs.assign(last_doc=last_doc, max_tf=max_tf, min_dl=min_dl)
    return segs[[f.split()[0] for f in V1_SEGMENT_SCHEMA.split(", ")]]


def test_v1_segment_files_stay_readable(spark, tmp_path):
    """A streaming index whose segment file groups still carry the
    dropped block columns: a micro-batch and a compaction over it work,
    and its search and phrase results equal a fresh build's over the
    same documents, before and after the compaction."""
    import shutil

    from alix_spark.index import segments as seg_mod
    from alix_spark.index.reader import IndexReader

    ix = StreamingIndexer(spark, str(tmp_path / "v1idx"), seg_size=8)
    ix.process_batch(_rows(spark, [
        ("o/r", f"f{i}", "c1", "py",
         f"alpha beta tok{i} fast join " + "gamma " * (i % 4))
        for i in range(30)
    ]), 0)
    man = ix.read_manifest()
    for seg, rel in man["tables"]["segments"].items():
        group = f"{ix.index_dir}/{rel}"
        norms = spark.read.parquet(
            f"{ix.index_dir}/{man['tables']['norms'][seg]}"
        ).toPandas()
        v1 = _v1_segment_rows(spark.read.parquet(group).toPandas(), norms)
        staged = str(tmp_path / "v1_staged")
        spark.createDataFrame(v1, V1_SEGMENT_SCHEMA).coalesce(1).write.parquet(
            staged
        )
        shutil.rmtree(group)
        shutil.move(staged, group)
        assert len(spark.read.parquet(group).columns) == 13

    def assert_matches_fresh_build():
        docs, _, _ = ix.load_tables()
        segs, norms = seg_mod.split_single_pass(
            seg_mod.build_single_pass_from_docs(
                docs.select("doc_id", "content"), seg_size=ix.current_seg_size()
            )
        )
        fresh = IndexReader.from_tables(spark, segs, norms)
        live = IndexReader.open_streaming(spark, ix.index_dir)
        for q in ["fast join", "gamma alpha", "+beta -updated", "fresh tok1"]:
            got = [(r["doc_id"], r["score"]) for r in live.search(q, k=10).collect()]
            exp = [(r["doc_id"], r["score"]) for r in fresh.search(q, k=10).collect()]
            assert [d for d, _ in got] == [d for d, _ in exp], q
            for (_, g), (_, e) in zip(got, exp):
                assert math.isclose(g, e, rel_tol=1e-9), q
        for terms in (["fast", "join"], ["gamma", "gamma"]):
            assert sorted(live.phrase(terms).collect()) == sorted(
                fresh.phrase(terms).collect()
            ), terms

    # an update in place and inserts in new tail segments: the v1 file
    # groups of the other segments carry over untouched
    ix.process_batch(_rows(spark, [("o/r", "f2", "c2", "py", "updated fast")] + [
        ("o/r", f"n{i}", "c2", "py", f"fresh tok{i} fast join")
        for i in range(4)
    ]), 1)
    carried = [
        rel for rel in ix.read_manifest()["tables"]["segments"].values()
        if rel.startswith("data/gen=1/")
    ]
    assert carried
    for rel in carried:
        assert len(spark.read.parquet(f"{ix.index_dir}/{rel}").columns) == 13
    assert_matches_fresh_build()
    ix.compact(group=2)
    assert ix.current_seg_size() == 16
    assert_matches_fresh_build()

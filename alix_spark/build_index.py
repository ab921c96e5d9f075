"""spark-submit entry point: build the full inverted index from a
document table, checkpoint-resumable per stage.

Usage:
    spark-submit --py-files alix_spark.zip alix_spark/build_index.py \
        --input /path/docs.parquet --out /path/index \
        [--seg-size 8192] [--buckets 32] [--merge-rounds 2] \
        [--text-col content] [--synth N]

Stages (each a parquet checkpoint + lineage record, skipped on resume),
as a DAG after ``docs``:
    docs      — docId assignment (dense rank over (repo, path)) + sha256
                ingest-invariant check (build FAILS on violation)
    postings  — (term, doc_id, tf, positions), built map-side from the
                raw documents (no shuffle)                 after docs
    offsets   — (doc_id, pos, start, end, term) char offsets for render
                ops                                        after docs
    segments0 — compressed per-range posting segments (bucket-partitioned),
                encoded once at the final segment size     after docs
    doc_lens  — (doc_id, dl), then the corpus stats of _meta
                                                           after postings
    forms     — freq-ordered vocabulary (form_id, term, occs, docs)
                                                           after postings
    norms0    — per-segment 1-byte norms at the final segment size
                                                           after doc_lens

``docs`` runs first. The six stages after it run concurrently, each on
its own driver thread, so their Spark jobs share the session's cores: a
stage starts as soon as the stages it reads are written, and its jobs
keep the caller's job group and carry the description
``build:<stage>``. A failed stage fails the stages that read it without
running them; the others run to the end and record their lineage, so a
re-run into the same ``--out`` runs only what failed. The build then
raises the first failure.

The final segment size is ``seg_size · merge_group^merge_rounds``. A bulk
build knows its final layout up front, so it encodes segments once at
that size instead of writing small segments and merging them in rounds:
a merge tree of disjoint, ordered doc ranges is bit-identical to a
direct build at the coarser size (tests/test_build_pipeline.py). Merges
run only where segments really arrive over time, in
``StreamingIndexer.compact()``. The two segment stages keep their
round-0 names, so indexes and tools that read ``segments0``/``norms0``
as the encoding stage still do.

Stage widths: every exchange runs at the session's shuffle width
(``spark.sql.shuffle.partitions``, which ``get_spark`` sizes to the
session's cores), never at ``--buckets``. ``--buckets`` is index
layout only: ``segments0`` is hash-partitioned by ``bucket`` at the
session's width, so each ``bucket=`` dir still gets exactly one file,
and ``offsets`` is range-partitioned by ``doc_id`` at the same width.

Each stage runs only its own work (see :mod:`alix_spark.index.lineage`):
its lineage record comes from the written files, and ``_meta``,
``_lineage_table`` and ``_metrics`` are written by the driver.

The final segment/norm tables + forms are everything the segment query
path needs (see alix_spark.search.wand / alix_spark.index.reader).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

# allow `spark-submit alix_spark/build_index.py` / direct script execution
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of the docs table")
    ap.add_argument("--synth", type=int, help="synthesize N docs instead")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--seg-size", type=int, default=8192)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument(
        "--merge-rounds",
        type=int,
        default=2,
        help="final segment size factor: segments are encoded at "
        "seg-size · merge-group^merge-rounds docs, the layout the former "
        "merge rounds produced",
    )
    ap.add_argument(
        "--merge-group",
        type=int,
        default=2,
        help="segments per merge in the final-size factor (see --merge-rounds)",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument("--cpus", default=None)
    args = ap.parse_args(argv)

    from pyspark import inheritable_thread_target
    from pyspark.sql import functions as F

    from alix_spark import get_spark, ingest
    from alix_spark.analysis import simple
    from alix_spark.index import build as ib
    from alix_spark.index import segments as seg_mod
    from alix_spark.index.lineage import BuildContext, write_driver_table

    spark = get_spark(app_name="alix-build-index", master=args.master)
    t_start = time.time()
    ctx = BuildContext(spark, args.out)
    # the session's shuffle width: what every stage's exchange runs at
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seg_size = args.seg_size * args.merge_group**args.merge_rounds

    if args.synth:
        src = ingest.synthesize_code_corpus(spark, args.synth)
        fp = f"synth:{args.synth}"
    else:
        src = spark.read.parquet(args.input)
        fp = f"input:{args.input}"
    # a stage's fingerprint names every parameter that shapes its output,
    # so re-running into the same --out with other parameters re-runs the
    # stages they change instead of reusing stale tables
    fp = f"{fp}|text_col={args.text_col}"
    fp_segments = f"{fp}|seg_size={seg_size}|buckets={args.buckets}"
    fp_norms = f"{fp}|seg_size={seg_size}"

    # ---- stage: docs (id assignment + sha256 invariant) ----
    def build_docs():
        if "doc_id" in src.columns:
            docs = src.withColumn("doc_id", F.col("doc_id").cast("long"))
        else:
            docs = ingest.assign_doc_ids(src)
        if "sha256" in src.columns:
            bad = ingest.sha256_violations(docs, args.text_col).count()
            if bad:
                raise RuntimeError(
                    f"sha256 ingest invariant violated for {bad} rows"
                )
        else:
            docs = ingest.add_sha256(docs, args.text_col)
        return docs

    docs = ctx.run_stage("docs", fp, build_docs)
    n_docs_total = ctx.record("docs")["rows"]

    from alix_spark.search.bm25 import corpus_stats

    # every stage after docs runs as a task of one DAG, each on its own
    # driver thread, so their Spark jobs overlap on the session's idle
    # cores. A task gets the futures of the stages it reads and waits on
    # them before its run_stage starts the stage's clock, so a failed
    # stage fails its dependents without running them.

    # a posting row depends only on its own document: the map-side
    # kernel tokenizes each Arrow batch and writes finished rows, with
    # no token table and no shuffle between the scan and the sink
    def postings():
        return ctx.run_stage(
            "postings",
            fp,
            lambda: ib.build_postings_from_docs(docs, "doc_id", args.text_col),
        )

    # doc_lens and forms both derive from the materialized postings
    # stage (dl = Σ tf) instead of paying a second pass for lengths
    def doc_lens(postings_f):
        posts = postings_f.result()
        lens = ctx.run_stage(
            "doc_lens", fp, lambda: ib.build_doc_lens_from_postings(posts)
        )
        return lens, corpus_stats(lens)

    def forms(postings_f):
        posts = postings_f.result()
        ctx.run_stage("forms", fp, lambda: ib.build_forms(posts))

    # offsets — term vectors with positions AND offsets, persisted so
    # render ops (KWIC/hilite/paint) never re-tokenize the corpus
    # (reference: Alix.java:154-165). Doc-id-sorted within files so a
    # doc-range read prunes on parquet stats.
    def offsets():
        ctx.run_stage(
            "offsets",
            fp,
            lambda: simple.token_offsets(docs, "doc_id", args.text_col)
            .repartitionByRange(width, F.col("doc_id"))
            .sortWithinPartitions("doc_id", "pos"),
        )

    # segments0 is the single-pass build shuffling raw documents: one
    # corpus-sized exchange, encoded at the final size. Its norm rows are
    # dropped, so the table holds one leaf dir per bucket: the default 32
    # stay within Spark's 32-path parallel-listing threshold, and opening
    # the table lists files on the driver, with no listing job. The write
    # hash-partitions by bucket at the session's width, so every bucket
    # dir gets one file (the file-commit count is a serial cost and a
    # query-side open cost) without one task per bucket.
    def segments0():
        ctx.run_stage(
            "segments0",
            fp_segments,
            lambda: seg_mod.build_single_pass_from_docs(
                docs.select("doc_id", args.text_col),
                text_col=args.text_col,
                seg_size=seg_size,
                n_buckets=args.buckets,
            )
            .filter(F.col("term") != seg_mod.NORM_MARKER)
            .repartition(width, F.col("bucket")),
            partition_by=["bucket"],
        )

    # norms0 from the (one row per doc) doc_lens table, not the corpus;
    # every doc also enters with dl 0 so a segment of only empty docs
    # still gets its norm row, exactly as the single-pass kernel emits
    def norms0(doc_lens_f):
        lens, _ = doc_lens_f.result()
        ctx.run_stage(
            "norms0",
            fp_norms,
            lambda: seg_mod.build_norms(
                lens.unionByName(
                    docs.select("doc_id", F.lit(0).cast("int").alias("dl"))
                ),
                seg_size=seg_size,
            ),
        )

    # one worker per stage after docs: the DAG's width. Each task carries
    # the caller's local properties (job group, description) onto its
    # thread, so its jobs stay attributable.
    with ThreadPoolExecutor(max_workers=6) as pool:

        def start(task, *inputs):
            return pool.submit(inheritable_thread_target(spark)(task), *inputs)

        postings_f = start(postings)
        offsets_f = start(offsets)
        segments0_f = start(segments0)
        doc_lens_f = start(doc_lens, postings_f)
        forms_f = start(forms, postings_f)
        norms0_f = start(norms0, doc_lens_f)
    # every task has ended; raise the first failure in submission order,
    # a root cause, since a dependent re-raises its input's error
    for future in (postings_f, offsets_f, segments0_f, doc_lens_f, forms_f, norms0_f):
        future.result()
    _, (n_docs, avgdl) = doc_lens_f.result()

    # meta + consolidated lineage/metrics, written by the driver in the
    # layout of a one-partition Spark write
    meta = {
        "n_docs": n_docs_total,
        "n_docs_with_tokens": n_docs,
        "avgdl": avgdl,
        "seg_size_final": seg_size,
        "buckets": args.buckets,
        # the parallelism the build ran at (bucket count above is index
        # layout; these two are the build host's)
        "shuffle_partitions": width,
        "cores": spark.sparkContext.defaultParallelism,
        "final_segments": "segments0",
        "final_norms": "norms0",
    }
    write_driver_table(
        f"{args.out}/_meta",
        "part-00000.json",
        (json.dumps(meta, sort_keys=True, separators=(",", ":")) + "\n").encode(),
    )
    ctx.write_tables()

    wall = time.time() - t_start
    print(
        f"INDEX BUILT: {n_docs_total} docs in {wall:.1f}s "
        f"({n_docs_total / wall:.1f} docs/sec) -> {args.out}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""One cold benchmark process: set up one workload, run its closed loop
for a fixed time, check every answer against :mod:`reference`, and write
the samples and the per-layer ledger to a JSON file.

``run.py`` spawns this file and is the command to use::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

Workloads (one client thread, closed loop, ``local[<cores>]``):

* ``query_mix`` — set-up builds the index through the spark-submit entry
  ``alix_spark.build_index.main`` and opens an ``IndexReader``; the loop
  runs ranked searches (OR, MUST/MUST_NOT, wildcard, phrase) and
  statistics operations (term list, KWIC, co-occurrence window) served
  from the persisted tables. Nothing is written during the loop.
* ``update_mix`` — set-up bulk-loads the corpus through
  ``StreamingIndexer.process_batch``; the loop applies seeded commits,
  each followed by ``IndexReader.open_streaming``, an OR search and a
  MUST/MUST_NOT search of the new version.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import ledger  # noqa: E402
import reference  # noqa: E402
from tracing import Tracer  # noqa: E402

K = 10
CLI_SEG_SIZE = 1024  # query_mix: the build CLI's layout, merges included
STREAM_SEG_SIZE = 64  # update_mix: ~10 docId-range segments to skip
COLS = ["repo", "path", "commit", "lang", "content"]
FAILURE_EXAMPLES = 5
FINAL_CHECKS = 3


class Outcome:
    """Attempts, failures by exception type or wrong answer, and latency
    samples by operation class."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: Counter = Counter()
        self.examples: list[str] = []
        self.samples: dict[str, list[float]] = {}

    def run(self, fn):
        """Call ``fn`` once as one attempted operation; returns
        (seconds, result), result None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted, reported, never fatal to the loop
            self.fail(type(e).__name__, traceback.format_exc(limit=3))
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, out

    def fail(self, kind: str, why: str) -> None:
        self.failed += 1
        self.errors[kind] += 1
        if len(self.examples) < FAILURE_EXAMPLES:
            self.examples.append(why.strip().splitlines()[-1][:300])

    def check(self, why: str | None) -> None:
        """Count a wrong answer found by an outside-the-timer check."""
        if why is not None:
            self.fail("WrongAnswer", why)

    def add(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds * 1000.0)


def input_bytes(rows: list[dict]) -> int:
    return sum(len(r["content"].encode("utf-8")) for r in rows)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def start_session(cores: int, work: Path, trace: bool):
    from alix_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
        # keep the JVM's temporary files (artifact dirs, extracted native
        # libraries, perf data) inside the run's work directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        (work / "events").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def key_rows(reader) -> dict[int, tuple[str, str]]:
    """doc_id -> (repo, path) of the reader's docs table (untimed)."""
    return {
        int(r["doc_id"]): (r["repo"], r["path"])
        for r in reader.docs.select("doc_id", "repo", "path").collect()
    }


def keyed(rows, keys) -> list:
    return [[keys[d], v] for d, v in rows]


# ------------------------------------------------------------- query_mix


def query_mix(spark, args, work: Path, tracer: Tracer, out: Outcome, res: dict):
    import pandas as pd
    from pyspark.sql import functions as F

    from alix_spark import build_index
    from alix_spark.cooc.window import cooc_window
    from alix_spark.index.reader import IndexReader
    from alix_spark.render.kwic import kwic
    from alix_spark.stats.fieldtext import term_stats

    corpus = gen.make_corpus(args.seed, gen.CorpusSpec(n_docs=args.docs))
    ops = gen.make_ops(args.seed, corpus.rows, 2000)
    src = work / "docs.parquet"
    pd.DataFrame(corpus.rows)[COLS].to_parquet(src)
    idx = work / "index"

    t0 = time.perf_counter()
    with tracer.span("index.build", op="setup.build"):
        rc = build_index.main(
            ["--input", str(src), "--out", str(idx),
             "--seg-size", str(CLI_SEG_SIZE)]
        )
    build_s = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"build_index.main returned {rc}")
    t0 = time.perf_counter()
    with tracer.span("index.reader.open", op="setup.open"):
        reader = IndexReader(spark, str(idx))
    open_ms = (time.perf_counter() - t0) * 1000.0
    postings = spark.read.parquet(str(idx / "postings"))
    offsets = spark.read.parquet(str(idx / "offsets"))
    docs = spark.read.parquet(str(idx / "docs"))
    res["ready"] = time.time()

    def call(op):
        if op.kind in ("or", "must", "wildcard"):
            return [(r["doc_id"], r["score"]) for r in reader.search(op.arg, K).collect()]
        if op.kind == "phrase":
            return [(r["doc_id"], r["freq"]) for r in reader.phrase(op.arg).collect()]
        if op.kind == "term_list":
            sub = docs.filter(F.col("repo") == op.arg).select("doc_id")
            return [(r["term"], r["occs"], r["docs"])
                    for r in term_stats(postings, sub).collect()]
        if op.kind == "kwic":
            return [r["hit"] for r in kwic(docs, offsets, [op.arg], text_col="content").collect()]
        return [(r["term"], r["freq"], r["hits"]) for r in cooc_window(offsets, op.arg).collect()]

    results = []
    res["result_rows"] = {}
    deadline = time.perf_counter() + args.seconds
    for i, op in enumerate(ops):
        # whole cycles only, so every run medians over the same class mix
        if i % len(gen.CYCLE) == 0 and time.perf_counter() >= deadline:
            break
        with tracer.span(op.kind, op=f"q{i}"):
            dt, got = out.run(lambda: call(op))
        out.add("loop_op", dt)
        out.add(("ranked:" if op.kind in gen.RANKED else "stats:") + op.kind
                + (":head" if op.head else ":tail"), dt)
        results.append((op, got))
        res["result_rows"][f"q{i}"] = len(got or [])

    # ---- checks, outside the timed loop
    ref = reference.Reference(corpus.rows)
    keys = key_rows(reader)
    for op, got in results:
        if got is None:
            continue
        if op.kind in ("or", "must", "wildcard"):
            out.check(reference.check_ranked(ref, op.arg, keyed(got, keys), K))
        elif op.kind == "phrase":
            out.check(reference.check_phrase(ref, op.arg, keyed(got, keys)))
        elif op.kind == "term_list":
            out.check(reference.check_term_list(ref, op.arg, got))
        elif op.kind == "kwic":
            out.check(reference.check_kwic(ref, op.arg, got))
        else:
            out.check(reference.check_cooc(ref, op.arg, got))
    meta = json.loads(next((idx / "_meta").glob("*.json")).read_text().splitlines()[0])
    if meta["n_docs"] != len(corpus.rows):
        out.fail("WrongAnswer", f"_meta n_docs {meta['n_docs']} != {len(corpus.rows)}")
    forms = spark.read.parquet(str(idx / "forms"))
    got_occs = forms.agg(F.sum("occs")).collect()[0][0]
    want_occs = sum(len(t) for t in ref.toks)
    if forms.count() != len(ref.df) or got_occs != want_occs:
        out.fail("WrongAnswer", f"forms: {got_occs} occs, generator {want_occs}")

    res.update(
        docs=len(corpus.rows),
        tokens=sum(len(t) for t in ref.toks),
        vocab=len(ref.df),
        input_bytes=input_bytes(corpus.rows),
        index_bytes=dir_bytes(idx),
        segments=reader.segments.select("seg_id").distinct().count(),
        build_s=build_s,
        open_ms=open_ms,
        lineage=ledger.lineage_windows(idx),
    )


# ------------------------------------------------------------ update_mix


def update_mix(spark, args, work: Path, tracer: Tracer, out: Outcome, res: dict):
    import pandas as pd

    from alix_spark.index.reader import IndexReader
    from alix_spark.streaming import StreamingIndexer

    spec = gen.CorpusSpec(n_docs=args.docs)
    corpus = gen.make_corpus(args.seed, spec)
    initial = list(corpus.rows)  # make_commits leaves corpus.rows alone
    commits = gen.make_commits(args.seed, corpus, spec, 200)
    ops = gen.make_ops(args.seed, corpus.rows, 2000)
    ors = [o.arg for o in ops if o.kind == "or"]
    musts = [o.arg for o in ops if o.kind == "must"]
    idx = work / "stream"

    def frame(rows):
        return spark.createDataFrame(pd.DataFrame(rows)[COLS])

    ix = StreamingIndexer(spark, str(idx), seg_size=STREAM_SEG_SIZE)
    bulk_df = frame(initial)
    t0 = time.perf_counter()
    with tracer.span("streaming.process_batch", op="setup.bulk"):
        ix.process_batch(bulk_df, 0)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("index.reader.open_streaming", op="setup.open"):
        reader = IndexReader.open_streaming(spark, str(idx))
    open_ms = (time.perf_counter() - t0) * 1000.0
    index_bytes = dir_bytes(idx)
    segments = len(ix.read_manifest()["tables"]["segments"])
    res["ready"] = time.time()

    live = {(r["repo"], r["path"]): r for r in initial}
    res["result_rows"] = {}
    per_commit = []
    timed = 0.0
    for c, commit in enumerate(commits):
        if timed >= args.seconds:
            break
        rows = commit.upserts + [
            {"repo": r, "path": p, "commit": "0", "lang": "", "content": ""}
            for r, p in commit.deleted
        ]
        df = frame(rows)
        with tracer.span("commit", op=f"c{c}"):
            t0 = time.perf_counter()
            with tracer.span("streaming.process_batch", op=f"c{c}.batch"):
                dt_batch, ok = out.run(lambda: ix.process_batch(df, c + 1) or True)
            t1 = time.perf_counter()
            with tracer.span("index.reader.open_streaming", op=f"c{c}.open"):
                dt_open, reader = out.run(lambda: IndexReader.open_streaming(spark, str(idx)))
            answers = []
            for s, (kind, query) in enumerate((("or", ors[c]), ("must", musts[c]))):
                with tracer.span(kind, op=f"c{c}.s{s}"):
                    dt, got = out.run(
                        lambda: [(r["doc_id"], r["score"])
                                 for r in reader.search(query, K).collect()]
                        if reader is not None else None
                    )
                res["result_rows"][f"c{c}.s{s}"] = len(got or [])
                out.add("search", dt)
                out.add("search:" + kind, dt)
                if s == 0:
                    fresh = time.perf_counter() - t0
                answers.append((query, got))
        timed += time.perf_counter() - t0
        out.add("loop_op", fresh)
        out.add("process_batch", dt_batch)
        out.add("open_streaming", dt_open)
        # ---- the new version's reference and checks, untimed
        for r in commit.upserts:
            live[(r["repo"], r["path"])] = r
        for key in commit.deleted:
            live[key] = {"repo": key[0], "path": key[1], "content": ""}
        ref = reference.Reference(list(live.values()))
        if ok is None or reader is None:
            continue
        keys = key_rows(reader)
        for query, got in answers:
            if got is not None:
                out.check(reference.check_ranked(ref, query, keyed(got, keys), K))
        gen_dir = idx / "data" / f"gen={ix.current_version()}"
        per_commit.append(
            {
                "segments_touched": sum(1 for _ in (gen_dir / "segments").glob("seg=*")),
                "bytes_written": dir_bytes(gen_dir),
                "changed_bytes": input_bytes(commit.upserts),
            }
        )

    # ---- the final version, reopened, answers the first searches as the
    # reference of the final corpus does: what a fresh bulk load of that
    # corpus has to answer
    ref = reference.Reference(list(live.values()))
    final = IndexReader.open_streaming(spark, str(idx))
    final_keys = key_rows(final)
    for query in ors[:FINAL_CHECKS]:
        _, got = out.run(lambda: [(r["doc_id"], r["score"])
                                  for r in final.search(query, K).collect()])
        if got is not None:
            out.check(reference.check_ranked(ref, query, keyed(got, final_keys), K))

    ref0 = reference.Reference(initial)
    res.update(
        docs=len(initial),
        tokens=sum(len(t) for t in ref0.toks),
        vocab=len(ref0.df),
        input_bytes=input_bytes(initial),
        index_bytes=index_bytes,
        segments=segments,
        build_s=build_s,
        open_ms=open_ms,
        commits=per_commit,
    )


WORKLOADS = {"query_mix": query_mix, "update_mix": update_mix}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    work = Path(args.work)

    tracer = Tracer(bool(args.trace))
    res: dict = {"workload": args.workload, "seed": args.seed, "cores": args.cores}
    out = Outcome()
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_session(args.cores, work, bool(args.trace))
    res["get_spark_s"] = time.perf_counter() - t0
    tracer.spark = spark
    try:
        WORKLOADS[args.workload](spark, args, work, tracer, out, res)
        if args.trace:
            res["span_overhead_us"] = tracer.overhead_us()
    finally:
        spark.stop()
    res.update(
        attempted=out.attempted,
        failed=out.failed,
        errors=dict(out.errors),
        examples=out.examples,
        samples=out.samples,
    )
    if args.trace:
        res["spans"] = tracer.spans
        res["ledger"] = ledger.per_layer(res, tracer.spans, work / "events")
    Path(args.result).write_text(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

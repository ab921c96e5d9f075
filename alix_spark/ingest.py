"""Corpus ingest: the (repo, path, commit, lang, content) code-document
table, deterministic docId assignment, and the sha256 ingest invariant.

The engine's canonical input (per BASELINE.json input_hint) is an
Iceberg/parquet table of source-code documents:

    (repo: string, path: string, commit: string, lang: string,
     content: string [, sha256: string])

* ``doc_id`` is DERIVED, never stored: ``dense row number over
  (repo, path)`` — a deterministic total order, so rebuilding the index
  yields identical ids and rank-identity is reproducible (FIXTURES.md §1).
* the per-row invariant vs the source is ``sha256(content)`` equality —
  checked distributively, violations surfaced as a DataFrame.

``synthesize_code_corpus`` generates the FIXTURES.md-style deterministic
corpus for tests/benchmarks (seeded, content is Zipf-sampled tokens) —
entirely in executors via mapInPandas, no driver-side data.
"""

from __future__ import annotations

import contextlib
import contextvars

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

VOCAB_SIZE = 5000
FR_TOKENS = [
    "l'homme", "dis-moi", "parce", "que", "petit", "chat", "fleuve",
    "tranquille", "M.", "Dupont", "chapitre", "XII", "c'est", "d'une",
]


_release_scope: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "release_scope", default=None
)


def scoped_persist(df: DataFrame, level: StorageLevel) -> DataFrame:
    """``df.persist(level)``, handed to the innermost
    :func:`release_after` block, if one is open, to be unpersisted there."""
    df = df.persist(level)
    frames = _release_scope.get()
    if frames is not None:
        frames.append(df)
    return df


@contextlib.contextmanager
def release_after():
    """Unpersist, on leaving the block, every frame :func:`scoped_persist`
    cached inside it. A build stage runs its build and write in one, so
    what the stage cached lives only until its write has committed."""
    frames: list[DataFrame] = []
    token = _release_scope.set(frames)
    try:
        yield
    finally:
        _release_scope.reset(token)
        for df in frames:
            df.unpersist()


def scalable_row_number(
    df: DataFrame, order_cols: list, out_col: str, start: int = 0
) -> DataFrame:
    """Global dense row number without a single-partition window.

    Range-partition by the sort key, count rows per sorted partition,
    broadcast cumulative offsets, add the partition-local row number.
    Scales with the data; the only driver-side state is one count per
    partition. (Used for docId assignment and freq-ordered formIds.)

    The range-shuffled partitions are persisted (MEMORY_AND_DISK)
    before the per-partition count job, so

    * the map stage of the range exchange runs ONCE instead of once for
      the count job and again for the downstream consumer — on a local
      tmpfs corpus this is wall-neutral (±2 s at 200k docs, BENCH.md
      22:22 run), but at 100 TB the re-executed map stage is a full
      corpus read+sort, far dearer than a disk-backed cache; and
    * the counts and the returned rows come from the SAME boundary
      draw — ``repartitionByRange`` samples input to pick boundaries,
      and two independent evaluations of the same plan may draw
      different boundaries.

    ``build_index.py`` persists the docs stage to parquet (lineage)
    regardless — the cached partitions only live until that write, which
    unpersists them (:func:`release_after`).
    """
    n_part = max(
        2,
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")) // 2,
    )
    ordered = df.repartitionByRange(n_part, *order_cols).sortWithinPartitions(
        *order_cols
    )
    ordered = scoped_persist(ordered, StorageLevel.MEMORY_AND_DISK)
    with_pid = ordered.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        offset_col = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )[F.col("_pid")]
    else:  # empty input: map() is untyped and fails analysis
        offset_col = F.lit(start)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.withColumn("_local", F.row_number().over(w))
        .withColumn(out_col, (offset_col + F.col("_local") - 1).cast("long"))
        .drop("_pid", "_local")
    )


def assign_doc_ids(docs: DataFrame) -> DataFrame:
    """Derive the deterministic docId: dense rank over (repo, path).

    (repo, path) is assumed unique per snapshot — the reference's
    update-by-filename semantics (delete-then-reinsert,
    ``/root/reference/java/alix/lucene/SAXIndexer.java:133-137``) are
    implemented by :func:`alix_spark.index.update.incremental_update`:
    updates keep their id, inserts append after the max id, and only the
    touched docId-range segments are rebuilt.
    """
    return scalable_row_number(docs, [F.asc("repo"), F.asc("path")], "doc_id")


def add_sha256(docs: DataFrame, text_col: str = "content") -> DataFrame:
    return docs.withColumn("sha256", F.sha2(F.col(text_col), 256))


def sha256_violations(docs: DataFrame, text_col: str = "content") -> DataFrame:
    """Rows whose stored sha256 doesn't match the content — the ingest
    invariant. Empty == invariant holds."""
    return docs.filter(F.sha2(F.col(text_col), 256) != F.col("sha256"))


def synthesize_code_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42
) -> DataFrame:
    """Deterministic synthetic source-code/text corpus (FIXTURES.md §1).

    Executor-side generation: a range of doc indexes → mapInPandas with a
    per-row seeded RNG, so the output is independent of partitioning and
    cluster size.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("commit", StringType()),
            StructField("lang", StringType()),
            StructField("content", StringType()),
        ]
    )
    exts = ["py", "java", "md", "txt"]
    langs = ["fr", "py", "java", "md"]
    # Zipf-ranked vocabulary shared by every worker
    vocab = [f"tok{v}" for v in range(VOCAB_SIZE)]
    zipf_w = 1.0 / np.arange(1, VOCAB_SIZE + 1)
    zipf_p = zipf_w / zipf_w.sum()

    def gen(batches):
        import hashlib

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(seed * 1_000_003 + i)
                length = int(
                    np.clip(np.exp(rng.normal(5.0, 1.0)), 10, 5000)
                )
                toks = rng.choice(VOCAB_SIZE, size=length, p=zipf_p)
                lang = langs[i % 4]
                words = [vocab[t] for t in toks]
                if lang == "fr":
                    # sprinkle French tokenizer-rule triggers
                    fr_idx = rng.integers(0, len(words), size=max(1, length // 20))
                    for j, fi in enumerate(fr_idx):
                        words[int(fi)] = FR_TOKENS[j % len(FR_TOKENS)]
                content = " ".join(words)
                rows.append(
                    (
                        f"org{i % 7}/repo{i % 53}",
                        f"src/{i // 100}/file_{i}.{exts[i % 4]}",
                        hashlib.sha1(f"c{i}".encode()).hexdigest()[:8],
                        lang,
                        content,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content"]
            )

    base = spark.range(n_docs).repartition(
        max(2, int(spark.conf.get("spark.sql.shuffle.partitions")))
    )
    return add_sha256(base.mapInPandas(gen, schema))

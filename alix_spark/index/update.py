"""S5 — incremental update: delete-then-reinsert by source key.

Reference semantics: the indexer deletes every doc carrying the same
``alix.filename`` before re-adding the file's documents
(``/root/reference/java/alix/lucene/SAXIndexer.java:133-137``), and the
CLI loader swaps the finished index in atomically
(``/root/reference/java/alix/cli/Load.java:157-165``). Here the source
key is ``(repo, path)`` — the MERGE key of the input_hint's code-document
table.

Spark-native design (docId-range segments make this surgical):

* **updates** keep their existing doc_id — delete + reinsert in place,
  so only the segment(s) covering those ids are rebuilt;
* **inserts** get doc_ids appended after the current max (Lucene's
  insertion-order docids), landing in the tail segment / new segments;
* **deletes** drop the doc row; the covering segment is rebuilt without
  its postings (ids are never reused — the reference's Lucene behaviour);
* every segment whose doc range is untouched is carried over
  **byte-identical** — no decode, no re-encode, no shuffle; the cost of
  an update is O(changed segments), not O(corpus).

Correctness contract (tests/test_incremental_update.py): untouched
segment rows are bit-identical to the previous build, and BM25 top-k on
the updated index equals a from-scratch computation over the updated
docs table with the same id mapping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alix_spark.index import segments as seg_mod


def split_changes(
    docs_old: DataFrame, changed: DataFrame, key: tuple[str, str] = ("repo", "path")
) -> tuple[DataFrame, DataFrame]:
    """Partition the changed rows into (updates, inserts) by whether the
    (repo, path) key already exists; updates carry the OLD doc_id."""
    k = list(key)
    old_ids = docs_old.select(*k, "doc_id")
    updates = changed.join(old_ids, k, "inner")
    inserts = changed.join(old_ids.select(*k), k, "left_anti")
    return updates, inserts


def seg_range_pred(affected: list[int], seg_size: int):
    """Pushdown-friendly predicate selecting the docs of the affected
    docId-range segments: an OR of plain ``doc_id`` range comparisons
    (parquet row-group/file min-max stats prune on these, which the
    arithmetic form ``(doc_id/seg_size).isin(...)`` can never do — at
    100 TB that is the difference between touching the affected file
    groups and scanning the whole docs table)."""
    pred = F.lit(False)
    for s in affected:
        lo, hi = s * seg_size, (s + 1) * seg_size
        pred = pred | ((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    return pred


def incremental_update(
    docs_old: DataFrame,
    segments_old: DataFrame,
    norms_old: DataFrame,
    changed: DataFrame,
    seg_size: int,
    n_buckets: int = seg_mod.DEFAULT_BUCKETS,
    text_col: str = "content",
    deleted: DataFrame | None = None,
    key: tuple[str, str] = ("repo", "path"),
) -> tuple[DataFrame, DataFrame, DataFrame, list[int]]:
    """MERGE ``changed`` (and optional ``deleted`` keys) into an index.

    Returns (docs_new, segments_new, norms_new, affected_seg_ids).
    ``changed`` has the source schema (repo, path, commit, lang, content
    [, sha256]); ``deleted`` has just the key columns.
    """
    from pyspark import StorageLevel

    from alix_spark import ingest

    k = list(key)
    if "sha256" not in changed.columns:
        changed = ingest.add_sha256(changed, text_col)
    else:
        bad = ingest.sha256_violations(changed, text_col).count()
        if bad:
            raise RuntimeError(f"sha256 invariant violated for {bad} changed rows")

    # ONE left join classifies every changed row (doc_id null = insert)
    # and feeds both the updates table and the affected-segment
    # aggregate below — the split_changes 2-join formulation plus a
    # distinct-collect of touched_ids cost three extra driver jobs per
    # update (guide §1.2: the distributed algorithm first).
    # Both persists below last until the caller's ingest.release_after()
    # block ends, after the writes that read them (process_batch).
    old_ids = docs_old.select(*k, "doc_id")
    j = ingest.scoped_persist(
        changed.join(old_ids, k, "left"), StorageLevel.MEMORY_AND_DISK_DESER
    )
    updates = j.filter(F.col("doc_id").isNotNull())
    inserts_src = j.filter(F.col("doc_id").isNull()).drop("doc_id")

    max_id = docs_old.agg(F.max("doc_id")).collect()[0][0]
    max_id = -1 if max_id is None else int(max_id)

    # affected segs of updates + the INSERT COUNT in one aggregate job:
    # inserts occupy ids max_id+1 .. max_id+n_ins, so their segment
    # range is arithmetic — no per-row ids needed to know which
    # segments they touch
    row = j.agg(
        F.collect_set(
            (F.col("doc_id") / seg_size).cast("long")
        ).alias("usegs"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_ins"),
    ).collect()[0]
    affected_set = {int(s) for s in row["usegs"]}
    n_ins = int(row["n_ins"])
    if n_ins:
        affected_set.update(
            range(
                (max_id + 1) // seg_size, (max_id + n_ins) // seg_size + 1
            )
        )
        inserts = ingest.scalable_row_number(
            inserts_src, [F.asc(c) for c in k], "doc_id", start=max_id + 1
        )
    else:
        inserts = None

    # new docs table: untouched + updated-in-place + appended inserts,
    # minus deletes (anti-join on the key)
    untouched = docs_old.join(changed.select(*k), k, "left_anti")
    if deleted is not None:
        untouched = untouched.join(deleted.select(*k), k, "left_anti")
        updates = updates.join(deleted.select(*k), k, "left_anti")
        affected_set.update(
            int(r["seg"])
            for r in docs_old.join(deleted.select(*k), k, "inner")
            .select((F.col("doc_id") / seg_size).cast("long").alias("seg"))
            .distinct()
            .collect()
        )
    cols = docs_old.columns
    docs_new = untouched.select(*cols).unionByName(updates.select(*cols))
    if inserts is not None:
        docs_new = docs_new.unionByName(inserts.select(*cols))

    affected = sorted(affected_set)
    if not affected:
        return docs_new, segments_old, norms_old, []

    # rebuild ONLY the affected segments, from ALL surviving docs whose
    # ids fall in those ranges (a segment encodes its whole doc range);
    # plain doc_id range comparisons so the scan prunes on parquet
    # stats. Shuffle RAW DOCS, not exploded tokens (corpus-sized
    # exchange instead of ~4x, guide §2.3) — build_single_pass_from_docs
    # is property-tested row-identical to the token path.
    in_affected = docs_new.filter(seg_range_pred(affected, seg_size))
    # split_single_pass consumes it twice (segments + norms)
    rebuilt = ingest.scoped_persist(
        seg_mod.build_single_pass_from_docs(
            in_affected.select("doc_id", F.col(text_col)),
            text_col=text_col,
            seg_size=seg_size,
            n_buckets=n_buckets,
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    new_segs, new_norms = seg_mod.split_single_pass(rebuilt)

    segments_new = segments_old.filter(
        ~F.col("seg_id").isin(affected)
    ).unionByName(new_segs)
    norms_new = norms_old.filter(~F.col("seg_id").isin(affected)).unionByName(
        new_norms
    )
    return docs_new, segments_new, norms_new, affected

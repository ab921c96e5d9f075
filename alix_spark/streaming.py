"""Structured Streaming ingest: micro-batch MERGE into the live index.

The reference is batch-only with an atomic directory swap at the end of
each load (``/root/reference/java/alix/cli/Load.java:157-165``) and
delete-then-reinsert per source file
(``/root/reference/java/alix/lucene/SAXIndexer.java:133-137``). This
module is the streaming generalization a 100 TB pipeline needs: a
``readStream`` of changed documents drives ``foreachBatch``, each
micro-batch MERGEs by (repo, path) through
:func:`alix_spark.index.update.incremental_update` (only touched
docId-range segments re-encoded), and the new index version is published
with the same atomic pointer-swap discipline — readers always see a
complete, consistent version.

Scale discipline (the Iceberg-snapshot idea): a version is a MANIFEST,
not a copy. Table data lives in per-segment file groups written once and
shared by reference across versions::

    <index_dir>/data/gen=<G>/<table>/seg=<id>/  # immutable file groups
    <index_dir>/v<N>.json      # manifest: seg_id -> file-group path
    <index_dir>/CURRENT        # pointer file (atomic rename)

``process_batch`` writes ONLY the affected segments' file groups (one
``partitionBy`` job per table) and the new manifest re-references every
untouched segment's existing files — so a 50-doc micro-batch into a
100 TB index costs O(touched segments) of write IO, matching the
O(touched) compute of ``incremental_update``. Superseded versions are
garbage-collected after publish (retain-last-K), deleting only file
groups no retained manifest references — a reader of any retained
version is never broken mid-GC.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alix_spark import ingest
from alix_spark.index import segments as seg_mod
from alix_spark.index.update import incremental_update, seg_range_pred

DOCS_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, sha256 string, doc_id long"
)

TABLES = ("docs", "segments", "norms")

# Auto-sharding policy: a default-constructed indexer starts with the
# cheap inline manifest and switches to the sharded manifest-list the
# first time a version would carry more than AUTO_SHARD_THRESHOLD
# segment entries — so a long-lived stream never walks into the
# ~10^6-entry inline-manifest horizon (the Iceberg analogue shards
# always; we defer the extra files until they pay for themselves).
AUTO_SEGS_PER_SHARD = 256
AUTO_SHARD_THRESHOLD = 4 * AUTO_SEGS_PER_SHARD


class StreamingIndexer:
    """foreachBatch sink maintaining a versioned, atomically-published
    inverted index with manifest-based (O(touched-segments)) persistence."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        seg_size: int = seg_mod.DEFAULT_SEG_SIZE,
        n_buckets: int = seg_mod.DEFAULT_BUCKETS,
        text_col: str = "content",
        retain_versions: int = 3,
        clear_cache_after_batch: bool = True,
        segs_per_shard: int | None | str = "auto",
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.seg_size = seg_size
        self.n_buckets = n_buckets
        self.text_col = text_col
        self.retain_versions = retain_versions
        # manifest-list sharding (the Iceberg manifest/manifest-list
        # structure): entries live in per-seg-range SHARD files under
        # mdata/, the version manifest only lists shard paths, and a
        # publish rewrites ONLY shards containing affected segments —
        # untouched shards carry over by reference, so the manifest
        # write cost is O(touched), not O(total segments). None = the
        # inline single-JSON manifest (fine to ~10^6 segments); an int
        # forces sharding at that span; "auto" (the default) stays
        # inline below AUTO_SHARD_THRESHOLD entries and shards at
        # AUTO_SEGS_PER_SHARD beyond it (sticky once sharded — the
        # span is persisted in the manifest so later versions and GC
        # agree on shard boundaries).
        self.segs_per_shard = segs_per_shard
        # the batch callback releases what its own update persisted
        # once the writes commit; by default it also clears the whole
        # session cache after publish. Disable that when sharing the
        # session with other cached workloads (a reader's norms, say).
        self.clear_cache_after_batch = clear_cache_after_batch
        Path(index_dir).mkdir(parents=True, exist_ok=True)

    # -- version pointer (the Load.java atomic-swap analogue) ----------
    def current_version(self) -> int:
        p = Path(self.index_dir) / "CURRENT"
        if not p.exists():
            return 0
        return int(json.loads(p.read_text())["version"])

    def _publish(self, version: int) -> None:
        p = Path(self.index_dir) / "CURRENT"
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps({"version": version}))
        os.replace(tmp, p)  # atomic on POSIX

    # -- manifests -------------------------------------------------------
    def _manifest_path(self, version: int) -> Path:
        return Path(self.index_dir) / f"v{version}.json"

    def _read_raw(self, version: int | None = None) -> dict:
        """The version manifest as stored — either inline ``tables`` or
        a ``shards`` manifest-list. Scalar metadata (seg_size,
        n_buckets) reads from here without touching any shard."""
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "tables": {t: {} for t in TABLES}}
        return json.loads(self._manifest_path(v).read_text())

    def read_manifest(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default CURRENT) with shards
        resolved: ``tables`` maps table -> {seg_id(str) -> relative
        file-group path}."""
        man = self._read_raw(version)
        if "shards" in man:
            tables: dict = {t: {} for t in TABLES}
            for t, shard_map in man["shards"].items():
                for rel in shard_map.values():
                    tables[t].update(
                        json.loads((Path(self.index_dir) / rel).read_text())
                    )
            man = {**man, "tables": tables}
        return man

    def load_tables(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(docs, segments, norms) of the CURRENT version; empty frames
        with the right schemas before the first publish. Each table is a
        single multi-path parquet scan over exactly the file groups its
        manifest references — no version-copy is ever materialized. The
        scans carry the tables' known schemas, so opening them runs no
        footer-inference job."""
        # NOTE on manifest size: one entry per (table, segment). The
        # inline mode (segs_per_shard=None) holds them in one JSON —
        # readable to ~10^6 segments. Beyond that, construct with
        # segs_per_shard set: entries shard into per-seg-range files
        # with O(touched)-shard rewrites per publish (the Iceberg
        # manifest-list structure; tests/test_streaming_ingest.py
        # asserts the reuse). The read path below is unchanged.
        man = self.read_manifest()
        out = []
        schemas = {
            "docs": DOCS_SCHEMA,
            "segments": seg_mod.SEGMENT_SCHEMA,
            "norms": seg_mod.NORMS_SCHEMA,
        }
        for t in TABLES:
            paths = [
                f"{self.index_dir}/{rel}" for rel in man["tables"][t].values()
            ]
            if paths:
                out.append(self.spark.read.schema(schemas[t]).parquet(*paths))
            else:
                out.append(self.spark.createDataFrame([], schemas[t]))
        return tuple(out)

    # -- the foreachBatch callback --------------------------------------
    def _write_affected(
        self,
        df: DataFrame,
        table: str,
        seg_col,
        gen: int,
        affected: list[int],
        pre_filter=None,
    ) -> dict[str, str]:
        """Write ONLY the affected segments' rows of one logical table as
        per-segment file groups under data/gen=<gen>/<table>/ and return
        {seg_id: relative path} for the groups that materialized (a
        deleted-empty segment writes nothing and drops out).

        ``pre_filter`` is a pushdown-friendly predicate applied BEFORE
        deriving the partition column, so the scan of the carried-over
        file groups prunes on parquet stats instead of evaluating an
        arithmetic expression over the whole table."""
        rel = f"data/gen={gen}/{table}"
        out_dir = f"{self.index_dir}/{rel}"
        if pre_filter is not None:
            df = df.filter(pre_filter)
        (
            df.withColumn("seg", seg_col)
            .filter(F.col("seg").isin(affected))
            .write.partitionBy("seg")
            .mode("overwrite")
            .parquet(out_dir)
        )
        written = {}
        for d in Path(out_dir).iterdir():
            if d.is_dir() and d.name.startswith("seg="):
                written[d.name.split("=", 1)[1]] = f"{rel}/{d.name}"
        return written

    def current_seg_size(self) -> int:
        """The CURRENT version's segment granularity — compaction doubles
        it, so it is version metadata, not indexer construction state."""
        man = self._read_raw()
        return int(man.get("seg_size", self.seg_size))

    def current_n_buckets(self) -> int:
        """The CURRENT version's term-bucket count. Like seg_size this is
        index layout, not construction state: queries prune file scans with
        a bucket predicate derived from it, so a reader (or a reopened
        indexer) that guessed the constructor default against an index
        built with another bucket count would silently drop matching
        postings. Persisted in every manifest since v1."""
        man = self._read_raw()
        return int(man.get("n_buckets", self.n_buckets))

    def _resolve_span(self, prev_raw: dict, tables: dict) -> int | None:
        """The shard span for the next manifest, or None for inline.

        Once a version is sharded the span is STICKY (read back from
        the previous manifest) so untouched shards can be carried by
        file reference — shard boundaries must agree across versions.
        In "auto" mode an inline index trips to sharded the first time
        any table would carry more than AUTO_SHARD_THRESHOLD entries."""
        if self.segs_per_shard is None:
            return None  # explicit inline request always honored
        if "shards" in prev_raw:
            recorded = prev_raw.get("segs_per_shard")
            if recorded is not None:
                return int(recorded)
            # pre-auto manifest without a recorded span: only an
            # explicit int constructor could have written it
            if isinstance(self.segs_per_shard, int):
                return self.segs_per_shard
            return AUTO_SEGS_PER_SHARD
        if isinstance(self.segs_per_shard, int):
            return self.segs_per_shard
        n_entries = max((len(m) for m in tables.values()), default=0)
        return AUTO_SEGS_PER_SHARD if n_entries > AUTO_SHARD_THRESHOLD else None

    def _write_manifest(
        self,
        v: int,
        seg_size: int,
        n_buckets: int,
        tables: dict,
        affected: list[int] | None,
    ) -> None:
        """Write version ``v``'s manifest. Inline mode stores the
        (table -> seg -> path) map in the version file; shard mode
        splits it into per-seg-range shard files and rewrites ONLY the
        shards whose range intersects ``affected`` — every other shard
        is carried from the previous version's manifest-list by
        reference (affected=None forces a full rewrite: compaction)."""
        man: dict = {"version": v, "seg_size": seg_size, "n_buckets": n_buckets}
        prev_raw = self._read_raw()
        span = self._resolve_span(prev_raw, tables)
        if span is None:
            man["tables"] = tables
        else:
            man["segs_per_shard"] = span
            prev_shards = prev_raw.get("shards", {})
            dirty = (
                None
                if affected is None
                else {int(s) // span for s in affected}
            )
            # a legacy sharded manifest with NO recorded span may have
            # been written at a different span than we resolved —
            # carrying its shard files by reference under the new
            # grouping would silently drop the entries that fall
            # outside each old file's range. Force a full rewrite.
            if "segs_per_shard" not in prev_raw and prev_shards:
                dirty = None
            mdata = Path(self.index_dir) / "mdata"
            mdata.mkdir(exist_ok=True)
            shards_out: dict = {}
            for t in TABLES:
                by_idx: dict[int, dict] = {}
                for s, p in tables.get(t, {}).items():
                    by_idx.setdefault(int(s) // span, {})[s] = p
                prev_t = prev_shards.get(t, {})
                tmap: dict[str, str] = {}
                for idx, entries in by_idx.items():
                    key = str(idx)
                    if dirty is not None and key in prev_t and idx not in dirty:
                        tmap[key] = prev_t[key]  # untouched: by reference
                    else:
                        rel = f"mdata/shard-{t}-{idx}-v{v}.json"
                        (Path(self.index_dir) / rel).write_text(
                            json.dumps(entries)
                        )
                        tmap[key] = rel
                shards_out[t] = tmap
            man["shards"] = shards_out
        self._manifest_path(v).write_text(json.dumps(man))

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        seg_size = self.current_seg_size()
        n_buckets = self.current_n_buckets()
        docs, segs, norms = self.load_tables()
        # what the update persists (its classifying join, the rebuilt
        # segments, the inserts' id assignment) lives until the three
        # writes that read it have committed
        with ingest.release_after():
            docs_new, segs_new, norms_new, affected = incremental_update(
                docs,
                segs,
                norms,
                batch_df,
                seg_size=seg_size,
                n_buckets=n_buckets,
                text_col=self.text_col,
            )
            man = self.read_manifest()
            v = self.current_version() + 1
            if not affected:
                # pure no-op batch (e.g. re-delivered identical rows):
                # nothing to write, nothing to publish
                return
            doc_seg = (F.col("doc_id") / seg_size).cast("long")
            doc_pred = seg_range_pred(affected, seg_size)
            seg_pred = F.col("seg_id").isin(affected)
            new_tables = {}
            for table, df, seg_col, pre in (
                ("docs", docs_new, doc_seg, doc_pred),
                ("segments", segs_new, F.col("seg_id"), seg_pred),
                ("norms", norms_new, F.col("seg_id"), seg_pred),
            ):
                written = self._write_affected(
                    df, table, seg_col, v, affected, pre_filter=pre
                )
                carried = {
                    s: p
                    for s, p in man["tables"][table].items()
                    if int(s) not in set(affected)
                }
                carried.update(written)
                new_tables[table] = carried
        self._write_manifest(v, seg_size, n_buckets, new_tables, affected)
        # publish only after every file group committed (_SUCCESS
        # markers): a crash mid-batch leaves CURRENT on the previous good
        # version, whose file groups GC never touches
        self._publish(v)
        self.gc()
        if self.clear_cache_after_batch:
            self.spark.catalog.clearCache()

    # -- compaction (Lucene background merges, S6 in the streaming path) -
    def compact(self, group: int = 2) -> int:
        """One tree-merge round over the live index: coalesce ``group``
        adjacent segments (``segments.merge_segments`` — bit-identical
        to a direct build at the coarser granularity), DOUBLING the
        version's seg_size so subsequent micro-batches keep their
        O(touched) arithmetic at the new granularity.

        Like Lucene's background merges (``Alix.java:352-386`` writer
        config) and Iceberg's rewrite_data_files, compaction is a rare,
        full-rewrite maintenance action: every table (docs included —
        their file groups re-key to the new seg ids) is written as a
        fresh version; readers swap atomically and GC reclaims the old
        generations. Returns the new version number.
        """
        from alix_spark.index import segments as seg_mod_

        seg_size = self.current_seg_size()
        docs, segs, norms = self.load_tables()
        m_segs, m_norms = seg_mod_.merge_segments(segs, norms, group=group)
        new_size = seg_size * group
        v = self.current_version() + 1
        doc_seg = (F.col("doc_id") / new_size).cast("long")
        # cover BOTH sources of seg ids: a doc range with documents but
        # no postings (all-empty texts) has no merged segment row, yet
        # its docs must stay in the manifest
        all_segs = sorted(
            {
                int(r["s"])
                for r in m_segs.select(F.col("seg_id").alias("s"))
                .distinct()
                .collect()
            }
            | {
                int(r["s"])
                for r in docs.select(doc_seg.alias("s")).distinct().collect()
            }
        )
        new_tables = {}
        for table, df, seg_col in (
            ("docs", docs, doc_seg),
            ("segments", m_segs, F.col("seg_id")),
            ("norms", m_norms, F.col("seg_id")),
        ):
            new_tables[table] = self._write_affected(
                df, table, seg_col, v, all_segs
            )
        self._write_manifest(
            v, new_size, self.current_n_buckets(), new_tables, None
        )
        self._publish(v)
        self.gc()
        return v

    # -- retention -------------------------------------------------------
    def gc(self) -> list[str]:
        """Delete manifests older than the last ``retain_versions`` and
        every file group no retained manifest references. Returns the
        relative paths removed. Safe for concurrent readers of retained
        versions: referenced file groups are never touched."""
        cur = self.current_version()
        if cur == 0:
            return []
        low = max(1, cur - self.retain_versions + 1)
        referenced: set[str] = set()
        referenced_shards: set[str] = set()
        for v in range(low, cur + 1):
            if not self._manifest_path(v).exists():
                continue
            raw = self._read_raw(v)
            for shard_map in raw.get("shards", {}).values():
                referenced_shards.update(shard_map.values())
            man = self.read_manifest(v)
            for t in TABLES:
                referenced.update(man["tables"][t].values())
        removed = []
        for v in range(1, low):
            mp = self._manifest_path(v)
            if mp.exists():
                mp.unlink()
                removed.append(mp.name)
        mdata = Path(self.index_dir) / "mdata"
        if mdata.exists():
            for shard in sorted(mdata.iterdir()):
                rel = str(shard.relative_to(Path(self.index_dir)))
                if rel not in referenced_shards:
                    shard.unlink()
                    removed.append(rel)
        data = Path(self.index_dir) / "data"
        if data.exists():
            for gen_dir in sorted(data.iterdir()):
                for table_dir in sorted(p for p in gen_dir.iterdir() if p.is_dir()):
                    for seg_dir in sorted(p for p in table_dir.iterdir() if p.is_dir()):
                        rel = seg_dir.relative_to(Path(self.index_dir))
                        if str(rel) not in referenced:
                            shutil.rmtree(seg_dir)
                            removed.append(str(rel))
                    if not any(p.is_dir() for p in table_dir.iterdir()):
                        shutil.rmtree(table_dir)
                if not any(gen_dir.iterdir()):
                    gen_dir.rmdir()
        return removed

    def start(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        available_now: bool = True,
    ):
        """Attach to a streaming docs source and run. ``available_now``
        drains what exists and stops (the testable mode); False runs
        continuously with the default trigger."""
        w = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()


def windowed_event_counts(
    events: DataFrame,
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream →
    (window, event_type, n, sum_value). Late events older than the
    watermark are dropped — the standard Structured Streaming late-data
    discipline for the A7-style chronology curves when the corpus arrives
    as a stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_dur), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum_value"),
        )
    )


def docs_file_stream(
    spark: SparkSession, src_dir: str, with_sha: bool = True
) -> DataFrame:
    """readStream over a directory of parquet doc files (the canonical
    landing zone of a crawl: new files appear, each holding changed
    (repo, path, commit, lang, content) rows)."""
    schema = (
        "repo string, path string, commit string, lang string, "
        "content string" + (", sha256 string" if with_sha else "")
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file
        .parquet(src_dir)
    )

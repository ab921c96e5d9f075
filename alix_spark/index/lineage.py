"""Checkpoint-resumable build: per-stage lineage + metrics tables.

Every build stage writes its output table to ``<index_dir>/<stage>``
followed by a record in ``<index_dir>/_lineage/<stage>.json``: status,
input fingerprint, the written schema, and the stage's ``rows``,
``bytes``, ``files`` and wall ms. On a re-run, a stage whose record says
``done`` with a matching input fingerprint is skipped and its output
reloaded — so a killed build
resumes from the last completed stage (north-rule requirement; the
reference's analogue is the index-version check of
``/root/reference/java/alix/lucene/search/FieldRail.java:189-219`` plus
the atomic directory swap of ``/root/reference/java/alix/cli/Load.java:157-165``).

A stage runs only its own work: the write, after which the frames its
build persisted are unpersisted. Its record comes from what
the write left on disk — ``rows`` from the parquet footers, ``bytes``
and ``files`` from the part files — and the stage is read back with the
schema of the frame it wrote, so no count job and no schema-inference
job follow the write. The stage's jobs carry the job description
``build:<stage>``, which tells them apart when stages run concurrently.
The consolidated ``_lineage_table`` and
``_metrics`` tables are written by the driver (one ``part-00000``
parquet file plus ``_SUCCESS``, the layout a one-partition Spark write
leaves), not by Spark jobs.

Spark-native atomicity: parquet writes commit via the Hadoop output
committer (_SUCCESS marker); a stage's old record is deleted before its
write starts and the new one is written only after the data commit, so
a crash or a failed write anywhere in between re-runs the stage
idempotently (mode=overwrite) instead of reloading a table the failed
write emptied.
"""

from __future__ import annotations

import contextlib
import json
import shutil
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from alix_spark.ingest import release_after


def part_files(table_dir: str | Path) -> list[Path]:
    """The parquet part files of a written table, partition dirs
    included (hidden ``.crc`` and ``_SUCCESS`` files excluded)."""
    return sorted(Path(table_dir).rglob("part-*.parquet"))


def _lineage_path(index_dir: str, stage: str) -> Path:
    return Path(index_dir) / "_lineage" / f"{stage}.json"


def lineage_record(index_dir: str, stage: str) -> dict | None:
    """A stage's lineage record; None for a stage with none."""
    p = _lineage_path(index_dir, stage)
    return json.loads(p.read_text()) if p.exists() else None


def stage_schema(index_dir: str, stage: str) -> StructType | None:
    """The schema a stage was written with, from its lineage record;
    None for a stage recorded without one."""
    schema = (lineage_record(index_dir, stage) or {}).get("schema")
    return schema and StructType.fromJson(schema)


def read_table(
    spark: SparkSession, path: str, schema: StructType | str | None
) -> DataFrame:
    """A written parquet table, read with ``schema`` when it is known, so
    opening it runs no footer-inference job."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_driver_table(table_dir: str | Path, name: str, payload: bytes) -> None:
    """Replace ``table_dir`` with one ``name`` part file plus ``_SUCCESS``,
    the layout a one-partition Spark write leaves. The new directory is
    filled beside the old one and renamed into place."""
    dest = Path(table_dir)
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (tmp / name).write_bytes(payload)
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def _parquet_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


class BuildContext:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        Path(index_dir).mkdir(parents=True, exist_ok=True)
        self._lineage_dir = Path(index_dir) / "_lineage"
        self._lineage_dir.mkdir(exist_ok=True)

    # -- lineage records (one small JSON per stage: cheap, atomic rename) --
    def record(self, stage: str) -> dict | None:
        return lineage_record(self.index_dir, stage)

    def stage_done(self, stage: str, fingerprint: str) -> bool:
        rec = self.record(stage)
        return (
            rec is not None
            and rec.get("status") == "done"
            and rec.get("fingerprint") == fingerprint
        )

    def _record(self, stage: str, rec: dict) -> None:
        rec = {"stage": stage, "status": "done", **rec,
               "ts": time.strftime("%Y-%m-%dT%H:%M:%S")}
        path = _lineage_path(self.index_dir, stage)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(rec))
        tmp.rename(path)

    @contextlib.contextmanager
    def _described(self, description: str):
        """Label the calling thread's jobs ``description`` in the block,
        then restore its previous label. Stages run concurrently, so the
        job description, not a time window, tells their jobs apart; the
        job group stays the caller's."""
        sc = self.spark.sparkContext
        key = "spark.job.description"
        before = sc.getLocalProperty(key)
        sc.setLocalProperty(key, description)
        try:
            yield
        finally:
            sc.setLocalProperty(key, before)

    def out_path(self, stage: str) -> str:
        return f"{self.index_dir}/{stage}"

    def run_stage(
        self,
        stage: str,
        fingerprint: str,
        build: "callable[[], DataFrame]",
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume-skip) one stage; returns the stage output table
        as read back from its parquet checkpoint."""
        out = self.out_path(stage)
        if self.stage_done(stage, fingerprint):
            return read_table(self.spark, out, stage_schema(self.index_dir, stage))
        # the overwrite empties ``out`` first: a record left behind by an
        # earlier run would mark a failed re-run's table done
        _lineage_path(self.index_dir, stage).unlink(missing_ok=True)
        t0 = time.time()
        # what the build caches (row numbering, vocabulary stats) is
        # released once the write has committed
        with release_after(), self._described(f"build:{stage}"):
            df = build()
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(out)
        files = part_files(out)
        self._record(
            stage,
            {
                "fingerprint": fingerprint,
                "rows": sum(pq.read_metadata(f).num_rows for f in files),
                "bytes": sum(f.stat().st_size for f in files),
                "files": len(files),
                "wall_ms": round((time.time() - t0) * 1000, 1),
                "schema": df.schema.jsonValue(),
            },
        )
        return read_table(self.spark, out, df.schema)

    # -- consolidated tables for inspection --
    def records(self) -> list[dict]:
        return [
            json.loads(p.read_text())
            for p in sorted(self._lineage_dir.glob("*.json"))
        ]

    def write_tables(self):
        """Materialize _lineage_table/_metrics as parquet tables in the
        index, from the driver."""
        recs = self.records()

        def table(cols: dict[str, pa.DataType]) -> bytes:
            return _parquet_bytes(
                pa.table(
                    {c: pa.array([r.get(c) for r in recs], t)
                     for c, t in cols.items()}
                )
            )

        write_driver_table(
            f"{self.index_dir}/_lineage_table",
            "part-00000.parquet",
            table({"stage": pa.string(), "status": pa.string(),
                   "fingerprint": pa.string(), "ts": pa.string()}),
        )
        write_driver_table(
            f"{self.index_dir}/_metrics",
            "part-00000.parquet",
            table({"stage": pa.string(), "rows": pa.int64(),
                   "bytes": pa.int64(), "files": pa.int64(),
                   "wall_ms": pa.float64()}),
        )

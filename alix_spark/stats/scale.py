"""A7 — chronology curves over an int axis (Scale).

Reference: ``/root/reference/java/alix/lucene/search/Scale.java:82-344``.
The x-axis is NOT the raw year: docs are ordered by the int field, their
token counts cumulated, and the cumulative-token axis is cut into ``dots``
equal buckets — so every bucket holds the same amount of TEXT, not the
same number of years. Term(-group) frequencies are then summed per
bucket.

Spark plan: a cumulative-sum window over the year ordering (one pass),
bucket = floor(cum_before * dots / total), then matched-postings ⋈ bucket
map, groupBy(bucket, group).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def doc_buckets(
    docs: DataFrame,
    doc_lens: DataFrame,
    axis_col: str,
    dots: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bucket) — equal-token buckets along the axis order.

    Range-partitioned prefix sum (same structure as
    :func:`alix_spark.ingest.scalable_row_number`): range-partition by the
    (axis, doc_id) total order, sum ``dl`` per sorted partition, broadcast
    the cumulative offsets, and add a partition-local running sum — no
    row ever funnels through a single unpartitioned window. Because
    (axis, doc_id) is a total order, the global prefix sum is identical
    whatever boundaries ``repartitionByRange`` samples, so the bucket
    assignment is deterministic across re-evaluations.
    """
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(axis_col).alias("_axis"))
    j = d.join(doc_lens, "doc_id")
    total = j.agg(F.sum("dl")).collect()[0][0] or 1
    n_part = max(
        2,
        int(j.sparkSession.conf.get("spark.sql.shuffle.partitions")) // 2,
    )
    ordered = j.repartitionByRange(
        n_part, F.asc("_axis"), F.asc("doc_id")
    ).sortWithinPartitions("_axis", "doc_id")
    with_pid = ordered.withColumn("_pid", F.spark_partition_id())
    sums = {
        r["_pid"]: r["s"]
        for r in with_pid.groupBy("_pid").agg(F.sum("dl").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    if offsets:
        offset_col = F.coalesce(
            F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])[
                F.col("_pid")
            ],
            F.lit(0),
        )
    else:  # empty corpus
        offset_col = F.lit(0)
    w = Window.partitionBy("_pid").orderBy("_axis", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        with_pid.withColumn(
            "_cum", offset_col + F.coalesce(F.sum("dl").over(w), F.lit(0))
        )
        .withColumn(
            "bucket",
            F.least(
                F.floor(F.col("_cum") * dots / float(total)).cast("int"),
                F.lit(dots - 1),
            ),
        )
        .select("doc_id", "_axis", "bucket")
    )


def chronology(
    docs: DataFrame,
    doc_lens: DataFrame,
    postings: DataFrame,
    term_groups: dict[str, list[str]],
    axis_col: str,
    dots: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequency curves per bucket per term group → (bucket, group, freq,
    axis_min, axis_max, bucket_occs).

    ``term_groups`` maps a curve label to its terms (the reference's
    TermList groups, ``Scale.java:272-344``). Frequencies are per-bucket
    matched occurrences; ``bucket_occs`` normalizes to relative frequency.
    """
    buckets = doc_buckets(docs, doc_lens, axis_col, dots, id_col)
    pairs = [(g, t) for g, ts in term_groups.items() for t in ts]
    spark = docs.sparkSession
    gmap = spark.createDataFrame(pairs, "group string, term string")
    matched = (
        postings.join(F.broadcast(gmap), "term")
        .groupBy("doc_id", "group")
        .agg(F.sum("tf").alias("freq"))
    )
    per_bucket = (
        buckets.join(matched, "doc_id")
        .groupBy("bucket", "group")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )
    sizes = (
        buckets.join(doc_lens, "doc_id")
        .groupBy("bucket")
        .agg(
            F.sum("dl").cast("long").alias("bucket_occs"),
            F.min("_axis").alias("axis_min"),
            F.max("_axis").alias("axis_max"),
        )
    )
    return per_bucket.join(sizes, "bucket").select(
        "bucket", "group", "freq", "axis_min", "axis_max", "bucket_occs"
    )

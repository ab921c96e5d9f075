"""The per-layer ledger of a traced run.

Inputs: the Spark event log of the session (one JSON event a line), the
benchmark's spans (whose ``op`` is the Spark job group of every job they
started), the build CLI's ``_lineage/<stage>.json`` records, and the
samples the workload measured. Output: ``{metric: [value, unit]}``.

A job belongs to the loop operation named by the first part of its job
group (``q7`` for query 7, ``c3`` for commit 3 and its ``c3.batch``,
``c3.open`` and ``c3.s0`` children). A build stage owns the jobs of the
``setup.build`` group submitted inside its lineage window, which ends at
the record's modification time and lasts its ``wall_ms``.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter, defaultdict
from pathlib import Path

TASK_FIELDS = ("tasks", "run_ms", "shuffle_write", "spill", "output_bytes",
               "input_records")

# op class of a loop span -> the per-layer latency metric it feeds
QUERY_LAYERS = {
    ("or", None): "search.wand.or_ms",
    ("or", "head"): "search.wand.or_head_ms",
    ("or", "tail"): "search.wand.or_tail_ms",
    ("must", None): "index.reader.boolean_ms",
    ("wildcard", None): "index.reader.wildcard_ms",
    ("phrase", None): "search.phrase_ms",
    ("term_list", None): "stats.fieldtext.term_list_ms",
    ("kwic", None): "render.kwic_ms",
    ("cooc", None): "cooc.window_ms",
}
# build stage -> the module that runs it
STAGE_LAYERS = {
    "docs": "ingest.docs_s",
    "postings": "index.build.postings_s",
    "doc_lens": "index.build.doc_lens_s",
    "forms": "index.build.forms_s",
    "offsets": "analysis.simple.offsets_s",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def class_samples(samples: dict, kind: str, head: str | None) -> list:
    """Samples of one op class; keys are ``<group>:<kind>[:head|:tail]``."""
    out = []
    for k, vs in samples.items():
        p = k.split(":")
        if len(p) >= 2 and p[1] == kind and (head is None or p[2:] == [head]):
            out.extend(vs)
    return out


def lineage_windows(index_dir: Path) -> dict[str, dict]:
    """stage -> {start, end, wall_s, rows} from ``_lineage/*.json``."""
    out = {}
    for p in sorted((Path(index_dir) / "_lineage").glob("*.json")):
        rec = json.loads(p.read_text())
        end = p.stat().st_mtime
        wall = rec["wall_ms"] / 1000.0
        out[rec["stage"]] = {"start": end - wall, "end": end,
                             "wall_s": wall, "rows": rec["rows"]}
    return out


def read_events(events_dir: Path) -> tuple[dict, dict]:
    """(jobs, stage_stats) from the event log: jobs[id] = {group, submit,
    end, stages}; stage_stats[stage] = Counter over TASK_FIELDS."""
    jobs: dict[int, dict] = {}
    stages: dict[int, Counter] = defaultdict(Counter)
    # Spark 4 writes a directory eventlog_v2_<app>/ of events_<n>_<app>
    # files next to an empty appstatus marker
    for path in sorted(Path(events_dir).rglob("events_*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": e["Submission Time"] / 1000.0,
                        "end": e["Submission Time"] / 1000.0,
                        "stages": e.get("Stage IDs", []),
                    }
                elif ev == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = stages[e["Stage ID"]]
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    st["output_bytes"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    st["input_records"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
    # a stage id is listed again (skipped) by later jobs that reuse its
    # shuffle output: charge its tasks to the first job that lists it
    seen: set[int] = set()
    for jid in sorted(jobs):
        own = [s for s in jobs[jid]["stages"] if s not in seen]
        seen.update(own)
        jobs[jid]["stages"] = own
    return jobs, stages


def job_totals(job_list: list[dict], stages: dict) -> Counter:
    tot: Counter = Counter()
    for j in job_list:
        tot["jobs"] += 1
        for s in j["stages"]:
            for k in TASK_FIELDS:
                tot[k] += stages.get(s, Counter())[k]
    return tot


def covered(job_list: list[dict]) -> float:
    """Seconds of wall time covered by at least one of the jobs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((j["submit"], j["end"]) for j in job_list):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_layer(res: dict, spans: list[dict], events_dir: Path) -> dict:
    jobs, stages = read_events(events_dir)
    cores = res["cores"]
    samples = res["samples"]
    L: dict[str, list] = {}

    def put(name, value, unit):
        L[name] = [value, unit]

    put("session.get_spark_s", res["get_spark_s"], "s")
    put("index.build_s", res["build_s"], "s")
    put("index.reader.open_ms", res["open_ms"], "ms")
    put("tracing.loop_op_p50_ms", median(samples["loop_op"]), "ms")
    put("tracing.span_overhead_us", res["span_overhead_us"], "us")

    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        by_group[j["group"] or "-"].append(j)

    # ---- the loop: every top-level op span (q<i> / c<i>)
    loop_spans = [s for s in spans if s["op"] and s["op"][0] in "qc"
                  and "." not in s["op"] and s["parent"] is None]
    loop_jobs = {s["op"]: [] for s in loop_spans}
    for g, js in by_group.items():
        root = g.split(".")[0]
        if root in loop_jobs:
            loop_jobs[root].extend(js)
    n_ops = max(1, len(loop_spans))
    tot = job_totals([j for js in loop_jobs.values() for j in js], stages)
    wall = sum(s["end"] - s["start"] for s in loop_spans)
    driver = sum(
        (s["end"] - s["start"]) - covered(loop_jobs[s["op"]]) for s in loop_spans
    )
    put("spark.jobs_per_op", tot["jobs"] / n_ops, "count")
    put("spark.tasks_per_op", tot["tasks"] / n_ops, "count")
    put("spark.executor_run_ms_per_op", tot["run_ms"] / n_ops, "ms")
    put("spark.shuffle_bytes_per_op", tot["shuffle_write"] / n_ops, "bytes")
    put("spark.driver_ms_per_op", driver * 1000.0 / n_ops, "ms")
    put("spark.core_util", tot["run_ms"] / 1000.0 / max(wall, 1e-9) / cores, "ratio")

    # ---- per operation class: latency, jobs, tasks, shuffle, scan ratio
    classes: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s["op"] and s["op"][0] in "qc" and s["name"] != "commit":
            cls = s["name"].split(".")[-1]
            classes[cls].append(s["op"])
    rows = res.get("result_rows", {})
    for cls, ops in sorted(classes.items()):
        js = [j for op in ops for j in by_group.get(op, [])]
        t = job_totals(js, stages)
        n = len(ops)
        put(f"{cls}.jobs", t["jobs"] / n, "count")
        put(f"{cls}.tasks", t["tasks"] / n, "count")
        put(f"{cls}.shuffle_bytes", t["shuffle_write"] / n, "bytes")
        out_rows = sum(rows.get(op, 0) for op in ops)
        if out_rows:
            put(f"{cls}.rows_scanned_per_result", t["input_records"] / out_rows, "ratio")

    for (kind, head), name in QUERY_LAYERS.items():
        vals = class_samples(samples, kind, head)
        if vals:
            put(name, median(vals), "ms")

    # ---- build stages of the CLI call (query_mix)
    lineage = res.get("lineage")
    if lineage:
        build_jobs = by_group.get("setup.build", [])
        stage_wall = 0.0
        merge = encode = 0.0
        for stage, w in sorted(lineage.items(), key=lambda kv: kv[1]["start"]):
            js = [j for j in build_jobs if w["start"] <= j["submit"] <= w["end"]]
            t = job_totals(js, stages)
            stage_wall += w["wall_s"]
            put(f"{stage}.wall_s", w["wall_s"], "s")
            put(f"{stage}.jobs", t["jobs"], "count")
            put(f"{stage}.tasks", t["tasks"], "count")
            put(f"{stage}.executor_run_s", t["run_ms"] / 1000.0, "s")
            put(f"{stage}.shuffle_write_bytes", t["shuffle_write"], "bytes")
            put(f"{stage}.spill_bytes", t["spill"], "bytes")
            put(f"{stage}.output_bytes", t["output_bytes"], "bytes")
            put(f"{stage}.core_util",
                t["run_ms"] / 1000.0 / max(w["wall_s"], 1e-9) / cores, "ratio")
            if stage in STAGE_LAYERS:
                put(STAGE_LAYERS[stage], w["wall_s"], "s")
            elif stage in ("segments0", "norms0"):
                encode += w["wall_s"]
            else:
                merge += w["wall_s"]
        put("index.segments.encode_s", encode, "s")
        put("index.segments.merge_s", merge, "s")
        put("index.build.stage_share", stage_wall / res["build_s"], "ratio")

    # ---- streaming commits (update_mix)
    commits = res.get("commits")
    if commits:
        put("streaming.process_batch_s", median(samples["process_batch"]) / 1000.0, "s")
        put("index.reader.open_streaming_ms", median(samples["open_streaming"]), "ms")
        put("streaming.segments_touched",
            median(c["segments_touched"] for c in commits), "count")
        put("streaming.bytes_written_per_changed_byte",
            sum(c["bytes_written"] for c in commits)
            / max(1, sum(c["changed_bytes"] for c in commits)), "ratio")
    return L

"""Run one benchmark workload in a cold process and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

Each run spawns ``workload.py`` as a fresh Python process (so the JVM,
the Spark session and its worker warmup are part of every run), samples
the peak RSS of its whole process tree, waits until every process of
that tree has ended, and prints a report: one ``name = value unit`` line
per metric, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones of ``BENCHMARK.json``. All files go to ``perfbench/.work`` (removed
after the run) and ``perfbench/results`` (the last full report of each
workload and trace mode, and the spans of its last traced run).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("query_mix", "update_mix")
DEFAULT_DOCS = 600
CHILD_TIMEOUT_S = 165
REAP_TIMEOUT_S = 10
PAGE = os.sysconf("SC_PAGE_SIZE")

END_TO_END = {
    "setup_s": "s",
    "index_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "loop_op_p50_ms": "ms",
    "search_p50_ms": "ms",
}
PER_LAYER = (
    "session.get_spark_s",
    "index.build_s",
    "index.reader.open_ms",
    "search.wand.or_ms",
    "index.reader.boolean_ms",
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    "spark.executor_run_ms_per_op",
    "spark.shuffle_bytes_per_op",
    "spark.driver_ms_per_op",
    "spark.core_util",
    "tracing.loop_op_p50_ms",
    "tracing.span_overhead_us",
)


# ------------------------------------------------------ the process tree


def session_procs(sid: int) -> list[tuple[int, int]]:
    """(pid, rss bytes) of every live process in session ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        # fields[0] is the state (stat field 3): session is field 6,
        # rss (pages) field 24
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append((int(d), int(fields[21]) * PAGE))
    return out


class RssSampler(threading.Thread):
    """Polls the summed RSS of the child's session every 50 ms."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, sum(r for _, r in session_procs(self.sid)))
            self._halt.wait(0.05)

    def stop(self):
        self._halt.set()
        self.join()


def reap(sid: int) -> None:
    """Wait until every process of the session has ended; kill what is
    left after REAP_TIMEOUT_S."""
    deadline = time.time() + REAP_TIMEOUT_S
    while session_procs(sid):
        if time.time() > deadline:
            for pid, _ in session_procs(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + REAP_TIMEOUT_S
        time.sleep(0.1)


# -------------------------------------------------------------- metrics


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """The highest of p75/p90/p95/p99 with at least ten samples beyond
    it, as (p, value), or None when there are too few samples."""
    xs = sorted(xs)
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100)[p - 1]
    return None


def report(res: dict, spawn: float, peak_rss: int) -> tuple[dict, list[str]]:
    """(end-to-end metrics, report lines) of one untraced run."""
    s = res["samples"]
    ranked = [v for k, vs in s.items() if k.startswith(("ranked:", "search:")) for v in vs]
    e2e = {
        "setup_s": res["ready"] - spawn,
        "index_docs_per_s": res["docs"] / res["build_s"],
        "index_bytes_per_input_byte": res["index_bytes"] / res["input_bytes"],
        "loop_op_p50_ms": statistics.median(s["loop_op"]),
        "search_p50_ms": statistics.median(ranked),
    }
    lines = [f"{k} = {v} {END_TO_END[k]}" for k, v in e2e.items()]
    # report only: the JVM grows its heap lazily, so the peak moves by
    # half its value from run to run
    lines.append(f"peak_rss_mb = {peak_rss / 2**20} MiB")
    lines.append(f"ops_failed_frac = {res['failed'] / res['attempted']} ratio"
                 f" ({res['failed']} of {res['attempted']})")

    def timing(name, xs, unit="ms", scale=1.0):
        lines.append(f"{name}_p50_{unit} = {statistics.median(xs) * scale} {unit}"
                     f" (n={len(xs)})")
        tail = tail_percentile(xs)
        if tail:
            lines.append(f"{name}_p{tail[0]}_{unit} = {tail[1] * scale} {unit}")
        else:
            lines.append(f"{name}: no percentile above p50 has ten samples beyond it")

    if res["workload"] == "query_mix":
        lines.append(f"build_docs_per_s = {e2e['index_docs_per_s']} docs/s")
        timing("search", ranked)
        timing("stats", [v for k, vs in s.items() if k.startswith("stats:") for v in vs])
    else:
        timing("freshness", s["loop_op"], "s", 1e-3)
        timing("mixed_search", s["search"])
    lines.append(
        f"inputs: {res['docs']} docs, {res['tokens']} tokens, {res['vocab']} terms,"
        f" {res['input_bytes']} content bytes, {res['segments']} segments,"
        f" {res['index_bytes']} index bytes, local[{res['cores']}]"
    )
    return e2e, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                    help="corpus size (the smoke test uses a tiny one)")
    args = ap.parse_args(argv)

    if not (ROOT / "alix_spark" / "__init__.py").is_file():
        print(f"perfbench: no alix_spark package under {ROOT}", file=sys.stderr)
        return 2

    # SIGTERM unwinds like Ctrl-C, so the workload's processes are
    # stopped and the work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    result = work / "result.json"
    cmd = [
        sys.executable, str(HERE / "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--docs", str(args.docs), "--cores", str(cores),
        "--work", str(work), "--result", str(result),
    ]
    try:
        with open(work / "child.log", "w") as log:
            spawn = time.time()
            child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
            sampler = RssSampler(child.pid)
            sampler.start()
            try:
                rc = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                if child.poll() is None:  # timed out, or we were stopped
                    os.killpg(child.pid, signal.SIGKILL)
                    child.wait()
                reap(child.pid)
                sampler.stop()
        if rc != 0 or not result.is_file():
            tail = (work / "child.log").read_text().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: workload process {why}", file=sys.stderr)
            return 1
        res = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, lines = report(res, spawn, sampler.peak)
    if args.trace:
        ledger = res["ledger"]
        lines = [f"{k} = {v} {u}" for k, (v, u) in sorted(ledger.items())]
        metrics = {k: {"value": ledger[k][0], "unit": ledger[k][1]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if res["examples"]:
        lines.append("failures: " + json.dumps(res["errors"]))
        lines += ["  " + x for x in res["examples"]]
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])]
    results = HERE / "results"
    results.mkdir(exist_ok=True)
    (results / f"{args.workload}-trace{args.trace}.txt").write_text("\n".join(lines) + "\n")
    if args.trace:
        (results / f"{args.workload}-spans.json").write_text(json.dumps(res["spans"]))
    print("\n".join(lines))
    if bad:
        print(f"perfbench: no value for {', '.join(bad)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer measurement for the traced run.

Everything here sits in the benchmark's own code, around calls into
the engine: wrappers on the foreachBatch sink and the lake merge,
``StreamingQuery.recentProgress`` (per-micro-batch phase durations and
state-store metrics), and Spark's JSON event log (per-job/stage/task
metrics). None of it runs when ``--trace 0``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# progress durationMs key -> per-layer metric (summed over the batches
# of one closed-loop round)
PHASES = {
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "queryPlanning": "stream.query_planning_ms",
    "addBatch": "stream.add_batch_ms",
    "triggerExecution": "stream.trigger_ms",
}
STATE = {
    "commitTimeMs": "state.commit_ms",
    "numRowsUpdated": "state.rows_updated",
}
# event-log totals per round -> per-layer metric under "query."
JOB_STATS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes",
}
# The per-layer metrics of the result line, (name, unit). Each is measured
# on every workload; a layer only one workload uses reports counts here
# (zero where it is bypassed), and its times go into the run record and
# into stream.durable_commit_ms.
PER_LAYER = (
    [("session.get_spark_s", "s"), ("setup.warmup_s", "s")]
    + [(m, "ms") for m in PHASES.values()]
    + [("stream.pickup_ms", "ms"), ("stream.batches_per_round", "count"),
       ("stream.durable_commit_ms", "ms"), ("sink.call_s", "s"),
       ("lakesnap.files_per_version", "count"), ("lakesnap.bytes_per_version", "bytes"),
       ("state.rows_total", "count"), ("state.memory_bytes", "bytes"),
       ("state.rows_updated", "count"),
       ("query.plan_s", "s"), ("query.exec_s", "s")]
    + [(f"query.{k}", u) for k, u in JOB_STATS.items()]
    + [("trace.latency_p50_s", "s"), ("trace.rows_per_s", "rows/s")]
)
# measured where the layer runs, reported in the run record only
RECORD_ONLY = (("lakesnap.merge_s", "s"), ("state.commit_ms", "ms"))


def _ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


class Tracer:
    """Per-layer samples of the live rounds; each metric reports the
    median over rounds. Samples taken during warm-up and drains are
    dropped."""

    def __init__(self, work: str):
        self.work = work
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.pending: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self.seen_batch = -1
        self.round_batches: list[list[str]] = []
        self.lake: str | None = None

    def wrap(self, metric: str, fn):
        """``fn`` timed on every call, in seconds."""
        pending = self.pending[metric]

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                pending.append(time.perf_counter() - t0)

        return timed

    def _lake_version(self) -> None:
        """New files and bytes of the lake's latest version."""
        from docker_based_real_time_etl_project_spark.lakesnap import snap_files, snap_versions

        vs = snap_versions(self.lake)
        new = set(snap_files(self.lake, vs[-1]))
        if len(vs) > 1:
            new -= set(snap_files(self.lake, vs[-2]))
        self.samples["lakesnap.files_per_version"].append(len(new))
        self.samples["lakesnap.bytes_per_version"].append(
            sum(os.path.getsize(os.path.join(self.lake, p)) for p in new)
        )

    def round_progress(self, query, publish_wall: float, record: bool) -> None:
        """Fold one closed-loop round (every micro-batch since the last
        call) into per-round samples, or skip over it."""
        new = [p for p in query.recentProgress if p["batchId"] > self.seen_batch]
        pending = {k: v[:] for k, v in self.pending.items()}
        for v in self.pending.values():
            v.clear()
        if new:
            self.seen_batch = max(p["batchId"] for p in new)
        if not record or not new:
            return
        for k, v in pending.items():
            self.samples[k].append(sum(v))
        self.round_batches.append([f"batch:{p['batchId']}" for p in new])
        per = defaultdict(float)
        for p in new:
            for k, m in PHASES.items():
                per[m] += p["durationMs"].get(k, 0)
            for op in p.get("stateOperators") or []:
                for k, m in STATE.items():
                    per[m] += op.get(k, 0)
        for m, v in per.items():
            self.samples[m].append(v)
        self.samples["stream.batches_per_round"].append(len(new))
        # trigger start of the batch that picked the file up; slightly
        # negative when that trigger began just before the publish
        first = min(new, key=lambda p: p["batchId"])
        self.samples["stream.pickup_ms"].append(_ms(first["timestamp"]) - publish_wall * 1000)
        ops = new[-1].get("stateOperators") or []
        self.values["state.rows_total"] = sum(o["numRowsTotal"] for o in ops)
        self.values["state.memory_bytes"] = sum(o["memoryUsedBytes"] for o in ops)
        if self.lake is not None:
            self._lake_version()

    def event_log(self) -> dict[str, dict[str, float]]:
        """Per-micro-batch totals from Spark's JSON event log; ``job_s``
        is the wall time the batch's jobs cover (their union)."""
        stage_tag: dict[int, str] = {}
        jobs: dict[int, list] = {}  # job id -> [tag, submitted, completed]
        tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for path in glob.glob(os.path.join(self.work, "eventlog", "*")):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        if "streaming.sql.batchId" not in props:
                            continue
                        tag = "batch:" + props["streaming.sql.batchId"]
                        jobs[ev["Job ID"]] = [tag, ev["Submission Time"], None]
                        tot[tag]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_tag[sid] = tag
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]][2] = ev["Completion Time"]
                    elif kind == "SparkListenerStageCompleted":
                        tag = stage_tag.get(ev["Stage Info"]["Stage ID"])
                        if tag is not None:
                            tot[tag]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        tag = stage_tag.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if tag is None or not m:
                            continue
                        t = tot[tag]
                        t["tasks"] += 1
                        t["executor_run_s"] += m["Executor Run Time"] / 1e3
                        t["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                        t["gc_s"] += m["JVM GC Time"] / 1e3
                        sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                        t["shuffle_bytes"] += (
                            sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                            + sw["Shuffle Bytes Written"]
                        )
                        t["spill_bytes"] += (
                            m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                        )
        spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
        for tag, a, b in jobs.values():
            spans[tag].append((a, a if b is None else b))
        for tag, sps in spans.items():
            covered, end = 0.0, float("-inf")
            for a, b in sorted(sps):
                if b > end:
                    covered += b - max(a, end)
                    end = b
            tot[tag]["job_s"] = covered / 1e3
        return tot

    def fold_rounds(self, latencies: list[float]) -> None:
        """Event-log totals of each recorded round's micro-batches.
        query.exec_s is the wall time the round's Spark jobs cover;
        query.plan_s the rest of the round (driver-side planning,
        scheduling, Python and the benchmark's own publish)."""
        tot = self.event_log()
        for latency, tags in zip(latencies, self.round_batches):
            r = defaultdict(float)
            for t in tags:
                for k, v in tot.get(t, {}).items():
                    r[k] += v
            for k in JOB_STATS:
                self.samples[f"query.{k}"].append(r[k])
            self.samples["query.exec_s"].append(r["job_s"])
            self.samples["query.plan_s"].append(latency - r["job_s"])

    def metrics(self) -> tuple[dict[str, dict], dict[str, dict]]:
        """(per-layer metrics for the result line, record-only ones)."""
        med = {k: statistics.median(v) for k, v in self.samples.items() if v}
        med.update(self.values)
        # GC comes in bursts that most rounds miss: its median would read
        # 0, so report the mean per round
        gc = self.samples.get("query.gc_s")
        if gc:
            med["query.gc_s"] = sum(gc) / len(gc)
        if "state.commit_ms" in med:
            med["stream.durable_commit_ms"] = med["state.commit_ms"]
        elif "lakesnap.merge_s" in med:
            med["stream.durable_commit_ms"] = med["lakesnap.merge_s"] * 1000
        # a layer this workload bypasses did no work: zero
        main = {n: {"value": med.get(n, 0), "unit": u} for n, u in PER_LAYER}
        extra = {n: {"value": med[n], "unit": u} for n, u in RECORD_ONLY if n in med}
        return main, extra

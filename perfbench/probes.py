"""Outside-in probes for the benchmark: spans, Spark job groups, the
event log, logical-plan size and the driver JVM's peak RSS.

Nothing here reaches into the program under test. Every number comes
from timing a call into a layer's public function, from Spark's status
tracker for the job group set around that call, or from the JSON event
log Spark writes when the traced run enables it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans ``{id, name, start, end, parent, run_id}``; with
    ``enabled`` false every call is a plain pass-through, so the untraced
    run times the same code path without spans or job groups."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time the body as one span. With ``group``, the Spark jobs the
        body submits are tagged with that job group, so the status
        tracker and the event log can attribute them to this call."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if group is not None:
            sc.setJobGroup(group, name, interruptOnCancel=False)
        try:
            yield rec
        finally:
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec["end"] = time.time()
            self._stack.pop()

    def jobs(self, group: str) -> list[int]:
        """Ids of the jobs submitted under ``group`` (status tracker)."""
        if not self.enabled:
            return []
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover, summed by the layer prefix of the span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            layer = s["name"].split(":", 1)[0]
            out[layer] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def plan_nodes(df, limit: int = 200_000) -> int:
    """Node count of the DataFrame's logical plan, walked on the JVM
    side through py4j. Never renders the tree to a string: string
    rendering is what ran the driver out of heap on deep plans."""
    stack = [df._jdf.queryExecution().logical()]
    n = 0
    while stack and n < limit:
        node = stack.pop()
        n += 1
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return n


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the high-water resident set since the
    JVM started), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress (``triggerExecution`` ms and input
    rows) and counts terminated queries, so a caller can wait until the
    listener bus has delivered every progress event of a finished query."""

    def __init__(self):
        self.batches: list[tuple[float, int]] = []
        self.run_ids: list[str] = []  # a query's job group is its run id
        self.terminated = 0

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            (float(p.durationMs.get("triggerExecution", 0)), int(p.numInputRows))
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        deadline = time.monotonic() + timeout
        while self.terminated < n and time.monotonic() < deadline:
            time.sleep(0.02)


def event_log_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, executor run time,
    shuffle bytes and spill, read from the application's JSON event log."""
    paths = glob.glob(os.path.join(log_dir, app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float)
    )
    stages_seen: set[tuple[str, int]] = set()
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if group is None or not tm:
                    continue
                g = out[group]
                g["tasks"] += 1
                g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                sr = tm.get("Shuffle Read Metrics", {})
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                g["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                key = (group, ev.get("Stage ID"))
                if key not in stages_seen:
                    stages_seen.add(key)
                    g["stages"] += 1
    return out

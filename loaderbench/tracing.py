"""Benchmark-side measurement: spans, loader phases, engine metrics, RSS.

Everything here observes the program from outside, through public calls:

- ``Tracer`` records spans around the calls the benchmark makes (name,
  start, end, parent, operation id) and keeps them in memory until the
  run ends.
- ``LoaderListener`` is a ``StreamingQueryListener`` that keeps each
  micro-batch's ``durationMs`` phases, which ``run_loader`` discards.
- ``EventLog`` reads Spark's own event log (written uncompressed) and
  sums task metrics over wall-clock windows, one window per operation.
- ``RssSampler`` samples the resident memory of this process and every
  descendant (the JVM and its Python workers) from ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans.  Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def with_self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            covered = _union_length(
                [(c["start"], c["end"] or c["start"]) for c in children.get(s["id"], [])]
            )
            out.append({**s, "dur_s": dur, "self_s": max(0.0, dur - covered)})
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.with_self_times():
                fh.write(json.dumps(s) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
          "commitOffsets", "triggerExecution")


class LoaderListener(StreamingQueryListener):
    """Keeps every micro-batch's ``durationMs``, per streaming run.

    Keyed by ``runId``: a loader run restarted from the same checkpoint
    keeps its query ``id`` but gets a new ``runId``."""

    def __init__(self) -> None:
        self.batches: dict[str, list[dict]] = {}
        self.finished: list[str] = []
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        durations = {k: int(v) for k, v in (p.durationMs or {}).items()}
        with self._cond:
            self.batches.setdefault(str(p.runId), []).append(
                {"rows": int(p.numInputRows or 0), **durations}
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cond:
            self.finished.append(str(event.runId))
            self._cond.notify_all()

    def run_batches(self, n: int, timeout: float = 30.0) -> list[dict]:
        """Batches of the ``n``-th loader run (1-based) once it has ended;
        listener events arrive asynchronously, after ``run_loader`` returns."""
        with self._cond:
            if not self._cond.wait_for(lambda: len(self.finished) >= n, timeout):
                raise RuntimeError(f"loader run {n} never reported termination")
            return list(self.batches.get(self.finished[n - 1], []))


def phase_sums(batches: list[dict]) -> dict[str, float]:
    """Seconds per ``durationMs`` phase, summed over a run's batches."""
    return {k: sum(b.get(k, 0) for b in batches) / 1000.0 for k in PHASES}


LOADER_KEYS = ("run_s", "trigger_s", "outside_trigger_s", "add_batch_s", "query_planning_s",
               "latest_offset_s", "get_batch_s", "wal_commit_s", "commit_offsets_s",
               "batches", "files_written", "rows_per_file", "bytes_out_per_byte_in",
               "readback_s", "readback_files")

ENGINE_KEYS = ("jobs", "stages", "tasks", "driver_gap_s", "executor_run_s",
               "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
               "spill_mb", "task_skew")


class EventLog:
    """Task, stage and job records from one application's event log."""

    def __init__(self, log_dir: str) -> None:
        self.tasks: list[dict] = []
        self.jobs: dict[int, dict] = {}
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and "events_" in os.path.basename(f)
        )
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"],
                "launch": info["Launch Time"] / 1000.0,
                "wall": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "read_mb": (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / 1e6,
                "write_mb": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
                "spill_mb": m.get("Disk Bytes Spilled", 0) / 1e6,
            })
        elif kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000.0, "end": None}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0

    def metrics(self, windows: list[tuple[float, float]]) -> dict[str, float]:
        """Engine metrics for the work that started inside ``windows``
        (wall-clock seconds).  Operations run one at a time, so a job or
        task belongs to the window its start falls in."""

        def inside(t: float) -> bool:
            return any(s <= t <= e for s, e in windows)

        jobs = [j for j in self.jobs.values() if inside(j["start"])]
        tasks = [t for t in self.tasks if inside(t["launch"])]
        busy = _union_length([
            (max(j["start"], s), min(j["end"] or e, e))
            for j in jobs for s, e in windows if s <= j["start"] <= e
        ])
        per_stage: dict[int, list[float]] = {}
        for t in tasks:
            per_stage.setdefault(t["stage"], []).append(t["wall"])
        skews = [
            max(w) / statistics.median(w)
            for w in per_stage.values() if len(w) >= 2 and statistics.median(w) > 0
        ]
        return {
            "jobs": float(len(jobs)),
            "stages": float(len(per_stage)),
            "tasks": float(len(tasks)),
            "driver_gap_s": sum(e - s for s, e in windows) - busy,
            "executor_run_s": sum(t["run_s"] for t in tasks),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_read_mb": sum(t["read_mb"] for t in tasks),
            "shuffle_write_mb": sum(t["write_mb"] for t in tasks),
            "spill_mb": sum(t["spill_mb"] for t in tasks),
            "task_skew": max(skews) if skews else 1.0,
        }


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        if fields[0] != "Z":
            parent[int(entry)] = int(fields[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree.extend(frontier)
    return tree


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / 1e6


class RssSampler:
    """Peak of the summed RSS of this process tree, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

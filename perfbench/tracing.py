"""Per-layer tracing, kept inside the benchmark.

- ``Spans``: nested wall-clock spans around the benchmark's calls into
  each layer's public function. Every span also tags the Spark jobs it
  starts with the job group ``<iteration>|<layer>``, so the event log can
  attribute executor time to layers. A span's self time is its duration
  minus the nested spans inside it.
- ``TracedCheckpointManager``: times durable stage writes as the
  ``checkpoint`` layer, including the ones ``mess_data`` makes itself.
- ``fold_event_log``: reads Spark's uncompressed local event log and sums
  stage metrics per job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from rlerrorgenerator_spark.checkpoint import CheckpointManager

# Layer name for work outside every span.
DRIVER = "driver"


class Spans:
    """Nested layer spans for one Spark session (single driver thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.tag = "setup"
        self._stack: list[list] = []   # [layer, start, nested seconds]
        self._materialized: list = []  # DataFrames forced at a boundary
        # iteration tag -> layer -> self seconds
        self.self_s: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        # iteration tag -> bytes written by durable stages
        self.bytes_written: dict[str, int] = defaultdict(int)

    def _set_group(self) -> None:
        layer = self._stack[-1][0] if self._stack else DRIVER
        self.sc.setJobGroup(f"{self.tag}|{layer}", layer)

    def begin(self, tag: str) -> None:
        """Tag the jobs and spans that follow with iteration ``tag``."""
        self.tag = tag
        self._materialized.clear()
        self._set_group()

    @contextlib.contextmanager
    def span(self, layer: str):
        self._stack.append([layer, time.perf_counter(), 0.0])
        self._set_group()
        try:
            yield
        finally:
            name, start, nested = self._stack.pop()
            duration = time.perf_counter() - start
            self.self_s[self.tag][name] += duration - nested
            if self._stack:
                self._stack[-1][2] += duration
            self._set_group()

    def materialize(self, df):
        """Compute ``df`` now, inside the current span. Spark is lazy:
        without this a layer's work would run inside whichever later layer
        first reads its output."""
        if self.is_materialized(df):
            return df
        out = df.localCheckpoint(eager=True)
        self._materialized.append(out)
        return out

    def is_materialized(self, df) -> bool:
        return any(df is m for m in self._materialized)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


class TracedCheckpointManager(CheckpointManager):
    """CheckpointManager whose durable writes are timed as the
    ``checkpoint`` layer. Each input is first materialized inside the
    caller's span, so the write span holds only the write. The ``clean``
    stage is the scan of the input pages and is timed as
    ``sources.pages``."""

    def __init__(self, spans: Spans, spark, base_dir=None):
        super().__init__(spark, base_dir)
        self.spans = spans

    def stage(self, df, name, partition_by=None, with_partition_metrics=False):
        scan = (self.spans.span("sources.pages") if name == "clean"
                else contextlib.nullcontext())
        with scan:
            if self.base_dir is None:
                if self.spans.is_materialized(df):
                    return df
                return super().stage(df, name, partition_by,
                                     with_partition_metrics)
            df = self.spans.materialize(df)
        with self.spans.span("checkpoint"):
            out = super().stage(df, name, partition_by, with_partition_metrics)
        self.spans.bytes_written[self.spans.tag] += _dir_bytes(self._path(name))
        return out


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> {jobs, stages, tasks, run_s, cpu_s, shuffle_write_b,
    task_skew}. ``task_skew`` is max/median task run time in the group's
    longest stage by summed run time."""
    stage_group: dict[int, str] = {}
    task_ms: dict[tuple[int, int], list[int]] = defaultdict(list)
    longest: dict[str, tuple[float, tuple[int, int] | None]] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "shuffle_write_b": 0.0})
    # rolling is off (run.py), so the log is one file
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id")
                if group is None:
                    continue
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                run_ms = (ev.get("Task Metrics") or {}).get(
                    "Executor Run Time", 0)
                task_ms[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                        ].append(int(run_ms))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None:
                    continue
                acc = {a.get("Name"): a.get("Value")
                       for a in info.get("Accumulables", [])}

                def num(name, acc=acc):
                    return float(acc.get(f"internal.metrics.{name}") or 0)
                g = groups[group]
                run_s = num("executorRunTime") / 1e3
                g["stages"] += 1
                g["tasks"] += int(info.get("Number of Tasks", 0))
                g["run_s"] += run_s
                g["cpu_s"] += num("executorCpuTime") / 1e9
                g["shuffle_write_b"] += num("shuffle.write.bytesWritten")
                if run_s >= longest.get(group, (0.0, None))[0]:
                    longest[group] = (run_s, (info["Stage ID"],
                                              info.get("Stage Attempt ID", 0)))
    for group, g in groups.items():
        times = task_ms.get(longest.get(group, (0.0, None))[1]) or [0]
        median = statistics.median(times)
        g["task_skew"] = max(times) / median if median > 0 else 1.0
    return dict(groups)

"""Spans around calls into the program's layers, and the fold of Spark's
event log into per-span stage metrics.

A span is opened by the benchmark's own code around one call into a
layer's public function. On entry it tags every Spark job the call
starts with ``setJobGroup(<span name>)``; on exit it materializes the
call's DataFrame results eagerly (``cache`` + ``count``), so the jobs
that compute a layer's output run inside that layer's span and the row
count is measured where the work happens. Spans stay in memory and are
written out when the run ends.

Jobs a call starts on another thread do not see that job group: a
streaming query runs its micro-batches on its own thread, under a job
group named by the query's run id. ``group_alias`` maps such a group to
a span.

After the session stops, ``fold_event_log`` reads the uncompressed,
non-rolling event log and sums each ``SparkListenerStageCompleted``'s
task metrics into the job group of the job that ran the stage;
``Tracer.span_stats`` then sums spans and job groups by span name.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field

import pandas as pd
from pyspark.sql import DataFrame

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# event-log accumulator name -> per-span stat
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.output.recordsWritten": "records_written",
}


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    rows_out: int = 0
    children_s: float = field(default=0.0, repr=False)

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


class Tracer:
    """In-memory span recorder for one traced run. With ``enabled`` off,
    ``call`` is a plain call, so traced and untraced operations run the
    same code. The boundary caches change what later stages recompute;
    the run reports that cost as the tracing overhead."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list[DataFrame] = []
        self._aliases: dict[str, str] = {}

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def call(self, name: str, fn, *args, **kwargs):
        """Runs ``fn(*args, **kwargs)`` inside span ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, self.run_id, parent.name if parent else None, time.perf_counter())
        self._stack.append(span)
        self._set_group(name)
        try:
            out = fn(*args, **kwargs)
            out, span.rows_out = self._materialize(out)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.name if parent else None)
            if parent:
                parent.children_s += span.end - span.start
            self.spans.append(span)
        return out

    def group_alias(self, group: str, name: str) -> None:
        """Counts job group ``group``'s jobs into span ``name`` (only for
        groups started while tracing is on)."""
        if self.enabled:
            self._aliases[group] = name

    def span_stats(self, groups: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
        """span name -> {self_s, rows_out, calls} plus the stage stats of
        its job groups, each summed over every call of the span."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            st = out.setdefault(s.name, {"self_s": 0.0, "rows_out": 0, "calls": 0})
            st["self_s"] += s.self_s
            st["rows_out"] += s.rows_out
            st["calls"] += 1
        for group, stats in groups.items():
            name = self._aliases.get(group, group)
            if name in out:
                for k, v in stats.items():
                    out[name][k] = out[name].get(k, 0) + v
        return out

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return traced

    def _materialize(self, out):
        if isinstance(out, pd.DataFrame):
            return out, len(out)
        if isinstance(out, DataFrame):
            if not out.is_cached:
                out = out.cache()
                self._cached.append(out)
            return out, out.count()
        if isinstance(out, tuple) and any(isinstance(o, DataFrame) for o in out):
            parts = [self._materialize(o) for o in out]
            return tuple(p[0] for p in parts), sum(p[1] for p in parts)
        return out, 0

    def release(self) -> None:
        """Unpersists the frames the span boundaries cached."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec.pop("children_s")
                rec["self_s"] = s.self_s
                f.write(json.dumps(rec) + "\n")


def _event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """job group -> {jobs, run_ms, shuffle_write_bytes, spill_bytes,
    records_written}, summed over the group's completed stages."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(
            group, {"jobs": 0, **dict.fromkeys(_STAGE_METRICS.values(), 0)}
        )

    with open(_event_log_file(log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                bucket(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                b = bucket(stage_group.get(info["Stage ID"], ""))
                for acc in info.get("Accumulables", []):
                    stat = _STAGE_METRICS.get(acc.get("Name"))
                    if stat:
                        b[stat] += float(acc.get("Value") or 0)
    return out

"""Per-layer ledger: driver-side spans plus the Spark event log and the
Python UDF profiler, both read after the run.

A span is one layer's output prefix, materialised under its own job
description.  Spans are kept in memory; the event log attributes every
completed stage to the description of the job that ran it, so each span
gets the task and SQL metrics of exactly its own stages.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import time
from collections import defaultdict

# Stage accumulables summed per span, with the factor to seconds/bytes.
STAGE_METRICS = {
    "executor_run_s": ("internal.metrics.executorRunTime", 1e-3),
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "shuffle_write_s": ("internal.metrics.shuffle.write.writeTime", 1e-9),
    "fetch_wait_s": ("internal.metrics.shuffle.read.fetchWaitTime", 1e-3),
    "shuffle_records_read": ("internal.metrics.shuffle.read.recordsRead", 1),
    "memory_spill_bytes": ("internal.metrics.memoryBytesSpilled", 1),
    "disk_spill_bytes": ("internal.metrics.diskBytesSpilled", 1),
    "bytes_read": ("internal.metrics.input.bytesRead", 1),
    "bytes_written": ("internal.metrics.output.bytesWritten", 1),
    "scan_s": ("scan time", 1e-3),
    "python_start_s": ("time to start Python workers", 1e-3),
    "python_init_s": ("time to initialize Python workers", 1e-3),
    "python_run_s": ("time to run Python workers", 1e-3),
    "python_sent_bytes": ("data sent to Python workers", 1),
    "python_returned_bytes": ("data returned from Python workers", 1),
}


class Tracer:
    """Runs each layer prefix under its own job description and keeps
    the driver-side wall time of every span in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: dict[str, dict] = {}

    def span(self, name: str, fn, parent: str | None = None):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            t1 = time.perf_counter()
            sc.setJobDescription(None)
        self.spans[name] = {"wall_s": t1 - t0, "parent": parent}
        return out

    def noop(
        self, name: str, df, parent: str | None = None, profile: bool = False
    ) -> None:
        """Materialise ``df`` through the ``noop`` sink as span ``name``,
        with the perf UDF profiler on when ``profile`` is set."""
        conf = self.spark.conf
        if profile:
            conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            self.span(
                name,
                lambda: df.write.format("noop").mode("overwrite").save(),
                parent,
            )
        finally:
            if profile:
                conf.unset("spark.sql.pyspark.udf.profiler")

    def wall(self, name: str) -> float:
        return self.spans[name]["wall_s"] if name in self.spans else 0.0

    def self_s(self, name: str) -> float:
        """Prefix time minus the parent's prefix time, floored at 0; 0 for
        a span that did not run."""
        if name not in self.spans:
            return 0.0
        parent = self.spans[name]["parent"]
        return max(0.0, self.wall(name) - (self.wall(parent) if parent else 0.0))


def _number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Completed stages of one application, grouped by job description."""

    def __init__(self, events: list[dict]):
        stage_desc: dict[int, str] = {}
        self.stages: dict[str, list[dict]] = defaultdict(list)
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                for sid in e.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if info.get("Failure Reason"):
                    continue
                acc: dict[str, float] = defaultdict(float)
                for a in info.get("Accumulables", []):
                    acc[a["Name"]] += _number(a.get("Value"))
                self.stages[stage_desc.get(info["Stage ID"], "")].append(
                    {"tasks": info.get("Number of Tasks", 0), "acc": acc}
                )

    @classmethod
    def from_dir(cls, path: str) -> EventLog:
        """The one event-log file of a session in ``path``."""
        (name,) = [f for f in os.listdir(path) if not f.startswith("appstatus")]
        with open(os.path.join(path, name)) as fh:
            return cls([json.loads(line) for line in fh if line.strip()])

    def metrics(self, desc: str) -> dict[str, float]:
        """Summed stage metrics of one span (all metrics of STAGE_METRICS,
        plus stage, task and Python-stage counts)."""
        stages = self.stages.get(desc, [])
        out = {
            key: sum(s["acc"].get(name, 0.0) for s in stages) * factor
            for key, (name, factor) in STAGE_METRICS.items()
        }
        out["stages"] = len(stages)
        out["tasks"] = sum(s["tasks"] for s in stages)
        out["python_stages"] = sum(
            1 for s in stages if s["acc"].get("data sent to Python workers", 0) > 0
        )
        out["python_records_in"] = sum(
            s["acc"].get("internal.metrics.shuffle.read.recordsRead", 0.0)
            for s in stages
            if s["acc"].get("data sent to Python workers", 0) > 0
        )
        return out

    def total(self, key: str) -> float:
        """One STAGE_METRICS entry summed over every stage of the run."""
        name, factor = STAGE_METRICS[key]
        return factor * sum(
            s["acc"].get(name, 0.0) for ss in self.stages.values() for s in ss
        )


class Profile:
    """Perf-profiler results of the Python UDFs (pstats per UDF)."""

    def __init__(self, stats: list[pstats.Stats]):
        self.stats = stats

    @classmethod
    def dump(cls, spark, path: str) -> Profile:
        spark.profile.dump(path, type="perf")
        files = sorted(glob.glob(os.path.join(path, "*.pstats")))
        return cls([pstats.Stats(f) for f in files])

    def total_s(self, udf_function: str) -> float:
        """Profiled seconds of the UDFs whose profile contains a function
        named ``udf_function``."""
        return sum(
            st.total_tt
            for st in self.stats
            if any(k[2] == udf_function for k in st.stats)
        )

    def cumulative_s(self, function: str) -> float:
        """Cumulative seconds inside functions named ``function``."""
        return sum(
            v[3] for st in self.stats for k, v in st.stats.items() if k[2] == function
        )

    def top(self, n: int = 8) -> list[tuple[str, float]]:
        cum: dict[str, float] = defaultdict(float)
        for st in self.stats:
            for (fname, line, func), v in st.stats.items():
                cum[f"{os.path.basename(fname)}:{line}:{func}"] += v[3]
        return sorted(cum.items(), key=lambda kv: -kv[1])[:n]

"""Spans around the engine's layer boundaries, and Spark's own counters.

``Tracer`` wraps public functions of the engine from outside: it
replaces the function on its home module and on every engine module
that bound it by name (operators do ``from ..catalog import load``), so
every call goes through one span. Spans are kept in memory and written
out when the run ends.

``SparkCounters`` reads what the scheduler did in an interval: job and
stage ids are sequential, so the ids handed out between two marks are
exactly the jobs and stages launched in between, whichever thread or
job group launched them (streaming queries run on their own thread).
Per-stage metrics come from the JVM application status store.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PKG = "data_pipeline_spark_spark"

#: (module, attribute, span name) of every wrapped engine function.
#: session.get_spark and registry.load_all run once, before these
#: modules are all loaded; the benchmark spans its own calls to them.
LAYER_FUNCTIONS = (
    (f"{PKG}.catalog", "load", "catalog.load"),
    (f"{PKG}.catalog", "register_views", "catalog.register_views"),
    (f"{PKG}.catalog", "materialize", "pins.materialize"),
    (f"{PKG}.sources.eeg_csv", "probe_header", "eeg_csv.probe_header"),
    (f"{PKG}.sources.eeg_csv", "read_session", "eeg_csv.read_session"),
    (f"{PKG}.sources.eeg_csv", "ingest", "eeg_csv.ingest"),
    (f"{PKG}.sources.eeg_csv", "register_curated", "eeg_csv.register_curated"),
    (f"{PKG}.streaming.ingest", "stream_ingest_eeg", "stream.ingest"),
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self.enabled = True
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self) -> None:
        """Wrap every LAYER_FUNCTIONS entry, plus the DataFrame
        localCheckpoint method, which the pins layer is made of."""
        from pyspark.sql.classic.dataframe import DataFrame

        for home, attr, name in LAYER_FUNCTIONS:
            orig = getattr(sys.modules[home], attr)
            traced = self._wrap(orig, name)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith(PKG) and mod.__dict__.get(attr) is orig:
                    setattr(mod, attr, traced)
        DataFrame.localCheckpoint = self._wrap(
            DataFrame.localCheckpoint, "pins.localCheckpoint"
        )

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover
        (children of one span run one after another, never overlap)."""
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


class SparkCounters:
    """Jobs, stages, tasks and stage metrics launched since a mark."""

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "tasks_failed",
        "executor_run_s",
        "input_bytes",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
    )

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc
        self._dag = sc._jsc.sc().dagScheduler()
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        # task-end events reach the status store through the listener
        # bus, asynchronously: drain it before reading
        self._bus.waitUntilEmpty()
        jobs, stages = self.mark()
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = jobs - mark[0]
        for sid in range(mark[1], stages):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.numCompleteTasks() + d.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["tasks_failed"] += d.numFailedTasks()
                out["executor_run_s"] += d.executorRunTime() / 1000.0
                out["input_bytes"] += d.inputBytes()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out

    def pins(self) -> tuple[int, int]:
        """(pinned RDD count, bytes they hold in memory and on disk)."""
        infos = self._jsc.sc().getRDDStorageInfo()
        held = sum(r.memSize() + r.diskSize() for r in infos)
        return self._jsc.getPersistentRDDs().size(), held

    def release_pins(self) -> None:
        for rdd in self._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)

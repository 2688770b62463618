"""The closed-loop client's bookkeeping for one benchmark run."""

from __future__ import annotations

import os
import random
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext

from spans import SparkCounters, Tracer


class Bench:
    """One run: the session, its scratch root, the seeded RNG, and what
    the client saw. ``timing`` is off during the untimed warm pass, so
    its latencies are not recorded. ``tracer`` is set only on a traced
    run, and ``tracer.enabled`` is off during its untraced round."""

    def __init__(self, spark, root: str, seed: int, tracer: Tracer | None = None):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.counters = SparkCounters(spark)
        self.timing = False
        self.latencies: list[float] = []  # successful timed queries, s
        self.by_name: dict[str, list[float]] = defaultdict(list)  # untraced
        self.units = 0  # traced queries, or traced eeg_ingest iterations
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: Counter = Counter()  # traced per-layer counts
        self.op_stats: list[dict] = []  # traced Spark counters per query
        self.floor: list[float] = []  # traced 1-row noop probes, s
        self.duckdb: dict[str, float] = {}  # oracle seconds per query
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.enabled and self.timing

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}"[:400])

    @contextmanager
    def op(self, name: str, query: bool = False):
        """One closed-loop operation. It fails if it raises or if
        ``fail`` is called inside it; a failed query records no latency.
        When traced, a query's Spark counters and pins are recorded.
        Pinned RDDs are released afterwards."""
        self.attempted += 1
        before = len(self.failures)
        traced = self.traced
        if traced:
            self.tracer.op = f"{self.attempted}:{name}"
            mark = self.counters.mark()
        t0 = time.perf_counter()
        try:
            yield
        except Exception as exc:  # the client records the failure and goes on
            self.fail(name, f"{type(exc).__name__}: {exc}")
        elapsed = time.perf_counter() - t0
        if len(self.failures) > before:
            self.failed += 1
        elif query and self.timing:
            self.latencies.append(elapsed)
            if not traced:
                self.by_name[name].append(elapsed)
        if traced:
            if query:
                stats = self.counters.since(mark)
                stats["pins_count"], stats["pins_bytes"] = self.counters.pins()
                self.op_stats.append(stats)
            self.tracer.op = None
        self.counters.release_pins()

    def jobs(self, key: str, fn, *args, **kwargs):
        """Call ``fn``; when traced, count the Spark jobs it launched."""
        if not self.traced:
            return fn(*args, **kwargs)
        mark = self.counters.mark()
        try:
            return fn(*args, **kwargs)
        finally:
            self.counts[key] += self.counters.mark()[0] - mark[0]

    def query(self, name: str, build, sink):
        """Time one query from the call of its query function to the
        sink's commit; return what the sink returned (None if it failed)."""
        out = None
        with self.op(name, query=True):
            with self.span("operators.build"):
                df = self.jobs("operators.build_jobs", build)
            with self.span("spark.execute"):
                out = sink(df)
        return out

    def oracle(self, con, name: str, sql: str):
        """Run ``sql`` on DuckDB (the comparator engine), timed, and
        return its result frame."""
        span = self.tracer.span("oracle.duckdb") if self.tracer else nullcontext()
        t0 = time.perf_counter()
        with span:
            want = con.execute(sql).fetchdf()
        self.duckdb[name] = time.perf_counter() - t0
        return want

    def probe_floor(self) -> None:
        """Traced runs time a 1-row noop job between operations: the
        scheduling floor every query pays at least once per job."""
        if self.traced:
            t0 = time.perf_counter()
            self.spark.range(1).write.format("noop").mode("overwrite").save()
            self.floor.append(time.perf_counter() - t0)


def measure(seconds: float, step, min_rounds: int = 1) -> tuple[float, list[float]]:
    """Run ``step`` (one round of the workload) at least ``min_rounds``
    times, and again while another round of the last round's length
    still fits in ``seconds``. Whole rounds keep every run's mix of
    operations the same; workloads set ``min_rounds`` so that it, not
    the clock, fixes the round count at the benchmark's run length.
    Returns (wall seconds, per-round seconds)."""
    t0 = time.perf_counter()
    walls: list[float] = []
    while True:
        start = time.perf_counter()
        step()
        now = time.perf_counter()
        walls.append(now - start)
        if len(walls) >= min_rounds and now - t0 + walls[-1] > seconds:
            return now - t0, walls

#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop workload through the
package's public API, with its outputs checked against DuckDB.

    python3 perfbench/run.py --workload interactive_sql --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny inputs

Run it from the repository root. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it carries host facts and the figures
that are not gated (see perfbench/README.md). Spans of a traced run are
written to ``.perfbench/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PKG = "data_pipeline_spark_spark"

#: Driver heap of the benchmark's session; small enough for a shared
#: 16 GB host, large enough that no workload spills at its scale.
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics are means per traced operation: one query, or one
# land-and-query iteration on eeg_ingest. spark.* (other than the median
# floor probe) and pins.* are per traced query, session/registry once
# per run; oracle.* compare with DuckDB.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "catalog.load_s": "s",
    "catalog.load_calls": "count",
    "catalog.register_views_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.floor_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.execute_s": "s",
    "spark.executor_run_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "pins.s": "s",
    "pins.count": "count",
    "pins.bytes": "bytes",
    "pyworker.cpu_s": "s",
    "jvm.cpu_s": "s",
    "driver.cpu_s": "s",
    "eeg_csv.probe_header_s": "s",
    "eeg_csv.probe_calls": "count",
    "eeg_csv.read_session_s": "s",
    "eeg_csv.ingest_s": "s",
    "eeg_csv.write_jobs": "count",
    "eeg_csv.files_written": "count",
    "eeg_csv.register_curated_s": "s",
    "stream.ingest_s": "s",
    "stream.jobs": "count",
    "stream.rows": "count",
    "oracle.duckdb_s": "s",
    "oracle.spark_over_duckdb": "ratio",
    "trace.overhead_s": "s",
}


def isolate(root: str) -> None:
    """Point every cache and scratch location of the run into ``root``
    and size the session to this host. Must run before Spark starts."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    # the JVM extracts native libraries and Spark keeps session artifacts
    # under java.io.tmpdir; UsePerfData would write /tmp/hsperfdata_<user>
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # A driver heap that grows on demand makes peak RSS bimodal between
    # runs (one G1 expansion more or less); a pre-sized, pre-touched heap
    # is a constant, so peak_rss_mb moves only with the rest of the tree.
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    warehouse = shlex.quote(os.path.join(root, "warehouse"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        # the IVF-PQ codebook cache lives under the XDG cache dir
        XDG_CACHE_HOME=os.path.join(root, "xdg-cache"),
        SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # spark-submit first runs a small launcher JVM, then the driver
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(driver_opts)} "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={warehouse} pyspark-shell"
        ),
    )
    os.environ.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    tempfile.tempdir = tmp
    # derby.log and metastore_db land in the working directory
    os.chdir(root)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, n) at the highest percentile that still has
    at least ten samples beyond it, once that is p90 or above (n >= 100).
    With fewer samples that percentile is no tail and the maximum is one
    sample, so the interpolated p90 is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n >= 100:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    if n == 1:
        return xs[0], 100.0, n
    return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90.0, n


def host_facts(spark, seed: int) -> dict:
    import duckdb

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "seed": seed,
    }


def cpu_canary_ms() -> float:
    """Median time of a fixed pure-Python loop: the host's single-core
    speed at the time of the run, recorded so that figures from a
    slowed host can be told apart. Not used in any metric."""
    def spin() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        return time.perf_counter() - t0

    return 1000 * statistics.median(spin() for _ in range(3))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(b, setup_s: float, wall: float, peak: int) -> tuple[dict, dict]:
    """(gated metrics, ungated figures) of an untraced run."""
    value, pct, n = tail(b.latencies) if b.latencies else (0.0, 0.0, 0)
    metrics = {
        "setup_s": setup_s,
        "query_p50_s": median(b.latencies),
        "query_tail_s": value,
        "queries_per_s": len(b.latencies) / wall,
        "peak_rss_mb": peak / 2**20,
    }
    extra = {
        "query_tail": {"percentile": round(pct, 1), "n": n},
        "failed_frac": b.failed / b.attempted,
        "per_query_p50_s": {k: round(median(v), 4) for k, v in sorted(b.by_name.items())},
    }
    for name, xs in b.samples.items():
        extra[name] = median(xs)
    return metrics, extra


def per_layer(b, tracer, first: int, cpu: dict, overhead_s: float, untraced: dict) -> dict:
    """Per-layer metrics of a traced run, from its spans (those from
    index ``first`` on) and counters."""
    from spans import SparkCounters

    n = max(1, b.units)
    spans = [s for s in tracer.spans[first:] if s["op"] is not None]
    by_id = {s["id"]: s for s in tracer.spans}

    def total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def calls(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    def once(name: str) -> float:
        return next(
            (s["end"] - s["start"] for s in tracer.spans if s["name"] == name), 0.0
        )

    def is_pin(s) -> bool:
        return s["name"].startswith("pins.")

    pins_s = sum(
        s["end"] - s["start"]
        for s in spans
        if is_pin(s) and not (s["parent"] is not None and is_pin(by_id[s["parent"]]))
    )
    # Spark's counters and pins are per traced query
    queries = max(1, len(b.op_stats))
    per_query = {
        k: sum(st[k] for st in b.op_stats) / queries
        for k in (*SparkCounters.FIELDS, "pins_count", "pins_bytes")
    }
    compared = [k for k in b.duckdb if untraced.get(k)]
    spark_s = sum(median(untraced[k]) for k in compared)
    duck_s = sum(b.duckdb[k] for k in compared)
    out = {
        "session.get_spark_s": once("session.get_spark"),
        "registry.load_all_s": once("registry.load_all"),
        "catalog.load_s": total("catalog.load") / n,
        "catalog.load_calls": calls("catalog.load") / n,
        "catalog.register_views_s": total("catalog.register_views") / n,
        "operators.build_s": sum(
            tracer.self_time(s) for s in spans if s["name"] == "operators.build"
        ) / n,
        "operators.build_jobs": b.counts["operators.build_jobs"] / n,
        "spark.floor_s": median(b.floor),
        "spark.execute_s": total("spark.execute") / n,
        "pins.s": pins_s / n,
        "pins.count": per_query["pins_count"],
        "pins.bytes": per_query["pins_bytes"],
        "pyworker.cpu_s": cpu["pyworker"] / n,
        "jvm.cpu_s": cpu["jvm"] / n,
        "driver.cpu_s": cpu["driver"] / n,
        "eeg_csv.probe_header_s": total("eeg_csv.probe_header") / n,
        "eeg_csv.probe_calls": calls("eeg_csv.probe_header") / n,
        "eeg_csv.read_session_s": total("eeg_csv.read_session") / n,
        "eeg_csv.ingest_s": total("eeg_csv.ingest") / n,
        "eeg_csv.write_jobs": b.counts["eeg_csv.write_jobs"] / n,
        "eeg_csv.files_written": b.counts["eeg_csv.files_written"] / n,
        "eeg_csv.register_curated_s": total("eeg_csv.register_curated") / n,
        "stream.ingest_s": total("stream.ingest") / n,
        "stream.jobs": b.counts["stream.jobs"] / n,
        "stream.rows": b.counts["stream.rows"] / n,
        "oracle.duckdb_s": median([b.duckdb[k] for k in compared]),
        "oracle.spark_over_duckdb": spark_s / duck_s if duck_s else 0.0,
        "trace.overhead_s": overhead_s,
    }
    for k in SparkCounters.FIELDS:
        out[f"spark.{k}"] = per_query[k]
    return out


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 root: str, tracer, smoke: bool) -> tuple[dict, dict]:
    """Set up and measure one workload on a running session. Returns
    (metrics, figures): end-to-end metrics, or per-layer when traced."""
    import procstat
    import workloads
    from harness import Bench, measure

    wl = workloads.make(name, smoke)
    first = len(tracer.spans) if tracer is not None else 0
    b = Bench(spark, os.path.join(root, name), seed, tracer if trace else None)
    wl.setup(b)
    for _ in range(wl.warm_rounds):
        wl.step(b)
    setup_done = time.perf_counter()
    canary = cpu_canary_ms()
    b.timing = True
    if not trace:
        wall, _ = measure(seconds, lambda: wl.step(b), wl.rounds)
        return {}, {"setup_done": setup_done, "wall": wall, "bench": b,
                    "inputs": wl.inputs, "cpu_canary_ms": canary}
    # untraced and traced rounds alternate, in swapped order every other
    # pair so warm-up favours neither; traced (less floor probes) minus
    # untraced round time is the tracing overhead
    walls = {False: [], True: []}
    cpu = dict.fromkeys(("driver", "jvm", "pyworker"), 0.0)

    def pair() -> None:
        for on in (False, True) if len(walls[True]) % 2 == 0 else (True, False):
            tracer.enabled = on
            floors, cpu0 = len(b.floor), procstat.cpu_by_role()
            t0 = time.perf_counter()
            wl.step(b)
            walls[on].append(time.perf_counter() - t0 - sum(b.floor[floors:]))
            if on:
                cpu1 = procstat.cpu_by_role()
                for k in cpu:
                    cpu[k] += cpu1[k] - cpu0[k]

    wall, _ = measure(seconds, pair, min_rounds=2)
    per_round = b.units / len(walls[True])
    overhead = (sum(walls[True]) - sum(walls[False])) / len(walls[True]) / per_round
    untraced = dict(b.by_name)
    metrics = per_layer(b, tracer, first, cpu, overhead, untraced)
    return metrics, {"bench": b, "inputs": wl.inputs, "wall": wall, "cpu_canary_ms": canary}


def start_session(tracer):
    """get_spark and load_all, each timed (and spanned when tracing),
    then the engine's layer functions wrapped when tracing."""
    from contextlib import nullcontext

    from data_pipeline_spark_spark import registry, session

    def span(name: str):
        return tracer.span(name) if tracer is not None else nullcontext()

    t0 = time.perf_counter()
    with span("session.get_spark"):
        spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    with span("registry.load_all"):
        registry.load_all()
    t2 = time.perf_counter()
    # modules the EEG workload calls into, loaded before wrapping
    import data_pipeline_spark_spark.sources.eeg_csv  # noqa: F401
    import data_pipeline_spark_spark.streaming.ingest  # noqa: F401

    if tracer is not None:
        tracer.patch()
    return spark, {"get_spark_s": t1 - t0, "load_all_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    import procstat
    from pyspark import SparkContext

    pids = [p for p in procstat.tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("interactive_sql", "curation_batch", "eeg_ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload on tiny inputs, untraced and traced")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    if not os.path.isdir(os.path.join(REPO, PKG)) or not os.path.isdir(os.path.join(REPO, "tests")):
        print(f"error: {REPO} holds no {PKG} package to benchmark", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]

    out_dir = os.path.join(REPO, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    cwd = os.getcwd()
    isolate(root)
    import procstat
    from spans import Tracer

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = ("interactive_sql", "curation_batch", "eeg_ingest") if args.smoke else (args.workload,)
    traced = args.smoke or bool(args.trace)
    tracer = Tracer() if traced else None
    spark = None
    try:
        with procstat.PeakRss() as rss:
            spark, session_s = start_session(tracer)
            facts = host_facts(spark, args.seed)
            results = []
            for name in names:
                for trace in ((False, True) if args.smoke else (bool(args.trace),)):
                    metrics, info = run_workload(
                        spark, name, args.seed, 0 if args.smoke else args.seconds,
                        trace, root, tracer, args.smoke,
                    )
                    results.append((name, trace, metrics, info))
        lines = []
        for name, trace, metrics, info in results:
            b = info["bench"]
            if not trace:
                metrics, extra = end_to_end(
                    b, info["setup_done"] - t_start, info["wall"], rss.peak
                )
            else:
                extra = {"spans": len(tracer.spans)}
            units = PER_LAYER if trace else END_TO_END
            detail = {
                "workload": name, "trace": int(trace), "host": facts,
                "session": session_s, "inputs": info["inputs"],
                "cpu_canary_ms": info["cpu_canary_ms"],
                "traffic": "closed loop, 1 client", **extra,
                "failures": b.failures,
            }
            result = {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
            for msg in b.failures:
                print(f"FAILED {name}: {msg}", file=sys.stderr)
            lines.append((detail, result))
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)
    if tracer is not None:
        tag = "smoke" if args.smoke else args.workload
        tracer.dump(os.path.join(out_dir, f"spans-{tag}-{args.seed}.jsonl"))
    for detail, result in lines:
        print(json.dumps(detail))
        print(json.dumps(result), flush=True)
    if args.smoke and not all(r["correct"] for _, r in lines):
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

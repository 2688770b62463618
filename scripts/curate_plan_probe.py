"""Driver-side cost of planning one EEG batch, by file count.

Builds the batch plan ``sources.eeg_csv.ingest`` runs — header probes,
the schema-explicit scan over the batch's file list, ``curate`` — for
staging dirs of 1, 100 and 1,000 one-row session files, and times each
step up to the optimized plan without running the batch (no write).
Each step's Spark job count is read under a job group: planning
``curate`` launches none; the scan lists its files in a Spark job once
the list passes spark.sql.sources.parallelPartitionDiscovery.threshold.

Usage: python scripts/curate_plan_probe.py [--files 1 100 1000] [--signals 200]
Prints one JSON line per file count; times are warm best-of-3 seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark_spark.session import get_spark  # noqa: E402
from data_pipeline_spark_spark.sources import eeg_csv  # noqa: E402
from data_pipeline_spark_spark.sources.fixture import generate_corpus  # noqa: E402


def timed_jobs(spark, fn):
    """(seconds, Spark jobs launched, result) of one call of fn."""
    sc = spark.sparkContext
    group = f"curate-plan-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "curate plan probe")
    try:
        t0 = time.perf_counter()
        out = fn()
        elapsed = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return elapsed, len(sc.statusTracker().getJobIdsForGroup(group)), out


def probe(spark, src: str) -> dict:
    paths = eeg_csv.list_input_files(src)
    best: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for _ in range(3):
        steps = {}
        steps["probe_headers"] = timed_jobs(
            spark, lambda: {os.path.basename(p): eeg_csv.probe_header(spark, p) for p in paths}
        )
        headers = steps["probe_headers"][2]
        columns = next(iter(headers.values())).columns
        steps["scan"] = timed_jobs(
            spark, lambda: eeg_csv._scan(spark, columns, paths).select("*", "_metadata")
        )
        steps["curate_plan"] = timed_jobs(
            spark,
            lambda: eeg_csv.curate(spark, steps["scan"][2], headers)
            ._jdf.queryExecution()
            .optimizedPlan(),
        )
        for name, (sec, n_jobs, _) in steps.items():
            best[name] = min(best.get(name, sec), sec)
            jobs[name] = n_jobs
    return {
        "files": len(paths),
        **{f"{k}_s": round(v, 4) for k, v in best.items()},
        "curate_plan_per_file_ms": round(1e3 * best["curate_plan"] / len(paths), 3),
        **{f"{k}_jobs": v for k, v in jobs.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, nargs="+", default=[1, 100, 1000])
    ap.add_argument("--signals", type=int, default=200)
    args = ap.parse_args()
    spark = get_spark("curate-plan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="curate_plan_probe_")
    try:
        for n in args.files:
            src = os.path.join(root, f"n{n}")
            generate_corpus(
                src, n_patients=n, max_sessions=1, rows_per_session=1,
                n_signals=args.signals, seed=n,
            )
            print(json.dumps(probe(spark, src)), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

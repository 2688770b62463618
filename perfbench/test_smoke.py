"""Smoke test of the benchmark itself: ``run.py --smoke`` runs every
workload on tiny inputs (sf0.001 tables, a 20-column EEG corpus) through
the correctness gate, an untraced round and a traced round, in one
session. Takes about two minutes:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

#: Per-layer metrics each workload must exercise (value > 0).
EXERCISED = {
    "interactive_sql": ("catalog.load_calls", "operators.build_s", "spark.jobs",
                        "spark.tasks", "spark.input_bytes", "oracle.duckdb_s"),
    "curation_batch": ("pins.count", "pins.bytes", "pyworker.cpu_s",
                       "spark.shuffle_write_bytes", "operators.build_jobs"),
    "eeg_ingest": ("eeg_csv.probe_calls", "eeg_csv.ingest_s", "eeg_csv.write_jobs",
                   "eeg_csv.files_written", "eeg_csv.register_curated_s",
                   "stream.ingest_s", "stream.jobs", "stream.rows"),
}


def test_smoke_runs_every_workload_gated_and_traced():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", "--seed", "7"],
        cwd=os.path.dirname(HERE),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines()]
    details, results = lines[0::2], lines[1::2]
    assert [(d["workload"], d["trace"]) for d in details] == [
        (w, t) for w in EXERCISED for t in (0, 1)
    ]
    for detail, result in zip(details, results):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, detail["failures"]
        want = PER_LAYER if detail["trace"] else END_TO_END
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
        if detail["trace"]:
            for name in EXERCISED[detail["workload"]] + ("session.get_spark_s",):
                assert result["metrics"][name]["value"] > 0, (detail["workload"], name)
        else:
            assert all(result["metrics"][k]["value"] > 0 for k in END_TO_END)
            assert detail["failed_frac"] == 0.0
    spans = os.path.join(os.path.dirname(HERE), ".perfbench", "spans-smoke-7.jsonl")
    names = {json.loads(line)["name"].split(".")[0] for line in open(spans)}
    assert names >= {"session", "registry", "catalog", "operators", "spark",
                     "pins", "eeg_csv", "stream", "oracle"}

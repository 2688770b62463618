"""Floor decomposition of `sim_search_ivfpq_trained` (r10 VERDICT
ask #4) — the same statusTracker job-count method that closed the
seeded rung's 12-job floor in r10, with TRAINING jobs counted
separately from QUERY jobs: in production the Lloyd training runs
once at ingest/refresh time and amortizes across every query, so the
steady-state serving cost is the query-side remainder.

Usage: python scripts/ivfpq_trained_floor.py
Prints JSON lines: full-key wall+jobs per SF (warm best-of-3),
training-only wall+jobs, the implied query-side remainder, and the
DuckDB twin at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import duckdb

    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.operators.similarity import (
        _pq_sub,
        _squ_frame,
        trained_pq_codebook,
    )
    from data_pipeline_spark_spark.session import get_spark

    registry.load_all()
    spark = get_spark("ivfpq-trained-floor")
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()

    def timed_jobs(build, n=3):
        """(best_wall, jobs_per_exec) after one warm build+run."""
        build().write.format("noop").mode("overwrite").save()  # warm
        jobs0 = len(st.getJobIdsForGroup(None))
        times = []
        for _ in range(n):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
        jobs = (len(st.getJobIdsForGroup(None)) - jobs0) / n
        return min(times), times, jobs

    for sf_dir in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ):
        best, times, jobs = timed_jobs(
            lambda: registry.QUERIES["sim_search_ivfpq_trained"](
                spark, sf_dir
            )
        )

        def train_only():
            return trained_pq_codebook(_squ_frame(_pq_sub(spark, sf_dir)))

        tb, tt, tj = timed_jobs(train_only)
        out = {
            "sf": sf_dir.rsplit("sf", 1)[1],
            "full_best": best,
            "full_all": times,
            "full_jobs": jobs,
            "train_best": tb,
            "train_jobs": tj,
            "query_side_sec": round(best - tb, 3),
            "query_side_jobs": jobs - tj,
        }
        if sf_dir.endswith("0.1"):
            con = duckdb.connect()
            for t in (
                "region nation customer supplier part orders "
                "lineitem events documents embeddings"
            ).split():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'"
                )
            sql = registry.ORACLE_SQL["sim_search_ivfpq_trained"]
            con.execute(sql).fetchall()
            dt = []
            for _ in range(2):
                t0 = time.time()
                con.execute(sql).fetchall()
                dt.append(round(time.time() - t0, 3))
            out["duck_best"] = min(dt)
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

"""The benchmark's workloads. Each is a closed loop with one client:
``setup`` makes the inputs and runs the untimed warm pass, which is also
the correctness gate, and ``step`` runs one timed round."""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq

import datagen
from data_pipeline_spark_spark import registry
from data_pipeline_spark_spark.sources import eeg_csv
from data_pipeline_spark_spark.sources.fixture import generate_corpus
from data_pipeline_spark_spark.streaming import ingest as streaming_ingest
from harness import Bench
from tests.oracle import normalize

# Short SQL-oracle keys of the bench headline: relational, join, window
# and sort keys, TPC-H, statistical aggregates and ad hoc SQL.
INTERACTIVE_KEYS = (
    "filter_pred",
    "join_inner_equi",
    "window_rank",
    "tpch_q3_shipping_priority",
    "abtest_welch_ttest",
    "adhoc_sql",
)

# Data-heavy headline keys: pair-expansion shuffles, localCheckpoint
# pins, IVF-PQ training and the pandas-UDF boundary.
CURATION_KEYS = (
    "basket_pair_affinity_apriori",
    "udf_surface",
    "agg_ddsketch_quantile",
)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect_sink(df) -> pd.DataFrame:
    return df.toPandas()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive comparison, as the repository's oracle tests
    make it; returns why the frames differ, or None."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
        )
    except AssertionError as exc:
        return "values differ: " + " ".join(str(exc).split())[:200]
    return None


class QueryWorkload:
    """Registered queries over generated star-schema tables at one
    scale, each round in a fresh seeded order, noop sink."""

    def __init__(self, name, keys: tuple[str, ...], sf: float, warm_rounds: int, rounds: int):
        self.name, self.keys, self.sf = name, keys, sf
        self.warm_rounds, self.rounds = warm_rounds, rounds
        self.inputs = {"sf": sf, "queries": len(keys)}

    def setup(self, b: Bench) -> None:
        self.data = b.path("data")
        self.inputs["parquet_bytes"] = datagen.write(self.data, self.sf, b.seed)
        con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(self.data, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        for key in self.keys:
            with b.op(f"gate:{key}"):
                got = registry.QUERIES[key](b.spark, self.data).toPandas()
                want = b.oracle(con, key, registry.ORACLE_SQL[key])
                why = mismatch(got, want)
                if why:
                    b.fail(f"gate:{key}", why)
        con.close()

    def step(self, b: Bench) -> None:
        order = list(self.keys)
        b.rng.shuffle(order)
        for key in order:
            b.units += b.traced
            build = registry.QUERIES[key]
            b.query(key, lambda: build(b.spark, self.data), noop_sink)
            b.probe_floor()


def _test_month(path: str) -> tuple[int, int]:
    """(year, month) from a session file's TestDate metadata row."""
    with open(path) as fh:
        for line in fh:
            key, _, value = line.strip().partition(",")
            if key == "TestDate":
                year, month, _ = value.split("/")
                return int(year), int(month)
    raise ValueError(f"{path}: no TestDate row")


def _pruned_month(paths: list[str]) -> tuple[tuple[int, int], int]:
    """The (year, month) a pruned query reads, and how many sessions
    fall in it: the first month that holds one session only, so every
    seed's query reads one file's worth of rows."""
    months = [_test_month(p) for p in paths]
    month = next((m for m in months if months.count(m) == 1), months[0])
    return month, months.count(month)


def _parquet_files(store: str) -> list[str]:
    return glob.glob(os.path.join(store, "data", "**", "*.parquet"), recursive=True)


class EegWorkload:
    """Land-and-query iterations on the EEG path. Each one batch-ingests
    a monthly batch into a fresh store, re-runs the ingest (a no-op),
    lands an incremental batch through the streaming path and queries
    it, re-runs the stream (a no-op), then asks each Year/Month-pruned
    SQL query over the curated store ``repeats`` times, in seeded
    order."""

    name = "eeg_ingest"
    warm_rounds = 0  # the gate iteration warms every path it times
    rounds = 2
    repeats = 3  # each pruned query is asked this often per iteration

    def __init__(self, files: int, incremental: int, rows: int, signals: int):
        self.files, self.incremental = files, incremental
        self.rows, self.signals = rows, signals
        self.inputs = {
            "monthly_files": files,
            "incremental_files": incremental,
            "rows_per_session": rows,
            "signal_columns": signals,
        }
        self.iteration = 0

    def setup(self, b: Bench) -> None:
        self.batch, self.incr = b.path("landing", "monthly"), b.path("landing", "incr")
        shape = dict(max_sessions=1, rows_per_session=self.rows, n_signals=self.signals)
        batch = generate_corpus(self.batch, self.files, seed=b.seed, **shape)
        incr = generate_corpus(
            self.incr, self.incremental, seed=b.seed + 1, patient_offset=self.files, **shape
        )
        self.batch_bytes = sum(os.path.getsize(p) for p in batch)
        self.inputs["monthly_csv_bytes"] = self.batch_bytes
        (year, month), _ = _pruned_month(batch)
        self.incr_month, sessions = _pruned_month(incr)
        self.incr_month_rows = sessions * self.rows
        pruned = f"FROM eeg WHERE Year = {year} AND Month = {month}"
        self.queries = {
            "eeg.filter_by_day": f"SELECT PatientID, Day, count(*) AS n {pruned} "
            "AND S1_1 > 0 GROUP BY PatientID, Day",
            "eeg.patient_stats": "SELECT PatientID, count(*) AS n, avg(S2_1) AS mean_s2, "
            f"min(S3_1) AS min_s3, max(S4_1) AS max_s4 {pruned} GROUP BY PatientID",
            "eeg.outlier_rows": f"SELECT PatientID, ClockDateTime, S6_1 {pruned} AND S6_1 > 99",
        }
        self.step(b, gate=True)

    def step(self, b: Bench, gate: bool = False) -> None:
        spark = b.spark
        store = b.path("stores", f"batch-{self.iteration}")
        live = b.path("stores", f"stream-{self.iteration}")
        self.iteration += 1
        b.units += b.traced

        with b.op("eeg.ingest"):
            t0 = time.perf_counter()
            n = b.jobs("eeg_csv.write_jobs", eeg_csv.ingest, spark, self.batch, store)
            elapsed = time.perf_counter() - t0
            if n != self.files:
                b.fail("eeg.ingest", f"ingested {n} files, expected {self.files}")
            elif b.timing:
                b.samples["ingest_mb_per_s"].append(self.batch_bytes / 1e6 / elapsed)
        with b.op("eeg.ingest_rerun"):
            n = eeg_csv.ingest(spark, self.batch, store)
            if n != 0:
                b.fail("eeg.ingest_rerun", f"re-run ingested {n} files, expected 0")
        with b.op("eeg.stored_rows"):
            files = _parquet_files(store)
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
            if rows != self.files * self.rows:
                b.fail("eeg.stored_rows", f"{rows} rows stored, generated {self.files * self.rows}")
            elif b.timing:
                stored = sum(os.path.getsize(p) for p in files)
                b.samples["stored_bytes_per_input_byte"].append(stored / self.batch_bytes)
            if b.traced:
                b.counts["eeg_csv.files_written"] += len(files)

        year, month = self.incr_month
        with b.op("eeg.freshness"):
            t0 = time.perf_counter()
            rows = b.jobs(
                "stream.jobs",
                streaming_ingest.stream_ingest_eeg,
                spark,
                self.incr,
                live,
                settle_s=0.0,
            )
            eeg_csv.register_curated(spark, live, "eeg_incremental")
            seen = spark.sql(
                "SELECT count(*) FROM eeg_incremental "
                f"WHERE Year = {year} AND Month = {month}"
            ).collect()[0][0]
            elapsed = time.perf_counter() - t0
            if rows != self.incremental * self.rows or seen != self.incr_month_rows:
                b.fail("eeg.freshness", f"streamed {rows} rows, query saw {seen}")
            elif b.timing:
                b.samples["freshness_s"].append(elapsed)
            if b.traced:
                b.counts["stream.rows"] += rows
        with b.op("eeg.stream_rerun"):
            rows = streaming_ingest.stream_ingest_eeg(spark, self.incr, live, settle_s=0.0)
            if rows != 0:
                b.fail("eeg.stream_rerun", f"re-run streamed {rows} rows, expected 0")

        with b.op("eeg.register"):
            eeg_csv.register_curated(spark, store, "eeg")
        con = duckdb.connect() if gate else None
        if con is not None:
            con.execute(
                "CREATE VIEW eeg AS SELECT * FROM read_parquet("
                f"'{store}/data/*/*/*/*.parquet', hive_partitioning = true)"
            )
        asks = list(self.queries.items()) * self.repeats
        b.rng.shuffle(asks)
        for name, sql in asks:
            got = b.query(name, lambda: spark.sql(sql), collect_sink)
            if con is not None and got is not None and name not in b.duckdb:
                want = b.oracle(con, name, sql)
                with b.op(f"gate:{name}"):
                    why = mismatch(got, want)
                    if why:
                        b.fail(f"gate:{name}", why)
        if con is not None:
            con.close()
        b.probe_floor()
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)


def make(name: str, smoke: bool):
    """The workload called ``name``; ``smoke`` shrinks its inputs."""
    if name == "interactive_sql":
        return QueryWorkload(name, INTERACTIVE_KEYS, 0.001 if smoke else 0.1, 1, 3)
    if name == "curation_batch":
        return QueryWorkload(name, CURATION_KEYS, 0.001 if smoke else 0.1, 1, 2)
    if name == "eeg_ingest":
        if smoke:
            return EegWorkload(files=2, incremental=1, rows=100, signals=20)
        return EegWorkload(files=4, incremental=2, rows=600, signals=200)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("interactive_sql", "curation_batch", "eeg_ingest")

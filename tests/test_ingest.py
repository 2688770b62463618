"""EEG ingest pipeline tests (SURVEY.md §2A re-expression).

Pins: prelude skip, metadata extraction, the ×1e5 timestamp decode,
partitioned write, ledger idempotency (the reference's
read-union-append duplication bug #1 must NOT reproduce), the staged
exactly-once write across crash points, one job count per batch at
any file count, schema registry, supercategory fold, wide→tidy melt.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import uuid

import pytest

from pyspark.sql import functions as F

from data_pipeline_spark_spark.sources import eeg_csv
from data_pipeline_spark_spark.sources.fixture import generate_corpus
from data_pipeline_spark_spark.sources.schema_rules import (
    fold_supercategories,
    type_for_column,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("eeg_in"))
    paths = generate_corpus(
        d, n_patients=2, max_sessions=2, rows_per_session=50, n_signals=10, seed=7
    )
    return d, paths


def test_probe_header(spark, corpus):
    _, paths = corpus
    h = eeg_csv.probe_header(spark, paths[0])
    assert h.metadata["PatientID"].startswith("P")
    assert h.metadata["PatientName"].startswith("Patient ")
    assert h.columns[:2] == ["ClockDateTime", "Time"]
    assert len(h.columns) == 12  # 2 + 10 signals
    # supercategory fold: labels span groups of SUPERCAT_SPAN columns
    assert "" in h.supercategories  # ClockDateTime/Time are unlabeled
    assert any(k.startswith("Group ") for k in h.supercategories)


def test_read_session_skips_prelude_and_decodes(spark, corpus):
    _, paths = corpus
    df = eeg_csv.read_session(spark, paths[0])
    assert df.count() == 50  # 8 prelude rows skipped
    row = df.orderBy("ClockDateTime").first()
    # ×1e5 decode (reference sparkle-v9.py:114-118): Timestamp must
    # round-trip the encoded ClockDateTime to the exact second
    expected = dt.datetime.fromtimestamp(
        round(row.ClockDateTime * 1e5), tz=dt.timezone.utc
    ).replace(tzinfo=None)
    assert row.Timestamp == expected
    assert (row.Year, row.Month, row.Day) == (
        expected.year,
        expected.month,
        expected.day,
    )
    # v5-semantics metadata (not v9's empty literals)
    assert row.PatientID != ""
    assert row.PatientBirthDate is not None


def test_one_second_cadence(spark, corpus):
    _, paths = corpus
    df = eeg_csv.read_session(spark, paths[0])
    ts = [r.Timestamp for r in df.orderBy("Time").collect()]
    deltas = {(b - a).total_seconds() for a, b in zip(ts, ts[1:])}
    assert deltas == {1.0}  # 1 Hz rows (reference random_generator.py:47)


def test_ingest_idempotent(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    n1 = eeg_csv.ingest(spark, src, out, run_id="r1")
    assert n1 == len(paths)
    count1 = spark.read.parquet(os.path.join(out, "data")).count()

    # re-run over the same staging dir: MUST be a no-op (reference
    # bug #1: re-read + union + append duplicated everything)
    n2 = eeg_csv.ingest(spark, src, out, run_id="r2")
    assert n2 == 0
    count2 = spark.read.parquet(os.path.join(out, "data")).count()
    assert count1 == count2


def test_ingest_incremental_new_file(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="r1")
    before = spark.read.parquet(os.path.join(out, "data")).count()

    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=30, n_signals=10, seed=99)
    n = eeg_csv.ingest(spark, src, out, run_id="r2")
    assert n >= 1
    after = spark.read.parquet(os.path.join(out, "data")).count()
    assert after == before + 30 * n


def test_partitioned_layout_and_registry(spark, corpus, tmp_path):
    src, _ = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="r1")
    # hive partition dirs Year=/Month=/Day= (reference sparkle-v9.py:136-138)
    years = [p for p in os.listdir(os.path.join(out, "data")) if p.startswith("Year=")]
    assert years
    reg_dir = os.path.join(out, "_schema_registry")
    files = os.listdir(reg_dir)
    assert files
    payload = json.load(open(os.path.join(reg_dir, files[0])))
    names = {e["Name"] for e in payload}
    assert {"Timestamp", "PatientID", "ClockDateTime"} <= names
    assert all({"Name", "Type"} <= set(e) for e in payload)
    # partition pruning works against the curated store
    curated = eeg_csv.register_curated(spark, out, view="eeg_test")
    one_year = curated.filter(F.col("Year") == int(years[0].split("=")[1]))
    assert one_year.count() > 0


def test_melt_tidy(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="r1")
    curated = eeg_csv.register_curated(spark, out, view="eeg_melt")
    h = eeg_csv.probe_header(spark, paths[0])
    signals = [c for c in h.columns if c.startswith("S")]
    tidy = eeg_csv.melt_signals(curated, signals)
    assert tidy.columns == ["Timestamp", "PatientID", "channel", "value"]
    assert tidy.count() == curated.count() * len(signals)


def test_type_rules():
    # reference gen_schema.py:5-14 name-based rules
    assert type_for_column("Comment") == "string"
    assert type_for_column("TestTime") == "string"
    assert type_for_column("ClockDateTime") == "timestamp"
    assert type_for_column("I42_1") == "double"


def test_supercat_fold():
    # reference crawler.py:27-32: label applies to its span
    sc = ["", "", "A", "", "B", ""]
    hdr = ["ts", "t", "c1", "c2", "c3", "c4"]
    m = fold_supercategories(sc, hdr)
    assert m == {"": ["ts", "t"], "A": ["c1", "c2"], "B": ["c3", "c4"]}


def test_empty_input_guard(spark, tmp_path):
    src = tmp_path / "empty_in"
    src.mkdir()
    out = str(tmp_path / "curated")
    assert eeg_csv.ingest(spark, str(src), out) == 0  # no crash, no output
    assert not os.path.exists(os.path.join(out, "data"))


def test_ingest_log(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="logrun")
    log = os.path.join(out, "ingest-log.csv")
    lines = open(log).read().strip().splitlines()
    # other tests may have appended files to the shared corpus dir
    assert len(lines) == len(eeg_csv.list_input_files(src))
    assert all(",logrun," in line for line in lines)


def test_cast_by_prefix_single_projection(spark):
    from data_pipeline_spark_spark.sources.schema_rules import cast_by_prefix

    df = spark.createDataFrame([("1.5", "2.5", "x")], "S1 string, S2 string, note string")
    out = cast_by_prefix(df, "S", "double")
    assert dict(out.dtypes) == {"S1": "double", "S2": "double", "note": "string"}
    row = out.first()
    assert row.S1 == 1.5 and row.note == "x"


def test_ingest_at_reference_width(spark, tmp_path):
    """Ingest at the reference's TRUE width — 6,039 columns
    (sparkle-v8.py:90 hard-codes num_columns = 6039; n_signals=6037 +
    ClockDateTime + Time reaches it). The narrow fixtures exercise
    the logic; this pins that nothing in probe/read/write assumes a
    plan-manageable column count (whole-stage codegen is fully
    fallen back at this width — scripts/wide_probe.py measures the
    consequences; this test pins correctness there). Row count is
    tiny because width, not volume, is the variable under test."""
    src = str(tmp_path / "wide_in")
    out = str(tmp_path / "wide_out")
    generate_corpus(
        src, n_patients=1, max_sessions=1, rows_per_session=10,
        n_signals=6037, seed=13,
    )
    paths = [os.path.join(src, p) for p in sorted(os.listdir(src))]
    h = eeg_csv.probe_header(spark, paths[0])
    assert len(h.columns) == 6039
    n = eeg_csv.ingest(spark, src, out)
    assert n == 1
    back = spark.read.parquet(os.path.join(out, "data"))
    # width survives the round-trip: all signals + metadata + decode
    assert len([c for c in back.columns if c.startswith("S")]) == 6037
    assert back.count() == 10
    # a pruned narrow read off the wide store stays correct
    row = back.select("S1_1", "S6037_1", "Time").orderBy("Time").first()
    assert row.S1_1 is not None and row.S6037_1 is not None


# ---------------------------------------------------------------------------
# one staged write per batch: exactly-once across crash points
# ---------------------------------------------------------------------------


def _session_files(root, **kw):
    shape = dict(n_patients=3, max_sessions=1, rows_per_session=20, n_signals=4)
    shape.update(kw)
    return generate_corpus(root, **shape)


def _per_file(spark, src):
    """The batch the store must hold: every file's read_session rows."""
    frames = [eeg_csv.read_session(spark, p) for p in eeg_csv.list_input_files(src)]
    return functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def _assert_store_is(spark, out, want):
    got = spark.read.parquet(os.path.join(out, "data")).select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0  # nothing duplicated
    assert want.exceptAll(got).count() == 0  # nothing lost
    assert not os.path.exists(os.path.join(out, eeg_csv.STAGING))


def test_crash_inside_write_job_rerun_exactly_once(spark, tmp_path, monkeypatch):
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    paths = _session_files(src, seed=21)
    real = eeg_csv.curate

    def failing_curate(spark, raw_df, headers):
        df = real(spark, raw_df, headers)
        boom = F.raise_error(F.lit("injected task failure"))
        return df.withColumn("Time", F.when(F.col("Time") >= 10, boom).otherwise(F.col("Time")))

    monkeypatch.setattr(eeg_csv, "curate", failing_curate)
    with pytest.raises(Exception, match="injected task failure"):
        eeg_csv.ingest(spark, src, out)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(out, "data"))

    assert eeg_csv.ingest(spark, src, out) == len(paths)
    _assert_store_is(spark, out, _per_file(spark, src))


def test_crash_before_ledger_write_rerun_exactly_once(spark, tmp_path, monkeypatch):
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    paths = _session_files(src, seed=22)

    def crash(*_):
        raise RuntimeError("injected crash before the ledger write")

    monkeypatch.setattr(eeg_csv, "_write_ledger", crash)
    with pytest.raises(RuntimeError, match="before the ledger"):
        eeg_csv.ingest(spark, src, out)
    monkeypatch.undo()
    # the job committed into its stage, and nothing reached data/
    [stage] = os.listdir(os.path.join(out, eeg_csv.STAGING))
    assert os.path.exists(os.path.join(out, eeg_csv.STAGING, stage, eeg_csv.MANIFEST))
    assert not os.path.exists(os.path.join(out, "data"))

    assert eeg_csv.ingest(spark, src, out) == len(paths)
    _assert_store_is(spark, out, _per_file(spark, src))


def test_crash_mid_publish_rerun_exactly_once(spark, tmp_path, monkeypatch):
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    paths = _session_files(src, seed=23)
    real_replace = os.replace
    moved = []

    def crash_on_second_part(a, b):
        if str(a).endswith(".parquet"):
            if moved:
                raise OSError("injected crash mid-publish")
            moved.append(a)
        real_replace(a, b)

    monkeypatch.setattr(os, "replace", crash_on_second_part)
    with pytest.raises(OSError, match="mid-publish"):
        eeg_csv.ingest(spark, src, out)
    monkeypatch.undo()
    # part-way: one part file published, the rest still staged, and
    # the batch already ledgered
    staged = [
        f for _, _, names in os.walk(os.path.join(out, eeg_csv.STAGING))
        for f in names if f.endswith(".parquet")
    ]
    assert len(moved) == 1 and staged
    assert eeg_csv._read_ledger(out) == {os.path.basename(p) for p in paths}

    # the re-run publishes the rest and has no new file to ingest
    assert eeg_csv.ingest(spark, src, out) == 0
    _assert_store_is(spark, out, _per_file(spark, src))


# ---------------------------------------------------------------------------
# what the fused batch scan must carry
# ---------------------------------------------------------------------------


def test_ingest_mixed_headers_in_one_batch(spark, tmp_path):
    """Two header shapes (4 and 6 signals) in one staging dir land in
    one call; each file's rows equal its read_session rows, with the
    columns its header lacks null."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    narrow = _session_files(src, n_patients=2, n_signals=4, seed=31)
    wide = _session_files(src, n_patients=2, n_signals=6, seed=32, patient_offset=10)
    assert eeg_csv.ingest(spark, src, out) == len(narrow) + len(wide)
    _assert_store_is(spark, out, _per_file(spark, src))
    got = spark.read.parquet(os.path.join(out, "data"))
    narrow_ids = [eeg_csv.probe_header(spark, p).metadata["PatientID"] for p in narrow]
    narrow_rows = got.filter(F.col("PatientID").isin(narrow_ids))
    assert narrow_rows.count() == 20 * len(narrow)
    assert narrow_rows.filter(F.col("S5_1").isNotNull() | F.col("S6_1").isNotNull()).count() == 0


def test_ingest_odd_file_name_keeps_metadata(spark, tmp_path):
    """Spark reports a scanned file's name percent-encoded; a name
    with a space, '+' and '%' must still key its probed metadata."""
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    [path] = _session_files(src, n_patients=1, seed=33)
    odd = os.path.join(src, "patient one+100%.csv")
    os.rename(path, odd)
    want = eeg_csv.probe_header(spark, odd).metadata["PatientID"]
    assert eeg_csv.ingest(spark, src, out) == 1
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.count() == 20
    assert {r.PatientID for r in got.select("PatientID").distinct().collect()} == {want}


# ---------------------------------------------------------------------------
# one Spark job count per batch, whatever its file count
# ---------------------------------------------------------------------------


def _jobs_launched(spark, fn):
    sc = spark.sparkContext
    group = f"ingest-job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ingest job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_job_count_independent_of_file_count(spark, tmp_path):
    """Ingesting 4 same-header files launches as many Spark jobs as
    ingesting 1: a per-file job loop would scale with the batch."""
    counts = {}
    for n in (1, 4):
        src, out = str(tmp_path / f"in{n}"), str(tmp_path / f"out{n}")
        _session_files(src, n_patients=n, seed=40 + n)
        counts[n] = _jobs_launched(spark, lambda: eeg_csv.ingest(spark, src, out))
    assert counts[1] == counts[4] <= 2, counts

"""EEG session-CSV → partitioned-parquet ingest, Spark-first.

Re-expresses the reference's ETL app (reference
spark-apps/sparkle-v9.py:77-141, with the metadata handling of
sparkle-v5.py:49-102) with its four bugs fixed (SURVEY.md §4):

1. append-only-new: the reference re-read the whole curated store,
   union'd the new batch and APPENDED — duplicating everything on
   every run (sparkle-v9.py:128-138). We append only the new batch
   and make re-runs no-ops via a processed-file ledger.
2. unionByName everywhere (the reference's positional union at
   sparkle-v9.py:130 breaks on column reorder).
3. real patient metadata (v5 semantics, sparkle-v5.py:65-102) with
   the v9 performance approach (schema from header probe, no
   inference — sparkle-v9.py:92-102; inference was "REALLY slow",
   sparkle-v7.py:14).
4. the 8 metadata/header rows are skipped on the full read (v9 left
   them in as null-ish rows, sparkle-v9.py:105).

Pipeline per batch:
    probe (≤8 rows per file, driver-side) → metadata + header per file
    group files by header                 → one schema-explicit CSV scan
                                            per distinct header (all-
                                            double, v9), unionByName'd
    curate (shared with streaming)        → prelude skip, broadcast join
                                            of per-file metadata, ×1e5
                                            timestamp decode, Y/M/D
    one partitioned write job             → _staging/<unique>/
    manifest, ledger, publish             → rename part files into data/
    schema-registry JSON export + ingest log

Scale: the per-file probe reads 8 rows; the whole batch is one
schema-explicit distributed CSV scan per distinct header, with the
file→metadata lookup broadcast from a single literal; the write is
one shuffle-free job (partitionBy fan-out at the task level), so a
batch of N files costs the same number of Spark jobs as one file and
its scan parallelizes across all files' blocks at once. Publishing
is one rename per part file, and exactly-once across crashes (see
``ingest``).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema_rules import fold_supercategories

PRELUDE_ROWS = 8  # 6 metadata rows + supercategory row + header row
META_KEYS = (
    "File",
    "PatientName",
    "PatientID",
    "PatientBirthDate",
    "TestDate",
    "TestTime",
)
#: curated metadata columns, in store order: strings, but for the dates
META_COLUMNS = META_KEYS[1:]
DATE_COLUMNS = ("PatientBirthDate", "TestDate")
STAGING = "_staging"
MANIFEST = "_manifest.json"


@dataclass
class SessionHeader:
    metadata: dict[str, str]
    columns: list[str]
    supercategories: dict[str, list[str]]


# ---------------------------------------------------------------------------
# probe (driver-side, ≤8 rows — reference sparkle-v9.py:92-93 pattern)
# ---------------------------------------------------------------------------


def probe_header(spark: SparkSession, path: str) -> SessionHeader:
    """Read the 8-row prelude of one session file: key/value metadata
    (rows 1-6), super-category row (7), header row (8) — reference
    sparkle-v5.py:49-68 / sparkle-v9.py:92-93.

    Local files take a plain ``open()`` fast path: the prelude is 8
    short lines, and launching a Spark job per probe turns a staging
    dir of N files into N scheduler round-trips (~50-100 ms each —
    the streaming path probes EVERY staged file each trigger, r8
    review). Non-local URIs (s3://, hdfs://) keep the bounded
    spark.read.text probe."""
    if os.path.exists(path):
        lines = []
        with open(path, "r", encoding="utf-8") as fh:
            for _ in range(PRELUDE_ROWS):
                line = fh.readline()
                if not line:  # EOF — same short-file shape as limit()
                    break
                lines.append(line.rstrip("\n"))
    else:
        raw = (
            spark.read.schema("value string")
            .option("lineSep", "\n")
            .text(path)
            .limit(PRELUDE_ROWS)
            .collect()
        )
        # universal-newlines parity with the local open() branch: a
        # CRLF file read with lineSep='\n' leaves a trailing \r on
        # every line, which would smuggle a \r-suffixed last header
        # column into the curated store (r16 self-review)
        lines = [r.value.rstrip("\r") for r in raw]
    meta: dict[str, str] = {}
    for line in lines[:6]:
        key, _, value = line.partition(",")
        if key in META_KEYS:
            meta[key] = value.strip()
    supercat_row = lines[6].split(",") if len(lines) > 6 else []
    header_row = lines[7].split(",") if len(lines) > 7 else []
    return SessionHeader(
        metadata=meta,
        columns=header_row,
        supercategories=fold_supercategories(supercat_row, header_row),
    )


def build_schema(columns: list[str]) -> T.StructType:
    """All-double schema from the header names (the v9 approach,
    reference sparkle-v9.py:100-102): signal files are numeric; typed
    metadata enters as literal columns, not by casting the scan."""
    return T.StructType([T.StructField(c, T.DoubleType(), True) for c in columns])


# ---------------------------------------------------------------------------
# curate: the one raw → curated transform (batch and streaming)
# ---------------------------------------------------------------------------


def decode_clock(col):
    """×1e5 ClockDateTime decode (reference sparkle-v9.py:114-118),
    with reference bug #5 fixed: the raw value is unix_seconds/1e5
    (random_generator.py:48), and (s/1e5)*1e5 can land up to ~2.4e-7
    BELOW the integer (double ulp at 1e9 magnitude). The reference's
    plain double→timestamp cast truncates, decoding ~1 in 500
    timestamps one second early (found by hypothesis,
    tests/test_properties.py::test_ts_codec_roundtrip). The encoding
    is integer-second resolution by construction (1 Hz), so
    round-to-nearest-second is the faithful inverse."""
    import pyspark.sql.functions as F

    return F.timestamp_seconds(F.round(col * F.lit(1e5), 0).cast("long"))


def _metadata_lookup(spark: SparkSession, headers: dict[str, SessionHeader]) -> DataFrame:
    """(file name → typed patient metadata) as a tiny DataFrame built
    from ONE JSON string literal: no Python-worker job (which
    createDataFrame(list) launches) and a constant number of
    driver→JVM calls at any file count. A missing key lands as '' —
    and a missing or malformed date as null: try_to_date, not to_date,
    because Spark 4 defaults to ANSI mode, where to_date RAISES on
    malformed input — one 'PatientBirthDate,unknown' row would abort
    the whole ingest run instead of landing as the null the curated
    schema already allows."""
    rows = [
        {"_file": name, **{key: h.metadata.get(key, "") for key in META_COLUMNS}}
        for name, h in headers.items()
    ]
    fields = ", ".join(f"{key}: string" for key in META_COLUMNS)
    parsed = F.from_json(F.lit(json.dumps(rows)), f"array<struct<_file: string, {fields}>>")
    return spark.range(1).select(F.inline(parsed)).select(
        "_file",
        *(
            F.try_to_date(key, "y/M/d").alias(key) if key in DATE_COLUMNS else key
            for key in META_COLUMNS
        ),
    )


def _source_name(file_name):
    """The on-disk name of a ``_metadata.file_name``, which Spark
    reports percent-encoded ("my file.csv" arrives as "my%20file.csv").
    '+' is escaped first: URI encoding leaves it literal, but
    url_decode reads it as a space."""
    return F.url_decode(F.replace(file_name, F.lit("+"), F.lit("%2B")))


def curate(spark: SparkSession, raw_df: DataFrame, headers: dict[str, SessionHeader]) -> DataFrame:
    """Raw all-double CSV scan → curated rows: raw signals + typed
    patient metadata + decoded Timestamp + Year/Month/Day, the store
    layout of batch and streaming ingest alike.

    ``raw_df`` is a schema-explicit CSV scan (batch or streaming),
    or a union of such scans that each carry ``_metadata`` as a
    column; ``headers`` maps every file name the scan can read to its
    probed header. Each row's metadata comes from a broadcast join on
    its source file name, so one plan serves any number of files."""
    ts = decode_clock(F.col("ClockDateTime"))  # see decode_clock for the truncation bug
    return (
        raw_df.withColumn("_file", _source_name(F.col("_metadata.file_name")))
        # Prelude skip: the 8 prelude rows parse as all-null
        # ClockDateTime under the double schema (string keys don't
        # cast); data rows always carry a ClockDateTime. Declarative,
        # distributed, no zipWithIndex.
        .filter(F.col("ClockDateTime").isNotNull())
        .join(F.broadcast(_metadata_lookup(spark, headers)), "_file", "left")
        # "*" keeps the raw columns in scan order, then the metadata;
        # naming thousands of signal columns one by one would cost a
        # driver→JVM call each
        .drop("_file", "_metadata")
        .select(
            "*",
            ts.alias("Timestamp"),
            F.year(ts).alias("Year"),
            F.month(ts).alias("Month"),
            F.dayofmonth(ts).alias("Day"),
        )
    )


def _scan(spark: SparkSession, columns: list[str], paths: list[str]) -> DataFrame:
    return spark.read.schema(build_schema(columns)).option("header", "false").csv(paths)


def read_session(spark: SparkSession, path: str, header: SessionHeader | None = None) -> DataFrame:
    """One session file → curated DataFrame (see ``curate``)."""
    if header is None:
        header = probe_header(spark, path)
    return curate(spark, _scan(spark, header.columns, [path]), {os.path.basename(path): header})


# ---------------------------------------------------------------------------
# batch ingest: one staged write per batch, ledger idempotency
# ---------------------------------------------------------------------------


def _ledger_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_ingest_ledger.json")


def _read_json_names(path: str) -> set[str] | None:
    try:
        with open(path) as f:
            return set(json.load(f))
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _read_ledger(output_dir: str) -> set[str]:
    return _read_json_names(_ledger_path(output_dir)) or set()


def _write_json_atomic(path: str, names: set[str]) -> None:
    """Atomic replace: writing in place with mode 'w' truncates
    first, so a crash mid-dump would leave an empty/partial JSON —
    for the ledger, one that _read_ledger treats as 'nothing
    processed', and the next run would re-ingest EVERY file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(names), f, indent=1)
    os.replace(tmp, path)


def _write_ledger(output_dir: str, processed: set[str]) -> None:
    os.makedirs(output_dir, exist_ok=True)
    _write_json_atomic(_ledger_path(output_dir), processed)


def _publish(stage: str, data_dir: str) -> None:
    """Rename every data file of a committed stage into the same
    Year=/Month=/Day= path under data_dir, then drop the stage (and
    the staging root once empty). Idempotent: a re-run after a crash
    part-way through moves only what is still staged. Stage-level
    files (_SUCCESS, the manifest) go with the stage."""
    for root, dirs, names in os.walk(stage):
        if root == stage:
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            continue
        dest = os.path.join(data_dir, os.path.relpath(root, stage))
        os.makedirs(dest, exist_ok=True)
        for name in names:
            os.replace(os.path.join(root, name), os.path.join(dest, name))
    _drop_stage(stage)


def _drop_stage(stage: str) -> None:
    shutil.rmtree(stage, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(stage))
    except OSError:
        pass  # other stages left, or already gone


def _recover_stages(output_dir: str) -> None:
    """Finish or discard what a crashed ingest left in _staging/. A
    stage whose manifest names are all in the ledger had its batch
    recorded as done: publish the rest of it. Any other stage (job
    failed, or crashed before the ledger write) is deleted, and its
    files are still unprocessed, so this run ingests them again."""
    root = os.path.join(output_dir, STAGING)
    if not os.path.isdir(root):
        return
    processed = _read_ledger(output_dir)
    for name in sorted(os.listdir(root)):
        stage = os.path.join(root, name)
        batch = _read_json_names(os.path.join(stage, MANIFEST))
        if batch and batch <= processed:
            _publish(stage, os.path.join(output_dir, "data"))
        else:
            _drop_stage(stage)


def export_schema_registry(df: DataFrame, output_dir: str, run_id: str | None = None) -> str:
    """Serialize the curated schema as [{Name, Type}] JSON beside the
    table (reference write_schema_to_s3, sparkle-v9.py:31-61) — the
    registry the catalog layer reads instead of re-crawling."""
    run_id = run_id or time.strftime("%Y%m%d-%H%M%S")
    reg_dir = os.path.join(output_dir, "_schema_registry")
    os.makedirs(reg_dir, exist_ok=True)
    out = os.path.join(reg_dir, f"schema-{run_id}.json")
    payload = [
        {"Name": f.name, "Type": f.dataType.simpleString()} for f in df.schema.fields
    ]
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    return out


def list_input_files(input_dir: str) -> list[str]:
    return sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if f.endswith(".csv")
    )


def ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str | None = None,
) -> int:
    """Ingest every unprocessed CSV in input_dir into the curated
    partitioned-parquet store. Returns the number of files ingested.

    Idempotent: a processed-file ledger replaces the reference's
    .OK-sentinel + move-to-processed choreography
    (lambda-initiator-v2.py:27-69, sparkle-v9.py:19-29); re-running
    over the same staging dir is a no-op (empty-input guard — the v5
    fix, reference sparkle-v5.py:43-46).

    The batch is one plan (one scan per distinct header, unionByName'd
    so mixed-schema staging dirs work, curated once) and one
    partitioned write job into output_dir/_staging/<unique>/.

    Crash-safety contract: exactly-once on a filesystem with atomic
    rename, for a single writer per output_dir. After the write job
    commits, ingest (1) writes the batch's file names into the
    stage's manifest, (2) adds them to the ledger, (3) renames each
    staged data file into data/Year=…/Month=…/Day=…/ and (4) removes
    the stage; manifest and ledger are each an atomic replace. Every
    call first recovers leftover stages: one whose manifest names are
    all ledgered is published, any other is deleted and its files
    re-ingested. A crash at any point therefore leaves each file's
    rows in data/ once, or not at all until the next run."""
    _recover_stages(output_dir)
    files = list_input_files(input_dir)
    processed = _read_ledger(output_dir)
    todo = [f for f in files if os.path.basename(f) not in processed]
    if not todo:
        return 0

    headers = {os.path.basename(p): probe_header(spark, p) for p in todo}
    groups: dict[tuple[str, ...], list[str]] = {}
    for path in todo:
        groups.setdefault(tuple(headers[os.path.basename(path)].columns), []).append(path)
    # _metadata does not survive a union as a hidden column; carrying
    # it explicitly lets curate key every group's rows the same way
    scans = [
        _scan(spark, list(cols), paths).select("*", "_metadata")
        for cols, paths in groups.items()
    ]
    batch = curate(
        spark,
        functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), scans),
        headers,
    )
    stage = os.path.join(output_dir, STAGING, uuid.uuid4().hex)
    batch.write.partitionBy("Year", "Month", "Day").parquet(stage)
    names = set(headers)
    _write_json_atomic(os.path.join(stage, MANIFEST), names)
    _write_ledger(output_dir, processed | names)
    _publish(stage, os.path.join(output_dir, "data"))
    export_schema_registry(batch, output_dir, run_id=run_id)
    append_ingest_log(output_dir, run_id or "batch", sorted(names))
    return len(todo)


def append_ingest_log(output_dir: str, run_id: str, files: list[str]) -> str:
    """Append one line per ingested file to the run log (reference
    lambda-initiator-v2.py:47-65 logged filenames + timestamp to a
    CSV log on every trigger)."""
    # NOT underscore-prefixed: Hadoop's hidden-file filter silently
    # excludes _*/.* paths from reads, and the log must be scannable.
    log_path = os.path.join(output_dir, "ingest-log.csv")
    stamp = time.strftime("%Y-%m-%dT%H:%M:%S")
    with open(log_path, "a") as f:
        for name in files:
            f.write(f"{stamp},{run_id},{name}\n")
    return log_path


def register_curated(spark: SparkSession, output_dir: str, view: str = "eeg") -> DataFrame:
    """Catalog sync: expose the curated store to SQL (replaces the
    reference's Glue crawler step, emr-no-vpc.py:159-169)."""
    df = spark.read.parquet(os.path.join(output_dir, "data"))
    df.createOrReplaceTempView(view)
    return df


# ---------------------------------------------------------------------------
# wide → tidy (the 100 TB query layout, SURVEY.md §7 step 5)
# ---------------------------------------------------------------------------


def melt_signals(df: DataFrame, signal_cols: list[str]) -> DataFrame:
    """Unpivot the wide signal columns into
    (Timestamp, PatientID, channel, value) long format.

    6k-wide rows defeat whole-stage codegen
    (spark.sql.codegen.maxFields default 100); the long format keeps
    every downstream plan narrow, at the cost of ×n_channels rows —
    which parquet run-length + dictionary encoding absorbs. Uses the
    built-in unpivot (ids stay typed; no stack() string-building)."""
    return df.unpivot(
        ids=["Timestamp", "PatientID"],
        values=signal_cols,
        variableColumnName="channel",
        valueColumnName="value",
    )

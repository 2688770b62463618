"""Physical-plan property tests — correctness of the SCALE behavior,
not the values: filters reach the parquet scan, projection prunes the
read schema, small dims broadcast, aggregates shuffle exactly once.
(The reference relied on Athena for all of this invisibly,
reference README.md:29-31; here it's asserted.)"""

from __future__ import annotations

from data_pipeline_spark_spark.operators.relational import (
    agg_basic,
    filter_pred,
    join_broadcast,
    project,
    sort_limit,
)
from data_pipeline_spark_spark.plans.analyze import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    scan_columns,
    shuffle_count,
)


def test_filter_pushdown(spark, sf_dir):
    df = filter_pred(spark, sf_dir)
    pf = pushed_filters(df)
    # the scan itself must receive the predicates
    assert "l_shipdate" in pf and "l_returnflag" in pf
    assert "IsNotNull" in pf


def test_column_pruning(spark, sf_dir):
    df = project(spark, sf_dir)
    cols = scan_columns(df)
    # 3 referenced + l_discount for the computed projection
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"}


def test_broadcast_dimensions(spark, sf_dir):
    df = join_broadcast(spark, sf_dir)
    assert has_broadcast_join(df)
    # fact side never shuffles for the join itself; one exchange for the agg
    assert shuffle_count(df) <= 1


def test_agg_single_shuffle(spark, sf_dir):
    df = agg_basic(spark, sf_dir)
    assert shuffle_count(df) == 1  # partial agg → exchange → final agg


def test_sort_limit_take_ordered(spark, sf_dir):
    df = sort_limit(spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)  # no global sort


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """join_bucketed's whole point: bucketBy(8, key) on both sides at
    write time means the join reads co-located buckets and the plan
    contains NO shuffle (Exchange) — the one-time-layout-cost vs
    every-query-shuffle trade that matters at 100 TB."""
    from data_pipeline_spark_spark.operators.scale_patterns import (
        bucketed_join_plan,
    )

    from data_pipeline_spark_spark.session import (
        get_explicit_conf,
        restore_conf,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = get_explicit_conf(spark, key)
    spark.conf.set(key, "-1")
    try:
        plan = bucketed_join_plan(spark, sf_dir)
        assert "Exchange" not in plan, plan
    finally:
        restore_conf(spark, key, old)
        spark.sql("DROP DATABASE IF EXISTS dps_bucketed_plan CASCADE")


def test_partition_pruning_on_partitioned_store(spark, sf_dir, tmp_path):
    """Write orders hive-partitioned by year (the reference's
    Year/Month/Day layout, sparkle-v9.py:136-138), then filter one
    year: the scan must carry a PartitionFilters entry and touch only
    that partition's files — the platform's core cost control
    (reference README.md:29-31)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_spark.catalog import load

    out = str(tmp_path / "orders_part")
    (
        load(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(out)
    )
    df = spark.read.parquet(out).filter(F.col("o_year") == 1995)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters")[1][:120]
    # only the 1995 directory's files are selected for the scan
    selected = df.select(F.input_file_name()).distinct().collect()
    assert selected and all("o_year=1995" in r[0] for r in selected)


def test_wide_schema_ingest_and_melt(spark, tmp_path):
    """The 6k-column strategy at a testable width: a 300-signal corpus
    ingests with a schema-explicit read (no inference) and unpivots to
    the tidy layout with exactly rows x signals observations. 300
    columns is already past spark.sql.codegen.maxFields (100) — the
    wide plan runs in the interpreted fallback, which is WHY the tidy
    form is the query layout at scale (SURVEY.md paragraph 7 step 5)."""
    from data_pipeline_spark_spark.sources import eeg_csv
    from data_pipeline_spark_spark.sources.fixture import generate_corpus

    src = str(tmp_path / "wide_src")
    out = str(tmp_path / "wide_out")
    generate_corpus(src, n_patients=1, max_sessions=1, rows_per_session=50,
                    n_signals=300, seed=7)
    n = eeg_csv.ingest(spark, src, out, run_id="wide")
    assert n >= 1
    curated = eeg_csv.register_curated(spark, out, view="eeg_wide")
    signal_cols = [c for c in curated.columns if c.startswith("S")]
    assert len(signal_cols) == 300
    rows = curated.count()
    tidy = eeg_csv.melt_signals(curated, signal_cols)
    assert tidy.count() == rows * 300
    assert tidy.columns == ["Timestamp", "PatientID", "channel", "value"]


def test_reference_width_ingest_and_melt(spark, tmp_path):
    """The wide strategy at the REFERENCE's actual width: 6,037
    signal columns + ClockDateTime + Time = 6,039 raw columns,
    matching column_type_mapping.json's 6,039 entries (reference
    sparkle-v8.py:90-94). Proves the header-probe schema build, the
    schema-explicit read, the derived-column chain, and the
    partitioned write all hold at full width (~14s: dominated by the
    2.5 MB task binary the wide plan broadcasts — the overhead that
    motivates the tidy layout), and that the unpivot yields exactly
    rows x signals narrow observations."""
    from data_pipeline_spark_spark.sources import eeg_csv
    from data_pipeline_spark_spark.sources.fixture import generate_corpus

    src = str(tmp_path / "w6k_src")
    out = str(tmp_path / "w6k_out")
    generate_corpus(src, n_patients=1, max_sessions=1, rows_per_session=20,
                    n_signals=6037, seed=7)
    assert eeg_csv.ingest(spark, src, out, run_id="w6k") == 1
    curated = eeg_csv.register_curated(spark, out, view="eeg_w6k")
    signal_cols = [c for c in curated.columns if c.startswith("S")]
    assert len(signal_cols) == 6037
    tidy = eeg_csv.melt_signals(curated, signal_cols)
    assert tidy.count() == 20 * 6037
    assert tidy.columns == ["Timestamp", "PatientID", "channel", "value"]


def test_paginate_take_ordered(spark, sf_dir):
    """Pagination must plan as TakeOrdered (each executor keeps only
    offset+limit rows), never a global Sort materialization."""
    from data_pipeline_spark_spark.operators.relational import sort_paginate

    plan = formatted_plan(sort_paginate(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no full sort node


def test_rollup_shuffles_twice_only(spark, sf_dir):
    """Two-level reaggregation = exactly two hash exchanges (hourly
    agg, then daily re-agg of the rollup) — the second shuffle moves
    the rollup, not the events."""
    from data_pipeline_spark_spark.operators.scale_patterns import rollup_reaggregate

    assert shuffle_count(rollup_reaggregate(spark, sf_dir)) == 2


def test_range_frame_single_shuffle(spark, sf_dir):
    """The trailing-interval window is one exchange on the partition
    key; the RANGE frame itself is a sorted in-partition scan."""
    from data_pipeline_spark_spark.operators.windows import window_range_frame

    assert shuffle_count(window_range_frame(spark, sf_dir)) == 1


def test_histogram_scans_one_column(spark, sf_dir):
    """The binning aggregate must prune the scan to the binned
    measure alone."""
    from data_pipeline_spark_spark.operators.relational import agg_histogram

    assert scan_columns(agg_histogram(spark, sf_dir)) == ["o_totalprice"]


def test_tfidf_top_k_is_take_ordered(spark, sf_dir):
    """The vocabulary top-25 must plan as TakeOrderedAndProject (a
    bounded per-partition heap), never a single-partition global
    window sort of the whole df table."""
    from data_pipeline_spark_spark.operators.text import tfidf_top_terms

    plan = formatted_plan(tfidf_top_terms(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_shard_pack_no_output_collect(spark, sf_dir):
    """shard_pack must return a distributed (checkpointed) result —
    the shard summary is O(total tokens / budget) rows and must not
    round-trip the driver. A LocalTableScan in the plan would mean a
    collect+recreate snuck back in."""
    from data_pipeline_spark_spark.operators.training_data import shard_pack

    plan = formatted_plan(shard_pack(spark, sf_dir))
    assert "LocalTableScan" not in plan


def test_ohlc_is_single_hash_agg(spark, sf_dir):
    """OHLC bars must be ONE partial-aggregated hash agg (min_by /
    max_by carry open/close), never the double-ROW_NUMBER window form
    the oracle uses — one exchange, no Sort or Window node."""
    from data_pipeline_spark_spark.operators.analytics import ts_resample_ohlc

    df = ts_resample_ohlc(spark, sf_dir)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 1
    assert "Window" not in plan


def test_repetition_stats_shuffle_free(spark, sf_dir):
    """Repetition stats are per-doc-local and computed in-row (sorted
    run fold): ZERO exchanges, no window, no join — a pure projected
    scan at any corpus size."""
    from data_pipeline_spark_spark.operators.text import repetition_stats

    df = repetition_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 0
    assert "Window" not in plan and "Join" not in plan


def test_simhash_signature_is_jvm_side(spark, sf_dir):
    """r10 VERDICT ask #7: the SimHash signature pass is whole-stage
    codegen — no Python evaluation node anywhere in the plan (the old
    pandas_udf ran a per-token Python loop), and the exploded token
    stream partially aggregates before its one doc-keyed exchange."""
    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.dedup import simhash_sigs

    df = simhash_sigs(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    plan = formatted_plan(df)
    assert "EvalPython" not in plan, plan  # Batch- and Arrow- variants
    assert "HashAggregate" in plan
    assert shuffle_count(df) == 1  # the post-combine doc-keyed exchange


def test_corpus_filter_report_single_row_agg_only(spark, sf_dir):
    """The quality gate's only exchange is the final single-row
    aggregate (flag sums); the repetition rule's token histogram is
    in-row, so no doc-keyed shuffle and no join exist."""
    from data_pipeline_spark_spark.operators.corpus import (
        corpus_filter_report,
    )

    df = corpus_filter_report(spark, sf_dir)
    plan = formatted_plan(df)
    # fan_out's round-robin exchange (unsplittable fixture file) +
    # the 1-row final agg exchange — and nothing doc-keyed
    assert shuffle_count(df) <= 2
    assert "Join" not in plan


def test_bm25_broadcast_stats_only(spark, sf_dir):
    """BM25: corpus statistics ride ONE broadcast row onto the tf
    projection — no data-proportional exchange anywhere (the stats
    aggregate's own exchange collapses a 1-row frame)."""
    from data_pipeline_spark_spark.operators.text import (
        keyword_search_bm25,
    )

    df = keyword_search_bm25(spark, sf_dir)
    plan = formatted_plan(df)
    # the stats row arrives via BroadcastExchange (nested-loop cross
    # of a 1-row build side, not a hash join — no equi-key exists)
    assert "BroadcastExchange" in plan
    assert shuffle_count(df) <= 1  # the single-row stats aggregate


def test_minhash_signature_bounded_shuffles(spark, sf_dir):
    """The MinHash signature build is 32 codegen MIN aggregates over
    the exploded shingle stream (map-side partial mins — the in-row
    transform form ran interpreted and 4× slower, r8): the plan pays
    at most the doc-keyed signature groupBy, the band self-join, and
    the candidate distinct."""
    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.dedup import minhash_df_pairs

    df = minhash_df_pairs(load(spark, sf_dir, "documents"))
    # fan_out spread, sig groupBy, band join, distinct
    assert shuffle_count(df) <= 4


def test_keep_canonical_broadcasts_dropped_ids(spark, sf_dir):
    """The keep/drop step must anti-join the corpus against a
    BROADCAST of the dropped ids (dropped ≪ corpus) — the corpus side
    never shuffles for the join."""
    from data_pipeline_spark_spark.operators.dedup import dedup_keep_canonical

    plan = formatted_plan(dedup_keep_canonical(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_span_exact_two_exchanges(spark, sf_dir):
    """dedup_span_exact must pay exactly two data-proportional
    shuffles: the explicit (h1, h2) repartition that BOTH the
    (h1, h2, doc_id) collapse and the Window.partitionBy(h1, h2)
    reuse (subset clustering), and the final per-doc rollup. The
    pre-fix shape paid three (groupBy key ≠ window key)."""
    from data_pipeline_spark_spark.operators.dedup import dedup_span_exact

    assert shuffle_count(dedup_span_exact(spark, sf_dir)) == 2


def test_substring_spans_two_exchanges(spark, sf_dir):
    """dedup_substring_spans pays exactly two data-proportional
    shuffles: the (h1, h2) repartition serving the occurrence-count
    window, then ONE doc_id shuffle that both the islands window and
    the (doc_id, island) rollup reuse (hash on doc_id is subset
    clustering for the rollup key)."""
    from data_pipeline_spark_spark.operators.dedup import (
        dedup_substring_spans,
    )

    assert shuffle_count(dedup_substring_spans(spark, sf_dir)) == 2


def test_q6_filters_reach_scan(spark, sf_dir):
    """tpch_q6 is the predicate-pushdown story: the shipdate range
    and quantity bound must reach the parquet scan as PushedFilters
    (the centi-unit discount band is post-scan by design — a
    ROUND(col*100) expression can't push). Exactly one exchange: the
    SinglePartition gather for the global sum."""
    from data_pipeline_spark_spark.operators.workloads import (
        tpch_q6_forecast_revenue,
    )

    df = tpch_q6_forecast_revenue(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf and "l_quantity" in pf
    assert shuffle_count(df) == 1


def test_q1_two_phase_agg(spark, sf_dir):
    """tpch_q1: partial aggregation must run map-side so the single
    hash exchange carries bytes ∝ 6 groups, not ∝ lineitem."""
    from data_pipeline_spark_spark.operators.workloads import (
        tpch_q1_pricing_summary,
    )

    df = tpch_q1_pricing_summary(spark, sf_dir)
    plan = formatted_plan(df)
    assert "partial_sum" in plan  # map-side combine
    pf = pushed_filters(df)
    assert "l_shipdate" in pf


def test_q17_per_part_agg_broadcasts(spark, sf_dir):
    """tpch_q17's decorrelated per-part aggregate is dimension-sized
    and must attach to the lineitem stream as a broadcast, never a
    fact-sized shuffle join."""
    from data_pipeline_spark_spark.operators.workloads import (
        tpch_q17_small_quantity_revenue,
    )

    assert has_broadcast_join(tpch_q17_small_quantity_revenue(spark, sf_dir))


def test_q21_aggregation_shape(spark, sf_dir):
    """tpch_q21's rewrite contract: the EXISTS / NOT EXISTS pair is
    order-level aggregation, not subquery joins — the plan must
    contain NO semi/anti join on the fact stream and NO Expand (a
    distinct-aggregate fallback would double the stream and was
    measured 40% slower)."""
    from data_pipeline_spark_spark.operators.workloads import (
        tpch_q21_suppliers_who_kept_waiting,
    )

    plan = formatted_plan(tpch_q21_suppliers_who_kept_waiting(spark, sf_dir))
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert "Expand" not in plan, plan


def test_default_parallelism_follows_cpu_affinity(monkeypatch):
    """With SPARK_GRAFT_CPUS unset the session sizes itself to the
    cores this process may run on; the variable still overrides."""
    import os

    from data_pipeline_spark_spark.session import default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def test_default_driver_memory_is_half_of_ram(monkeypatch):
    """With SPARK_GRAFT_DRIVER_MEM unset the driver heap is half of
    physical RAM in whole GiB, clamped to 1g..48g; the variable still
    overrides."""
    import os

    from data_pipeline_spark_spark.session import default_driver_memory

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_driver_memory() == f"{min(48, max(1, ram // 2**31))}g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"

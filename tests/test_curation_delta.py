"""Incremental curation DAG (queries/curation_delta.py): convergence
to the one-shot txt_curation_dag, and the stale-recompute machinery
that makes convergence exact when a boilerplate segment crosses the
threshold AFTER its holder docs were already admitted."""

from __future__ import annotations

import shutil

from sentiflow_spark.queries.curation_delta import (
    _state_root,
    publish,
    run_delta_batches,
)
from sentiflow_spark.queries.registry import load_all


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_delta_converges_to_oneshot(spark, sf_dir):
    """The central claim (the driver proves it against the DuckDB
    oracle; this pins it Spark-vs-Spark): the corpus pushed through as
    3 ascending delta batches with manifest-backed state produces the
    EXACT one-shot disposition — every stage label, split, seq_id,
    token and cut count."""
    reg = load_all()
    delta = reg["txt_curation_delta"].fn(spark, sf_dir)
    oneshot = reg["txt_curation_dag"].fn(spark, sf_dir)
    assert _canon(delta) == _canon(oneshot)


def test_stale_recompute_on_late_threshold_cross(spark, tmp_path):
    """A boilerplate segment whose third distinct holder arrives in the
    LAST batch: the first two holders were admitted with the segment
    kept, so the final batch must (a) detect the threshold cross,
    (b) recompute exactly those prior docs' features, and (c) end at
    the same disposition as the one-shot DAG over the full corpus.
    This is the monotone-invalidation path the module docstring's
    convergence argument rests on."""
    seg = "Z" * 16
    rows = []
    for i in range(9):
        # weave the doc id into EVERY 16-char window: any aligned
        # window shared across >= 3 docs is itself boilerplate and
        # would cross the threshold mid-run on its own schedule
        if i in (1, 4, 7):
            text = seg + f"h{i:02d}tail " * 6
        else:
            text = f"d{i:02d}word " * 8
        rows.append((i, text, "en", "t", len(text)))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    state = f"{tmp_path}/state"
    stats = run_delta_batches(
        spark, sf, state, n_batches=3, collect_stats=True
    )
    # batches are doc_id ranges [0,3) [3,6) [6,9): the seg's holders are
    # docs 1, 4, 7 — it crosses BP_MIN_DOCS=3 only in batch 2, which
    # must pull docs 1 and 4 back in as stale
    assert stats[0]["stale_recomputed"] == 0
    assert stats[1]["stale_recomputed"] == 0
    assert stats[2]["boiler_crossers"] >= 1
    assert stats[2]["stale_recomputed"] == 2

    reg = load_all()
    oneshot = reg["txt_curation_dag"].fn(spark, sf)
    assert _canon(publish(spark, sf, state)) == _canon(oneshot)


def test_delta_result_is_batch_count_invariant(spark, tmp_path):
    """The disposition is a pure function of the FINAL manifests, so
    the batch partitioning must not matter: the crafted corpus pushed
    through as 1, 2, and 3 delta batches publishes identical rows —
    the property that makes 'how often does the crawl deliver' an
    operational knob instead of a correctness parameter."""
    rows = [
        (i, f"x{i:02d}body " * 8 if i % 3 else "Q" * 16 + f"q{i:02d}tail " * 6,
         "en", "t", 0)
        for i in range(9)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    results = []
    for n in (1, 2, 3):
        state = f"{tmp_path}/state{n}"
        run_delta_batches(spark, sf, state, n_batches=n)
        results.append(_canon(publish(spark, sf, state)))
    assert results[0] == results[1] == results[2]


def test_publish_as_of_generation(spark, tmp_path):
    """Time travel: publish(as_of_gen=G) over a state that received
    MORE batches equals a publish over a state stopped at batch G —
    every store is generation-partitioned and append-only, so the
    as-of filter reconstructs the exact post-batch-G state (the
    reproducible-release property)."""
    from sentiflow_spark.queries.curation_delta import admit_batch

    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 7)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(9)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    docs_df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    batches = [
        docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi))
        for lo, hi in ((0, 3), (3, 6), (6, 9))
    ]

    full = f"{tmp_path}/state_full"
    for b in batches:
        admit_batch(spark, b, docs, full)
    partial = f"{tmp_path}/state_partial"
    for b in batches[:2]:
        admit_batch(spark, b, docs, partial)

    assert _canon(publish(spark, sf, full, as_of_gen=1)) == _canon(
        publish(spark, sf, partial)
    )
    # and the full-state publish differs (batch 2 crossed the Z-seg
    # threshold and recomputed docs 1 and 4), so as-of is a real filter
    assert _canon(publish(spark, sf, full)) != _canon(
        publish(spark, sf, full, as_of_gen=1)
    )


def test_compact_state_preserves_publish(spark, tmp_path):
    """LSM compaction: after compact_state the publish result is
    unchanged, the generation sequence continues (a post-compaction
    batch admits normally), and the late-arriving batch's stale
    recompute still fires against the compacted counts."""
    from sentiflow_spark.queries.curation_delta import (
        admit_batch,
        compact_state,
    )

    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 7)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(12)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    docs_df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")

    state = f"{tmp_path}/state"
    # admit batches [0,3) and [3,6): the Z-seg has 2 holders so far
    for lo, hi in ((0, 3), (3, 6)):
        admit_batch(
            spark, docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi)),
            docs, state,
        )
    before = _canon(publish(spark, sf, state))
    counts = compact_state(spark, state)
    assert counts["features"] > 0 and counts["seg_counts"] > 0
    assert _canon(publish(spark, sf, state)) == before

    # batch [6,9) arrives AFTER compaction: doc 7 makes the Z-seg cross
    # the threshold, so docs 1 and 4 must still be recomputed as stale
    # against the compacted count totals
    s = admit_batch(
        spark, docs.filter((docs.doc_id >= 6) & (docs.doc_id < 9)),
        docs, state, collect_stats=True,
    )
    assert s["boiler_crossers"] >= 1 and s["stale_recomputed"] == 2
    # ... and the result equals a never-compacted full run
    ref = f"{tmp_path}/state_ref"
    for lo, hi in ((0, 3), (3, 6), (6, 9)):
        admit_batch(
            spark, docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi)),
            docs, ref,
        )
    # compare over the docs admitted so far (ids 9-11 not yet admitted
    # in either state; publish emits rows only for admitted + bench)
    assert _canon(publish(spark, sf, state)) == _canon(
        publish(spark, sf, ref)
    )


def test_admit_batch_retry_after_crash_converges(spark, tmp_path):
    """A batch that died mid-admission (bench hashes and segment
    counts appended, features — the commit marker — not yet written)
    must be retryable: the retry purges the partial generation dirs
    and the final state equals a never-crashed run. Without the purge
    the retry double-appends the counts and corrupts the boilerplate
    threshold."""
    from sentiflow_spark.queries.curation_delta import (
        _paths,
        admit_batch,
    )

    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 7)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(9)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    docs_df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    batches = [
        docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi))
        for lo, hi in ((0, 3), (3, 6), (6, 9))
    ]

    crashed = f"{tmp_path}/state_crashed"
    admit_batch(spark, batches[0], docs, crashed)
    # simulate batch 1 dying AFTER the bench+counts appends but BEFORE
    # the features append: run the two leading appends by hand
    import pyspark.sql.functions as SF

    from sentiflow_spark.operators.dedup import boiler_segments
    from sentiflow_spark.queries.curation_delta import (
        _append_bench_hashes,
        _append_seg_counts,
    )
    from sentiflow_spark.queries.curation_queries import nfc_norm_expr
    from sentiflow_spark.queries.dedup_queries import DECON_SPAN_MOD

    p = _paths(crashed)
    delta_n = batches[1].select(
        "doc_id", "lang", nfc_norm_expr(SF.col("text")).alias("text")
    )
    is_bench = SF.col("doc_id") % DECON_SPAN_MOD == 0
    _append_bench_hashes(
        spark, delta_n.filter(is_bench).select("doc_id", "text"),
        p["bench_hashes"], 1,
    )
    _append_seg_counts(
        spark,
        boiler_segments(delta_n.filter(~is_bench))
        .select("seg", "doc_id").distinct(),
        p["seg_counts"], 1,
    )
    # retry batch 1 for real, then batch 2
    admit_batch(spark, batches[1], docs, crashed)
    admit_batch(spark, batches[2], docs, crashed)

    clean = f"{tmp_path}/state_clean"
    for b in batches:
        admit_batch(spark, b, docs, clean)
    assert _canon(publish(spark, sf, crashed)) == _canon(
        publish(spark, sf, clean)
    )


def test_admit_batch_replay_same_generation_converges(spark, tmp_path):
    """The streaming replay case (st_curation_delta pins gen to the
    batchId): a batch whose state COMMITTED but whose source
    checkpoint did not is re-delivered and re-admitted under the SAME
    generation — the purge must make that convergent, never a
    double-count of segment thresholds."""
    from sentiflow_spark.queries.curation_delta import admit_batch

    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 7)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(9)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    docs_df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs_df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    batches = [
        docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi))
        for lo, hi in ((0, 3), (3, 6), (6, 9))
    ]

    replayed = f"{tmp_path}/state_replayed"
    admit_batch(spark, batches[0], docs, replayed, gen=0)
    admit_batch(spark, batches[1], docs, replayed, gen=1)
    admit_batch(spark, batches[1], docs, replayed, gen=1)  # full replay
    admit_batch(spark, batches[2], docs, replayed, gen=2)

    clean = f"{tmp_path}/state_clean"
    for g, b in enumerate(batches):
        admit_batch(spark, b, docs, clean, gen=g)
    assert _canon(publish(spark, sf, replayed)) == _canon(
        publish(spark, sf, clean)
    )


def _cross_in_batch1_docs(spark, tmp_path):
    """Fixture where the Z-seg's holders are docs 1, 4, 5: batch 1
    ([3,6)) carries TWO holders, so the threshold crossing (1 -> 3
    distinct docs) is caused by batch 1 ITSELF — the adversarial case
    for same-generation replay, where the prior attempt's segdocs
    pairs would hand the batch's own docs back as 'stale'."""
    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 5)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(9)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")
    batches = [
        docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi))
        for lo, hi in ((0, 3), (3, 6), (6, 9))
    ]
    return docs, batches


def test_admit_batch_replay_with_own_crossing_converges(spark, tmp_path):
    """Same-generation replay of a batch whose OWN docs make a segment
    cross BP_MIN_DOCS: the prior attempt's segdocs pairs (segdocs is
    bucket-partitioned, never generation-purged) would otherwise
    return the batch's own delta docs as stale, double them in aff_n,
    and strip_with_boiler would emit duplicate feature rows for them
    within one generation, which publish's per-(doc, gen) latest-wins
    cannot resolve. The anti-join of the delta's doc_ids out of the
    stale set makes the replay exact."""
    from sentiflow_spark.queries.curation_delta import admit_batch

    docs, batches = _cross_in_batch1_docs(spark, tmp_path)
    sf = str(tmp_path)

    replayed = f"{tmp_path}/state_replayed"
    admit_batch(spark, batches[0], docs, replayed, gen=0)
    admit_batch(spark, batches[1], docs, replayed, gen=1)
    # full replay of the crossing batch under the SAME generation
    s = admit_batch(
        spark, batches[1], docs, replayed, gen=1, collect_stats=True
    )
    # the replay re-detects the crossing (its own _gen=1 counts were
    # purged) but must NOT hand its own docs 4/5 back as stale — only
    # prior-batch holder doc 1
    assert s["boiler_crossers"] >= 1
    assert s["stale_recomputed"] == 1
    admit_batch(spark, batches[2], docs, replayed, gen=2)

    clean = f"{tmp_path}/state_clean"
    for g, b in enumerate(batches):
        admit_batch(spark, b, docs, clean, gen=g)
    assert _canon(publish(spark, sf, replayed)) == _canon(
        publish(spark, sf, clean)
    )


def test_admit_batch_retry_after_segdocs_crash_converges(spark, tmp_path):
    """Crash-retry twin of the replay case: the batch died AFTER the
    segdocs append but BEFORE the features commit marker, and the
    batch itself causes the crossing — the retry sees its own pairs in
    segdocs and must not double-admit its docs via the stale branch."""
    import pyspark.sql.functions as SF

    from sentiflow_spark.operators.dedup import boiler_segments
    from sentiflow_spark.queries.curation_delta import (
        _append_bench_hashes,
        _append_seg_counts,
        _paths,
        _seg_bucket,
        admit_batch,
    )
    from sentiflow_spark.queries.curation_queries import nfc_norm_expr
    from sentiflow_spark.queries.dedup_queries import DECON_SPAN_MOD

    docs, batches = _cross_in_batch1_docs(spark, tmp_path)
    sf = str(tmp_path)

    crashed = f"{tmp_path}/state_crashed"
    admit_batch(spark, batches[0], docs, crashed)
    # simulate batch 1 dying after ALL pre-commit appends (bench
    # hashes, segment counts, segdocs) but before the features append
    p = _paths(crashed)
    delta_n = batches[1].select(
        "doc_id", "lang", nfc_norm_expr(SF.col("text")).alias("text")
    )
    is_bench = SF.col("doc_id") % DECON_SPAN_MOD == 0
    _append_bench_hashes(
        spark, delta_n.filter(is_bench).select("doc_id", "text"),
        p["bench_hashes"], 1,
    )
    pairs = (
        boiler_segments(delta_n.filter(~is_bench))
        .select("seg", "doc_id").distinct()
    )
    _append_seg_counts(spark, pairs, p["seg_counts"], 1)
    (
        pairs.withColumn("_bucket", _seg_bucket())
        .write.mode("append")
        .partitionBy("_bucket")
        .parquet(p["segdocs"])
    )
    # retry batch 1 for real, then batch 2
    admit_batch(spark, batches[1], docs, crashed)
    admit_batch(spark, batches[2], docs, crashed)

    clean = f"{tmp_path}/state_clean"
    for b in batches:
        admit_batch(spark, b, docs, clean)
    assert _canon(publish(spark, sf, crashed)) == _canon(
        publish(spark, sf, clean)
    )


def test_registered_query_state_reuse_is_sound(spark, sf_dir):
    """The registered queries share the managed standing state
    (_ensure_delta_state, gated by a _COMPLETE marker): a reusing run
    must equal a from-scratch rebuild — state is a deterministic
    function of (code version, corpus), which is what makes the reuse
    safe across a sweep."""
    reg = load_all()
    fn = reg["txt_curation_delta"].fn
    first = _canon(fn(spark, sf_dir))    # builds (or reuses) the state
    second = _canon(fn(spark, sf_dir))   # must hit the marker path
    assert first == second
    shutil.rmtree(_state_root(sf_dir), ignore_errors=True)
    rebuilt = _canon(fn(spark, sf_dir))  # full rebuild from empty
    assert rebuilt == first
    shutil.rmtree(_state_root(sf_dir), ignore_errors=True)


def test_horizon_compaction_retains_asof_history(spark, tmp_path):
    """Retention-horizon compaction (the Delta-VACUUM retention window
    applied to the LSM state): compact_state(horizon=1) collapses
    generations <= 1 into one base generation carrying id 1 and keeps
    later ones addressable — the full publish AND every as-of publish
    for retained G >= 1 are byte-unchanged, vacuumed generations
    refuse with the named error (from publish and from a lower
    re-compaction), and the generation sequence continues."""
    import os

    import pytest

    from sentiflow_spark.queries.curation_delta import (
        VacuumedGenerationError,
        _next_gen,
        _paths,
        admit_batch,
        compact_state,
    )

    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 7)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(12)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet")

    state = f"{tmp_path}/state"
    # gens 0,1,2 — the Z-seg crosses at gen 2 (holders 1,4,7), so the
    # retained history includes a stale-recompute supersede
    for lo, hi in ((0, 3), (3, 6), (6, 9)):
        admit_batch(
            spark, docs.filter((docs.doc_id >= lo) & (docs.doc_id < hi)),
            docs, state,
        )
    before_full = _canon(publish(spark, sf, state))
    before_a1 = _canon(publish(spark, sf, state, as_of_gen=1))
    before_a2 = _canon(publish(spark, sf, state, as_of_gen=2))

    counts = compact_state(spark, state, horizon=1)
    assert counts["features"] > 0 and counts["seg_counts"] > 0
    gens = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(_paths(state)["features"])
        if d.startswith("_gen=")
    )
    assert gens == [1, 2]  # 0+1 merged into the base, 2 retained

    assert _canon(publish(spark, sf, state)) == before_full
    assert _canon(publish(spark, sf, state, as_of_gen=1)) == before_a1
    assert _canon(publish(spark, sf, state, as_of_gen=2)) == before_a2
    with pytest.raises(VacuumedGenerationError):
        publish(spark, sf, state, as_of_gen=0)
    with pytest.raises(VacuumedGenerationError):
        compact_state(spark, state, horizon=0)

    # the sequence continues: a post-compaction batch admits at gen 3
    # and is immediately as-of addressable
    admit_batch(
        spark, docs.filter((docs.doc_id >= 9) & (docs.doc_id < 12)),
        docs, state,
    )
    assert _next_gen(_paths(state)["features"]) == 4
    assert _canon(publish(spark, sf, state, as_of_gen=3)) == _canon(
        publish(spark, sf, state)
    )


def test_admit_batch_concurrent_writer_fence(spark, tmp_path):
    """The generation allocator is a driver-side max+1 listing, so the
    state root is single-writer by fence: a second admit while a LIVE
    process holds the kernel flock raises ConcurrentWriterError
    (instead of allocating the same generation and interleaving
    appends the purge-on-retry could mix); the lock is RELEASED after
    a successful admit so the next writer proceeds; and the fenced
    runs converge to a clean state."""
    import os
    import subprocess
    import sys

    import pytest

    from sentiflow_spark.queries.curation_delta import (
        _LOCK_FILE,
        ConcurrentWriterError,
        admit_batch,
        compact_state,
    )

    docs, batches = _cross_in_batch1_docs(spark, tmp_path)
    state = f"{tmp_path}/state"
    admit_batch(spark, batches[0], docs, state)
    lock = os.path.join(state, _LOCK_FILE)

    # a LIVE holder (a real process holding the flock) blocks both
    # writer entry points
    holder = subprocess.Popen(
        [sys.executable, "-c", (
            "import fcntl, os, sys, time\n"
            "fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
            "print('locked', flush=True)\n"
            "time.sleep(60)\n"
        ), lock],
        stdout=subprocess.PIPE,
    )
    try:
        assert holder.stdout.readline().strip() == b"locked"
        with pytest.raises(ConcurrentWriterError):
            admit_batch(spark, batches[1], docs, state)
        with pytest.raises(ConcurrentWriterError):
            compact_state(spark, state)
    finally:
        holder.kill()
        holder.wait()
    # the holder's death released the kernel lock: no stale state, no
    # manual unlock — the next admit just proceeds
    admit_batch(spark, batches[1], docs, state)

    # the fenced runs still converge to a clean two-batch state
    clean = f"{tmp_path}/state_clean"
    for b in batches[:2]:
        admit_batch(spark, b, docs, clean)
    sf = str(tmp_path)
    assert _canon(publish(spark, sf, state)) == _canon(
        publish(spark, sf, clean)
    )

def test_release_diff_matches_definition(spark, sf_dir):
    """txt_release_diff equals its definition, Spark-vs-Spark on the
    standard corpus: 'added' is exactly the docs outside G1's batch
    universe, 'removed' is empty (the universe grows monotonically),
    and 'changed' is exactly the docs whose FULL disposition tuple
    (stage, split, seq_id, n_tokens, cut_chars — null-safe) differs
    between publish(as_of_gen=1) and the full publish; docs with
    identical tuples are not emitted."""
    from pyspark.sql import functions as F

    from sentiflow_spark.queries.curation_delta import (
        _DIFF_COLS,
        _ensure_delta_state,
    )

    reg = load_all()
    diff = {r["doc_id"]: r for r in reg["txt_release_diff"].fn(
        spark, sf_dir).collect()}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hi = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    bound = hi * 2 // 3
    added = {d for d, r in diff.items() if r["change"] == "added"}
    changed = {d for d, r in diff.items() if r["change"] == "changed"}
    assert added == set(range(bound, hi))
    assert all(r["stage_from"] is None for d, r in diff.items()
               if d in added)
    assert not any(r["change"] == "removed" for r in diff.values())
    assert changed and all(d < bound for d in changed)

    # recompute the definition directly from the two publishes
    root = _ensure_delta_state(spark, sf_dir)
    r1 = publish(spark, sf_dir, root, as_of_gen=1,
                 universe=docs.filter(F.col("doc_id") < bound))
    r2 = publish(spark, sf_dir, root)
    t1 = {r["doc_id"]: tuple(r[c] for c in _DIFF_COLS) for r in r1.collect()}
    t2 = {r["doc_id"]: tuple(r[c] for c in _DIFF_COLS) for r in r2.collect()}
    want_changed = {d for d in t1 if t1[d] != t2[d]}
    assert changed == want_changed


def test_auto_compact_rolling_window(spark, tmp_path):
    """The rolling LSM L0-trigger policy (auto_compact_gens=K): during
    ingestion the state never exceeds K+1 generation partitions, the
    final publish equals a never-compacted run (compaction is
    publish-preserving by construction — including when the trigger
    fires on the very batch that causes a threshold crossing), the
    newest K generations stay as-of addressable, and history below the
    rolling horizon refuses with the named error."""
    import os

    import pytest

    from sentiflow_spark.queries.curation_delta import (
        VacuumedGenerationError,
        _paths,
    )

    rows = [
        (i, ("Z" * 16 + f"h{i:02d}tail " * 6) if i in (1, 4, 7)
         else f"d{i:02d}word " * 8, "en", "t", 0)
        for i in range(9)
    ]
    rows = [(i, t, lg, s, len(t)) for (i, t, lg, s, _) in rows]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    sf = str(tmp_path)

    auto = f"{tmp_path}/state_auto"
    run_delta_batches(spark, sf, auto, n_batches=3, auto_compact_gens=1)
    plain = f"{tmp_path}/state_plain"
    run_delta_batches(spark, sf, plain, n_batches=3)

    gens = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(_paths(auto)["features"])
        if d.startswith("_gen=")
    )
    assert gens == [1, 2]  # base at the rolling horizon + newest K=1
    assert _canon(publish(spark, sf, auto)) == _canon(
        publish(spark, sf, plain)
    )
    assert _canon(publish(spark, sf, auto, as_of_gen=1)) == _canon(
        publish(spark, sf, plain, as_of_gen=1)
    )
    with pytest.raises(VacuumedGenerationError):
        publish(spark, sf, auto, as_of_gen=0)


def _state_snapshot(root):
    """Recursive (relpath, size) listing — byte-level 'state unchanged'
    evidence for refusal paths."""
    import os

    out = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out.append((os.path.relpath(p, root), os.path.getsize(p)))
    return sorted(out)


def test_admit_external_gen_refuses_below_horizon(spark, tmp_path):
    """The replay×compaction interaction (r11 verdict top item): a
    streaming batch K commits its features but not its source
    checkpoint, an operator compacts the state at a horizon >= K while
    the stream is down, and the restarted stream replays batch K. The
    external-gen purge would then DELETE the collapsed base partition
    (gen == horizon) or double-count segments under sum-at-read
    (gen < horizon) — admission must refuse with the named retention
    error BEFORE touching any store, leaving the state byte-identical,
    and generations above the horizon must keep admitting normally."""
    import pytest

    from sentiflow_spark.queries.curation_delta import (
        VacuumedGenerationError,
        admit_batch,
        compact_state,
    )

    docs, batches = _cross_in_batch1_docs(spark, tmp_path)
    sf = str(tmp_path)

    state = f"{tmp_path}/state"
    # streaming-style: gens pinned to batchIds 0 and 1; batch 1's
    # features COMMITTED (admit ran) but its checkpoint did not
    admit_batch(spark, batches[0], docs, state, gen=0)
    admit_batch(spark, batches[1], docs, state, gen=1)
    # operator compacts while the stream is down: horizon = 1 == K
    compact_state(spark, state, horizon=1)
    before_files = _state_snapshot(state)
    before_pub = _canon(publish(spark, sf, state))

    # replay of batch K == horizon would purge the collapsed base
    with pytest.raises(VacuumedGenerationError):
        admit_batch(spark, batches[1], docs, state, gen=1)
    # replay below the horizon would double-count under sum-at-read
    with pytest.raises(VacuumedGenerationError):
        admit_batch(spark, batches[0], docs, state, gen=0)
    assert _state_snapshot(state) == before_files  # byte-unchanged
    assert _canon(publish(spark, sf, state)) == before_pub

    # the stream restarted above the horizon continues normally and
    # converges to the never-compacted run
    admit_batch(spark, batches[2], docs, state, gen=2)
    clean = f"{tmp_path}/state_clean"
    for g, b in enumerate(batches):
        admit_batch(spark, b, docs, clean, gen=g)
    assert _canon(publish(spark, sf, state)) == _canon(
        publish(spark, sf, clean)
    )


def test_writer_fence_content_is_diagnostic(spark, tmp_path):
    """Mutual exclusion is the kernel flock, never the file content:
    while the fence is held the lock file records the holder's
    identity (pid + kernel start time) for the refusal message; a
    pre-existing EMPTY or GARBAGE lock file neither blocks nor
    confuses acquisition (the r11 TOCTOU class is structurally gone —
    contenders decide by the lock, not by parsing); and the lock file
    deliberately persists after release."""
    import os

    from sentiflow_spark.queries.curation_delta import (
        _LOCK_FILE,
        _proc_start,
        _writer_fence,
    )

    root = f"{tmp_path}/state"
    lock = os.path.join(root, _LOCK_FILE)

    with _writer_fence(root):
        with open(lock) as fh:
            fields = fh.read().split()
        assert fields[0] == "pid" and int(fields[1]) == os.getpid()
        assert fields[3] == (_proc_start(os.getpid()) or "-")
    assert os.path.exists(lock)  # persists by design (flock target)

    # empty and garbage content: acquisition is unaffected
    for junk in ("", "0", "not a pid at all \x00"):
        with open(lock, "w") as fh:
            fh.write(junk)
        with _writer_fence(root):
            pass


def test_writer_fence_crash_releases_lock(spark, tmp_path):
    """Crash recovery is the kernel's: a holder that dies without
    unlocking leaves its identity bytes in the file but NO lock — the
    next writer acquires immediately, no staleness heuristic, no
    manual unlink (the pid-reuse and two-stealers races of the
    hand-rolled designs cannot exist). A live holder's refusal names
    the recorded holder identity. Same-process re-entry also refuses
    (flock conflicts across separate opens even within one process)."""
    import os
    import subprocess
    import sys

    import pytest

    from sentiflow_spark.queries.curation_delta import (
        _LOCK_FILE,
        ConcurrentWriterError,
        _writer_fence,
    )

    root = f"{tmp_path}/state"
    os.makedirs(root)
    lock = os.path.join(root, _LOCK_FILE)

    # a holder that flocks, records identity, and DIES (no unlock)
    crashed = subprocess.run(
        [sys.executable, "-c", (
            "import fcntl, os, sys\n"
            "fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
            "os.write(fd, b'pid 999999 start 42')\n"
            "os._exit(0)\n"  # no close, no unlock: the crash case
        ), lock],
    )
    assert crashed.returncode == 0
    with _writer_fence(root):  # acquires immediately over the remains
        pass

    # same-process re-entry refuses with the recorded holder named
    with _writer_fence(root):
        with pytest.raises(ConcurrentWriterError) as exc:
            with _writer_fence(root):
                pass
        assert f"pid {os.getpid()}" in str(exc.value)


def test_streaming_replay_after_compaction_fails_loudly(spark, tmp_path):
    """End-to-end surfacing of the replay x compaction refusal through
    the REAL streaming path: a checkpointed stream whose foreachBatch
    pins gen=batchId (st_curation_delta's shape) is restarted with a
    fresh checkpoint — so batchId 0 re-delivers — against a state that
    was compacted at horizon 0 while the stream was down. The stream
    must FAIL with the named retention error surfaced through
    StreamingQueryException, and the state must be byte-unchanged —
    never silently corrupted."""
    import glob
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from sentiflow_spark.queries.curation_delta import (
        admit_batch,
        compact_state,
    )

    docs, batches = _cross_in_batch1_docs(spark, tmp_path)
    root = f"{tmp_path}/state"
    # the stream delivered batch 0 and its state committed...
    admit_batch(spark, batches[0], docs, root, gen=0)
    # ...then an operator compacted while the stream was down
    compact_state(spark, root, horizon=0)
    before = _state_snapshot(root)

    src = f"{tmp_path}/src"
    os.makedirs(src)
    part = f"{tmp_path}/part0"
    batches[0].coalesce(1).write.parquet(part)
    os.rename(glob.glob(f"{part}/part-*.parquet")[0], f"{src}/b0.parquet")
    schema = spark.read.parquet(src).schema

    def _admit(batch_df, batch_id):
        admit_batch(spark, batch_df, docs, root, gen=int(batch_id))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_admit)
        .option("checkpointLocation", f"{tmp_path}/ckpt_fresh")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException) as exc:
        q.awaitTermination()
    assert "VacuumedGenerationError" in str(exc.value)
    assert _state_snapshot(root) == before


def test_writer_fence_multiprocess_race(tmp_path):
    """The fence raced by REAL processes (the single-process tests
    above simulate contenders; this one buys the actual interleaving):
    six processes each take the fence five times, sleeping inside it
    and logging their (start, end) monotonic interval while holding
    it. Mutual exclusion means the 30 logged intervals are pairwise
    non-overlapping (CLOCK_MONOTONIC is system-wide on Linux); every
    process must finish its five acquisitions (stale-steal + retry
    liveness — no deadlock, no lost lock), exercising the atomic
    link-created lock under genuine concurrency."""
    import os
    import subprocess
    import sys

    root = str(tmp_path / "state")
    log = str(tmp_path / "intervals.txt")
    worker = r"""
import os, sys, time
root, log, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
from sentiflow_spark.queries.curation_delta import (
    ConcurrentWriterError, _writer_fence)
done = 0
deadline = time.monotonic() + 90
while done < n and time.monotonic() < deadline:
    try:
        with _writer_fence(root):
            t0 = time.monotonic()
            time.sleep(0.01)
            t1 = time.monotonic()
            with open(log, "a") as fh:
                fh.write(f"{os.getpid()} {t0} {t1}\n")
        done += 1
    except ConcurrentWriterError:
        time.sleep(0.005)
sys.exit(0 if done == n else 1)
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, root, log, "5"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        for _ in range(6)
    ]
    assert [p.wait(timeout=180) for p in procs] == [0] * 6
    ivals = []
    with open(log) as fh:
        for line in fh:
            pid, a, b = line.split()
            ivals.append((float(a), float(b), pid))
    assert len(ivals) == 30
    ivals.sort()
    for (a1, b1, p1), (a2, b2, p2) in zip(ivals, ivals[1:]):
        assert b1 <= a2, f"fence intervals overlap: pids {p1}/{p2}"

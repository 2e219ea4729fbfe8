"""Scaled-corpus benchmark helpers for the dedup/ANN surface.

The correctness gate runs these operators on the base ``documents`` /
``embeddings`` tables; this module provides the SCALING evidence — the
same operators on deterministic x4 / x16 corpora min-of-2 plus a
single-shot x64 extrapolation pin (exactly the factors ``bench.py``
executes and records, so the artifact and this doc agree), built so the
true-result size grows ~linearly with the factor. The sf0.1 base corpus
is itself 10x the sf0.01 one (5,000 docs in the round-5 testdata drop),
so the x16 point spans 80,000 docs and the x64 pin 320,000:

- Text copies get a per-copy SALT suffixed onto every word
  (``a b c`` -> ``ac7 bc7 cc7``). Word n-gram shingles keep exactly the
  base corpus's within-copy structure (so each copy contributes exactly
  the base pair set), while no shingle ever matches across copies —
  corpus xK means work and output exactly xK, not xK² (which a naive
  concat-of-identical-copies corpus would produce and which no dedup
  design could survive). A between-words salt token was tried first and
  rejected: it degrades 3-gram shingles into effective unigrams
  (``s1 the s1`` matches every doc containing "the"), blowing up LSH
  buckets ~35x at x4.
- Embedding copies are multiplied elementwise by a per-copy ±1 mask — an
  orthogonal transform, so within-copy cosines (and the base copy's
  ground truth) are bit-preserved while cross-copy cosines scatter and
  sign-LSH buckets diverge. Queries stay FIXED (the base copy's probe
  set): the realistic ANN scaling axis is corpus growth under a constant
  query load.

Near-linear wall-time across factors is the 100 TB claim made empirical:
every stage is blocking-key equi-join / groupBy with no all-pairs term.
The governance composite (``training_mixture``) rides the same exhibit —
its result is a fixed per-language rollup (constant rows), so for that
point the linearity signal is wall-time alone.

The scale pins (``tools/pin.py``) build on the same corpora and the same
two measurement helpers, ``_staged`` and ``_best_of``.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators import dedup as D
from big_data_elt_pipeline_spark.operators import similarity as S
from big_data_elt_pipeline_spark.sources.tpch import read_table

_ID_STRIDE = 10_000_000


def _sign_mask(copy: int, dim: int) -> list[float]:
    """Deterministic ±1 mask per copy — fixed LCG, engine-independent."""
    x = (copy + 1) * 0x9E3779B97F4A7C15
    out = []
    for _ in range(dim):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append(1.0 if (x >> 63) == 0 else -1.0)
    return out


def scaled_docs(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """xK corpus as ONE constant-size plan: a broadcast crossJoin against a
    K-row copy dimension, per-copy salt applied with a column-valued
    regexp replacement. The first cut built a K-way UNION of K separate
    scans — plan size grew with K, and since the dedup operators re-derive
    the corpus per consumer (deliberately uncached, see
    ``dedup.shingle_table``), Catalyst re-optimized and re-codegen'd a
    64-branch union several times per query: measured 84 s for minhash at
    x64 vs 7.5 s at x16 (11x for 4x the data) with the union form. Plan
    growth, not data growth — the crossJoin form keeps the plan O(1) in K.

    lang rides along untouched (harmless for the dedup consumers, needed
    by the governance-mixture scaling point)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    if factor == 1:
        return docs
    copies = spark.range(factor).select(F.col("id").alias("copy_k"))
    return docs.crossJoin(F.broadcast(copies)).select(
        (F.col("doc_id") + F.col("copy_k") * F.lit(_ID_STRIDE)).alias("doc_id"),
        F.col("lang"),
        F.when(F.col("copy_k") == 0, F.col("text"))  # base copy bit-preserved
        .otherwise(
            F.regexp_replace(
                F.col("text"), F.lit(r"(\S+)"),
                F.concat(F.lit("$1c"), F.col("copy_k").cast("string")),
            )
        )
        .alias("text"),
    )


def scaled_embeddings(spark: SparkSession, sf_dir: str, factor: int, dim: int = 64) -> DataFrame:
    """Same constant-plan-size construction as ``scaled_docs``: the K
    per-copy ±1 masks become a K-row broadcast dimension carrying the mask
    ARRAY (copy 0 gets the all-ones mask, so the base copy's ground truth
    is bit-preserved), instead of K union branches each with its own
    literal array."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if factor == 1:
        return emb
    masks = [(k, [1.0] * dim if k == 0 else _sign_mask(k, dim)) for k in range(factor)]
    copies = emb.sparkSession.createDataFrame(masks, "copy_k long, mask array<double>")
    return emb.crossJoin(F.broadcast(copies)).select(
        (F.col("vec_id") + F.col("copy_k") * F.lit(_ID_STRIDE)).alias("vec_id"),
        F.zip_with("embedding", "mask", lambda a, b: (a * b).cast("float")).alias(
            "embedding"
        ),
    )


def _staged(spark: SparkSession, frame: DataFrame, root: str, name: str) -> DataFrame:
    """MATERIALIZE ``frame`` as parquet under ``root/name`` and read it back
    (setup, untimed). A stored corpus is the realistic shape — real dedup
    reads parquet, it does not re-synthesize its input per stage — and a
    derived corpus charged multi-pass operators Kx corpus construction.
    repartition(32): the scaled frames inherit 1-2 input splits from the
    tiny base tables, and a 1-2-file stage runs the timed passes nearly
    single-core."""
    path = f"{root}/{name}"
    frame.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _best_of(fn, reps: int) -> tuple[float, object]:
    """(seconds, rows): the fastest of ``reps`` timed calls of ``fn`` and
    what that call returned (a row count for every caller but the
    hot-key exhibit)."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        rows = fn()
        dt = time.perf_counter() - t0
        if best is None or dt < best[0]:
            best = (dt, rows)
    return best


def hotkey_survivor_exhibit(spark: SparkSession, n_rows: int = 32_000_000,
                            hot_every: int = 1000) -> dict[str, float]:
    """Skew exhibit for the r8 survivor-selection fix (r7 verdict #1): a
    synthetic window relation where ONE hash carries 99.9% of the rows
    (~32M at the defaults — the web-boilerplate shape) amid a small
    unique-hash background, run through BOTH survivor-selection forms on
    the identical input (equivalence is pytest-pinned in
    test_dedup_skew.py). The background is deliberately small in DISTINCT
    count: a large unique background makes the final aggregate itself an
    AQE-coalesced narrow stage (small-data coalescing, not hot-key skew)
    and muddies the signal being exhibited.

    The claim under test is STRUCTURAL — "the hot-key corpus no longer
    serializes into one task" — so alongside wall-clock the exhibit
    SAMPLES the status tracker's active-task count during each run and
    reports the run's mean concurrency. The rejected rank-1 window form
    must sort every occurrence of the hot hash inside one unsplittable
    task (mean concurrency collapses toward 1 — on a 1000-executor
    cluster that task IS the job's wall-clock and its memory ceiling);
    the shipped min-struct aggregate form collapses the hot key map-side
    via partial aggregation and joins survivors back (broadcast here,
    AQE-skew-splittable SMJ at cluster scale), keeping every stage wide.
    Wall-clock on local[32] under-sells the gap — a single in-memory
    sort of the hot partition is cheap when the whole corpus fits in one
    JVM — which is exactly why the concurrency signal is recorded.
    min-of-2 after an untimed warm-up, like every other scale point."""
    wins = spark.range(n_rows).select(
        F.floor(F.col("id") / F.lit(100)).cast("long").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(100)).cast("long").alias("off"),
        F.when(F.pmod(F.col("id"), F.lit(hot_every)) != 0, F.lit(42))
        .otherwise(F.col("id") + F.lit(1000))
        .cast("long")
        .alias("h"),
    )
    tracker = spark.sparkContext.statusTracker()

    def _sampled_count(fn) -> tuple[int, list[int]]:
        """fn(wins).count() with the active-task count sampled every 50 ms;
        returns the count and the non-idle samples."""
        samples: list[int] = []
        stop = threading.Event()

        def _sampler() -> None:
            while not stop.is_set():
                active = 0
                for sid in tracker.getActiveStageIds():
                    info = tracker.getStageInfo(sid)
                    if info is not None:
                        active += info.numActiveTasks
                samples.append(active)
                stop.wait(0.05)  # wakes at once on stop: join stays ~free

        th = threading.Thread(target=_sampler, daemon=True)
        th.start()
        n = fn(wins).count()
        stop.set()
        th.join()
        return n, [x for x in samples if x > 0]

    out: dict[str, float] = {}
    forms = (
        ("agg", D._non_survivor_windows),
        ("window", D._non_survivor_windows_window_form),
    )
    for key, fn in forms:
        fn(wins).count()  # untimed warm-up: codegen off the clock
        best, (n, busy) = _best_of(lambda: _sampled_count(fn), 2)
        mean = (sum(busy) / len(busy)) if busy else 0.0
        out[f"hotkey_{key}_s"] = round(best, 4)
        out[f"hotkey_{key}_rows"] = float(n)
        out[f"hotkey_{key}_avg_active_tasks"] = round(mean, 1)
        # dwell time with <=2 running tasks: the straggler signature — a
        # wide plan only touches it at stage boundaries
        out[f"hotkey_{key}_serialized_s"] = round(
            0.05 * sum(1 for x in busy if x <= 2), 2)
    return out


def run_scaled(
    spark: SparkSession, sf_dir: str, factors: tuple[int, ...] = (1, 4, 16),
    single_shot: tuple[int, ...] = (),
    progress=None,
    session_factory=None,
    should_run=None,
) -> tuple[dict[str, float], SparkSession]:
    """Time dedup_minhash / dedup_ngram_jaccard / dedup_winnow /
    dedup_clusters / ann_lsh_topk / training_mixture at each
    corpus factor, min-of-2 per point — single shots on this host showed
    2x swings (the same phantom the round-3 pipeline bench shipped), and
    a noisy point would distort the linearity trend this exhibit exists
    to demonstrate. Also records result rows so linear OUTPUT growth is
    auditable next to wall-time.

    Before the first timed factor, every operator runs ONCE untimed at
    that factor: the r05 artifact charged whole-stage codegen compilation
    and parquet-footer reads to the x1 points, inverting the trend
    (x1=18.9 s vs x4=6.7 s for minhash). Warm-up makes the x1 column a
    steady-state measurement like the others.

    ``single_shot`` factors (the x64 extrapolation pin) run once, no
    min-of-2 — they exist to bound the curve, not to be quotable to 2
    decimals, and a second ~3-minute pass would double the bench tail for
    no trend information.

    ``session_factory`` (no-arg -> SparkSession): when provided, each
    single-shot factor gets a FRESH session. Measured necessity: by x64
    the scale session has executed ~28 prior runs and its accumulated
    JVM/block-manager state swings the single-shot 2-4x run-to-run —
    identical ngram-x64 code measured 293 / 374 / 669 s across three
    in-suite bench runs vs 155 s reproducible on a dedicated session.
    The x1-x16 min-of-2 points stay on the shared session (they damp
    noise by repetition and their state burden is small). Each swapped-in
    session gets an untimed corpus-count warm-up before its timed shot
    (codegen + parquet footers off the clock — the same cold-session
    artifact the first-factor warm-up removes from the x1 column).

    OWNERSHIP: when ``session_factory`` fires, the caller's session is
    STOPPED and replaced; the active session is therefore RETURNED
    alongside the timings — callers must rebind
    (``out, spark = run_scaled(spark, ...)``), never keep using the
    session they passed in.

    ``should_run`` (factor -> bool, optional): consulted immediately
    before each factor's corpus materialization — the bench deadline
    budget's shed hook (r8 verdict #1: expensive trailing factors drop
    first when wall-clock runs short; a skipped factor simply has no
    ``scale_*_x{f}`` keys in the result)."""
    from big_data_elt_pipeline_spark.plans.curation_queries import (
        governance_mixture,
    )

    out: dict[str, float] = {}
    stage_root = tempfile.mkdtemp(prefix="scale_corpus_")
    warmed = False
    for factor in tuple(factors) + tuple(single_shot):
        if should_run is not None and not should_run(factor):
            continue
        one_shot = factor in single_shot
        fresh_session = one_shot and session_factory is not None
        if fresh_session:
            spark.stop()
            spark = session_factory()
        docs = _staged(spark, scaled_docs(spark, sf_dir, factor), stage_root,
                       f"docs_x{factor}")
        emb = _staged(spark, scaled_embeddings(spark, sf_dir, factor),
                      stage_root, f"emb_x{factor}")
        queries = emb.filter(F.col("vec_id") < 64)  # base copy only: fixed probes
        if fresh_session:
            # untimed warm-up on the swapped-in session: without it the
            # single-shot is measured fully cold (session startup, codegen
            # compilation, parquet footers) — the exact artifact that
            # inverted the r05 x1 points
            docs.count()
            emb.count()

        runs = {
            "dedup_minhash": lambda: D.minhash_dedup(docs),
            # x64 runs the range-partitioned candidate passes (R=4): the
            # unsplit join is allocator-bound at 27M shingles in one JVM
            # (measured 205 s -> 155 s; R=8 and a checkpointed prefix both
            # measured WORSE — numbers in the operator's comment)
            "dedup_ngram_jaccard": lambda: D.ngram_jaccard_dedup(
                docs, candidate_passes=4 if factor >= 64 else 1
            ),
            "dedup_winnow": lambda: D.winnow_neardup(docs, threshold=0.4),
            # per-copy word salt => no window ever matches across copies:
            # repeated spans (and the window shuffle) grow exactly xK
            "dedup_substrings": lambda: D.substring_dedup(docs),
            # pairs -> components: the salted copies keep each base pair
            # inside its copy, so cluster count grows ~linearly too
            "dedup_clusters": lambda: D.neardup_clusters(
                D.minhash_dedup(docs).select("id1", "id2")
            ),
            "ann_lsh_topk": lambda: S.lsh_topk(emb, queries, k=5, n_bits=8),
            "training_mixture": lambda: governance_mixture(docs),
        }
        # every run frees whatever checkpoint blocks it pinned once its
        # count is materialized (the cluster-resolution runs keep their
        # final labels checkpoint alive otherwise — across the ~40 runs of
        # this exhibit the accumulation measurably slowed later factors)
        jsc = spark.sparkContext._jsc

        def _pinned() -> set:
            return set(jsc.getPersistentRDDs().keySet().toArray())

        for name, fn in runs.items():
            base_ids = _pinned()
            if not warmed:
                fn().count()  # untimed warm-up: codegen + footers off the clock
            best, n = _best_of(lambda: fn().count(), 1 if one_shot else 2)
            reg = jsc.getPersistentRDDs()
            for rid in _pinned() - base_ids:
                rdd = reg.get(rid)
                if rdd is not None:
                    rdd.unpersist(False)
            out[f"scale_{name}_x{factor}"] = round(best, 4)
            out[f"scale_{name}_x{factor}_rows"] = float(n)
            if progress is not None:
                progress(f"scale_{name}_x{factor}", out[f"scale_{name}_x{factor}"])
        warmed = True
        shutil.rmtree(f"{stage_root}/docs_x{factor}", ignore_errors=True)
        shutil.rmtree(f"{stage_root}/emb_x{factor}", ignore_errors=True)
    shutil.rmtree(stage_root, ignore_errors=True)
    return out, spark

"""ANN family contracts: IVF, SQ8, centred sign buckets (LSH), kNN graph,
PQ/ADC, IVF-PQ and MMR — semantics the SQL oracles can't pin (recall
floors, determinism, partitioning invariance, candidate provenance,
bucket occupancy). All tests share one cached ``emb`` fixture."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators import similarity as SIM
from big_data_elt_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk
from big_data_elt_pipeline_spark.sources.tpch import read_table
from tests.conftest import SF_SMOKE

N_BITS = 4


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def shifted(spark, emb):
    """All-positive-shifted twin: +2.0 on every component (unit vectors
    have |x| <= 1, so every raw sign bit saturates to 1) — the realistic
    failure mode of production embedding models, amplified to make the
    uncentered degeneracy EXACT rather than merely likely."""
    return emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x.cast("double") + F.lit(2.0)).cast("float")
        ).alias("embedding"),
    ).cache()


# --------------------------------------------------------------------------
# IVF (pyspark.ml k-means quantizer)
# --------------------------------------------------------------------------

def test_ivf_recall_and_determinism(spark, emb):
    q = emb.filter(F.col("vec_id") < 20)
    bf = brute_force_topk(emb, q, k=5).toPandas()
    ivf = ivf_topk(emb, q, k=5, n_cells=16, n_probe=4).toPandas()
    recall = bf.merge(ivf, on=["query_id", "vec_id"]).shape[0] / len(bf)
    assert recall >= 0.3  # random unit vectors: weak structure, modest floor
    ivf2 = ivf_topk(emb, q, k=5, n_cells=16, n_probe=4).toPandas()
    key = ["query_id", "rank"]
    assert ivf.sort_values(key).reset_index(drop=True).equals(
        ivf2.sort_values(key).reset_index(drop=True)
    )


def test_ivf_probes_fraction_of_corpus(spark, emb):
    """The candidate set is a fraction of the corpus (the point of IVF)."""
    q = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, q, k=5, n_cells=16, n_probe=2)
    # with 2/16 cells probed, every query still fills its top-5
    pdf = out.toPandas()
    assert (pdf.groupby("query_id")["rank"].max() == 5).all()


# --------------------------------------------------------------------------
# SQ8 scalar-quantized ANN
# --------------------------------------------------------------------------

def test_sq8_codes_in_range(spark, emb):
    stats = SIM.sq8_train(emb)
    coded = emb.crossJoin(F.broadcast(stats)).select(
        SIM.sq8_encode(F.col("embedding"), F.col("mns"), F.col("scs")).alias("code")
    )
    bad = coded.select(
        F.exists("code", lambda c: (c < 0) | (c > 127)).alias("bad")
    ).filter("bad")
    assert bad.count() == 0


def test_sq8_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in SIM.sq8_topk(emb, queries, k=5, overfetch=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 7-bit quantization at d=64 keeps candidate ordering almost exact;
    # the rerank then restores exact cosines — recall should be near 1
    assert recall >= 0.9, recall


def test_sq8_partitioning_invariance(spark, emb):
    queries = emb.filter(F.col("vec_id") < 8)
    a = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in SIM.sq8_topk(emb, queries, k=5).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in SIM.sq8_topk(emb.repartition(7), queries, k=5).collect()
    )
    assert a == b


def test_sq8_answers_queries_outside_the_corpus(spark, emb):
    """The first pass quantizes the queries' OWN vectors with the corpus
    stats: corpus vectors re-keyed to ids outside the corpus still get k
    rows each, and rank 1 is the source vector (cosine 1 with itself)."""
    off = 1_000_000
    queries = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding"
    )
    rows = SIM.sq8_topk(emb, queries, k=5).collect()
    assert Counter(r.query_id for r in rows) == {off + i: 5 for i in range(8)}
    top = {r.query_id: r.vec_id for r in rows if r.rank == 1}
    assert top == {off + i: i for i in range(8)}


# --------------------------------------------------------------------------
# centred sign buckets (the lsh_topk / knn_graph / embedding_neardup bucketer)
# --------------------------------------------------------------------------

def _bucket_hist(df, means=None):
    mu = F.broadcast(SIM.component_means(df, N_BITS)) if means else None
    src = df.crossJoin(mu) if means else df
    m = F.col("__mus") if means else None
    rows = (
        src.select(SIM.sign_bucket(F.col("embedding"), N_BITS, m).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    return {r.b: r["count"] for r in rows}


def test_uncentered_buckets_degenerate_on_shifted_corpus(spark, shifted):
    # the r8-verdict pathology, pinned: every vector lands in the all-ones
    # bucket, so the bucket self-join IS the cross join
    hist = _bucket_hist(shifted)
    n = shifted.count()
    assert hist == {(1 << N_BITS) - 1: n}


def test_centered_buckets_rebalance_shifted_corpus(spark, shifted):
    # center-before-bucket splits each dimension ~half/half: max occupancy
    # collapses from n to well under n/4 (observed 40/500 at 4 bits),
    # bounding the self-join's sum of squared bucket sizes
    hist = _bucket_hist(shifted, means=True)
    n = shifted.count()
    assert max(hist.values()) <= n / 4
    assert len(hist) >= (1 << N_BITS) // 2  # most buckets actually occupied


def test_centered_buckets_shift_invariant(spark, emb, shifted):
    # exact law: (x + c) - mean(x + c) == x - mean(x), so centered bucket
    # ids are IDENTICAL on the original and the shifted corpus — centering
    # removes the shift axis entirely, not just approximately
    def ids(df):
        mu = F.broadcast(SIM.component_means(df, N_BITS))
        return {
            r.vec_id: r.b
            for r in df.crossJoin(mu)
            .select(
                "vec_id",
                SIM.sign_bucket(
                    F.col("embedding"), N_BITS, F.col("__mus")
                ).alias("b"),
            )
            .collect()
        }

    assert ids(emb) == ids(shifted)


# --------------------------------------------------------------------------
# kNN graph
# --------------------------------------------------------------------------

def test_knn_graph_laws(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import knn_graph

    edges = knn_graph(emb, k=5, n_bits=4).collect()
    eset = {(r.src, r.dst) for r in edges}
    for r in edges:
        assert 1 <= r.rank <= 5
        # mutual flag law: flagged iff the reversed directed edge exists
        assert r.mutual == ((r.dst, r.src) in eset), (r.src, r.dst)
    # asymmetry exists at this bucket width (otherwise the flag is vacuous)
    assert any(not r.mutual for r in edges)
    assert any(r.mutual for r in edges)
    # per-src uniqueness of ranks
    seen = {}
    for r in edges:
        assert (r.src, r.rank) not in seen
        seen[(r.src, r.rank)] = r.dst


def test_knn_graph_candidates_share_bucket(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import (
        component_means,
        knn_graph,
        sign_bucket,
    )
    from pyspark.sql import functions as F

    # knn_graph buckets are CENTERED on the corpus per-dim means
    mu = F.broadcast(component_means(emb, 4))
    buckets = {
        r.vec_id: r.b
        for r in emb.crossJoin(mu)
        .select(
            "vec_id",
            sign_bucket(F.col("embedding"), 4, F.col("__mus")).alias("b"),
        )
        .collect()
    }
    for r in knn_graph(emb, k=3, n_bits=4).collect():
        assert buckets[r.src] == buckets[r.dst]


def test_knn_semantic_clusters_vs_union_find(spark, emb):
    from big_data_elt_pipeline_spark.operators.dedup import neardup_clusters
    from big_data_elt_pipeline_spark.operators.similarity import knn_graph

    g = knn_graph(emb, k=5, n_bits=4)
    pairs = [
        (r.src, r.dst)
        for r in g.filter(F.col("mutual") & (F.col("src") < F.col("dst"))).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in pairs:
        for x in (a, b):
            expected[x] = find(x)
    edges_df = spark.createDataFrame(pairs, "id1 long, id2 long")
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(edges_df).collect()}
    assert got == expected


def test_centered_knn_recall_unchanged_by_shift(spark, emb, shifted):
    # recall vs brute force is a property of the corpus GEOMETRY; the
    # centered algorithm sees the same geometry before and after the shift
    # (observed 0.130 vs 0.126 at 4 bits — the small residual is cosine
    # itself changing under translation, not the bucketing)
    def recall(df):
        got = {(r.src, r.dst) for r in SIM.knn_graph(df, k=5, n_bits=N_BITS).collect()}
        truth = {
            (r.query_id, r.vec_id)
            for r in SIM.brute_force_topk(df, df, k=5).collect()
        }
        return len(got & truth) / len(truth)

    r_orig, r_shift = recall(emb), recall(shifted)
    assert abs(r_orig - r_shift) <= 0.05
    assert r_shift >= 0.1  # bucket-limited by contract, but never degenerate


def test_knn_graph_auto_equals_explicit_derived(spark, emb):
    """knn_graph() with the auto default is the SAME relation as passing
    the derived width explicitly — auto is a default, not a new algorithm."""
    from big_data_elt_pipeline_spark.operators import similarity as S

    bits = S.derive_bits(emb, S.KNN_TARGET_BUCKET_ROWS)
    auto = {tuple(r) for r in S.knn_graph(emb, k=3).collect()}
    explicit = {tuple(r) for r in S.knn_graph(emb, k=3, n_bits=bits).collect()}
    assert auto == explicit and len(auto) > 0


# --------------------------------------------------------------------------
# PQ/ADC ANN (Jégou et al. 2011)
# --------------------------------------------------------------------------

def test_pq_codes_domain_and_determinism(spark, emb):
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    books = S.pq_codebooks(emb, 16)
    cids = {c["cid"] for c in books.head()["__cents"]}
    assert len(cids) == 16
    codes = S.pq_encode(emb, books, m=8, dsub=8).collect()
    n = emb.count()
    assert len(codes) == n * 8  # one code per (vector, subspace)
    assert {r["j"] for r in codes} == set(range(8))
    assert {r["code"] for r in codes} <= cids  # codes come from the codebook
    # a sampled codebook vector's own best code in every subspace is itself
    by = {}
    for r in codes:
        by.setdefault(r["vec_id"], {})[r["j"]] = r["code"]
    for cid in cids:
        assert all(code == cid for code in by[cid].values()), (cid, by[cid])
    # deterministic re-evaluation
    again = S.pq_encode(emb, books, m=8, dsub=8).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))


def test_pq_topk_beats_random_recall(spark, emb):
    """ADC over 8-byte codes must preserve real neighborhood structure:
    recall@5 vs exact L2 brute force well above the ~1% random baseline."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    queries = emb.filter(F.col("vec_id") < 16)
    pq = S.pq_topk(emb, queries, k=5)
    got = {(r["query_id"], r["vec_id"]) for r in pq.collect()}
    # exact L2 truth via the cosine brute force won't do — compute L2 here
    import numpy as np

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    truth = set()
    for q in range(16):
        qi = np.where(ids == q)[0][0]
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        for j in np.argsort(d, kind="stable")[:5]:
            truth.add((q, int(ids[j])))
    recall = len(got & truth) / len(truth)
    # measured 0.1375 on this fixture — the synthetic near-uniform
    # embeddings are PQ's worst case (no cluster structure for 16 sampled
    # codebook entries to exploit); the floor asserts structure survives
    # quantization: random top-5 would score 5/499 ~ 1%
    assert recall >= 0.05, recall
    # every query produced exactly k ranked rows
    from collections import Counter

    per = Counter(q for q, _ in got)
    assert all(v == 5 for v in per.values()) and len(per) == 16


# --------------------------------------------------------------------------
# ivfpq_topk: IVF cell pruning x PQ/ADC scan
# --------------------------------------------------------------------------

def test_ivfpq_candidates_come_from_probed_cells(spark, emb):
    """The pruning contract: every returned neighbor lives in one of the
    query's n_probe nearest cells (assignment replicated in numpy from the
    same deterministic centroid pick)."""
    import numpy as np
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    queries = emb.filter(F.col("vec_id") < 16)
    out = S.ivfpq_topk(emb, queries, k=5, n_cells=16, n_probe=4).collect()

    cents = S.fixed_centroid_cells(emb, 16).head()["__cents"]
    cell_ids = np.array([c["cell"] for c in cents])
    C = np.array([c["cvec"] for c in cents], dtype=np.float64)
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cos = (X @ C.T) / (
        np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    # ties to the lowest cell id: argsort on (-cos, cell_id)
    order = np.lexsort((cell_ids[None, :].repeat(len(X), 0), -cos), axis=1)
    assigned = {int(ids[i]): int(cell_ids[order[i, 0]]) for i in range(len(X))}
    probes = {
        int(ids[i]): {int(cell_ids[j]) for j in order[i, :4]}
        for i in range(len(X))
        if ids[i] < 16
    }
    for r in out:
        assert assigned[r["vec_id"]] in probes[r["query_id"]], (
            r["query_id"], r["vec_id"], assigned[r["vec_id"]],
        )


def test_ivfpq_agrees_with_pq_on_shared_pairs(spark, emb):
    """Same ADC metric on both sides: any (query, neighbor) pair appearing
    in both the pruned and the full-scan top-5 carries the identical
    decimal-snapped distance; per query the pruned result holds exactly k
    ranked rows 1..k and is deterministic across runs."""
    from collections import Counter

    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    queries = emb.filter(F.col("vec_id") < 16)
    ivfpq = S.ivfpq_topk(emb, queries, k=5).collect()
    pq = S.pq_topk(emb, queries, k=5).collect()

    per = Counter(r["query_id"] for r in ivfpq)
    assert len(per) == 16 and all(v == 5 for v in per.values())
    ranks = {(r["query_id"], r["rank"]) for r in ivfpq}
    assert len(ranks) == 80  # ranks are dense 1..5 per query

    full = {(r["query_id"], r["vec_id"]): r["adc_l2sq"] for r in pq}
    shared = 0
    for r in ivfpq:
        key = (r["query_id"], r["vec_id"])
        if key in full:
            shared += 1
            assert r["adc_l2sq"] == full[key], key
    assert shared > 0  # the prune keeps some true ADC winners

    again = S.ivfpq_topk(emb, queries, k=5).collect()
    assert sorted(map(tuple, ivfpq)) == sorted(map(tuple, again))


def test_ivfpq_auto_equals_explicit_derived(spark, emb):
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    q = emb.filter(F.col("vec_id") < 8)
    cells = S.derive_cells(emb)
    auto = {tuple(r) for r in S.ivfpq_topk(emb, q, k=5).collect()}
    explicit = {tuple(r) for r in S.ivfpq_topk(emb, q, k=5, n_cells=cells).collect()}
    assert auto == explicit and len(auto) == 40


# --------------------------------------------------------------------------
# mmr_rerank: diversified top-k
# --------------------------------------------------------------------------

def test_mmr_first_pick_is_relevance_argmax_and_ranks_dense(spark, emb):
    from collections import Counter

    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    queries = emb.filter(F.col("vec_id") < 4)
    out = S.mmr_rerank(emb, queries, k=5, n_cand=20).collect()

    per = Counter(r["query_id"] for r in out)
    assert len(per) == 4 and all(v == 5 for v in per.values())
    for q in per:
        picks = sorted(
            (r for r in out if r["query_id"] == q), key=lambda r: r["mmr_rank"]
        )
        assert [r["mmr_rank"] for r in picks] == [1, 2, 3, 4, 5]
        assert len({r["vec_id"] for r in picks}) == 5  # no repeats
        assert picks[0]["max_sim"] == 0.0
        # rank 1 is the plain relevance argmax
        assert picks[0]["relevance"] == max(r["relevance"] for r in picks)

    bf = S.brute_force_topk(emb, queries, k=1).collect()
    top1 = {(r["query_id"], r["vec_id"]) for r in bf}
    got1 = {(r["query_id"], r["vec_id"]) for r in out if r["mmr_rank"] == 1}
    assert got1 == top1


def test_mmr_accepts_ann_candidate_front_end(spark, emb):
    """The r12 ``candidates`` hook: reranking an LSH candidate relation
    picks only from those candidates, and with the default brute-force
    candidates the explicit pass-through equals the built-in path."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    queries = emb.filter(F.col("vec_id") < 4)

    ann = S.lsh_topk(emb, queries, k=10)
    out = S.mmr_rerank(emb, queries, k=3, candidates=ann).collect()
    cand_pairs = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    assert out and all((r["query_id"], r["vec_id"]) in cand_pairs for r in out)

    bf = S.brute_force_topk(emb, queries, 20)
    explicit = S.mmr_rerank(emb, queries, k=5, candidates=bf).collect()
    builtin = S.mmr_rerank(emb, queries, k=5, n_cand=20).collect()
    assert sorted(map(tuple, explicit)) == sorted(map(tuple, builtin))


def test_mmr_skips_near_duplicate_of_first_pick(spark):
    """The property MMR exists for: a candidate nearly identical to the
    first selection loses rank 2 to a more distant one even though plain
    relevance would rank it second."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    # query 100 along e1; doc 2 is the plain-relevance runner-up but a
    # near-duplicate of first-pick doc 1 (cos ~ 0.99998); doc 3 is a hair
    # less relevant but angularly distant from doc 1 (cos ~ 0.9756)
    rows = [
        (100, [1.0, 0.0, 0.0]),
        (1, [0.92, 0.1, 0.0]),
        (2, [0.91, 0.1, 0.0]),
        (3, [0.9, -0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = df.filter(F.col("vec_id") == 100)
    # plain relevance would rank doc 2 second...
    bf = S.brute_force_topk(df, q, k=3).collect()
    assert [r["vec_id"] for r in sorted(bf, key=lambda r: r["rank"])] == [1, 2, 3]
    # ...MMR flips 2 and 3
    out = S.mmr_rerank(df, q, k=3, n_cand=3, lam=0.5).collect()
    by_rank = {r["mmr_rank"]: r["vec_id"] for r in out}
    assert by_rank == {1: 1, 2: 3, 3: 2}, by_rank


def test_mmr_round_layouts_are_answer_identical(spark, emb):
    """The adaptive per-query round layout (the default — rounds run one
    task per core) and the forced serial ``round_partitions=1`` layout
    return the SAME rows: partitioning never reorders the per-query
    windows, which carry explicit tie-breaks (the BENCH_r13 mmr fix's
    correctness pin)."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import similarity as S

    queries = emb.filter(F.col("vec_id") < 6)
    adaptive = S.mmr_rerank(emb, queries, k=5, n_cand=20).collect()
    serial = S.mmr_rerank(
        emb, queries, k=5, n_cand=20, round_partitions=1
    ).collect()
    wide = S.mmr_rerank(
        emb, queries, k=5, n_cand=20, round_partitions=7
    ).collect()
    assert sorted(map(tuple, adaptive)) == sorted(map(tuple, serial))
    assert sorted(map(tuple, adaptive)) == sorted(map(tuple, wide))


"""Round-9 operator contracts: the BPE pair-space-exhaustion guard,
ranking and vocabulary evaluation, source mixtures and grouped
percentiles. Semantics the SQL oracles can't pin: loop convergence,
bounds, hand cases. The centred sign-bucketing contracts live in
tests/test_ann.py."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.sources.tpch import read_table
from tests.conftest import SF_SMOKE


def test_bpe_train_survives_pair_space_exhaustion(spark):
    # a corpus whose vocabulary fully merges in 3 rounds: requesting 50
    # must return the converged 3-round table, not an empty relation
    # (r8 ADVICE: an empty winner crossJoin-wiped the symbol state)
    from big_data_elt_pipeline_spark.operators.tokenizer import (
        bpe_train_state,
    )

    docs = spark.createDataFrame([("ab",), ("ab",), ("ab",)], "text string")
    merges, syms = bpe_train_state(docs, rounds=50)
    rows = merges.collect()
    assert 1 <= len(rows) <= 4
    assert [r.merge_round for r in rows] == list(range(1, len(rows) + 1))
    # the converged state survives: one fully-merged symbol per word
    state = syms.collect()
    assert len(state) == 1 and state[0].sym == "ab</w>"


# ------------------------------------------------------------- second wave


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_SMOKE, "documents").cache()


def test_perplexity_buckets_partition_laws(spark, docs):
    from big_data_elt_pipeline_spark.operators.quality import (
        perplexity_buckets,
    )

    rows = {r.bucket: r for r in perplexity_buckets(docs).collect()}
    assert set(rows) == {"1_head", "2_middle", "3_tail"}
    n = docs.count()
    # buckets partition the corpus into near-equal thirds (ties at the
    # exact tertile thresholds can shift a few docs across the cut)
    assert sum(r.n_docs for r in rows.values()) == n
    for r in rows.values():
        assert abs(r.n_docs - n / 3) <= max(5, 0.05 * n)
        assert abs(r.share - r.n_docs / n) < 1e-12
    # head is the most fluent (lowest mean nll), tail the least
    assert rows["1_head"].mean_nll < rows["2_middle"].mean_nll
    assert rows["2_middle"].mean_nll < rows["3_tail"].mean_nll


def test_ranking_eval_hand_case(spark):
    from big_data_elt_pipeline_spark.operators.retrieval import ranking_eval

    # 4 docs; query 'cat dog': docs 1,2 contain both (relevant), 3 only
    # 'cat', 4 neither. BM25 ranks by the shared rare terms.
    docs = spark.createDataFrame(
        [
            (1, "cat dog house"),
            (2, "cat dog dog tree"),
            (3, "cat fish"),
            (4, "bird stone wall"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [("q1", "cat dog")], "query_id string, query_text string"
    )
    got = ranking_eval(docs, queries, k=10).collect()[0]
    assert got.n_rel == 2
    assert 0.0 <= got.ap <= 1.0 and 0.0 <= got.ndcg <= 1.0
    # both relevant docs carry the rare 'dog' term, so they outrank doc 3
    # -> perfect ranking: AP = nDCG = 1 exactly
    assert got.ap == 1.0 and got.ndcg == 1.0


def test_ranking_eval_bounds_on_corpus(spark, docs):
    from big_data_elt_pipeline_spark.operators.retrieval import ranking_eval
    from big_data_elt_pipeline_spark.plans.text_queries import _EVAL_QUERIES

    queries = spark.createDataFrame(
        _EVAL_QUERIES, "query_id string, query_text string"
    )
    for r in ranking_eval(docs, queries, k=10).collect():
        assert r.n_rel > 0  # fixture guarantees a nonempty relevant set
        assert 0.0 <= r.ap <= 1.0
        assert 0.0 <= r.ndcg <= 1.0


def test_idcg_prefix_is_exact_decimal_sum():
    from decimal import Decimal

    from big_data_elt_pipeline_spark.operators.retrieval import (
        idcg_prefix,
        ndcg_discounts,
    )

    d = ndcg_discounts(10)
    assert d[0] == 1.0  # 1/log2(2)
    acc = Decimal(0)
    for m, v in enumerate(idcg_prefix(10)):
        acc += Decimal(str(d[m]))
        assert v == float(acc)


def test_token_fertility_reconciles_with_per_doc_counts(spark, docs):
    from big_data_elt_pipeline_spark.functions.text import (
        bpe_token_count,
        token_count,
    )
    from big_data_elt_pipeline_spark.operators.profiling import (
        token_fertility_by_lang,
    )
    from pyspark.sql import functions as F

    rows = token_fertility_by_lang(docs).collect()
    tot = docs.agg(
        F.sum(token_count(F.col("text"))).alias("ws"),
        F.sum(bpe_token_count(F.col("text"))).alias("bpe"),
        F.sum(F.length("text").cast("long")).alias("ch"),
    ).collect()[0]
    assert sum(r.ws_tokens for r in rows) == tot.ws
    assert sum(r.bpe_tokens for r in rows) == tot.bpe
    assert sum(r.n_chars for r in rows) == tot.ch
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.fertility == r.bpe_tokens / r.ws_tokens
        assert r.chars_per_token == r.n_chars / r.bpe_tokens


def test_vocab_coverage_laws(spark, docs):
    from big_data_elt_pipeline_spark.operators.profiling import vocab_coverage

    rows = {r.top_k: r for r in vocab_coverage(docs).collect()}
    assert list(sorted(rows)) == [10, 100, 1000]
    # shares are monotone in k; coverage never exceeds the total
    assert rows[10].share <= rows[100].share <= rows[1000].share <= 1.0
    for r in rows.values():
        assert r.n_words <= r.top_k
        assert r.covered_tokens <= r.total_tokens
        assert r.share == r.covered_tokens / r.total_tokens
    # this corpus's vocabulary is ~30 words: top-100 already covers it all
    assert rows[100].share == 1.0


def test_vocab_coverage_hand_case(spark):
    from big_data_elt_pipeline_spark.operators.profiling import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    rows = {r.top_k: r for r in vocab_coverage(docs, ks=(1, 2, 3)).collect()}
    assert rows[1].covered_tokens == 3  # 'a'
    assert rows[2].covered_tokens == 5  # 'a' + 'b'
    assert rows[3].covered_tokens == 6
    assert rows[3].share == 1.0


def test_source_mixture_laws(spark, docs):
    from big_data_elt_pipeline_spark.operators.profiling import source_mixture

    rows = source_mixture(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    # entropy is a corpus scalar repeated per row, within [0, log2(k)]
    import math

    ents = {r.entropy_bits for r in rows}
    assert len(ents) == 1
    h = ents.pop()
    assert 0.0 <= h <= math.log2(len(rows)) + 1e-9


def test_source_mixture_uniform_hand_case(spark):
    from big_data_elt_pipeline_spark.operators.profiling import source_mixture

    docs = spark.createDataFrame(
        [(i, "w x", ["s1", "s2", "s3", "s4"][i % 4]) for i in range(16)],
        "doc_id long, text string, source string",
    )
    rows = source_mixture(docs).collect()
    # uniform over 4 sources -> exactly 2 bits (up to the 6-dp ln snap)
    assert abs(rows[0].entropy_bits - 2.0) < 1e-5
    for r in rows:
        assert r.doc_share == 0.25


def test_vocab_drift_identical_halves(spark):
    from big_data_elt_pipeline_spark.operators.profiling import vocab_drift

    # both parities carry the same text -> identical distributions
    docs = spark.createDataFrame(
        [(i, "alpha beta beta gamma") for i in range(10)],
        "doc_id long, text string",
    )
    r = vocab_drift(docs).collect()[0]
    assert r.n_words_a == r.n_words_b == r.shared_words == 3
    assert r.vocab_jaccard == 1.0
    assert r.l1_distance == 0.0


def test_vocab_drift_disjoint_halves(spark):
    from big_data_elt_pipeline_spark.operators.profiling import vocab_drift

    docs = spark.createDataFrame(
        [(i, "aa bb" if i % 2 == 0 else "cc dd") for i in range(10)],
        "doc_id long, text string",
    )
    r = vocab_drift(docs).collect()[0]
    assert r.shared_words == 0 and r.vocab_jaccard == 0.0
    assert abs(r.l1_distance - 2.0) < 1e-9  # total variation x2: disjoint


def test_vocab_drift_bounds_on_corpus(spark, docs):
    from big_data_elt_pipeline_spark.operators.profiling import vocab_drift

    r = vocab_drift(docs).collect()[0]
    assert 0.0 <= r.l1_distance <= 2.0
    assert 0.0 <= r.vocab_jaccard <= 1.0
    assert r.shared_words <= min(r.n_words_a, r.n_words_b)


def test_minhash_recall_subset_law(spark, docs):
    from big_data_elt_pipeline_spark.operators.dedup import (
        minhash_recall_eval,
    )

    perturbed = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(perturbed)
    r = minhash_recall_eval(corpus, threshold=0.5).collect()[0]
    # MinHash verifies exact Jaccard on the same shingles: found pairs
    # are a subset of the lossless truth (precision 1.0 by construction)
    assert r.n_spurious == 0
    assert r.n_hit == r.n_candidates
    assert r.n_hit + r.n_missed == r.n_truth
    assert r.recall == r.n_hit / r.n_truth
    # the twin corpus plants ~n near-dup pairs; 4x4 LSH at t=0.5 should
    # recover the bulk of them (observed 0.95-0.97 at sf0.001/sf0.01)
    assert r.recall >= 0.85


def test_grouped_percentiles_match_spark_percentile(spark):
    import random

    from big_data_elt_pipeline_spark.operators.quality import (
        grouped_quantized_percentiles,
    )

    rng = random.Random(7)
    rows = [
        (["g1", "g2", "g3"][i % 3], float(rng.randint(0, 50)))
        for i in range(300)
    ] + [("g_single", 42.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r.g, r.p): r.value
        for r in grouped_quantized_percentiles(
            df, "g", "v", [0.1, 0.5, 0.9]
        ).collect()
    }
    # reference: Spark's own percentile() per group (buffers values —
    # the form the kernel exists to avoid at scale)
    ref = {
        (r.g, p): r[f"p{i}"]
        for r in df.groupBy("g")
        .agg(
            *[
                F.expr(f"percentile(v, {p})").alias(f"p{i}")
                for i, p in enumerate([0.1, 0.5, 0.9])
            ]
        )
        .collect()
        for i, p in enumerate([0.1, 0.5, 0.9])
    }
    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == ref[k], k
    # single-value group returns that value at every p
    for p in (0.1, 0.5, 0.9):
        assert got[("g_single", p)] == 42.0

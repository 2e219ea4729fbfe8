"""Training-data governance queries: PII scrubbing, repetition quality,
benchmark decontamination, mixture sampling, vocabulary statistics.

Beyond-reference surface (the reference pipeline stops at BI gold tables;
a 100 TB LLM corpus pipeline additionally needs the governance pass between
"cleaned corpus" and "training mixture"). Every query is a bit-identical
DuckDB oracle pair; the regex / hash constants are shared Python values so
parity is structural.

The synthetic ``documents`` corpus carries no real PII, so ``pii_scrub``
derives deterministic PII-bearing text FROM ``doc_id`` inside the query
(same derivation in both engines) — the machinery under test is the
detect/redact pass, not the generator. Same trick as the dirty-data
fixtures and the ``docs2`` perturbed-dup corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions import text as TX
from big_data_elt_pipeline_spark.operators import classify as CL
from big_data_elt_pipeline_spark.operators import privacy as PII
from big_data_elt_pipeline_spark.operators import quality as QL
from big_data_elt_pipeline_spark.operators import sampling as SMP
from big_data_elt_pipeline_spark.plans.queries import bench_iters, register
from big_data_elt_pipeline_spark.sources.tpch import read_table

_TOK = "string_split_regex(lower(trim({c})), '\\s+')"


def _shingle_sql(n: int) -> str:
    """DuckDB mirror of functions/text.word_shingles for width ``n``."""
    return (
        f"CASE WHEN len(tok) >= {n} THEN "
        f"list_transform(range(0, len(tok)-{n}+1), i -> array_to_string(tok[(i+1):(i+{n})], ' ')) "
        "ELSE [array_to_string(tok, ' ')] END"
    )


# --------------------------------------------------------------------------
# pii_scrub: detect + redact emails / phones / IPv4 (audit counts + scrubbed
# fingerprint). PII text is derived deterministically from doc_id.
# --------------------------------------------------------------------------

_PII_EXTRA_SQL = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
  WHEN 1 THEN ' call +1-555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') || ' today'
  WHEN 2 THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR) || '.' || CAST((doc_id * 5) % 256 AS VARCHAR) || ' up'
  ELSE ''
END
"""

_PII_SQL = f"""
WITH seeded AS (
    SELECT doc_id, text || ({_PII_EXTRA_SQL.strip()}) AS text2 FROM documents
),
counted AS (
    SELECT doc_id, text2,
           CAST(len(regexp_extract_all(text2, '{PII.EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '{PII.PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text2, '{PII.IPV4_RE}')) AS BIGINT) AS n_ips
    FROM seeded
)
SELECT doc_id, n_emails, n_phones, n_ips,
       n_emails + n_phones + n_ips AS pii_total,
       (n_emails + n_phones + n_ips) = 0 AS is_clean,
       md5(regexp_replace(regexp_replace(regexp_replace(text2,
           '{PII.EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII.PHONE_RE}', '<PHONE>', 'g'),
           '{PII.IPV4_RE}', '<IP>', 'g')) AS redacted_fp
FROM counted
"""


def _seed_pii(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Append doc_id-derived PII spans (Spark mirror of _PII_EXTRA_SQL)."""
    did = F.col("doc_id")
    extra = (
        F.when(did % 4 == 0, F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")))
        .when(did % 4 == 1, F.concat(F.lit(" call +1-555-"), F.lpad(((did * 7) % 10000).cast("string"), 4, "0"), F.lit(" today")))
        .when(did % 4 == 2, F.concat(
            F.lit(" node 10."), (did % 256).cast("string"),
            F.lit("."), ((did * 3) % 256).cast("string"),
            F.lit("."), ((did * 5) % 256).cast("string"), F.lit(" up")))
        .otherwise(F.lit(""))
    )
    return docs.select("doc_id", *keep, F.concat(F.col("text"), extra).alias("text2"))


def _pii_seeded(spark: SparkSession, sf_dir: str, keep: tuple[str, ...] = ()) -> DataFrame:
    return _seed_pii(read_table(spark, sf_dir, "documents"), keep)


@register("pii_scrub", _PII_SQL)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII governance pass: per-category detection counts + the md5 of the
    fully redacted text (the provable "scrubbed corpus" artifact).

    Scale shape: one whole-stage-codegen pass over the scan — three
    ``regexp_count`` + three chained ``regexp_replace`` + md5, zero
    shuffles, zero Python. At 100 TB this is embarrassingly parallel and
    I/O-bound, exactly what a scrub pass should be.
    """
    seeded = _pii_seeded(spark, sf_dir)
    t2 = F.col("text2")
    counts = PII.pii_counts(t2)
    total = counts["email"] + counts["phone"] + counts["ip"]
    return seeded.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ip"].alias("n_ips"),
        total.alias("pii_total"),
        (total == 0).alias("is_clean"),
        F.md5(PII.redact(t2)).alias("redacted_fp"),
    )


# --------------------------------------------------------------------------
# doc_repetition: Gopher-style repetition quality signals
# --------------------------------------------------------------------------

_REPETITION_SQL = f"""
WITH base AS (
    SELECT doc_id, {_TOK.format(c='text')} AS tok FROM documents
),
toks AS (
    SELECT doc_id, unnest(tok) AS term FROM base
),
tc AS (
    SELECT doc_id, term, count(*) AS n FROM toks GROUP BY doc_id, term
),
tops AS (
    SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS n_tokens
    FROM tc GROUP BY doc_id
),
bg AS (
    SELECT doc_id, unnest({_shingle_sql(2)}) AS b FROM base
),
bgs AS (
    SELECT doc_id, count(*) AS tot_bg, count(DISTINCT b) AS dist_bg
    FROM bg GROUP BY doc_id
),
tg AS (
    SELECT doc_id, unnest({_shingle_sql(3)}) AS t FROM base
),
tgs AS (
    SELECT doc_id, count(*) AS tot_tg, count(DISTINCT t) AS dist_tg
    FROM tg GROUP BY doc_id
)
SELECT tops.doc_id, n_tokens,
       CAST(top_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_ratio,
       1.0 - CAST(dist_bg AS DOUBLE) / CAST(tot_bg AS DOUBLE) AS dup_bigram_ratio,
       1.0 - CAST(dist_tg AS DOUBLE) / CAST(tot_tg AS DOUBLE) AS dup_trigram_ratio,
       (CAST(top_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.2)
        OR (1.0 - CAST(dist_bg AS DOUBLE) / CAST(tot_bg AS DOUBLE) > 0.3) AS is_repetitive
FROM tops
JOIN bgs ON tops.doc_id = bgs.doc_id
JOIN tgs ON tops.doc_id = tgs.doc_id
"""


@register("doc_repetition", _REPETITION_SQL)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter signals (Rae et al., Gopher §A1.1-style):
    share of the most frequent token, and the duplicate word-{2,3}-gram
    fractions, with the boilerplate flag at the published-ish thresholds
    (top-token > 0.2 OR dup-bigram > 0.3).

    Scale shape: the Spark side is PURE ARRAY MATH on the tokens column —
    ``array_distinct``/``transform``/``filter``/``array_max`` — a map-only
    codegen pass with ZERO shuffles (the oracle's unnest+groupBy shape
    would shuffle the full token explosion; the array form never leaves
    the row). Same doubles: integer counts divided as doubles.
    """
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    top = TX.top_token_ratio(t)
    bg = TX.dup_ngram_ratio(t, 2)
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        top.alias("top_token_ratio"),
        bg.alias("dup_bigram_ratio"),
        TX.dup_ngram_ratio(t, 3).alias("dup_trigram_ratio"),
        ((top > 0.2) | (bg > 0.3)).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# contamination_check: n-gram overlap decontamination vs a benchmark split
# --------------------------------------------------------------------------

_CONTAM_SQL = f"""
WITH bench AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0
),
train AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0
    UNION ALL
    SELECT doc_id + 20000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text
    FROM bench
),
tsh AS (
    SELECT doc_id AS train_id, unnest(list_distinct(sh)) AS shingle
    FROM (SELECT doc_id, {_shingle_sql(5)} AS sh
          FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM train))
),
bsh AS (
    SELECT doc_id AS bench_id, unnest(list_distinct(sh)) AS shingle
    FROM (SELECT doc_id, {_shingle_sql(5)} AS sh
          FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM bench))
)
SELECT train_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared
FROM tsh JOIN bsh USING (shingle)
GROUP BY train_id, bench_id
HAVING count(*) >= 3
"""


@register("contamination_check", _CONTAM_SQL)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 3 distinct word
    5-grams with any benchmark doc (the GPT-3/PaLM-style n-gram overlap
    rule). The benchmark split is ``doc_id % 37 = 0``; the train side is
    augmented with first-token-dropped copies of the benchmark docs
    (id+20000) so the query provably flags planted contamination.

    Scale shape: ``operators/sampling.benchmark_overlap`` — the benchmark
    shingle table is broadcast (eval sets are tiny vs a 100 TB corpus), so
    the train side is scanned once with a map-side hash join and the only
    shuffle is the candidate-pair groupBy. No all-pairs anything.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    planted = bench.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    train = docs.filter(F.col("doc_id") % 37 != 0).unionByName(planted)
    return SMP.benchmark_overlap(train, bench, n=5, min_shared=3)


# --------------------------------------------------------------------------
# mixture_sample: deterministic stratified sampling to target mixture rates
# --------------------------------------------------------------------------

# exact binary fractions on purpose: target_rate and weight=1/rate are then
# exactly representable doubles, so the hash-gate has no rounding exposure
MIX_RATES: dict[str, float] = {"en": 0.5, "fr": 0.75, "de": 1.0, "es": 0.25, "zh": 0.125}

_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in sorted(MIX_RATES.items())
) + " ELSE CAST(0.0 AS DOUBLE) END"

_MIX_SQL = f"""
WITH flagged AS (
    SELECT lang AS stratum,
           {_RATE_CASE} AS target_rate,
           CASE WHEN CAST((doc_id % {SMP.SAMPLE_M} * {SMP.SAMPLE_A} + {SMP.SAMPLE_C}) % {SMP.SAMPLE_M} AS DOUBLE)
                     / {float(SMP.SAMPLE_M)} < {_RATE_CASE}
                THEN 1 ELSE 0 END AS sampled
    FROM documents
)
SELECT stratum, target_rate,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(sampled) AS BIGINT) AS n_sampled,
       CAST(sum(sampled) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS realized_rate,
       CASE WHEN target_rate > 0 THEN 1.0 / target_rate ELSE 0.0 END AS weight
FROM flagged
GROUP BY stratum, target_rate
ORDER BY stratum
"""


@register("mixture_sample", _MIX_SQL)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: deterministic per-language sampling
    to target rates (en 50%, zh 12.5%, ...) with importance weights.

    The coin flip is a Knuth multiplicative hash of ``doc_id`` — NOT
    ``rand()`` — so the mixture is reproducible, engine-portable, and the
    DuckDB oracle verifies the exact same survivor set. Scale shape: one
    map-only flag pass + one tiny groupBy(stratum); re-running on a grown
    corpus keeps every previously-sampled row (append-stable sampling).
    """
    docs = read_table(spark, sf_dir, "documents")
    return SMP.stratified_sample(docs, MIX_RATES, strata_col="lang", id_col="doc_id")


# --------------------------------------------------------------------------
# doc_chunking: overlapping token-window chunking (embedding/RAG prep)
# --------------------------------------------------------------------------

_CHUNK_W = 64   # window size (tokens)
_CHUNK_S = 48   # stride (tokens) -> 16-token overlap

_CHUNK_SQL = f"""
WITH base AS (
    SELECT doc_id, {_TOK.format(c='text')} AS tok FROM documents
),
pre AS (
    SELECT doc_id, tok, len(tok) AS n, greatest(len(tok) - {_CHUNK_W}, 0) AS m FROM base
),
st AS (
    SELECT doc_id, tok, n,
           CASE WHEN m % {_CHUNK_S} <> 0 THEN list_append(range(0, m + 1, {_CHUNK_S}), m)
                ELSE range(0, m + 1, {_CHUNK_S}) END AS starts
    FROM pre
),
ex AS (
    SELECT doc_id, tok, n,
           unnest(range(0, len(starts))) AS chunk_id,
           unnest(starts) AS start_tok
    FROM st
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, CAST(start_tok AS BIGINT) AS start_tok,
       CAST(least({_CHUNK_W}, n - start_tok) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(tok[(start_tok + 1):(least(start_tok + {_CHUNK_W}, n))], ' ')) AS chunk_fp
FROM ex
"""


@register("doc_chunking", _CHUNK_SQL)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 64, stride 48) — the
    embedding-pipeline / RAG document splitter. Chunk starts are
    ``0, S, 2S, ...`` up to ``n-W``, plus a final ``n-W`` start so the
    tail is always a FULL window (no sub-window fragment duplicating the
    previous chunk); docs shorter than one window yield exactly one chunk.

    Scale shape: pure array math + one ``posexplode`` — map-only, no
    shuffle, chunk text never leaves the row (only its md5 is emitted).
    The output is the (doc_id, chunk) relation an embedding batch job
    would feed through ``mapInPandas``.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = TX.tokens(F.col("text"))
    base = docs.select("doc_id", tok.alias("tok"))
    pre = base.select(
        "doc_id", "tok",
        F.size("tok").alias("n"),
        F.greatest(F.size("tok") - F.lit(_CHUNK_W), F.lit(0)).alias("m"),
    )
    seq = F.sequence(F.lit(0), F.col("m"), F.lit(_CHUNK_S))
    starts = F.when(
        F.col("m") % _CHUNK_S != 0, F.concat(seq, F.array(F.col("m")))
    ).otherwise(seq)
    ex = pre.select(
        "doc_id", "tok", "n", F.posexplode(starts).alias("chunk_id", "start_tok")
    )
    chunk = F.slice(
        F.col("tok"), F.col("start_tok") + 1,
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("start_tok")),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("start_tok")).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


# --------------------------------------------------------------------------
# training_mixture: the full governance pipeline as ONE declarative plan
# --------------------------------------------------------------------------

_Q_SQL = (
    "least(greatest("
    "0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)"
    " + 0.3 * least(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END * 5.0, 1.0)"
    " + 0.2 * (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END * 10.0, 1.0))"
    ", 0.0), 1.0)"
)


def _mixture_sql() -> str:
    from big_data_elt_pipeline_spark.plans.text_queries import _count_in_sql

    redact = (
        "regexp_replace(regexp_replace(regexp_replace(text2, "
        f"'{PII.EMAIL_RE}', '<EMAIL>', 'g'), "
        f"'{PII.PHONE_RE}', '<PHONE>', 'g'), "
        f"'{PII.IPV4_RE}', '<IP>', 'g')"
    )
    return f"""
WITH seeded AS (
    SELECT doc_id, lang, text || ({_PII_EXTRA_SQL.strip()}) AS text2 FROM documents
),
red AS (
    SELECT doc_id, lang, {redact} AS rtext FROM seeded
),
base AS (
    SELECT doc_id, lang, rtext, {_TOK.format(c='rtext')} AS tok FROM red
),
feat AS (
    SELECT doc_id, lang, tok,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(length(rtext) AS BIGINT) AS n_chars,
           CAST({_count_in_sql('tok', TX.STOPWORDS)} AS BIGINT) AS n_stop,
           CAST(len(regexp_extract_all(rtext, '[.,;:!?]')) AS BIGINT) AS n_punct,
           CAST(len(regexp_extract_all(rtext, '{TX.BPE_TOKEN_RE}')) AS BIGINT) AS bpe_tokens,
           md5(array_to_string(tok, ' ')) AS fingerprint
    FROM base
),
rep AS (
    SELECT doc_id,
           CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_ratio
    FROM (SELECT doc_id, term, count(*) AS n
          FROM (SELECT doc_id, unnest(tok) AS term FROM base)
          GROUP BY doc_id, term)
    GROUP BY doc_id
),
bgr AS (
    SELECT doc_id,
           1.0 - CAST(count(DISTINCT b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_bg
    FROM (SELECT doc_id, unnest({_shingle_sql(2)}) AS b FROM base)
    GROUP BY doc_id
),
gated AS (
    SELECT feat.doc_id, lang, n_tokens, bpe_tokens, fingerprint
    FROM feat
    JOIN rep ON feat.doc_id = rep.doc_id
    JOIN bgr ON feat.doc_id = bgr.doc_id
    WHERE n_tokens >= 8 AND {_Q_SQL} >= 0.5
      AND top_ratio <= 0.2 AND dup_bg <= 0.3
),
canon AS (
    SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id FROM gated
),
contam AS (
    SELECT DISTINCT train_id FROM (
        SELECT train_id, bench_id
        FROM (SELECT doc_id AS train_id, unnest(list_distinct(sh)) AS shingle
              FROM (SELECT doc_id, {_shingle_sql(5)} AS sh
                    FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok
                          FROM documents WHERE doc_id % 37 <> 0)))
        JOIN (SELECT doc_id AS bench_id, unnest(list_distinct(sh)) AS shingle
              FROM (SELECT doc_id, {_shingle_sql(5)} AS sh
                    FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok
                          FROM documents WHERE doc_id % 37 = 0)))
        USING (shingle)
        GROUP BY train_id, bench_id
        HAVING count(*) >= 3
    )
),
kept AS (
    SELECT doc_id, lang, bpe_tokens, {_RATE_CASE} AS target_rate
    FROM canon
    WHERE doc_id % 37 <> 0
      AND doc_id = canonical_id
      AND doc_id NOT IN (SELECT train_id FROM contam)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CASE WHEN any_value(target_rate) > 0 THEN 1.0 / any_value(target_rate) ELSE 0.0 END AS weight
FROM kept
WHERE CAST((doc_id % {SMP.SAMPLE_M} * {SMP.SAMPLE_A} + {SMP.SAMPLE_C}) % {SMP.SAMPLE_M} AS DOUBLE)
      / {float(SMP.SAMPLE_M)} < target_rate
GROUP BY lang
ORDER BY lang
"""


@register("training_mixture", _mixture_sql())
def q_training_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governance pipeline end-to-end as one declarative plan: PII
    redaction -> length/quality/repetition gates -> exact dedup (min-id
    survivor on the REDACTED fingerprint) -> benchmark-split removal +
    n-gram decontamination (anti-join) -> deterministic per-language
    mixture sampling -> final per-language document/BPE-token budget with
    importance weights. A user's whole corpus-prep run is this one query.

    Scale shape: scrub+gates are codegen map work fused over the scan;
    dedup is one shuffle on fingerprint; the decontamination side is a
    broadcast of the tiny benchmark shingle set followed by a broadcast
    anti-join of the contaminated-id list; sampling is map-only; the final
    rollup is a 5-row groupBy. Catalyst sees the whole lineage and prunes
    columns end-to-end — nothing materializes between stages.
    """
    base = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return governance_mixture(base)


def governance_mixture(base: DataFrame) -> DataFrame:
    """The composite on an arbitrary (doc_id, lang, text) frame — also
    driven by the bench's ``tools/scale.py`` on x4/x16 salted corpora for the
    wall-time linearity exhibit."""
    docs = base.select("doc_id", "text")
    red = _seed_pii(base, keep=("lang",)).select(
        "doc_id", "lang", PII.redact(F.col("text2")).alias("rtext")
    )
    rt = F.col("rtext")
    top = TX.top_token_ratio(rt)
    dup = TX.dup_ngram_ratio(rt, 2)
    feats = red.select(
        "doc_id", "lang",
        TX.token_count(rt).alias("n_tokens"),
        TX.bpe_token_count(rt).alias("bpe_tokens"),
        TX.quality_score(rt).alias("quality"),
        top.alias("top_ratio"),
        dup.alias("dup_bg"),
        TX.fingerprint(rt).alias("fingerprint"),
    )
    gated = feats.filter(
        (F.col("n_tokens") >= 8)
        & (F.col("quality") >= 0.5)
        & (F.col("top_ratio") <= 0.2)
        & (F.col("dup_bg") <= 0.3)
    )
    canon = gated.withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    )
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    train = docs.filter(F.col("doc_id") % 37 != 0)
    contam = (
        SMP.benchmark_overlap(train, bench, n=5, min_shared=3)
        .select("train_id").distinct()
    )
    rate = F.lit(0.0)
    for k, v in sorted(MIX_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(float(v))).otherwise(rate)
    kept = (
        canon.filter(
            (F.col("doc_id") % 37 != 0) & (F.col("doc_id") == F.col("canonical_id"))
        )
        .join(
            F.broadcast(contam),
            canon["doc_id"] == contam["train_id"],
            "left_anti",
        )
        .withColumn("target_rate", rate)
        .filter(SMP.sample_flag(F.col("doc_id"), F.col("target_rate")))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
            F.when(F.any_value("target_rate") > 0, F.lit(1.0) / F.any_value("target_rate"))
            .otherwise(F.lit(0.0)).alias("weight"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# lang_label_audit: declared label vs content-based guess confusion matrix
# --------------------------------------------------------------------------

def _lang_audit_sql() -> str:
    from big_data_elt_pipeline_spark.plans.text_queries import (
        _LANG_CASE,
        _LANG_SCORES,
    )

    return f"""
WITH base AS (
    SELECT doc_id, lang, {_TOK.format(c='text')} AS tok FROM documents
),
sc AS (
    SELECT doc_id, lang, {_LANG_SCORES} FROM base
),
g AS (
    SELECT doc_id, lang, {_LANG_CASE} AS lang_guess FROM sc
)
SELECT lang, lang_guess,
       CAST(count(*) AS BIGINT) AS n_docs,
       lang = lang_guess AS agree
FROM g
GROUP BY lang, lang_guess
ORDER BY lang, lang_guess
"""


@register("lang_label_audit", _lang_audit_sql())
def q_lang_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: confusion matrix of the corpus's DECLARED
    language label against the content-based n-gram guess — the training-
    label QA view (systematic disagreement on a (lang, source) slice means
    mislabeled or code-switched data feeding the mixture).

    Scale shape: one codegen pass computing the marker scores + one tiny
    groupBy on the (lang, lang_guess) pair — output is at most |langs|²
    rows regardless of corpus size.
    """
    docs = read_table(spark, sf_dir, "documents")
    g = docs.select("doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_guess"))
    return (
        g.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("agree", F.col("lang") == F.col("lang_guess"))
        .select("lang", "lang_guess", "n_docs", "agree")
        .orderBy("lang", "lang_guess")
    )


# --------------------------------------------------------------------------
# vocab_topk: corpus vocabulary statistics (top-100 by term frequency)
# --------------------------------------------------------------------------

_VOCAB_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOK.format(c='text')}) AS term FROM documents
),
agg AS (
    SELECT term,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM toks GROUP BY term
)
SELECT term, tf, df, rank FROM (
    SELECT term, tf, df,
           CAST(row_number() OVER (ORDER BY tf DESC, term) AS INT) AS rank
    FROM agg
)
WHERE rank <= 100
"""


@register("vocab_topk", _VOCAB_SQL)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 terms by total frequency with
    document frequency (the tokenizer-training / stopword-audit view).

    Scale shape: explode + one groupBy(term) with map-side partial
    aggregation, then ``orderBy(...).limit(100)`` — Spark executes that as
    TakeOrderedAndProject (per-partition top-k, merge on driver-sized
    output), NOT a global sort of the vocabulary. The row_number window
    runs on the 100 surviving rows only. Tie-break (tf DESC, term ASC) is
    total, so rank is deterministic.
    """
    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
    agg = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    head = agg.orderBy(F.desc("tf"), F.asc("term")).limit(100)
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    return head.withColumn("rank", F.row_number().over(w).cast("int"))


# --------------------------------------------------------------------------
# dsir_weights: DSIR-style importance weights (hashed-bigram log-ratio of
# target-domain vs raw feature distributions) — round 7.
# --------------------------------------------------------------------------

_DSIR_CTES = f"""
WITH base AS (
    SELECT doc_id, lang, {_TOK.format(c='text')} AS tok FROM documents
),
feats AS (
    SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1024 AS b
    FROM (SELECT doc_id, unnest({_shingle_sql(2)}) AS sh FROM base)
),
tfeats AS (
    SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1024 AS b
    FROM (SELECT doc_id, unnest({_shingle_sql(2)}) AS sh FROM base
          WHERE lang = 'en')
),
rc AS (SELECT b, count(*) AS cnt_r FROM feats GROUP BY b),
tc AS (SELECT b, count(*) AS cnt_t FROM tfeats GROUP BY b),
tots AS (SELECT (SELECT count(*) FROM feats) AS tot_r,
                (SELECT count(*) FROM tfeats) AS tot_t),
lam AS (
    SELECT rc.b,
           round(ln( (CAST(coalesce(cnt_t, 0) + 1 AS DOUBLE)
                      * CAST(tot_r + 1024 AS DOUBLE))
                   / (CAST(cnt_r + 1 AS DOUBLE)
                      * CAST(tot_t + 1024 AS DOUBLE)) ), 6) AS lam
    FROM rc LEFT JOIN tc ON rc.b = tc.b, tots
),
w AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(CAST(lam AS DECIMAL(25,6))) AS DOUBLE) AS weight
    FROM feats JOIN lam USING (b)
    GROUP BY doc_id
)"""

_DSIR_SQL = _DSIR_CTES + """
SELECT doc_id, n_feats, weight FROM w ORDER BY doc_id
"""

_DSIR_SELECT_SQL = _DSIR_CTES + """
SELECT doc_id, n_feats, weight, rank FROM (
    SELECT doc_id, n_feats, weight,
           CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT) AS rank
    FROM w
) WHERE rank <= 200
"""


@register("dsir_weights", _DSIR_SQL)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every document by
    the hashed-bigram log-likelihood ratio of the English-labelled slice
    (the target domain) vs the whole corpus. Positive weight =
    target-like; selection composes downstream (top-k or a weight-derived
    ``sample_flag`` rate). Determinism + scale shape documented in
    ``operators/sampling.dsir_weights`` (the BM25 quantized-decimal
    idiom)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return SMP.dsir_weights(docs.select("doc_id", "text"), target)


@register("dsir_select", _DSIR_SELECT_SQL)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection composite (r7 verdict #4, closing the resampling
    loop): the 200 most target-like documents by importance weight, with
    deterministic rank under the total (weight DESC, doc_id) order —
    weights from the same English-slice target as ``dsir_weights``.
    Selection runs as TakeOrderedAndProject (per-partition top-k, no
    global sort); contract + scale notes in
    ``operators/sampling.dsir_select``."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return SMP.dsir_select(docs.select("doc_id", "text"), target, k=200)


# --------------------------------------------------------------------------
# Round 8: UniMax budget allocation, count-min heavy hitters, priority
# sampling, deterministic corpus split
# --------------------------------------------------------------------------

from big_data_elt_pipeline_spark.functions import sketches as SK

_UNIMAX_NUM, _UNIMAX_DEN, _UNIMAX_EPOCHS = 6, 10, 2

_UNIMAX_SQL = f"""
WITH per AS (
    SELECT source, CAST(sum(len({_TOK.format(c='text')})) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(sum(n_tokens) * {_UNIMAX_NUM} // {_UNIMAX_DEN} AS BIGINT) AS budget,
           count(*) AS m
    FROM per
),
ranked AS (
    SELECT source, n_tokens,
           CAST(n_tokens * {_UNIMAX_EPOCHS} AS BIGINT) AS cap_tokens,
           budget, m,
           row_number() OVER (ORDER BY n_tokens * {_UNIMAX_EPOCHS} ASC, source ASC) AS i,
           CAST(coalesce(sum(n_tokens * {_UNIMAX_EPOCHS}) OVER (
               ORDER BY n_tokens * {_UNIMAX_EPOCHS} ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cum_prev
    FROM per CROSS JOIN tot
),
flag AS (
    SELECT *, cap_tokens * (m - i + 1) <= budget - cum_prev AS capped FROM ranked
),
s AS (
    SELECT CAST(coalesce(sum(CASE WHEN capped THEN cap_tokens END), 0) AS BIGINT) AS capped_sum,
           sum(CASE WHEN NOT capped THEN 1 ELSE 0 END) AS n_uncapped
    FROM flag
)
SELECT source, n_tokens, cap_tokens, capped, alloc_tokens,
       alloc_tokens / CAST(n_tokens AS DOUBLE) AS epochs
FROM (
    SELECT f.source, f.n_tokens, f.cap_tokens, f.capped,
           CASE WHEN f.capped THEN CAST(f.cap_tokens AS DOUBLE)
                ELSE CAST(f.budget - s.capped_sum AS DOUBLE) / CAST(s.n_uncapped AS DOUBLE)
           END AS alloc_tokens
    FROM flag f CROSS JOIN s
)
ORDER BY source
"""


@register("unimax_budget", _UNIMAX_SQL)
def q_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax (Chung et al. 2023) token-budget waterfilling over the
    per-source rollup: budget = 60% of total tokens, each source capped at
    2 epochs; small sources saturate at their cap, the remainder is shared
    equally. Closed-form sort + cumulative-sum windows instead of the
    paper's loop — contract and scale notes in
    ``operators/sampling.unimax_allocation``."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", TX.token_count(F.col("text")).alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").cast("long").alias("n_tokens"))
    )
    return SMP.unimax_allocation(per, _UNIMAX_NUM, _UNIMAX_DEN, _UNIMAX_EPOCHS)


_CMS_TOP = 20


def _cms_bucket_sql(j: int) -> str:
    a, c = SK.CMS_PERMS[j]
    return f"((h % {SK._CMS_M}) * {a} + {c}) % {SK._CMS_M} % {SK.CMS_WIDTH}"


def _cms_sql() -> str:
    probes = "\nUNION ALL\n".join(
        f"    SELECT term, exact, h, {j} AS j, {_cms_bucket_sql(j)} AS bucket FROM vocab"
        for j in range(SK.CMS_DEPTH)
    )
    return f"""
WITH tokens AS (
    SELECT doc_id, t.term
    FROM documents,
         unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
    WHERE t.term <> ''
),
vocab AS (
    SELECT term, CAST(count(*) AS BIGINT) AS exact,
           ('0x' || substr(md5(term), 1, 8))::BIGINT AS h
    FROM tokens GROUP BY term
),
probes AS (
{probes}
),
counters AS (
    SELECT j, bucket, CAST(sum(exact) AS BIGINT) AS c
    FROM probes GROUP BY j, bucket
),
est AS (
    SELECT p.term, p.exact, min(c.c) AS est
    FROM probes p JOIN counters c USING (j, bucket)
    GROUP BY p.term, p.exact
)
SELECT term, exact AS exact_count, est AS est_count,
       est - exact AS overestimate, CAST(rank AS INTEGER) AS rank
FROM (
    SELECT *, row_number() OVER (ORDER BY est DESC, term ASC) AS rank FROM est
) WHERE rank <= {_CMS_TOP}
ORDER BY rank
"""


@register("cms_heavy_hitters", _cms_sql())
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: 4×1024 counter sketch over corpus
    term frequencies, top-20 terms by sketch ESTIMATE with the exact count
    and the collision overestimate alongside (est >= exact always — the
    CMS one-sided error). Sketch build/probe contracts and the
    partial-aggregation scale shape in ``functions/sketches.cms_build``."""
    from big_data_elt_pipeline_spark.operators.retrieval import tokenize

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = (
        tokenize(docs, "doc_id", "text")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
        .withColumn("h", TX.hash32(F.col("term")))
    )
    counters = SK.cms_build(vocab, hash_col="h", cnt_col="exact")
    est = SK.cms_estimate(vocab, counters, hash_col="h")
    win = Window.orderBy(F.desc("est"), F.asc("term"))
    return (
        est.orderBy(F.desc("est"), F.asc("term"))
        .limit(_CMS_TOP)
        .withColumn("rank", F.row_number().over(win).cast("int"))
        .select(
            "term",
            F.col("exact").alias("exact_count"),
            F.col("est").alias("est_count"),
            (F.col("est") - F.col("exact")).alias("overestimate"),
            "rank",
        )
        .orderBy("rank")
    )


_PRIO_K = 64

_PRIO_SQL = f"""
WITH prio AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           CAST(CAST(n_chars AS BIGINT) * {SMP.SAMPLE_M} AS DOUBLE)
           / CAST(((doc_id % {SMP.SAMPLE_M}) * {SMP.PRIO_A} + {SMP.PRIO_C})
                  % {SMP.SAMPLE_M} + 1 AS DOUBLE) AS priority
    FROM documents
),
ranked AS (
    SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS INTEGER) AS rank
    FROM prio QUALIFY rank <= {_PRIO_K + 1}
),
tau AS (SELECT max(CASE WHEN rank = {_PRIO_K + 1} THEN priority END) AS tau FROM ranked)
SELECT doc_id, weight, priority, rank,
       greatest(CAST(weight AS DOUBLE), coalesce(tau, CAST(0.0 AS DOUBLE))) AS weight_est
FROM ranked CROSS JOIN tau
WHERE rank <= {_PRIO_K}
ORDER BY rank
"""


@register("priority_sample", _PRIO_SQL)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): 64 docs drawn with
    probability ~ n_chars, without replacement, with the max(w, tau)
    estimator that makes any subset-sum over the sample unbiased. Pure
    bigint-product + IEEE-division priorities (no transcendentals) keep
    sample and estimates bit-identical across engines; plan shape in
    ``operators/sampling.priority_sample``."""
    docs = read_table(spark, sf_dir, "documents")
    return SMP.priority_sample(docs, k=_PRIO_K, weight_col="n_chars")


_SPLIT_SQL = f"""
WITH labeled AS (
    SELECT source AS stratum,
           CASE WHEN u < CAST(0.90 AS DOUBLE) THEN 'train'
                WHEN u < CAST(0.95 AS DOUBLE) THEN 'val'
                ELSE 'test' END AS split,
           CAST(n_chars AS BIGINT) AS toks
    FROM (
        SELECT source, n_chars,
               CAST(((doc_id % {SMP.SAMPLE_M}) * {SMP.SPLIT_A} + {SMP.SPLIT_C})
                    % {SMP.SAMPLE_M} AS DOUBLE) / {float(SMP.SAMPLE_M)} AS u
        FROM documents
    )
),
per AS (
    SELECT stratum, split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens
    FROM labeled GROUP BY stratum, split
),
tot AS (SELECT stratum, sum(n_docs) AS tt FROM per GROUP BY stratum)
SELECT stratum, split, n_docs, n_tokens,
       CAST(n_docs AS DOUBLE) / CAST(tt AS DOUBLE) AS frac_of_stratum
FROM per JOIN tot USING (stratum)
ORDER BY stratum, split
"""


@register("corpus_split", _SPLIT_SQL)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split audit (90/5/5 by a
    doc_id multiplicative hash, decorrelated from the sampling coin):
    per-(source, split) doc and token counts plus realized fractions —
    the reproducibility contract for held-out splits. Scale notes in
    ``operators/sampling.corpus_split_audit``."""
    docs = read_table(spark, sf_dir, "documents")
    return SMP.corpus_split_audit(
        docs,
        val_frac=0.05,
        test_frac=0.05,
        strata_col="source",
        id_col="doc_id",
        tokens_col=F.col("n_chars").cast("long"),
    )


# --------------------------------------------------------------------------
# c4_quality_filter: C4-style heuristic cleaning (Raffel et al. 2020) with
# per-rule audit counters. Line defects are planted deterministically from
# (doc_id, line_no) — the pii_scrub fixture trick (the synthetic corpus has
# no newlines/punctuation, so the violations the filter must catch are
# derived with identical arithmetic in both engines).
# --------------------------------------------------------------------------

_C4_SQL = """
WITH base AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tok
    FROM documents
),
idx AS (
    SELECT doc_id, tok, unnest(range(0, (len(tok) + 7) // 8)) AS i FROM base
),
raw AS (
    SELECT doc_id, i, doc_id * 31 + i AS d,
           CASE WHEN (doc_id * 31 + i) % 19 = 3
                THEN tok[(i*8 + 1):(i*8 + 2)]
                ELSE tok[(i*8 + 1):(i*8 + 8)] END AS words
    FROM idx
),
dec1 AS (
    SELECT doc_id, i, d,
           CASE WHEN d % 17 = 2
                THEN 'lorem ipsum ' || array_to_string(words, ' ')
                ELSE array_to_string(words, ' ') END AS t
    FROM raw
),
dec2 AS (SELECT doc_id, i, d,
                CASE WHEN d % 23 = 4 THEN t || ' javascript' ELSE t END AS t
         FROM dec1),
dec3 AS (SELECT doc_id, i, d,
                CASE WHEN d % 13 = 1 THEN t || ' {' ELSE t END AS t
         FROM dec2),
lines AS (SELECT doc_id, i,
                 CASE WHEN d % 11 <> 0 THEN t || '.' ELSE t END AS t
          FROM dec3),
flags AS (
    SELECT doc_id, i, t,
           right(t, 1) = '.' AS has_punct,
           len(string_split(t, ' ')) >= 5 AS long_enough,
           strpos(t, '{') > 0 AS has_brace,
           strpos(t, 'lorem ipsum') > 0 AS has_lorem,
           strpos(t, 'javascript') > 0 AS has_js
    FROM lines
),
kept AS (
    SELECT *, has_punct AND long_enough
              AND NOT has_brace AND NOT has_lorem AND NOT has_js AS keep
    FROM flags
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT has_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_no_punct,
       CAST(sum(CASE WHEN NOT long_enough THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(sum(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
       CAST(sum(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
       CAST(sum(CASE WHEN has_js THEN 1 ELSE 0 END) AS BIGINT) AS n_js,
       sum(CASE WHEN keep THEN 1 ELSE 0 END) >= 3 AS keep_doc,
       md5(coalesce(string_agg(CASE WHEN keep THEN t END, chr(10) ORDER BY i), ''))
           AS cleaned_fp
FROM kept
GROUP BY doc_id
ORDER BY doc_id
"""


@register("c4_quality_filter", _C4_SQL)
def q_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning audit (terminal punctuation, min words/line,
    brace / lorem-ipsum / javascript blocklists): per-rule violation
    counts, the document keep decision (>= 3 surviving lines) and the md5
    of the cleaned text. Map-only — zero shuffle at any corpus size;
    contract in ``operators/quality.c4_line_stats``."""
    docs = read_table(spark, sf_dir, "documents")
    return QL.c4_line_stats(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# lm_perplexity_filter: CCNet-style fluency cut (Wenzek et al. 2020) from a
# hashed-bigram LM trained on the doc_id%10==0 reference split; keep =
# nll <= exact corpus median (the head/middle boundary).
# --------------------------------------------------------------------------

# WITH-body fragment (tokd..med) shared by the filter and the CCNet
# head/middle/tail bucket query — ends at the per-doc ``scored`` relation.
_LM_CTES = f"""tokd AS (
    SELECT doc_id, {_TOK.format(c='text')} AS tok FROM documents
),
sh AS (
    SELECT doc_id, unnest({_shingle_sql(2)}) AS sh FROM tokd
),
feats AS (
    SELECT doc_id,
           ('0x' || substr(md5(sh), 1, 15))::BIGINT % {QL.LM_BUCKETS} AS b
    FROM sh
),
counts AS (
    SELECT b, CAST(count(*) AS BIGINT) AS cnt
    FROM feats WHERE doc_id % 10 = 0 GROUP BY b
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
model AS (
    SELECT b, round(-ln(CAST(cnt + 1 AS DOUBLE)
                        / CAST(total + {QL.LM_BUCKETS} AS DOUBLE)), 6) AS bucket_nll
    FROM counts, tot
),
dflt AS (
    SELECT round(-ln(1.0 / CAST(total + {QL.LM_BUCKETS} AS DOUBLE)), 6) AS default_nll
    FROM tot
),
scored AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(coalesce(m.bucket_nll, d.default_nll)
                               AS DECIMAL(25,6))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS nll
    FROM feats f LEFT JOIN model m USING (b), dflt d
    GROUP BY doc_id
)"""

_LM_SQL = f"""
WITH {_LM_CTES},
med AS (SELECT quantile_cont(nll, 0.5) AS med_nll FROM scored)
SELECT doc_id, n_bigrams, nll, nll <= med_nll AS keep
FROM scored, med
ORDER BY doc_id
"""


_PPL_BUCKETS_SQL = f"""
WITH {_LM_CTES},
th AS (SELECT quantile_cont(nll, {1 / 3!r}) AS t1,
              quantile_cont(nll, {2 / 3!r}) AS t2
       FROM scored),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM scored),
bk AS (
    SELECT CASE WHEN nll <= t1 THEN '1_head'
                WHEN nll <= t2 THEN '2_middle'
                ELSE '3_tail' END AS bucket,
           CAST(nll AS DECIMAL(25,6)) AS nlld
    FROM scored, th
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) AS DOUBLE) / CAST(max(ntot.n_total) AS DOUBLE) AS share,
       CAST(sum(nlld) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_nll
FROM bk, ntot
GROUP BY bucket
ORDER BY bucket
"""


@register("ccnet_perplexity_buckets", _PPL_BUCKETS_SQL)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity partition (Wenzek et al. 2020
    §4.4): the corpus split into equal thirds by LM nll, with per-bucket
    doc counts, shares, and mean nll. Thresholds are EXACT interpolated
    tertiles from the bounded nll value histogram (never a corpus-sized
    percentile buffer); bucket means divide exact DECIMAL sums without a
    re-round (the half-boundary landmine). Contract in
    ``operators/quality.perplexity_buckets``."""
    docs = read_table(spark, sf_dir, "documents")
    return QL.perplexity_buckets(docs).orderBy("bucket")


@register("lm_perplexity_filter", _LM_SQL)
def q_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM fluency filter: mean negative log-likelihood per document under
    an add-one-smoothed hashed-bigram model trained on the 10% reference
    split; keep = nll <= exact corpus median. Log-probs snapped to 6
    decimals on the <=4096-row model table, per-doc accumulation as exact
    DECIMAL — bit-identical under any partitioning (the BM25/DSIR idiom).
    Contract and scale notes in ``operators/quality.lm_scores``."""
    docs = read_table(spark, sf_dir, "documents")
    return QL.lm_scores(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# bloom_decontaminate: Bloom-filter benchmark decontamination — the
# fixed-size-broadcast variant of benchmark_overlap (the filter is <= K*M
# ints regardless of benchmark size). Benchmark split: doc_id % 50 == 0.
# --------------------------------------------------------------------------


def _bloom_arm_sql(j: int, src: str, cols: str) -> str:
    return (
        f"SELECT {cols} {j} AS j, "
        f"(h1 * {SMP.BLOOM_A[j]} + {SMP.BLOOM_C[j]}) % {SMP.BLOOM_M} AS pos "
        f"FROM {src}"
    )


_BLOOM_SQL = f"""
WITH tokd AS (
    SELECT doc_id, {_TOK.format(c='text')} AS tok FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, unnest({_shingle_sql(5)}) AS shingle FROM tokd
),
hashed AS (
    SELECT doc_id, shingle,
           ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {SMP.BLOOM_P} AS h1
    FROM sh
),
bench AS (SELECT * FROM hashed WHERE doc_id % 50 = 0),
bench_pos AS (
    SELECT DISTINCT j, pos FROM (
        {_bloom_arm_sql(0, 'bench', '')}
        UNION ALL {_bloom_arm_sql(1, 'bench', '')}
        UNION ALL {_bloom_arm_sql(2, 'bench', '')}
    )
),
probe AS (
    {_bloom_arm_sql(0, 'hashed', 'doc_id, shingle,')}
    UNION ALL {_bloom_arm_sql(1, 'hashed', 'doc_id, shingle,')}
    UNION ALL {_bloom_arm_sql(2, 'hashed', 'doc_id, shingle,')}
),
hits AS (
    SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS k_hits
    FROM probe
    WHERE EXISTS (SELECT 1 FROM bench_pos bp
                  WHERE bp.j = probe.j AND bp.pos = probe.pos)
    GROUP BY doc_id, shingle
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN coalesce(h.k_hits, 0) = {SMP.BLOOM_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       sum(CASE WHEN coalesce(h.k_hits, 0) = {SMP.BLOOM_K} THEN 1 ELSE 0 END) >= 3
           AS contaminated
FROM sh s LEFT JOIN hits h USING (doc_id, shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@register("bloom_decontaminate", _BLOOM_SQL)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: every training document's 5-gram
    shingles probed against a 65536-bit / 3-hash bloom filter built from
    the benchmark split (doc_id % 50 == 0); contaminated iff >= 3 distinct
    shingles have all 3 bit positions set. No false negatives vs the exact
    ``benchmark_overlap`` (pinned by pytest); broadcast side is <= K*M
    ints no matter how large the benchmark grows. Contract in
    ``operators/sampling.bloom_decontaminate``."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return SMP.bloom_decontaminate(docs, bench).orderBy("doc_id")


# --------------------------------------------------------------------------
# nb_lang_classifier: multinomial Naive Bayes as relational algebra — train
# on the doc_id % 5 != 0 split, predict language on the held-out fifth.
# Counting + snapped logs + DECIMAL sums => the trained model AND every
# prediction are bit-identical cross-engine (see operators/classify.py).
# --------------------------------------------------------------------------

# The synthetic corpus's lang column is NOT correlated with its word-soup
# text (measured: NB accuracy == the majority-class base rate; no
# classifier can beat that on labels independent of features), so the
# fixture plants the signal real text would carry: each doc gets its
# language's function-word marker set (functions/text.LANG_MARKERS — the
# same tokens lang_id keys on) appended 1 + doc_id % 2 times — identical
# derivation in both engines, the pii_scrub trick. A single planted token
# is NOT enough: per-(class, soup-bigram) training counts average ~3, so
# unseen-bucket noise across 5 classes runs ~10 nats/doc — measured — and
# one marker (~12 nats) barely clears it; the full set (~10-20 marker
# bigram occurrences) dominates robustly. The machinery under test is the
# relational train/predict, not the label generator.


def _nb_marker_sql() -> str:
    arms = " ".join(
        "WHEN '{lang}' THEN '{ms}'".format(lang=lang, ms=" ".join(markers))
        for lang, markers in TX.LANG_MARKERS.items()
    )
    return f"(CASE lang {arms} ELSE '' END)"


_NB_SEED_SQL = (
    f"text || repeat(' ' || {_nb_marker_sql()}, CAST(1 + doc_id % 2 AS INT))"
)


def _nb_seed_spark(docs: DataFrame) -> DataFrame:
    marker = F.lit("")
    for lang, markers in TX.LANG_MARKERS.items():
        marker = F.when(
            F.col("lang") == lang, F.lit(" ".join(markers))
        ).otherwise(marker)
    return (
        docs.select("doc_id", "lang", "text", marker.alias("__m"))
        .select(
            "doc_id",
            "lang",
            F.concat(
                F.col("text"),
                F.expr("repeat(concat(' ', __m), CAST(1 + doc_id % 2 AS INT))"),
            ).alias("text"),
        )
    )


_NB_SQL = f"""
WITH seeded AS (
    SELECT doc_id, lang, {_NB_SEED_SQL} AS text FROM documents
),
tokd AS (
    SELECT doc_id, {_TOK.format(c='text')} AS tok FROM seeded
),
sh AS (
    SELECT doc_id, unnest({_shingle_sql(2)}) AS sh FROM tokd
),
feats AS (
    SELECT doc_id,
           ('0x' || substr(md5(sh), 1, 15))::BIGINT % {CL.NB_BUCKETS} AS b
    FROM sh
),
train AS (
    SELECT f.doc_id, f.b, d.lang AS label
    FROM feats f JOIN documents d USING (doc_id)
    WHERE f.doc_id % 5 <> 0
),
cls AS (
    SELECT label, CAST(count(*) AS BIGINT) AS tot FROM train GROUP BY label
),
grand AS (SELECT CAST(count(*) AS BIGINT) AS grand FROM train),
classes AS (
    SELECT label,
           round(ln(CAST(tot AS DOUBLE) / CAST(grand AS DOUBLE)), 6) AS log_prior,
           round(ln({CL.NB_ALPHA!r}
                    / (CAST(tot AS DOUBLE) + {CL.NB_ALPHA * CL.NB_BUCKETS!r})), 6)
               AS default_lp,
           tot
    FROM cls, grand
),
model AS (
    SELECT label, b,
           round(ln((CAST(cnt AS DOUBLE) + {CL.NB_ALPHA!r})
                    / (CAST(tot AS DOUBLE) + {CL.NB_ALPHA * CL.NB_BUCKETS!r})), 6)
               AS lp
    FROM (SELECT label, b, CAST(count(*) AS BIGINT) AS cnt
          FROM train GROUP BY label, b) tb
    JOIN classes USING (label)
),
test AS (SELECT * FROM feats WHERE doc_id % 5 = 0),
scored AS (
    SELECT t.doc_id, c.label,
           CAST(sum(CAST(coalesce(m.lp, c.default_lp) AS DECIMAL(25,6)))
                AS DECIMAL(25,6))
           + CAST(c.log_prior AS DECIMAL(25,6)) AS score
    FROM test t
    CROSS JOIN classes c
    LEFT JOIN model m ON m.label = c.label AND m.b = t.b
    GROUP BY t.doc_id, c.label, c.log_prior
),
best AS (
    SELECT doc_id, label AS predicted, CAST(score AS DOUBLE) AS score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, label ASC) AS rn
    FROM scored
)
SELECT b.doc_id, d.lang, b.predicted, b.predicted = d.lang AS correct, b.score
FROM best b JOIN documents d USING (doc_id)
WHERE rn = 1
ORDER BY b.doc_id
"""


@register("nb_lang_classifier", _NB_SQL)
def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by a multinomial Naive Bayes classifier
    trained IN the engine (hashed-bigram counts, add-one smoothing) on the
    doc_id % 5 != 0 split and applied to the held-out fifth — per-doc
    prediction, truth, correctness flag and the winning log-score. Both
    training and inference are relational (no driver-side model, no
    iterative job); contract + scale notes in ``operators/classify``."""
    docs = _nb_seed_spark(read_table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)
    classes, model = CL.nb_train(train, "lang")
    pred = CL.nb_predict(held, classes, model)
    return (
        pred.join(held.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "predicted",
            (F.col("predicted") == F.col("lang")).alias("correct"),
            "score",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# gopher_quality_filter: the Gopher §A1.1 document-level rule table (word
# count, mean word length, symbol ratio, alpha ratio, stopword floor).
# --------------------------------------------------------------------------

def _gopher_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in TX.STOPWORDS)
    return f"""
WITH base AS (
    SELECT doc_id, text, {_TOK.format(c='text')} AS tok FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(tok, w -> length(w))) AS BIGINT) AS char_sum,
           CAST(len(regexp_extract_all(text, '[#…]')) AS BIGINT) AS n_symbols,
           CAST(len(list_filter(tok, w -> list_contains([{stop_list}], w)))
                AS BIGINT) AS n_stopwords,
           CAST(len(list_filter(tok, w -> regexp_matches(w, '[a-z]')))
                AS BIGINT) AS n_alpha
    FROM base
),
r AS (
    SELECT doc_id, n_words,
           CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_ratio,
           CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_ratio,
           n_stopwords
    FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, n_stopwords,
       n_words >= {QL.GOPHER_MIN_WORDS} AND n_words <= {QL.GOPHER_MAX_WORDS}
           AS ok_word_count,
       mean_word_len >= {QL.GOPHER_MIN_MWL} AND mean_word_len <= {QL.GOPHER_MAX_MWL}
           AS ok_mean_word_len,
       symbol_ratio < {QL.GOPHER_MAX_SYMBOL_RATIO} AS ok_symbol_ratio,
       alpha_ratio > {QL.GOPHER_MIN_ALPHA_RATIO} AS ok_alpha_ratio,
       n_stopwords >= {QL.GOPHER_MIN_STOPWORDS} AS ok_stopwords,
       (n_words >= {QL.GOPHER_MIN_WORDS} AND n_words <= {QL.GOPHER_MAX_WORDS})
       AND (mean_word_len >= {QL.GOPHER_MIN_MWL} AND mean_word_len <= {QL.GOPHER_MAX_MWL})
       AND symbol_ratio < {QL.GOPHER_MAX_SYMBOL_RATIO}
       AND alpha_ratio > {QL.GOPHER_MIN_ALPHA_RATIO}
       AND n_stopwords >= {QL.GOPHER_MIN_STOPWORDS} AS keep_doc
FROM r
ORDER BY doc_id
"""


@register("gopher_quality_filter", _gopher_sql())
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher §A1.1 document-level quality rules (word-count bounds, mean
    word length, symbol ratio, alpha-word ratio, stopword floor): raw
    metrics, one boolean per rule, composite keep. Map-only array math —
    zero shuffle; the line-based Gopher rules live with the line relation
    in ``c4_line_stats``. Contract in ``operators/quality.gopher_rules``."""
    docs = read_table(spark, sf_dir, "documents")
    return QL.gopher_rules(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# temperature_mixture: sqrt-temperature (T=2) mixture reweighting — the one
# temperature whose powers are IEEE-correctly-rounded (pow() is not), hence
# the one that can be value-hashed cross-engine.
# --------------------------------------------------------------------------

_TEMP_SQL = f"""
WITH per AS (
    SELECT source,
           CAST(sum(len({_TOK.format(c='text')})) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
rooted AS (
    SELECT source, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS weight,
           CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                AS DECIMAL(25,6)) AS s,
           total
    FROM per, tot
),
z AS (SELECT CAST(sum(s) AS DECIMAL(25,6)) AS z FROM rooted)
SELECT source, n_tokens, weight,
       round(CAST(s AS DOUBLE) / CAST(z AS DOUBLE), 6) AS p_temp,
       round((CAST(s AS DOUBLE) / CAST(z AS DOUBLE)) / weight, 6) AS boost,
       CAST(floor(round(CAST(s AS DOUBLE) / CAST(z AS DOUBLE), 6)
                  * CAST(total AS DOUBLE)) AS BIGINT) AS expected_tokens
FROM rooted, z
ORDER BY source
"""


@register("temperature_mixture", _TEMP_SQL)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root temperature sampling probabilities per source (the
    mT5/PaLM multilingual mixing rule at T=2), with upsampling boost and
    the expected token allocation at a budget equal to the corpus total.
    Snapped roots + DECIMAL normalizer => bit-stable; contract in
    ``operators/sampling.temperature_mixture``."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", TX.token_count(F.col("text")).alias("__t"))
        .groupBy("source")
        .agg(F.sum("__t").cast("long").alias("n_tokens"))
    )
    return SMP.temperature_mixture(per)


# --------------------------------------------------------------------------
# url_domain_filter: the C4 / RefinedWeb URL-level stage — host extraction,
# registered-domain reduction, host + TLD blocklists. URLs are planted
# deterministically from doc_id (the pii_scrub trick).
# --------------------------------------------------------------------------

_URL_HOSTS = (
    "en.wikipedia.org", "github.com", "spam.example.xyz", "ads.tracker.net",
    "blog.example.com", "news.site.org", "casino.bet.xyz",
)


def _url_host_sql() -> str:
    arms = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(_URL_HOSTS)
    )
    return f"(CASE CAST(doc_id % {len(_URL_HOSTS)} AS INT) {arms} END)"


_URL_SQL = f"""
WITH seeded AS (
    SELECT doc_id,
           text || ' visit https://' || {_url_host_sql()}
                || '/p' || CAST(doc_id AS VARCHAR) || ' now' AS text
    FROM documents
),
ex AS (
    SELECT doc_id,
           regexp_extract(text, 'https?://([a-z0-9.-]+)', 1) AS host
    FROM seeded
),
parts AS (
    SELECT doc_id, host, string_split(host, '.') AS labels FROM ex
),
audit AS (
    SELECT doc_id, host,
           CASE WHEN len(labels) >= 2
                THEN labels[-2] || '.' || labels[-1] ELSE host END
               AS registered_domain,
           labels[-1] AS tld,
           host IN ('ads.tracker.net', 'casino.bet.xyz', 'spam.example.xyz')
               AS blocked_host,
           labels[-1] IN ('bet', 'xyz') AS blocked_tld
    FROM parts
)
SELECT doc_id, host, registered_domain, tld, blocked_host, blocked_tld,
       NOT blocked_host AND NOT blocked_tld AND host <> '' AS keep
FROM audit
ORDER BY doc_id
"""


def _url_seed_spark(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    host = F.lit(None).cast("string")
    chain = F.when(F.lit(False), F.lit(""))
    for i, h in enumerate(_URL_HOSTS):
        chain = chain.when(did % len(_URL_HOSTS) == i, F.lit(h))
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" visit https://"),
            chain,
            F.lit("/p"),
            did.cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )


@register("url_domain_filter", _URL_SQL)
def q_url_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level filtering (the C4/RefinedWeb first stage): extract the
    URL host planted per doc, reduce to the registered domain, flag
    blocklisted hosts and TLDs, emit the keep decision. Map-only — zero
    shuffle; contract in ``operators/quality.url_domain_audit``."""
    docs = _url_seed_spark(read_table(spark, sf_dir, "documents"))
    return QL.url_domain_audit(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_length_quantiles: the corpus length profile as EXACT interpolated
# percentiles from a value histogram — aggregation state bounded by the
# value domain, not the corpus (percentile() buffers every row: OOM at
# billions of docs). One histogram pass serves all percentiles.
# --------------------------------------------------------------------------

_LEN_PS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

_LEN_Q_SQL = f"""
WITH lens AS (
    SELECT CAST(len({_TOK.format(c='text')}) AS BIGINT) AS n_tokens
    FROM documents
)
{' UNION ALL '.join(
    f"SELECT CAST({p!r} AS DOUBLE) AS p, "
    f"quantile_cont(CAST(n_tokens AS DOUBLE), {p!r}) AS value FROM lens"
    for p in _LEN_PS
)}
ORDER BY p
"""


@register("doc_length_quantiles", _LEN_Q_SQL)
def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length profile at six percentiles, computed scalably:
    ``quantized_percentiles`` turns the (integer) length column into a
    distinct-value histogram + one cumulative window, reproducing Spark's
    percentile()/DuckDB's quantile_cont() interpolation bit-for-bit with
    aggregation state bounded by the value domain. Contract in
    ``operators/quality.quantized_percentiles``."""
    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select(TX.token_count(F.col("text")).alias("n_tokens"))
    return QL.quantized_percentiles(lens, "n_tokens", list(_LEN_PS)).orderBy("p")


# --------------------------------------------------------------------------
# classifier_auc: exact ROC-AUC (rank-sum with average-rank ties) of the
# heuristic quality score as a detector of long-form documents — the
# evaluation loop every filter/classifier in this repo feeds, value-
# hashable because every rank stays an integer until the final division.
# --------------------------------------------------------------------------

_AUC_LONGFORM_CHARS = 300  # ~corpus median; balanced classes


def _qy_ctes() -> str:
    """st/rt/base CTEs producing (q = 6-dp quality score, y = long-form
    label) — the shared evaluation base of classifier_auc AND
    classifier_calibration (identical score + label derivation by
    construction, not by copy)."""
    from big_data_elt_pipeline_spark.plans.text_queries import _count_in_sql

    return f"""st AS (
    SELECT CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({_count_in_sql('tok', TX.STOPWORDS)} AS BIGINT) AS n_stop,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct
    FROM (SELECT text, {_TOK.format(c='text')} AS tok FROM documents)
),
rt AS (
    SELECT n_tokens, n_chars,
           CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_r,
           CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_r
    FROM st
),
base AS (
    SELECT round(least(greatest(
               0.5 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
               + 0.3 * least(stop_r * 5.0, 1.0)
               + 0.2 * (1.0 - least(punct_r * 10.0, 1.0)), 0.0), 1.0), 6) AS q,
           CASE WHEN n_chars >= {_AUC_LONGFORM_CHARS} THEN 1 ELSE 0 END AS y
    FROM rt
)"""


def _auc_sql() -> str:
    return f"""
WITH {_qy_ctes()},
g AS (SELECT q, count(*) AS n, sum(y) AS p FROM base GROUP BY q),
r AS (
    SELECT n, p,
           2 * coalesce(sum(n) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n + 1 AS r2
    FROM g
)
SELECT CAST(sum(p) AS BIGINT) AS n_pos,
       CAST(sum(n) - sum(p) AS BIGINT) AS n_neg,
       CAST(sum(p * r2) - sum(p) * (sum(p) + 1) AS DOUBLE)
           / (2.0 * sum(p) * (sum(n) - sum(p))) AS auc
FROM r
"""


@register("classifier_auc", _auc_sql())
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the heuristic quality score against a long-form
    label (n_chars >= ~corpus median): Mann-Whitney rank-sum with textbook
    average-rank tie handling, all rank arithmetic in exact integers (one
    double division at the end). The groupBy(quantized score) bounds the
    ordered pass at the distinct-score count — per-row global ranking
    windows are a single-task sort at corpus scale, the
    doc_length_quantiles lesson. Contract in
    ``operators/classify.roc_auc``."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        TX.quality_score(F.col("text")).alias("score"),
        (F.length("text") >= _AUC_LONGFORM_CHARS).cast("int").alias("y"),
    )
    return CL.roc_auc(scored, "score", "y")


# --------------------------------------------------------------------------
# classifier_calibration: the reliability diagram + binned ECE of the same
# score/label pair classifier_auc ranks — AUC measures ordering,
# calibration measures whether the score VALUE means what a threshold
# assumes (the audit before a quality score gates corpus admission).
# Shares the q/y derivation with classifier_auc via _qy_ctes.
# --------------------------------------------------------------------------

_CAL_BINS = 10

_CAL_SQL_TAIL = f"""
mb AS (
    SELECT least(CAST(floor((CAST(round(q * 1000000.0) AS BIGINT)
                             * {_CAL_BINS}) / 1000000.0) AS BIGINT),
                 {_CAL_BINS - 1}) AS bin,
           q, y
    FROM base
),
g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             -- integer micro-unit sum, NOT a 6-dp decimal sum: the mean
             -- must replay Spark's exact operation sequence
             -- (double(sm)/double(n))/1e6 — the decimal form's single
             -- division sq/n double-rounds DIFFERENTLY in the last ulp
             -- (caught by the r11 sf0.01 gate sim, Δ=5.5e-17)
             CAST(sum(CAST(round(q * 1000000.0) AS BIGINT)) AS BIGINT) AS sm
      FROM mb GROUP BY bin),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM g),
tbl AS (
    SELECT bin, n, n_pos,
           CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_score,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS gap,
           CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS w
    FROM g, tot
),
ece AS (SELECT CAST(sum(CAST(round(abs(gap) * w, 12) AS DECIMAL(25,12)))
               AS DOUBLE) AS ece FROM tbl)
SELECT bin, n, n_pos, mean_score, frac_pos, gap, e.ece
FROM tbl, ece e
ORDER BY bin
"""


def _calibration_sql() -> str:
    return f"""
WITH {_qy_ctes()},{_CAL_SQL_TAIL}"""


@register("classifier_calibration", _calibration_sql())
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + ECE of the heuristic quality score against the
    long-form label (the classifier_auc pair): bin assignment in exact
    micro-units, per-bin mean score as a DECIMAL sum, ECE as 12-dp-snapped
    decimal terms — value-hashable end to end. Contract in
    ``operators/classify.calibration_table``."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        TX.quality_score(F.col("text")).alias("score"),
        (F.length("text") >= _AUC_LONGFORM_CHARS).cast("int").alias("y"),
    )
    return CL.calibration_table(scored, "score", "y", n_bins=_CAL_BINS)


# --------------------------------------------------------------------------
# classifier_agreement: Cohen's kappa between the trained NB language
# classifier and the n-gram heuristic lang_id on the SAME held-out split —
# the classifier-vs-classifier audit (high kappa => the cheap heuristic
# can pre-filter for the expensive model). Oracle composes the full NB
# train/predict SQL as a derived table plus the heuristic CASE.
# --------------------------------------------------------------------------

def _agreement_sql() -> str:
    from big_data_elt_pipeline_spark.plans.text_queries import (
        _LANG_CASE,
        _LANG_SCORES,
    )

    return f"""
WITH nbp AS (SELECT doc_id, predicted FROM ({_NB_SQL})),
heur AS (
    SELECT doc_id, {_LANG_CASE} AS g FROM (
        SELECT doc_id, {_LANG_SCORES}
        FROM (SELECT doc_id, {_TOK.format(c=f'({_NB_SEED_SQL})')} AS tok
              FROM documents WHERE doc_id % 5 = 0)
    )
),
pairs AS (
    SELECT n.predicted AS a, h.g AS b
    FROM nbp n JOIN heur h USING (doc_id)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree
        FROM pairs),
ma AS (SELECT a AS label, CAST(count(*) AS BIGINT) AS na FROM pairs GROUP BY a),
mbr AS (SELECT b AS label, CAST(count(*) AS BIGINT) AS nb FROM pairs GROUP BY b),
pe AS (
    SELECT CAST(coalesce(sum(CAST(round(
               (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)), 12)
           AS DECIMAL(25,12))), CAST(0 AS DECIMAL(25,12))) AS DOUBLE) AS pe
    FROM ma JOIN mbr USING (label), tot
)
SELECT t.n, t.n_agree,
       CAST(t.n_agree AS DOUBLE) / CAST(t.n AS DOUBLE) AS po,
       p.pe,
       CASE WHEN 1.0 - p.pe <> 0.0
            THEN (CAST(t.n_agree AS DOUBLE) / CAST(t.n AS DOUBLE) - p.pe)
                 / (1.0 - p.pe)
       END AS kappa
FROM tot t, pe p
"""


@register("classifier_agreement", _agreement_sql())
def q_classifier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine-trained NB language classifier and
    the heuristic lang_id on the held-out fifth (both over the seeded
    text, so both see the planted signal). Marginal chance-agreement
    terms are 12-dp-snapped decimal sums over the label domain; kappa's
    degenerate pe = 1 case pins NULL in both engines. Contract in
    ``operators/classify.agreement_report``."""
    docs = _nb_seed_spark(read_table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)
    classes, model = CL.nb_train(train, "lang")
    pred = CL.nb_predict(held, classes, model)
    pairs = pred.select("doc_id", "predicted").join(
        held.select("doc_id", TX.lang_id(F.col("text")).alias("g")), "doc_id"
    )
    return CL.agreement_report(pairs, "predicted", "g")


# --------------------------------------------------------------------------
# logreg_quality_model: hard-sigmoid logistic regression trained by
# gradient descent, entirely relational and snapped — the third
# value-hashable trainer (NB = counting, k-means = snapped Lloyd, this =
# snapped GD). Labels are planted deterministically (odd doc_ids get a
# marker suffix), the pii_scrub fixture idiom, so the trainer has real
# signal to find and the oracle sees the identical corpus.
# --------------------------------------------------------------------------

_LR_MARK = " zzmarker zzmarker zzmarker"



def _nano_update_sql(w: str, se: str, n: str) -> str:
    """DuckDB mirror of operators/classify._nano_update: the weight update
    as exact 1e-9-unit integer arithmetic with an explicit half-up —
    avoids round(double, 9) landing exactly on 9-dp half boundaries
    (where the two engines' rounding disagrees)."""
    num, den = CL.LOGREG_LR_FRAC
    a = f"(CAST(({se}) * 1000000000 AS BIGINT) * {num})"
    d = f"(CAST({den} AS BIGINT) * ({n}))"
    q = (f"(CAST(sign({a}) AS BIGINT) * CAST(floor((2 * abs({a}) + {d})"
         f" / CAST(2 * {d} AS DOUBLE)) AS BIGINT))")
    return f"CAST(CAST(round(({w}) * 1e9) AS BIGINT) - {q} AS DOUBLE) / 1e9"


def _logreg_sql() -> str:
    return f"""
WITH {_logreg_body()}
SELECT b AS feature, w AS weight FROM w{CL.LOGREG_ITERS}
UNION ALL
SELECT CAST(-1 AS BIGINT) AS feature, bw AS weight FROM b{CL.LOGREG_ITERS}
ORDER BY feature
"""


def _logreg_body() -> str:
    """The trained-model CTE chain (labeled corpus -> w{N}/b{N}) without
    the WITH keyword or final SELECT — shared by ``logreg_quality_model``
    and the ``stream_doc_scoring`` evidence oracle, which appends scoring
    CTEs over the same converged weights."""
    B = CL.LOGREG_BUCKETS
    rounds = ""
    for r in range(1, CL.LOGREG_ITERS + 1):
        rounds += f""",
m{r} AS MATERIALIZED (
    SELECT pid, CAST(sum(CAST(w AS DECIMAL(25,9))) AS DOUBLE) AS sw
    FROM feats JOIN w{r-1} USING (b) GROUP BY pid
),
e{r} AS MATERIALIZED (
    SELECT l.pid AS pid,
           round(least(greatest(
                     0.25 * (coalesce(m.sw, 0.0) + b.bw) + 0.5, 0.0), 1.0)
                 - l.y, 9) AS e
    FROM lab l LEFT JOIN m{r} m USING (pid), b{r-1} b
),
w{r} AS MATERIALIZED (
    SELECT w.b AS b,
           {_nano_update_sql("w.w", "coalesce(g.se, CAST(0 AS DECIMAL(25,9)))", "n.n")} AS w
    FROM w{r-1} w
    LEFT JOIN (SELECT b, sum(CAST(e AS DECIMAL(25,9))) AS se
               FROM feats JOIN e{r} USING (pid) GROUP BY b) g USING (b), n
),
b{r} AS MATERIALIZED (
    SELECT {_nano_update_sql(
        "b.bw",
        f"coalesce((SELECT sum(CAST(e AS DECIMAL(25,9))) FROM e{r}), CAST(0 AS DECIMAL(25,9)))",
        "n.n")} AS bw
    FROM b{r-1} b, n
)"""
    return f"""labeled AS (
    SELECT doc_id AS pid,
           CASE WHEN doc_id % 2 = 1 THEN text || '{_LR_MARK}' ELSE text END AS text,
           CAST(doc_id % 2 AS INT) AS y
    FROM documents
),
lab AS (SELECT pid, y FROM labeled),
feats AS MATERIALIZED (
    SELECT DISTINCT pid,
           ('0x' || substr(md5(sh), 1, 15))::BIGINT % {B} AS b
    FROM (SELECT pid, unnest({_shingle_sql(2)}) AS sh
          FROM (SELECT pid, {_TOK.format(c='text')} AS tok FROM labeled))
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab),
w0 AS MATERIALIZED (SELECT DISTINCT b, CAST(0.0 AS DOUBLE) AS w FROM feats),
b0 AS (SELECT CAST(0.0 AS DOUBLE) AS bw){rounds}"""


@register("logreg_quality_model", _logreg_sql())
def q_logreg_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bigram hard-sigmoid logistic regression trained for 5
    full-batch GD rounds on a deterministically-labeled corpus (odd
    doc_ids carry a planted marker suffix — the pii_scrub fixture idiom).
    The hard sigmoid is a determinism requirement, not an approximation
    shortcut: IEEE exp is not correctly rounded, so an exp-based iterate
    could drift an ulp apart per round across engines, while *, +, clamp
    are exact. Every dot product and gradient sum runs as DECIMAL, every
    weight snaps to 9 dp — the trained model is bit-identical under any
    partitioning and in the DuckDB oracle. Contract in
    ``operators/classify.logreg_train_fixed_point``."""
    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.col("text"), F.lit(_LR_MARK))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("doc_id") % 2).cast("int").alias("y"),
    )
    iters = bench_iters("SPARK_GRAFT_BENCH_ITERS_LOGREG", CL.LOGREG_ITERS)
    return CL.logreg_train_fixed_point(labeled, iters=iters).orderBy("feature")


# --------------------------------------------------------------------------
# bpe_merges: BPE tokenizer training as relational algebra — the greedy
# left-to-right non-overlapping merge is a gaps-and-islands parity filter,
# so the whole training loop (pair count -> argmax -> merge) is relational
# rounds and the learned merge table is value-hashable. Oracle = generated
# unrolled rounds (the PCA/logreg idiom).
# --------------------------------------------------------------------------

_BPE_ROUNDS = 8


def _bpe_sql() -> str:
    rounds = ""
    for r in range(1, _BPE_ROUNDS + 1):
        rounds += f""",
pr{r} AS (
    SELECT a, b, sum(freq) AS cnt FROM (
        SELECT freq, sym AS a,
               lead(sym) OVER (PARTITION BY word ORDER BY p) AS b
        FROM s{r-1}
    ) WHERE b IS NOT NULL GROUP BY a, b
),
bp{r} AS MATERIALIZED (
    SELECT a, b, cnt FROM pr{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
ap{r} AS MATERIALIZED (
    SELECT word, p FROM (
        SELECT word, p, p - min(p) OVER (PARTITION BY word, grp) AS off
        FROM (
            SELECT word, p,
                   p - row_number() OVER (PARTITION BY word ORDER BY p) AS grp
            FROM (
                SELECT t.word, t.p FROM (
                    SELECT word, p, sym,
                           lead(sym) OVER (PARTITION BY word ORDER BY p) AS nx
                    FROM s{r-1}
                ) t, bp{r} bp WHERE t.sym = bp.a AND t.nx = bp.b
            )
        )
    ) WHERE off % 2 = 0
),
s{r} AS MATERIALIZED (
    -- positions renumbered dense each round: consumed-slot deletion and
    -- island parity are position arithmetic and require p+1 adjacency
    SELECT word, freq,
           row_number() OVER (PARTITION BY word ORDER BY p) - 1 AS p,
           sym
    FROM (
        SELECT s.word AS word, s.freq AS freq, s.p AS p,
               CASE WHEN a.p IS NOT NULL THEN bp.a || bp.b ELSE s.sym END AS sym
        FROM s{r-1} s
        LEFT JOIN ap{r} a ON s.word = a.word AND s.p = a.p
        LEFT JOIN ap{r} c ON s.word = c.word AND s.p = c.p + 1
        CROSS JOIN bp{r} bp
        WHERE c.p IS NULL
    )
)"""
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS merge_round, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM bp{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
WITH words AS MATERIALIZED (
    SELECT word, count(*) AS freq
    FROM (SELECT unnest({_TOK.format(c='text')}) AS word FROM documents)
    GROUP BY word
),
s0 AS MATERIALIZED (
    SELECT word, freq, t.i AS p,
           CASE WHEN t.i < length(word)
                THEN substr(word, CAST(t.i AS INT) + 1, 1)
                ELSE '</w>' END AS sym
    FROM words, unnest(range(0, length(word) + 1)) AS t(i)
){rounds}
SELECT * FROM ({finals})
ORDER BY merge_round
"""


@register("bpe_merges", _bpe_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus vocabulary (Sennrich et
    al. 2016), entirely relationally: frequency-weighted pair counts, a
    (count desc, pair asc) total-order argmax, and the greedy
    left-to-right non-overlapping merge reproduced by a gaps-and-islands
    parity filter — the sequential scan every imperative BPE trainer uses,
    as one window + one filter. Runs on the VOCABULARY relation (the
    corpus is touched once, by the word-count aggregation), per-word
    window partitions are bounded by word length, and the merge table is
    value-hashable. Contract in ``operators/tokenizer.bpe_train``."""
    from big_data_elt_pipeline_spark.operators import tokenizer as TK

    docs = read_table(spark, sf_dir, "documents")
    return TK.bpe_train(docs, rounds=_BPE_ROUNDS).orderBy("merge_round")


# --------------------------------------------------------------------------
# lang_id_report: per-class precision/recall/F1 of the heuristic language
# ID against the corpus lang column — the hard-decision companion of
# classifier_auc. Exact integer counts; ratio cells are single double
# divisions with NULL (not NaN) pinned for empty denominators.
# --------------------------------------------------------------------------

def _lang_report_sql() -> str:
    from big_data_elt_pipeline_spark.plans.text_queries import (
        _LANG_CASE,
        _LANG_SCORES,
    )

    return f"""
WITH scored AS (
    SELECT lang AS t, {_LANG_SCORES}
    FROM (SELECT lang, {_TOK.format(c='text')} AS tok FROM documents)
),
pairs AS (SELECT t, {_LANG_CASE} AS g FROM scored),
nt AS (SELECT t AS label, count(*) AS n_true FROM pairs GROUP BY 1),
np AS (SELECT g AS label, count(*) AS n_pred FROM pairs GROUP BY 1),
tp AS (SELECT t AS label, count(*) AS tp FROM pairs WHERE t = g GROUP BY 1),
rep AS (
    SELECT coalesce(nt.label, np.label) AS label,
           CAST(coalesce(n_true, 0) AS BIGINT) AS n_true,
           CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
           CAST(coalesce(tp, 0) AS BIGINT) AS tp
    FROM nt FULL OUTER JOIN np ON nt.label = np.label
    LEFT JOIN tp ON coalesce(nt.label, np.label) = tp.label
),
pr AS (
    SELECT label, n_true, n_pred, tp,
           CAST(tp AS DOUBLE) / NULLIF(n_pred, 0) AS precision,
           CAST(tp AS DOUBLE) / NULLIF(n_true, 0) AS recall
    FROM rep
)
SELECT label, n_true, n_pred, tp, precision, recall,
       2.0 * precision * recall / NULLIF(precision + recall, 0.0) AS f1
FROM pr
ORDER BY label
"""


@register("lang_id_report", _lang_report_sql())
def q_lang_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the n-gram-marker language ID
    against the corpus ``lang`` column. Three partial-aggregated groupBys
    over the bounded label domain + one label-sized full outer join — no
    corpus shuffle; ``try_divide`` pins 0-denominator cells to NULL so the
    table hashes identically cross-engine. Contract in
    ``operators/classify.classification_report``."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("lang").alias("t"), TX.lang_id(F.col("text")).alias("g")
    )
    return CL.classification_report(pairs).orderBy("label")


_BPE_VOCAB_TOP = 25

_BPE_VOCAB_TAIL = f"""
SELECT sym AS piece,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(freq) AS BIGINT) AS total_freq
FROM s{_BPE_ROUNDS}
GROUP BY sym
ORDER BY total_freq DESC, piece ASC
LIMIT {_BPE_VOCAB_TOP}
"""


def _bpe_vocab_sql() -> str:
    # reuse the training CTE chain; replace the merge-table tail with the
    # learned-piece corpus histogram over the final symbol state
    full = _bpe_sql()
    tail_at = full.rindex("SELECT * FROM (")
    return full[:tail_at] + _BPE_VOCAB_TAIL


@register("bpe_vocab", _bpe_vocab_sql())
def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 learned BPE pieces by frequency-weighted corpus coverage —
    the "tokenize the corpus with the vocabulary you just trained" audit,
    straight off the trainer's final symbol relation (one bounded groupBy
    over the piece domain; total-order (freq desc, piece asc) top-k).
    Contract in ``operators/tokenizer.bpe_train_state``."""
    from big_data_elt_pipeline_spark.operators import tokenizer as TK

    docs = read_table(spark, sf_dir, "documents")
    _, syms = TK.bpe_train_state(docs, rounds=_BPE_ROUNDS)
    return (
        syms.groupBy(F.col("sym").alias("piece"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("total_freq"),
        )
        .orderBy(F.desc("total_freq"), F.asc("piece"))
        .limit(_BPE_VOCAB_TOP)
    )


# --------------------------------------------------------------------------
# unigram_vocab / unigram_segment: the SECOND tokenizer family (Kudo 2018
# unigram LM, SentencePiece-class) — seed substring vocabulary, one hard-EM
# (Viterbi) re-estimation round, Viterbi-best segmentation. The per-word
# forward DP is unrolled as rounds over the END-POSITION axis (round j =
# best path ending at char j for every word at once), so both the trained
# table and the segmentation are value-hashable. Oracle = generated
# unrolled DP CTEs (the BPE/PCA idiom); the min-struct survivor maps to a
# row_number() pick over the identical (neg_score, path) total order.
# --------------------------------------------------------------------------

def _uni_dp_ctes(tag: str, vocab_cte: str, max_word: int, max_piece: int) -> str:
    """The Viterbi DP CTE chain under the (piece, logp) relation
    ``vocab_cte``: c{tag} (weighted candidates), f{tag}_0..f{tag}_max_word
    (frontiers), seg{tag} (per-word best path). Mirrors
    ``tokenizer._uni_viterbi`` — DECIMAL(25,6) neg-score sums of 6-dp logp
    snaps, ties broken by path ASC, identical in both engines."""
    out = f""",
c{tag} AS MATERIALIZED (
    SELECT c.word, c.start AS s, c.e, c.piece,
           CAST(0 AS DECIMAL(25,6)) - CAST(round(v.logp, 6) AS DECIMAL(25,6)) AS w
    FROM cand c JOIN {vocab_cte} v USING (piece)
),
f{tag}_0 AS (SELECT word, 0 AS e, CAST(0 AS DECIMAL(25,6)) AS ns, '' AS path
             FROM words)"""
    for j in range(1, max_word + 1):
        pool = "\n        UNION ALL\n        ".join(
            f"SELECT word, e, ns, path FROM f{tag}_{i}"
            for i in range(max(0, j - max_piece), j)
        )
        out += f""",
f{tag}_{j} AS MATERIALIZED (
    SELECT word, {j} AS e, ns, path FROM (
        SELECT word, ns, path,
               row_number() OVER (PARTITION BY word
                                  ORDER BY ns ASC, path ASC) AS rn
        FROM (
            SELECT p.word AS word,
                   CAST(p.ns + c.w AS DECIMAL(25,6)) AS ns,
                   CASE WHEN p.path = '' THEN c.piece
                        ELSE p.path || chr(31) || c.piece END AS path
            FROM ({pool}) p
            JOIN c{tag} c ON c.word = p.word AND c.s = p.e AND c.e = {j}
        )
    ) WHERE rn = 1
)"""
    finals = "\n        UNION ALL\n        ".join(
        f"SELECT word, e, path FROM f{tag}_{j}" for j in range(1, max_word + 1)
    )
    out += f""",
seg{tag} AS MATERIALIZED (
    SELECT w.word, w.freq, f.path,
           CAST(len(str_split(f.path, chr(31))) AS BIGINT) AS n_pieces
    FROM words w
    JOIN ({finals}) f ON f.word = w.word AND f.e = length(w.word)
)"""
    return out


def _uni_base_ctes() -> str:
    """words / cand / seed vocabulary / smoothed final vocabulary — the
    shared training prefix of both unigram queries."""
    from big_data_elt_pipeline_spark.operators.tokenizer import (
        UNI_MAX_PIECE,
        UNI_MAX_WORD,
        UNI_VOCAB_TOP,
    )

    return f"""words AS MATERIALIZED (
    SELECT word, count(*) AS freq FROM (
        SELECT unnest({_TOK.format(c='text')}) AS word FROM documents
    ) WHERE word <> '' AND length(word) <= {UNI_MAX_WORD}
    GROUP BY word
),
cand AS MATERIALIZED (
    SELECT w.word, w.freq, CAST(s.i AS INT) AS start,
           substr(w.word, CAST(s.i AS INT) + 1, CAST(k.j AS INT)) AS piece,
           CAST(s.i + k.j AS INT) AS e
    FROM words w,
         unnest(range(0, length(w.word))) AS s(i),
         unnest(range(1, {UNI_MAX_PIECE + 1})) AS k(j)
    WHERE s.i + k.j <= length(w.word)
),
counts AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS seed_count
           FROM cand GROUP BY piece),
vocab0 AS MATERIALIZED (
    SELECT piece, seed_count FROM counts WHERE length(piece) = 1
    UNION ALL
    SELECT piece, seed_count FROM (
        SELECT piece, seed_count FROM counts WHERE length(piece) > 1
        ORDER BY seed_count DESC, piece ASC LIMIT {UNI_VOCAB_TOP}
    )
),
vtot AS (SELECT CAST(sum(seed_count) AS BIGINT) AS t FROM vocab0),
seedv AS MATERIALIZED (
    SELECT piece, seed_count,
           round(ln(CAST(seed_count AS DOUBLE) / CAST(t AS DOUBLE)), 6) AS logp
    FROM vocab0, vtot
){_uni_dp_ctes("1", "seedv", UNI_MAX_WORD, UNI_MAX_PIECE)},
vc AS (
    SELECT piece, CAST(sum(freq) AS BIGINT) AS viterbi_count FROM (
        SELECT freq, unnest(str_split(path, chr(31))) AS piece FROM seg1
    ) GROUP BY piece
),
sm AS MATERIALIZED (
    SELECT s.piece, s.seed_count,
           coalesce(vc.viterbi_count, 0) AS viterbi_count
    FROM seedv s LEFT JOIN vc USING (piece)
),
tot2 AS (SELECT CAST(sum(viterbi_count) AS BIGINT) AS t,
                CAST(count(*) AS BIGINT) AS v FROM sm),
finalv AS MATERIALIZED (
    SELECT piece, CAST(seed_count AS BIGINT) AS seed_count,
           CAST(viterbi_count AS BIGINT) AS viterbi_count,
           round(ln(CAST(viterbi_count + 1 AS DOUBLE)
                    / CAST(t + v AS DOUBLE)), 6) AS logp
    FROM sm, tot2
)"""


def _unigram_vocab_sql() -> str:
    return f"""
WITH {_uni_base_ctes()}
SELECT piece, seed_count, viterbi_count, logp
FROM finalv
ORDER BY piece
"""


def _unigram_segment_sql() -> str:
    from big_data_elt_pipeline_spark.operators.tokenizer import (
        UNI_MAX_PIECE,
        UNI_MAX_WORD,
    )

    return f"""
WITH {_uni_base_ctes()}{_uni_dp_ctes("2", "finalv", UNI_MAX_WORD, UNI_MAX_PIECE)},
dwords AS (
    SELECT doc_id, word FROM (
        SELECT doc_id, unnest({_TOK.format(c='text')}) AS word FROM documents
    ) WHERE word <> ''
),
per AS (
    SELECT d.doc_id,
           coalesce(s.n_pieces, 1) AS np,
           CASE WHEN s.n_pieces IS NULL THEN 1 ELSE 0 END AS unk
    FROM dwords d LEFT JOIN seg2 s USING (word)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(np) AS BIGINT) AS n_pieces,
       CAST(sum(unk) AS BIGINT) AS n_unk,
       CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS pieces_per_word
FROM per
GROUP BY doc_id
ORDER BY doc_id
"""


@register("unigram_vocab", _unigram_vocab_sql())
def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram-LM vocabulary — (piece, seed_count,
    viterbi_count, logp) after one hard-EM round: seed substring counts,
    Viterbi-best resegmentation of every vocabulary word under the seed
    probabilities, add-one-smoothed re-estimation. The forward DP runs as
    unrolled relational rounds over the end position, never per-row
    Python. Contract in ``operators/tokenizer.unigram_train``."""
    from big_data_elt_pipeline_spark.operators import tokenizer as TK

    docs = read_table(spark, sf_dir, "documents")
    final, _ = TK.unigram_train(
        docs,
        max_word=bench_iters("SPARK_GRAFT_BENCH_ITERS_UNIGRAM", TK.UNI_MAX_WORD),
    )
    return final.orderBy("piece")


@register("unigram_segment", _unigram_segment_sql())
def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the TRAINED unigram model — train
    (seed + one Viterbi-EM round), segment every distinct corpus word
    under the final log-probs, join piece counts back to the doc-word
    relation (the ``bpe_doc_tokens`` apply-side shape); over-length words
    count as one <unk> piece. bench.py may shorten the DP round count via
    SPARK_GRAFT_BENCH_ITERS_UNIGRAM to measure the per-round shape; the
    correctness driver and parity tests never set it. Contract in
    ``operators/tokenizer.unigram_doc_tokens``."""
    from big_data_elt_pipeline_spark.operators import tokenizer as TK

    docs = read_table(spark, sf_dir, "documents")
    return TK.unigram_doc_tokens(
        docs,
        max_word=bench_iters("SPARK_GRAFT_BENCH_ITERS_UNIGRAM", TK.UNI_MAX_WORD),
    )


# --------------------------------------------------------------------------
# curation_recipe: the end-to-end modern curation pipeline (RefinedWeb /
# FineWeb shape) — URL filter -> C4 line cleaning -> Gopher rules -> LM
# fluency cut -> exact dedup — SEQUENTIALLY, each stage over the previous
# stage's survivors (order matters: the LM median is the median of what
# reaches it), with the per-stage attrition audit every corpus report
# leads with. The oracle composes the SAME stage SQL used by the
# individual gates, re-pointed at each survivor relation.
# --------------------------------------------------------------------------

def _stage_sub(stage_sql: str, input_cte: str) -> str:
    """Re-point a standalone stage oracle at a survivor CTE. Each stage
    SQL reads `FROM documents` exactly ONCE by construction — asserted so
    a future edit cannot silently leave half a stage reading the raw
    corpus."""
    if stage_sql.count("FROM documents") != 1:
        raise ValueError("stage SQL must read FROM documents exactly once")
    return "(" + stage_sql.replace("FROM documents", f"FROM {input_cte}") + ")"


def _recipe_sql() -> str:
    return f"""
WITH d0 AS (SELECT doc_id, text FROM documents),
u AS (SELECT doc_id, keep FROM {_stage_sub(_URL_SQL, 'd0')}),
d1 AS (SELECT d0.* FROM d0 JOIN u USING (doc_id) WHERE u.keep),
c AS (SELECT doc_id, keep_doc FROM {_stage_sub(_C4_SQL, 'd1')}),
d2 AS (SELECT d1.* FROM d1 JOIN c USING (doc_id) WHERE c.keep_doc),
g AS (SELECT doc_id, keep_doc FROM {_stage_sub(_gopher_sql(), 'd2')}),
d3 AS (SELECT d2.* FROM d2 JOIN g USING (doc_id) WHERE g.keep_doc),
l AS (SELECT doc_id, keep FROM {_stage_sub(_LM_SQL, 'd3')}),
d4 AS (SELECT d3.* FROM d3 JOIN l USING (doc_id) WHERE l.keep),
fp AS (SELECT doc_id,
              md5(array_to_string({_TOK.format(c='text')}, ' ')) AS fp
       FROM d4),
sv AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
d5 AS (SELECT d4.* FROM d4 JOIN sv USING (doc_id)),
n0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d0),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d1),
n2 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d2),
n3 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d3),
n4 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d4),
n5 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d5)
SELECT * FROM (
    SELECT '1_url' AS stage, n0.c AS docs_in, n1.c AS docs_out,
           n0.c - n1.c AS removed FROM n0, n1
    UNION ALL SELECT '2_c4', n1.c, n2.c, n1.c - n2.c FROM n1, n2
    UNION ALL SELECT '3_gopher', n2.c, n3.c, n2.c - n3.c FROM n2, n3
    UNION ALL SELECT '4_lm', n3.c, n4.c, n3.c - n4.c FROM n3, n4
    UNION ALL SELECT '5_dedup', n4.c, n5.c, n4.c - n5.c FROM n4, n5
)
ORDER BY stage
"""


@register("curation_recipe", _recipe_sql())
def q_curation_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation in the RefinedWeb/FineWeb stage order — URL
    blocklist, C4 line cleaning, Gopher document rules, LM fluency cut at
    the survivors' median, exact dedup (skew-safe min-per-fingerprint
    survivor, the r8 discipline) — each stage consuming the previous
    stage's survivors via left_semi joins, emitting the per-stage
    attrition audit. Stage costs: URL/C4/Gopher are map-only flags, LM is
    one bucket-bounded model build + a broadcast probe, dedup one
    partial-aggregated groupBy(fingerprint); the semi-joins are
    AQE-sized. Contracts in ``operators/quality`` / ``operators/
    classify``; stage oracles are the SAME SQL as the individual gates,
    composed."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Stages 1-3 are MAP-ONLY per-document flags: evaluating them on the
    # raw corpus or on a survivor subset yields the same per-doc verdict,
    # so the SEQUENTIAL counts equal cumulative flag-ANDs — one combined
    # flag relation and ONE aggregate replace the naive per-stage
    # semi-join/count chain (whose lazy recompute ballooned to 91
    # exchanges in the plan audit). LM (median of what reaches it) and
    # dedup (first-survivor-relative) are genuinely order-dependent and
    # stay sequential over the stage-3 survivors.
    u = QL.url_domain_audit(_url_seed_spark(docs)).select(
        "doc_id", F.col("keep").alias("k1")
    )
    c4 = QL.c4_line_stats(docs).select(
        "doc_id", F.col("keep_doc").alias("k2")
    )
    g = QL.gopher_rules(docs).select(
        "doc_id", F.col("keep_doc").alias("k3")
    )
    flg = (
        docs.join(u, "doc_id").join(c4, "doc_id").join(g, "doc_id")
        .select(
            "doc_id", "text", "k1",
            (F.col("k1") & F.col("k2")).alias("k12"),
            (F.col("k1") & F.col("k2") & F.col("k3")).alias("k123"),
        )
    )
    c0123 = flg.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("k1").cast("long")).alias("n1"),
        F.sum(F.col("k12").cast("long")).alias("n2"),
        F.sum(F.col("k123").cast("long")).alias("n3"),
    )
    d3 = flg.filter("k123").select("doc_id", "text")
    lm = QL.lm_scores(d3)
    d4 = d3.join(lm.filter("keep").select("doc_id"), "doc_id", "left_semi")
    fp = d4.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
    sv = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    c45 = d4.agg(F.count(F.lit(1)).alias("n4")).crossJoin(
        sv.agg(F.count(F.lit(1)).alias("n5"))
    )
    ns = c0123.crossJoin(c45)
    rows = [
        ("1_url", "n0", "n1"),
        ("2_c4", "n1", "n2"),
        ("3_gopher", "n2", "n3"),
        ("4_lm", "n3", "n4"),
        ("5_dedup", "n4", "n5"),
    ]
    # one explode over the single counts row — a per-row UNION would lazily
    # recompute the whole funnel once per audit row
    return ns.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.col(cin).cast("long").alias("docs_in"),
                        F.col(cout).cast("long").alias("docs_out"),
                        (F.col(cin) - F.col(cout)).cast("long").alias(
                            "removed"
                        ),
                    )
                    for name, cin, cout in rows
                ]
            )
        ).alias("r")
    ).select("r.*").orderBy("stage")


_BPE_DOC_TAIL = f"""
,
wp AS (
    SELECT word, CAST(count(*) AS BIGINT) AS n_pieces
    FROM s{_BPE_ROUNDS} GROUP BY word
),
docw AS (
    SELECT doc_id, unnest({_TOK.format(c='text')}) AS word FROM documents
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wp.n_pieces) AS BIGINT) AS n_pieces
FROM docw JOIN wp USING (word)
GROUP BY doc_id
ORDER BY doc_id
"""


def _bpe_doc_tokens_sql() -> str:
    """Training CTE chain + the per-doc piece-count tail (the merge-table
    tail is cut at its final SELECT, like _bpe_vocab_sql)."""
    full = _bpe_sql()
    tail_at = full.rindex("SELECT * FROM (")
    head = full[:tail_at].rstrip()
    if not head.endswith(")"):
        raise ValueError("unexpected _bpe_sql shape")
    return head + _BPE_DOC_TAIL


@register("bpe_doc_tokens", _bpe_doc_tokens_sql())
def q_bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus's own learned BPE
    vocabulary — the cost model every sequence-packing / mixture-budget
    stage actually needs (whitespace words over-count short morphemes,
    under-count rare words). No driver-side model: each word's piece
    count comes straight off the trainer's final symbol relation (one
    vocabulary-bounded groupBy), then one broadcast-ish join from the
    word occurrences. Contract in ``operators/tokenizer.bpe_train_state``."""
    from big_data_elt_pipeline_spark.operators import tokenizer as TK
    from big_data_elt_pipeline_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    _, syms = TK.bpe_train_state(docs, rounds=_BPE_ROUNDS)
    wp = syms.groupBy("word").agg(F.count(F.lit(1)).alias("n_pieces"))
    docw = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    return (
        docw.join(wp, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .orderBy("doc_id")
    )


def _stream_scoring_sql() -> str:
    """Evidence oracle: retrain the logreg weights in SQL (the shared
    ``_logreg_body`` unrolled rounds), rescore every RAW document
    relationally (join of the doc's DISTINCT hashed bigrams with the
    weight table — equals the stream's in-row decimal fold by exact
    associativity), and emit the comparison-relation checksums."""
    B = CL.LOGREG_BUCKETS
    it = CL.LOGREG_ITERS
    return f"""
WITH {_logreg_body()},
model AS (
    SELECT b AS feature, w AS weight FROM w{it}
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS feature, bw AS weight FROM b{it}
),
dfeats AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(sh), 1, 15))::BIGINT % {B} AS b
    FROM (SELECT doc_id, unnest({_shingle_sql(2)}) AS sh
          FROM (SELECT doc_id, {_TOK.format(c='text')} AS tok FROM documents))
),
msum AS (
    SELECT d.doc_id, CAST(sum(CAST(m.weight AS DECIMAL(25,9))) AS DOUBLE) AS sw
    FROM dfeats d JOIN model m ON m.feature = d.b
    GROUP BY d.doc_id
),
bias AS (SELECT weight AS bw FROM model WHERE feature = -1),
scored AS (
    SELECT dd.doc_id,
           least(greatest(
               0.25 * (coalesce(m.sw, 0.0) + b.bw) + 0.5, 0.0), 1.0) AS score
    FROM (SELECT doc_id FROM documents) dd
    LEFT JOIN msum m USING (doc_id), bias b
)
SELECT CAST(count(*) AS BIGINT) AS n_stream,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(CAST(round(score * 1000000000.0, 0) AS BIGINT))
            AS BIGINT) AS sum_score_nanos,
       CAST(sum(CASE WHEN score > 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_predicted
FROM scored
"""


@register("stream_doc_scoring", _stream_scoring_sql())
def q_stream_doc_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-sigmoid logreg scoring of a document FILE STREAM under HASH
    evidence (r11 — the last non-model-fit rows-only entry promoted):
    the model (trained batch-side on the planted-label corpus) broadcasts
    into each micro-batch as a single-row map column and the margin is an
    exact decimal fold INSIDE the row — stateless append-mode streaming
    with no watermark, no state store, no shuffle. The returned relation
    compares the stream against the batch twin (n_mismatch = symmetric
    exceptAll) with score/prediction checksums the oracle recomputes by
    retraining the same fixed-point weights in SQL and rescoring
    relationally. Contract in ``streaming/scoring.py``."""
    from big_data_elt_pipeline_spark.streaming.scoring import (
        stream_doc_scoring_evidence,
    )

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.col("text"), F.lit(_LR_MARK))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("doc_id") % 2).cast("int").alias("y"),
    )
    # checkpoint the 251-row model once: the stream AND the batch twin
    # both consume it — without this the 5-round GD plan runs twice
    model = CL.logreg_train_fixed_point(labeled).localCheckpoint(eager=True)
    return stream_doc_scoring_evidence(spark, sf_dir, model)


# --------------------------------------------------------------------------
# doc_entropy: character-level Shannon entropy — the gibberish/binary
# detector next to the length/stopword/punct heuristics, gopher repetition
# and lm perplexity filters. Contributions are 6-dp-quantized and summed
# as DECIMAL (the BM25 log discipline), so the per-doc entropy is
# value-hashable cross-engine.
# --------------------------------------------------------------------------

_DOC_ENTROPY_SQL = """
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
cc AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
tot AS (
    SELECT doc_id, sum(c) AS n, count(*) AS n_distinct, max(c) AS maxc
    FROM cc GROUP BY doc_id
),
ent AS (
    SELECT cc.doc_id,
           CAST(sum(CAST(round(
               -((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6)
             AS DECIMAL(25,6))) AS DOUBLE) AS entropy_bits
    FROM cc JOIN tot USING (doc_id)
    GROUP BY cc.doc_id
)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_chars,
       CAST(t.n_distinct AS BIGINT) AS n_distinct_chars,
       e.entropy_bits,
       CAST(t.maxc AS DOUBLE) / CAST(t.n AS DOUBLE) AS top_char_share,
       e.entropy_bits < 2.0 AS low_entropy
FROM tot t JOIN ent e USING (doc_id)
"""


@register("doc_entropy", _DOC_ENTROPY_SQL)
def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy + top-char share + low-entropy flag:
    the quality signal that catches what the token-ratio heuristics miss
    (binary blobs, base64 runs, single-symbol spam). Contract in
    ``operators/quality.char_entropy``."""
    docs = read_table(spark, sf_dir, "documents")
    return QL.char_entropy(docs)


# --------------------------------------------------------------------------
# sketch_overlap_triage: cross-shard overlap ESTIMATION from stored HLL
# sketches (r14) — the decontamination-triage shape at 100 TB: keep one
# kilobyte shingle sketch per shard/source, estimate |A ∩ B| for every
# pair by inclusion-exclusion over LOSSLESS sketch merges (est_a + est_b
# - est(merge(a,b)) — merge == sketch-of-union exactly, functions/
# sketches.py), and spend the exact n-gram join (contamination_check)
# only on pairs the estimate flags. Bounded-assertion oracle (the
# kpis_approx discipline): the exact per-shard distincts, pairwise
# unions and intersections are cross-engine hash-exact, and the boolean
# asserts the estimate lands within 0.05 x the exact union (~5x the
# worst error measured at both fixture SFs: 1.1%).
# --------------------------------------------------------------------------

_OVERLAP_SQL = f"""
WITH base AS (
    SELECT doc_id, {_TOK.format(c='text')} AS tok FROM documents
),
rel AS (
    SELECT DISTINCT CAST(doc_id % 3 AS INT) AS shard, s
    FROM (SELECT doc_id, unnest({_shingle_sql(3)}) AS s FROM base)
),
flags AS (
    SELECT s,
           max(CASE WHEN shard = 0 THEN 1 ELSE 0 END) AS p0,
           max(CASE WHEN shard = 1 THEN 1 ELSE 0 END) AS p1,
           max(CASE WHEN shard = 2 THEN 1 ELSE 0 END) AS p2
    FROM rel GROUP BY s
),
agg AS (
    SELECT CAST(sum(p0) AS BIGINT) AS n0,
           CAST(sum(p1) AS BIGINT) AS n1,
           CAST(sum(p2) AS BIGINT) AS n2,
           CAST(sum(p0 * p1) AS BIGINT) AS i01,
           CAST(sum(p0 * p2) AS BIGINT) AS i02,
           CAST(sum(p1 * p2) AS BIGINT) AS i12,
           CAST(sum(greatest(p0, p1)) AS BIGINT) AS u01,
           CAST(sum(greatest(p0, p2)) AS BIGINT) AS u02,
           CAST(sum(greatest(p1, p2)) AS BIGINT) AS u12
    FROM flags
)
SELECT * FROM (
    SELECT CAST(0 AS INT) AS shard_a, CAST(1 AS INT) AS shard_b,
           n0 AS exact_a, n1 AS exact_b, u01 AS exact_union,
           i01 AS exact_overlap, TRUE AS overlap_within_bound FROM agg
    UNION ALL
    SELECT CAST(0 AS INT), CAST(2 AS INT), n0, n2, u02, i02, TRUE FROM agg
    UNION ALL
    SELECT CAST(1 AS INT), CAST(2 AS INT), n1, n2, u12, i12, TRUE FROM agg
)
ORDER BY shard_a, shard_b
"""


@register("sketch_overlap_triage", _OVERLAP_SQL)
def q_sketch_overlap_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shard-overlap triage from mergeable HLL sketches: shard
    the corpus by ``doc_id % 3``, sketch each shard's distinct trigram
    shingles once (1.6 kB at lg_k=12), and estimate every pairwise
    intersection by inclusion-exclusion over the stored sketches — at
    100 TB this replaces a |vocab|-scale shuffle per shard PAIR with a
    kilobyte merge, reserving the exact shared-shingle join for flagged
    pairs. Hash-exact columns: per-shard exact distincts, exact unions
    and intersections, plus the boolean |est - exact| <= 0.05 * union
    the oracle asserts TRUE (bound = ~5x the worst measured error at
    both fixture SFs). Raw estimates stay pinned by
    ``tests/test_sketches.py::test_overlap_estimate_contract``.

    Plan: one corpus scan -> shingle explode -> (shard, shingle)
    distinct; the sketch branch is map-side combinable into 3 rows, the
    exact branch is one groupBy(shingle) presence-flag fold + a single
    global aggregate unpivoted with ``stack`` — no self-join of the
    shingle relation anywhere.
    """
    from big_data_elt_pipeline_spark.functions import sketches as SK

    docs = read_table(spark, sf_dir, "documents")
    rel = docs.select(
        (F.col("doc_id") % 3).cast("int").alias("shard"),
        F.explode(TX.word_shingles(F.col("text"), 3)).alias("s"),
    ).distinct()

    flags = rel.groupBy("s").agg(
        *[
            F.max((F.col("shard") == i).cast("int")).alias(f"p{i}")
            for i in range(3)
        ]
    )
    exact = flags.agg(
        *[F.sum(f"p{i}").cast("long").alias(f"n{i}") for i in range(3)],
        *[
            F.sum(F.col(f"p{a}") * F.col(f"p{b}")).cast("long").alias(f"i{a}{b}")
            for a, b in ((0, 1), (0, 2), (1, 2))
        ],
        *[
            F.sum(F.greatest(f"p{a}", f"p{b}")).cast("long").alias(f"u{a}{b}")
            for a, b in ((0, 1), (0, 2), (1, 2))
        ],
    )
    pairs = exact.select(
        F.expr(
            "stack(3, "
            "cast(0 as int), cast(1 as int), n0, n1, u01, i01, "
            "cast(0 as int), cast(2 as int), n0, n2, u02, i02, "
            "cast(1 as int), cast(2 as int), n1, n2, u12, i12) "
            "as (shard_a, shard_b, exact_a, exact_b, exact_union, "
            "exact_overlap)"
        )
    )

    sk = SK.build_sketch_table(rel, ["shard"], "s")
    a, b = sk.alias("a"), sk.alias("b")
    est = a.join(b, F.col("a.shard") < F.col("b.shard")).select(
        F.col("a.shard").cast("int").alias("shard_a"),
        F.col("b.shard").cast("int").alias("shard_b"),
        (
            F.hll_sketch_estimate("a.sketch")
            + F.hll_sketch_estimate("b.sketch")
            - F.hll_sketch_estimate(F.hll_union("a.sketch", "b.sketch"))
        ).alias("est_overlap"),
    )
    return (
        pairs.join(F.broadcast(est), ["shard_a", "shard_b"])
        .select(
            "shard_a",
            "shard_b",
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_overlap",
            (
                F.abs(F.col("est_overlap") - F.col("exact_overlap"))
                <= 0.05 * F.col("exact_union")
            ).alias("overlap_within_bound"),
        )
        .orderBy("shard_a", "shard_b")
    )

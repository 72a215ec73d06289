"""North-star corpus-sampling and ordering ops: the selection stage of an
LLM training-data pipeline.  Everything here is hash-deterministic — a
reproducible pipeline must select the same rows and produce the same
training order no matter how the data is partitioned, so every choice is
a pure function of row content (md5, byte-identical across engines,
SURVEY.md §7.4.8), never an RNG stream or a physical row position.

Scale notes: stratified sampling is one window rank per stratum (single
shuffle on the stratum key, k rows kept per group map-side after AQE);
vocabulary coverage is two hash aggregates plus a broadcast join of the
tiny vocab; shard ordering is one window over the shard key — at 100 TB
each shard sorts independently, no global sort ever happens.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import tokens

_STRAT_K = 20  # docs kept per language stratum
# Vocabulary size for the coverage cut.  Round-10 vacuity fix: the corpus
# has only 31 distinct tokens, so the original K=50 put EVERY token in
# vocab and oov_e4 was the constant 0 for every language — a dead column
# riding its old green row (caught by the promoted rule-3 audit review).
# K=12 leaves ~58% of token mass out-of-vocab with per-lang spread at
# every SF (same cut llm_vocab_oov_persisted uses); the op is un-greened
# via stale_before=11 so only round-11+ driver rows count.
_VOCAB_K = 12
_SHARDS = 8  # training shards


@register(
    "llm_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= {_STRAT_K}
    """,
)
def llm_stratified_sample(spark, sf_dir):
    """Deterministic stratified sample: keep {K} documents per language,
    ranked by content hash — a per-stratum quota that is stable across
    reruns, repartitioning and cluster sizes (unlike df.sample, whose RNG
    stream depends on partition layout).  One window rank per stratum;
    the languages are the shuffle keys, so skewed strata split under AQE."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _STRAT_K)
        .select("doc_id", "lang", "source")
    )


@register(
    "llm_vocab_coverage",
    oracle=f"""
    WITH toks AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM freq ORDER BY c DESC, tok LIMIT {_VOCAB_K})
    SELECT lang, count(*) AS total_tokens,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END)
             * 10000 // count(*) AS BIGINT) AS oov_e4
    FROM toks GROUP BY lang
    """,
)
def llm_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage audit: build the top-12 token vocabulary
    (frequency desc, token asc — a total order, so the cut is exact),
    then measure each language's out-of-vocabulary token rate.  The OOV
    ratio is integer-scaled (units 1e-4) via integer division.  The vocab
    is tiny by construction and broadcasts; the token stream is aggregated
    twice but never materialized row-per-token beyond the explode."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tokens("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("inv"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(F.when(F.col("inv").isNull(), 1).otherwise(0)).alias("_oov"),
        )
        .select(
            "lang",
            "total_tokens",
            F.expr("_oov * 10000 div total_tokens").alias("oov_e4"),
        )
    )


@register(
    "llm_shard_order",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx
               FROM documents)
    SELECT doc_id, lang,
           CAST(('0x' || substr(hx, 1, 4)) AS BIGINT) % {_SHARDS} AS shard,
           row_number() OVER (
             PARTITION BY CAST(('0x' || substr(hx, 1, 4)) AS BIGINT) % {_SHARDS}
             ORDER BY hx, doc_id) AS pos
    FROM h
    """,
)
def llm_shard_order(spark, sf_dir):
    """Deterministic global training-order shuffle: hash each document into
    one of {N} shards and rank it within its shard by the same hash — the
    classic "shuffle once, read sequentially" layout for training-data
    loaders.  Reproducible on any cluster (pure content hash, no RNG) and
    scalable: each shard orders independently under one window, so there
    is no global sort; at 100 TB the shard count simply grows."""
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(hx, 1, 4), 16, 10).cast("long") % _SHARDS
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return (
        d.select("doc_id", "lang", hx.alias("hx"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "lang", "shard", "pos")
    )


@register(
    "llm_mix_weights",
    oracle="""
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                          AS n_tokens
               FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
                      CAST(count(*) AS BIGINT) AS n_src
               FROM s)
    SELECT source, n_docs, n_tokens,
           CAST(n_tokens * 1000000 // tot AS BIGINT) AS share_e6,
           CAST(tot * 1000000 // (n_src * n_tokens) AS BIGINT) AS weight_e6
    FROM s, t
    """,
)
def llm_mix_weights(spark, sf_dir):
    """Corpus mix rebalancing: per-source token counts plus the sampling
    weight that would equalize the token mix across sources (weight_e6 =
    total / (n_sources * source_tokens), scaled 1e6) — the knob an LLM
    data pipeline turns to hit a target domain mixture (upsample rare
    sources, downsample dominant ones).

    Shape at scale: one hash aggregate over the corpus (map-side partial
    sums make the shuffle carry only per-source rows), then a single-row
    global rollup broadcast back onto the per-source frame — the corpus
    is never re-shuffled.  Ratios are integer-scaled BIGINT (determinism
    rule 7); the 1e6 scaling of a total-token count overflows int64 past
    ~9e12 corpus tokens, at which point this one expression is the switch
    point to DECIMAL(38,0)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).alias("tk")
    )
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("tk").alias("n_tokens")
    )
    t = s.agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n_src"))
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000000 div tot").alias("share_e6"),
        F.expr("tot * 1000000 div (n_src * n_tokens)").alias("weight_e6"),
    )

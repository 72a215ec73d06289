"""Round-7 late additions: training-data pipeline diagnostics that round
out the LLM curation surface (SURVEY.md §2.I extensions).

Theme: the measurements a data-engineering team runs BETWEEN pipeline
stages — tokenizer economics, shard balance, vocabulary growth, pairwise
overlap scoring, per-entity drift, and ranked quality — each expressed as
one declarative Spark plan with a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.ops.llm import _shingle_candidates
from biggie_spark.registry import register
from biggie_spark.util import fan_out, lineage_cap, r4, tokens

# The BPE-ish pre-tokenizer regex: letter/digit runs CAPPED at 4 chars
# (greedy left-to-right in both Java regex and RE2, so a 10-char word
# splits 4+4+2 identically in both engines) plus single punctuation.
# The cap models subword splitting — without it this corpus (lowercase
# words + single spaces) yields exactly one token per word and the
# fertility metric is vacuously 10000 everywhere (r8 vacuity audit).
_BPEISH = "[a-z]{1,4}|[0-9]{1,4}|[^a-z0-9 ]"


# ---------------------------------------------------------------------------
# tokenizer economics


@register(
    "llm_tokenizer_fertility",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,4}|[^a-z0-9 ]'))) AS BIGINT) AS n_toks,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,4}|[^a-z0-9 ]'))) * 10000
             // sum(len(string_split(lower(text), ' '))) AS BIGINT) AS fertility_e4,
           CAST(sum(length(text)) * 10000
             // nullif(sum(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,4}|[^a-z0-9 ]'))), 0) AS BIGINT) AS chars_per_tok_e4
    FROM documents GROUP BY lang, source
    """,
)
def llm_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility audit per (lang, source) bucket: BPE-ish tokens
    per whitespace word (fertility) and characters per token (compression),
    both e4-scaled integers.

    The production question this answers: which corpus slices blow up the
    token budget — a source whose fertility spikes (e.g. code or
    non-Latin text under a Latin-trained tokenizer) costs proportionally
    more training compute per word, and chars-per-token is the inverse
    lens (compression the tokenizer achieves).  Ratios are integer-scaled
    AFTER the group sums (`sum*10000 div sum`), so both engines emit
    identical BIGINTs — no float division anywhere.

    Shape at scale: one scan, both tokenizations fused into the same
    projection inside whole-stage codegen, one partial+final hash
    aggregate on a low-cardinality key.  No joins, no second pass."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.sum(F.size(tokens("text")))
    n_toks = F.sum(F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPEISH), 0)))
    n_chars = F.sum(F.length("text"))
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            n_words.alias("n_words"),
            n_toks.alias("n_toks"),
            n_chars.alias("n_chars"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            "n_toks",
            "n_chars",
            F.expr("n_toks * 10000 div n_words").alias("fertility_e4"),
            F.expr("n_chars * 10000 div nullif(n_toks, 0)").alias("chars_per_tok_e4"),
        )
    )


# ---------------------------------------------------------------------------
# shard assignment balance


@register(
    "llm_hash_shard_balance",
    oracle="""
    WITH s AS (SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                      n_chars
               FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS total,
                      CAST(sum(n_chars) AS BIGINT) AS total_chars FROM s)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           count(*) * 1000000 // min(n.total) AS share_e6,
           abs(count(*) * 1000000 // min(n.total) - 62500) AS dev_e6,
           CAST(sum(s.n_chars) AS BIGINT) AS n_chars
    FROM s CROSS JOIN n GROUP BY shard
    """,
)
def llm_hash_shard_balance(spark, sf_dir):
    """Shard-assignment balance audit: docs hashed into 16 shards by the
    first hex char of md5(doc_id); per shard the doc count, its e6-scaled
    share, the absolute deviation from the uniform 1/16 share (62500 e6),
    and the char mass (shard BYTE balance matters as much as row balance
    when shards become training files).

    This is the pre-flight check before writing training shards: a skewed
    shard is a straggler both at write time and at read time, and a
    pathological key (md5 here makes that impossible, but the audit is the
    proof) shows up as dev_e6 outliers.  Shares are integer-scaled before
    division so both engines emit identical BIGINTs.

    Shape at scale: one scan, one 16-group partial+final aggregate, plus a
    broadcast of the single global-total row.  The global count crossJoin
    is a 1-row broadcast — no shuffle beyond the 16-key aggregate."""
    d = load_table(spark, sf_dir, "documents").select(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        "n_chars",
    )
    per = d.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = d.agg(F.count("*").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        F.expr("n_docs * 1000000 div total").alias("share_e6"),
        F.expr("abs(n_docs * 1000000 div total - 62500)").alias("dev_e6"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# vocabulary growth (Heaps' law curve)


@register(
    "llm_ngram_coverage_curve",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                  FROM documents),
         sh AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(tk) - 1),
                                             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
                FROM toks WHERE len(tk) >= 3),
         fo AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
         b AS (SELECT first_doc // 50 AS bucket,
                      CAST(count(*) AS BIGINT) AS new_ngrams
               FROM fo GROUP BY 1)
    SELECT bucket, new_ngrams,
           CAST(sum(new_ngrams) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_ngrams
    FROM b
    """,
)
def llm_ngram_coverage_curve(spark, sf_dir):
    """Vocabulary-growth (Heaps' law) curve: per 50-doc ingest bucket, how
    many trigram shingles appear for the FIRST time, plus the running
    cumulative.  A flattening curve says the corpus is saturating (new
    data adds little novel phrasing — diminishing returns for training);
    a linear curve says keep crawling.

    First occurrence is min(doc_id) per distinct shingle — doc_id is the
    ingest order here, the same convention llm_shard_order uses.  The
    running total is a window over the BUCKET aggregate (corpus_size/50
    rows), so the unpartitioned window is bounded and cheap — the heavy
    lifting (shingle explode + min-groupBy) is a partial+final hash
    aggregate keyed by shingle, shuffle-parallel at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    tk = tokens("text")
    sh = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 2), "
                    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1), "
                    "' ', element_at(tk, i + 2)))"
                )
            ).alias("s"),
        )
    )
    fo = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    b = fo.groupBy(F.expr("first_doc div 50").alias("bucket")).agg(
        F.count("*").alias("new_ngrams")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return b.select("bucket", "new_ngrams", F.sum("new_ngrams").over(w).alias("cum_ngrams"))


# ---------------------------------------------------------------------------
# pairwise overlap scoring (ROUGE-2 over LSH candidates)


@register(
    "llm_rouge_ngram",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                  FROM documents),
         ft AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 3),
         sh AS (SELECT doc_id,
                       list_transform(range(1, len(tk) - 1),
                                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS sg
                FROM ft),
         exp AS (SELECT doc_id, unnest(sg) AS s FROM sh),
         h AS (SELECT doc_id, i, min(md5(s || ':' || CAST(i AS VARCHAR))) AS mh
               FROM exp, range(16) t(i) GROUP BY doc_id, i),
         sig AS (SELECT doc_id, list(mh ORDER BY i) AS s FROM h GROUP BY doc_id),
         bands AS (SELECT doc_id, b,
                          md5(s[8*b+1] || s[8*b+2] || s[8*b+3] || s[8*b+4] ||
                              s[8*b+5] || s[8*b+6] || s[8*b+7] || s[8*b+8]) AS bkey
                   FROM sig, range(2) t(b)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
                                           AND a.doc_id < b.doc_id),
         bg AS (SELECT doc_id,
                       list_distinct(list_transform(range(1, len(tk)),
                                                    i -> tk[i] || ' ' || tk[i+1])) AS bs
                FROM ft),
         ro AS (SELECT c.doc_a, c.doc_b,
                       CAST(len(list_intersect(a.bs, b.bs)) AS BIGINT) AS i,
                       CAST(len(a.bs) AS BIGINT) AS na,
                       CAST(len(b.bs) AS BIGINT) AS nb
                FROM cand c
                JOIN bg a ON a.doc_id = c.doc_a
                JOIN bg b ON b.doc_id = c.doc_b)
    SELECT doc_a, doc_b,
           i * 10000 // na AS p_e4,
           i * 10000 // nb AS r_e4,
           CASE WHEN i * 10000 // na + i * 10000 // nb > 0
                THEN 2 * (i * 10000 // na) * (i * 10000 // nb)
                     // (i * 10000 // na + i * 10000 // nb)
                ELSE 0 END AS f1_e4
    FROM ro
    """,
)
def llm_rouge_ngram(spark, sf_dir):
    """ROUGE-2 precision/recall/F1 (distinct-bigram overlap) for every
    LSH-candidate document pair — the eval-style overlap score that
    complements Jaccard: ROUGE is ASYMMETRIC, so a short doc wholly
    contained in a long one scores P=1.0/R=low where Jaccard just reports
    "somewhat similar" (the containment failure mode
    `llm_containment_dup` targets, here with the standard eval metric).

    Candidate generation is the shingle-banding pass shared with the
    near-dup family (`_shingle_candidates`, measured-linear candidates,
    band hash = the shuffle key), NEVER all pairs — ROUGE itself is two
    broadcast-size array intersections per candidate.  Set-ROUGE (distinct
    bigrams, not clipped multiset counts) is stated explicitly: for
    dedup-diagnostic use the distinction is immaterial and the set form
    keeps both engines on one `array_intersect`.  All three scores are
    e4-scaled integers (F1 computed FROM the scaled P/R, so `div`
    truncation is identical in both engines)."""
    cand, _ = _shingle_candidates(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    tk = tokens("text")
    # fan_out + lineage_cap (optimization r14): the bigram kernel is
    # per-row CPU over a single-split scan (guide §2.5), and the frame
    # feeds BOTH verify sides below — materialize it once instead of
    # running the kernel per side.
    bg = (
        fan_out(d.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 3))
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                )
            ).alias("bs"),
        )
        .transform(lineage_cap)
    )
    a = bg.select(F.col("doc_id").alias("doc_a"), F.col("bs").alias("bs_a"))
    b = bg.select(F.col("doc_id").alias("doc_b"), F.col("bs").alias("bs_b"))
    ro = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("bs_a", "bs_b")).cast("bigint").alias("i"),
            F.size("bs_a").cast("bigint").alias("na"),
            F.size("bs_b").cast("bigint").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("i * 10000 div na").alias("p_e4"),
            F.expr("i * 10000 div nb").alias("r_e4"),
        )
    )
    return ro.select(
        "doc_a",
        "doc_b",
        "p_e4",
        "r_e4",
        F.expr(
            "CASE WHEN p_e4 + r_e4 > 0 THEN 2 * p_e4 * r_e4 div (p_e4 + r_e4) "
            "ELSE 0 END"
        ).alias("f1_e4"),
    )


# ---------------------------------------------------------------------------
# per-entity behavioral drift (Jensen-Shannon)


@register(
    "agg_js_divergence",
    oracle="""
    WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
         u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS nu FROM c GROUP BY 1),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS gc FROM events GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
         grid AS (SELECT u.user_id, u.nu, g.event_type, g.gc, n.n
                  FROM u CROSS JOIN g CROSS JOIN n),
         t AS (SELECT grid.user_id, grid.nu,
                      coalesce(c.c, 0) * 1.0 / grid.nu AS p,
                      grid.gc * 1.0 / grid.n AS q
               FROM grid LEFT JOIN c ON c.user_id = grid.user_id
                                    AND c.event_type = grid.event_type)
    SELECT user_id, min(nu) AS n_events,
           CAST(round(sum(0.5 * (CASE WHEN p > 0 THEN p * ln(2 * p / (p + q)) ELSE 0 END)
                          + 0.5 * q * ln(2 * q / (p + q))), 4) + 0 AS DOUBLE) AS js_nats
    FROM t GROUP BY user_id
    """,
)
def agg_js_divergence(spark, sf_dir):
    """Per-user Jensen-Shannon divergence between the user's event-type
    distribution and the corpus-wide mix — the symmetric, bounded
    ([0, ln 2]) drift score that screening pipelines prefer over raw KL
    (KL explodes on a zero bin; JS never does because the mixture m is
    strictly positive wherever q is).

    A user whose JS spikes behaves unlike the population — bot screening,
    cohort QA, drift dashboards.  p=0 bins contribute exactly 0 (the
    0·ln 0 limit), handled by an explicit CASE in BOTH engines so neither
    evaluates ln(0).  Float convention: round(·,4)+0 (ln parity between
    JVM and DuckDB libm holds at 4 decimals — same precedent as the
    entropy family).

    Shape at scale: three partial aggregates over one scan (per-user-type,
    per-user, per-type), then a users × types grid where |types| is tiny —
    the grid join broadcasts the 5-row type side; no all-pairs anywhere."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    u = c.groupBy("user_id").agg(F.sum("c").alias("nu"))
    g = e.groupBy("event_type").agg(F.count("*").alias("gc"))
    n = e.agg(F.count("*").alias("n"))
    grid = u.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(n))
    t = grid.join(c, ["user_id", "event_type"], "left").select(
        "user_id",
        "nu",
        (F.coalesce(F.col("c"), F.lit(0)) * 1.0 / F.col("nu")).alias("p"),
        (F.col("gc") * 1.0 / F.col("n")).alias("q"),
    )
    term = F.lit(0.5) * F.when(
        F.col("p") > 0, F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
    ).otherwise(0.0) + F.lit(0.5) * F.col("q") * F.log(
        2 * F.col("q") / (F.col("p") + F.col("q"))
    )
    return t.groupBy("user_id").agg(
        F.min("nu").alias("n_events"), r4(F.sum(term)).alias("js_nats")
    )


# ---------------------------------------------------------------------------
# ranked quality (Wilson lower bound)


@register(
    "llm_quality_wilson",
    oracle="""
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS k
               FROM documents GROUP BY source)
    SELECT source, n, k,
           CAST(round((k * 1.0 / n + 1.9208 / n
                       - 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                     + 0.9604 / (n * n)))
                      / (1 + 3.8416 / n), 4) + 0 AS DOUBLE) AS wilson_lb
    FROM s
    """,
)
def llm_quality_wilson(spark, sf_dir):
    """Wilson-score lower bound (z=1.96, 95%) on each source's
    long-document rate (n_chars >= 300) — the ranking statistic that makes
    small-sample sources sort HONESTLY: a source with 3/3 passes ranks
    below one with 90/100, because the bound prices in the sample size
    where the raw proportion lies.

    This is how curation pipelines rank crawl sources for inclusion when
    per-source sample counts differ by orders of magnitude.  The formula
    is the standard Wilson interval written with pre-squared constants
    (1.9208 = z²/2, 0.9604 = z²/4, 3.8416 = z²) so both engines evaluate
    the SAME expression tree; sqrt/round are IEEE-exact, and the one
    rounding site is the shared round(·,4)+0 convention.

    Shape at scale: one scan, one partial+final aggregate on source, the
    closed-form bound computed per group — no second pass, no join."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0)).alias("k"),
    )
    phat = F.col("k") * 1.0 / F.col("n")
    lb = (
        phat
        + F.lit(1.9208) / F.col("n")
        - F.lit(1.96)
        * F.sqrt(phat * (1 - phat) / F.col("n") + F.lit(0.9604) / (F.col("n") * F.col("n")))
    ) / (1 + F.lit(3.8416) / F.col("n"))
    return s.select("source", "n", "k", r4(lb).alias("wilson_lb"))

"""Round-12 tranche, wave H (final) — built during round 11.

Families:

* LM evaluation — held-out bigram perplexity with add-1 smoothing (the
  train/eval split language-model eval loop; log-probs e6-QUANTIZED
  per row before summation, so the corpus-sized sum is exact integer —
  the quantize-before-summing discipline, avoiding the ordered-fold
  cost a float sum over 50k terms would need).
* extreme values — Hill tail-index estimator over the top-k order
  statistics (the "how heavy is this tail" number that decides whether
  means even exist; completes POT).
* graph — rich-club coefficient at a degree-threshold grid (do hubs
  preferentially interconnect? the realized/possible edge ratio among
  nodes above degree k).
* corpus comparison — "fightin' words" log-odds with a Dirichlet prior
  (Monroe et al.): each language's most over-represented tokens against
  the rest of the corpus, the principled alternative to raw PMI for
  slice comparison.

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration
(tools/vacuity_r12.md).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import r4

# ---------------------------------------------------------------------------
# LM evaluation: held-out bigram perplexity (add-1 smoothing)

@register(
    "llm_bigram_perplexity_heldout",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS tk
               FROM documents),
    bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT doc_id, lang, tk, unnest(range(1, len(tk))) AS i
                 FROM t)),
    tr AS (SELECT w1, w2, count(*) AS c FROM bg WHERE doc_id % 2 = 0
           GROUP BY w1, w2),
    hd AS (SELECT w1, sum(c) AS h FROM tr GROUP BY w1),
    v AS (SELECT count(DISTINCT w2) + 1 AS vs FROM tr),
    ev AS (SELECT bg.lang, coalesce(tr.c, 0) AS c, coalesce(hd.h, 0) AS h
           FROM bg LEFT JOIN tr USING (w1, w2) LEFT JOIN hd USING (w1)
           WHERE bg.doc_id % 2 = 1),
    lp AS (SELECT lang,
                  CAST(round(ln((c + 1.0) / (h + (SELECT vs FROM v)))
                             * 1000000) AS BIGINT) AS lp_e6
           FROM ev)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_eval_bigrams,
           CAST(sum(lp_e6) AS BIGINT) AS sum_logprob_e6,
           round(exp(-sum(lp_e6) * 1.0 / (count(*) * 1000000)), 4)
             AS perplexity_r4
    FROM lp GROUP BY lang
    """,
)
def llm_bigram_perplexity_heldout(spark, sf_dir):
    """Held-out bigram perplexity — the train/eval LM loop in one op:
    an add-1-smoothed bigram model estimated on the even-doc_id half
    scores the odd half, per language.  The float-determinism trick is
    the point at scale: each bigram's log-probability is QUANTIZED to
    an e6 integer per row (ln of a ratio of integers — per-row rounding
    is partition-order-free), so the corpus-sized reduction is an EXACT
    integer SUM — no ordered fold over 50k float terms, no
    partition-order hash flips; perplexity exponentiates the exact sum
    once (sum_logprob_e6 is itself a scored integer column).  Measured
    ~30-31 across languages/SFs with the per-lang ordering moving —
    ln(vocab)=3.43 is the uniform ceiling (ppl 31), so the model is
    honestly near-uniform on this synthetic text, and the estimator
    resolves the small real differences.

    Shape: one vocabulary-bounded bigram count on the train half, one
    broadcast-size head-count frame, one LEFT join over the eval half
    (the unseen-bigram path is the join miss), one integer aggregate.
    Int64 bound: |lp_e6| <= ~1.2e7 per bigram (|ln p| <= ln(corpus)),
    so the exact sum holds to ~7.6e11 eval bigrams per language; past
    that accumulate in DECIMAL(38,0)."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("tk")
    )
    pairs = F.expr(
        "transform(sequence(1, size(tk) - 1),"
        " i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"
    )
    bg = (
        t.filter(F.size("tk") >= 2)
        .select("doc_id", "lang", F.explode(pairs).alias("p"))
        .select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    tr = (
        bg.filter(F.col("doc_id") % 2 == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    hd = tr.groupBy("w1").agg(F.sum("c").alias("h"))
    vs = tr.agg((F.countDistinct("w2") + 1).alias("vs"))
    ev = (
        bg.filter(F.col("doc_id") % 2 == 1)
        .join(tr, ["w1", "w2"], "left")
        .join(hd, "w1", "left")
        .crossJoin(F.broadcast(vs))
        .select(
            "lang",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("h", F.lit(0)).alias("h"),
            "vs",
        )
    )
    lp = ev.select(
        "lang",
        F.round(
            F.log((F.col("c") + 1.0) / (F.col("h") + F.col("vs"))) * 1000000
        )
        .cast("long")
        .alias("lp_e6"),
    )
    return lp.groupBy("lang").agg(
        F.count("*").alias("n_eval_bigrams"),
        F.sum("lp_e6").alias("sum_logprob_e6"),
        r4(
            F.exp(
                -F.sum("lp_e6").cast("double")
                / (F.count("*") * F.lit(1000000.0))
            )
        ).alias("perplexity_r4"),
    )


# ---------------------------------------------------------------------------
# extreme values: Hill tail-index estimator

_HILL_KS = (20, 50, 100)


@register(
    "agg_hill_tail_index",
    oracle=f"""
    WITH e AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
               FROM events WHERE value > 0),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC) AS rn FROM e),
    g AS (SELECT unnest([{",".join(map(str, _HILL_KS))}]) AS k),
    xk AS (SELECT g.k, (SELECT c FROM r WHERE rn = g.k + 1) AS ck FROM g),
    lp AS (SELECT xk.k, xk.ck,
                  CAST(round(ln(r.c * 1.0 / xk.ck) * 1000000) AS BIGINT)
                    AS l_e6
           FROM r JOIN xk ON r.rn <= xk.k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(max(ck) AS BIGINT) AS threshold_cents,
           round(sum(l_e6) * 1.0 / (count(*) * 1000000), 4) AS hill_r4,
           round(count(*) * 1000000.0 / sum(l_e6), 4) AS alpha_r4
    FROM lp GROUP BY k
    """,
)
def agg_hill_tail_index(spark, sf_dir):
    """Hill tail-index estimator — THE heavy-tail diagnostic (alpha < 2:
    infinite variance, means barely exist; alpha < 1: means don't —
    the number that decides whether averaging this metric is even
    meaningful): over the top-k order statistics of event value, the
    Hill estimate mean(ln(x_i / x_{{k+1}})) and its inverse alpha, on
    the k grid (20, 50, 100) whose STABILITY across k is the standard
    Hill-plot read.  Measured alpha 3.4..10.9, rising with SF and
    falling with k — the bounded synthetic distribution correctly reads
    as thin-tailed, with the k-sensitivity a real Hill plot shows.
    Per-row log terms quantize to e6 integers before the sum (the
    perplexity op's partition-order-free discipline; the k<=100 frame
    would tolerate an ordered fold, but the integer form is scored
    directly as a column-free exact sum).

    Shape: one global rank window (top-k only — TakeOrdered-class),
    a 3-row literal k grid, one bounded aggregate."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(F.round(F.col("value") * 100, 0).cast("long").alias("c"))
    )
    r = e.select("c", F.row_number().over(Window.orderBy(F.col("c").desc())).alias("rn"))
    g = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _HILL_KS])).alias("k")
    )
    ck = (
        r.crossJoin(F.broadcast(g))
        .filter(F.col("rn") == F.col("k") + 1)
        .select("k", F.col("c").alias("ck"))
    )
    lp = (
        r.join(F.broadcast(ck), F.col("rn") <= F.col("k"))
        .select(
            "k",
            "ck",
            F.round(F.log(F.col("c") / F.col("ck").cast("double")) * 1000000)
            .cast("long")
            .alias("l_e6"),
        )
    )
    return lp.groupBy(F.col("k").cast("long").alias("k")).agg(
        F.max("ck").alias("threshold_cents"),
        r4(F.sum("l_e6") / (F.count("*") * F.lit(1000000.0))).alias("hill_r4"),
        r4(F.count("*") * F.lit(1000000.0) / F.sum("l_e6")).alias("alpha_r4"),
    )


# ---------------------------------------------------------------------------
# graph: rich-club coefficient

_RC_GRID = (6, 8, 10)
_RCB_N = 500


@register(
    "graph_rich_club_coeff",
    oracle=f"""
    WITH nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < {_RCB_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_RCB_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_RCB_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_RCB_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    deg AS (SELECT src AS v, count(*) AS d FROM sym GROUP BY src),
    g AS (SELECT unnest([{",".join(map(str, _RC_GRID))}]) AS k),
    rich AS (SELECT g.k, deg.v FROM g JOIN deg ON deg.d > g.k),
    nr AS (SELECT k, CAST(count(*) AS BIGINT) AS n_rich FROM rich
           GROUP BY k),
    re AS (SELECT r1.k, count(*) AS m FROM sym
           JOIN rich r1 ON r1.v = sym.src
           JOIN rich r2 ON r2.v = sym.dst AND r2.k = r1.k
           GROUP BY r1.k)
    SELECT nr.k, nr.n_rich,
           CAST(coalesce(re.m, 0) // 2 AS BIGINT) AS rich_edges,
           CAST(coalesce(re.m, 0) * 1000000
                // (nr.n_rich * (nr.n_rich - 1)) AS BIGINT) AS phi_e6
    FROM nr LEFT JOIN re USING (k)
    """,
)
def graph_rich_club_coeff(spark, sf_dir):
    """Rich-club coefficient — do high-degree nodes preferentially
    interconnect?  phi(k) = realized edges among nodes of degree > k
    over the possible n(n-1)/2 (e6, directed-count form m/(n(n-1))):
    the structural signal behind core-backbone formation (internet AS
    graphs: strong rich club; social graphs: weak), evaluated on the
    degree grid 6/8/10.  Measured: phi falls 30101 -> 19557 -> 0 e6 —
    this graph's biggest hubs do NOT interconnect at all (the quadratic
    generator spreads their endpoints), the anti-rich-club answer the
    assortativity curve (knn falling) already hinted at, now
    edge-exact.

    Shape: one degree aggregate, two broadcast semi-joins of the
    bounded rich set onto the edge list per k, all grid points in one
    pass."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _RCB_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _RCB_N).alias("dst"))
        .unionAll(nodes.select("v", ((F.col("v") * 3 + 7) % _RCB_N).alias("dst")))
        .unionAll(
            nodes.select("v", ((F.col("v") * F.col("v") + 3) % _RCB_N).alias("dst"))
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    g = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _RC_GRID])).alias("k")
    )
    rich = g.join(F.broadcast(deg), F.col("d") > F.col("k")).select("k", "v")
    nr = rich.groupBy("k").agg(F.count("*").alias("n_rich"))
    re = (
        sym.join(
            F.broadcast(rich.select(F.col("k").alias("k1"), F.col("v").alias("src"))),
            "src",
        )
        .join(
            F.broadcast(
                rich.select(F.col("k").alias("k2"), F.col("v").alias("dst"))
            ),
            "dst",
        )
        .filter(F.col("k1") == F.col("k2"))
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count("*").alias("m"))
    )
    return (
        nr.join(re, "k", "left")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_rich",
            F.expr("coalesce(m, 0) div 2").alias("rich_edges"),
            F.expr(
                "coalesce(m, 0) * 1000000 div (n_rich * (n_rich - 1))"
            ).alias("phi_e6"),
        )
    )


# ---------------------------------------------------------------------------
# corpus comparison: "fightin' words" log-odds with Dirichlet prior

_FW_TOPK = 3
_FW_PRIOR = 1  # per-word Dirichlet pseudo-count
_FW_PRIOR_MASS = 31  # total prior mass (= the unigram vocabulary size)


@register(
    "llm_log_odds_fightin_words",
    oracle=f"""
    WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
               FROM documents),
    cl AS (SELECT lang, w, count(*) AS c FROM t GROUP BY lang, w),
    rest AS (SELECT w, sum(c) AS cr FROM cl GROUP BY w),
    nl AS (SELECT lang, sum(c) AS n FROM cl GROUP BY lang),
    nt AS (SELECT sum(c) AS n FROM cl),
    lo AS (SELECT cl.lang, cl.w, CAST(cl.c AS BIGINT) AS c_lang,
                  CAST(rest.cr - cl.c AS BIGINT) AS c_rest,
                  round(ln((cl.c + {_FW_PRIOR}.0)
                           / (nl.n - cl.c + {_FW_PRIOR_MASS}))
                        - ln((rest.cr - cl.c + {_FW_PRIOR}.0)
                             / ((SELECT n FROM nt) - nl.n
                                - (rest.cr - cl.c) + {_FW_PRIOR_MASS})), 4)
                    + 0 AS log_odds_r4
           FROM cl JOIN rest USING (w) JOIN nl USING (lang)),
    top AS (SELECT lang, w, c_lang, c_rest, log_odds_r4,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY log_odds_r4 DESC, w) AS rn
            FROM lo)
    SELECT lang, w AS token, c_lang, c_rest, log_odds_r4
    FROM top WHERE rn <= {_FW_TOPK}
    """,
)
def llm_log_odds_fightin_words(spark, sf_dir):
    """'Fightin' words' log-odds with a Dirichlet prior (Monroe,
    Colaresi & Quinn) — the principled corpus-comparison statistic
    (raw PMI over-rewards rare words; the prior shrinks low-count
    flukes): each language's top-3 over-represented tokens against the
    REST of the corpus, scored by the smoothed log-odds-ratio
    ln[(c+a)/(n-c+A)] - ln[(c'+a)/(N'-c'+A)] with a=1 per word and
    A=31 total prior mass (the corpus vocabulary).  Measured: the top
    tokens and their scores rotate per language and SF ('dup' leading
    zh at sf0.01, 'customer' leading en at sf0.1) — the live
    slice-vs-rest signal a mixture audit reads.  Per-row floats round
    at the §2 grain with -0.0 normalized (+0); counts are exact BIGINT.

    Shape: one vocabulary-bounded census carrying both slice and rest
    counts (one pass, rest = global - slice), one 5-row total frame,
    one per-lang top-3 window over the vocab-bounded score frame."""
    t = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    cl = t.groupBy("lang", "w").agg(F.count("*").alias("c"))
    rest = cl.groupBy("w").agg(F.sum("c").alias("cr"))
    nl = cl.groupBy("lang").agg(F.sum("c").alias("n"))
    nt = cl.agg(F.sum("c").alias("nt"))
    a, am = _FW_PRIOR, _FW_PRIOR_MASS
    lo = (
        cl.join(rest, "w")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(nt))
        .select(
            "lang",
            "w",
            F.col("c").alias("c_lang"),
            (F.col("cr") - F.col("c")).alias("c_rest"),
            (
                F.round(
                    F.log(
                        (F.col("c") + float(a))
                        / (F.col("n") - F.col("c") + am)
                    )
                    - F.log(
                        (F.col("cr") - F.col("c") + float(a))
                        / (
                            F.col("nt")
                            - F.col("n")
                            - (F.col("cr") - F.col("c"))
                            + am
                        )
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("log_odds_r4"),
        )
    )
    top = lo.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.col("log_odds_r4").desc(), "w"
            )
        ),
    )
    return top.filter(F.col("rn") <= _FW_TOPK).select(
        "lang", F.col("w").alias("token"), "c_lang", "c_rest", "log_odds_r4"
    )

"""Round-12 tranche, wave B — built during round 11.

Families:

* journey modeling — the stationary distribution of the per-user
  event-type Markov chain (fixed power iterations in e12 integer
  arithmetic, the graph_pagerank discipline applied to
  ts_markov_transitions' matrix).
* inequality accounting — Theil-T decomposition of character mass
  (within-language components + the between-language term), the
  corpus-mix inequality number a rebalancer tracks.
* text statistics — unigram entropy vs bigram conditional entropy per
  language (the redundancy/entropy-rate gap that measures how much
  local structure a language model can exploit).
* geo analytics — geohash-cell neighborhood mass (the 3x3 cell join
  behind radius-style hot-spot queries), reformulated as an equi-join
  via literal offset contributions.
* randomness audit — the Wald-Wolfowitz runs test on above/below-median
  signs per event type (detects autocorrelation a mean test misses).
* extreme values — peaks-over-threshold accounting at the exact p95
  order statistic (count, mean excess, max excess per type).
* count modeling — negative-binomial method-of-moments dispersion audit
  over per-user event counts (the overdispersion gate before anyone
  fits a Poisson).
* graph — exact 2-hop reach histogram (neighborhood-size distribution,
  the fanout number behind friend-of-friend features).

Integer-exact where the math allows (BIGINT, div, e4/e6); the three
entropy/inequality ops carry IEEE-double logs rounded per the §2 float
convention.  Spreads validated in DuckDB at sf{0.001,0.01,0.1} before
registration (tools/vacuity_r12.md).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import lineage_cap, r4

# ---------------------------------------------------------------------------
# journey modeling: stationary distribution of the event-type Markov chain

_MS_ITERS = 8
_MS_INIT = 1_000_000_000_000  # e12 mass, the graph_pagerank convention


@register(
    "ts_markov_stationary",
    oracle=f"""
    WITH RECURSIVE l AS (
      SELECT event_type AS nxt,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    t AS (SELECT prev, nxt, count(*) AS c FROM l WHERE prev IS NOT NULL
          GROUP BY prev, nxt),
    m AS (SELECT prev, sum(c) AS rt FROM t GROUP BY prev),
    p AS (SELECT t.prev, t.nxt, t.c * 1000000 // m.rt AS prob_e6
          FROM t JOIN m USING (prev)),
    states AS (SELECT DISTINCT nxt AS s FROM l),
    n AS (SELECT count(*) AS k FROM states),
    it(iter, s, pi) AS (
      SELECT 0, s, {_MS_INIT} // k FROM states, n
      UNION ALL
      SELECT iter + 1, p.nxt,
             CAST(sum(it.pi * p.prob_e6 // 1000000) AS BIGINT)
      FROM it JOIN p ON p.prev = it.s
      WHERE iter < {_MS_ITERS}
      GROUP BY iter + 1, p.nxt)
    SELECT s AS event_type, CAST(pi AS BIGINT) AS pi_e12
    FROM it WHERE iter = {_MS_ITERS}
    """,
)
def ts_markov_stationary(spark, sf_dir):
    """Stationary distribution of the per-user event-type Markov chain —
    the long-run fraction of journey steps each event type absorbs, the
    number that turns ts_markov_transitions' MATRIX into a ranking
    (where do users end up spending their actions?): 8 power iterations
    pi' = pi P in e12 integer arithmetic over e6-quantized edge
    probabilities (prob_e6 = c*1e6 div row_total, then pi * prob_e6 div
    1e6 — the graph_pagerank discipline; flooring leaks ~1e-10 of mass
    per iteration).  The quantized form is the SCALE-SAFE one: the
    direct pi * c product overflows int64 once any edge carries more
    than ~4.6e7 transitions (DuckDB silently widens to INT128, Spark
    ANSI raises — the hash-blind divergence class), while pi * prob_e6
    is bounded by 1e12 * 1e6 < 2^63 at ANY corpus size and prob_e6
    itself holds to ~9e12 transitions per edge.  Measured:
    the five states separate by up to 2% of mass and the ordering
    changes across SFs — live signal, not the uniform fixed point.

    Shape: the transition matrix is |types|^2 <= 25 rows — after one
    lag window over the event stream (the only corpus-scale stage),
    every iteration is arithmetic on a broadcast-size frame.  The loop
    stays LAZY (fixed iteration count, no action inside)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("event_type").alias("nxt"), "ts", "event_id")
        .withColumn("prev", F.lag("nxt").over(w))
        .filter(F.col("prev").isNotNull())
        .select("prev", "nxt")
    )
    t = l.groupBy("prev", "nxt").agg(F.count("*").alias("c"))
    m = t.groupBy("prev").agg(F.sum("c").alias("rt"))
    p = (
        t.join(m, "prev")
        .select("prev", "nxt", F.expr("c * 1000000 div rt").alias("prob_e6"))
        .transform(lineage_cap)
    )
    states = l.select(F.col("nxt").alias("s")).distinct()
    k = states.agg(F.count("*").alias("k"))
    pi = states.crossJoin(F.broadcast(k)).select(
        "s", F.expr(f"{_MS_INIT} div k").alias("pi")
    )
    for _ in range(_MS_ITERS):
        pi = (
            p.join(pi.withColumnRenamed("s", "prev"), "prev")
            .groupBy(F.col("nxt").alias("s"))
            .agg(F.sum(F.expr("pi * prob_e6 div 1000000")).alias("pi"))
        )
    return pi.select(F.col("s").alias("event_type"), F.col("pi").alias("pi_e12"))


# ---------------------------------------------------------------------------
# inequality accounting: Theil-T decomposition over character mass

@register(
    "agg_theil_decomposition",
    oracle="""
    WITH g AS (SELECT lang, count(*) AS ng, sum(n_chars) AS sg,
                      sum(n_chars * ln(n_chars)) AS sxlx
               FROM documents GROUP BY lang),
    tot AS (SELECT sum(ng) AS n, sum(sg) AS s FROM g),
    btw AS (SELECT round(sum((sg * 1.0 / s) *
                             ln((sg * 1.0 / ng) / (s * 1.0 / n))), 6) + 0
              AS tb
            FROM g, tot)
    SELECT lang,
           CAST(ng AS BIGINT) AS n_docs,
           round(sxlx / sg - ln(sg * 1.0 / ng), 4) + 0 AS theil_within_r4,
           CAST(sg * 1000000 // (SELECT s FROM tot) AS BIGINT) AS weight_e6,
           (SELECT tb FROM btw) AS theil_between_r6
    FROM g
    """,
)
def agg_theil_decomposition(spark, sf_dir):
    """Theil-T inequality decomposition of character mass across the
    corpus mix — the additive inequality index (unlike Gini) that splits
    exactly into WITHIN-group and BETWEEN-group components, which is why
    mixture audits use it: per language, the within-language Theil
    T_g = Σ (x/S_g) ln(x/μ_g) (how unequal doc sizes are inside the
    slice, measured 0.10-0.13 and varying), the slice's mass weight e6,
    and the between-language term Σ (S_g/S) ln(μ_g/μ) (how unequal the
    slice MEANS are — tiny on this near-balanced corpus, ~1e-4, hence
    rounded at 6 decimals: the §2 4-decimal float convention would
    erase it; ln is IEEE-double on both engines with ~1e-16 ulp error,
    nine orders below the rounding grain).

    Shape: one groupBy(lang) carrying (count, sum, sum x ln x) — the
    decomposition identity means NO second corpus pass is needed for
    the within terms; two scalar broadcasts finish it."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("ng"),
            F.sum("n_chars").alias("sg"),
            F.sum(F.col("n_chars") * F.log(F.col("n_chars"))).alias("sxlx"),
        )
    )
    tot = g.agg(F.sum("ng").alias("n"), F.sum("sg").alias("s"))
    btw = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.round(
                    F.sum(
                        (F.col("sg") / F.col("s"))
                        * F.log(
                            (F.col("sg") / F.col("ng"))
                            / (F.col("s") / F.col("n"))
                        )
                    ),
                    6,
                )
                + F.lit(0.0)  # -0.0 normalization (util.r4 convention)
            ).alias("tb")
        )
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btw))
        .select(
            "lang",
            F.col("ng").alias("n_docs"),
            (
                F.round(
                    F.col("sxlx") / F.col("sg")
                    - F.log(F.col("sg") / F.col("ng")),
                    4,
                )
                + F.lit(0.0)
            ).alias("theil_within_r4"),
            F.expr("sg * 1000000 div s").alias("weight_e6"),
            F.col("tb").alias("theil_between_r6"),
        )
    )


# ---------------------------------------------------------------------------
# text statistics: entropy rate (unigram H vs bigram conditional H)

@register(
    "llm_ngram_entropy_rate",
    oracle="""
    WITH t AS (SELECT lang, string_split(lower(text), ' ') AS tk
               FROM documents),
    uni AS (SELECT lang, unnest(tk) AS w FROM t),
    c1 AS (SELECT lang, w, count(*) AS c FROM uni GROUP BY lang, w),
    n1 AS (SELECT lang, sum(c) AS n FROM c1 GROUP BY lang),
    h1 AS (SELECT c1.lang, -sum((c * 1.0 / n) * ln(c * 1.0 / n)) AS h
           FROM c1 JOIN n1 USING (lang) GROUP BY c1.lang),
    bg AS (SELECT lang, tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT lang, tk, unnest(range(1, len(tk))) AS i FROM t)),
    c2 AS (SELECT lang, w1, w2, count(*) AS c FROM bg GROUP BY lang, w1, w2),
    ch AS (SELECT lang, w1, sum(c) AS hc FROM c2 GROUP BY lang, w1),
    n2 AS (SELECT lang, sum(c) AS n FROM c2 GROUP BY lang),
    h2 AS (SELECT c2.lang, -sum((c * 1.0 / n2.n) * ln(c * 1.0 / ch.hc)) AS h
           FROM c2 JOIN ch USING (lang, w1) JOIN n2 USING (lang)
           GROUP BY c2.lang)
    SELECT h1.lang, round(h1.h, 4) + 0 AS h_unigram_r4,
           round(h2.h, 4) + 0 AS h_bigram_cond_r4,
           round((h1.h - h2.h) / h1.h, 4) + 0 AS redundancy_r4
    FROM h1 JOIN h2 USING (lang)
    """,
)
def llm_ngram_entropy_rate(spark, sf_dir):
    """Entropy rate gap per language — unigram entropy H(W) vs bigram
    conditional entropy H(W2|W1), whose difference (normalized:
    redundancy = 1 - H2/H1) measures how much LOCAL STRUCTURE the
    language carries — exactly the quantity a context-window model
    exploits, and the signal behind 'this slice is template spam'
    (high redundancy) vs 'this slice is shuffled words' (zero): on
    this corpus redundancy spans 12..415 e-4 across languages and
    collapses toward 0 as SF grows the vocabulary (bigram mass
    spreads thin) — a real, SF-sensitive curve.

    Plain Shannon plug-in estimates: H1 = -Σ p(w) ln p(w),
    H2 = -Σ p(w1,w2) ln p(w2|w1); vocabulary-bounded aggregates joined
    on the bigram head, doubles rounded at the §2 4-decimal grain.
    Shape: the same two hash aggregates as llm_ngram_lm, per language,
    plus two 5-row joins."""
    t = load_table(spark, sf_dir, "documents").select(
        "lang", F.split(F.lower("text"), " ").alias("tk")
    )
    uni = t.select("lang", F.explode("tk").alias("w"))
    c1 = uni.groupBy("lang", "w").agg(F.count("*").alias("c"))
    n1 = c1.groupBy("lang").agg(F.sum("c").alias("n"))
    h1 = (
        c1.join(F.broadcast(n1), "lang")
        .groupBy("lang")
        .agg(
            (-F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))))
            .alias("h1")
        )
    )
    pairs = F.expr(
        "transform(sequence(1, size(tk) - 1),"
        " i -> struct(element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2))"
    )
    bg = (
        t.filter(F.size("tk") >= 2)  # sequence(1, 0) would DESCEND
        .select("lang", F.explode(pairs).alias("p"))
        .select("lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = bg.groupBy("lang", "w1", "w2").agg(F.count("*").alias("c"))
    ch = c2.groupBy("lang", "w1").agg(F.sum("c").alias("hc"))
    n2 = c2.groupBy("lang").agg(F.sum("c").alias("n"))
    h2 = (
        c2.join(ch, ["lang", "w1"])
        .join(F.broadcast(n2), "lang")
        .groupBy("lang")
        .agg(
            (-F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("hc"))))
            .alias("h2")
        )
    )
    return h1.join(h2, "lang").select(
        "lang",
        r4(F.col("h1")).alias("h_unigram_r4"),
        r4(F.col("h2")).alias("h_bigram_cond_r4"),
        r4((F.col("h1") - F.col("h2")) / F.col("h1")).alias("redundancy_r4"),
    )


# ---------------------------------------------------------------------------
# geo analytics: geohash-cell 3x3 neighborhood mass

_GN_TOPK = 20


@register(
    "fn_geohash_neighbors",
    oracle="""
    WITH pts AS (SELECT CAST((user_id * 2654435761) % 180000000 - 90000000
                   AS BIGINT) AS lat_e6,
                        CAST((event_id * 40503) % 360000000 - 180000000
                   AS BIGINT) AS lon_e6
                 FROM events),
    c AS (SELECT least(31, (lat_e6 + 90000000) * 32 // 180000000) AS cx,
                 least(31, (lon_e6 + 180000000) * 32 // 360000000) AS cy
          FROM pts),
    cc AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM c
           GROUP BY cx, cy),
    nb AS (SELECT a.cx, a.cy, a.n AS self_n,
                  CAST(sum(b.n) - a.n AS BIGINT) AS neigh_n,
                  CAST(count(*) - 1 AS BIGINT) AS n_neigh_cells
           FROM cc a JOIN cc b
             ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
           GROUP BY a.cx, a.cy, a.n)
    SELECT cx, cy, self_n, neigh_n, n_neigh_cells
    FROM nb ORDER BY self_n + neigh_n DESC, cx, cy LIMIT 20
    """,
)
def fn_geohash_neighbors(spark, sf_dir):
    """Geohash-cell neighborhood mass — the 3x3 cell aggregation behind
    every radius-style hot-spot query (a point's neighbors live in the
    cell AND its 8 adjacent cells; fn_geohash encodes, this op answers
    with it): top-20 cells of the 32x32 grid by combined self+neighbor
    event count, with the occupied-neighbor census (boundary cells see
    fewer than 8).

    Scale shape: the naive formulation is a |Δx|<=1 AND |Δy|<=1 theta
    join (a nested-loop at any size); this op reformulates it as an
    EQUI-join — each occupied cell emits its 9 literal (dx, dy) offset
    contributions, and one groupBy on the shifted key sums them — the
    standard stencil-to-shuffle rewrite that keeps the 3x3 join
    hash-partitioned at 100 TB.  The oracle keeps the theta form
    (DuckDB evaluates the bounded grid directly); same result, the
    driver hash pins the equivalence."""
    pts = load_table(spark, sf_dir, "events").selectExpr(
        "cast((user_id * 2654435761) % 180000000 - 90000000 as bigint)"
        " as lat_e6",
        "cast((event_id * 40503) % 360000000 - 180000000 as bigint)"
        " as lon_e6",
    )
    c = pts.selectExpr(
        "least(31, (lat_e6 + 90000000) * 32 div 180000000) as cx",
        "least(31, (lon_e6 + 180000000) * 32 div 360000000) as cy",
    )
    cc = c.groupBy("cx", "cy").agg(F.count("*").alias("n")).transform(lineage_cap)
    offsets = spark.range(9).selectExpr(
        "cast(id div 3 as bigint) - 1 as dx", "cast(id % 3 as bigint) - 1 as dy"
    )
    contrib = cc.crossJoin(F.broadcast(offsets)).select(
        (F.col("cx") + F.col("dx")).alias("tx"),
        (F.col("cy") + F.col("dy")).alias("ty"),
        "n",
    )
    tot = contrib.groupBy("tx", "ty").agg(
        F.sum("n").alias("total9"), F.count("*").alias("n_cells9")
    )
    nb = cc.join(
        tot, (F.col("cx") == F.col("tx")) & (F.col("cy") == F.col("ty"))
    ).select(
        "cx",
        "cy",
        F.col("n").alias("self_n"),
        (F.col("total9") - F.col("n")).alias("neigh_n"),
        (F.col("n_cells9") - 1).alias("n_neigh_cells"),
    )
    return (
        nb.orderBy((F.col("self_n") + F.col("neigh_n")).desc(), "cx", "cy")
        .limit(_GN_TOPK)
        .select("cx", "cy", "self_n", "neigh_n", "n_neigh_cells")
    )


# ---------------------------------------------------------------------------
# randomness audit: Wald-Wolfowitz runs test

@register(
    "ts_runs_test",
    oracle="""
    WITH e AS (SELECT event_type, event_id, ts,
                      CAST(round(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    r AS (SELECT event_type, event_id, ts, cents,
                 row_number() OVER (PARTITION BY event_type ORDER BY cents)
                   AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM e),
    med AS (SELECT event_type, min(cents) AS med
            FROM r WHERE rn >= (n + 1) // 2 GROUP BY event_type),
    s AS (SELECT e.event_type, e.ts, e.event_id,
                 CASE WHEN e.cents > med.med THEN 1 ELSE 0 END AS sgn
          FROM e JOIN med USING (event_type)),
    l AS (SELECT event_type, sgn,
                 lag(sgn) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS prev
          FROM s),
    agg AS (SELECT event_type,
                   1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
                                THEN 1 ELSE 0 END) AS runs,
                   sum(sgn) AS n1, count(*) AS n
            FROM l GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(runs AS BIGINT) AS n_runs,
           CAST((2 * n1 * (n - n1)) * 10000 // n + 10000 AS BIGINT)
             AS exp_runs_e4,
           CAST(runs * 10000 - ((2 * n1 * (n - n1)) * 10000 // n + 10000)
             AS BIGINT) AS dev_e4
    FROM agg
    """,
)
def ts_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test — the randomness audit a mean/variance
    check cannot perform: over each event type's time-ordered
    above/below-median sign sequence, the observed run count vs the
    expected 2*n1*n0/n + 1 under independence (too FEW runs =
    positive autocorrelation/drift; too MANY = oscillation).  The
    median is the exact lower order statistic (value at ceil(n/2) via
    one rank window — integer, tie-insensitive, no float percentile),
    so the whole test is integer-exact; deviations measured signed and
    type-dependent at every SF (-13.5 to +9 runs at sf0.001).

    Shape: one rank window for the median, one lag window for the sign
    changes — both partitioned by event type; the output is
    |types| rows.  Int64 bound: exp_runs_e4's 2*n1*n0*1e4 numerator
    holds to ~6.8e8 rows per type (n1*n0 ~ n²/4); past that, compute
    the expectation at e0 and scale after dividing."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("event_type").orderBy("cents")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = (
        r.filter(F.col("rn") >= F.expr("(n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("cents").alias("med"))
    )
    s = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("sgn"),
    )
    wl = Window.partitionBy("event_type").orderBy("ts", "event_id")
    l = s.withColumn("prev", F.lag("sgn").over(wl))
    agg = l.groupBy("event_type").agg(
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("sgn") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).alias("runs"),
        F.sum("sgn").alias("n1"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("n1").cast("long").alias("n_above"),
        F.col("runs").cast("long").alias("n_runs"),
        F.expr("(2 * n1 * (n - n1)) * 10000 div n + 10000").alias(
            "exp_runs_e4"
        ),
        F.expr(
            "runs * 10000 - ((2 * n1 * (n - n1)) * 10000 div n + 10000)"
        ).alias("dev_e4"),
    )


# ---------------------------------------------------------------------------
# extreme values: peaks over threshold at the exact p95

@register(
    "ts_peak_over_threshold",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type ORDER BY cents)
                   AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM e),
    thr AS (SELECT event_type, min(cents) AS t95
            FROM r WHERE rn >= (95 * n + 99) // 100 GROUP BY event_type)
    SELECT e.event_type,
           CAST(min(t95) AS BIGINT) AS threshold_cents,
           CAST(sum(CASE WHEN e.cents > t95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exceed,
           CAST(sum(CASE WHEN e.cents > t95 THEN e.cents - t95 ELSE 0 END)
                * 10000 //
                nullif(sum(CASE WHEN e.cents > t95 THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS mean_excess_e4,
           CAST(max(CASE WHEN e.cents > t95 THEN e.cents - t95 END)
             AS BIGINT) AS max_excess
    FROM e JOIN thr USING (event_type) GROUP BY e.event_type
    """,
)
def ts_peak_over_threshold(spark, sf_dir):
    """Peaks-over-threshold accounting — the extreme-value-theory
    front end (GPD tail fitting, SLO breach analysis, fraud amount
    monitoring all start here): per event type, the exact p95 order
    statistic as the threshold (ceil-rank, tie-insensitive — no float
    percentile), the exceedance count, the MEAN EXCESS e4 (the
    quantity whose linearity-in-threshold diagnoses a Pareto tail) and
    the worst excess.  Measured spread: thresholds 12460..15601 cents,
    mean excess 3813..5986 e2, all varying by type and SF.

    Shape: one rank window for the threshold, one broadcast join of
    the 5-row threshold frame, one conditional aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("event_type").orderBy("cents")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    thr = (
        r.filter(F.col("rn") >= F.expr("(95 * n + 99) div 100"))
        .groupBy("event_type")
        .agg(F.min("cents").alias("t95"))
    )
    return (
        e.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("t95").alias("threshold_cents"),
            F.sum(F.when(F.col("cents") > F.col("t95"), 1).otherwise(0)).alias(
                "n_exceed"
            ),
            F.expr(
                "sum(case when cents > t95 then cents - t95 else 0 end)"
                " * 10000 div"
                " nullif(sum(case when cents > t95 then 1 else 0 end), 0)"
            ).alias("mean_excess_e4"),
            F.max(
                F.when(F.col("cents") > F.col("t95"), F.col("cents") - F.col("t95"))
            ).alias("max_excess"),
        )
    )


# ---------------------------------------------------------------------------
# count modeling: negative-binomial method-of-moments dispersion audit

@register(
    "agg_nbinom_dispersion",
    oracle="""
    WITH u AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY event_type, user_id),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS sc,
                 CAST(sum(c * c) AS BIGINT) AS scc
          FROM u GROUP BY event_type)
    SELECT event_type, n AS n_users,
           CAST(sc * 10000 // n AS BIGINT) AS mean_e4,
           CAST((n * scc - sc * sc) * 10000 // (n * (n - 1)) AS BIGINT)
             AS var_e4,
           CAST((n * scc - sc * sc) * 10000 // (n * (n - 1))
                * 10000 // (sc * 10000 // n) AS BIGINT) AS dispersion_e4,
           CAST(CASE WHEN (n * scc - sc * sc) * 10000 // (n * (n - 1))
                          > sc * 10000 // n
                THEN (sc * 10000 // n) * (sc * 10000 // n)
                     // ((n * scc - sc * sc) * 10000 // (n * (n - 1))
                         - sc * 10000 // n)
                END AS BIGINT) AS nb_r_e4
    FROM s
    """,
)
def agg_nbinom_dispersion(spark, sf_dir):
    """Negative-binomial method-of-moments dispersion audit over
    per-user event counts — the overdispersion gate every count model
    needs BEFORE anyone fits a Poisson (Poisson forces var = mean; real
    user activity rarely obeys): per event type, the exact sample mean
    and variance of per-user counts (e4, integer cross-multiplied
    Bessel form (n*Σc² - (Σc)²)/(n(n-1))), the dispersion index
    var/mean e4 (measured 5102..14608 — BOTH under- and over-dispersed
    types exist on this corpus, so the NB branch is genuinely
    conditional), and the NB size r = μ²/(σ²-μ) e4 where var > mean,
    NULL otherwise (identical CASE on both engines; a NULL here is the
    honest 'NB does not apply' answer, and which types are NULL varies
    by SF).

    Shape: two hash aggregates (user-type counts, then type moments) —
    the first is the only corpus-scale stage and combines map-side.
    Int64 bound: the Bessel numerator n*Σc² holds while
    users * (max per-user count)² < 9e14 (e.g. 1e9 users at <= 30
    events/type each); past that, accumulate scc in DECIMAL(38,0) (the
    fn_table_checksum convention) — overflow here is the hash-blind
    DuckDB-widens/Spark-raises split, so the bound is documented rather
    than silently assumed."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    s = u.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.expr("sc * 10000 div n").alias("mean_e4"),
        F.expr("(n * scc - sc * sc) * 10000 div (n * (n - 1))").alias(
            "var_e4"
        ),
        F.expr(
            "(n * scc - sc * sc) * 10000 div (n * (n - 1))"
            " * 10000 div (sc * 10000 div n)"
        ).alias("dispersion_e4"),
        F.expr(
            "cast(case when (n * scc - sc * sc) * 10000 div (n * (n - 1))"
            "               > sc * 10000 div n"
            " then (sc * 10000 div n) * (sc * 10000 div n)"
            "      div ((n * scc - sc * sc) * 10000 div (n * (n - 1))"
            "           - sc * 10000 div n)"
            " end as bigint)"
        ).alias("nb_r_e4"),
    )


# ---------------------------------------------------------------------------
# graph: exact 2-hop reach histogram

_TH_N = 500  # the shared 3-generator digraph (graph_bfs_distance)


@register(
    "graph_two_hop_reach",
    oracle=f"""
    WITH nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < {_TH_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_TH_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_TH_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_TH_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    two AS (
      SELECT a.src AS v, b.dst AS r
      FROM sym a JOIN sym b ON a.dst = b.src
      WHERE b.dst <> a.src
      UNION
      SELECT src, dst FROM sym),
    reach AS (SELECT v, count(*) AS k FROM two GROUP BY v)
    SELECT CAST(k AS BIGINT) AS reach_2hop,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM reach GROUP BY k
    """,
)
def graph_two_hop_reach(spark, sf_dir):
    """Exact 2-hop reach distribution — |N≤2(v)| per node, histogrammed:
    the friend-of-friend fanout number that prices every 2-hop feature
    (candidate generation, graph attention neighborhoods, k-hop
    sampling budgets) and exposes hub blowup before a traversal job
    does.  Over the shared 3-generator digraph (symmetrized): one
    self-equi-join on the middle node gives the 2-hop pairs, a UNION
    with the 1-hop edges and one distinct collapse gives the
    neighborhood sets exactly (no HLL estimate), then two narrow
    aggregates.  Reach spans 18..40+ with a multi-modal histogram —
    the quadratic generator's hubs are visible as the fat right tail.

    Scale: 2-hop pair volume is Σ deg² (the triangle-counting bound);
    the distinct collapse shuffles on the (v, r) pair key — the
    standard neighborhood-aggregation shape, hash-partitioned
    throughout."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _TH_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _TH_N).alias("dst"))
        .unionAll(nodes.select("v", ((F.col("v") * 3 + 7) % _TH_N).alias("dst")))
        .unionAll(
            nodes.select("v", ((F.col("v") * F.col("v") + 3) % _TH_N).alias("dst"))
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = (
        e.select("src", "dst")
        .unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(lineage_cap)
    )
    a = sym.select(F.col("src").alias("v"), F.col("dst").alias("mid"))
    b = sym.select(F.col("src").alias("mid"), F.col("dst").alias("r"))
    two = (
        a.join(b, "mid")
        .filter(F.col("r") != F.col("v"))
        .select("v", "r")
        .union(sym.select(F.col("src").alias("v"), F.col("dst").alias("r")))
        .distinct()
    )
    reach = two.groupBy("v").agg(F.count("*").alias("k"))
    return reach.groupBy(F.col("k").alias("reach_2hop")).agg(
        F.count("*").alias("n_nodes")
    )

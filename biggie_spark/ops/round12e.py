"""Round-12 tranche, wave E — built during round 11.

Families:

* RLHF serving — policy-vs-reference KL budget over deterministic
  softmax distributions (the KL regularizer every RLHF/best-of-n stack
  monitors), completing the temperature-sweep tier with a
  cross-distribution divergence.
* drift detection — heavy CHANGERS between corpus halves (the
  heavy-hitters sketch question asked about the DELTA, not the level).
* SQL surface — PIVOT with MULTIPLE aggregates parity (both engines
  support it; the generated column naming is the dialect corner).
* time series — Haar wavelet energy by level (integer-exact
  multiresolution decomposition; the DFT spectrum's scale-localized
  sibling) and PACF at lag 2 via Durbin-Levinson (direct vs inherited
  autocorrelation).
* Bayesian stats — Beta-Binomial posterior summaries per segment with
  a literal prior (integer-exact posterior means; the family the
  frequentist battery lacked).
* ANN — hamming-radius census over 16-bit signatures (multi-probe LSH
  accounting: how many candidates each radius admits).
* text statistics — Heaps-law vocabulary growth curve over TRIGRAM
  types (the unigram vocabulary saturates at 31 on this corpus —
  measured, the degenerate variant was dropped at validation).

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
# RLHF serving: policy-vs-reference KL budget

_KL_PROBES = 20
_KL_TOPK = 8


@register(
    "llm_policy_kl_budget",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents WHERE doc_id < {_KL_PROBES}),
    c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
    r AS (SELECT doc_id, tok, c,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY c DESC, tok) AS rn
          FROM c),
    arr AS (SELECT doc_id, list(c ORDER BY rn) AS cs
            FROM r WHERE rn <= {_KL_TOPK} GROUP BY doc_id),
    z AS (SELECT doc_id, cs,
                 list_aggregate(list_transform(cs, x -> exp(x * 2.0)),
                                'sum') AS zp,
                 list_aggregate(list_transform(cs, x -> exp(x * 1.0)),
                                'sum') AS zq
          FROM arr)
    SELECT doc_id,
           greatest(round(list_aggregate(list_transform(cs, x ->
             (exp(x * 2.0) / zp) * ln((exp(x * 2.0) / zp)
                                      / (exp(x * 1.0) / zq))), 'sum'), 4),
             0.0) + 0.0 AS kl_pq_r4,
           greatest(round(list_aggregate(list_transform(cs, x ->
             (exp(x * 1.0) / zq) * ln((exp(x * 1.0) / zq)
                                      / (exp(x * 2.0) / zp))), 'sum'), 4),
             0.0) + 0.0 AS kl_qp_r4,
           greatest(round(list_aggregate(list_transform(cs, x ->
             (exp(x * 2.0) / zp - exp(x * 1.0) / zq)
             * ln((exp(x * 2.0) / zp) / (exp(x * 1.0) / zq))), 'sum'), 4),
             0.0) + 0.0 AS jeffreys_r4
    FROM z
    """,
)
def llm_policy_kl_budget(spark, sf_dir):
    """Policy-vs-reference KL budget — the regularizer every RLHF /
    best-of-n serving stack monitors (how far has the sharpened policy
    drifted from the reference distribution?): per probe doc, the
    policy p = softmax(logits / 0.5) (sharpened, T=0.5) against the
    reference q = softmax(logits / 1.0), over the deterministic top-8
    token-count logits.  Reports forward KL(p||q) (mode-seeking drift,
    what a KL penalty clips), reverse KL(q||p), and the symmetric
    Jeffreys divergence — all three vary per doc (the same count
    profile that spreads the temperature sweep's entropies spreads
    these).

    exp/ln are IEEE doubles on both engines, rounded at the §2
    4-decimal grain — and the per-doc sums run as ORDERED left-to-right
    folds over the rank-sorted logit array on BOTH engines (Spark
    F.aggregate over array_sort'd collect_list, DuckDB list_aggregate
    over list(... ORDER BY rn)): a plain SUM's floating-point addition
    order is partitioning-dependent in Spark, and the first draft
    hash-flipped a 4th decimal at sf0.01 exactly that way (the
    util.dot/cosine fold discipline, relearned).  Shape:
    vocabulary-bounded per-doc aggregates over the 20-probe panel —
    serving-table arithmetic, one corpus scan."""
    t = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _KL_PROBES)
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    )
    c = t.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    r = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "tok")
        ),
    )
    arr = (
        r.filter(F.col("rn") <= _KL_TOPK)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "c"))),
                lambda s: s["c"].cast("double"),
            ).alias("cs")
        )
    )

    def fold(expr_fn):
        return F.aggregate(
            F.col("cs"), F.lit(0.0), lambda acc, x: acc + expr_fn(x)
        )

    z = arr.select(
        "doc_id",
        "cs",
        fold(lambda x: F.exp(x * 2.0)).alias("zp"),
        fold(lambda x: F.exp(x * 1.0)).alias("zq"),
    )

    def p(x):
        return F.exp(x * 2.0) / F.col("zp")

    def q(x):
        return F.exp(x * 1.0) / F.col("zq")

    # All three divergences are analytically >= 0; a ~1e-17 negative float
    # residue rounds to -0.0 on one engine and +0.0 on the other (doc 3 at
    # sf0.01, caught by the hash).  greatest(x, 0.0) does NOT normalize it
    # (-0.0 == 0.0, DuckDB returns the first argument) — the portable
    # normalizer is `+ 0.0`: IEEE round-to-nearest defines -0.0 + 0.0 = +0.0.
    zero = F.lit(0.0)
    return z.select(
        "doc_id",
        (F.greatest(r4(fold(lambda x: p(x) * F.log(p(x) / q(x)))), zero)
         + zero).alias("kl_pq_r4"),
        (F.greatest(r4(fold(lambda x: q(x) * F.log(q(x) / p(x)))), zero)
         + zero).alias("kl_qp_r4"),
        (F.greatest(
            r4(fold(lambda x: (p(x) - q(x)) * F.log(p(x) / q(x)))), zero
        ) + zero).alias("jeffreys_r4"),
    )


# ---------------------------------------------------------------------------
# drift detection: heavy changers between corpus halves

_HC_TOPK = 15


@register(
    "llm_heavy_changers",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
                      (SELECT max(doc_id) FROM documents) AS mx
               FROM documents),
    h AS (SELECT tok, CASE WHEN doc_id * 2 <= mx THEN 0 ELSE 1 END AS half
          FROM t),
    c AS (SELECT tok,
                 CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
                 CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
          FROM h GROUP BY tok),
    n AS (SELECT sum(c0) AS n0, sum(c1) AS n1 FROM c)
    SELECT tok, c0, c1,
           CAST(abs(c0 * n1 - c1 * n0) AS BIGINT) AS change_xmul
    FROM c, n ORDER BY change_xmul DESC, tok LIMIT {_HC_TOPK}
    """,
)
def llm_heavy_changers(spark, sf_dir):
    """Heavy CHANGERS between the two corpus halves — the drift question
    the heavy-hitters sketch family doesn't answer (a token can be hot
    in both halves and carry zero drift signal; what matters is whose
    RATE moved): top-15 tokens by the cross-multiplied rate change
    |c0*N1 - c1*N0| (integer-exact — no float rates; the same
    convention as llm_lang_profile_divergence, same N^2 < 2^63 corpus
    bound documented there) between the first and second doc_id half.
    This is the deterministic reference implementation of what a
    production pipeline approximates with two CountSketches and a
    subtraction.

    Shape: one vocabulary-bounded token census carrying both half
    counts in one pass (the half label is a CASE mask, not two scans),
    one 1-row total frame, top-15 on exact integers."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    mx = load_table(spark, sf_dir, "documents").agg(
        F.max("doc_id").alias("mx")
    )
    h = t.crossJoin(F.broadcast(mx)).select(
        "tok",
        F.when(F.col("doc_id") * 2 <= F.col("mx"), 0).otherwise(1).alias("half"),
    )
    c = h.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    n = c.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    return (
        c.crossJoin(F.broadcast(n))
        .select(
            "tok",
            "c0",
            "c1",
            F.abs(F.col("c0") * F.col("n1") - F.col("c1") * F.col("n0")).alias(
                "change_xmul"
            ),
        )
        .orderBy(F.col("change_xmul").desc(), "tok")
        .limit(_HC_TOPK)
    )


# ---------------------------------------------------------------------------
# SQL surface: PIVOT with multiple aggregates

@register(
    "sql_pivot_multi_agg",
    oracle="""
    SELECT event_type,
           CAST("0_cents" AS BIGINT) AS ctrl_cents,
           CAST("0_n" AS BIGINT) AS ctrl_n,
           CAST("1_cents" AS BIGINT) AS treat_cents,
           CAST("1_n" AS BIGINT) AS treat_n
    FROM (
      PIVOT (SELECT event_type, user_id % 2 AS arm,
                    CAST(round(value * 100, 0) AS BIGINT) AS cents
             FROM events)
      ON arm IN (0, 1) USING sum(cents) AS cents, count(*) AS n
      GROUP BY event_type)
    """,
)
def sql_pivot_multi_agg(spark, sf_dir):
    """PIVOT with MULTIPLE aggregates — the pivot dialect corner where
    engines agree on semantics but invent different generated column
    names (DuckDB emits "0_cents"/"1_n"; Spark emits "arm0_cents"-style
    from the IN-list aliases), so the portable spelling aliases every
    generated column explicitly — which is exactly what this op pins:
    per event type, sum(cents) AND count(*) pivoted over the two
    experiment arms in ONE pivot, hash-matched across both engines'
    native PIVOT syntax (not an emulation on either side).

    Shape: a pivot over a 2-value IN-list is one hash aggregate with
    2x2 conditional states — map-side combined, bounded output."""
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "user_id % 2 as arm",
        "cast(round(value * 100, 0) as bigint) as cents",
    )
    ev.createOrReplaceTempView("pivot_multi_src")
    return spark.sql(
        """
        SELECT event_type,
               arm0_cents AS ctrl_cents, arm0_n AS ctrl_n,
               arm1_cents AS treat_cents, arm1_n AS treat_n
        FROM pivot_multi_src
        PIVOT (sum(cents) AS cents, count(cents) AS n
               FOR arm IN (0 AS arm0, 1 AS arm1))
        """
    )


# ---------------------------------------------------------------------------
# time series: Haar wavelet energy by level

_HAAR_LEVELS = 3


@register(
    "ts_haar_energy",
    oracle="""
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(sum(round(value * 100, 0)) AS BIGINT) AS c
               FROM events GROUP BY event_type, day),
    idx AS (SELECT event_type, c,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                     - 1 AS i
            FROM d),
    l1 AS (SELECT event_type, i // 2 AS i,
                  sum(CASE WHEN i % 2 = 0 THEN c ELSE -c END) AS dv,
                  sum(c) AS sv, count(*) AS k
           FROM idx GROUP BY event_type, i // 2),
    l1f AS (SELECT * FROM l1 WHERE k = 2),
    l2 AS (SELECT event_type, i // 2 AS i,
                  sum(CASE WHEN i % 2 = 0 THEN sv ELSE -sv END) AS dv,
                  sum(sv) AS sv, count(*) AS k
           FROM l1f GROUP BY event_type, i // 2),
    l2f AS (SELECT * FROM l2 WHERE k = 2),
    l3 AS (SELECT event_type, i // 2 AS i,
                  sum(CASE WHEN i % 2 = 0 THEN sv ELSE -sv END) AS dv,
                  sum(sv) AS sv, count(*) AS k
           FROM l2f GROUP BY event_type, i // 2),
    l3f AS (SELECT * FROM l3 WHERE k = 2),
    u AS (SELECT event_type, 1 AS lvl, dv FROM l1f
          UNION ALL SELECT event_type, 2, dv FROM l2f
          UNION ALL SELECT event_type, 3, dv FROM l3f)
    SELECT event_type, CAST(lvl AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_coeffs,
           CAST(sum(dv * dv) AS BIGINT) AS energy,
           CAST(max(abs(dv)) AS BIGINT) AS max_abs_coeff
    FROM u GROUP BY event_type, lvl
    """,
)
def ts_haar_energy(spark, sf_dir):
    """Haar wavelet energy by decomposition level — the multiresolution
    view the DFT spectrum (ts_daily_spectrum) can't give: level-1
    coefficients are day-to-day differences, level-2 are 2-day-block
    differences, level-3 are 4-day-block differences, so the energy
    split across levels localizes WHERE the variance lives in scale
    (noise -> level 1; weekly-ish swings -> level 3).  All integer: the
    unnormalized Haar detail is a signed sum of integer cents, squared
    and summed exactly (|dv| < ~1e7 cents here, energy < ~1e15 —
    int64-safe to ~3e9-cent daily sums, documented bound).  Odd-length
    levels drop their unpaired tail element (k = 2 filter) — the
    standard truncation, identical on both engines.

    Shape: calendar-bounded daily frame, three stacked pair-aggregates
    (groupBy i div 2 — each level halves the frame), one union census."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("c"))
    )
    idx = d.select(
        "event_type",
        F.col("c").alias("sv"),
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1
        ).alias("i"),
    )
    levels = []
    cur = idx
    for lvl in range(1, _HAAR_LEVELS + 1):
        nxt = (
            cur.groupBy("event_type", (F.col("i") / 2).cast("long").alias("i"))
            .agg(
                F.sum(
                    F.when(F.col("i") % 2 == 0, F.col("sv")).otherwise(
                        -F.col("sv")
                    )
                ).alias("dv"),
                F.sum("sv").alias("sv"),
                F.count("*").alias("k"),
            )
            .filter(F.col("k") == 2)
        )
        levels.append(
            nxt.select("event_type", F.lit(lvl).alias("lvl"), "dv")
        )
        cur = nxt.select("event_type", "i", "sv")
    u = levels[0]
    for fr in levels[1:]:
        u = u.unionByName(fr)
    return u.groupBy("event_type", F.col("lvl").cast("long").alias("level")).agg(
        F.count("*").alias("n_coeffs"),
        F.sum(F.col("dv") * F.col("dv")).alias("energy"),
        F.max(F.abs("dv")).alias("max_abs_coeff"),
    )


# ---------------------------------------------------------------------------
# Bayesian stats: Beta-Binomial posterior per segment

_BB_A, _BB_B = 2, 2  # literal prior: Beta(2, 2), mildly informative


@register(
    "agg_beta_binomial_posterior",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      CASE WHEN value > 50 THEN 1 ELSE 0 END AS s
               FROM events),
    g AS (SELECT event_type, CAST(sum(s) AS BIGINT) AS successes,
                 CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY event_type)
    SELECT event_type, successes, n,
           CAST(({_BB_A} + successes) * 1000000
                // ({_BB_A} + {_BB_B} + n) AS BIGINT) AS post_mean_e6,
           CAST(({_BB_A} + successes) * 1000000 // ({_BB_A} + {_BB_B} + n)
                * ((n - successes + {_BB_B}) * 1000000
                   // ({_BB_A} + {_BB_B} + n))
                // ({_BB_A} + {_BB_B} + n + 1) AS BIGINT)
             AS post_var_e12
    FROM g
    """,
)
def agg_beta_binomial_posterior(spark, sf_dir):
    """Beta-Binomial posterior summaries — the Bayesian conversion-rate
    estimate with a literal Beta(2,2) prior (the family the repo's
    frequentist battery — Wilson, bootstrap, SPRT — lacked): per event
    type, with success = value > 50, the exact posterior mean
    (a+s)/(a+b+n) e6 and the exact posterior variance
    (a+s)(b+f)/((a+b+n)^2(a+b+n+1)) e12 — BOTH pure integer rationals
    under floor division (Beta moments are rational in integer counts;
    no special functions needed until you want tail quantiles), so the
    Bayesian answer is hash-exact cross-engine.  Shrinkage is visible
    by construction: the posterior mean sits strictly between the MLE
    s/n and the prior mean 1/2, more so at small n — the sf0.001 rows
    shrink hardest (measured).

    Shape: one conditional aggregate; posterior arithmetic is
    driver-scale.  The variance is computed in the FACTORED e6 x e6
    form ((a+s)e6 div D) * ((b+f)e6 div D) div (D+1): the naive
    (a+s)(b+f)*1e12 numerator overflows int64 past n ~ 1e4 — DuckDB
    silently widens to INT128 while Spark's ANSI mode raises, the
    hash-invisible divergence class — whereas each e6 factor stays
    <= 1e6 at ANY n; identical expression text both engines, so the
    extra flooring is hash-identical too."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.when(F.col("value") > 50, 1).otherwise(0).alias("s")
    )
    g = e.groupBy("event_type").agg(
        F.sum("s").cast("long").alias("successes"),
        F.count("*").cast("long").alias("n"),
    )
    a, b = _BB_A, _BB_B
    return g.select(
        "event_type",
        "successes",
        "n",
        F.expr(
            f"({a} + successes) * 1000000 div ({a} + {b} + n)"
        ).alias("post_mean_e6"),
        # Factored form — (a+s)(b+f)*1e12 overflows int64 past n ~ 1e4
        # (DuckDB silently widens to INT128; Spark ANSI raised at sf0.1's
        # probe): each e6-scaled factor stays <= 1e6, the product <= 1e12.
        # Same expression text on both engines, so the extra flooring is
        # hash-identical.
        F.expr(
            f"({a} + successes) * 1000000 div ({a} + {b} + n)"
            f" * ((n - successes + {b}) * 1000000 div ({a} + {b} + n))"
            f" div ({a} + {b} + n + 1)"
        ).alias("post_var_e12"),
    )


# ---------------------------------------------------------------------------
# ANN: hamming-radius census over 16-bit signatures

_HR_RADII = (0, 2, 4, 8)
_HR_PROBES = 10


@register(
    "llm_simhash_hamming_radius",
    oracle=f"""
    WITH c AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT)
                        AS code
               FROM documents),
    pr AS (SELECT doc_id AS probe_id, code AS pc FROM c
           WHERE doc_id < {_HR_PROBES}),
    d AS (SELECT probe_id,
                 bit_count(CAST(xor(pc, code) AS BIGINT)) AS hd
          FROM pr, c WHERE c.doc_id <> pr.probe_id),
    radii AS (SELECT unnest([{",".join(map(str, _HR_RADII))}]) AS radius)
    SELECT probe_id, CAST(radius AS BIGINT) AS radius,
           CAST(sum(CASE WHEN hd <= radius THEN 1 ELSE 0 END) AS BIGINT)
             AS n_within
    FROM d, radii GROUP BY probe_id, radius
    """,
)
def llm_simhash_hamming_radius(spark, sf_dir):
    """Hamming-radius census over 16-bit signatures — the multi-probe
    LSH planning table: how many candidates does admitting radius r
    around each probe's fingerprint buy?  (Radius-0 is the exact-bucket
    hit count; each +2 bits multiplies candidates — the census is what
    sizes a multi-probe schedule against a recall target.)  Signature =
    the leading 16 md5 bits of the document text (a deterministic
    stand-in with the same uniform-marginal geometry as a trained
    simhash; the trained path is ann_simhash_codes).  Measured: radius-2
    admits 11..113 candidates and radius-8 ~half the corpus, varying by
    probe and SF — the exponential admission curve the planner needs.

    Shape: a 10-probe literal broadcast against one corpus pass
    (XOR + bit_count inside codegen — DuckDB spells xor()/bit_count,
    Spark ^/bit_count), a 4-row literal radius grid on the bounded
    distance frame.  The probe x corpus pass is the audited
    llm_knn_cosine bounded-BNLJ pattern."""
    c = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("cast(conv(substring(md5(text), 1, 4), 16, 10) as bigint)").alias(
            "code"
        ),
    )
    pr = c.filter(F.col("doc_id") < _HR_PROBES).select(
        F.col("doc_id").alias("probe_id"), F.col("code").alias("pc")
    )
    d = (
        c.crossJoin(F.broadcast(pr))
        .filter(F.col("doc_id") != F.col("probe_id"))
        .select("probe_id", F.expr("bit_count(pc ^ code)").alias("hd"))
    )
    radii = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _HR_RADII])).alias("radius")
    )
    return (
        d.crossJoin(F.broadcast(radii))
        .groupBy("probe_id", F.col("radius").cast("long").alias("radius"))
        .agg(
            F.sum(F.when(F.col("hd") <= F.col("radius"), 1).otherwise(0)).alias(
                "n_within"
            )
        )
    )


# ---------------------------------------------------------------------------
# time series: PACF at lag 2 (Durbin-Levinson)

@register(
    "ts_pacf_lag2",
    oracle="""
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      sum(value) AS s
               FROM events GROUP BY event_type, day),
    m AS (SELECT event_type, avg(s) AS mu FROM d GROUP BY event_type),
    dev AS (SELECT d.event_type, day, s - mu AS e
            FROM d JOIN m USING (event_type)),
    lg AS (SELECT event_type, e,
                  lag(e, 1) OVER (PARTITION BY event_type ORDER BY day) AS e1,
                  lag(e, 2) OVER (PARTITION BY event_type ORDER BY day) AS e2
           FROM dev),
    rk AS (SELECT event_type,
                  sum(e * e1) / sum(e * e) AS r1,
                  sum(e * e2) / sum(e * e) AS r2
           FROM lg GROUP BY event_type)
    SELECT event_type,
           round(r1, 4) + 0 AS acf1_r4,
           round(r2, 4) + 0 AS acf2_r4,
           round((r2 - r1 * r1) / (1 - r1 * r1), 4) + 0 AS pacf2_r4
    FROM rk
    """,
)
def ts_pacf_lag2(spark, sf_dir):
    """Partial autocorrelation at lag 2 via Durbin-Levinson — the
    model-order diagnostic the raw ACF cannot give (an AR(1) process
    shows acf2 = r1^2 > 0 purely by inheritance; PACF(2) =
    (r2 - r1^2)/(1 - r1^2) removes the lag-1 path and isolates the
    DIRECT lag-2 effect — the number that separates AR(1) from AR(2)
    when choosing a forecast model): per event type, the two sample
    autocorrelations (ts_autocorr's plug-in convention) and the
    closed-form lag-2 partial.  Measured ±0.23, signed and varying by
    type/SF — the white-noise placebo spread.

    Shape: calendar-bounded daily frame, two lag windows, one
    aggregate, driver-scale closed-form arithmetic; doubles rounded at
    the §2 grain."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum("value").alias("s"))
    )
    m = d.groupBy("event_type").agg(F.avg("s").alias("mu"))
    dev = d.join(F.broadcast(m), "event_type").select(
        "event_type", "day", (F.col("s") - F.col("mu")).alias("e")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lg = dev.select(
        "event_type",
        "e",
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
    )
    rk = lg.groupBy("event_type").agg(
        (F.sum(F.col("e") * F.col("e1")) / F.sum(F.col("e") * F.col("e"))).alias(
            "r1"
        ),
        (F.sum(F.col("e") * F.col("e2")) / F.sum(F.col("e") * F.col("e"))).alias(
            "r2"
        ),
    )
    return rk.select(
        "event_type",
        r4(F.col("r1")).alias("acf1_r4"),
        r4(F.col("r2")).alias("acf2_r4"),
        r4(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1"))
        ).alias("pacf2_r4"),
    )


# ---------------------------------------------------------------------------
# text statistics: Heaps-law growth curve over trigram types

_HL_PCTS = (10, 30, 100)


@register(
    "llm_heaps_law_curve",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk,
                      (SELECT max(doc_id) + 1 FROM documents) AS n
               FROM documents),
    bg AS (SELECT doc_id, n,
                  tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
           FROM (SELECT doc_id, n, tk, unnest(range(1, len(tk) - 1)) AS i
                 FROM t)),
    pcts AS (SELECT unnest([{",".join(map(str, _HL_PCTS))}]) AS pct),
    v AS (SELECT pct, CAST(count(DISTINCT g) AS BIGINT) AS n_types,
                 CAST(count(*) AS BIGINT) AS n_tokens
          FROM bg, pcts WHERE doc_id * 100 < pct * n GROUP BY pct)
    SELECT CAST(pct AS BIGINT) AS pct, n_types, n_tokens,
           CAST(n_types * 1000000 // n_tokens AS BIGINT)
             AS type_token_e6
    FROM v
    """,
)
def llm_heaps_law_curve(spark, sf_dir):
    """Heaps-law vocabulary growth over TRIGRAM types — V(N) at corpus
    prefixes of 10/30/100% (by doc_id, the deterministic ingest order):
    the curve whose flattening tells a curation run when new data stops
    buying new n-gram coverage (the dedup-adjacent 'diminishing
    novelty' signal; llm_ngram_novelty scores documents, this op scores
    the CORPUS trajectory).  Trigram types, deliberately: the unigram
    vocabulary of this corpus saturates at 31 tokens inside the first
    prefix (measured — the unigram variant was dropped as vacuous at
    validation), while trigram types grow 2523 -> 16506 at sf0.001 and
    keep climbing at sf0.1, a live curve on both axes; the type/token
    ratio e6 falls along it, integer-exact.

    Shape: one n-gram explode, a 3-row literal prefix grid as CASE
    masks over the same pass (count distinct per grid point) — the
    grid multiplies distinct-aggregation states, not corpus scans."""
    docs = load_table(spark, sf_dir, "documents")
    nmax = docs.agg((F.max("doc_id") + 1).alias("n"))
    tri = F.expr(
        "transform(sequence(1, size(tk) - 2), i -> "
        "concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), "
        "element_at(tk, i + 2)))"
    )
    bg = (
        docs.select("doc_id", F.split(F.lower("text"), " ").alias("tk"))
        .filter(F.size("tk") >= 3)
        .select("doc_id", F.explode(tri).alias("g"))
        .crossJoin(F.broadcast(nmax))
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _HL_PCTS])).alias("pct")
    )
    v = (
        bg.crossJoin(F.broadcast(pcts))
        .filter(F.col("doc_id") * 100 < F.col("pct") * F.col("n"))
        .groupBy(F.col("pct").cast("long").alias("pct"))
        .agg(
            F.countDistinct("g").alias("n_types"),
            F.count("*").alias("n_tokens"),
        )
    )
    return v.select(
        "pct",
        "n_types",
        "n_tokens",
        F.expr("n_types * 1000000 div n_tokens").alias("type_token_e6"),
    )

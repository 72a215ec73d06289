"""Round-14 tranche, wave E — built during round 11.

* econometrics — Oaxaca–Blinder gap decomposition (endowment vs
  coefficient effects between two groups' hour-of-day fits),
  propensity-stratified treatment effect.
* method agreement — Bland–Altman bias and limits of agreement
  between two location estimators (hourly mean vs median).
* operations — alert debouncing (suppress within 6h of the previous
  alert) on the Bollinger breach stream.
* sketch calibration — MinHash Jaccard estimator error vs the exact
  Jaccard on deterministic doc pairs (the estimator-audit companion
  to llm_minhash_sig).

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/vacuity_r14.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

# ---------------------------------------------------------------------------
# econometrics: Oaxaca–Blinder decomposition


@register(
    "agg_oaxaca_blinder",
    oracle="""
    WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
                        AS g,
                      extract(hour FROM ts) AS x,
                      CAST(round(value*100,0) AS BIGINT) AS y
               FROM events WHERE event_type IN ('purchase', 'view')),
    s AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x*x) AS sxx, sum(x*y) AS sxy
          FROM e GROUP BY 1),
    fit AS (SELECT g,
                   CAST((n*sxy - sx*sy) AS DOUBLE) / (n*sxx - sx*sx) AS beta,
                   CAST(sy AS DOUBLE)/n AS ybar,
                   CAST(sx AS DOUBLE)/n AS xbar
            FROM s),
    d AS (SELECT (SELECT ybar FROM fit WHERE g = 1)
                 - (SELECT ybar FROM fit WHERE g = 0) AS gap,
                 (SELECT beta FROM fit WHERE g = 0) AS b0,
                 (SELECT beta FROM fit WHERE g = 1) AS b1,
                 (SELECT xbar FROM fit WHERE g = 0) AS x0,
                 (SELECT xbar FROM fit WHERE g = 1) AS x1)
    SELECT CAST(floor(gap*100) AS BIGINT) AS gap_c100,
           CAST(floor(b0*(x1 - x0)*100) AS BIGINT) AS endowment_c100,
           CAST(floor((b1 - b0)*x1*100) AS BIGINT) AS coefficient_c100
    FROM d
    """,
)
def agg_oaxaca_blinder(spark, sf_dir):
    """Oaxaca–Blinder decomposition — the wage-gap workhorse applied to
    the purchase-vs-view value gap with hour-of-day as the single
    covariate: split the mean gap into the ENDOWMENT effect (the part
    explained by different hour mixes, priced at the reference group's
    slope) and the COEFFICIENT effect (different slopes at the
    comparison group's mix).  Per-group OLS pieces are exact integer
    sums (n, sx, sy, sxx, sxy); the assembly runs the identical IEEE
    double sequence on both engines and floors at c100 grain.
    Measured: the raw gap itself flips sign across SFs (-8068 / +2818
    / +7472 c100) and the decomposition splits it live (endowment
    264 -> 23, coefficient -111346 -> -14186 — on white noise both
    'effects' are sampling noise, and their sign instability IS the
    honest finding).

    Shape: one grouped sums pass (map-side), scalar assembly."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("g"),
        F.hour("ts").alias("x"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    )
    s = e.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    fit = s.select(
        "g",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("beta"),
        (F.col("sy").cast("double") / F.col("n")).alias("ybar"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
    )
    f0 = fit.filter(F.col("g") == 0).select(
        F.col("beta").alias("b0"), F.col("ybar").alias("yb0"), F.col("xbar").alias("x0")
    )
    f1 = fit.filter(F.col("g") == 1).select(
        F.col("beta").alias("b1"), F.col("ybar").alias("yb1"), F.col("xbar").alias("x1")
    )
    d = f0.crossJoin(F.broadcast(f1))
    return d.select(
        F.floor((F.col("yb1") - F.col("yb0")) * 100).cast("long").alias("gap_c100"),
        F.floor(F.col("b0") * (F.col("x1") - F.col("x0")) * 100)
        .cast("long")
        .alias("endowment_c100"),
        F.floor((F.col("b1") - F.col("b0")) * F.col("x1") * 100)
        .cast("long")
        .alias("coefficient_c100"),
    )


# ---------------------------------------------------------------------------
# econometrics: propensity-stratified treatment effect


@register(
    "agg_propensity_strata",
    oracle="""
    WITH e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT)//10
                        AS stratum,
                      CASE WHEN value > 100 THEN 1 ELSE 0 END AS t,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS y
               FROM events),
    s AS (SELECT stratum, count(*) AS n,
                 sum(t*y) AS ty, sum(t) AS nt,
                 sum((1-t)*y) AS cy, sum(1-t) AS nc
          FROM e GROUP BY 1 HAVING sum(t) > 0 AND sum(1-t) > 0),
    ate AS (SELECT sum(n*(ty*10000//nt - cy*10000//nc))//sum(n) AS ate_e4
            FROM s)
    SELECT CAST(stratum AS BIGINT) AS stratum,
           CAST(n AS BIGINT) AS n_rows,
           CAST(ty*10000//nt - cy*10000//nc AS BIGINT) AS strat_effect_e4,
           CAST((SELECT ate_e4 FROM ate) AS BIGINT) AS ate_e4
    FROM s
    """,
)
def agg_propensity_strata(spark, sf_dir):
    """Propensity-stratified treatment effect — the subclassification
    estimator (Rosenbaum–Rubin): stratify on the payload decile (the
    stand-in propensity score), difference the treated (value > 100)
    vs control purchase rates WITHIN each stratum, pool with
    stratum-size weights.  Per-stratum effects are subtractions of two
    nonneg e4 divisions (sign without signed division); the HAVING
    gate drops single-arm strata identically on both engines.
    Measured: ATE shrinks -225..+539 -> -44 e4 as N grows with
    per-stratum effects spanning -1278..+2339 — value and purchase
    are independent by construction and the estimator converges on 0,
    the per-stratum spread the liveness.

    Shape: one scan -> 10-stratum census (map-side), one pooled
    scalar broadcast back onto the strata rows."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "cast(get_json_object(props, '$.k') as bigint) div 10"
        ).alias("stratum"),
        F.when(F.col("value") > 100, 1).otherwise(0).alias("t"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    s = (
        e.groupBy("stratum")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("t") * F.col("y")).alias("ty"),
            F.sum("t").alias("nt"),
            F.sum((1 - F.col("t")) * F.col("y")).alias("cy"),
            F.sum(1 - F.col("t")).alias("nc"),
        )
        .filter((F.col("nt") > 0) & (F.col("nc") > 0))
    )
    ate = s.groupBy().agg(
        F.expr(
            "sum(n*(ty*10000 div nt - cy*10000 div nc)) div sum(n)"
        ).alias("ate_e4")
    )
    return s.crossJoin(F.broadcast(ate)).select(
        F.col("stratum").cast("long").alias("stratum"),
        F.col("n").cast("long").alias("n_rows"),
        F.expr("cast(ty*10000 div nt - cy*10000 div nc as bigint)").alias(
            "strat_effect_e4"
        ),
        F.col("ate_e4").cast("long").alias("ate_e4"),
    )


# ---------------------------------------------------------------------------
# method agreement: Bland–Altman


@register(
    "agg_bland_altman",
    oracle="""
    WITH h AS (SELECT date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS m,
                      CAST(2*median(CAST(round(value*100,0) AS BIGINT))
                           AS BIGINT) AS md2
               FROM events GROUP BY 1),
    d AS (SELECT 2*m - md2 AS diff2 FROM h),
    s AS (SELECT count(*) AS n, sum(diff2) AS sd, sum(diff2*diff2) AS qd
          FROM d)
    SELECT CAST(n AS BIGINT) AS n_hours,
           CAST(sd*100//(2*n) AS BIGINT) AS bias_c100,
           CAST(floor(sqrt(CAST(n*qd - sd*sd AS DOUBLE))/(2*n)*196.0)
                AS BIGINT) AS loa_halfwidth_c100
    FROM s
    """,
)
def agg_bland_altman(spark, sf_dir):
    """Bland–Altman agreement between two location estimators — the
    method-comparison plot's two numbers (bias and 1.96-sigma limits
    of agreement), here between the hourly MEAN and the hourly MEDIAN
    of cents (the robust-vs-efficient estimator pair every
    aggregation pipeline implicitly chooses between): per-hour diffs
    are exact integers; bias is an integer c100 division (sums
    nonneg: the mean sits above the median on this right-skewed
    distribution at every hour), the LoA half-width the identical
    IEEE sqrt sequence.  Measured: bias 14210 -> 149064 c100 (142 ->
    1490 cents — sparse hours at sf0.001 damp the skew gap; dense
    hours expose the full mean-median divergence) with LoA width
    moving opposite (158145 -> 67468) — both columns live and the
    crossover is the story.

    Exactness note: an even-count median is a .5 double, and Spark
    casts doubles to long by TRUNCATION while DuckDB ROUNDS — so both
    engines carry 2*median (always an exact integer: the sum of the
    two middle elements) and the whole pipeline runs in doubled-diff
    units, dividing by 2n only at the end.

    Shape: one hourly rollup carrying an exact percentile, one
    scalar aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    h = e.groupBy("hr").agg(
        F.expr("cast(sum(c) div count(*) as bigint)").alias("m"),
        F.expr("cast(2*median(c) as bigint)").alias("md2"),
    )
    d = h.select((2 * F.col("m") - F.col("md2")).alias("diff2"))
    s = d.groupBy().agg(
        F.count("*").alias("n"),
        F.sum("diff2").alias("sd"),
        F.sum(F.col("diff2") * F.col("diff2")).alias("qd"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_hours"),
        F.expr("cast(sd*100 div (2*n) as bigint)").alias("bias_c100"),
        F.floor(
            F.sqrt((F.col("n") * F.col("qd") - F.col("sd") * F.col("sd")).cast("double"))
            / (2 * F.col("n"))
            * 196.0
        )
        .cast("long")
        .alias("loa_halfwidth_c100"),
    )


# ---------------------------------------------------------------------------
# operations: alert debouncing

_DB_GAP_H = 6


@register(
    "ts_alert_debounce",
    oracle=f"""
    WITH h AS (SELECT event_type AS et, date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1, 2),
    w AS (SELECT et, hr, y, sum(y) OVER win AS s, sum(y*y) OVER win AS q,
                 count(*) OVER win AS n
          FROM h WINDOW win AS (PARTITION BY et ORDER BY hr
                                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
    alerts AS (SELECT et, hr FROM w WHERE n = 24
               AND (n*y - s)*(n*y - s) > 4*(n*q - s*s)),
    gaps AS (SELECT et, hr,
                    date_diff('hour',
                              lag(hr) OVER (PARTITION BY et ORDER BY hr),
                              hr) AS gh
             FROM alerts)
    SELECT et AS event_type,
           CAST(count(*) AS BIGINT) AS raw_alerts,
           CAST(count(*) FILTER (gh IS NULL OR gh > {_DB_GAP_H}) AS BIGINT)
             AS debounced_alerts,
           CAST(max(gh) AS BIGINT) AS max_gap_hours
    FROM gaps GROUP BY 1
    """,
)
def ts_alert_debounce(spark, sf_dir):
    """Alert debouncing — the pager-hygiene transform every monitoring
    stack applies (suppress an alert fired within 6 hours of the
    previous one in its series): Bollinger-style 2-sigma breaches on
    the 24-hour rolling band (the cross-multiplied integer test, the
    ts_bollinger_breach machinery) reduced by the lag-gap rule.  NOTE
    the deliberate single-pass semantics: suppression is relative to
    the previous RAW alert, not the previous SURVIVING alert — the
    true chained debounce is a data-dependent recursion no window
    expresses; the one-pass approximation is the streamable form and
    the docstring is its contract (both engines implement exactly
    this).  Measured: raw 6..36 vs debounced 6..27 with the
    suppression visible at sf0.01+ (30->24, 36->27) and max alert
    gaps 49..238 hours — all columns live.

    Shape: two windows over the hourly frame + one lag over the
    sparse alert set."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            F.date_trunc("hour", F.col("ts")).alias("hr"),
        )
        .agg(
            F.expr(
                "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
                " as bigint)"
            ).alias("y")
        )
    )
    win = Window.partitionBy("et").orderBy("hr").rowsBetween(-23, 0)
    w = h.select(
        "et",
        "hr",
        "y",
        F.sum("y").over(win).alias("s"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("q"),
        F.count("*").over(win).alias("n"),
    ).filter(
        (F.col("n") == 24)
        & (
            (F.col("n") * F.col("y") - F.col("s"))
            * (F.col("n") * F.col("y") - F.col("s"))
            > 4 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
        )
    )
    gaps = w.select(
        "et",
        "hr",
        (
            (
                F.expr("unix_seconds(hr)")
                - F.expr(
                    "unix_seconds(lag(hr) over (partition by et order by hr))"
                )
            )
            / 3600
        )
        .cast("long")
        .alias("gh"),
    )
    return gaps.groupBy(F.col("et").alias("event_type")).agg(
        F.count("*").cast("long").alias("raw_alerts"),
        F.count(
            F.when(F.col("gh").isNull() | (F.col("gh") > _DB_GAP_H), 1)
        )
        .cast("long")
        .alias("debounced_alerts"),
        F.max("gh").cast("long").alias("max_gap_hours"),
    )


# ---------------------------------------------------------------------------
# sketch calibration: MinHash estimator error

_ME_H = 16  # hash functions
_ME_PAIRS = 40  # doc_id < 40, consecutive even/odd pairs


@register(
    "llm_minhash_est_error",
    oracle=f"""
    WITH dd AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
                FROM documents WHERE doc_id < {_ME_PAIRS}),
    pr AS (SELECT a.doc_id AS i, b.doc_id AS j, a.ts AS t1, b.ts AS t2
           FROM dd a JOIN dd b ON b.doc_id = a.doc_id + 1
           WHERE a.doc_id % 2 = 0),
    exact AS (SELECT i, j,
                     len(list_intersect(t1, t2)) * 10000
                       // len(list_distinct(list_concat(t1, t2))) AS jac_e4
              FROM pr),
    tok AS (SELECT i, j, side, tok, hh.h
            FROM (SELECT i, j, 1 AS side, unnest(t1) AS tok FROM pr
                  UNION ALL
                  SELECT i, j, 2, unnest(t2) FROM pr),
                 range(0, {_ME_H}) hh(h)),
    hv AS (SELECT i, j, side, h,
                  min(('0x' || substr(md5(tok || ':' || h), 1, 8))::BIGINT)
                    AS mn
           FROM tok GROUP BY 1, 2, 3, 4),
    sig AS (SELECT a.i, a.j,
                   sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS agree
            FROM hv a JOIN hv b ON b.i = a.i AND b.j = a.j AND b.h = a.h
                 AND a.side = 1 AND b.side = 2
            GROUP BY 1, 2),
    est AS (SELECT i, j, agree * 10000 // {_ME_H} AS est_e4 FROM sig)
    SELECT CAST(exact.i AS BIGINT) AS doc_a, CAST(exact.j AS BIGINT) AS doc_b,
           CAST(jac_e4 AS BIGINT) AS exact_jaccard_e4,
           CAST(est_e4 AS BIGINT) AS minhash_est_e4,
           CAST(abs(est_e4 - jac_e4) AS BIGINT) AS abs_err_e4
    FROM exact JOIN est ON est.i = exact.i AND est.j = exact.j
    """,
)
def llm_minhash_est_error(spark, sf_dir):
    """MinHash estimator calibration — the sketch-audit companion to
    llm_minhash_sig: for 20 deterministic doc pairs, the EXACT token
    Jaccard next to the 16-hash MinHash estimate (share of agreeing
    signature slots) and the absolute error, every quantity an exact
    integer (the md5 hash family is the engine-portable one the
    near-dup index uses).  The point a sketch consumer needs pinned:
    with 16 hashes the standard error is sqrt(J(1-J)/16) ~ 12 points,
    and the measured per-pair errors (0..~3400 e4 with means ~700)
    sit inside that envelope — the table IS the calibration evidence,
    and a hash-family or slot-alignment bug would blow it up.

    Shape: pairing-bounded (20 pairs x 16 slots); the signature min
    is one grouped aggregate over the exploded token x slot frame —
    never a per-slot subquery."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _ME_PAIRS)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("ts"))
    )
    b = d.select(
        F.col("doc_id").alias("j"), F.col("ts").alias("t2")
    )
    pr = (
        d.filter(F.col("doc_id") % 2 == 0)
        .join(b, F.col("j") == F.col("doc_id") + 1)
        .select(F.col("doc_id").alias("i"), "j", F.col("ts").alias("t1"), "t2")
    )
    exact = pr.select(
        "i",
        "j",
        F.expr(
            "size(array_intersect(t1, t2)) * 10000"
            " div size(array_distinct(concat(t1, t2)))"
        ).alias("jac_e4"),
    )
    tok = (
        pr.select("i", "j", F.lit(1).alias("side"), F.explode("t1").alias("tok"))
        .unionAll(
            pr.select("i", "j", F.lit(2).alias("side"), F.explode("t2").alias("tok"))
        )
        .crossJoin(
            F.broadcast(
                pr.sparkSession.range(_ME_H).select(
                    F.col("id").cast("int").alias("h")
                )
            )
        )
    )
    hv = tok.groupBy("i", "j", "side", "h").agg(
        F.expr(
            "min(cast(conv(substring(md5(concat(tok, ':',"
            " cast(h as string))), 1, 8), 16, 10) as bigint))"
        ).alias("mn")
    )
    h1 = hv.filter(F.col("side") == 1).select("i", "j", "h", F.col("mn").alias("m1"))
    h2 = hv.filter(F.col("side") == 2).select(
        F.col("i").alias("i2"), F.col("j").alias("j2"), F.col("h").alias("h2"),
        F.col("mn").alias("m2"),
    )
    sig = (
        h1.join(
            h2,
            (F.col("i") == F.col("i2"))
            & (F.col("j") == F.col("j2"))
            & (F.col("h") == F.col("h2")),
        )
        .groupBy("i", "j")
        .agg(
            F.sum(F.when(F.col("m1") == F.col("m2"), 1).otherwise(0)).alias(
                "agree"
            )
        )
    )
    est = sig.select(
        "i", "j", F.expr(f"agree * 10000 div {_ME_H}").alias("est_e4")
    )
    eb = est.select(
        F.col("i").alias("i3"), F.col("j").alias("j3"), "est_e4"
    )
    return (
        exact.join(
            eb, (F.col("i") == F.col("i3")) & (F.col("j") == F.col("j3"))
        )
        .select(
            F.col("i").cast("long").alias("doc_a"),
            F.col("j").cast("long").alias("doc_b"),
            F.col("jac_e4").cast("long").alias("exact_jaccard_e4"),
            F.col("est_e4").cast("long").alias("minhash_est_e4"),
            F.abs(F.col("est_e4") - F.col("jac_e4"))
            .cast("long")
            .alias("abs_err_e4"),
        )
    )

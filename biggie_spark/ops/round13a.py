"""Round-13 tranche, wave A (time-series statistics) — built during
round 11.

Families:

* change-point / drift — Pettitt rank test (the nonparametric
  change-point detector), Page–Hinkley drift statistic (the streaming
  drift monitor's offline twin).
* robust trend — Theil–Sen median slope with quartile bounds (the
  robust regression every monitoring stack quotes).
* randomness / structure — turning-point census vs the 2(n-2)/3
  expectation, sample entropy (template-match regularity).
* technical regimes — RSI(14) regime census, Bollinger band breach
  census via cross-multiplied integer comparisons.
* efficiency — Kaufman efficiency ratio per (series, day).

All operate on the bounded hourly frame (<= 744 rows per series per
month — calendar-bounded, NOT data-bounded, so every post-rollup stage
is O(1) at any corpus size; the only full-data pass is the hourly
rollup with map-side partial aggregation).  Spreads validated in
DuckDB at sf{0.001,0.01,0.1} before registration — measured evidence
in tools/vacuity_r13.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

# Shared hourly frame: per (event_type, hour), mean value in exact cents
# (integer floor of an exact BIGINT sum — convention (b), nonnegative so
# Spark `div` == DuckDB `//`).
_HOURLY_DUCK = """
    h AS (SELECT event_type AS et, date_trunc('hour', ts) AS hr,
                 CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                      AS BIGINT) AS y
          FROM events GROUP BY 1, 2)
"""


def _hourly(spark, sf_dir):
    return (
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


# ---------------------------------------------------------------------------
# change-point: Pettitt rank test


@register(
    "ts_pettitt_change",
    oracle=f"""
    WITH {_HOURLY_DUCK},
    r AS (SELECT et, hr, y,
                 row_number() OVER (PARTITION BY et ORDER BY hr) AS t,
                 count(*) OVER (PARTITION BY et) AS n
          FROM h),
    rk AS (SELECT r.et, r.t, r.n,
                  2*(count(*) FILTER (y2.y < r.y))
                  + (count(*) FILTER (y2.y = r.y)) + 1 AS r2
           FROM r JOIN h y2 ON y2.et = r.et
           GROUP BY r.et, r.t, r.n, r.y),
    u AS (SELECT et, t, n,
                 sum(r2) OVER (PARTITION BY et ORDER BY t) - t*(n+1) AS u_t
          FROM rk),
    k AS (SELECT et, max(n) AS n_hours, max(abs(u_t)) AS k_stat
          FROM u GROUP BY 1)
    SELECT k.et AS event_type, CAST(k.n_hours AS BIGINT) AS n_hours,
           CAST(k.k_stat AS BIGINT) AS k_stat,
           CAST(min(u.t) AS BIGINT) AS t_star
    FROM k JOIN u ON u.et = k.et AND abs(u.u_t) = k.k_stat
    GROUP BY 1, 2, 3
    """,
)
def ts_pettitt_change(spark, sf_dir):
    """Pettitt change-point test — THE nonparametric single-change-point
    detector (hydrology/monitoring standard): U_t = sum over i<=t of the
    doubled midranks minus t(n+1), K = max|U_t|, with the change located
    at the earliest arg-max hour (explicit min-t tie-break — max_by
    alone is tie-unstable across engines).  Doubled midranks
    (2*count_less + count_equal_incl_self + 1 = 2*rank when tie-free)
    keep every intermediate an exact integer.  Measured: K spans
    841..1410 (sf0.001), 5781..12087 (sf0.01), 7197..11151 (sf0.1)
    with t* locations all distinct — live on both axes.

    Shape: rank computation is one bounded self-join of the hourly
    frame (<= 744 rows/series — calendar-bounded), never the raw
    events; the rollup underneath is the only full-data pass."""
    h = _hourly(spark, sf_dir)
    wr = Window.partitionBy("et")
    r = h.select(
        "et",
        "y",
        F.row_number().over(wr.orderBy("hr")).alias("t"),
        F.count("*").over(wr).alias("n"),
    )
    y2 = h.select(F.col("et").alias("et2"), F.col("y").alias("yy"))
    rk = (
        r.join(y2, F.col("et") == F.col("et2"))
        .groupBy("et", "t", "n", "y")
        .agg(
            (
                2 * F.count(F.when(F.col("yy") < F.col("y"), 1))
                + F.count(F.when(F.col("yy") == F.col("y"), 1))
                + 1
            ).alias("r2")
        )
    )
    wu = Window.partitionBy("et").orderBy("t")
    u = rk.select(
        "et",
        "t",
        "n",
        (F.sum("r2").over(wu) - F.col("t") * (F.col("n") + 1)).alias("u_t"),
    )
    k = u.groupBy("et").agg(
        F.max("n").alias("n_hours"), F.max(F.abs(F.col("u_t"))).alias("k_stat")
    )
    return (
        k.join(
            u.select(F.col("et").alias("et2"), "t", "u_t"),
            (F.col("et") == F.col("et2"))
            & (F.abs(F.col("u_t")) == F.col("k_stat")),
        )
        .groupBy(
            F.col("et").alias("event_type"),
            F.col("n_hours").cast("long").alias("n_hours"),
            F.col("k_stat").cast("long").alias("k_stat"),
        )
        .agg(F.min("t").cast("long").alias("t_star"))
    )


# ---------------------------------------------------------------------------
# robust trend: Theil–Sen median slope


@register(
    "ts_theil_sen",
    oracle=f"""
    WITH {_HOURLY_DUCK},
    i AS (SELECT et, y,
                 row_number() OVER (PARTITION BY et ORDER BY hr) AS t
          FROM h),
    p AS (SELECT a.et,
                 CAST(floor((b.y - a.y) * 1000000.0 / (b.t - a.t)) AS BIGINT)
                   AS s_e6
          FROM i a JOIN i b ON a.et = b.et AND b.t > a.t),
    o AS (SELECT et, s_e6,
                 row_number() OVER (PARTITION BY et ORDER BY s_e6) AS rn,
                 count(*) OVER (PARTITION BY et) AS np
          FROM p)
    SELECT et AS event_type, CAST(max(np) AS BIGINT) AS n_pairs,
           max(CASE WHEN rn = (np+1)//2 THEN s_e6 END) AS med_slope_e6,
           max(CASE WHEN rn = (np+3)//4 THEN s_e6 END) AS q1_slope_e6,
           max(CASE WHEN rn = (3*np+1)//4 THEN s_e6 END) AS q3_slope_e6
    FROM o GROUP BY 1
    """,
)
def ts_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend — the median of all pairwise slopes (29.3%
    breakdown point, the robust alternative to OLS on contaminated
    series), with the quartile slopes as the spread band.  Each pair
    slope is floor((dy*1e6)/dt) — dy*1e6 stays within double's exact
    integer range (|dy| <= ~1e5 cents), IEEE division is correctly
    rounded and floor is engine-identical, so every slope is the same
    BIGINT on both engines; medians are rank-picked elements (value at
    a rank is deterministic under ties regardless of tie order).
    Measured: median slope flips sign across series and SFs (+4604316
    at sf0.001/purchase, -745820 at sf0.01/view, +151051 at
    sf0.1/click) — live on both axes.

    Shape: the pair join is calendar-bounded (<= 744 hourly rows per
    series -> <= 276k pairs regardless of corpus size); n_pairs hits
    that 258840 ceiling at sf0.1 by design."""
    h = _hourly(spark, sf_dir)
    i = h.select(
        "et",
        "y",
        F.row_number().over(Window.partitionBy("et").orderBy("hr")).alias("t"),
    )
    b = i.select(
        F.col("et").alias("et2"),
        F.col("y").alias("yb"),
        F.col("t").alias("tb"),
    )
    p = (
        i.join(b, (F.col("et") == F.col("et2")) & (F.col("tb") > F.col("t")))
        .select(
            "et",
            F.floor(
                (F.col("yb") - F.col("y")).cast("double")
                * 1000000.0
                / (F.col("tb") - F.col("t"))
            )
            .cast("long")
            .alias("s_e6"),
        )
    )
    wo = Window.partitionBy("et")
    o = p.select(
        "et",
        "s_e6",
        F.row_number().over(wo.orderBy("s_e6")).alias("rn"),
        F.count("*").over(wo).alias("np"),
    )
    return o.groupBy(F.col("et").alias("event_type")).agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.max(
            F.when(F.col("rn") == F.expr("(np+1) div 2"), F.col("s_e6"))
        ).alias("med_slope_e6"),
        F.max(
            F.when(F.col("rn") == F.expr("(np+3) div 4"), F.col("s_e6"))
        ).alias("q1_slope_e6"),
        F.max(
            F.when(F.col("rn") == F.expr("(3*np+1) div 4"), F.col("s_e6"))
        ).alias("q3_slope_e6"),
    )


# ---------------------------------------------------------------------------
# drift: Page–Hinkley statistic


@register(
    "ts_page_hinkley",
    oracle=f"""
    WITH {_HOURLY_DUCK},
    g AS (SELECT et, sum(y) AS sy, count(*) AS n FROM h GROUP BY 1),
    m AS (SELECT h.et,
                 row_number() OVER (PARTITION BY h.et ORDER BY hr) AS t,
                 sum(h.y * g.n - g.sy) OVER (PARTITION BY h.et ORDER BY hr)
                   AS mt
          FROM h JOIN g ON g.et = h.et),
    p AS (SELECT et, t,
                 mt - min(mt) OVER (PARTITION BY et ORDER BY t) AS ph
          FROM m),
    k AS (SELECT et, max(ph) AS ph_max, count(*) AS n_hours
          FROM p GROUP BY 1)
    SELECT k.et AS event_type, CAST(k.n_hours AS BIGINT) AS n_hours,
           CAST(k.ph_max AS BIGINT) AS ph_max_xn,
           CAST(min(p.t) AS BIGINT) AS t_star
    FROM k JOIN p ON p.et = k.et AND p.ph = k.ph_max
    GROUP BY 1, 2, 3
    """,
)
def ts_page_hinkley(spark, sf_dir):
    """Page–Hinkley drift statistic — the classic sequential
    mean-drift monitor (delta=0 offline form): the cumulative sum of
    deviations from the series mean minus its running minimum; the
    maximum is the drift magnitude and its earliest hour the drift
    point.  Deviations are scaled by n (y*n - sum_y) so every term is
    an exact integer — int64 bound: |y|<=~2e4 cents, n<=744 hours, t
    terms <=744 -> |mt| <= 1.1e10, five orders below overflow; a
    frame beyond ~3e5 hours would need the e-rescale documented in
    ts_markov_stationary.  min-t tie-break pinned in-plan (max_by is
    tie-unstable).  Measured: ph_max spans 8.1e6..1.8e7 (sf0.001),
    4.6e7..8.0e7 (sf0.01), 1.2e7..2.4e7 (sf0.1); t* all distinct.

    Shape: two windows over the calendar-bounded hourly frame; the
    per-series mean join broadcasts (5 rows)."""
    h = _hourly(spark, sf_dir)
    g = h.groupBy(F.col("et").alias("et2")).agg(
        F.sum("y").alias("sy"), F.count("*").alias("n")
    )
    wm = Window.partitionBy("et").orderBy("hr")
    m = (
        h.join(F.broadcast(g), F.col("et") == F.col("et2"))
        .select(
            "et",
            F.row_number().over(wm).alias("t"),
            F.sum(F.col("y") * F.col("n") - F.col("sy")).over(wm).alias("mt"),
        )
    )
    wp = Window.partitionBy("et").orderBy("t")
    p = m.select(
        "et", "t", (F.col("mt") - F.min("mt").over(wp)).alias("ph")
    )
    k = p.groupBy(F.col("et").alias("et3")).agg(
        F.max("ph").alias("ph_max"), F.count("*").alias("n_hours")
    )
    return (
        p.join(
            F.broadcast(k),
            (F.col("et") == F.col("et3")) & (F.col("ph") == F.col("ph_max")),
        )
        .groupBy(
            F.col("et").alias("event_type"),
            F.col("n_hours").cast("long").alias("n_hours"),
            F.col("ph_max").cast("long").alias("ph_max_xn"),
        )
        .agg(F.min("t").cast("long").alias("t_star"))
    )


# ---------------------------------------------------------------------------
# randomness: turning-point census


@register(
    "ts_turning_points",
    oracle=f"""
    WITH {_HOURLY_DUCK},
    w AS (SELECT et, y,
                 lag(y)  OVER (PARTITION BY et ORDER BY hr) AS yp,
                 lead(y) OVER (PARTITION BY et ORDER BY hr) AS yn,
                 count(*) OVER (PARTITION BY et) AS n
          FROM h),
    tp AS (SELECT et, max(n) AS n,
                  count(*) FILTER ((y > yp AND y > yn) OR (y < yp AND y < yn))
                    AS n_tp
           FROM w WHERE yp IS NOT NULL AND yn IS NOT NULL GROUP BY et)
    SELECT et AS event_type, CAST(n AS BIGINT) AS n_hours,
           CAST(n_tp AS BIGINT) AS n_turning,
           CAST(2*(n-2)*10000//3 AS BIGINT) AS expected_e4,
           CAST(n_tp*10000 - 2*(n-2)*10000//3 AS BIGINT) AS excess_e4
    FROM tp
    """,
)
def ts_turning_points(spark, sf_dir):
    """Turning-point randomness census — the count of local extrema vs
    the exact i.i.d. expectation 2(n-2)/3 (the classical
    turning-point test numerator; a monotone or oscillating series
    diverges immediately).  Strict-inequality extrema (plateau points
    are not turning points — ties break the <> chain on both engines
    identically).  excess_e4 is a subtraction of two exact integers,
    signed without any signed division.  Measured: excess flips sign
    across series at every SF (+70000/-43333 at sf0.001,
    +103334/-23333 at sf0.01, +53334/-336666 at sf0.1); expected_e4
    saturates at the 720-hour calendar ceiling at sf0.1 by design.

    Shape: one lag/lead window over the calendar-bounded hourly
    frame."""
    h = _hourly(spark, sf_dir)
    ww = Window.partitionBy("et")
    w = h.select(
        "et",
        "y",
        F.lag("y").over(ww.orderBy("hr")).alias("yp"),
        F.lead("y").over(ww.orderBy("hr")).alias("yn"),
        F.count("*").over(ww).alias("n"),
    ).filter(F.col("yp").isNotNull() & F.col("yn").isNotNull())
    tp = w.groupBy(F.col("et").alias("event_type")).agg(
        F.max("n").alias("n"),
        F.count(
            F.when(
                ((F.col("y") > F.col("yp")) & (F.col("y") > F.col("yn")))
                | ((F.col("y") < F.col("yp")) & (F.col("y") < F.col("yn"))),
                1,
            )
        ).alias("n_tp"),
    )
    return tp.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("n_tp").cast("long").alias("n_turning"),
        F.expr("cast(2*(n-2)*10000 div 3 as bigint)").alias("expected_e4"),
        F.expr("cast(n_tp*10000 - 2*(n-2)*10000 div 3 as bigint)").alias(
            "excess_e4"
        ),
    )


# ---------------------------------------------------------------------------
# technical regimes: RSI(14)


@register(
    "ts_rsi_sma",
    oracle=f"""
    WITH {_HOURLY_DUCK},
    d AS (SELECT et, hr,
                 y - lag(y) OVER (PARTITION BY et ORDER BY hr) AS dy
          FROM h),
    w AS (SELECT et,
                 sum(CASE WHEN dy > 0 THEN dy ELSE 0 END) OVER win AS g,
                 sum(CASE WHEN dy < 0 THEN -dy ELSE 0 END) OVER win AS l,
                 count(dy) OVER win AS n
          FROM d WINDOW win AS (PARTITION BY et ORDER BY hr
                                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
    r AS (SELECT et, g*10000//(g+l) AS rsi_e4
          FROM w WHERE n = 14 AND g + l > 0)
    SELECT et AS event_type,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (rsi_e4 >= 6000) AS BIGINT) AS n_overbought,
           CAST(count(*) FILTER (rsi_e4 <= 4000) AS BIGINT) AS n_oversold,
           CAST(min(rsi_e4) AS BIGINT) AS min_e4,
           CAST(max(rsi_e4) AS BIGINT) AS max_e4,
           CAST(sum(rsi_e4)//count(*) AS BIGINT) AS mean_e4
    FROM r GROUP BY 1
    """,
)
def ts_rsi_sma(spark, sf_dir):
    """RSI(14) regime census — the simple-moving-average form of the
    Relative Strength Index (gain share of total movement over a
    14-hour frame, the mean-reversion regime gauge): rsi_e4 =
    gain*1e4 // (gain+loss) on exact cent deltas (both operands
    nonnegative, so Spark div == DuckDB //), with overbought/oversold
    regime counts at the 6000/4000 cut (the 7000/3000 classic cut
    never fires on this white-noise corpus — retuned before
    registration, the mm_audio_silence_trim lesson).  Measured:
    overbought 1..26 and oversold 3..20 both live at every SF; min/max
    span 2776..7658.

    Shape: one lag + one 14-row frame window over the hourly frame;
    incomplete warm-up windows excluded by the n=14 gate on both
    engines."""
    h = _hourly(spark, sf_dir)
    wd = Window.partitionBy("et").orderBy("hr")
    d = h.select(
        "et", "hr", (F.col("y") - F.lag("y").over(wd)).alias("dy")
    )
    win = Window.partitionBy("et").orderBy("hr").rowsBetween(-13, 0)
    w = d.select(
        "et",
        F.sum(F.when(F.col("dy") > 0, F.col("dy")).otherwise(0))
        .over(win)
        .alias("g"),
        F.sum(F.when(F.col("dy") < 0, -F.col("dy")).otherwise(0))
        .over(win)
        .alias("l"),
        F.count("dy").over(win).alias("n"),
    )
    r = w.filter((F.col("n") == 14) & (F.col("g") + F.col("l") > 0)).select(
        "et", F.expr("g*10000 div (g+l)").alias("rsi_e4")
    )
    return r.groupBy(F.col("et").alias("event_type")).agg(
        F.count("*").cast("long").alias("n_windows"),
        F.count(F.when(F.col("rsi_e4") >= 6000, 1))
        .cast("long")
        .alias("n_overbought"),
        F.count(F.when(F.col("rsi_e4") <= 4000, 1))
        .cast("long")
        .alias("n_oversold"),
        F.min("rsi_e4").cast("long").alias("min_e4"),
        F.max("rsi_e4").cast("long").alias("max_e4"),
        F.expr("cast(sum(rsi_e4) div count(*) as bigint)").alias("mean_e4"),
    )


# ---------------------------------------------------------------------------
# technical regimes: Bollinger breach census


@register(
    "ts_bollinger_breach",
    oracle=f"""
    WITH {_HOURLY_DUCK},
    w AS (SELECT et, hr, y,
                 sum(y)   OVER win AS s,
                 sum(y*y) OVER win AS q,
                 count(*) OVER win AS n
          FROM h WINDOW win AS (PARTITION BY et ORDER BY hr
                                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
    f AS (SELECT et,
                 CASE WHEN (n*y - s)*(n*y - s) > 4*(n*q - s*s) AND n*y > s
                        THEN 'up'
                      WHEN (n*y - s)*(n*y - s) > 4*(n*q - s*s)
                        THEN 'down'
                      ELSE 'in' END AS cls
          FROM w WHERE n = 24)
    SELECT et AS event_type, cls, CAST(count(*) AS BIGINT) AS n
    FROM f GROUP BY 1, 2
    """,
)
def ts_bollinger_breach(spark, sf_dir):
    """Bollinger band breach census — which hours close outside the
    24-hour mean +/- 2 sigma band, entirely in cross-multiplied exact
    integers: (n*y - s)^2 > 4*(n*q - s^2) is the +/-2-sigma breach
    test with zero floats (n*y - s is n times the deviation from the
    rolling mean; n*q - s^2 is n^2 times the rolling variance), so
    both engines agree bit-for-bit with no epsilon anywhere.  Int64
    bound: |y| <= ~2e4 cents, n = 24 -> (n*y)^2 <= 2.4e11; a frame
    with cents beyond ~6e8 would overflow the square first — document
    before reusing on priced series.  Measured: breach mix varies by
    SF ('down' absent at sf0.001, 1 at sf0.01, 7-8 at sf0.1; 'up'
    7..35) — class presence is SF-conditional, identically on both
    engines.

    Shape: one 24-row frame window over the hourly frame; warm-up
    excluded by n=24."""
    h = _hourly(spark, sf_dir)
    win = Window.partitionBy("et").orderBy("hr").rowsBetween(-23, 0)
    w = h.select(
        "et",
        "y",
        F.sum("y").over(win).alias("s"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("q"),
        F.count("*").over(win).alias("n"),
    ).filter(F.col("n") == 24)
    f = w.select(
        "et",
        F.when(
            (
                (F.col("n") * F.col("y") - F.col("s"))
                * (F.col("n") * F.col("y") - F.col("s"))
                > 4 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
            )
            & (F.col("n") * F.col("y") > F.col("s")),
            F.lit("up"),
        )
        .when(
            (F.col("n") * F.col("y") - F.col("s"))
            * (F.col("n") * F.col("y") - F.col("s"))
            > 4 * (F.col("n") * F.col("q") - F.col("s") * F.col("s")),
            F.lit("down"),
        )
        .otherwise(F.lit("in"))
        .alias("cls"),
    )
    return f.groupBy(F.col("et").alias("event_type"), "cls").agg(
        F.count("*").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# efficiency: Kaufman efficiency ratio


@register(
    "ts_kaufman_er",
    oracle="""
    WITH h AS (SELECT event_type AS et, date_trunc('hour', ts) AS hr,
                      date_trunc('day', ts) AS dy,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1, 2, 3),
    d AS (SELECT et, dy, hr, y,
                 abs(y - lag(y) OVER (PARTITION BY et, dy ORDER BY hr)) AS ady
          FROM h),
    er AS (SELECT et, dy,
                  abs(max_by(y, hr) - min_by(y, hr)) * 10000
                    // greatest(sum(ady), 1) AS er_e4
           FROM d GROUP BY 1, 2 HAVING count(*) >= 4)
    SELECT et AS event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(min(er_e4) AS BIGINT) AS min_e4,
           CAST(max(er_e4) AS BIGINT) AS max_e4,
           CAST(sum(er_e4)//count(*) AS BIGINT) AS mean_e4
    FROM er GROUP BY 1
    """,
)
def ts_kaufman_er(spark, sf_dir):
    """Kaufman efficiency ratio per (series, day) — net displacement
    over total path length (|close - open| / sum |hourly deltas|), the
    trend-vs-chop gauge Kaufman's adaptive moving average keys on: ~1e4
    means a clean one-way trend, ~0 means pure chop.  Open/close via
    min_by/max_by on the hour key (unique within the day, so no
    max_by tie instability); er_e4 is one nonnegative integer division
    with a greatest(.,1) guard for single-sample days.  Days with
    fewer than 4 populated hours are excluded on both engines — the
    sf0.001 corpus only fills ~6 hours/day/series, so the first-probe
    12-hour gate emptied the result there (retuned before
    registration).  Measured: mean_e4 315..600, min 1..38, max
    966..2944 across series/SFs.

    Shape: one lag window + one aggregate over the hourly frame."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        F.col("event_type").alias("et"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.date_trunc("day", F.col("ts")).alias("dy"),
    ).agg(
        F.expr(
            "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
            " as bigint)"
        ).alias("y")
    )
    wd = Window.partitionBy("et", "dy").orderBy("hr")
    d = h.select(
        "et",
        "dy",
        "hr",
        "y",
        F.abs(F.col("y") - F.lag("y").over(wd)).alias("ady"),
    )
    er = (
        d.groupBy("et", "dy")
        .agg(
            F.expr(
                "abs(max_by(y, hr) - min_by(y, hr)) * 10000"
                " div greatest(sum(ady), 1)"
            ).alias("er_e4"),
            F.count("*").alias("nh"),
        )
        .filter(F.col("nh") >= 4)
    )
    return er.groupBy(F.col("et").alias("event_type")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.min("er_e4").cast("long").alias("min_e4"),
        F.max("er_e4").cast("long").alias("max_e4"),
        F.expr("cast(sum(er_e4) div count(*) as bigint)").alias("mean_e4"),
    )


# ---------------------------------------------------------------------------
# structure: sample entropy (m=2, r=200 cents)

_SE_R = 200  # tolerance in cents on the global hourly series


@register(
    "ts_sample_entropy",
    oracle=f"""
    WITH g AS (SELECT date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1),
    i AS (SELECT y, row_number() OVER (ORDER BY hr) AS t FROM g),
    v AS (SELECT a.t, a.y AS y0, b.y AS y1, c.y AS y2
          FROM i a JOIN i b ON b.t = a.t + 1 JOIN i c ON c.t = a.t + 2),
    p AS (SELECT greatest(abs(a.y0-b.y0), abs(a.y1-b.y1)) AS dm,
                 greatest(abs(a.y0-b.y0), abs(a.y1-b.y1), abs(a.y2-b.y2))
                   AS dm1
          FROM v a JOIN v b ON b.t > a.t),
    c AS (SELECT count(*) FILTER (dm  <= {_SE_R}) AS b_cnt,
                 count(*) FILTER (dm1 <= {_SE_R}) AS a_cnt,
                 (SELECT count(*) FROM v) AS n_templates
          FROM p)
    SELECT CAST(n_templates AS BIGINT) AS n_templates,
           CAST(b_cnt AS BIGINT) AS b_matches,
           CAST(a_cnt AS BIGINT) AS a_matches,
           CAST(a_cnt*1000000 // nullif(b_cnt, 0) AS BIGINT) AS ratio_e6
    FROM c
    """,
)
def ts_sample_entropy(spark, sf_dir):
    """Sample entropy match counts (m=2, r=200 cents) — the
    template-match regularity statistic (SampEn = -ln(A/B)); the exact
    integer match counts A and B and their e6 ratio are emitted instead
    of the log so the result is engine-exact (the log is one driver-side
    call away).  Both counts use templates drawn from the n-2 rows
    where all three elements exist — the simplified single-template-set
    convention, documented here as the contract.  Measured: B/A =
    202/7 (sf0.001), 2280/219 (sf0.01), 18572/4912 (sf0.1) —
    ratio_e6 34653..264484, the regularity rising as denser corpora
    smooth the hourly series.

    Shape: the template self-join is calendar-bounded (<= 742 global
    hourly templates -> <= 275k pairs at ANY corpus size); the hourly
    rollup is the only full-data pass."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.expr(
            "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
            " as bigint)"
        ).alias("y")
    )
    i = g.select(
        "y", F.row_number().over(Window.orderBy("hr")).alias("t")
    )
    v = (
        i.alias("a")
        .join(i.alias("b"), F.col("b.t") == F.col("a.t") + 1)
        .join(i.alias("c"), F.col("c.t") == F.col("a.t") + 2)
        .select(
            F.col("a.t").alias("t"),
            F.col("a.y").alias("y0"),
            F.col("b.y").alias("y1"),
            F.col("c.y").alias("y2"),
        )
    )
    p = (
        v.alias("x")
        .join(F.broadcast(v.alias("z")), F.col("z.t") > F.col("x.t"))
        .select(
            F.greatest(
                F.abs(F.col("x.y0") - F.col("z.y0")),
                F.abs(F.col("x.y1") - F.col("z.y1")),
            ).alias("dm"),
            F.greatest(
                F.abs(F.col("x.y0") - F.col("z.y0")),
                F.abs(F.col("x.y1") - F.col("z.y1")),
                F.abs(F.col("x.y2") - F.col("z.y2")),
            ).alias("dm1"),
        )
    )
    nt = v.groupBy().agg(F.count("*").alias("n_templates"))
    c = p.groupBy().agg(
        F.count(F.when(F.col("dm") <= _SE_R, 1)).alias("b_cnt"),
        F.count(F.when(F.col("dm1") <= _SE_R, 1)).alias("a_cnt"),
    )
    return c.crossJoin(F.broadcast(nt)).select(
        F.col("n_templates").cast("long").alias("n_templates"),
        F.col("b_cnt").cast("long").alias("b_matches"),
        F.col("a_cnt").cast("long").alias("a_matches"),
        F.expr("cast(a_cnt*1000000 div nullif(b_cnt, 0) as bigint)").alias(
            "ratio_e6"
        ),
    )

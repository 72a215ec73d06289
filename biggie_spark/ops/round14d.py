"""Round-14 tranche, wave D — built during round 11.

* classifier eval — Youden-J optimal threshold, decile lift/gains
  table (the two charts every scoring-model review opens with).
* two-sample tests — energy distance (first vs second half of the
  month), Cramér–von Mises via the doubled-midrank machinery.
* physiology / dynamics — Poincaré plot SD1^2 / SD2^2 decomposition.
* graph — attribute (lang) assortativity on the shared 500-node graph.
* tensor kv — Horner polynomial evaluation as an expression fold.

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/vacuity_r14.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import lineage_cap

# ---------------------------------------------------------------------------
# classifier eval: Youden-J optimal threshold


@register(
    "agg_youden_threshold",
    oracle="""
    WITH e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS o
               FROM events),
    tot AS (SELECT sum(o) AS p, sum(1-o) AS neg FROM e),
    cum AS (SELECT k AS thr,
                   sum(sum(o)) OVER (ORDER BY k DESC) AS tp,
                   sum(sum(1-o)) OVER (ORDER BY k DESC) AS fp
            FROM e GROUP BY k),
    j AS (SELECT thr, tp*10000//p - fp*10000//neg AS j_e4
          FROM cum, tot),
    mx AS (SELECT max(j_e4) AS j_max, min(j_e4) AS j_min,
                  count(*) AS n_thresholds
           FROM j)
    SELECT CAST(mx.j_max AS BIGINT) AS j_max_e4,
           CAST((SELECT min(thr) FROM j WHERE j_e4 = mx.j_max) AS BIGINT)
             AS thr_star,
           CAST(mx.j_min AS BIGINT) AS j_min_e4,
           CAST(mx.n_thresholds AS BIGINT) AS n_thresholds
    FROM mx
    """,
)
def agg_youden_threshold(spark, sf_dir):
    """Youden-J optimal threshold — the ROC point that maximizes
    TPR - FPR (the standard cutoff-selection rule for a score),
    swept over every distinct payload score with ONE descending
    cumulative window (never a per-threshold subquery): J in exact e4
    integer arithmetic, the argmax threshold with the min-thr
    tie-break (arg_max is tie-unstable and J plateaus do occur).
    Measured: J_max collapses 211 -> 174 -> 84 e4 as N grows — the
    junk predictor's 'best threshold' advantage is pure overfitting
    to noise and shrinks like 1/sqrt(N); j_min mirrors it negative.

    Shape: one census by score (map-side), one 100-row cumulative
    window, one scalar reduce."""
    e = load_table(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    tot = e.groupBy().agg(
        F.sum("o").alias("p"), F.sum(1 - F.col("o")).alias("neg")
    )
    byk = e.groupBy(F.col("k").alias("thr")).agg(
        F.sum("o").alias("so"), F.sum(1 - F.col("o")).alias("sn")
    )
    wd = Window.orderBy(F.col("thr").desc())
    cum = byk.select(
        "thr",
        F.sum("so").over(wd).alias("tp"),
        F.sum("sn").over(wd).alias("fp"),
    )
    j = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "thr", F.expr("tp*10000 div p - fp*10000 div neg").alias("j_e4")
        )
        # the extrema and argmax branches both re-derive the J curve; cap
        # so the census + window run once (6 scans uncapped)
        .transform(lineage_cap)
    )
    mx = j.groupBy().agg(
        F.max("j_e4").alias("j_max"),
        F.min("j_e4").alias("j_min"),
        F.count("*").alias("n_thresholds"),
    )
    star = (
        j.crossJoin(F.broadcast(mx.select("j_max")))
        .filter(F.col("j_e4") == F.col("j_max"))
        .groupBy()
        .agg(F.min("thr").alias("thr_star"))
    )
    return mx.crossJoin(F.broadcast(star)).select(
        F.col("j_max").cast("long").alias("j_max_e4"),
        F.col("thr_star").cast("long").alias("thr_star"),
        F.col("j_min").cast("long").alias("j_min_e4"),
        F.col("n_thresholds").cast("long").alias("n_thresholds"),
    )


# ---------------------------------------------------------------------------
# classifier eval: decile lift / gains


@register(
    "agg_lift_gains",
    oracle="""
    WITH e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS o, event_id
               FROM events),
    r AS (SELECT o,
                 row_number() OVER (ORDER BY k DESC, event_id) AS rn,
                 count(*) OVER () AS n, sum(o) OVER () AS p
          FROM e),
    d AS (SELECT least((rn-1)*10//n, 9) AS decile, o, p, n FROM r)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o) AS BIGINT) AS n_positive,
           CAST(sum(o)*10000*max(n)//(count(*)*max(p)) AS BIGINT)
             AS lift_e4,
           CAST(sum(sum(o)) OVER (ORDER BY decile)
                * 10000 // max(p) AS BIGINT) AS cum_gain_e4
    FROM d GROUP BY decile
    """,
)
def agg_lift_gains(spark, sf_dir):
    """Decile lift and cumulative gains — the model-review table every
    scoring deployment opens with (rank by score, cut into deciles,
    compare each decile's positive rate to the base rate): rank
    arithmetic with event_id tie-break (ntile rejected as always),
    lift and cumulative gains in exact e4 integers.  On the junk
    payload predictor the chart is FLAT — lift hovers 10000 per decile
    (7425..13366 at sf0.001 tightening to 9609..10331 at sf0.1) and
    cumulative gains climb the diagonal — which is exactly what the
    review table should show for a scoreless model; the
    tightening-to-flat curve is the liveness.

    Shape: one global rank window, a 10-row census with one ordered
    cumulative window."""
    e = load_table(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
        "event_id",
    )
    r = e.select(
        "o",
        F.row_number().over(Window.orderBy(F.col("k").desc(), "event_id")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("o").over(Window.partitionBy()).alias("p"),
    )
    d = r.select(
        F.least(F.expr("(rn-1)*10 div n"), F.lit(9)).alias("decile"),
        "o",
        "p",
        "n",
    )
    g = d.groupBy("decile").agg(
        F.count("*").alias("nb"),
        F.sum("o").alias("pos"),
        F.max("n").alias("n"),
        F.max("p").alias("p"),
    )
    wc = Window.orderBy("decile")
    return g.withColumn("cum", F.sum("pos").over(wc)).select(
        F.col("decile").cast("long").alias("decile"),
        F.col("nb").cast("long").alias("n_rows"),
        F.col("pos").cast("long").alias("n_positive"),
        F.expr("cast(pos*10000*n div (nb*p) as bigint)").alias("lift_e4"),
        F.expr("cast(cum*10000 div p as bigint)").alias("cum_gain_e4"),
    )


# ---------------------------------------------------------------------------
# two-sample: energy distance


@register(
    "agg_energy_distance",
    oracle="""
    WITH h AS (SELECT event_type AS et, date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y,
                      CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
                        AS half
               FROM events GROUP BY 1, 2, 4),
    a AS (SELECT et, y FROM h WHERE half = 0),
    b AS (SELECT et, y FROM h WHERE half = 1),
    xy AS (SELECT a.et, sum(abs(a.y - b.y)) AS s, count(*) AS n
           FROM a JOIN b ON a.et = b.et GROUP BY 1),
    xx AS (SELECT x1.et, sum(abs(x1.y - x2.y)) AS s, count(*) AS n
           FROM a x1 JOIN a x2 ON x1.et = x2.et GROUP BY 1),
    yy AS (SELECT y1.et, sum(abs(y1.y - y2.y)) AS s, count(*) AS n
           FROM b y1 JOIN b y2 ON y1.et = y2.et GROUP BY 1)
    SELECT xy.et AS event_type,
           CAST(xy.n AS BIGINT) AS n_cross_pairs,
           CAST(2*xy.s*10000//xy.n - xx.s*10000//xx.n - yy.s*10000//yy.n
                AS BIGINT) AS energy_dist_e4c
    FROM xy JOIN xx ON xx.et = xy.et JOIN yy ON yy.et = xy.et
    """,
)
def agg_energy_distance(spark, sf_dir):
    """Energy distance between the month's two halves — the
    Székely–Rizzo two-sample statistic (2*E|X-Y| - E|X-X'| - E|Y-Y'|,
    nonnegative, zero iff identical distributions) on the hourly-mean
    series per type: all three pair masses are exact integer |diff|
    sums over calendar-bounded frames (<= 360^2 pairs per term
    forever), the statistic three nonneg floor divisions in e4 cents.
    Measured: collapses 498950..1105411 (sf0.001) -> 16638..57840
    (sf0.1) e4c — the two halves ARE the same process and the
    statistic converges to 0 at the 1/sqrt(N) rate of the mean-cents
    estimator, per-series spread live at every SF.

    Shape: three self/cross equi-joins on the series key over the
    hourly frame; one 5-row assembly."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("et"),
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            F.when(F.col("ts") < "2024-01-16", 0).otherwise(1).alias("half"),
        )
        .agg(
            F.expr(
                "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
                " as bigint)"
            ).alias("y")
        )
    )
    a = h.filter(F.col("half") == 0).select("et", "y")
    b = h.filter(F.col("half") == 1).select(
        F.col("et").alias("et2"), F.col("y").alias("y2")
    )

    def pair_mass(l, r, out):
        return (
            l.join(r, F.col("et") == F.col("et2"))
            .groupBy("et")
            .agg(
                F.sum(F.abs(F.col("y") - F.col("y2"))).alias(f"s_{out}"),
                F.count("*").alias(f"n_{out}"),
            )
        )

    xy = pair_mass(a, b, "xy")
    xx = pair_mass(a, a.select(F.col("et").alias("et2"), F.col("y").alias("y2")), "xx")
    yy = pair_mass(
        b.select(F.col("et2").alias("et"), F.col("y2").alias("y")),
        b,
        "yy",
    )
    return (
        xy.join(xx, "et")
        .join(yy, "et")
        .select(
            F.col("et").alias("event_type"),
            F.col("n_xy").cast("long").alias("n_cross_pairs"),
            F.expr(
                "cast(2*s_xy*10000 div n_xy - s_xx*10000 div n_xx"
                " - s_yy*10000 div n_yy as bigint)"
            ).alias("energy_dist_e4c"),
        )
    )


# ---------------------------------------------------------------------------
# two-sample: Cramér–von Mises


@register(
    "agg_cvm_twosample",
    oracle="""
    WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
                        AS grp,
                      CAST(round(value*100,0) AS BIGINT) AS c
               FROM events WHERE event_type IN ('purchase', 'view')),
    vals AS (SELECT c, count(*) AS cnt FROM e GROUP BY 1),
    cum AS (SELECT c, cnt, sum(cnt) OVER (ORDER BY c) - cnt AS n_lt
            FROM vals),
    r2 AS (SELECT c, 2*n_lt + cnt + 1 AS rr FROM cum),
    rk AS (SELECT e.grp, r2.rr,
                  row_number() OVER (PARTITION BY e.grp ORDER BY e.c) AS i
           FROM e JOIN r2 ON r2.c = e.c),
    nn AS (SELECT sum(CASE WHEN grp = 0 THEN 1 END) AS n0,
                  sum(CASE WHEN grp = 1 THEN 1 END) AS n1
           FROM e),
    u AS (SELECT (SELECT sum((rr - 4*i)*(rr - 4*i)) FROM rk WHERE grp = 0)
                   AS u0x4,
                 (SELECT sum((rr - 4*i)*(rr - 4*i)) FROM rk WHERE grp = 1)
                   AS u1x4)
    SELECT CAST((SELECT n0 FROM nn) AS BIGINT) AS n_purchase,
           CAST((SELECT n1 FROM nn) AS BIGINT) AS n_view,
           CAST(u0x4 AS BIGINT) AS u0_x4,
           CAST(u1x4 AS BIGINT) AS u1_x4,
           CAST(floor(
             (CAST((SELECT n0 FROM nn) AS DOUBLE) * u1x4
              + CAST((SELECT n1 FROM nn) AS DOUBLE) * u0x4) / 4.0
             * 1000000.0
             / (CAST((SELECT n0 FROM nn) AS DOUBLE)
                * (SELECT n1 FROM nn)
                * ((SELECT n0 FROM nn) + (SELECT n1 FROM nn))
                * ((SELECT n0 FROM nn) + (SELECT n1 FROM nn)))
             - (4.0 * (SELECT n0 FROM nn) * (SELECT n1 FROM nn) - 1)
               * 1000000.0
               / (6.0 * ((SELECT n0 FROM nn) + (SELECT n1 FROM nn)))
               / ((SELECT n0 FROM nn) + (SELECT n1 FROM nn))
           ) AS BIGINT) AS t_e6
    FROM u
    """,
)
def agg_cvm_twosample(spark, sf_dir):
    """Cramér–von Mises two-sample test (purchase vs view values) —
    the integrated-squared-ECDF-difference complement to KS (sensitive
    to the whole distribution, not the single worst gap): the Anderson
    U components sum((R_i - 2i)^2) per sample over combined midranks,
    kept as exact doubled-rank integers (rr = 2R, 4*i = 2*(2i), so
    u_x4 = 4U), ranks from the value census (never a row-level rank
    window — the agg_kruskal_wallis shape); the normalized T =
    U/(nm(n+m)) - (4nm-1)/(6(n+m)) assembles in the
    floor-of-identical-IEEE-sequence convention.  Measured: T_e6
    hovers its null mean ~83333 (1/12) with per-SF wobble — the
    honest equal-distributions reading — while every component column
    scales freely (u_x4 7e4 -> 1.8e9).

    Shape: one value census + cumulative window, one join back, two
    grouped rank aggregates."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("grp"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    vals = e.groupBy("c").agg(F.count("*").alias("cnt"))
    cum = vals.select(
        "c",
        "cnt",
        (F.sum("cnt").over(Window.orderBy("c")) - F.col("cnt")).alias("n_lt"),
    )
    r2 = cum.select(
        F.col("c").alias("c2"), (2 * F.col("n_lt") + F.col("cnt") + 1).alias("rr")
    )
    rk = e.join(r2, F.col("c") == F.col("c2")).select(
        "grp",
        "rr",
        F.row_number().over(Window.partitionBy("grp").orderBy("c")).alias("i"),
    )
    u = rk.groupBy("grp").agg(
        F.sum(
            (F.col("rr") - 4 * F.col("i")) * (F.col("rr") - 4 * F.col("i"))
        ).alias("ux4"),
        F.count("*").alias("n"),
    )
    w = (
        u.filter(F.col("grp") == 0)
        .select(F.col("ux4").alias("u0x4"), F.col("n").alias("n0"))
        .crossJoin(
            F.broadcast(
                u.filter(F.col("grp") == 1).select(
                    F.col("ux4").alias("u1x4"), F.col("n").alias("n1")
                )
            )
        )
    )
    return w.select(
        F.col("n0").cast("long").alias("n_purchase"),
        F.col("n1").cast("long").alias("n_view"),
        F.col("u0x4").cast("long").alias("u0_x4"),
        F.col("u1x4").cast("long").alias("u1_x4"),
        F.floor(
            (
                F.col("n0").cast("double") * F.col("u1x4")
                + F.col("n1").cast("double") * F.col("u0x4")
            )
            / 4.0
            * 1000000.0
            / (
                F.col("n0").cast("double")
                * F.col("n1")
                * (F.col("n0") + F.col("n1"))
                * (F.col("n0") + F.col("n1"))
            )
            - (4.0 * F.col("n0") * F.col("n1") - 1)
            * 1000000.0
            / (6.0 * (F.col("n0") + F.col("n1")))
            / (F.col("n0") + F.col("n1"))
        )
        .cast("long")
        .alias("t_e6"),
    )


# ---------------------------------------------------------------------------
# dynamics: Poincaré plot SD1/SD2


@register(
    "ts_poincare_sd",
    oracle="""
    WITH h AS (SELECT event_type AS et, date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1, 2),
    d AS (SELECT et, y,
                 y - lag(y) OVER (PARTITION BY et ORDER BY hr) AS dy
          FROM h),
    v AS (SELECT et, count(dy) AS nd, sum(dy) AS sd, sum(dy*dy) AS qd,
                 count(y) AS ny, sum(y) AS sy, sum(y*y) AS qy
          FROM d GROUP BY 1)
    SELECT et AS event_type,
           CAST(nd AS BIGINT) AS n_pairs,
           CAST((nd*qd - sd*sd)*10000 // (2*nd*nd) AS BIGINT) AS sd1_sq_e4,
           CAST(2*(ny*qy - sy*sy)*10000 // (ny*ny)
                - (nd*qd - sd*sd)*10000 // (2*nd*nd) AS BIGINT)
             AS sd2_sq_e4
    FROM v
    """,
)
def ts_poincare_sd(spark, sf_dir):
    """Poincaré plot SD1/SD2 decomposition — the heart-rate-variability
    geometry applied to hourly means (plot y_t vs y_{t+1}; SD1 is the
    spread ACROSS the identity line = short-term variability, SD2
    ALONG it = long-term): SD1^2 = Var(diff)/2 and SD2^2 = 2Var(y) -
    Var(diff)/2, both as cross-multiplied exact integers in e4 cents^2
    (variances via n*q - s^2, no mean subtraction pass).  For white
    noise SD1 ~ SD2 (the plot is a disc, not an ellipse) — measured
    ratios hover 1 with per-series spread (2.3e11/2.6e11 ..
    9.6e9/9.5e9), the documented null reading; a trending series
    would stretch SD2 away.

    Shape: one lag window over the hourly frame, one 5-row
    aggregate."""
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
    wd = Window.partitionBy("et").orderBy("hr")
    d = h.select("et", "y", (F.col("y") - F.lag("y").over(wd)).alias("dy"))
    v = d.groupBy("et").agg(
        F.count("dy").alias("nd"),
        F.sum("dy").alias("sd"),
        F.sum(F.col("dy") * F.col("dy")).alias("qd"),
        F.count("y").alias("ny"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("qy"),
    )
    return v.select(
        F.col("et").alias("event_type"),
        F.col("nd").cast("long").alias("n_pairs"),
        F.expr("cast((nd*qd - sd*sd)*10000 div (2*nd*nd) as bigint)").alias(
            "sd1_sq_e4"
        ),
        F.expr(
            "cast(2*(ny*qy - sy*sy)*10000 div (ny*ny)"
            " - (nd*qd - sd*sd)*10000 div (2*nd*nd) as bigint)"
        ).alias("sd2_sq_e4"),
    )


# ---------------------------------------------------------------------------
# graph: attribute assortativity

_AA_N = 500


@register(
    "graph_attr_assortativity",
    oracle=f"""
    WITH nodes AS (SELECT doc_id AS nv, lang FROM documents
                   WHERE doc_id < {_AA_N}),
    e0 AS (SELECT nv AS src, (nv*2+1)%{_AA_N} AS dst FROM nodes
          UNION ALL SELECT nv, (nv*3+7)%{_AA_N} FROM nodes
          UNION ALL SELECT nv, (nv*nv+3)%{_AA_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
             SELECT src, dst FROM e0 WHERE src <> dst
             UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
    le AS (SELECT a.lang AS l1, b.lang AS l2
           FROM sym JOIN nodes a ON a.nv = sym.src
                    JOIN nodes b ON b.nv = sym.dst),
    m AS (SELECT count(*) AS m2,
                 sum(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS same
          FROM le),
    marg AS (SELECT l1, count(*) AS deg FROM le GROUP BY 1),
    ex AS (SELECT sum(deg*deg) AS sum_sq FROM marg)
    SELECT CAST(m2 AS BIGINT) AS n_directed_edges,
           CAST(same AS BIGINT) AS n_same_lang,
           CAST(same*10000//m2 AS BIGINT) AS same_share_e4,
           CAST((SELECT sum_sq FROM ex)*10000//(m2*m2) AS BIGINT)
             AS expected_share_e4,
           CAST(same*10000//m2
                - (SELECT sum_sq FROM ex)*10000//(m2*m2) AS BIGINT)
             AS homophily_excess_e4
    FROM m
    """,
)
def graph_attr_assortativity(spark, sf_dir):
    """Attribute (language) assortativity on the shared graph — the
    homophily question every social-graph analysis starts with: do
    edges connect same-language documents more often than the degree-
    weighted chance rate?  Observed same-lang edge share vs the
    configuration-model expectation sum(deg_l^2)/m^2, all exact
    integer counts, the excess a subtraction of two nonneg divisions.
    Measured: the excess flips sign across SFs (-68 / +24 / +268 e4) —
    the arithmetic graph wiring is lang-blind and the op proves it
    hovers chance; notably the doc panels DIFFER across all three SFs
    here (lang assignments are corpus draws, unlike the doc_id-keyed
    mm panels), so every column moves.

    Shape: the shared bounded-graph machinery + two label joins
    (broadcast — 500-row node frame), two censuses."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _AA_N)
        .select(F.col("doc_id").alias("nv"), "lang")
    )
    nv = nodes.select("nv")
    e0 = (
        nv.select(F.col("nv").alias("src"), ((F.col("nv") * 2 + 1) % _AA_N).alias("dst"))
        .unionAll(
            nv.select(F.col("nv").alias("src"), ((F.col("nv") * 3 + 7) % _AA_N).alias("dst"))
        )
        .unionAll(
            nv.select(
                F.col("nv").alias("src"),
                ((F.col("nv") * F.col("nv") + 3) % _AA_N).alias("dst"),
            )
        )
        .filter(F.col("src") != F.col("dst"))
    )
    sym = e0.unionAll(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    la = nodes.select(F.col("nv").alias("src"), F.col("lang").alias("l1"))
    lb = nodes.select(F.col("nv").alias("dst"), F.col("lang").alias("l2"))
    le = sym.join(F.broadcast(la), "src").join(F.broadcast(lb), "dst")
    m = le.groupBy().agg(
        F.count("*").alias("m2"),
        F.sum(F.when(F.col("l1") == F.col("l2"), 1).otherwise(0)).alias("same"),
    )
    ex = (
        le.groupBy("l1")
        .agg(F.count("*").alias("deg"))
        .groupBy()
        .agg(F.sum(F.col("deg") * F.col("deg")).alias("sum_sq"))
    )
    return m.crossJoin(F.broadcast(ex)).select(
        F.col("m2").cast("long").alias("n_directed_edges"),
        F.col("same").cast("long").alias("n_same_lang"),
        F.expr("cast(same*10000 div m2 as bigint)").alias("same_share_e4"),
        F.expr("cast(sum_sq*10000 div (m2*m2) as bigint)").alias(
            "expected_share_e4"
        ),
        F.expr(
            "cast(same*10000 div m2 - sum_sq*10000 div (m2*m2) as bigint)"
        ).alias("homophily_excess_e4"),
    )


# ---------------------------------------------------------------------------
# tensor kv: Horner polynomial evaluation


@register(
    "kv_tensor_horner",
    oracle="""
    WITH t AS (SELECT doc_id,
                      list_transform(range(0, 5),
                        k -> ((doc_id*31 + k) * 2654435761) % 97) AS coef
               FROM documents WHERE doc_id < 100)
    SELECT doc_id,
           CAST(coef[1] AS BIGINT) AS leading_coef,
           CAST(reduce(list_prepend(CAST(0 AS BIGINT), coef),
                       (acc, c) -> acc * 2 + c) AS BIGINT) AS p_at_2,
           CAST(reduce(list_prepend(CAST(0 AS BIGINT), coef),
                       (acc, c) -> acc * 3 + c) AS BIGINT) AS p_at_3
    FROM t
    """,
)
def kv_tensor_horner(spark, sf_dir):
    """Horner polynomial evaluation of a stored coefficient vector —
    the fused-fold primitive behind rolling-hash windows, CRC-style
    checksums and spline evaluation: p(x) = fold(acc*x + c) over the
    degree-4 Knuth-hashed coefficient array, evaluated at x=2 and x=3
    as pure expression folds (the zero seed makes aggregate(coef, 0,
    acc*x+c) EXACTLY Horner — the leading zero term vanishes), with
    the leading coefficient exposed so a fold-direction slip (Horner
    must consume high-to-low) is visible.  Measured: p(3) spans
    696..9599 with 97 distinct p(2) values over the 100-doc panel —
    the two evaluation points decorrelate.

    Shape: 100-row panel, two codegen folds — no join, no shuffle
    beyond the panel scan."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    coef = F.transform(
        F.sequence(F.lit(0), F.lit(4)),
        lambda k: ((F.col("doc_id") * 31 + k) * F.lit(2654435761) % 97).cast(
            "long"
        ),
    )
    t = d.select("doc_id", coef.alias("coef"))

    def horner(x):
        return F.aggregate(
            F.col("coef"),
            F.lit(0).cast("long"),
            lambda acc, c: acc * x + c,
        )

    return t.select(
        "doc_id",
        F.element_at("coef", 1).cast("long").alias("leading_coef"),
        horner(2).cast("long").alias("p_at_2"),
        horner(3).cast("long").alias("p_at_3"),
    )

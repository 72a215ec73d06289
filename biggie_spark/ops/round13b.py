"""Round-13 tranche, wave B (categorical / experimental statistics) —
built during round 11.

Families:

* association — Goodman–Kruskal lambda (proportional reduction in
  error), eta-squared (variance explained by a categorical factor).
* repeated measures — Friedman rank test, Cochran's Q.
* calibration — Brier score with per-bin reliability decomposition.
* inter-rater — Krippendorff's nominal alpha.
* paradox / ranking — Simpson-reversal census, ABC (Pareto class)
  inventory classification.

All integer-exact: doubled midranks, cross-multiplied comparisons, and
the per-group floor-division convention (b) where a rational must
become one column.  Spreads validated in DuckDB at sf{0.001,0.01,0.1}
before registration — measured evidence in tools/vacuity_r13.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

# ---------------------------------------------------------------------------
# association: Goodman–Kruskal lambda (event_type -> value quartile)


@register(
    "agg_goodman_kruskal_lambda",
    oracle="""
    WITH e AS (SELECT event_type AS et,
                      CAST(round(value*100,0) AS BIGINT) AS c
               FROM events),
    r AS (SELECT et, c, row_number() OVER (ORDER BY c, et) AS rn,
                 count(*) OVER () AS n
          FROM e),
    qv AS (SELECT max(CASE WHEN rn = (n+3)//4   THEN c END) AS q1,
                  max(CASE WHEN rn = (n+1)//2   THEN c END) AS q2,
                  max(CASE WHEN rn = (3*n+1)//4 THEN c END) AS q3
           FROM r),
    b AS (SELECT et, CASE WHEN c <= q1 THEN 1 WHEN c <= q2 THEN 2
                          WHEN c <= q3 THEN 3 ELSE 4 END AS vq
          FROM e, qv),
    cell AS (SELECT et, vq, count(*) AS n FROM b GROUP BY 1, 2),
    rowm0 AS (SELECT et, vq, n, max(n) OVER (PARTITION BY et) AS mx FROM cell),
    rowm AS (SELECT et, max(mx) AS mx,
                    min(vq) FILTER (n = mx) AS modal_q
             FROM rowm0 GROUP BY et),
    colm AS (SELECT max(s) AS cm FROM
             (SELECT vq, sum(n) AS s FROM cell GROUP BY 1)),
    tot AS (SELECT sum(n) AS nn FROM cell),
    lam AS (SELECT ((SELECT sum(mx) FROM rowm) - cm) * 10000
              // (nn - cm) AS lambda_e4
            FROM colm, tot)
    SELECT et AS event_type, CAST(rowm.mx AS BIGINT) AS modal_count,
           CAST(rowm.modal_q AS BIGINT) AS modal_quartile,
           CAST((SELECT lambda_e4 FROM lam) AS BIGINT) AS lambda_e4
    FROM rowm
    """,
)
def agg_goodman_kruskal_lambda(spark, sf_dir):
    """Goodman–Kruskal lambda — the proportional-reduction-in-error
    association measure (how much better the value QUARTILE is guessed
    knowing the event type than not): lambda = (sum of per-type modal
    counts - global modal count) / (N - global modal count), entirely
    in exact integer counts.  Quartile boundaries are rank-picked cent
    values with <=-assignment (ntile would tie-break nondeterministically
    across engines); per-type modal quartile reported with min-quartile
    tie-break.  Measured: lambda_e4 = 293 (sf0.001), 94 (sf0.01), 40
    (sf0.1) — the association honestly decays toward white-noise 0 as N
    grows; modal counts 272..25302.  The shared lambda_e4 column is
    constant ACROSS the 5 rows by definition (one statistic) and varies
    per SF — the agg_shard_determinism_audit precedent.

    Shape: one rank pass for three quartile cuts, one 20-cell census;
    the quartile-cut frame broadcasts (1 row)."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    r = e.select(
        "et",
        "c",
        F.row_number().over(Window.orderBy("c", "et")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    qv = r.groupBy().agg(
        F.max(F.when(F.col("rn") == F.expr("(n+3) div 4"), F.col("c"))).alias("q1"),
        F.max(F.when(F.col("rn") == F.expr("(n+1) div 2"), F.col("c"))).alias("q2"),
        F.max(F.when(F.col("rn") == F.expr("(3*n+1) div 4"), F.col("c"))).alias("q3"),
    )
    b = e.crossJoin(F.broadcast(qv)).select(
        "et",
        F.when(F.col("c") <= F.col("q1"), 1)
        .when(F.col("c") <= F.col("q2"), 2)
        .when(F.col("c") <= F.col("q3"), 3)
        .otherwise(4)
        .alias("vq"),
    )
    cell = b.groupBy("et", "vq").agg(F.count("*").alias("n"))
    wet = Window.partitionBy("et")
    rowm = (
        cell.withColumn("mx", F.max("n").over(wet))
        .groupBy("et", "mx")
        .agg(F.min(F.when(F.col("n") == F.col("mx"), F.col("vq"))).alias("modal_q"))
    )
    colm = cell.groupBy("vq").agg(F.sum("n").alias("s")).groupBy().agg(
        F.max("s").alias("cm")
    )
    tot = cell.groupBy().agg(F.sum("n").alias("nn"))
    summ = rowm.groupBy().agg(F.sum("mx").alias("sum_mx"))
    lam = (
        summ.crossJoin(F.broadcast(colm))
        .crossJoin(F.broadcast(tot))
        .select(F.expr("(sum_mx - cm) * 10000 div (nn - cm)").alias("lambda_e4"))
    )
    return rowm.crossJoin(F.broadcast(lam)).select(
        F.col("et").alias("event_type"),
        F.col("mx").cast("long").alias("modal_count"),
        F.col("modal_q").cast("long").alias("modal_quartile"),
        F.col("lambda_e4").cast("long").alias("lambda_e4"),
    )


# ---------------------------------------------------------------------------
# repeated measures: Friedman rank test


@register(
    "agg_friedman_ranks",
    oracle="""
    WITH d AS (SELECT date_trunc('day', ts) AS dy, event_type AS et,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS m
               FROM events GROUP BY 1, 2),
    rk AS (SELECT d.dy, d.et,
                  2*(count(*) FILTER (d2.m < d.m))
                  + (count(*) FILTER (d2.m = d.m)) + 1 AS r2
           FROM d JOIN d d2 ON d2.dy = d.dy GROUP BY d.dy, d.et, d.m),
    rs AS (SELECT et, sum(r2) AS r2sum FROM rk GROUP BY 1),
    meta AS (SELECT count(DISTINCT dy) AS b, count(DISTINCT et) AS k FROM d),
    q AS (SELECT 3*(SELECT sum(r2sum*r2sum) FROM rs)*10000
              // (b*k*(k+1)) - 3*b*(k+1)*10000 AS q_e4
          FROM meta)
    SELECT et AS event_type, CAST(r2sum AS BIGINT) AS rank2_sum,
           CAST((SELECT q_e4 FROM q) AS BIGINT) AS q_e4
    FROM rs
    """,
)
def agg_friedman_ranks(spark, sf_dir):
    """Friedman rank test — the repeated-measures nonparametric ANOVA
    (blocks = days, treatments = event types, response = daily mean
    cents): within-day doubled midranks (2*count_less + count_equal
    + 1, exact integers under ties), per-treatment rank sums, and the
    Friedman statistic Q = 12*sum(R_j^2)/(bk(k+1)) - 3b(k+1) in e4
    units via the doubled-rank identity 12*(r2sum/2)^2 = 3*r2sum^2.
    Measured: rank sums spread 134..205 across treatments at every SF
    (a tie-free white-noise block design would give ~180 each); Q_e4
    varies by SF.  The shared q_e4 column is one statistic replicated
    across the 5 rows (the agg_shard_determinism_audit precedent).

    Shape: the block-rank join is bounded (30 days x 5 treatments =
    150 rows squared within day); the daily rollup is the only
    full-data pass."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("dy"),
        F.col("event_type").alias("et"),
    ).agg(
        F.expr(
            "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
            " as bigint)"
        ).alias("m")
    )
    d2 = d.select(F.col("dy").alias("dy2"), F.col("m").alias("m2"))
    rk = (
        d.join(d2, F.col("dy") == F.col("dy2"))
        .groupBy("dy", "et", "m")
        .agg(
            (
                2 * F.count(F.when(F.col("m2") < F.col("m"), 1))
                + F.count(F.when(F.col("m2") == F.col("m"), 1))
                + 1
            ).alias("r2")
        )
    )
    rs = rk.groupBy("et").agg(F.sum("r2").alias("r2sum"))
    meta = d.groupBy().agg(
        F.countDistinct("dy").alias("b"), F.countDistinct("et").alias("k")
    )
    ssum = rs.groupBy().agg(F.sum(F.col("r2sum") * F.col("r2sum")).alias("ss"))
    q = meta.crossJoin(F.broadcast(ssum)).select(
        F.expr("3*ss*10000 div (b*k*(k+1)) - 3*b*(k+1)*10000").alias("q_e4")
    )
    return rs.crossJoin(F.broadcast(q)).select(
        F.col("et").alias("event_type"),
        F.col("r2sum").cast("long").alias("rank2_sum"),
        F.col("q_e4").cast("long").alias("q_e4"),
    )


# ---------------------------------------------------------------------------
# repeated measures: Cochran's Q (binary outcomes)


@register(
    "agg_cochran_q",
    oracle="""
    WITH u AS (SELECT user_id, date_trunc('day', ts) AS dy,
                      max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)
                        AS x1,
                      max(CASE WHEN event_type='error' THEN 1 ELSE 0 END)
                        AS x2,
                      max(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)
                        AS x3
               FROM events GROUP BY 1, 2),
    s AS (SELECT count(*) AS blocks,
                 sum(x1) AS c1, sum(x2) AS c2, sum(x3) AS c3,
                 sum((x1+x2+x3)*(x1+x2+x3)) AS sr2,
                 sum(x1+x2+x3) AS n
          FROM u),
    q AS (SELECT blocks, n,
                 2*(3*(c1*c1 + c2*c2 + c3*c3) - n*n) * 10000
                   // (3*n - sr2) AS q_e4
          FROM s),
    t AS (SELECT 'purchase' AS treatment, c1 AS successes FROM s
          UNION ALL SELECT 'error', c2 FROM s
          UNION ALL SELECT 'signup', c3 FROM s)
    SELECT t.treatment, CAST(t.successes AS BIGINT) AS successes,
           CAST(q.blocks AS BIGINT) AS n_blocks,
           CAST(q.q_e4 AS BIGINT) AS q_e4
    FROM t, q
    """,
)
def agg_cochran_q(spark, sf_dir):
    """Cochran's Q — the k-treatment generalization of McNemar for
    matched binary outcomes (blocks = (user, day); treatments = did
    the user purchase / error / signup that day): Q = (k-1)[k*sum(C_j^2)
    - N^2] / [k*N - sum(R_i^2)] in exact integers (k=3, so the
    numerator is 2*(3*sumC2 - N^2); Cauchy–Schwarz keeps it
    nonnegative, R_i <= k keeps the denominator positive).  Measured:
    block mix genuinely binary (all-zero blocks 67..6879, all-three
    blocks 18..2095 — both regimes live at every SF); per-treatment
    success counts 156..16307 all distinct.  q_e4 is the one shared
    statistic replicated per treatment row (the
    agg_shard_determinism_audit precedent).

    Shape: one (user, day) presence rollup (map-side combine), one
    scalar aggregate, a 3-row literal treatment dimension."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("dy")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("x1"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("x2"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("x3"),
    )
    s = u.groupBy().agg(
        F.count("*").alias("blocks"),
        F.sum("x1").alias("c1"),
        F.sum("x2").alias("c2"),
        F.sum("x3").alias("c3"),
        F.sum(
            (F.col("x1") + F.col("x2") + F.col("x3"))
            * (F.col("x1") + F.col("x2") + F.col("x3"))
        ).alias("sr2"),
        F.sum(F.col("x1") + F.col("x2") + F.col("x3")).alias("n"),
    )
    q = s.select(
        "blocks",
        "c1",
        "c2",
        "c3",
        F.expr(
            "2*(3*(c1*c1 + c2*c2 + c3*c3) - n*n) * 10000 div (3*n - sr2)"
        ).alias("q_e4"),
    )
    t = (
        q.select(F.lit("purchase").alias("treatment"), F.col("c1").alias("successes"), "blocks", "q_e4")
        .unionByName(
            q.select(F.lit("error").alias("treatment"), F.col("c2").alias("successes"), "blocks", "q_e4")
        )
        .unionByName(
            q.select(F.lit("signup").alias("treatment"), F.col("c3").alias("successes"), "blocks", "q_e4")
        )
    )
    return t.select(
        "treatment",
        F.col("successes").cast("long").alias("successes"),
        F.col("blocks").cast("long").alias("n_blocks"),
        F.col("q_e4").cast("long").alias("q_e4"),
    )


# ---------------------------------------------------------------------------
# calibration: Brier score + per-bin reliability


@register(
    "agg_brier_reliability",
    oracle="""
    WITH e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                      CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS o
               FROM events),
    b AS (SELECT k//10 AS bin, count(*) AS nb, sum(k) AS sk, sum(o) AS so
          FROM e GROUP BY 1),
    g AS (SELECT sum((k - 100*o)*(k - 100*o)) // count(*) AS brier_e4 FROM e)
    SELECT CAST(bin AS BIGINT) AS bin, CAST(nb AS BIGINT) AS n,
           CAST(sk*100//nb AS BIGINT) AS mean_pred_e4,
           CAST(so*10000//nb AS BIGINT) AS obs_rate_e4,
           CAST(sk*100//nb - so*10000//nb AS BIGINT) AS gap_e4,
           CAST((SELECT brier_e4 FROM g) AS BIGINT) AS brier_e4
    FROM b
    """,
)
def agg_brier_reliability(spark, sf_dir):
    """Brier score with per-bin reliability — the probabilistic-forecast
    calibration report: treating the payload's k (0..99) as a percent
    prediction of 'this event is a purchase', score the corpus Brier
    (mean (p-o)^2, computed as exact integer sum((k-100o)^2)//N in e4
    units) and expose the 10-bin reliability diagram — per bin, the
    mean prediction vs the observed purchase rate.  The payload is of
    course uninformative, and the diagram SAYS so: the observed rate
    pins ~2000 e4 at every bin while the mean prediction climbs
    445..9464 — the textbook picture of an uncalibrated predictor with
    the gap_e4 column swinging from -2330 to +7434 (sign flip live at
    every SF).  gap is a subtraction of two exact nonneg divisions, no
    signed division anywhere.

    Shape: one JSON-extract scan, one 10-row census + one scalar
    aggregate (broadcast)."""
    e = load_table(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    b = e.groupBy(F.expr("k div 10").alias("bin")).agg(
        F.count("*").alias("nb"), F.sum("k").alias("sk"), F.sum("o").alias("so")
    )
    g = e.groupBy().agg(
        F.expr("sum((k - 100*o)*(k - 100*o)) div count(*)").alias("brier_e4")
    )
    return b.crossJoin(F.broadcast(g)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("nb").cast("long").alias("n"),
        F.expr("sk*100 div nb").cast("long").alias("mean_pred_e4"),
        F.expr("so*10000 div nb").cast("long").alias("obs_rate_e4"),
        F.expr("sk*100 div nb - so*10000 div nb").cast("long").alias("gap_e4"),
        F.col("brier_e4").cast("long").alias("brier_e4"),
    )


# ---------------------------------------------------------------------------
# inter-rater: Krippendorff's nominal alpha


@register(
    "llm_krippendorff_alpha",
    oracle="""
    WITH r AS (SELECT doc_id,
                      CASE WHEN n_chars > 300 THEN 1 ELSE 0 END
                      + CASE WHEN len(string_split(text, ' ')) > 60
                             THEN 1 ELSE 0 END
                      + CASE WHEN contains(text, 'the ') THEN 1 ELSE 0 END
                        AS ones
               FROM documents),
    u AS (SELECT doc_id, ones, 3 AS m FROM r),
    agg AS (SELECT sum(2*ones*(m-ones)) AS do_num, sum(m*(m-1)) AS do_den,
                   sum(ones) AS n1, sum(m) AS n, count(*) AS units
            FROM u)
    SELECT CAST(units AS BIGINT) AS n_units,
           CAST(n1 AS BIGINT) AS n_positive_codes,
           CAST(do_num*10000//do_den AS BIGINT) AS disagreement_e4,
           CAST(2*n1*(n-n1)*10000//(n*(n-1)) AS BIGINT) AS expected_e4,
           CAST(10000 - do_num*(n*(n-1))*10000
                // (do_den*2*n1*(n-n1)) AS BIGINT) AS alpha_e4
    FROM agg
    """,
)
def llm_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal, binary) over three heuristic
    quality raters — the inter-rater reliability statistic annotation
    pipelines gate on (alpha >= 0.8 publishable, >= 0.667 tentative):
    rater A says a doc is 'long' by chars (> 300), rater B by tokens
    (> 60), rater C by containing 'the ' — three correlated-but-
    imperfect judges of the same latent size property.  alpha = 1 -
    Do/De with Do = within-unit pair disagreement and De the
    margin-expected disagreement, all exact integer counts (for binary
    codes the per-unit disagreeing pairs are 2*ones*(m-ones)).
    Measured: alpha_e4 = 4441/4489/4399 across SFs — stable moderate
    agreement, with disagreement 2706..2762 vs expected 4868..4932
    (all three columns live across SFs, alpha far from both 0 and 1).

    Shape: one scan, three inline raters, one scalar aggregate."""
    d = load_table(spark, sf_dir, "documents")
    u = d.select(
        (
            F.when(F.col("n_chars") > 300, 1).otherwise(0)
            + F.when(F.size(F.split(F.col("text"), " ")) > 60, 1).otherwise(0)
            + F.when(F.col("text").contains("the "), 1).otherwise(0)
        ).alias("ones"),
        F.lit(3).alias("m"),
    )
    agg = u.groupBy().agg(
        F.sum(2 * F.col("ones") * (F.col("m") - F.col("ones"))).alias("do_num"),
        F.sum(F.col("m") * (F.col("m") - 1)).alias("do_den"),
        F.sum("ones").alias("n1"),
        F.sum("m").alias("n"),
        F.count("*").alias("units"),
    )
    return agg.select(
        F.col("units").cast("long").alias("n_units"),
        F.col("n1").cast("long").alias("n_positive_codes"),
        F.expr("do_num*10000 div do_den").cast("long").alias("disagreement_e4"),
        F.expr("2*n1*(n-n1)*10000 div (n*(n-1))").cast("long").alias("expected_e4"),
        F.expr("10000 - do_num*(n*(n-1))*10000 div (do_den*2*n1*(n-n1))")
        .cast("long")
        .alias("alpha_e4"),
    )


# ---------------------------------------------------------------------------
# paradox: Simpson-reversal census


@register(
    "agg_simpsons_reversal",
    oracle="""
    WITH o AS (SELECT o_orderpriority AS pr, o_orderstatus AS st,
                      CAST(round(o_totalprice*100,0) AS BIGINT) AS p
               FROM orders),
    g AS (SELECT pr, sum(p) AS sp, count(*) AS n FROM o GROUP BY 1),
    s AS (SELECT pr, st, sum(p) AS sp, count(*) AS n FROM o GROUP BY 1, 2),
    pairs AS (SELECT a.pr AS p1, b.pr AS p2,
                     CASE WHEN a.sp*b.n > b.sp*a.n THEN 1 ELSE -1 END AS gdir
              FROM g a JOIN g b ON a.pr < b.pr),
    seg AS (SELECT a.pr AS p1, b.pr AS p2, a.st,
                   CASE WHEN a.sp*b.n > b.sp*a.n THEN 1 ELSE -1 END AS sdir
            FROM s a JOIN s b ON a.pr < b.pr AND a.st = b.st)
    SELECT p.p1 AS priority_a, p.p2 AS priority_b,
           CAST(p.gdir AS BIGINT) AS global_direction,
           CAST(count(*) FILTER (seg.sdir <> p.gdir) AS BIGINT) AS n_reversed,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM pairs p JOIN seg ON seg.p1 = p.p1 AND seg.p2 = p.p2
    GROUP BY 1, 2, 3
    """,
)
def agg_simpsons_reversal(spark, sf_dir):
    """Simpson-reversal census — for every priority pair, does the
    'which priority has higher mean order value' direction FLIP inside
    some status segment vs the global comparison (the aggregation
    paradox every dashboard drill-down can hit)?  Mean comparisons are
    cross-multiplied exact integers (a.sum*b.n vs b.sum*a.n — no
    division at all), so the direction bit is engine-exact.  Measured:
    global direction itself flips across SFs for several pairs, and
    per-SF the reversal counts span 0..2 of 3 segments — both columns
    live; n_segments pins at 3 (the status cardinality, a contract
    column).

    Shape: two grouped rollups (25 and 75 rows), a 10-pair self-join
    of each — all dimension-bounded."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p"),
    )
    g = o.groupBy("pr").agg(F.sum("p").alias("sp"), F.count("*").alias("n"))
    s = o.groupBy("pr", "st").agg(F.sum("p").alias("sp"), F.count("*").alias("n"))
    gb = g.select(
        F.col("pr").alias("p2"), F.col("sp").alias("sp2"), F.col("n").alias("n2")
    )
    pairs = (
        g.join(F.broadcast(gb), F.col("pr") < F.col("p2"))
        .select(
            F.col("pr").alias("p1"),
            "p2",
            F.when(
                F.col("sp") * F.col("n2") > F.col("sp2") * F.col("n"), 1
            )
            .otherwise(-1)
            .alias("gdir"),
        )
    )
    sb = s.select(
        F.col("pr").alias("q2"),
        F.col("st").alias("st2"),
        F.col("sp").alias("sp2"),
        F.col("n").alias("n2"),
    )
    seg = (
        s.join(F.broadcast(sb), (F.col("pr") < F.col("q2")) & (F.col("st") == F.col("st2")))
        .select(
            F.col("pr").alias("s1"),
            F.col("q2").alias("s2"),
            F.when(
                F.col("sp") * F.col("n2") > F.col("sp2") * F.col("n"), 1
            )
            .otherwise(-1)
            .alias("sdir"),
        )
    )
    return (
        pairs.join(
            seg, (F.col("p1") == F.col("s1")) & (F.col("p2") == F.col("s2"))
        )
        .groupBy(
            F.col("p1").alias("priority_a"),
            F.col("p2").alias("priority_b"),
            F.col("gdir").cast("long").alias("global_direction"),
        )
        .agg(
            F.count(F.when(F.col("sdir") != F.col("gdir"), 1))
            .cast("long")
            .alias("n_reversed"),
            F.count("*").cast("long").alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# association: eta-squared (variance explained by hour-of-day)


@register(
    "agg_eta_squared",
    oracle="""
    WITH e AS (SELECT event_type AS et, extract(hour FROM ts) AS h,
                      CAST(round(value*100,0) AS BIGINT) AS c
               FROM events),
    g AS (SELECT et, h, count(*) AS ng, sum(c) AS sg FROM e GROUP BY 1, 2),
    t AS (SELECT et, count(*) AS n, sum(c) AS s, sum(c*c) AS q
          FROM e GROUP BY 1),
    w AS (SELECT et, sum(sg*sg // ng) AS ssb_grp FROM g GROUP BY 1)
    SELECT t.et AS event_type, CAST(t.n AS BIGINT) AS n_rows,
           CAST((w.ssb_grp - s*s // n) * n * 10000
                // (n*q - s*s) AS BIGINT) AS eta2_e4
    FROM t JOIN w ON w.et = t.et
    """,
)
def agg_eta_squared(spark, sf_dir):
    """Eta-squared — the ANOVA effect size (share of value variance
    explained by hour-of-day, per event type): SSB/SST with the
    per-group floor-division convention (b) — each group's sg^2//ng is
    an exact integer BEFORE summation, so the sum is order-independent
    and engine-exact (a double accumulation here would be
    partitioning-dependent; the first probe's float version was
    rejected for exactly that).  Per-group floor bias < 1 cent^2 per
    group — 24 groups against SST ~ 1e12, i.e. ~1e-10 relative.
    Int64 bound: s^2 with s = sum of cents per type — safe to ~3e9
    cents per series (1000x this corpus); beyond that, rescale to
    dollars first (the llm_lang_profile_divergence lesson).  Measured:
    eta2_e4 = 578..1455 (sf0.001), 95..140 (sf0.01), 8..16 (sf0.1) —
    hour-of-day explains honestly-vanishing variance in white noise,
    and the decay curve itself is the liveness.

    Shape: two grouped rollups (both map-side combinable), one 5-row
    join."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.hour("ts").alias("h"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    g = e.groupBy("et", "h").agg(
        F.count("*").alias("ng"), F.sum("c").alias("sg")
    )
    t = e.groupBy("et").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    w = g.groupBy(F.col("et").alias("et2")).agg(
        F.sum(F.expr("sg*sg div ng")).alias("ssb_grp")
    )
    return t.join(w, F.col("et") == F.col("et2")).select(
        F.col("et").alias("event_type"),
        F.col("n").cast("long").alias("n_rows"),
        F.expr("(ssb_grp - s*s div n) * n * 10000 div (n*q - s*s)")
        .cast("long")
        .alias("eta2_e4"),
    )


# ---------------------------------------------------------------------------
# ranking: ABC inventory classification


@register(
    "agg_abc_classification",
    oracle="""
    WITH r AS (SELECT l_partkey AS p,
                      sum(CAST(round(l_extendedprice*(1-l_discount)*10000, 0)
                               AS BIGINT)) AS rev
               FROM lineitem GROUP BY 1),
    c AS (SELECT p, rev,
                 sum(rev) OVER (ORDER BY rev DESC, p) AS cum,
                 sum(rev) OVER () AS tot
          FROM r),
    cls AS (SELECT CASE WHEN (cum - rev) * 10 < tot * 7 THEN 'A'
                        WHEN (cum - rev) * 10 < tot * 9 THEN 'B'
                        ELSE 'C' END AS klass, rev
            FROM c)
    SELECT klass, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS revenue_e4
    FROM cls GROUP BY 1
    """,
)
def agg_abc_classification(spark, sf_dir):
    """ABC inventory classification — the Pareto class cut every supply
    chain runs (A = parts entering before 70% of cumulative revenue,
    B = before 90%, C = the tail), classified on the revenue-descending
    cumulative sum with part-key tie-break, thresholds as
    cross-multiplied integers ((cum-rev)*10 < tot*7 — the class of a
    part depends on the revenue STRICTLY AHEAD of it, so ties and
    boundary parts resolve identically on both engines).  Revenue in
    e4 cents exact integers; tot*10 ~ 2e15 at sf0.1 — safe to ~400x
    this corpus, then rescale to cents (documented bound).  Measured:
    A/B/C = 125/47/28 parts (sf0.001), 1245/466/289 (sf0.01),
    12433/4648/2919 (sf0.1) — the stable ~62/23/15 split of uniform
    synthetic revenue (a real Pareto corpus would give ~20/30/50; the
    op reports what the data says).

    Shape: one grouped rollup, one global cumulative window over the
    part-level frame (bounded by |parts|, not |lineitem|)."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
            ).cast("long")
        ).alias("rev")
    )
    c = r.select(
        "p",
        "rev",
        F.sum("rev").over(Window.orderBy(F.col("rev").desc(), "p")).alias("cum"),
        F.sum("rev").over(Window.partitionBy()).alias("tot"),
    )
    cls = c.select(
        F.when((F.col("cum") - F.col("rev")) * 10 < F.col("tot") * 7, "A")
        .when((F.col("cum") - F.col("rev")) * 10 < F.col("tot") * 9, "B")
        .otherwise("C")
        .alias("klass"),
        "rev",
    )
    return cls.groupBy("klass").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("revenue_e4"),
    )

"""Round-14 tranche, wave A — built during round 11 from the
pre-validated tools/backlog_r14.md designs.

* epidemiology / ab-testing — Mantel–Haenszel common odds ratio
  (stratified 2x2 pooling, the confounder-adjusted effect estimate).
* time series — matrix profile (motif + discord discovery),
  variance-ratio random-walk test.
* survival — concordance C-index (risk-score ranking quality).
* coding theory — Hamming(7,4) single-error-correction audit.
* robust stats — 10% trimmed mean vs raw.
* calibration — ECE / MCE from the reliability bins.
* optimizer — predicate-order cost (the filter-reorder sibling of
  diag_join_order_cost).

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/backlog_r14.md and tools/vacuity_r13.md
conventions.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import lineage_cap

# ---------------------------------------------------------------------------
# Mantel–Haenszel common odds ratio


@register(
    "agg_mantel_haenszel",
    oracle="""
    WITH e AS (SELECT date_trunc('day', ts) AS dy,
                      CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT)
                           > 50 THEN 1 ELSE 0 END AS x,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS y
               FROM events),
    s AS (SELECT dy, sum(x*y) AS a, sum(x*(1-y)) AS b,
                 sum((1-x)*y) AS c, sum((1-x)*(1-y)) AS d,
                 count(*) AS n
          FROM e GROUP BY 1),
    mh AS (SELECT sum(a*d*10000//n) AS num, sum(b*c*10000//n) AS den
           FROM s)
    SELECT CAST(s.dy AS DATE) AS day,
           CAST(a AS BIGINT) AS exposed_pos, CAST(b AS BIGINT) AS exposed_neg,
           CAST(c AS BIGINT) AS control_pos, CAST(d AS BIGINT) AS control_neg,
           CAST((SELECT floor(num*10000.0/den) FROM mh) AS BIGINT)
             AS mh_or_e4
    FROM s
    """,
)
def agg_mantel_haenszel(spark, sf_dir):
    """Mantel–Haenszel common odds ratio — the confounder-adjusted 2x2
    pooling every epidemiology and stratified A/B analysis runs:
    strata = days, exposure = payload k > 50, outcome = purchase;
    MH-OR = sum(a_i*d_i/n_i) / sum(b_i*c_i/n_i) with each stratum term
    floored at e4 (the per-group floor convention (b) — exact integers
    before the sums, order-independent), the final ratio as
    floor-of-IEEE-division of two ~4e7 integers (exact in double).
    Measured: OR_e4 = 9205 / 9694 / 10295 — the estimate crosses the
    null 1.0 across SFs (no true exposure effect; the wobble around
    10000 is the honest answer); per-day 2x2 cells all live.

    Shape: one scan -> 30-stratum census (map-side), one scalar pool
    broadcast back onto the stratum rows (the
    agg_shard_determinism_audit shared-statistic precedent)."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("dy"),
        F.when(
            F.get_json_object("props", "$.k").cast("long") > 50, 1
        )
        .otherwise(0)
        .alias("x"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    s = e.groupBy("dy").agg(
        F.sum(F.col("x") * F.col("y")).alias("a"),
        F.sum(F.col("x") * (1 - F.col("y"))).alias("b"),
        F.sum((1 - F.col("x")) * F.col("y")).alias("c"),
        F.sum((1 - F.col("x")) * (1 - F.col("y"))).alias("d"),
        F.count("*").alias("n"),
    )
    mh = s.groupBy().agg(
        F.sum(F.expr("a*d*10000 div n")).alias("num"),
        F.sum(F.expr("b*c*10000 div n")).alias("den"),
    )
    return s.crossJoin(F.broadcast(mh)).select(
        F.col("dy").cast("date").alias("day"),
        F.col("a").cast("long").alias("exposed_pos"),
        F.col("b").cast("long").alias("exposed_neg"),
        F.col("c").cast("long").alias("control_pos"),
        F.col("d").cast("long").alias("control_neg"),
        F.floor(F.col("num").cast("double") * 10000.0 / F.col("den"))
        .cast("long")
        .alias("mh_or_e4"),
    )


# ---------------------------------------------------------------------------
# matrix profile (m=4)

_MP_M = 4


@register(
    "ts_matrix_profile",
    oracle=f"""
    WITH g AS (SELECT date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1),
    i AS (SELECT y, row_number() OVER (ORDER BY hr) AS t FROM g),
    v AS (SELECT a.t, a.y AS y0, b.y AS y1, c.y AS y2, d.y AS y3
          FROM i a JOIN i b ON b.t = a.t + 1
               JOIN i c ON c.t = a.t + 2 JOIN i d ON d.t = a.t + 3),
    p AS (SELECT a.t AS t1, b.t AS t2,
                 (a.y0-b.y0)*(a.y0-b.y0) + (a.y1-b.y1)*(a.y1-b.y1)
                 + (a.y2-b.y2)*(a.y2-b.y2) + (a.y3-b.y3)*(a.y3-b.y3) AS d2
          FROM v a JOIN v b ON b.t > a.t + {_MP_M - 1}),
    mp AS (SELECT t, min(d2) AS nn FROM (
            SELECT t1 AS t, d2 FROM p
            UNION ALL SELECT t2 AS t, d2 FROM p) GROUP BY 1),
    x AS (SELECT min(nn) AS motif_d2, max(nn) AS discord_d2,
                 count(*) AS n_subseq
          FROM mp)
    SELECT CAST(n_subseq AS BIGINT) AS n_subseq,
           CAST(motif_d2 AS BIGINT) AS motif_d2,
           CAST((SELECT min(t) FROM mp WHERE nn = x.motif_d2) AS BIGINT)
             AS motif_t,
           CAST(discord_d2 AS BIGINT) AS discord_d2,
           CAST((SELECT min(t) FROM mp WHERE nn = x.discord_d2) AS BIGINT)
             AS discord_t
    FROM x
    """,
)
def ts_matrix_profile(spark, sf_dir):
    """Matrix profile (m=4) — THE time-series motif/discord primitive
    (Yeh et al.): for every length-4 subsequence of the global hourly
    series, the squared distance to its nearest non-overlapping
    neighbor; the profile minimum is the top MOTIF pair, the maximum
    the top DISCORD (anomaly).  Exact integer squared distances in
    cents; motif/discord locations take the EARLIEST achieving t
    (min-t tie-break — arg_min is tie-unstable).  Measured: motif d2
    collapses 100274 -> 3018 with SF (denser corpora smooth the frame,
    near-duplicate days appear) while discord stays 5 decades above
    it; all four locations distinct per SF.

    Shape: the pair join is calendar-bounded (<= 714 templates -> <=
    255k pairs at ANY corpus size), broadcast side the template frame;
    the hourly rollup is the only full-data pass (the
    ts_sample_entropy precedent)."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.expr(
            "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
            " as bigint)"
        ).alias("y")
    )
    i = g.select("y", F.row_number().over(Window.orderBy("hr")).alias("t"))
    v = (
        i.alias("a")
        .join(i.alias("b"), F.col("b.t") == F.col("a.t") + 1)
        .join(i.alias("c"), F.col("c.t") == F.col("a.t") + 2)
        .join(i.alias("d"), F.col("d.t") == F.col("a.t") + 3)
        .select(
            F.col("a.t").alias("t"),
            F.col("a.y").alias("y0"),
            F.col("b.y").alias("y1"),
            F.col("c.y").alias("y2"),
            F.col("d.y").alias("y3"),
        )
    )
    z = v.select(
        F.col("t").alias("t2"),
        F.col("y0").alias("z0"),
        F.col("y1").alias("z1"),
        F.col("y2").alias("z2"),
        F.col("y3").alias("z3"),
    )
    p = v.join(F.broadcast(z), F.col("t2") > F.col("t") + (_MP_M - 1)).select(
        F.col("t").alias("t1"),
        "t2",
        (
            (F.col("y0") - F.col("z0")) * (F.col("y0") - F.col("z0"))
            + (F.col("y1") - F.col("z1")) * (F.col("y1") - F.col("z1"))
            + (F.col("y2") - F.col("z2")) * (F.col("y2") - F.col("z2"))
            + (F.col("y3") - F.col("z3")) * (F.col("y3") - F.col("z3"))
        ).alias("d2"),
    )
    mp = (
        p.select(F.col("t1").alias("t"), "d2")
        .unionAll(p.select(F.col("t2").alias("t"), "d2"))
        .groupBy("t")
        .agg(F.min("d2").alias("nn"))
        # three downstream branches (extrema, motif-t, discord-t) re-derive
        # this frame; cap the lineage so the pair join runs once, not 3x
        # (80 scan nodes in the uncapped plan — the plan-pin catch)
        .transform(lineage_cap)
    )
    x = mp.groupBy().agg(
        F.min("nn").alias("motif_d2"),
        F.max("nn").alias("discord_d2"),
        F.count("*").alias("n_subseq"),
    )
    mt = (
        mp.crossJoin(F.broadcast(x.select("motif_d2")))
        .filter(F.col("nn") == F.col("motif_d2"))
        .groupBy()
        .agg(F.min("t").alias("motif_t"))
    )
    dt = (
        mp.crossJoin(F.broadcast(x.select("discord_d2")))
        .filter(F.col("nn") == F.col("discord_d2"))
        .groupBy()
        .agg(F.min("t").alias("discord_t"))
    )
    return (
        x.crossJoin(F.broadcast(mt))
        .crossJoin(F.broadcast(dt))
        .select(
            F.col("n_subseq").cast("long").alias("n_subseq"),
            F.col("motif_d2").cast("long").alias("motif_d2"),
            F.col("motif_t").cast("long").alias("motif_t"),
            F.col("discord_d2").cast("long").alias("discord_d2"),
            F.col("discord_t").cast("long").alias("discord_t"),
        )
    )


# ---------------------------------------------------------------------------
# survival: concordance C-index


@register(
    "agg_c_index",
    oracle="""
    WITH f AS (SELECT user_id, count(*) AS activity,
                      min(ts) FILTER (event_type = 'view') AS tv,
                      min(ts) FILTER (event_type = 'purchase') AS tp
               FROM events GROUP BY 1),
    p AS (SELECT user_id, activity,
                 date_diff('second', tv, tp) AS gap
          FROM f WHERE tv IS NOT NULL AND tp IS NOT NULL AND tp > tv),
    pr AS (SELECT a.gap AS g1, b.gap AS g2,
                  a.activity AS s1, b.activity AS s2
           FROM p a JOIN p b ON a.user_id < b.user_id
           WHERE a.gap <> b.gap AND a.activity <> b.activity),
    cd AS (SELECT count(*) FILTER ((g1 < g2 AND s1 > s2)
                               OR (g2 < g1 AND s2 > s1)) AS conc,
                  count(*) AS tot
           FROM pr)
    SELECT CAST(conc AS BIGINT) AS concordant,
           CAST(tot AS BIGINT) AS n_pairs,
           CAST(conc*10000//tot AS BIGINT) AS c_index_e4
    FROM cd
    """,
)
def agg_c_index(spark, sf_dir):
    """Concordance C-index — the ranking-quality metric survival models
    are scored with (does a higher risk score predict a shorter time to
    event?): risk score = user activity count, event time = the
    view->purchase first-passage gap; C = concordant / comparable
    pairs over converters, ties in either coordinate excluded (the
    strict-concordance convention, documented).  Measured: c_e4 =
    7368 / 4968 / 5352 — busier users convert FASTER at tiny SF, the
    signal washing toward 0.5 as the corpus grows (the white-noise
    truth).  Scale note: the pair join is quadratic in CONVERTERS
    (740 at sf0.1 -> 274k pairs, broadcast side bounded by the
    conversion rate); a corpus with ~1e5+ converters needs the
    rank-arithmetic inversion count instead — documented in
    tools/backlog_r14.md.

    Shape: one per-user rollup (map-side), one bounded broadcast pair
    join, one conditional count."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.count("*").alias("activity"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "tp"
        ),
    )
    p = f.filter(
        F.col("tv").isNotNull()
        & F.col("tp").isNotNull()
        & (F.col("tp") > F.col("tv"))
    ).select(
        "user_id",
        "activity",
        (F.expr("unix_seconds(tp)") - F.expr("unix_seconds(tv)")).alias("gap"),
    )
    q = p.select(
        F.col("user_id").alias("u2"),
        F.col("activity").alias("s2"),
        F.col("gap").alias("g2"),
    )
    pr = p.join(F.broadcast(q), F.col("user_id") < F.col("u2")).filter(
        (F.col("gap") != F.col("g2")) & (F.col("activity") != F.col("s2"))
    )
    cd = pr.groupBy().agg(
        F.count(
            F.when(
                ((F.col("gap") < F.col("g2")) & (F.col("activity") > F.col("s2")))
                | ((F.col("g2") < F.col("gap")) & (F.col("s2") > F.col("activity"))),
                1,
            )
        ).alias("conc"),
        F.count("*").alias("tot"),
    )
    return cd.select(
        F.col("conc").cast("long").alias("concordant"),
        F.col("tot").cast("long").alias("n_pairs"),
        F.expr("cast(conc*10000 div tot as bigint)").alias("c_index_e4"),
    )


# ---------------------------------------------------------------------------
# coding theory: Hamming(7,4) single-error correction audit


@register(
    "fn_hamming74_audit",
    oracle="""
    WITH e AS (SELECT event_id AS k, event_id % 16 AS nib,
                      event_id % 8 AS flip_pos
               FROM events),
    b AS (SELECT k, nib, flip_pos,
                 nib & 1 AS d1, (nib >> 1) & 1 AS d2,
                 (nib >> 2) & 1 AS d3, (nib >> 3) & 1 AS d4
          FROM e),
    cw AS (SELECT *, xor(xor(d1, d2), d4) AS p1,
                  xor(xor(d1, d3), d4) AS p2,
                  xor(xor(d2, d3), d4) AS p3
           FROM b),
    /* codeword positions 1..7 = [p1, p2, d1, p3, d2, d3, d4];
       flip_pos 0 = clean transmission */
    rx AS (SELECT k, nib, flip_pos,
                  xor(p1, CASE WHEN flip_pos = 1 THEN 1 ELSE 0 END) AS r1,
                  xor(p2, CASE WHEN flip_pos = 2 THEN 1 ELSE 0 END) AS r2,
                  xor(d1, CASE WHEN flip_pos = 3 THEN 1 ELSE 0 END) AS r3,
                  xor(p3, CASE WHEN flip_pos = 4 THEN 1 ELSE 0 END) AS r4,
                  xor(d2, CASE WHEN flip_pos = 5 THEN 1 ELSE 0 END) AS r5,
                  xor(d3, CASE WHEN flip_pos = 6 THEN 1 ELSE 0 END) AS r6,
                  xor(d4, CASE WHEN flip_pos = 7 THEN 1 ELSE 0 END) AS r7
           FROM cw),
    syn AS (SELECT k, nib, flip_pos,
                   xor(xor(xor(r1, r3), r5), r7)
                   + 2*xor(xor(xor(r2, r3), r6), r7)
                   + 4*xor(xor(xor(r4, r5), r6), r7) AS s,
                   r3, r5, r6, r7
            FROM rx),
    fix AS (SELECT flip_pos, s,
                   (CASE WHEN s = 3 THEN xor(r3, 1) ELSE r3 END)
                   + 2*(CASE WHEN s = 5 THEN xor(r5, 1) ELSE r5 END)
                   + 4*(CASE WHEN s = 6 THEN xor(r6, 1) ELSE r6 END)
                   + 8*(CASE WHEN s = 7 THEN xor(r7, 1) ELSE r7 END)
                     AS decoded,
                   nib
            FROM syn)
    SELECT CAST(flip_pos AS BIGINT) AS flip_pos,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(s) AS BIGINT) AS syndrome,
           CAST(min(CASE WHEN decoded = nib THEN 1 ELSE 0 END) AS BIGINT)
             AS all_corrected,
           CAST(sum(decoded) AS BIGINT) AS decoded_nib_mass
    FROM fix GROUP BY 1
    """,
)
def fn_hamming74_audit(spark, sf_dir):
    """Hamming(7,4) single-error-correction audit — the canonical ECC
    round-trip (encode each event-id nibble into the 7-bit codeword
    [p1 p2 d1 p3 d2 d3 d4], flip the deterministic position k%8 — 0
    means a clean channel — recompute the syndrome, correct, decode):
    the audited theorem is that the SYNDROME EQUALS THE FLIPPED
    POSITION (max(s) per group pins the full mapping 0->0, 1->1, ...,
    7->7 — any parity-equation slip scrambles it) and that every
    corrupted nibble decodes back exactly (all_corrected = min-gate).
    decoded_nib_mass varies freely per group (the id mix).  Pure bit
    arithmetic (xor/shift/mask) in whole-stage codegen on BOTH
    engines — no UDF anywhere.

    Shape: one scan, one scalar bit pipeline, an 8-row census."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "event_id % 16 as nib",
        "event_id % 8 as flip_pos",
        "cast(event_id % 16 as int) & 1 as d1",
        "(cast(event_id % 16 as int) >> 1) & 1 as d2",
        "(cast(event_id % 16 as int) >> 2) & 1 as d3",
        "(cast(event_id % 16 as int) >> 3) & 1 as d4",
    )
    cw = e.selectExpr(
        "nib",
        "flip_pos",
        "d1 ^ d2 ^ d4 as p1",
        "d1 ^ d3 ^ d4 as p2",
        "d2 ^ d3 ^ d4 as p3",
        "d1",
        "d2",
        "d3",
        "d4",
    )
    rx = cw.selectExpr(
        "nib",
        "flip_pos",
        "p1 ^ (case when flip_pos = 1 then 1 else 0 end) as r1",
        "p2 ^ (case when flip_pos = 2 then 1 else 0 end) as r2",
        "d1 ^ (case when flip_pos = 3 then 1 else 0 end) as r3",
        "p3 ^ (case when flip_pos = 4 then 1 else 0 end) as r4",
        "d2 ^ (case when flip_pos = 5 then 1 else 0 end) as r5",
        "d3 ^ (case when flip_pos = 6 then 1 else 0 end) as r6",
        "d4 ^ (case when flip_pos = 7 then 1 else 0 end) as r7",
    )
    syn = rx.selectExpr(
        "nib",
        "flip_pos",
        "(r1 ^ r3 ^ r5 ^ r7) + 2*(r2 ^ r3 ^ r6 ^ r7)"
        " + 4*(r4 ^ r5 ^ r6 ^ r7) as s",
        "r3",
        "r5",
        "r6",
        "r7",
    )
    fix = syn.selectExpr(
        "flip_pos",
        "s",
        "nib",
        "(case when s = 3 then r3 ^ 1 else r3 end)"
        " + 2*(case when s = 5 then r5 ^ 1 else r5 end)"
        " + 4*(case when s = 6 then r6 ^ 1 else r6 end)"
        " + 8*(case when s = 7 then r7 ^ 1 else r7 end) as decoded",
    )
    return fix.groupBy(F.col("flip_pos").cast("long").alias("flip_pos")).agg(
        F.count("*").cast("long").alias("n"),
        F.max("s").cast("long").alias("syndrome"),
        F.min(F.when(F.col("decoded") == F.col("nib"), 1).otherwise(0))
        .cast("long")
        .alias("all_corrected"),
        F.sum("decoded").cast("long").alias("decoded_nib_mass"),
    )


# ---------------------------------------------------------------------------
# robust stats: trimmed mean


@register(
    "agg_trimmed_mean",
    oracle="""
    WITH e AS (SELECT event_type AS et,
                      CAST(round(value*100,0) AS BIGINT) AS c, event_id
               FROM events),
    r AS (SELECT et, c,
                 row_number() OVER (PARTITION BY et ORDER BY c, event_id)
                   AS rn,
                 count(*) OVER (PARTITION BY et) AS n
          FROM e),
    t AS (SELECT et, c FROM r WHERE rn > n//10 AND rn <= n - n//10),
    raw AS (SELECT et, sum(c)//count(*) AS raw_mean FROM e GROUP BY 1)
    SELECT t.et AS event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(t.c)//count(*) AS BIGINT) AS trimmed_mean_cents,
           CAST(max(raw.raw_mean) AS BIGINT) AS raw_mean_cents
    FROM t JOIN raw ON raw.et = t.et GROUP BY 1
    """,
)
def agg_trimmed_mean(spark, sf_dir):
    """10% trimmed mean — the classic outlier-resistant location
    estimate (drop the bottom and top deciles by rank, average the
    rest), paired with the raw mean so the trim's effect is the
    output: on this right-skewed value distribution the trimmed mean
    sits consistently ~15% BELOW the raw mean (4011..4489 vs
    4691..5193 cents across types and SFs) — the tail-sensitivity gap
    robust estimators exist to close.  Rank trimming uses the
    event_id tie-break; floor-division means per convention (b).

    Shape: one rank window per series, two aggregates, a 5-row
    join."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        "event_id",
    )
    w = Window.partitionBy("et")
    r = e.select(
        "et",
        "c",
        F.row_number().over(w.orderBy("c", "event_id")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    t = r.filter(
        (F.col("rn") > F.expr("n div 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    raw = e.groupBy(F.col("et").alias("et2")).agg(
        F.expr("sum(c) div count(*)").alias("raw_mean")
    )
    return (
        t.groupBy("et")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.expr("cast(sum(c) div count(*) as bigint)").alias(
                "trimmed_mean_cents"
            ),
        )
        .join(F.broadcast(raw), F.col("et") == F.col("et2"))
        .select(
            F.col("et").alias("event_type"),
            "n_kept",
            "trimmed_mean_cents",
            F.col("raw_mean").cast("long").alias("raw_mean_cents"),
        )
    )


# ---------------------------------------------------------------------------
# calibration: ECE / MCE


@register(
    "agg_ece_calibration",
    oracle="""
    WITH e AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS o
               FROM events),
    b AS (SELECT k//10 AS bin, count(*) AS nb, sum(k) AS sk, sum(o) AS so
          FROM e GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(nb * abs(sk*100//nb - so*10000//nb)) // nn AS BIGINT)
             AS ece_e4,
           CAST(max(abs(sk*100//nb - so*10000//nb)) AS BIGINT) AS mce_e4
    FROM b, n GROUP BY nn
    """,
)
def agg_ece_calibration(spark, sf_dir):
    """Expected / maximum calibration error — the standard one-number
    summaries of the reliability diagram (ECE = bin-weighted mean
    |confidence - accuracy|, MCE = the worst bin), on the same
    payload-as-prediction framing as agg_brier_reliability: the junk
    predictor's miscalibration quantified as ece_e4 = 3324/3435/3345
    and mce_e4 = 7215..7434 across SFs (stable because the payload is
    uniform by construction — the ~1/3 ECE of a uniform predictor on
    a 20% base rate, with per-SF wobble in both columns).  All
    nonnegative integer divisions.

    Shape: one JSON scan, one 10-bin census, one scalar reduce."""
    e = load_table(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    b = e.groupBy(F.expr("k div 10").alias("bin")).agg(
        F.count("*").alias("nb"), F.sum("k").alias("sk"), F.sum("o").alias("so")
    )
    n = e.groupBy().agg(F.count("*").alias("nn"))
    return b.crossJoin(F.broadcast(n)).groupBy("nn").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.expr(
            "cast(sum(nb * abs(sk*100 div nb - so*10000 div nb)) div nn"
            " as bigint)"
        ).alias("ece_e4"),
        F.expr("cast(max(abs(sk*100 div nb - so*10000 div nb)) as bigint)").alias(
            "mce_e4"
        ),
    ).select("n_bins", "ece_e4", "mce_e4")


# ---------------------------------------------------------------------------
# optimizer: predicate-order cost


@register(
    "diag_filter_order_cost",
    oracle="""
    WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS p1,
                      CASE WHEN value > 100 THEN 1 ELSE 0 END AS p2
               FROM events),
    s AS (SELECT count(*) AS n, sum(p1) AS n1, sum(p2) AS n2,
                 sum(p1*p2) AS n12
          FROM e)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(n1 AS BIGINT) AS sel_purchase,
           CAST(n2 AS BIGINT) AS sel_value,
           CAST(n12 AS BIGINT) AS sel_both,
           CAST(n + n1 AS BIGINT) AS cost_purchase_first,
           CAST(n + n2 AS BIGINT) AS cost_value_first,
           CASE WHEN n1 < n2 THEN 'purchase' ELSE 'value' END AS best_first
    FROM s
    """,
)
def diag_filter_order_cost(spark, sf_dir):
    """Predicate-order cost — the filter-reorder decision a CBO (or a
    hand-tuner) makes for conjunctive predicates, on TRUE
    selectivities: evaluating the cheaper-to-satisfy predicate first
    costs n + n_first evaluations (every row pays the first test, only
    survivors pay the second); the op publishes both orders' costs,
    the joint selectivity (whose ratio to n1*n2/n is the correlation a
    naive optimizer misses — diag_card_est_error's lesson applied to
    filters), and the argmin.  Measured: n1/n2/n12 =
    202/136/33 .. 20084/13360/2631 across SFs; value>100 is the
    better first test at every SF (best_first stable by corpus
    construction — documented; the COST columns vary freely).

    Shape: one scan, one scalar aggregate — the cost model is
    arithmetic on exact counts."""
    e = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p1"),
        F.when(F.col("value") > 100, 1).otherwise(0).alias("p2"),
    )
    s = e.groupBy().agg(
        F.count("*").alias("n"),
        F.sum("p1").alias("n1"),
        F.sum("p2").alias("n2"),
        F.sum(F.col("p1") * F.col("p2")).alias("n12"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("n1").cast("long").alias("sel_purchase"),
        F.col("n2").cast("long").alias("sel_value"),
        F.col("n12").cast("long").alias("sel_both"),
        (F.col("n") + F.col("n1")).cast("long").alias("cost_purchase_first"),
        (F.col("n") + F.col("n2")).cast("long").alias("cost_value_first"),
        F.when(F.col("n1") < F.col("n2"), "purchase")
        .otherwise("value")
        .alias("best_first"),
    )


# ---------------------------------------------------------------------------
# time series: variance-ratio random-walk test


@register(
    "ts_variance_ratio",
    oracle="""
    WITH h AS (SELECT event_type AS et, date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1, 2),
    d1 AS (SELECT et,
                  y - lag(y) OVER (PARTITION BY et ORDER BY hr) AS d,
                  y - lag(y, 4) OVER (PARTITION BY et ORDER BY hr) AS d4
           FROM h),
    v AS (SELECT et, count(d) AS n1, sum(d*d) AS s1,
                 count(d4) AS n4, sum(d4*d4) AS s4
          FROM d1 GROUP BY 1)
    SELECT et AS event_type, CAST(n1 AS BIGINT) AS n_diffs,
           CAST(s4*n1*10000 // (4*s1*n4) AS BIGINT) AS vr4_e4
    FROM v
    """,
)
def ts_variance_ratio(spark, sf_dir):
    """Variance-ratio test VR(4) — the Lo–MacKinlay random-walk
    diagnostic (is the 4-period variance 4x the 1-period variance?):
    VR = (Var(y_t - y_{t-4})/4) / Var(y_t - y_{t-1}) as ONE
    nonnegative integer division of exact cent-squared sums
    (s4*n1*1e4 ~ 2e18 peak at sf0.001 — inside int64, documented).
    A random walk reads 10000; white noise reads 2500 (4-diffs of iid
    have 2*sigma^2 vs 2*sigma^2 for 1-diffs -> ratio 1/4); measured
    vr4_e4 = 2360..2747 at every SF — the hourly means are
    mean-reverting noise, NOT a price-like random walk, and the op's
    number says so with per-series spread.

    Shape: one hourly rollup, one double-lag window, one aggregate."""
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
    w = Window.partitionBy("et").orderBy("hr")
    d1 = h.select(
        "et",
        (F.col("y") - F.lag("y").over(w)).alias("d"),
        (F.col("y") - F.lag("y", 4).over(w)).alias("d4"),
    )
    v = d1.groupBy("et").agg(
        F.count("d").alias("n1"),
        F.sum(F.col("d") * F.col("d")).alias("s1"),
        F.count("d4").alias("n4"),
        F.sum(F.col("d4") * F.col("d4")).alias("s4"),
    )
    return v.select(
        F.col("et").alias("event_type"),
        F.col("n1").cast("long").alias("n_diffs"),
        F.expr("cast(s4*n1*10000 div (4*s1*n4) as bigint)").alias("vr4_e4"),
    )

"""Round-14 tranche, wave F — built during round 11.

* phonetics — Soundex parity: Spark's built-in vs a hand-rolled
  character fold of the US-census algorithm in the oracle (DuckDB has
  no soundex; the fold IS the spec, and the hash check proves the
  two implementations agree letter-for-letter on the corpus).
* survival — dwell-time quantiles + restricted mean survival time
  (the numbers Kaplan–Meier curves get summarized into).
* monitoring — within-day CUSUM maxima (the Page–Hinkley machinery
  partitioned by calendar day — the shift detector that resets at
  day boundaries by PARTITION, not by data-dependent recursion).

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/vacuity_r14.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

# a..z soundex codes; 7 is the h/w skip marker (not a real code)
_SX_MAP = "01230127022455012623017202"


@register(
    "fn_soundex_parity",
    oracle=f"""
    WITH t AS (SELECT tok, count(*) AS n_postings FROM (
                 SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                          AS tok
                 FROM documents) GROUP BY tok),
    fold AS (SELECT tok, n_postings,
                    upper(substr(tok, 1, 1)) AS head,
                    reduce(
                      list_prepend(
                        CAST((CASE WHEN CAST(substr('{_SX_MAP}',
                                 ascii(substr(tok, 1, 1)) - 96, 1) AS BIGINT)
                               = 7 THEN 0
                              ELSE CAST(substr('{_SX_MAP}',
                                 ascii(substr(tok, 1, 1)) - 96, 1) AS BIGINT)
                              END) * 100000 AS BIGINT),
                        list_transform(range(2, len(tok)+1),
                                       i -> CAST(i AS BIGINT))),
                      (acc, i) -> CASE
                        /* c = code of char i; acc = prev*100000 + d*10+nd */
                        WHEN CAST(substr('{_SX_MAP}',
                               ascii(substr(tok, CAST(i AS INT), 1)) - 96, 1)
                             AS BIGINT) = 7
                          THEN acc
                        WHEN CAST(substr('{_SX_MAP}',
                               ascii(substr(tok, CAST(i AS INT), 1)) - 96, 1)
                             AS BIGINT) = 0
                          THEN acc % 100000
                        WHEN CAST(substr('{_SX_MAP}',
                               ascii(substr(tok, CAST(i AS INT), 1)) - 96, 1)
                             AS BIGINT) = acc // 100000
                          THEN acc
                        WHEN acc % 10 >= 3
                          THEN CAST(substr('{_SX_MAP}',
                                 ascii(substr(tok, CAST(i AS INT), 1)) - 96, 1)
                               AS BIGINT) * 100000 + acc % 100000
                        ELSE CAST(substr('{_SX_MAP}',
                               ascii(substr(tok, CAST(i AS INT), 1)) - 96, 1)
                             AS BIGINT) * 100000
                             + ((acc % 100000) // 10 * 10
                                + CAST(substr('{_SX_MAP}',
                                    ascii(substr(tok, CAST(i AS INT), 1)) - 96,
                                    1) AS BIGINT)) * 10
                             + acc % 10 + 1
                      END
                    ) AS st
             FROM t),
    code AS (SELECT tok, n_postings,
                    head || lpad(CAST((st % 100000) // 10
                                 * CASE st % 10 WHEN 0 THEN 1000
                                                WHEN 1 THEN 100
                                                WHEN 2 THEN 10
                                                ELSE 1 END AS VARCHAR),
                                 3, '0') AS sx
             FROM fold)
    SELECT tok AS token, sx AS soundex_code,
           CAST(n_postings AS BIGINT) AS n_postings
    FROM code
    """,
)
def fn_soundex_parity(spark, sf_dir):
    """Soundex parity — Spark's built-in soundex() against a
    hand-rolled character fold of the US-census algorithm in the
    DuckDB oracle (DuckDB has no soundex, so the oracle IS the spec:
    code map with h/w as transparent skips, vowels as separators that
    reset the duplicate-collapse, 3-digit right-pad), over the
    31-token vocabulary with each token's posting count as the live
    column.  The fold state packs (prev_code, digits, ndigits) into
    one BIGINT (prev*1e5 + d*10 + nd) so the single-type reduce()
    carries the whole automaton; any divergence in the h/w rule, the
    vowel reset, or the padding shows as a hash mismatch (ground
    truth pre-captured from Spark for all 31 tokens: K000, A200,
    C235, W530, H200, ...).

    Shape: one vocabulary census (31 rows), one codegen fold per
    token on the Spark side it is simply the builtin expression."""
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n_postings"))
    )
    return t.select(
        F.col("tok").alias("token"),
        F.soundex("tok").alias("soundex_code"),
        F.col("n_postings").cast("long").alias("n_postings"),
    )


# ---------------------------------------------------------------------------
# survival: dwell quantiles + restricted mean

_SQ_TAU = 6 * 3600  # RMST horizon: 6 hours


@register(
    "agg_survival_quantiles",
    oracle=f"""
    WITH s AS (SELECT date_diff('second',
                               lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                               ts) AS gap
               FROM events),
    g AS (SELECT gap FROM s WHERE gap IS NOT NULL),
    r AS (SELECT gap, row_number() OVER (ORDER BY gap) AS rn,
                 count(*) OVER () AS n
          FROM g)
    SELECT CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN rn = (n+3)//4 THEN gap END) AS BIGINT) AS q1_s,
           CAST(max(CASE WHEN rn = (n+1)//2 THEN gap END) AS BIGINT) AS med_s,
           CAST(max(CASE WHEN rn = (3*n+1)//4 THEN gap END) AS BIGINT)
             AS q3_s,
           CAST(sum(least(gap, {_SQ_TAU})) // max(n) AS BIGINT) AS rmst_s,
           CAST(count(*) FILTER (gap > {_SQ_TAU}) AS BIGINT) AS n_censored
    FROM r
    """,
)
def agg_survival_quantiles(spark, sf_dir):
    """Dwell-time survival summary — the numbers a Kaplan–Meier curve
    gets boiled down to in every report: rank-picked exact quartiles
    of the inter-event gap plus the RESTRICTED MEAN SURVIVAL TIME to
    a 6-hour horizon (the censoring-robust effect measure modern
    clinical stats prefer over the median — mean of min(gap, tau),
    one integer division) and the count the horizon censors.
    Complements agg_survival_km (the curve) and ts_hazard_buckets
    (the per-interval rates) with the scalar summary tier.  Measured:
    median 26435..27728 s (stable near 7.4h), q1/q3 spread live, RMST
    and the censored count both move with density — every column
    varies across SFs.

    Shape: one per-user lag window, one global rank window over the
    gap frame, one aggregate."""
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        (
            F.expr("unix_seconds(ts)")
            - F.expr(
                "unix_seconds(lag(ts) over (partition by user_id"
                " order by ts, event_id))"
            )
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    r = s.select(
        "gap",
        F.row_number().over(Window.orderBy("gap")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    return r.groupBy().agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.max(F.when(F.col("rn") == F.expr("(n+3) div 4"), F.col("gap")))
        .cast("long")
        .alias("q1_s"),
        F.max(F.when(F.col("rn") == F.expr("(n+1) div 2"), F.col("gap")))
        .cast("long")
        .alias("med_s"),
        F.max(F.when(F.col("rn") == F.expr("(3*n+1) div 4"), F.col("gap")))
        .cast("long")
        .alias("q3_s"),
        F.expr(
            f"cast(sum(least(gap, {_SQ_TAU})) div max(n) as bigint)"
        ).alias("rmst_s"),
        F.count(F.when(F.col("gap") > _SQ_TAU, 1))
        .cast("long")
        .alias("n_censored"),
    )


# ---------------------------------------------------------------------------
# monitoring: within-day CUSUM maxima


@register(
    "win_cusum_daily",
    oracle="""
    WITH h AS (SELECT event_type AS et, date_trunc('day', ts) AS dy,
                      date_trunc('hour', ts) AS hr,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1, 2, 3),
    g AS (SELECT et, dy, sum(y) AS sy, count(*) AS nh FROM h GROUP BY 1, 2),
    m AS (SELECT h.et, h.dy, hr,
                 sum(h.y*g.nh - g.sy) OVER (PARTITION BY h.et, h.dy
                                            ORDER BY hr) AS mt
          FROM h JOIN g ON g.et = h.et AND g.dy = h.dy),
    p AS (SELECT et, dy,
                 mt - min(mt) OVER (PARTITION BY et, dy ORDER BY hr) AS ph
          FROM m)
    SELECT et AS event_type, CAST(dy AS DATE) AS day,
           CAST(max(ph) AS BIGINT) AS cusum_max_xn
    FROM p GROUP BY 1, 2
    """,
)
def win_cusum_daily(spark, sf_dir):
    """Within-day CUSUM maxima — the shift detector that RESETS at day
    boundaries, done the window-native way: the reset is a PARTITION
    key (et, day), not the data-dependent running recursion that a
    threshold-reset CUSUM needs and no window expresses (that variant
    stays rejected — the ts_alert_debounce single-pass lesson).  Per
    day: the Page–Hinkley machinery (deviations scaled by the day's
    hour count for exact integers, cumulative sum minus its running
    minimum), emitting the 150-row (series, day) control chart a
    daily-ops review reads.  Measured: daily maxima span 0..208012
    (sf0.001, sparse days can be flat) to 42609..193529 (sf0.1),
    139..150 distinct values — live on both axes.

    Shape: one hourly rollup, one bounded per-day mean join
    (broadcast), two windows partitioned by (series, day)."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy(
        F.col("event_type").alias("et"),
        F.date_trunc("day", F.col("ts")).alias("dy"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
    ).agg(
        F.expr(
            "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
            " as bigint)"
        ).alias("y")
    )
    g = h.groupBy(
        F.col("et").alias("et2"), F.col("dy").alias("dy2")
    ).agg(F.sum("y").alias("sy"), F.count("*").alias("nh"))
    wm = Window.partitionBy("et", "dy").orderBy("hr")
    m = (
        h.join(
            F.broadcast(g),
            (F.col("et") == F.col("et2")) & (F.col("dy") == F.col("dy2")),
        )
        .select(
            "et",
            "dy",
            "hr",
            F.sum(F.col("y") * F.col("nh") - F.col("sy")).over(wm).alias("mt"),
        )
    )
    p = m.select(
        "et", "dy", (F.col("mt") - F.min("mt").over(wm.orderBy("hr"))).alias("ph")
    )
    return p.groupBy(
        F.col("et").alias("event_type"), F.col("dy").cast("date").alias("day")
    ).agg(F.max("ph").cast("long").alias("cusum_max_xn"))

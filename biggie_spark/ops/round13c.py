"""Round-13 tranche, wave C (query-engine diagnostics + function parity)
— built during round 11.

Families:

* optimizer diagnostics — independence-assumption cardinality-estimate
  error (why CBOs need multi-column stats), left-deep join-order cost
  enumeration (the cost model a CBO runs, on real cardinalities),
  equi-depth-histogram selectivity error (why range estimates drift
  inside buckets).
* sharding — rendezvous (HRW) hashing rebalance accounting (completes
  the consistent-hash-ring / Feistel sharding triptych).
* calendar — exact business-day distance via the closed-form
  weekday-prefix function (no calendar table, no loop).
* codecs — Gorilla delta-of-delta timestamp-compression bit census.
* parity — width_bucket (Spark built-in vs arithmetic emulation on
  integer-valued doubles, where IEEE division is provably identical),
  bit_and/bit_or/bit_xor aggregates.

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/vacuity_r13.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

# ---------------------------------------------------------------------------
# optimizer: independence-assumption cardinality estimate vs actual


@register(
    "diag_card_est_error",
    oracle="""
    WITH e AS (SELECT event_type AS et, extract(hour FROM ts) AS h
               FROM events),
    a AS (SELECT et, h, count(*) AS actual FROM e GROUP BY 1, 2),
    m1 AS (SELECT et, count(*) AS na FROM e GROUP BY 1),
    m2 AS (SELECT h, count(*) AS nb FROM e GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM e),
    x AS (SELECT a.et, a.h, a.actual,
                 m1.na * m2.nb // nn AS est,
                 m1.na * m2.nb * 10000 // (nn * a.actual) AS ratio_e4
          FROM a JOIN m1 USING (et) JOIN m2 USING (h), n)
    SELECT et AS event_type, CAST(h AS BIGINT) AS hour,
           CAST(actual AS BIGINT) AS actual_rows,
           CAST(est AS BIGINT) AS est_rows,
           CAST(ratio_e4 AS BIGINT) AS ratio_e4
    FROM x
    ORDER BY abs(ratio_e4 - 10000) DESC, et, h LIMIT 10
    """,
)
def diag_card_est_error(spark, sf_dir):
    """Cardinality-estimate error census — the optimizer diagnostic
    behind every bad join order: estimate |sigma(et AND hour)| under
    the attribute-independence assumption (n_a * n_b / N — what a CBO
    without multi-column stats computes) vs the true cell count, as an
    integer e4 ratio, reporting the 10 worst cells.  ratio_e4 =
    na*nb*1e4 // (N*actual) — all nonnegative integers; int64-safe to
    ~1e6 rows per attribute value x 1e4 (documented: rescale at
    ~100x this corpus).  Measured: worst-cell ratio spans 5386..22893
    at sf0.001, tightening to 9347..10761 at sf0.1 — the estimate
    error shrinking as white-noise cells concentrate is itself the
    diagnostic's honest reading (115-116 distinct ratios per SF).

    Shape: three grouped rollups of one scan (all map-side
    combinable), joined on the 120-cell frame; the 1-row N frame and
    24/5-row margins broadcast."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"), F.hour("ts").alias("h")
    )
    a = e.groupBy("et", "h").agg(F.count("*").alias("actual"))
    m1 = e.groupBy("et").agg(F.count("*").alias("na"))
    m2 = e.groupBy("h").agg(F.count("*").alias("nb"))
    n = e.groupBy().agg(F.count("*").alias("nn"))
    x = (
        a.join(F.broadcast(m1), "et")
        .join(F.broadcast(m2), "h")
        .crossJoin(F.broadcast(n))
        .select(
            "et",
            "h",
            "actual",
            F.expr("na * nb div nn").alias("est"),
            F.expr("na * nb * 10000 div (nn * actual)").alias("ratio_e4"),
        )
    )
    return (
        x.orderBy(
            F.abs(F.col("ratio_e4") - 10000).desc(), "et", "h"
        )
        .limit(10)
        .select(
            F.col("et").alias("event_type"),
            F.col("h").cast("long").alias("hour"),
            F.col("actual").cast("long").alias("actual_rows"),
            F.col("est").cast("long").alias("est_rows"),
            F.col("ratio_e4").cast("long").alias("ratio_e4"),
        )
    )


# ---------------------------------------------------------------------------
# optimizer: left-deep join-order cost enumeration


@register(
    "diag_join_order_cost",
    oracle="""
    WITH c AS (SELECT c_custkey, c_nationkey FROM customer
               WHERE c_acctbal > 0),
    oc AS (SELECT count(*) AS n FROM orders o
           JOIN c ON o.o_custkey = c.c_custkey),
    cn AS (SELECT count(*) AS n FROM c
           JOIN nation n ON c.c_nationkey = n.n_nationkey),
    nr AS (SELECT count(*) AS n FROM nation n
           JOIN region r ON n.n_regionkey = r.r_regionkey),
    cnr AS (SELECT count(*) AS n FROM c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey),
    ocn AS (SELECT count(*) AS n FROM orders o
            JOIN c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey),
    fin AS (SELECT count(*) AS n FROM orders o
            JOIN c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey),
    plans AS (
      SELECT 'o_c_n_r' AS plan, oc.n AS j1, ocn.n AS j2, fin.n AS fin,
             oc.n + ocn.n + fin.n AS cost
      FROM oc, ocn, fin
      UNION ALL
      SELECT 'c_n_r_o', cn.n, cnr.n, fin.n, cn.n + cnr.n + fin.n
      FROM cn, cnr, fin
      UNION ALL
      SELECT 'n_r_c_o', nr.n, cnr.n, fin.n, nr.n + cnr.n + fin.n
      FROM nr, cnr, fin),
    best AS (SELECT min(cost) AS mc FROM plans)
    SELECT plan, CAST(j1 AS BIGINT) AS first_join_rows,
           CAST(j2 AS BIGINT) AS second_join_rows,
           CAST(fin AS BIGINT) AS final_rows,
           CAST(cost AS BIGINT) AS cost_rows,
           CAST(CASE WHEN cost = (SELECT mc FROM best) THEN 1 ELSE 0 END
                AS BIGINT) AS is_best
    FROM plans
    """,
)
def diag_join_order_cost(spark, sf_dir):
    """Left-deep join-order cost enumeration — the CBO's core loop run
    on TRUE cardinalities: for the 4-chain orders x customer(acctbal>0)
    x nation x region, cost each left-deep order as the sum of its
    intermediate result sizes (the Selinger C_out metric) and mark the
    argmin.  Exact counts, no estimates — this op is the ground truth
    a diag_card_est_error-style estimator would be judged against.
    Measured: the dimension-first plan n_r_c_o wins at every SF (cost
    1558 vs 4182 at sf0.001, 150378 vs 410055 at sf0.1 — start from
    the smallest join), is_best pins exactly one plan per SF, and the
    best/worst ratio holds ~2.7x across two decades of scale.

    Shape: six COUNT aggregates over FK equi-joins (dims broadcast),
    assembled into a 3-row literal plan dimension."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_nationkey")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select("r_regionkey")

    def cnt(df, name):
        return df.groupBy().agg(F.count("*").alias(name))

    oc = cnt(o.join(c, F.col("o_custkey") == F.col("c_custkey")), "oc")
    cn = cnt(
        c.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")),
        "cn",
    )
    nr = cnt(
        nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")),
        "nr",
    )
    cnr = cnt(
        c.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")),
        "cnr",
    )
    ocn = cnt(
        o.join(c, F.col("o_custkey") == F.col("c_custkey")).join(
            F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
        ),
        "ocn",
    )
    fin = cnt(
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")),
        "fin",
    )
    counts = (
        oc.crossJoin(F.broadcast(cn))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(cnr))
        .crossJoin(F.broadcast(ocn))
        .crossJoin(F.broadcast(fin))
    )
    plans = (
        counts.select(
            F.lit("o_c_n_r").alias("plan"),
            F.col("oc").alias("j1"),
            F.col("ocn").alias("j2"),
            F.col("fin").alias("fin"),
            (F.col("oc") + F.col("ocn") + F.col("fin")).alias("cost"),
        )
        .unionByName(
            counts.select(
                F.lit("c_n_r_o").alias("plan"),
                F.col("cn").alias("j1"),
                F.col("cnr").alias("j2"),
                F.col("fin").alias("fin"),
                (F.col("cn") + F.col("cnr") + F.col("fin")).alias("cost"),
            )
        )
        .unionByName(
            counts.select(
                F.lit("n_r_c_o").alias("plan"),
                F.col("nr").alias("j1"),
                F.col("cnr").alias("j2"),
                F.col("fin").alias("fin"),
                (F.col("nr") + F.col("cnr") + F.col("fin")).alias("cost"),
            )
        )
    )
    best = plans.groupBy().agg(F.min("cost").alias("mc"))
    return plans.crossJoin(F.broadcast(best)).select(
        "plan",
        F.col("j1").cast("long").alias("first_join_rows"),
        F.col("j2").cast("long").alias("second_join_rows"),
        F.col("fin").cast("long").alias("final_rows"),
        F.col("cost").cast("long").alias("cost_rows"),
        F.when(F.col("cost") == F.col("mc"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )


# ---------------------------------------------------------------------------
# optimizer: equi-depth histogram selectivity error

_HS_BUCKETS = 20
_HS_PANEL = (5000000, 7500000, 10000000, 15000000, 20000000, 25000000, 30000000)


@register(
    "diag_hist_selectivity",
    oracle=f"""
    WITH o AS (SELECT CAST(round(o_totalprice*100,0) AS BIGINT) AS p,
                      o_orderkey AS k
               FROM orders),
    r AS (SELECT p, (row_number() OVER (ORDER BY p, k) - 1)
                    * {_HS_BUCKETS} // (count(*) OVER ()) AS bk
          FROM o),
    hist AS (SELECT bk, min(p) AS lo, max(p) AS hi, count(*) AS n
             FROM r GROUP BY 1),
    panel AS (SELECT unnest([{",".join(map(str, _HS_PANEL))}]) AS thr),
    est AS (SELECT thr, sum(CASE WHEN hi <= thr THEN n
                                 WHEN lo > thr THEN 0
                                 ELSE n * (thr - lo) // greatest(hi - lo, 1)
                            END) AS est_n
            FROM panel, hist GROUP BY 1),
    act AS (SELECT p2.thr, count(*) FILTER (o.p <= p2.thr) AS act_n
            FROM o, panel p2 GROUP BY 1)
    SELECT CAST(est.thr AS BIGINT) AS threshold_cents,
           CAST(est_n AS BIGINT) AS est_rows,
           CAST(act_n AS BIGINT) AS actual_rows,
           CAST(floor((est_n - act_n) * 10000.0 / act_n) AS BIGINT)
             AS err_e4
    FROM est JOIN act USING (thr)
    """,
)
def diag_hist_selectivity(spark, sf_dir):
    """Equi-depth-histogram selectivity error — what a 20-bucket
    histogram (the ANALYZE artifact every CBO carries) estimates for a
    panel of `price <= t` predicates vs the true selectivity, with
    within-bucket linear interpolation.  Bucket assignment is
    row_number-based ((rn-1)*B // N with an order-key tie-break), NOT
    ntile — ntile's tie placement is engine-unstable, rank arithmetic
    is not.  err_e4 is signed, so it uses the floor-of-IEEE-division
    convention (exact-integer operands -> identical double -> identical
    floor) rather than integer `div` (which truncates toward zero in
    Spark but floors in DuckDB).  Measured: errors shrink with N
    (-250..0 e4 at sf0.001, -20..+10 at sf0.01, -6..0 at sf0.1) — the
    estimate-precision-vs-bucket-population curve a histogram tuner
    reads; est/actual row columns span the panel monotonically.

    Shape: one rank window over orders, a 20-row histogram, a 7-point
    literal panel crossed onto it; the actual-count pass is one
    conditional aggregate per panel row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p"),
        F.col("o_orderkey").alias("k"),
    )
    wn = Window.orderBy("p", "k")
    r = o.select(
        "p",
        F.expr(
            f"(row_number() over (order by p, k) - 1) * {_HS_BUCKETS}"
            " div (count(*) over ())"
        ).alias("bk"),
    )
    hist = r.groupBy("bk").agg(
        F.min("p").alias("lo"), F.max("p").alias("hi"), F.count("*").alias("n")
    )
    panel = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _HS_PANEL])).alias("thr")
    )
    est = (
        hist.crossJoin(F.broadcast(panel))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when(F.col("hi") <= F.col("thr"), F.col("n"))
                .when(F.col("lo") > F.col("thr"), F.lit(0))
                .otherwise(
                    F.expr("n * (thr - lo) div greatest(hi - lo, 1)")
                )
            ).alias("est_n")
        )
    )
    act = (
        o.crossJoin(F.broadcast(panel.withColumnRenamed("thr", "thr2")))
        .groupBy(F.col("thr2").alias("thr"))
        .agg(F.count(F.when(F.col("p") <= F.col("thr2"), 1)).alias("act_n"))
    )
    return est.join(act, "thr").select(
        F.col("thr").cast("long").alias("threshold_cents"),
        F.col("est_n").cast("long").alias("est_rows"),
        F.col("act_n").cast("long").alias("actual_rows"),
        F.floor((F.col("est_n") - F.col("act_n")).cast("double") * 10000.0 / F.col("act_n"))
        .cast("long")
        .alias("err_e4"),
    )


# ---------------------------------------------------------------------------
# sharding: rendezvous (HRW) hashing rebalance

_RV_BEFORE = 4
_RV_AFTER = 5


@register(
    "fn_rendezvous_hash",
    oracle=f"""
    WITH k AS (SELECT doc_id FROM documents),
    n4 AS (SELECT unnest(range({_RV_BEFORE})) AS nid),
    n5 AS (SELECT unnest(range({_RV_AFTER})) AS nid),
    a4 AS (SELECT doc_id,
                  arg_max(nid, md5(doc_id || ':' || nid)) AS o4
           FROM k, n4 GROUP BY doc_id),
    a5 AS (SELECT doc_id,
                  arg_max(nid, md5(doc_id || ':' || nid)) AS o5
           FROM k, n5 GROUP BY doc_id)
    SELECT CAST(o5 AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS n_keys_after,
           CAST(sum(CASE WHEN o4 <> o5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_moved_in,
           CAST(sum(CASE WHEN o4 <> o5 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS moved_share_e4
    FROM a4 JOIN a5 USING (doc_id) GROUP BY 1
    """,
)
def fn_rendezvous_hash(spark, sf_dir):
    """Rendezvous (highest-random-weight) hashing rebalance — the OTHER
    classic minimal-movement sharding scheme (the one that needs no
    ring state: every router independently picks argmax_node
    hash(key, node)): adding a 5th node moves exactly the keys whose
    new-node weight wins — all INTO node 4, never between survivors,
    the same minimal-disruption invariant the md5 ring op pins, reached
    by a completely different mechanism (weight argmax vs clockwise
    successor).  Ties are impossible (distinct md5 preimages), so
    arg_max/max_by is deterministic.  Completes the sharding triptych
    (ring / HRW / Feistel permutation).  Measured: node 4 receives 107
    of 500 keys at sf0.001/0.01 and 992 of 5000 at sf0.1
    (moved_share_e4 = 10000 for node 4, 0 for survivors — the pinned
    invariant), per-node loads 96..107 / 974..1034.

    Shape: two bounded-literal node grids (4 and 5 rows, broadcast)
    crossed onto the key scan — the per-key argmax every shard router
    computes; one doc_id equi-join for the diff."""
    k = load_table(spark, sf_dir, "documents").select("doc_id")

    def assign(n, out):
        nodes = spark.range(n).select(F.col("id").cast("long").alias("nid"))
        return (
            k.crossJoin(F.broadcast(nodes))
            .groupBy("doc_id")
            .agg(
                F.expr(
                    "max_by(nid, md5(concat(cast(doc_id as string), ':',"
                    " cast(nid as string))))"
                ).alias(out)
            )
        )

    a4 = assign(_RV_BEFORE, "o4")
    a5 = assign(_RV_AFTER, "o5")
    return (
        a4.join(a5, "doc_id")
        .groupBy(F.col("o5").cast("long").alias("node"))
        .agg(
            F.count("*").cast("long").alias("n_keys_after"),
            F.sum(F.when(F.col("o4") != F.col("o5"), 1).otherwise(0))
            .cast("long")
            .alias("n_moved_in"),
            F.expr(
                "cast(sum(case when o4 <> o5 then 1 else 0 end) * 10000"
                " div count(*) as bigint)"
            ).alias("moved_share_e4"),
        )
    )


# ---------------------------------------------------------------------------
# calendar: exact business-day distance

# Weekday-prefix closed form anchored at Monday 1990-01-01: with
# k = days(anchor -> d), the number of weekdays in (anchor, d] is
# 5*((k+1)//7) + least((k+1)%7, 5) - 1 ... the -1 removes the anchor
# Monday itself; business days in (d0, d1] = wd(d1) - wd(d0) — the
# anchor term cancels, so the simpler prefix below is used unshifted.
_BD_DUCK = (
    "5*((date_diff('day', DATE '1990-01-01', {d}) + 1) // 7)"
    " + least((date_diff('day', DATE '1990-01-01', {d}) + 1) % 7, 5)"
)
_BD_SPARK = (
    "5*((datediff({d}, date'1990-01-01') + 1) div 7)"
    " + least((datediff({d}, date'1990-01-01') + 1) % 7, 5)"
)


@register(
    "fn_business_days",
    oracle=f"""
    WITH j AS (SELECT o.o_orderpriority AS pr,
                      CAST(o.o_orderdate AS DATE) AS d0,
                      CAST(l.l_shipdate AS DATE) AS d1
               FROM orders o JOIN lineitem l
               ON l.l_orderkey = o.o_orderkey),
    c AS (SELECT pr,
                 ({_BD_DUCK.format(d="d1")}) - ({_BD_DUCK.format(d="d0")})
                   AS bd,
                 CASE WHEN date_diff('day', DATE '1990-01-01', d1) % 7
                           IN (5, 6) THEN 1 ELSE 0 END AS wknd
          FROM j WHERE d1 >= d0)
    SELECT pr AS priority, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(min(bd) AS BIGINT) AS min_bdays,
           CAST(max(bd) AS BIGINT) AS max_bdays,
           CAST(sum(bd) // count(*) AS BIGINT) AS mean_bdays,
           CAST(sum(wknd) AS BIGINT) AS n_weekend_ship
    FROM c GROUP BY 1
    """,
)
def fn_business_days(spark, sf_dir):
    """Exact business-day distance (order date -> ship date) — the SLA
    arithmetic every fulfillment dashboard needs, via the closed-form
    weekday-prefix function wd(d) = 5*((k+1)//7) + min((k+1)%7, 5)
    anchored at Monday 1990-01-01 (k = days since anchor): business
    days in (d0, d1] = wd(d1) - wd(d0) — no calendar table, no
    per-day loop, one subtraction of two integer expressions; weekend
    detection is the same k%7 in (5,6) arithmetic (engine-neutral —
    DuckDB's dayofweek starts Sunday=0, Spark's Sunday=1, so neither
    engine's builtin is used).  Measured: mean 558..605 business days
    across priorities and SFs (the synthetic 1992-1998 ship spread),
    min 0..4 varying by SF, weekend-ship counts ~2/7 of lines.

    Shape: one FK equi-join, pure scalar date arithmetic, one grouped
    aggregate — all map-side."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pr"),
        F.to_date("o_orderdate").alias("d0"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("d1")
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("d1") >= F.col("d0")
    )
    c = j.select(
        "pr",
        (
            F.expr(_BD_SPARK.format(d="d1")) - F.expr(_BD_SPARK.format(d="d0"))
        ).alias("bd"),
        F.when(
            F.expr("datediff(d1, date'1990-01-01') % 7").isin(5, 6), 1
        )
        .otherwise(0)
        .alias("wknd"),
    )
    return c.groupBy(F.col("pr").alias("priority")).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.min("bd").cast("long").alias("min_bdays"),
        F.max("bd").cast("long").alias("max_bdays"),
        F.expr("cast(sum(bd) div count(*) as bigint)").alias("mean_bdays"),
        F.sum("wknd").cast("long").alias("n_weekend_ship"),
    )


# ---------------------------------------------------------------------------
# codecs: Gorilla delta-of-delta bit census


@register(
    "fn_dod_bits",
    oracle="""
    WITH s AS (SELECT epoch_us(ts)//1000000 AS t,
                      row_number() OVER (ORDER BY ts, event_id) AS rn
               FROM events),
    d AS (SELECT a.rn, a.t - b.t AS dt
          FROM s a JOIN s b ON b.rn = a.rn - 1),
    dd AS (SELECT a.dt - b.dt AS dod
           FROM d a JOIN d b ON b.rn = a.rn - 1),
    cls AS (SELECT CASE WHEN dod = 0 THEN 'zero'
                        WHEN dod BETWEEN -63 AND 64 THEN 'b7'
                        WHEN dod BETWEEN -255 AND 256 THEN 'b9'
                        WHEN dod BETWEEN -2047 AND 2048 THEN 'b12'
                        ELSE 'b32' END AS c,
                   CASE WHEN dod = 0 THEN 1
                        WHEN dod BETWEEN -63 AND 64 THEN 9
                        WHEN dod BETWEEN -255 AND 256 THEN 12
                        WHEN dod BETWEEN -2047 AND 2048 THEN 16
                        ELSE 36 END AS bits
            FROM dd),
    tot AS (SELECT count(*) AS nn FROM cls)
    SELECT c AS bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bits) AS BIGINT) AS bits_total,
           CAST(count(*) * 10000 // nn AS BIGINT) AS share_e4
    FROM cls, tot GROUP BY 1, nn
    """,
)
def fn_dod_bits(spark, sf_dir):
    """Gorilla delta-of-delta timestamp-compression census — the bit
    accounting behind Facebook's Gorilla / Prometheus TSDB timestamp
    codec: second deltas of the (ts, event_id)-ordered event stream,
    bucketed into the paper's ranges ('0' control bit for dod=0, then
    7/9/12-bit windows, 32-bit escape) with the exact encoded bit
    total per bucket.  The event_id tie-break makes the stream order
    deterministic under equal timestamps on both engines.  Measured:
    the class mix inverts with density — sf0.001 is b12/b32-heavy
    (461/440), sf0.01 spreads (2189/4080/3700 across b7/b9/b12 with
    23 zeros), sf0.1 is b7-dominated (89546 with 1957 zeros, b32
    extinct) — exactly the arrival-rate dependence the codec exploits;
    share_e4 and bits_total live everywhere.

    Shape: one rank window + two self-equi-joins on adjacent ranks
    (windowed lag twice, expressed join-free in the Spark plan), one
    5-class census; the 1-row total broadcasts."""
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.expr("unix_seconds(ts)").alias("t"),
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("rn"),
    )
    wd = Window.orderBy("rn")
    d = s.select((F.col("t") - F.lag("t").over(wd)).alias("dt"), "rn").filter(
        F.col("dt").isNotNull()
    )
    dd = d.select((F.col("dt") - F.lag("dt").over(wd)).alias("dod")).filter(
        F.col("dod").isNotNull()
    )
    cls = dd.select(
        F.when(F.col("dod") == 0, "zero")
        .when(F.col("dod").between(-63, 64), "b7")
        .when(F.col("dod").between(-255, 256), "b9")
        .when(F.col("dod").between(-2047, 2048), "b12")
        .otherwise("b32")
        .alias("c"),
        F.when(F.col("dod") == 0, 1)
        .when(F.col("dod").between(-63, 64), 9)
        .when(F.col("dod").between(-255, 256), 12)
        .when(F.col("dod").between(-2047, 2048), 16)
        .otherwise(36)
        .alias("bits"),
    )
    tot = cls.groupBy().agg(F.count("*").alias("nn"))
    return (
        cls.groupBy(F.col("c").alias("bucket"))
        .agg(
            F.count("*").alias("n0"),
            F.sum("bits").cast("long").alias("bits_total"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n0").cast("long").alias("n"),
            "bits_total",
            F.expr("cast(n0 * 10000 div nn as bigint)").alias("share_e4"),
        )
    )


# ---------------------------------------------------------------------------
# parity: width_bucket on integer-valued doubles


@register(
    "fn_width_bucket_parity",
    oracle="""
    WITH e AS (SELECT event_type AS et,
                      CAST(round(value*100,0) AS BIGINT) AS c
               FROM events),
    b AS (SELECT et, c,
                 CASE WHEN c < 5000 THEN 0
                      WHEN c >= 20000 THEN 7
                      ELSE 1 + CAST(floor((c - 5000) * 6.0 / 15000)
                                    AS BIGINT)
                 END AS bucket
          FROM e)
    SELECT et AS event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(c) AS BIGINT) AS min_cents,
           CAST(max(c) AS BIGINT) AS max_cents
    FROM b GROUP BY 1, 2
    """,
)
def fn_width_bucket_parity(spark, sf_dir):
    """width_bucket parity — Spark's built-in width_bucket(c, 5000,
    20000, 6) against the arithmetic definition (0 = underflow, 7 =
    overflow, else 1 + floor((c-lo)*n/(hi-lo))), provable because the
    operands are INTEGER-VALUED doubles: (c-5000), 6, 15000 and the
    bucket width 2500 are all exactly representable, the true quotients
    are identical rationals whichever order the engine multiplies, and
    IEEE division is correctly rounded — so floor agrees bit-for-bit
    (a fractional-bound width_bucket would NOT be cross-engine-provable;
    the integer-cents framing is the contract).  DuckDB has no
    width_bucket, so the oracle IS the arithmetic form — the parity
    claim is Spark-builtin == closed form.  Measured: all 9 buckets
    (0..7) populated at every SF with monotone-decaying counts
    (underflow ~8.6k/type at sf0.1, overflow 3..348) and per-bucket
    min/max spanning the cut points.

    Shape: one scan, one scalar expression, one census."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    b = e.select(
        "et",
        "c",
        F.expr(
            "width_bucket(cast(c as double), 5000.0d, 20000.0d, 6)"
        )
        .cast("long")
        .alias("bucket"),
    )
    return b.groupBy(F.col("et").alias("event_type"), "bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.min("c").cast("long").alias("min_cents"),
        F.max("c").cast("long").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# parity: bit_and / bit_or / bit_xor aggregates


@register(
    "sql_bitagg_parity",
    oracle="""
    WITH e AS (SELECT event_type AS et, extract(hour FROM ts) % 4 AS hb,
                      (1 << (extract(hour FROM ts) % 4))
                      | (16 << (user_id % 3)) AS mask
               FROM events)
    SELECT et AS event_type, CAST(hb AS BIGINT) AS hour_bucket,
           CAST(bit_and(mask) AS BIGINT) AS mask_and,
           CAST(bit_or(mask) AS BIGINT) AS mask_or,
           CAST(bit_xor(mask) AS BIGINT) AS mask_xor,
           CAST(count(*) AS BIGINT) AS n
    FROM e GROUP BY 1, 2
    """,
)
def sql_bitagg_parity(spark, sf_dir):
    """bit_and / bit_or / bit_xor aggregate parity — the bitmask
    rollups behind permission auditing and feature-flag analytics,
    with a mask designed so every aggregate is live: the low nibble
    carries the group's hour bucket (constant WITHIN each group, so
    bit_and provably retains exactly that bit — the 'which bits
    survive conjunction' diagnostic), the high bits carry user_id%3
    (varying within group, so bit_or accumulates the union 112 and
    bit_xor tracks count parity per bit).  Measured: mask_and walks
    1/2/4/8 across hour buckets, mask_or spans 113..120, mask_xor
    varies freely (0..114 across groups and SFs) — all three
    aggregates distinct and live at every SF.

    Shape: one scan, one 20-group census — pure JVM bit aggregates,
    map-side combinable."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
        (F.hour("ts") % 4).alias("hb"),
        F.expr(
            "(shiftleft(1, cast(hour(ts) % 4 as int)))"
            " | (shiftleft(16, cast(user_id % 3 as int)))"
        ).alias("mask"),
    )
    return e.groupBy(
        F.col("et").alias("event_type"),
        F.col("hb").cast("long").alias("hour_bucket"),
    ).agg(
        F.expr("bit_and(mask)").cast("long").alias("mask_and"),
        F.expr("bit_or(mask)").cast("long").alias("mask_or"),
        F.expr("bit_xor(mask)").cast("long").alias("mask_xor"),
        F.count("*").cast("long").alias("n"),
    )

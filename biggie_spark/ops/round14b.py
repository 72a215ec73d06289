"""Round-14 tranche, wave B — built during round 11 from the
pre-validated tools/backlog_r14.md designs.

* alignment — DTW between consecutive-day hourly profiles, the dynamic
  program expressed ENTIRELY in nested higher-order fold expressions
  on both engines (no UDF, no recursion hack): Spark F.aggregate with
  an explicit seed row, DuckDB reduce() with the prepended-seed idiom.
* survey statistics — raking / iterative proportional fitting,
  jackknife variance of the mean.
* concentration — Herfindahl–Hirschman index in DECIMAL(38,0)
  (sum(rev^2) overflows int64 at sf0.1 — tools/backlog_r14.md).
* clustering eval — purity and adjusted Rand of a nearest-probe
  assignment against the embedding labels (the honest result is ~the
  label prior: this corpus's labels carry NO cluster structure —
  measured intra/inter cosine 0.002 vs 0.000 — and both metrics say
  so).
* vision — 2-means (Otsu's sibling) on the gray histogram via bounded
  Lloyd iterations.

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/vacuity_r14.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

_DTW_INF = 4 * 10**15  # safe headroom: costs sum below ~1e9


@register(
    "ts_dtw_daily",
    oracle=f"""
    WITH h AS (SELECT date_trunc('day', ts) AS dy, extract(hour FROM ts) AS hh,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS y
               FROM events GROUP BY 1, 2),
    pr AS (SELECT dy, list(y ORDER BY hh) AS prof FROM h GROUP BY 1),
    pair AS (SELECT a.dy AS d1, a.prof AS xs, b.prof AS ys
             FROM pr a JOIN pr b ON b.dy = a.dy + INTERVAL 1 DAY),
    dtw AS (SELECT d1, len(xs) AS n1, len(ys) AS n2,
      reduce(
        list_prepend(
          list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(1, len(ys)+1),
                                      k -> CAST({_DTW_INF} AS BIGINT))),
          list_transform(range(1, len(xs)+1), i -> [CAST(i AS BIGINT)])),
        (acc, x) -> reduce(
           list_prepend([CAST({_DTW_INF} AS BIGINT)],
                        list_transform(range(1, len(ys)+1),
                                       j -> [CAST(j AS BIGINT)])),
           (row, jx) -> list_append(row,
              abs(xs[CAST(x[1] AS INT)] - ys[CAST(jx[1] AS INT)])
              + least(acc[CAST(jx[1] AS INT)+1],
                      acc[CAST(jx[1] AS INT)],
                      row[-1]))))[-1] AS dtw_c
      FROM pair)
    SELECT CAST(d1 AS DATE) AS day,
           CAST(n1 AS BIGINT) AS n_hours_a,
           CAST(n2 AS BIGINT) AS n_hours_b,
           CAST(dtw_c AS BIGINT) AS dtw_cents
    FROM dtw
    """,
)
def ts_dtw_daily(spark, sf_dir):
    """Dynamic time warping between consecutive-day hourly profiles —
    the alignment distance behind shape-based day clustering and
    anomaly triage, with the FULL O(n*m) dynamic program expressed as
    a nested higher-order fold in pure JVM/engine expressions (Spark
    F.aggregate over F.aggregate; DuckDB nested reduce() with the
    prepended-seed idiom — no UDF, no recursive CTE).  Full DP, NOT a
    Sakoe–Chiba band: sf0.001 day profiles are length 13..23, so
    |n-m| exceeds any small band and a banded corner is unreachable
    (the rejected design in tools/backlog_r14.md).  Exact integer
    cents; INF sentinel 4e15 leaves 3 decades of headroom over any
    path sum.  Measured: 29 day pairs per SF, all 29 distances distinct at every
    SF, ranges 29305..68303 -> 12883..30203 -> 5443..9694 cents —
    denser corpora mean smoother profiles that align cheaper.

    Shape: one hourly rollup, a 29-row self-join of day profiles, one
    codegen fold per pair (<= 24x24 cells) — the DP never touches the
    executor Python path."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("dy"),
            F.hour("ts").alias("hh"),
        )
        .agg(
            F.expr(
                "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
                " as bigint)"
            ).alias("y")
        )
    )
    pr = h.groupBy("dy").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hh, y))), s -> s.y)"
        ).alias("prof")
    )
    pair = (
        pr.alias("a")
        .join(
            pr.alias("b"),
            F.col("b.dy") == F.col("a.dy") + F.expr("interval 1 day"),
        )
        .select(
            F.col("a.dy").alias("d1"),
            F.col("a.prof").alias("xs"),
            F.col("b.prof").alias("ys"),
        )
    )
    inf = F.lit(_DTW_INF).cast("long")
    dtw_expr = F.element_at(
        F.aggregate(
            F.expr("sequence(1, size(xs))"),
            F.concat(
                F.array(F.lit(0).cast("long")),
                F.expr(
                    f"transform(sequence(1, size(ys)),"
                    f" k -> cast({_DTW_INF} as bigint))"
                ),
            ),
            lambda acc, i: F.aggregate(
                F.expr("sequence(1, size(ys))"),
                F.array(inf),
                lambda row, j: F.concat(
                    row,
                    F.array(
                        F.abs(
                            F.element_at(F.col("xs"), i.cast("int"))
                            - F.element_at(F.col("ys"), j.cast("int"))
                        )
                        + F.least(
                            F.element_at(acc, (j + 1).cast("int")),
                            F.element_at(acc, j.cast("int")),
                            F.element_at(row, F.size(row)),
                        )
                    ),
                ),
            ),
        ),
        -1,
    )
    return pair.select(
        F.col("d1").cast("date").alias("day"),
        F.size("xs").cast("long").alias("n_hours_a"),
        F.size("ys").cast("long").alias("n_hours_b"),
        dtw_expr.cast("long").alias("dtw_cents"),
    )


# ---------------------------------------------------------------------------
# concentration: Herfindahl–Hirschman index


@register(
    "agg_herfindahl",
    oracle="""
    WITH r AS (SELECT l_suppkey AS s,
                      sum(CAST(round(l_extendedprice*(1-l_discount)*100, 0)
                               AS BIGINT)) AS rev
               FROM lineitem GROUP BY 1),
    n AS (SELECT sum(rev) AS tot, count(*) AS ns,
                 sum(CAST(rev AS HUGEINT) * rev) AS ss
          FROM r)
    SELECT CAST(ns AS BIGINT) AS n_suppliers,
           CAST(floor(CAST(ss AS DOUBLE) * 100000000
                      / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)))
                AS BIGINT) AS hhi_e8,
           CAST(100000000 // ns AS BIGINT) AS uniform_hhi_e8,
           CAST(floor(CAST(ss AS DOUBLE) * 100000000
                      / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)))
                - 100000000 // ns AS BIGINT) AS excess_e8
    FROM n
    """,
)
def agg_herfindahl(spark, sf_dir):
    """Herfindahl–Hirschman concentration index of supplier revenue —
    the antitrust / supply-risk concentration number (sum of squared
    market shares; 1/n for perfect competition, 1 for monopoly):
    computed as the EXACT sum(rev^2)/total^2 with the squares
    accumulated in HUGEINT/DECIMAL(38,0) (sum(rev^2) ~ 4e21 at sf0.1
    overflows int64; the floored-share variant was REJECTED — share
    truncation pushes HHI below the 1/n floor, tools/backlog_r14.md).
    The final ratio converts both exact integers to double (correctly
    rounded, engine-identical) and floors.  Measured: excess over the
    uniform floor = 16947 / 2240 / 237 e8 across SFs — the synthetic
    uniform assignment approaches perfect competition as suppliers
    multiply, and the decay curve is the liveness.

    Shape: one grouped rollup, one decimal scalar aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.groupBy(F.col("l_suppkey").alias("s")).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("long")
        ).alias("rev")
    )
    n = r.groupBy().agg(
        F.sum("rev").alias("tot"),
        F.count("*").alias("ns"),
        F.sum(
            (F.col("rev").cast("decimal(38,0)") * F.col("rev"))
        ).alias("ss"),
    )
    hhi = F.floor(
        F.col("ss").cast("double")
        * 100000000.0
        / (F.col("tot").cast("double") * F.col("tot").cast("double"))
    ).cast("long")
    return n.select(
        F.col("ns").cast("long").alias("n_suppliers"),
        hhi.alias("hhi_e8"),
        F.expr("cast(100000000 div ns as bigint)").alias("uniform_hhi_e8"),
        (hhi - F.expr("100000000 div ns")).cast("long").alias("excess_e8"),
    )


# ---------------------------------------------------------------------------
# survey statistics: raking / iterative proportional fitting


@register(
    "agg_raking_ipf",
    oracle="""
    WITH cell AS (SELECT event_type AS et, extract(hour FROM ts)//6 AS hq,
                         count(*)*1000000 AS w0
                  FROM events GROUP BY 1, 2),
    n AS (SELECT sum(w0) AS tot, count(DISTINCT et) AS ke,
                 count(DISTINCT hq) AS kh
          FROM cell),
    r1 AS (SELECT et, hq,
                  CAST(floor(CAST(w0 AS DOUBLE) * t / m) AS BIGINT) AS w
           FROM (SELECT et, hq, w0,
                        sum(w0) OVER (PARTITION BY et) AS m,
                        (SELECT tot//ke FROM n) AS t
                 FROM cell)),
    r2 AS (SELECT et, hq,
                  CAST(floor(CAST(w AS DOUBLE) * t / m) AS BIGINT) AS w
           FROM (SELECT et, hq, w,
                        sum(w) OVER (PARTITION BY hq) AS m,
                        (SELECT tot//kh FROM n) AS t
                 FROM r1)),
    r3 AS (SELECT et, hq,
                  CAST(floor(CAST(w AS DOUBLE) * t / m) AS BIGINT) AS w
           FROM (SELECT et, hq, w,
                        sum(w) OVER (PARTITION BY et) AS m,
                        (SELECT tot//ke FROM n) AS t
                 FROM r2)),
    res AS (SELECT max(abs(s - (SELECT tot//kh FROM n))) AS hq_dev
            FROM (SELECT hq, sum(w) AS s FROM r3 GROUP BY 1))
    SELECT r3.et AS event_type, CAST(r3.hq AS BIGINT) AS hour_sextant,
           CAST(r3.w AS BIGINT) AS fitted_weight_e6,
           CAST((SELECT hq_dev FROM res) AS BIGINT) AS residual_hq_dev
    FROM r3
    """,
)
def agg_raking_ipf(spark, sf_dir):
    """Raking / iterative proportional fitting — the survey-weighting
    workhorse (adjust cell weights so both margins hit their targets,
    alternating row and column scaling): three IPF passes fitting the
    (event_type x hour-sextant) census to UNIFORM margins, every scale
    step floor(w*target/margin) computed as the identical IEEE double
    sequence on both engines (the exact-integer split overflew int64
    at sf0.1 — tools/vacuity_r14.md; e6 weight grain keeps the
    truncation ~1e-6 relative per pass).  The residual column reports how far
    the UNFITTED margin still is after the final row pass — IPF's
    alternating-convergence signature quantified.  Measured: fitted
    weights spread 3.9e7..5.9e7 (sf0.001) scaling to 4.9e9..5.1e9
    (sf0.1), 20 distinct at every SF; the unfitted-margin residual
    stays bounded at 11347..27515 e6-units (IPF's alternating
    convergence: the LAST-scaled margin is exact to flooring, the
    other carries the visible residual).

    Shape: one census scan, three bounded window passes over 20 cells,
    one 1-row residual broadcast."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"), F.expr("hour(ts) div 6").alias("hq")
    )
    cell = e.groupBy("et", "hq").agg(
        (F.count("*") * 1000000).alias("w0")
    )
    n = cell.groupBy().agg(
        F.sum("w0").alias("tot"),
        F.countDistinct("et").alias("ke"),
        F.countDistinct("hq").alias("kh"),
    )
    # Each scale step is floor(w * target / margin_sum).  The integer
    # product overflows int64 at sf0.1 (w ~ 5e9, target ~ 2e10; the
    # remainder-split identity only moves the overflow into the remainder
    # term — first build FAILED on exactly that, see tools/vacuity_r14.md)
    # — so both engines compute the SAME double sequence: int64 -> double
    # conversion and each IEEE multiply/divide are correctly rounded, so
    # the floor is engine-identical even where it is ~1 ulp off the true
    # rational (the diag_hist_selectivity signed-division rule, applied to
    # magnitude instead of sign).
    def ipf_step(df, part_col, target_expr):
        wprt = Window.partitionBy(part_col)
        return (
            df.withColumn("_m", F.sum("w").over(wprt))
            .withColumn(
                "w",
                F.floor(
                    F.col("w").cast("double")
                    * F.expr(target_expr)
                    / F.col("_m")
                ).cast("long"),
            )
            .drop("_m")
        )

    base = cell.crossJoin(F.broadcast(n)).withColumn("w", F.col("w0"))
    s1 = ipf_step(base, "et", "tot div ke")
    s2 = ipf_step(s1, "hq", "tot div kh")
    s3 = ipf_step(s2, "et", "tot div ke")
    res = (
        s3.groupBy("hq")
        .agg(F.sum("w").alias("s"), F.max(F.expr("tot div kh")).alias("tg"))
        .groupBy()
        .agg(F.max(F.abs(F.col("s") - F.col("tg"))).alias("hq_dev"))
    )
    return s3.crossJoin(F.broadcast(res)).select(
        F.col("et").alias("event_type"),
        F.col("hq").cast("long").alias("hour_sextant"),
        F.col("w").cast("long").alias("fitted_weight_e6"),
        F.col("hq_dev").cast("long").alias("residual_hq_dev"),
    )


# ---------------------------------------------------------------------------
# survey statistics: jackknife variance


@register(
    "agg_jackknife_variance",
    oracle="""
    WITH dd AS (SELECT date_trunc('day', ts) AS dy,
                      sum(CAST(round(value*100,0) AS BIGINT)) AS s,
                      count(*) AS n
               FROM events GROUP BY 1),
    g AS (SELECT sum(s) AS st, sum(n) AS nt, count(*) AS b FROM dd),
    loo AS (SELECT dy, (st - s) * 1000 // (nt - n) AS theta_i FROM dd, g),
    m AS (SELECT sum(theta_i)//count(*) AS tbar FROM loo)
    SELECT CAST((SELECT b FROM g) AS BIGINT) AS n_blocks,
           CAST((SELECT tbar FROM m) AS BIGINT) AS theta_bar_m3,
           CAST((SELECT max(theta_i) - min(theta_i) FROM loo) AS BIGINT)
             AS theta_range_m3,
           CAST((SELECT sum((theta_i - (SELECT tbar FROM m))
                            *(theta_i - (SELECT tbar FROM m))) FROM loo)
                AS BIGINT) AS ss_dev_m6
    """,
)
def agg_jackknife_variance(spark, sf_dir):
    """Delete-one-block jackknife — the resampling variance estimate
    that needs NO randomness (and therefore hashes cross-engine where
    the bootstrap cannot): blocks = days, theta_(i) = the mean with
    day i removed, in milli-cent grain ((total-s)*1000 // (N-n), all
    nonnegative integers), reporting the block count, the jackknife
    mean, the leave-one-out spread and the squared-deviation mass
    (the jackknife variance numerator — (b-1)/b times this, divided
    by b, is the variance estimate; left as the exact integer so no
    rational division leaks).  Measured: theta range 99923 / 39128 /
    11559 m3-units shrinking with N (the 1/sqrt(N) contraction made
    visible), ss_dev 1.9e10 -> 1.9e8 — both columns live on both
    axes.

    Shape: one daily rollup (map-side), a 1-row total broadcast, two
    30-row aggregates."""
    e = load_table(spark, sf_dir, "events")
    dd = e.groupBy(F.date_trunc("day", F.col("ts")).alias("dy")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("s"),
        F.count("*").alias("n"),
    )
    g = dd.groupBy().agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt"), F.count("*").alias("b")
    )
    loo = dd.crossJoin(F.broadcast(g)).select(
        F.expr("(st - s) * 1000 div (nt - n)").alias("theta_i"), "b"
    )
    m = loo.groupBy().agg(
        F.expr("sum(theta_i) div count(*)").alias("tbar"),
        F.max("b").alias("b"),
        F.max("theta_i").alias("mx"),
        F.min("theta_i").alias("mn"),
    )
    ss = (
        loo.crossJoin(F.broadcast(m.select("tbar")))
        .groupBy()
        .agg(
            F.sum(
                (F.col("theta_i") - F.col("tbar"))
                * (F.col("theta_i") - F.col("tbar"))
            ).alias("ss_dev")
        )
    )
    return m.crossJoin(F.broadcast(ss)).select(
        F.col("b").cast("long").alias("n_blocks"),
        F.col("tbar").cast("long").alias("theta_bar_m3"),
        (F.col("mx") - F.col("mn")).cast("long").alias("theta_range_m3"),
        F.col("ss_dev").cast("long").alias("ss_dev_m6"),
    )


# ---------------------------------------------------------------------------
# clustering eval: purity + adjusted Rand vs embedding labels

_CP_PROBES = 10


def _probe_assignment(spark, sf_dir):
    """Nearest-of-10-probe-vectors assignment (raw dot product, the
    llm_knn_cosine bounded-probe pattern); tie-free in practice
    (float dots), max_by on the exact double."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _CP_PROBES).select(
        F.col("vec_id").alias("pid"),
        F.col("embedding").alias("pv"),
        F.col("label").alias("plabel"),
    )
    dots = (
        e.filter(F.col("vec_id") >= _CP_PROBES)
        .crossJoin(F.broadcast(probes))
        .select(
            "vec_id",
            "label",
            "plabel",
            F.expr(
                "aggregate(zip_with(embedding, pv,"
                " (a, b) -> cast(a as double) * b),"
                " cast(0.0 as double), (acc, v) -> acc + v)"
            ).alias("dot"),
        )
    )
    return dots.groupBy("vec_id", "label").agg(
        F.expr("max_by(plabel, dot)").alias("cl")
    )


_CP_ASSIGN_DUCK = f"""
    e AS (SELECT vec_id, label, embedding FROM embeddings),
    probes AS (SELECT vec_id AS pid, embedding AS pv, label AS plabel
               FROM e WHERE vec_id < {_CP_PROBES}),
    dots AS (SELECT e.vec_id, e.label, probes.plabel,
                    list_sum(list_transform(range(1, 65),
                      i -> CAST(e.embedding[i] AS DOUBLE) * probes.pv[i]))
                      AS dot
             FROM e JOIN probes ON true WHERE e.vec_id >= {_CP_PROBES}),
    best AS (SELECT vec_id, label, arg_max(plabel, dot) AS cl
             FROM dots GROUP BY 1, 2)
"""


@register(
    "llm_cluster_purity",
    oracle=f"""
    WITH {_CP_ASSIGN_DUCK},
    cc AS (SELECT cl, label, count(*) AS n FROM best GROUP BY 1, 2),
    m AS (SELECT cl, max(n) AS mx, sum(n) AS tot FROM cc GROUP BY 1)
    SELECT CAST(cl AS BIGINT) AS cluster_label,
           CAST(tot AS BIGINT) AS n_members,
           CAST(mx AS BIGINT) AS majority_count,
           CAST((SELECT sum(mx)*10000//sum(tot) FROM m) AS BIGINT)
             AS purity_e4
    FROM m
    """,
)
def llm_cluster_purity(spark, sf_dir):
    """Cluster purity of the nearest-probe assignment vs the embedding
    labels — the standard external clustering metric, and on THIS
    corpus an honest negative control: the labels carry no geometric
    structure (measured intra-label cosine 0.002 vs inter 0.000), so
    purity reads barely above the 10-label prior (1510 / 1571 / 1266
    e4 across SFs — a label-clustered corpus would read 5000+), and
    the op's value is saying so with a number instead of a vibe.
    Assignment = argmax raw dot against the 10 probe vectors (the
    llm_knn_cosine bounded-broadcast pattern; float dots are tie-free,
    so max_by is deterministic).  purity_e4 is the shared statistic
    replicated per cluster row.

    Shape: 10-probe broadcast x corpus (audited bounded BNLJ), one
    zip_with dot inside codegen, two bounded censuses."""
    best = _probe_assignment(spark, sf_dir)
    cc = best.groupBy("cl", "label").agg(F.count("*").alias("n"))
    m = cc.groupBy("cl").agg(
        F.max("n").alias("mx"), F.sum("n").alias("tot")
    )
    tot = m.groupBy().agg(
        F.expr("sum(mx)*10000 div sum(tot)").alias("purity_e4")
    )
    return m.crossJoin(F.broadcast(tot)).select(
        F.col("cl").cast("long").alias("cluster_label"),
        F.col("tot").cast("long").alias("n_members"),
        F.col("mx").cast("long").alias("majority_count"),
        F.col("purity_e4").cast("long").alias("purity_e4"),
    )


@register(
    "llm_adjusted_rand",
    oracle=f"""
    WITH {_CP_ASSIGN_DUCK},
    cell AS (SELECT cl, label, count(*) AS n FROM best GROUP BY 1, 2),
    ma AS (SELECT cl, sum(n) AS na FROM cell GROUP BY 1),
    mb AS (SELECT label, sum(n) AS nb FROM cell GROUP BY 1),
    tots AS (SELECT (SELECT sum(n*(n-1)//2) FROM cell) AS sij,
                    (SELECT sum(na*(na-1)//2) FROM ma) AS sa,
                    (SELECT sum(nb*(nb-1)//2) FROM mb) AS sb,
                    (SELECT sum(n)*(sum(n)-1)//2 FROM cell) AS st)
    SELECT CAST(sij AS BIGINT) AS pair_agreements,
           CAST(sa AS BIGINT) AS cluster_pairs,
           CAST(sb AS BIGINT) AS label_pairs,
           CAST(st AS BIGINT) AS total_pairs,
           CAST(floor((sij - CAST(sa AS DOUBLE)*sb/st)*1000000.0 /
                ((sa+sb)/2.0 - CAST(sa AS DOUBLE)*sb/st)) AS BIGINT)
             AS ari_e6
    FROM tots
    """,
)
def llm_adjusted_rand(spark, sf_dir):
    """Adjusted Rand index of the same nearest-probe assignment vs the
    labels — the chance-corrected partition agreement (0 expected
    under independence, 1 for identical partitions): all four pair
    masses are exact integers from the contingency cells; only the
    final chance correction divides (floor-of-IEEE on exact-integer-
    derived doubles, engine-identical).  Measured: ari_e6 = -2266 /
    -1923 / +723 — hugging 0 WITH SIGN FLIPS across SFs, the
    chance-corrected confirmation of llm_cluster_purity's negative
    control (raw Rand would read misleadingly high here; the
    correction is the point).

    Shape: same bounded probe assignment; three census aggregates."""
    best = _probe_assignment(spark, sf_dir)
    cell = best.groupBy("cl", "label").agg(F.count("*").alias("n"))
    sij = cell.groupBy().agg(
        F.sum(F.expr("n*(n-1) div 2")).alias("sij"),
        F.expr("sum(n)*(sum(n)-1) div 2").alias("st"),
    )
    sa = (
        cell.groupBy("cl")
        .agg(F.sum("n").alias("na"))
        .groupBy()
        .agg(F.sum(F.expr("na*(na-1) div 2")).alias("sa"))
    )
    sb = (
        cell.groupBy("label")
        .agg(F.sum("n").alias("nb"))
        .groupBy()
        .agg(F.sum(F.expr("nb*(nb-1) div 2")).alias("sb"))
    )
    t = sij.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    return t.select(
        F.col("sij").cast("long").alias("pair_agreements"),
        F.col("sa").cast("long").alias("cluster_pairs"),
        F.col("sb").cast("long").alias("label_pairs"),
        F.col("st").cast("long").alias("total_pairs"),
        F.floor(
            (
                F.col("sij").cast("double")
                - F.col("sa").cast("double") * F.col("sb") / F.col("st")
            )
            * 1000000.0
            / (
                (F.col("sa") + F.col("sb")).cast("double") / 2.0
                - F.col("sa").cast("double") * F.col("sb") / F.col("st")
            )
        )
        .cast("long")
        .alias("ari_e6"),
    )


# ---------------------------------------------------------------------------
# vision: 2-means on the gray histogram

_KM_ITERS = 4


@register(
    "mm_image_kmeans_1d",
    oracle=f"""
    WITH probe AS (SELECT doc_id, 16 + doc_id % 8 AS w, 8 AS h,
                          doc_id % 60 + 10 AS bb
                   FROM documents WHERE doc_id < 64),
    hist AS (SELECT bb + xx.x + yy.y AS v, count(*) AS n
             FROM probe, range(0, 23) xx(x), range(0, 8) yy(y)
             WHERE xx.x < w GROUP BY 1),
    init AS (SELECT (SELECT min(v) FROM hist) AS c0,
                    (SELECT max(v) FROM hist) AS c1),
    {" , ".join(
        f'''it{k} AS (
          SELECT CAST(sum(CASE WHEN 2*v <= c0 + c1 THEN v*n END)
                      // sum(CASE WHEN 2*v <= c0 + c1 THEN n END) AS BIGINT)
                   AS c0,
                 CAST(sum(CASE WHEN 2*v > c0 + c1 THEN v*n END)
                      // sum(CASE WHEN 2*v > c0 + c1 THEN n END) AS BIGINT)
                   AS c1
          FROM hist, it{k - 1} GROUP BY it{k - 1}.c0, it{k - 1}.c1)'''
        .replace("it0", "init") for k in range(1, _KM_ITERS + 1)
    )}
    SELECT CAST(k AS BIGINT) AS iteration, CAST(c0 AS BIGINT) AS centroid_lo,
           CAST(c1 AS BIGINT) AS centroid_hi
    FROM (SELECT 1 AS k, c0, c1 FROM it1
          UNION ALL SELECT 2, c0, c1 FROM it2
          UNION ALL SELECT 3, c0, c1 FROM it3
          UNION ALL SELECT 4, c0, c1 FROM it4)
    """,
)
def mm_image_kmeans_1d(spark, sf_dir):
    """2-means on the gray histogram — Lloyd's algorithm in one
    dimension (the iterative sibling of Otsu's closed-form threshold,
    and the standard bimodal-split baseline): initialize centroids at
    the histogram extremes, assign each gray level to the nearer
    centroid via the integer midpoint test 2v <= c0+c1 (ties to the
    LOW cluster — the documented rule), update centroids as
    count-weighted floor means, four fixed iterations with the full
    trajectory emitted (measured: (35,67) -> (34,67) -> (34,66) ->
    (34,66) — converged by iteration 3, the movement in BOTH
    centroids live in the trace, consecutive equal rows the
    convergence certificate).  The histogram is the probe
    panel's 85 gray levels (10..94), so every Lloyd pass is a
    85-row aggregate regardless of image count.

    Shape: one histogram census, {_KM_ITERS} bounded aggregates in a
    lazy fixed-iteration chain (the graph_pagerank discipline)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    probe = d.select(
        "doc_id",
        (16 + F.col("doc_id") % 8).alias("w"),
        (F.col("doc_id") % 60 + 10).alias("bb"),
    )
    px = probe.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, w - 1),"
                " x -> transform(sequence(0, 7), y -> bb + x + y)))"
            )
        ).alias("v")
    )
    hist = px.groupBy("v").agg(F.count("*").alias("n"))
    cur = hist.groupBy().agg(
        F.min("v").alias("c0"), F.max("v").alias("c1")
    )
    rows = []
    for k in range(1, _KM_ITERS + 1):
        cur = (
            hist.crossJoin(F.broadcast(cur))
            .groupBy("c0", "c1")
            .agg(
                F.expr(
                    "cast(sum(case when 2*v <= c0 + c1 then v*n end)"
                    " div sum(case when 2*v <= c0 + c1 then n end) as bigint)"
                ).alias("nc0"),
                F.expr(
                    "cast(sum(case when 2*v > c0 + c1 then v*n end)"
                    " div sum(case when 2*v > c0 + c1 then n end) as bigint)"
                ).alias("nc1"),
            )
            .select(F.col("nc0").alias("c0"), F.col("nc1").alias("c1"))
        )
        rows.append(
            cur.select(
                F.lit(k).cast("long").alias("iteration"),
                F.col("c0").cast("long").alias("centroid_lo"),
                F.col("c1").cast("long").alias("centroid_hi"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out

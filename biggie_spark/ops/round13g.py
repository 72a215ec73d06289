"""Round-13 tranche, wave G (ordered-alternative statistics, ordinal
association, tensor diagnostics, bit codes) — built during round 11;
completes the 48-op round-13 tranche.

* ordered alternatives — Page's L trend test (the Friedman follow-up
  for MONOTONE treatment effects), Kruskal–Wallis rank ANOVA (the
  k-group generalization of Mann–Whitney).
* ordinal association — Goodman–Kruskal gamma via cell-pair
  arithmetic (concordant/discordant mass from the 16-cell census,
  never row pairs).
* tensor kv — band/trace diagnostics of a square stored tensor.
* bit codes — Gray-code audit (the single-bit-flip invariant and the
  ruler-sequence flip-position census).

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration —
measured evidence in tools/vacuity_r13.md.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

# ---------------------------------------------------------------------------
# ordered alternatives: Page's L


@register(
    "agg_page_trend",
    oracle="""
    WITH dd AS (SELECT date_trunc('day', ts) AS dy, event_type AS et,
                      CAST(sum(CAST(round(value*100,0) AS BIGINT)) // count(*)
                           AS BIGINT) AS m
               FROM events GROUP BY 1, 2),
    rk AS (SELECT dd.dy, dd.et,
                  2*(count(*) FILTER (d2.m < dd.m))
                  + (count(*) FILTER (d2.m = dd.m)) + 1 AS r2
           FROM dd JOIN dd d2 ON d2.dy = dd.dy GROUP BY dd.dy, dd.et, dd.m),
    rs AS (SELECT et, sum(r2) AS r2sum,
                  row_number() OVER (ORDER BY et) AS j
           FROM rk GROUP BY et),
    meta AS (SELECT count(DISTINCT dy) AS b, count(DISTINCT et) AS k
             FROM dd),
    l AS (SELECT (SELECT sum(j*r2sum) FROM rs) AS l2,
                 (SELECT b*k*(k+1)*(k+1)//2 FROM meta) AS el2)
    SELECT et AS event_type, CAST(j AS BIGINT) AS treatment_rank,
           CAST(r2sum AS BIGINT) AS rank2_sum,
           CAST((SELECT l2 FROM l) AS BIGINT) AS page_l2,
           CAST((SELECT l2 - el2 FROM l) AS BIGINT) AS excess_l2
    FROM rs
    """,
)
def agg_page_trend(spark, sf_dir):
    """Page's L trend test — the ordered-alternative companion to
    Friedman (same blocks = days, same within-day doubled midranks,
    but the statistic L = sum j*R_j weights treatments by their
    hypothesized order, here the deterministic alphabetical index):
    the test that detects a MONOTONE treatment trend Friedman's
    omnibus Q dilutes.  Doubled midranks keep L2 = sum j*r2sum exact;
    the null expectation E[L2] = b*k(k+1)^2/2 is closed-form integer,
    and excess_l2 = L2 - E[L2] is the signed trend signal.  Measured:
    excess_l2 = +36 / +18 / -80 across SFs — sign flip live (white
    noise has no true trend; the op reports exactly that).  page_l2 /
    excess_l2 are the shared statistic columns replicated per
    treatment row (the agg_shard_determinism_audit precedent).

    Shape: reuses the Friedman block-rank join (30 x 5 bounded);
    daily rollup is the only full-data pass."""
    e = load_table(spark, sf_dir, "events")
    dd = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("dy"),
        F.col("event_type").alias("et"),
    ).agg(
        F.expr(
            "cast(sum(cast(round(value*100, 0) as bigint)) div count(*)"
            " as bigint)"
        ).alias("m")
    )
    d2 = dd.select(F.col("dy").alias("dy2"), F.col("m").alias("m2"))
    rk = (
        dd.join(d2, F.col("dy") == F.col("dy2"))
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
    rs = rs.select(
        "et", "r2sum", F.row_number().over(Window.orderBy("et")).alias("j")
    )
    meta = dd.groupBy().agg(
        F.countDistinct("dy").alias("b"), F.countDistinct("et").alias("k")
    )
    lsum = rs.groupBy().agg(F.sum(F.col("j") * F.col("r2sum")).alias("l2"))
    l = lsum.crossJoin(F.broadcast(meta)).select(
        "l2", F.expr("l2 - b*k*(k+1)*(k+1) div 2").alias("excess_l2")
    )
    return rs.crossJoin(F.broadcast(l)).select(
        F.col("et").alias("event_type"),
        F.col("j").cast("long").alias("treatment_rank"),
        F.col("r2sum").cast("long").alias("rank2_sum"),
        F.col("l2").cast("long").alias("page_l2"),
        F.col("excess_l2").cast("long").alias("excess_l2"),
    )


# ---------------------------------------------------------------------------
# ordinal association: Goodman–Kruskal gamma


@register(
    "agg_gk_gamma",
    oracle="""
    WITH e AS (SELECT extract(hour FROM ts)//6 AS hq,
                      CAST(round(value*100,0) AS BIGINT) AS c, event_id
               FROM events),
    r AS (SELECT hq, c, row_number() OVER (ORDER BY c, event_id) AS rn,
                 count(*) OVER () AS n
          FROM e),
    b AS (SELECT hq, least((rn-1)*4//n, 3) AS vq FROM r),
    cell AS (SELECT hq, vq, count(*) AS nc FROM b GROUP BY 1, 2),
    pairs AS (SELECT a.nc*b.nc AS p, a.hq AS h1, a.vq AS v1,
                     b.hq AS h2, b.vq AS v2
              FROM cell a JOIN cell b ON (a.hq, a.vq) < (b.hq, b.vq)),
    cd AS (SELECT sum(p) FILTER ((h1 < h2 AND v1 < v2)
                              OR (h1 > h2 AND v1 > v2)) AS c,
                  sum(p) FILTER ((h1 < h2 AND v1 > v2)
                              OR (h1 > h2 AND v1 < v2)) AS d
           FROM pairs)
    SELECT CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(floor((c - d)*10000.0/(c + d)) AS BIGINT) AS gamma_e4
    FROM cd
    """,
)
def agg_gk_gamma(spark, sf_dir):
    """Goodman–Kruskal gamma — the ordinal-ordinal association measure
    ((C-D)/(C+D) over concordant/discordant pairs) between the hour
    sextant (0-5/6-11/12-17/18-23) and the value quartile, computed
    the scale-correct way: pair mass from the 16-CELL census
    (n_a * n_b per ordered cell pair — 120 cell pairs), never from
    the O(N^2) row pairs.  Quartiles by rank arithmetic with event_id
    tie-break (ntile rejected, the established rule); gamma uses
    floor-of-IEEE-division since C-D is signed ((C-D)*1e4 stays exact
    in double to ~2^53 — safe to ~100x this corpus, documented).
    Measured: gamma_e4 = -169 / -122 / +7 — the sign itself flips
    across SFs (no true hour-value association; the near-zero signed
    wobble is the honest answer), with C/D masses 1.4e5..1.4e9.

    Shape: one rank window for quartile cuts, a 16-cell census, a
    120-row cell-pair join — all bounded after the scan."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("hour(ts) div 6").alias("hq"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
        "event_id",
    )
    r = e.select(
        "hq",
        F.row_number().over(Window.orderBy("c", "event_id")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    b = r.select(
        "hq", F.least(F.expr("(rn-1)*4 div n"), F.lit(3)).alias("vq")
    )
    cell = b.groupBy("hq", "vq").agg(F.count("*").alias("nc"))
    c2 = cell.select(
        F.col("hq").alias("h2"), F.col("vq").alias("v2"), F.col("nc").alias("nc2")
    )
    pairs = cell.join(
        F.broadcast(c2),
        (F.col("hq") < F.col("h2"))
        | ((F.col("hq") == F.col("h2")) & (F.col("vq") < F.col("v2"))),
    ).select(
        (F.col("nc") * F.col("nc2")).alias("p"),
        F.col("hq").alias("h1"),
        F.col("vq").alias("v1"),
        "h2",
        "v2",
    )
    cd = pairs.groupBy().agg(
        F.sum(
            F.when(
                ((F.col("h1") < F.col("h2")) & (F.col("v1") < F.col("v2")))
                | ((F.col("h1") > F.col("h2")) & (F.col("v1") > F.col("v2"))),
                F.col("p"),
            )
        ).alias("c"),
        F.sum(
            F.when(
                ((F.col("h1") < F.col("h2")) & (F.col("v1") > F.col("v2")))
                | ((F.col("h1") > F.col("h2")) & (F.col("v1") < F.col("v2"))),
                F.col("p"),
            )
        ).alias("d"),
    )
    return cd.select(
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.floor((F.col("c") - F.col("d")).cast("double") * 10000.0 / (F.col("c") + F.col("d")))
        .cast("long")
        .alias("gamma_e4"),
    )


# ---------------------------------------------------------------------------
# rank ANOVA: Kruskal–Wallis


@register(
    "agg_kruskal_wallis",
    oracle="""
    WITH e AS (SELECT event_type AS et,
                      CAST(round(value*100,0) AS BIGINT) AS c
               FROM events),
    vals AS (SELECT c, count(*) AS cnt FROM e GROUP BY 1),
    cum AS (SELECT c, cnt, sum(cnt) OVER (ORDER BY c) - cnt AS n_lt
            FROM vals),
    r2 AS (SELECT c, 2*n_lt + cnt + 1 AS rr FROM cum),
    g AS (SELECT e.et, sum(r2.rr) AS r2sum, count(*) AS ng
          FROM e JOIN r2 ON r2.c = e.c GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM e),
    h AS (SELECT (3*ss // (nn*(nn+1))) * 10000
                 + ((3*ss % (nn*(nn+1))) * 10000 // (nn*(nn+1)))
                 - 3*(nn+1)*10000 AS h_e4
          FROM n, (SELECT CAST(sum(r2sum*r2sum // ng) AS BIGINT) AS ss
                   FROM g))
    SELECT et AS event_type, CAST(ng AS BIGINT) AS n_obs,
           CAST(r2sum // ng AS BIGINT) AS mean_rank2,
           CAST((SELECT h_e4 FROM h) AS BIGINT) AS h_e4
    FROM g
    """,
)
def agg_kruskal_wallis(spark, sf_dir):
    """Kruskal–Wallis rank ANOVA — the k-group generalization of
    Mann–Whitney (does ANY event type's value distribution differ?):
    H = 12*sum(R_g^2/n_g)/(N(N+1)) - 3(N+1) with doubled midranks
    computed from the VALUE CENSUS (a cumulative window over distinct
    cents — one rank per distinct value, joined back; never a row-level
    rank window), so the whole rank machinery is value-cardinality-
    bounded.  Per-group R_g^2/n_g uses the per-group floor-division
    convention (b) — exact integers before the sum, order-independent
    (the agg_eta_squared lesson); the doubled-rank identity folds the
    12/4 into 3.  Measured: H_e4 = 10645 / 35795 / 41286 (H ~ 1..4,
    consistent with chi2(4) white noise); per-group mean doubled
    ranks 976..100310 spread within each SF.

    Shape: one value census (map-side), one bounded cumulative
    window, one join back — the row-level data is touched twice, both
    times map-side-combinable.  h_e4 is the shared statistic column
    (the agg_shard_determinism_audit precedent)."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("et"),
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
    g = (
        e.join(r2, F.col("c") == F.col("c2"))
        .groupBy("et")
        .agg(F.sum("rr").alias("r2sum"), F.count("*").alias("ng"))
    )
    n = e.groupBy().agg(F.count("*").alias("nn"))
    hsum = g.groupBy().agg(F.sum(F.expr("r2sum*r2sum div ng")).alias("ss"))
    # 3*ss*1e4 overflows int64 at sf0.1 (~3e19); the exact floor-division
    # identity (t*1e4) div d = (t div d)*1e4 + ((t % d)*1e4) div d keeps
    # every intermediate under ~1e15 (t = 3*ss ~ 3e15, remainder < d ~ 1e10)
    h = hsum.crossJoin(F.broadcast(n)).select(
        F.expr(
            "(3*ss div (nn*(nn+1))) * 10000"
            " + ((3*ss % (nn*(nn+1))) * 10000 div (nn*(nn+1)))"
            " - 3*(nn+1)*10000"
        ).alias("h_e4")
    )
    return g.crossJoin(F.broadcast(h)).select(
        F.col("et").alias("event_type"),
        F.col("ng").cast("long").alias("n_obs"),
        F.expr("cast(r2sum div ng as bigint)").alias("mean_rank2"),
        F.col("h_e4").cast("long").alias("h_e4"),
    )


# ---------------------------------------------------------------------------
# tensor kv: band / trace diagnostics

_BT_N = 4  # square tensor side


@register(
    "kv_tensor_band_trace",
    oracle=f"""
    WITH t AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    cells AS (SELECT doc_id, i.v AS i, j.v AS j,
                     ((doc_id*31 + i.v*{_BT_N} + j.v) * 2654435761) % 97
                       AS val
              FROM t, range({_BT_N}) i(v), range({_BT_N}) j(v))
    SELECT doc_id,
           CAST(sum(CASE WHEN i = j THEN val END) AS BIGINT) AS trace,
           CAST(sum(CASE WHEN j = i + 1 THEN val END) AS BIGINT)
             AS superdiag_sum,
           CAST(sum(CASE WHEN j = i - 1 THEN val END) AS BIGINT)
             AS subdiag_sum,
           CAST(sum(CASE WHEN abs(i - j) > 1 THEN val ELSE 0 END) AS BIGINT)
             AS offband_mass,
           CAST(sum(val*val) AS BIGINT) AS frobenius_sq
    FROM cells GROUP BY doc_id
    """,
)
def kv_tensor_band_trace(spark, sf_dir):
    """Band/trace diagnostics of a square stored tensor — the
    'how tridiagonal is this matrix' audit (trace, super/sub diagonal
    sums, off-band mass, Frobenius norm squared) that bandwidth-aware
    solvers and attention-locality probes run.  4x4 Knuth-hashed cells
    on the flat row-major layout; every statistic is a strided index
    predicate (i = j, |i - j| <= 1) over k = i*N + j — the same index
    arithmetic family as kv_tensor_reduce_axis, pinned per band so a
    stride slip hits a different diagonal.  Measured: all five columns
    vary freely across the 100-doc panel (trace 83..310, frobenius
    17k..52k); off-band vs in-band masses are decorrelated.

    Shape: the tensor stays a JVM array; band folds are aggregate
    expressions over index sequences, exploded never."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    n = _BT_N
    data = F.transform(
        F.sequence(F.lit(0), F.lit(n * n - 1)),
        lambda k: ((F.col("doc_id") * 31 + k) * F.lit(2654435761) % 97).cast(
            "long"
        ),
    )
    t = d.select("doc_id", data.alias("a"))

    def band_sum(pred):
        return F.aggregate(
            F.filter(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n * n - 1)),
                    lambda k: F.struct(
                        (k / n).cast("int").alias("i"),
                        (k % n).cast("int").alias("j"),
                        F.element_at(F.col("a"), (k + 1).cast("int")).alias(
                            "v"
                        ),
                    ),
                ),
                pred,
            ),
            F.lit(0).cast("long"),
            lambda acc, s: acc + s["v"],
        )

    return t.select(
        "doc_id",
        band_sum(lambda s: s["i"] == s["j"]).alias("trace"),
        band_sum(lambda s: s["j"] == s["i"] + 1).alias("superdiag_sum"),
        band_sum(lambda s: s["j"] == s["i"] - 1).alias("subdiag_sum"),
        band_sum(
            lambda s: F.abs(s["i"] - s["j"]) > 1
        ).alias("offband_mass"),
        F.aggregate(
            F.col("a"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("frobenius_sq"),
    )


# ---------------------------------------------------------------------------
# bit codes: Gray-code audit


@register(
    "fn_gray_code_audit",
    oracle="""
    WITH e AS (SELECT event_id AS k, xor(event_id, event_id >> 1) AS gray
               FROM events),
    f AS (SELECT k, gray,
                 xor(gray, lag(gray) OVER (ORDER BY k)) AS flip
          FROM e),
    c AS (SELECT flip, length(format('{:b}', flip)) - 1 AS pos
          FROM f WHERE flip IS NOT NULL)
    SELECT CAST(pos AS BIGINT) AS flip_bit,
           CAST(count(*) AS BIGINT) AS n_flips,
           CAST(min(CASE WHEN bit_count(flip) = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS single_bit_ok
    FROM c GROUP BY 1
    """,
)
def fn_gray_code_audit(spark, sf_dir):
    """Gray-code audit — the reflected binary code behind rotary
    encoders, Karnaugh maps and low-glitch counters: gray(k) =
    k XOR (k>>1) over the event-id sequence, verifying the defining
    single-bit-step invariant (consecutive codes differ in exactly one
    bit — bit_count(flip) = 1, pinned per position) and reporting the
    flip-position census, which is the RULER SEQUENCE (bit b flips
    N/2^(b+1) times — the halving census is the liveness).  Bit
    positions from binary-string length (the fn_intcode_size_census
    rule: no float log2).  Measured: the census halves cleanly
    (500/250/125/... at sf0.001 up to position 9; 50000/25000/...
    up to 16 at sf0.1) — position count and tail both scale with N.

    Shape: one projection + one lag window over the id sequence + a
    <= 20-row census."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        F.expr("event_id ^ shiftright(event_id, 1)").alias("gray"),
    )
    f = e.select(
        F.expr("gray ^ lag(gray) over (order by k)").alias("flip")
    ).filter(F.col("flip").isNotNull())
    c = f.select(
        "flip",
        (F.length(F.conv(F.col("flip").cast("string"), 10, 2)) - 1).alias(
            "pos"
        ),
    )
    return c.groupBy(F.col("pos").cast("long").alias("flip_bit")).agg(
        F.count("*").cast("long").alias("n_flips"),
        F.min(
            F.when(F.expr("bit_count(flip)") == 1, 1).otherwise(0)
        )
        .cast("long")
        .alias("single_bit_ok"),
    )

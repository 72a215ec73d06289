"""Round-12 tranche, wave D — built during round 11.

Families:

* serving — cache capacity curve (hit mass of the top-C hottest
  8-token prefixes per capacity grid — the frequency/Belady bound an
  LRU sizing decision is checked against), completing the
  prefix-reuse / radix-depth / semantic-cache serving tier.
* time series — permutation entropy (ordinal-pattern complexity of the
  daily series; detects structure that variance and spectrum miss) and
  the Ljung-Box portmanteau statistic over lags 1..3 (the "is there
  ANY autocorrelation" gate, composing the autocorrelation estimates).
* multimodal — bit-plane energy census over the decoded image (which
  planes carry structure vs noise — the bit-plane-coding compression
  signal).
* streaming — fixed-window rate limiting accounting (per user-day
  admitted/dropped under a limit; stateless per window, so the
  identical plan runs under readStream — the stream_lang_gate
  discipline).
* retrieval — postings-list intersection (multi-token AND semantics
  over the inverted index: document frequencies vs pairwise
  co-document counts for the hottest terms).
* graph — degree assortativity as the knn(d) CURVE (mean neighbor
  degree per degree class — the hub-mixing profile; the scalar
  coefficient hides which degrees drive it).
* causal — standardized mean difference (Cohen's d pooled form), the
  covariate-balance diagnostic run before any DiD/QTE estimate is
  trusted.

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration
(tools/vacuity_r12.md).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import r4

# ---------------------------------------------------------------------------
# serving: cache capacity curve

_CC_CAPS = (4, 16, 64)
_CC_DEPTH = 8  # prefix depth, matches llm_kv_prefix_reuse


@register(
    "llm_cache_capacity_curve",
    oracle=f"""
    WITH p AS (SELECT md5(array_to_string(
                 (string_split(lower(text), ' '))[1:{_CC_DEPTH}], ' '))
                 AS pfx
               FROM documents),
    c AS (SELECT pfx, count(*) AS n FROM p GROUP BY pfx),
    r AS (SELECT n, row_number() OVER (ORDER BY n DESC, pfx) AS rn,
                 sum(n) OVER () AS total
          FROM c),
    caps AS (SELECT unnest([{",".join(map(str, _CC_CAPS))}]) AS cap)
    SELECT CAST(cap AS BIGINT) AS cap,
           CAST(sum(CASE WHEN rn <= cap THEN n ELSE 0 END) AS BIGINT)
             AS hits,
           CAST(max(total) AS BIGINT) AS n_requests,
           CAST(sum(CASE WHEN rn <= cap THEN n ELSE 0 END) * 10000
                // max(total) AS BIGINT) AS hit_rate_e4
    FROM r, caps GROUP BY cap
    """,
)
def llm_cache_capacity_curve(spark, sf_dir):
    """Prefix-cache capacity curve — the hit mass captured by the C
    hottest 8-token prefixes, per capacity on the grid {4, 16, 64}: the
    frequency (Belady-flavored) UPPER BOUND any LRU/LFU of capacity C
    can achieve, which is the number a serving team compares its
    measured hit rate against before buying more cache (if measured ~=
    bound, capacity is the binding constraint; if far below, the
    eviction policy is).  llm_kv_prefix_reuse accounts per-tenant reuse;
    this op prices the CAPACITY axis.  Measured hit_rate_e4 rises
    220 -> 1760 at sf0.001 and compresses at sf0.1 (more distinct
    prefixes) — a live curve on both axes.

    Shape: one prefix-hash aggregate (vocabulary-bounded), one rank
    window over the distinct-prefix frame, a 3-row literal capacity
    grid crossed onto it."""
    p = load_table(spark, sf_dir, "documents").select(
        F.md5(
            F.array_join(F.slice(F.split(F.lower("text"), " "), 1, _CC_DEPTH), " ")
        ).alias("pfx")
    )
    c = p.groupBy("pfx").agg(F.count("*").alias("n"))
    r = c.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("pfx")))
        .alias("rn"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    caps = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _CC_CAPS])).alias("cap")
    )
    return (
        r.crossJoin(F.broadcast(caps))
        .groupBy(F.col("cap").cast("long").alias("cap"))
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("cap"), F.col("n")).otherwise(0))
            .alias("hits"),
            F.max("total").alias("n_requests"),
            F.expr(
                "sum(case when rn <= cap then n else 0 end) * 10000"
                " div max(total)"
            ).alias("hit_rate_e4"),
        )
    )


# ---------------------------------------------------------------------------
# time series: permutation entropy (order-3 ordinal patterns)

# Ordinal pattern of (c, c1, c2): rank-comparison encoding
# (#{c>c1} + #{c>c2})*2 + #{c1>c2} in 0..5 — pure integer comparisons,
# identical text on both engines, deterministic under ties.
_PE_PATTERN = (
    "(case when c > c1 then 1 else 0 end"
    " + case when c > c2 then 1 else 0 end) * 2"
    " + case when c1 > c2 then 1 else 0 end"
)


@register(
    "ts_permutation_entropy",
    oracle=f"""
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(sum(round(value * 100, 0)) AS BIGINT) AS c
               FROM events GROUP BY event_type, day),
    w AS (SELECT event_type, c,
                 lead(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS c1,
                 lead(c, 2) OVER (PARTITION BY event_type ORDER BY day) AS c2
          FROM d),
    pat AS (SELECT event_type, {_PE_PATTERN} AS p
            FROM w WHERE c1 IS NOT NULL AND c2 IS NOT NULL),
    cnt AS (SELECT event_type, p, count(*) AS n FROM pat GROUP BY event_type, p),
    tot AS (SELECT event_type, sum(n) AS t FROM cnt GROUP BY event_type)
    SELECT cnt.event_type,
           CAST(count(*) AS BIGINT) AS n_patterns,
           CAST(max(t) AS BIGINT) AS n_windows,
           round(-sum((n * 1.0 / t) * ln(n * 1.0 / t)), 4) + 0
             AS perm_entropy_r4
    FROM cnt JOIN tot USING (event_type) GROUP BY cnt.event_type
    """,
)
def ts_permutation_entropy(spark, sf_dir):
    """Permutation entropy (Bandt-Pompe, order 3) of the daily revenue
    series — the ordinal-complexity measure that sees structure
    variance and spectra miss (a monotone ramp and white noise can share
    both, but the ramp uses ONE ordinal pattern and noise all six): per
    event type, the Shannon entropy of the order-3 pattern distribution
    over sliding day triples, with the pattern vocabulary size.  The
    ordinal pattern is a pure rank-comparison integer (identical CASE
    text both engines — no sorting, no floats until the final entropy,
    rounded at the §2 4-decimal grain); measured 1.53..1.79 nats with
    pattern counts 5-6, varying by type and SF (max ln 6 ~ 1.79 = the
    white-noise ceiling this synthetic stream correctly approaches).

    Shape: calendar-bounded daily frame, two lead windows, a <=6-row
    pattern census per type."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lw = d.select(
        "event_type",
        "c",
        F.lead("c", 1).over(w).alias("c1"),
        F.lead("c", 2).over(w).alias("c2"),
    )
    pat = lw.filter(
        F.col("c1").isNotNull() & F.col("c2").isNotNull()
    ).select("event_type", F.expr(_PE_PATTERN).alias("p"))
    cnt = pat.groupBy("event_type", "p").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_patterns"),
            F.max("t").alias("n_windows"),
            r4(
                -F.sum(
                    (F.col("n") / F.col("t")) * F.log(F.col("n") / F.col("t"))
                )
            ).alias("perm_entropy_r4"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal: bit-plane energy census

_BP_PLANES = 7  # gray values stay below 128 on this probe


@register(
    "mm_image_bit_planes",
    oracle=f"""
    WITH probe AS (SELECT doc_id, 16 + doc_id % 8 AS w, 8 AS h,
                          doc_id % 60 + 10 AS bb
                   FROM documents WHERE doc_id < 64),
    px AS (SELECT doc_id, bb + xx.x + yy.y AS pval
           FROM probe, range(0, 23) xx(x), range(0, 8) yy(y)
           WHERE xx.x < w),
    pl AS (SELECT pls.plane,
                  CAST(sum(CASE WHEN (pval >> pls.plane) & 1 = 1
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_set,
                  CAST(count(*) AS BIGINT) AS n_px
           FROM px, range({_BP_PLANES}) pls(plane)
           GROUP BY pls.plane)
    SELECT CAST(plane AS BIGINT) AS plane, n_set, n_px,
           CAST(n_set * 10000 // n_px AS BIGINT) AS set_rate_e4
    FROM pl
    """,
)
def mm_image_bit_planes(spark, sf_dir):
    """Bit-plane energy census through the REAL PPM codec — the
    bit-plane-coding signal (JBIG/progressive-transmission family):
    which bits of the gray value carry structure vs dither.  Per plane
    0..6 over the 64-probe panel: set-pixel counts and the set rate e4.
    On the gradient corpus the LOW planes sit at exactly 50% (the
    value's low bits cycle uniformly along the gradient — the
    'noise-like low planes' textbook shape) while planes 3-6 deviate
    (4933/5011/5097/2928 e4) — the planes a bit-plane coder would
    RLE-compress.  Any shift/mask slip moves a plane's census.

    Kernel: the mm_image_otsu_threshold netpbm decode walk in one
    Arrow-batched pandas_udf, per-plane popcounts in numpy, exploded to
    the 7-row census; the oracle reproduces the gradient in closed form
    over the bounded pixel grid."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_ppm

    @pandas_udf("struct<ns array<bigint>, np array<bigint>>")
    def planes_udf(doc_id: pd.Series) -> pd.DataFrame:
        rows = []
        for did in doc_id:
            w, h, b = 16 + int(did) % 8, 8, int(did) % 60 + 10
            payload = encode_ppm(w, h, (b, b, b))
            pos, toks = 2, []
            while len(toks) < 3:
                while payload[pos : pos + 1].isspace():
                    pos += 1
                if payload[pos : pos + 1] == b"#":
                    while payload[pos : pos + 1] not in (b"\n", b""):
                        pos += 1
                    continue
                start = pos
                while not payload[pos : pos + 1].isspace():
                    pos += 1
                toks.append(int(payload[start:pos]))
            pos += 1
            ww, hh, _ = toks
            px = np.frombuffer(
                payload, dtype=np.uint8, count=ww * hh * 3, offset=pos
            ).reshape(hh, ww, 3)[:, :, 0].astype(np.int64)
            ns = [int(((px >> p) & 1).sum()) for p in range(_BP_PLANES)]
            npx = [int(px.size)] * _BP_PLANES
            rows.append({"ns": ns, "np": npx})
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    feats = probe.select(planes_udf("doc_id").alias("f"))
    per = feats.select(
        F.posexplode(
            F.arrays_zip(F.col("f.ns").alias("ns"), F.col("f.np").alias("npx"))
        ).alias("plane", "z")
    ).select(
        F.col("plane").cast("long").alias("plane"),
        F.col("z.ns").alias("ns"),
        F.col("z.npx").alias("npx"),
    )
    return per.groupBy("plane").agg(
        F.sum("ns").alias("n_set"),
        F.sum("npx").alias("n_px"),
        F.expr("sum(ns) * 10000 div sum(npx)").alias("set_rate_e4"),
    )


# ---------------------------------------------------------------------------
# streaming: fixed-window rate limiting accounting

_RL_LIMIT = 2  # admitted events per user-day


@register(
    "stream_rate_limit_static",
    oracle=f"""
    WITH w AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY user_id, day)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_user_windows,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(least(n, {_RL_LIMIT})) AS BIGINT) AS n_admitted,
           CAST(sum(greatest(n - {_RL_LIMIT}, 0)) AS BIGINT) AS n_dropped,
           CAST(max(n) AS BIGINT) AS max_burst
    FROM w GROUP BY day
    """,
)
def stream_rate_limit_static(spark, sf_dir):
    """Fixed-window rate-limit accounting — the admitted/dropped ledger
    a quota-enforcing ingest gate publishes (limit = 2 events per user
    per day): per day, the user-window count, raw event mass, admitted
    mass (least(n, limit) per user-window), the dropped overflow and the
    worst burst.  Both branches are live at every SF (measured 305
    dropped of 1000 at sf0.001).  Built STRICTLY from streaming-capable
    constructs — one tumbling-window groupBy then a stateless rollup —
    so the identical per-user-window aggregation runs under readStream
    with a day watermark (the stream_lang_gate_static discipline: the
    batch op IS the streaming plan on a static source).

    Shape: two hash aggregates; the first (user x day) is the only
    corpus-scale stage and combines map-side."""
    w = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count("*").alias("n"))
    )
    return w.groupBy("day").agg(
        F.count("*").alias("n_user_windows"),
        F.sum("n").alias("n_events"),
        F.sum(F.least(F.col("n"), F.lit(_RL_LIMIT))).alias("n_admitted"),
        F.sum(F.greatest(F.col("n") - _RL_LIMIT, F.lit(0))).alias("n_dropped"),
        F.max("n").alias("max_burst"),
    )


# ---------------------------------------------------------------------------
# retrieval: postings-list intersection (multi-token AND)

_PI_TOPK = 4  # hottest terms by document frequency


@register(
    "kv_postings_intersect",
    oracle=f"""
    WITH t AS (SELECT DISTINCT doc_id,
                      unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
    f AS (SELECT tok, count(*) AS df FROM t GROUP BY tok),
    top AS (SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS rn
            FROM f),
    pairs AS (SELECT a.tok AS t1, b.tok AS t2, a.df AS df1, b.df AS df2
              FROM top a JOIN top b ON a.rn < b.rn
              WHERE a.rn <= {_PI_TOPK} AND b.rn <= {_PI_TOPK}),
    iv AS (SELECT p.t1, p.t2, max(p.df1) AS df1, max(p.df2) AS df2,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM pairs p
           JOIN t x ON x.tok = p.t1
           JOIN t y ON y.tok = p.t2 AND y.doc_id = x.doc_id
           GROUP BY p.t1, p.t2)
    SELECT t1, t2, CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
           n_both,
           CAST(n_both * 10000 // least(df1, df2) AS BIGINT)
             AS containment_e4
    FROM iv
    """,
)
def kv_postings_intersect(spark, sf_dir):
    """Postings-list intersection — multi-token AND semantics over the
    inverted index (kv_inverted_index serves one token; every real
    boolean query intersects several): for each pair of the 4 hottest
    terms, the per-term document frequencies, the co-document count and
    the containment ratio n_both/min(df) e4 — the selectivity estimate
    a query planner needs to order an AND chain (intersect the rarest
    lists first).  Measured: 6 pairs whose identities change with SF and
    containment 8100..8600 e4 — the hot terms co-occur heavily, which
    is exactly why planners must NOT assume independence.

    Shape: the intersection is an equi-join of two postings lists on
    doc_id — hash-partitioned by document, the standard distributed
    AND; the hot-term frame is bounded (top-4) and broadcast."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .distinct()
    )
    f = t.groupBy("tok").agg(F.count("*").alias("df"))
    top = f.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("tok"))),
    ).filter(F.col("rn") <= _PI_TOPK)
    a = top.select(
        F.col("tok").alias("t1"), F.col("df").alias("df1"), F.col("rn").alias("r1")
    )
    b = top.select(
        F.col("tok").alias("t2"), F.col("df").alias("df2"), F.col("rn").alias("r2")
    )
    pairs = a.join(F.broadcast(b), F.col("r1") < F.col("r2"))
    x = t.select(F.col("tok").alias("t1"), "doc_id")
    y = t.select(F.col("tok").alias("y_tok"), F.col("doc_id").alias("doc_id2"))
    iv = (
        pairs.join(x, "t1")
        .join(
            y,
            (F.col("t2") == F.col("y_tok"))
            & (F.col("doc_id") == F.col("doc_id2")),
        )
        .groupBy("t1", "t2")
        .agg(
            F.max("df1").alias("df1"),
            F.max("df2").alias("df2"),
            F.count("*").alias("n_both"),
        )
    )
    return iv.select(
        "t1",
        "t2",
        "df1",
        "df2",
        "n_both",
        F.expr("n_both * 10000 div least(df1, df2)").alias("containment_e4"),
    )


# ---------------------------------------------------------------------------
# graph: degree assortativity as the knn(d) curve

_DA_N = 500


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < {_DA_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_DA_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_DA_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_DA_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM sym
            GROUP BY src),
    ed AS (SELECT a.d AS x, b.d AS y
           FROM sym JOIN deg a ON a.v = sym.src JOIN deg b ON b.v = sym.dst)
    SELECT x AS degree,
           CAST(count(*) AS BIGINT) AS n_halfedges,
           CAST(sum(y) AS BIGINT) AS sum_neighbor_deg,
           CAST(sum(y) * 10000 // count(*) AS BIGINT) AS knn_e4
    FROM ed GROUP BY x
    """,
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity as the knn(d) curve — the mean neighbor
    degree per degree class, the profile whose SLOPE is the
    assortativity coefficient but which additionally shows WHICH degree
    classes drive the mixing (social graphs rise — hubs befriend hubs;
    infrastructure graphs fall — hubs serve leaves): over the shared
    3-generator digraph (symmetrized), per degree 3..16: half-edge
    counts and knn e4.  Measured: knn falls from 8.08 at degree 4 to
    5.13 at degree 16 — cleanly DISassortative (scalar r = -0.125),
    the hub-serves-leaves shape the quadratic generator induces; every
    knn value distinct, integer-exact (sum div count over integer
    degrees).

    Shape: one degree aggregate, two broadcast joins of the 500-row
    degree frame onto the edge list, one bounded groupBy — the standard
    neighbor-averaging plan."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _DA_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _DA_N).alias("dst"))
        .unionAll(nodes.select("v", ((F.col("v") * 3 + 7) % _DA_N).alias("dst")))
        .unionAll(
            nodes.select("v", ((F.col("v") * F.col("v") + 3) % _DA_N).alias("dst"))
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("d")
    )
    ed = (
        sym.join(
            F.broadcast(deg.select(F.col("v").alias("src"), F.col("d").alias("x"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("v").alias("dst"), F.col("d").alias("y"))),
            "dst",
        )
        .select("x", "y")
    )
    return ed.groupBy(F.col("x").alias("degree")).agg(
        F.count("*").alias("n_halfedges"),
        F.sum("y").alias("sum_neighbor_deg"),
        F.expr("sum(y) * 10000 div count(*)").alias("knn_e4"),
    )


# ---------------------------------------------------------------------------
# time series: Ljung-Box portmanteau statistic (lags 1..3)

@register(
    "ts_ljung_box",
    oracle="""
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      sum(value) AS s
               FROM events GROUP BY event_type, day),
    m AS (SELECT event_type, avg(s) AS mu, count(*) AS n FROM d
          GROUP BY event_type),
    dev AS (SELECT d.event_type, day, s - mu AS e, n
            FROM d JOIN m USING (event_type)),
    lg AS (SELECT event_type, n, e,
                  lag(e, 1) OVER (PARTITION BY event_type ORDER BY day) AS e1,
                  lag(e, 2) OVER (PARTITION BY event_type ORDER BY day) AS e2,
                  lag(e, 3) OVER (PARTITION BY event_type ORDER BY day) AS e3
           FROM dev),
    rk AS (SELECT event_type, max(n) AS n,
                  sum(e * e1) / sum(e * e) AS r1,
                  sum(e * e2) / sum(e * e) AS r2,
                  sum(e * e3) / sum(e * e) AS r3
           FROM lg GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           round(r1, 4) + 0 AS r1_r4, round(r2, 4) + 0 AS r2_r4,
           round(r3, 4) + 0 AS r3_r4,
           round(n * (n + 2) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                                + r3 * r3 / (n - 3)), 4) + 0 AS q3_r4
    FROM rk
    """,
)
def ts_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau statistic over lags 1..3 — the "is there
    ANY autocorrelation" gate (Q ~ chi-square(3) under whiteness; one
    number instead of eyeballing an ACF plot) applied to the per-type
    daily revenue series: the three sample autocorrelations (lag
    windows over the mean-centered series, the standard plug-in
    estimator sharing ts_autocorr's convention) and
    Q = n(n+2) * sum r_k^2/(n-k).  Measured Q3 0.86..2.09 across types
    and SFs — comfortably under the 7.81 critical value, i.e. the
    synthetic stream is honestly white, and the statistic's SPREAD
    shows the estimator resolving that.

    Shape: calendar-bounded daily frame, three lag windows, one
    aggregate per type — doubles rounded at the §2 4-decimal grain."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum("value").alias("s"))
    )
    m = d.groupBy("event_type").agg(
        F.avg("s").alias("mu"), F.count("*").alias("n")
    )
    dev = d.join(F.broadcast(m), "event_type").select(
        "event_type", "day", (F.col("s") - F.col("mu")).alias("e"), "n"
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lg = dev.select(
        "event_type",
        "n",
        "e",
        F.lag("e", 1).over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
        F.lag("e", 3).over(w).alias("e3"),
    )
    rk = lg.groupBy("event_type").agg(
        F.max("n").alias("n"),
        (F.sum(F.col("e") * F.col("e1")) / F.sum(F.col("e") * F.col("e"))).alias(
            "r1"
        ),
        (F.sum(F.col("e") * F.col("e2")) / F.sum(F.col("e") * F.col("e"))).alias(
            "r2"
        ),
        (F.sum(F.col("e") * F.col("e3")) / F.sum(F.col("e") * F.col("e"))).alias(
            "r3"
        ),
    )
    return rk.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        r4(F.col("r1")).alias("r1_r4"),
        r4(F.col("r2")).alias("r2_r4"),
        r4(F.col("r3")).alias("r3_r4"),
        r4(
            F.col("n")
            * (F.col("n") + 2)
            * (
                F.col("r1") * F.col("r1") / (F.col("n") - 1)
                + F.col("r2") * F.col("r2") / (F.col("n") - 2)
                + F.col("r3") * F.col("r3") / (F.col("n") - 3)
            )
        ).alias("q3_r4"),
    )


# ---------------------------------------------------------------------------
# causal: standardized mean difference (covariate balance)

@register(
    "agg_standardized_mean_diff",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS c,
                      user_id % 2 AS t
               FROM events),
    s AS (SELECT event_type, t, count(*) AS n, avg(c) AS mu,
                 var_samp(c) AS v
          FROM e GROUP BY event_type, t)
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n_treat,
           CAST(b.n AS BIGINT) AS n_ctrl,
           round(a.mu - b.mu, 4) + 0 AS mean_diff_r4,
           round((a.mu - b.mu) / sqrt((a.v + b.v) / 2), 4) + 0 AS smd_r4
    FROM s a JOIN s b
      ON a.event_type = b.event_type AND a.t = 1 AND b.t = 0
    """,
)
def agg_standardized_mean_diff(spark, sf_dir):
    """Standardized mean difference (Cohen's d, pooled-SD form) — the
    covariate-balance diagnostic run BEFORE any DiD/QTE estimate is
    trusted (|SMD| < 0.1 is the conventional 'balanced' bar; a large
    SMD means the arms differ at baseline and the causal read is
    confounded): per event type, arm sizes, the raw mean difference in
    cents and the SMD.  On this randomly-split corpus the SMDs hover
    near zero but VARY by type and SF (±0.05 measured) — exactly the
    placebo profile a balance audit should report; completes the
    agg_diff_in_diff / agg_quantile_treatment_effect causal tier.

    Shape: one conditional-moment aggregate per (type, arm), one 5-row
    self-join; doubles rounded at the §2 grain."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "cast(round(value * 100, 0) as bigint) as c",
        "user_id % 2 as t",
    )
    s = e.groupBy("event_type", "t").agg(
        F.count("*").alias("n"),
        F.avg("c").alias("mu"),
        F.var_samp("c").alias("v"),
    )
    a = s.filter(F.col("t") == 1).select(
        "event_type",
        F.col("n").alias("n_treat"),
        F.col("mu").alias("mu_t"),
        F.col("v").alias("v_t"),
    )
    b = s.filter(F.col("t") == 0).select(
        "event_type",
        F.col("n").alias("n_ctrl"),
        F.col("mu").alias("mu_c"),
        F.col("v").alias("v_c"),
    )
    return a.join(b, "event_type").select(
        "event_type",
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        r4(F.col("mu_t") - F.col("mu_c")).alias("mean_diff_r4"),
        r4(
            (F.col("mu_t") - F.col("mu_c"))
            / F.sqrt((F.col("v_t") + F.col("v_c")) / 2)
        ).alias("smd_r4"),
    )

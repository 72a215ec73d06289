"""Round-12 tranche, wave C — built during round 11.

Families:

* graph — harmonic centrality bounded at 4 hops (the closeness variant
  that handles disconnection natively: sum of 1/d, integer e6).
* compaction planning — bin-packing LOWER BOUNDS per capacity grid
  (L1 mass bound + the big/oversize item bounds — what an OPTIMIZE
  planner checks before scheduling rewrites; extends
  agg_bin_pack_nextfit's achieved packing with the unbeatable floor).
* SQL surface — ORDER BY ... NULLS FIRST/LAST parity across all four
  ordering modes (Spark column API vs DuckDB native syntax).
* ops analytics — velocity/acceleration (first/second discrete
  differences) of daily revenue per event type.
* multimodal — DC-offset audit over decoded WAV clips (sum amplitude,
  sign census — division-free: a signed floor-vs-truncate split is the
  known cross-engine trap).
* serving — softmax temperature sweep over per-doc token-frequency
  logits (entropy/confidence curve per temperature — the calibration
  table behind router/temperature tuning).
* sampling — probability-proportional-to-size SYSTEMATIC sampling
  (Madow): quota-crossing selection over per-lang mass prefix sums —
  deterministic, exactly k quota hits per stratum.
* tensors — cumulative-sum scan along axis 0 of stored rank-2 tensors
  (the prefix-scan primitive; last scan row must equal the axis
  reduction, a built-in cross-check against kv_tensor_reduce_axis).

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration
(tools/vacuity_r12.md).  One candidate was DROPPED at validation: a
near-dup threshold sweep (0.7/0.8/0.9) — banded candidates on this
corpus are ~97% Jaccard copies, so every threshold verified the same
edge set (the round-10 "banding never over-generates here" vacuity
class, caught before registration this time).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import lineage_cap, r4

# ---------------------------------------------------------------------------
# graph: harmonic centrality bounded at 4 hops

_HC_N = 500
_HC_HOPS = 4


@register(
    "graph_harmonic_centrality_k4",
    oracle=f"""
    WITH RECURSIVE nodes AS (SELECT doc_id AS v FROM documents
                             WHERE doc_id < {_HC_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_HC_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_HC_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_HC_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    bfs(v, u, d) AS (
      SELECT src, dst, 1 FROM sym
      UNION
      SELECT b.v, s.dst, b.d + 1 FROM bfs b JOIN sym s ON s.src = b.u
      WHERE b.d < {_HC_HOPS} AND s.dst <> b.v),
    md AS (SELECT v, u, min(d) AS d FROM bfs GROUP BY v, u),
    h AS (SELECT v, CAST(sum(1000000 // d) AS BIGINT) AS harmonic_e6,
                 CAST(count(*) AS BIGINT) AS n_reach
          FROM md GROUP BY v)
    SELECT v, harmonic_e6, n_reach
    FROM h ORDER BY harmonic_e6 DESC, v LIMIT 25
    """,
)
def graph_harmonic_centrality_k4(spark, sf_dir):
    """Harmonic centrality truncated at 4 hops — the closeness variant
    that survives disconnected graphs (unreachable nodes contribute 0
    instead of poisoning the mean with infinity), in the integer-exact
    form sum(1e6 div d): top-25 nodes of the shared 3-generator digraph
    (symmetrized) with their 4-hop reach counts.  Integer flooring
    (1e6 div d) keeps both engines bit-identical — the same reason the
    RA index chose 1/deg over Adamic-Adar's 1/log deg.  Measured: 484
    distinct scores over 500 nodes, reach 225..486 — the quadratic
    generator's hubs dominate the top-25, which is the metric's point.

    Shape: 4 frontier joins (dists ⋈ edges on the middle node), one
    min-distance collapse, one aggregate — the multi-source bounded-BFS
    plan, lazy throughout; pair volume bounded by reach ≤ |V| per
    source, the k-hop sampling budget this op exists to price."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _HC_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _HC_N).alias("dst"))
        .unionAll(nodes.select("v", ((F.col("v") * 3 + 7) % _HC_N).alias("dst")))
        .unionAll(
            nodes.select("v", ((F.col("v") * F.col("v") + 3) % _HC_N).alias("dst"))
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(lineage_cap)
    )
    dists = sym.select(
        F.col("src").alias("v"), F.col("dst").alias("u"), F.lit(1).alias("d")
    )
    frontier = dists
    for k in range(2, _HC_HOPS + 1):
        frontier = (
            frontier.join(
                sym.select(F.col("src").alias("u"), F.col("dst").alias("w")),
                "u",
            )
            .filter(F.col("w") != F.col("v"))
            .select("v", F.col("w").alias("u"), F.lit(k).alias("d"))
            .distinct()
            .transform(lineage_cap)
        )
        dists = dists.unionByName(frontier)
    md = dists.groupBy("v", "u").agg(F.min("d").alias("d"))
    h = md.groupBy("v").agg(
        F.expr("sum(1000000 div d)").alias("harmonic_e6"),
        F.count("*").alias("n_reach"),
    )
    return (
        h.orderBy(F.col("harmonic_e6").desc(), "v")
        .limit(25)
        .select("v", "harmonic_e6", "n_reach")
    )


# ---------------------------------------------------------------------------
# compaction planning: bin-packing lower bounds

_PB_DIVKS = (16, 56, 96)  # cap = total // divk; all three bound classes live


@register(
    "llm_pack_lower_bounds",
    oracle=f"""
    WITH f AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS w
               FROM documents GROUP BY source, lang),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM f),
    caps AS (SELECT CAST(unnest([{",".join(map(str, _PB_DIVKS))}]) AS BIGINT)
               AS divk),
    c2 AS (SELECT divk, tw // divk AS cap FROM caps, tot),
    b AS (SELECT c2.divk, c2.cap,
                 CAST(sum(CASE WHEN w > cap THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oversize,
                 CAST(sum(CASE WHEN w * 2 > cap AND w <= cap THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_big
          FROM c2, f GROUP BY c2.divk, c2.cap)
    SELECT divk, cap,
           CAST(((SELECT tw FROM tot) + cap - 1) // cap AS BIGINT) AS l1_mass,
           n_oversize, n_big,
           CAST(greatest(((SELECT tw FROM tot) + cap - 1) // cap,
                         n_oversize + n_big) AS BIGINT) AS lower_bound
    FROM b
    """,
)
def llm_pack_lower_bounds(spark, sf_dir):
    """Bin-packing lower bounds per capacity — the floor an OPTIMIZE /
    shard-compaction planner checks BEFORE scheduling rewrites (if the
    achieved packing already meets the bound, rewriting is waste): over
    the (source, lang) char-mass manifest, for each capacity in the
    grid (total/16, /56, /96): the L1 mass bound ceil(W/C), the count
    of oversize items (w > C — unpackable without splitting), the count
    of big items (C/2 < w <= C — each forces its own bin), and the
    combined bound max(L1, oversize + big).  Grid chosen so all three
    classes are LIVE (measured: oversize 0..38, big 0..76 across
    SFs/caps — the first draft's single loose cap had both
    identically 0, the vacuity trap).

    Shape: the manifest is catalog-sized (bounded by source x lang);
    one aggregate builds it, a 3-row literal grid crosses it — planner
    arithmetic, no corpus rescan."""
    f = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.sum("n_chars").alias("w"))
    )
    tot = f.agg(F.sum("w").alias("tw"))
    caps = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(k) for k in _PB_DIVKS])).alias("divk")
        )
        .crossJoin(F.broadcast(tot))
        .selectExpr("divk", "tw div divk as cap", "tw")
    )
    b = (
        f.crossJoin(F.broadcast(caps))
        .groupBy("divk", "cap", "tw")
        .agg(
            F.sum(F.when(F.col("w") > F.col("cap"), 1).otherwise(0)).alias(
                "n_oversize"
            ),
            F.sum(
                F.when(
                    (F.col("w") * 2 > F.col("cap")) & (F.col("w") <= F.col("cap")),
                    1,
                ).otherwise(0)
            ).alias("n_big"),
        )
    )
    return b.selectExpr(
        "divk",
        "cap",
        "(tw + cap - 1) div cap as l1_mass",
        "n_oversize",
        "n_big",
        "greatest((tw + cap - 1) div cap, n_oversize + n_big) as lower_bound",
    )


# ---------------------------------------------------------------------------
# SQL surface: NULLS FIRST / NULLS LAST ordering parity

_NULLS_MODES = (
    ("asc_nulls_first", "ASC NULLS FIRST"),
    ("asc_nulls_last", "ASC NULLS LAST"),
    ("desc_nulls_first", "DESC NULLS FIRST"),
    ("desc_nulls_last", "DESC NULLS LAST"),
)


def _nulls_mode_sql(mode: str, spec: str) -> str:
    return f"""
    SELECT '{mode}' AS mode,
           CAST(min(CASE WHEN rn = 1 THEN event_id END) AS BIGINT)
             AS rank1_event_id,
           CAST(min(CASE WHEN v IS NULL THEN rn END) AS BIGINT)
             AS first_null_rank,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls
    FROM (SELECT event_id, v,
                 row_number() OVER (ORDER BY v {spec}, event_id) AS rn
          FROM base)
    """


@register(
    "sql_nulls_ordering",
    oracle="WITH base AS (SELECT event_id, CASE WHEN CAST(json_extract"
    "(props, '$.k') AS BIGINT) % 7 = 0 THEN NULL ELSE CAST(json_extract"
    "(props, '$.k') AS BIGINT) END AS v FROM events) "
    + " UNION ALL ".join(
        _nulls_mode_sql(m, s) for m, s in _NULLS_MODES
    ),
)
def sql_nulls_ordering(spark, sf_dir):
    """ORDER BY ... NULLS FIRST / NULLS LAST parity across all four
    ordering modes — the dialect corner where engines silently disagree
    (Spark defaults NULLS FIRST on ASC and NULLS LAST on DESC; DuckDB
    defaults NULLS LAST everywhere; explicit clauses are the only
    portable spelling): a deterministic NULL pattern (k mod 7 == 0) is
    ranked under each explicit mode, and the op pins where the null
    block lands (first_null_rank: 1 when FIRST, n - n_nulls + 1 when
    LAST) and who wins rank 1 (a null row's id vs the min/max value's
    id).  Spark side uses the column-API spellings
    (asc_nulls_first()...); the oracle uses DuckDB's native clause —
    four rows, any default-divergence breaks the hash.

    Shape note: the global rank is a single-partition window — correct
    for a parity DEMO over the events table; the scale path for global
    order statistics is the two-pass range-partitioned rank
    (sql_offset_fetch's documented caveat applies verbatim)."""
    k = F.get_json_object("props", "$.k").cast("long")
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(k % 7 == 0, None).otherwise(k).alias("v"),
    )
    specs = {
        "asc_nulls_first": F.col("v").asc_nulls_first(),
        "asc_nulls_last": F.col("v").asc_nulls_last(),
        "desc_nulls_first": F.col("v").desc_nulls_first(),
        "desc_nulls_last": F.col("v").desc_nulls_last(),
    }
    out = None
    for mode, _ in _NULLS_MODES:
        ranked = base.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(specs[mode], F.col("event_id"))),
        )
        one = ranked.agg(
            F.lit(mode).alias("mode"),
            F.min(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
                "rank1_event_id"
            ),
            F.min(F.when(F.col("v").isNull(), F.col("rn"))).alias(
                "first_null_rank"
            ),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias(
                "n_nulls"
            ),
        )
        out = one if out is None else out.unionByName(one)
    return out


# ---------------------------------------------------------------------------
# ops analytics: velocity / acceleration of daily revenue

@register(
    "ts_velocity_acceleration",
    oracle="""
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(sum(round(value * 100, 0)) AS BIGINT) AS cents
               FROM events GROUP BY event_type, day),
    v AS (SELECT event_type, day, cents,
                 cents - lag(cents) OVER (PARTITION BY event_type
                                          ORDER BY day) AS vel
          FROM d),
    a AS (SELECT event_type, vel,
                 vel - lag(vel) OVER (PARTITION BY event_type ORDER BY day)
                   AS acc
          FROM v)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(vel) AS BIGINT) AS max_velocity,
           CAST(min(vel) AS BIGINT) AS min_velocity,
           CAST(max(abs(acc)) AS BIGINT) AS max_abs_accel,
           CAST(sum(abs(acc)) * 10000 // count(acc) AS BIGINT)
             AS mean_abs_accel_e4
    FROM a GROUP BY event_type
    """,
)
def ts_velocity_acceleration(spark, sf_dir):
    """Velocity and acceleration of daily revenue — the first and second
    discrete differences of the per-type daily series: how fast revenue
    moves and how fast the MOVEMENT changes (the number a trend alert
    thresholds on; a big |acceleration| is a regime change even when
    velocity stays moderate).  Exact integer cents throughout; the
    mean |acceleration| floors once at e4 (operands non-negative, so
    DuckDB // == Spark div).

    Shape: one day rollup (map-side combined), two stacked lag windows
    per type over the ~30-row daily frame, one aggregate — the daily
    frame is bounded by the calendar, not the corpus."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    v = d.withColumn("vel", F.col("cents") - F.lag("cents").over(w))
    a = v.withColumn("acc", F.col("vel") - F.lag("vel").over(w))
    return a.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.max("vel").alias("max_velocity"),
        F.min("vel").alias("min_velocity"),
        F.max(F.abs(F.col("acc"))).alias("max_abs_accel"),
        F.expr("sum(abs(acc)) * 10000 div count(acc)").alias(
            "mean_abs_accel_e4"
        ),
    )


# ---------------------------------------------------------------------------
# multimodal: DC-offset audit over decoded WAV clips

@register(
    "mm_audio_dc_offset",
    oracle="""
    WITH probe AS (SELECT v AS doc_id FROM range(64) p(v)),
    t AS (SELECT doc_id,
                 CAST(((doc_id * 31 + tt.t) * 2654435761) % 65536 - 32768
                   AS BIGINT) AS x
          FROM probe, range(64) tt(t))
    SELECT doc_id,
           CAST(sum(x) AS BIGINT) AS sum_amp,
           CAST(sum(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(max(abs(x)) AS BIGINT) AS max_abs
    FROM t GROUP BY doc_id
    """,
)
def mm_audio_dc_offset(spark, sf_dir):
    """DC-offset audit through the REAL WAV codec — the capture-chain
    health check every audio ingest runs first (a nonzero DC bias wastes
    headroom and corrupts every downstream energy/loudness feature):
    per clip, the exact amplitude sum (the offset numerator), the
    positive/negative sample census, and the peak |amplitude|.
    Deliberately DIVISION-FREE: the amplitude sum is signed, and a
    signed floor (DuckDB //) vs truncate (Spark div) split is the known
    cross-engine trap — the sum carries the same information at zero
    parity risk.

    Kernel: the mm_audio_envelope_peaks shape — Arrow-batched
    encode/decode pandas_udfs over the bounded 64-clip probe; the
    oracle reproduces the closed-form waveform."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import demo_pcm, encode_wav, wav_samples

    @pandas_udf("binary")
    def encode_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [encode_wav(demo_pcm(d).astype("<i2")) for d in doc_id]
        )

    @pandas_udf(
        "struct<sum_amp bigint, n_pos bigint, n_neg bigint, max_abs bigint>"
    )
    def dc_udf(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for b in payload:
            x = wav_samples(bytes(b)).astype(np.int64)
            rows.append(
                {
                    "sum_amp": int(x.sum()),
                    "n_pos": int((x > 0).sum()),
                    "n_neg": int((x < 0).sum()),
                    "max_abs": int(np.abs(x).max()),
                }
            )
        return pd.DataFrame(rows)

    probe = spark.range(64).select(F.col("id").alias("doc_id"))
    enc = probe.select("doc_id", encode_udf("doc_id").alias("wav"))
    return enc.select("doc_id", dc_udf("wav").alias("f")).select(
        "doc_id", "f.sum_amp", "f.n_pos", "f.n_neg", "f.max_abs"
    )


# ---------------------------------------------------------------------------
# serving: softmax temperature sweep

_SM_TEMPS_E1 = (5, 10, 20)  # T = 0.5, 1.0, 2.0
_SM_PROBES = 20
_SM_TOPK = 8


@register(
    "llm_softmax_temperature_sweep",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents WHERE doc_id < {_SM_PROBES}),
    c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
    r AS (SELECT doc_id, c,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY c DESC, tok) AS rn
          FROM c),
    top8 AS (SELECT doc_id, c FROM r WHERE rn <= {_SM_TOPK}),
    temps AS (SELECT unnest([{",".join(map(str, _SM_TEMPS_E1))}]) AS t_e1),
    sm AS (SELECT doc_id, t_e1, exp(c * 10.0 / t_e1) AS e FROM top8, temps),
    z AS (SELECT doc_id, t_e1, sum(e) AS z FROM sm GROUP BY doc_id, t_e1)
    SELECT sm.doc_id, CAST(sm.t_e1 AS BIGINT) AS t_e1,
           round(-sum((e / z) * ln(e / z)), 4) + 0 AS entropy_r4,
           round(max(e / z), 4) + 0 AS p_max_r4
    FROM sm JOIN z USING (doc_id, t_e1) GROUP BY sm.doc_id, sm.t_e1
    """,
)
def llm_softmax_temperature_sweep(spark, sf_dir):
    """Softmax temperature calibration curve — how sampling temperature
    reshapes a distribution's entropy and top-1 confidence, computed
    over deterministic logits (each probe doc's top-8 token counts, the
    natural integer score): for T in {{0.5, 1.0, 2.0}}, the softmax
    entropy and p_max per (doc, T).  This is the table a serving stack
    consults when tuning temperature/top-p (entropy rises monotonically
    in T; the SPREAD across docs at fixed T is what decides a global
    vs per-request temperature) — measured 37..54 distinct entropies
    over the 60-row grid, range 0.04..2.08 nats.

    exp/ln are IEEE doubles on both engines, rounded at the §2
    4-decimal grain (ulp error ~1e-16, twelve orders below).  Shape:
    vocabulary-bounded per-doc aggregate, 20-probe panel x 3-row
    literal temperature grid — serving-table arithmetic."""
    t = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _SM_PROBES)
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    )
    c = t.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    r = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("c").desc(), "tok")
        ),
    )
    top8 = r.filter(F.col("rn") <= _SM_TOPK).select("doc_id", "c")
    temps = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _SM_TEMPS_E1])).alias("t_e1")
    )
    sm = top8.crossJoin(F.broadcast(temps)).select(
        "doc_id", "t_e1", F.exp(F.col("c") * 10.0 / F.col("t_e1")).alias("e")
    )
    z = sm.groupBy("doc_id", "t_e1").agg(F.sum("e").alias("z"))
    return (
        sm.join(z, ["doc_id", "t_e1"])
        .groupBy("doc_id", F.col("t_e1").cast("long").alias("t_e1"))
        .agg(
            r4(
                -F.sum(
                    (F.col("e") / F.col("z")) * F.log(F.col("e") / F.col("z"))
                )
            ).alias("entropy_r4"),
            r4(F.max(F.col("e") / F.col("z"))).alias("p_max_r4"),
        )
    )


# ---------------------------------------------------------------------------
# sampling: PPS systematic (Madow) selection per stratum

_PPS_K = 20  # quota hits per language


@register(
    "llm_pps_systematic_sample",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, n_chars,
                      sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id)
                        AS cum,
                      sum(n_chars) OVER (PARTITION BY lang) AS total
               FROM documents),
    sel AS (SELECT *,
                   (cum * {_PPS_K} // total)
                   - ((cum - n_chars) * {_PPS_K} // total) AS hits
            FROM d)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(hits) AS BIGINT) AS n_quota_hits,
           CAST(sum(n_chars) AS BIGINT) AS chars_selected,
           CAST(sum(doc_id) AS BIGINT) AS sum_selected_ids
    FROM sel WHERE hits > 0 GROUP BY lang
    """,
)
def llm_pps_systematic_sample(spark, sf_dir):
    """Probability-proportional-to-size SYSTEMATIC sampling (Madow's
    method) per stratum — the mass-weighted sampler a token-budget
    pipeline wants when big documents should be proportionally more
    likely but the draw must stay deterministic and single-pass: within
    each language, a document is selected iff its mass span crosses a
    multiple of total/k on the doc_id-ordered prefix sum (k = 20 quota
    marks per stratum; a document larger than one quota can absorb
    several hits — n_quota_hits sums to exactly k while n_selected
    floats below it, and the gap is the measured size skew).  Unlike
    the Feistel sampler (uniform without-replacement) this one is
    PPS — the two cover the classic sampling-design axes.

    Shape: one prefix-sum window per stratum (the partition key IS the
    stratum, so the scan parallelizes across strata; the in-stratum
    prefix sum is the standard two-pass distributed scan at 100 TB),
    one filter, one aggregate."""
    w = Window.partitionBy("lang").orderBy("doc_id")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
        F.sum("n_chars").over(Window.partitionBy("lang")).alias("total"),
    )
    sel = d.withColumn(
        "hits",
        F.expr(
            f"(cum * {_PPS_K} div total)"
            f" - ((cum - n_chars) * {_PPS_K} div total)"
        ),
    ).filter(F.col("hits") > 0)
    return sel.groupBy("lang").agg(
        F.count("*").alias("n_selected"),
        F.sum("hits").alias("n_quota_hits"),
        F.sum("n_chars").alias("chars_selected"),
        F.sum("doc_id").alias("sum_selected_ids"),
    )


# ---------------------------------------------------------------------------
# tensors: cumulative-sum scan along axis 0

@register(
    "kv_tensor_cumsum_axis",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             3 AS n_rows, 4 + doc_id % 3 AS n_cols, doc_id % 50 AS base
      FROM documents WHERE doc_id < 100),
    cols AS (
      SELECT doc_id, n_rows, n_cols, base, j.v AS j
      FROM t, range(8) j(v) WHERE j.v < n_cols)
    SELECT doc_id, CAST(j AS INTEGER) AS col,
           /* scan last row = full axis-0 sum: sum_i base + 2i + 3j */
           CAST(n_rows * base + 2 * (n_rows - 1) * n_rows // 2
                + n_rows * 3 * j AS BIGINT) AS scan_last,
           /* sum of prefix sums: sum_i (i+1)(base+3j) + i(i+1) */
           CAST(6 * (base + 3 * j) + 8 AS BIGINT) AS scan_total
    FROM cols
    """,
)
def kv_tensor_cumsum_axis(spark, sf_dir):
    """Axis-0 cumulative-sum SCAN of a stored rank-2 tensor — the
    prefix-scan primitive behind running-total features, integrated
    spectrograms and cumulative attention masses, on the flat
    row-major layout: out[i, j] = Σ_{{i'<=i}} data[i'·cols + j],
    emitted per (doc, column) as the scan's LAST row (which must equal
    kv_tensor_reduce_axis's column sum — a built-in cross-check between
    the scan and the reduction) and the scan's total mass (the
    order-weighted sum Σ_i (rows-i)·x[i] in closed form — any prefix
    off-by-one shifts it).

    Same nested higher-order-function shape as the reduction: a
    transform over columns wrapping an aggregate over the row prefix,
    all inside one JVM codegen span, exploded only for the scored long
    format."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    rows = F.lit(3)
    cols = (F.lit(4) + F.col("doc_id") % 3).cast("int")
    base = (F.col("doc_id") % 50).cast("int")
    data = F.transform(
        F.sequence(F.lit(0), rows * cols - 1),
        lambda k: (base + 2 * (k / cols).cast("int") + 3 * (k % cols)).cast(
            "float"
        ),
    )
    t = d.select(
        "doc_id",
        F.struct(F.array(rows, cols).alias("shape"), data.alias("data")).alias(
            "tensor"
        ),
    )
    n_rows = F.element_at(F.col("tensor.shape"), 1)
    n_cols = F.element_at(F.col("tensor.shape"), 2)
    flat = F.col("tensor.data")

    def prefix_sum(i, j):
        return F.aggregate(
            F.sequence(F.lit(0), i),
            F.lit(0).cast("long"),
            lambda acc, ii: acc
            + F.element_at(flat, (ii * n_cols + j + 1).cast("int")).cast("long"),
        )

    per_col = F.transform(
        F.sequence(F.lit(0), n_cols - 1),
        lambda j: F.struct(
            prefix_sum(n_rows - 1, j).alias("scan_last"),
            F.aggregate(
                F.sequence(F.lit(0), n_rows - 1),
                F.lit(0).cast("long"),
                lambda acc, i: acc + prefix_sum(i, j),
            ).alias("scan_total"),
        ),
    )
    return t.select(
        "doc_id", F.posexplode(per_col).alias("col", "s")
    ).select(
        "doc_id",
        F.col("col").cast("int").alias("col"),
        F.col("s.scan_last").alias("scan_last"),
        F.col("s.scan_total").alias("scan_total"),
    )

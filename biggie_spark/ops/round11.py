"""Round-11 tranche, built and locally verified during round 10.

Families:

* data quality — the expectations/contract audit a pipeline gates on
  (range / JSON-field / length rules with live violation mass), and the
  archival-orphan referential audit (what a retention sweep strands).
* privacy — t-closeness over an ORDERED sensitive attribute (cumulative
  EMD, integer cross-multiplied), completing the k-anonymity /
  l-diversity governance tier.
* layout — RLE run counts per column under natural vs sorted layout (the
  measured "why sorted tables compress" number), deterministic geohash
  cell encoding (base32 bit-interleave, the geo sibling of
  fn_morton_curve), and a Feistel permutation (the RNG-free key
  scrambler behind deterministic pseudo-shuffles).
* ops analytics — the day-of-week x hour traffic heatmap.
* serving — semantic-cache hit accounting over sign-bit embedding
  signatures.
* SQL surface — window EXCLUDE CURRENT ROW parity (DuckDB native,
  Spark emulated by frame arithmetic).
* multimodal — Otsu threshold from the decoded image histogram (integer
  between-class score), audio envelope peak counts, and video-as-frames
  sampling (stride manifest over per-frame decodes).
* streaming — the expectations audit's per-record append-mode twin.

Integer-exact conventions throughout; spreads validated in
DuckDB at sf{0.001,0.01,0.1} before registration (tools/vacuity_r11.md).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import tokens

# ---------------------------------------------------------------------------
# data quality tier

# Archival rule: customers with c_custkey % 7 == 0 leave the active set
# (a retention sweep); every order pointing at them is stranded.  ~1/7 of
# orders at every SF — both branches heavy.
@register(
    "agg_orphan_audit",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS ym,
                      CAST(o_custkey % 7 = 0 AS BIGINT) AS orphaned
               FROM orders)
    SELECT ym,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(orphaned) AS BIGINT) AS n_orphaned,
           CAST(sum(orphaned) * 1000000 // count(*) AS BIGINT)
             AS orphan_e6
    FROM o GROUP BY ym
    """,
)
def agg_orphan_audit(spark, sf_dir):
    """Referential-integrity audit after an archival sweep — the orphan
    accounting a retention job must publish before it deletes: with the
    archived-customer rule (c_custkey % 7 == 0, the simulated sweep),
    how many orders per month would dangle, and the orphan rate e6.
    The synthetic corpus has ZERO natural FK violations (measured — a
    plain orphan scan is vacuously green), so the audit is parameterized
    by the sweep predicate, exactly how a real retention dry-run works.

    Shape: the archived set is a predicate, not a table — the audit is
    ONE scan of the fact side with a pushed-down projection, no join at
    all (the membership rule evaluates inline); grouped by month."""
    o = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyyMM").cast("long").alias("ym"),
        (F.col("o_custkey") % 7 == 0).cast("long").alias("orphaned"),
    )
    return o.groupBy("ym").agg(
        F.count("*").alias("n_orders"),
        F.sum("orphaned").alias("n_orphaned"),
        F.expr("sum(orphaned) * 1000000 div count(*)").alias("orphan_e6"),
    )


# Expectation rules (thresholds straddle at every SF; DuckDB-measured
# violation mass at sf0.01: value cap 16.1%, props-k band 20.3%, doc
# length floor 1.4%, lang allowlist 0% — the passing rule is deliberate:
# a contract suite must report green rows too).
@register(
    "agg_expectations_audit",
    oracle="""
    WITH r AS (
      SELECT 'events' AS tbl, 'value_le_90' AS rule,
             CAST(count(*) AS BIGINT) AS n_checked,
             CAST(sum(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
      FROM events
      UNION ALL
      SELECT 'events', 'props_k_in_10_90', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT)
                                < 10
                            OR CAST(json_extract(props, '$.k') AS BIGINT)
                                >= 90
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'documents', 'n_chars_ge_60', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN n_chars < 60 THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'documents', 'lang_in_allowlist', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN lang NOT IN ('en','de','es','fr','zh')
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents)
    SELECT tbl, rule, n_checked, n_violations,
           CAST(n_violations * 1000000 // n_checked AS BIGINT)
             AS violation_e6
    FROM r
    """,
)
def agg_expectations_audit(spark, sf_dir):
    """The expectations/contract audit a pipeline gates ingest on (the
    Great-Expectations shape re-expressed as one relational pass per
    table): a literal rule suite — numeric range cap, JSON-field band,
    string-length floor, categorical allowlist — each reporting checked
    count, violation count, and violation rate e6.  The allowlist rule
    legitimately reports ZERO violations on this corpus: a contract
    suite that can only show failures is a broken contract suite.

    Shape: one aggregate per audited table (each a single scan with the
    rule expressions fused into the same pass), unioned into the bounded
    report frame — rules are columns of ONE aggregation, never one scan
    per rule."""
    ev = load_table(spark, sf_dir, "events").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") > 90).cast("long")).alias("v_cap"),
        F.sum(
            (
                (F.get_json_object("props", "$.k").cast("long") < 10)
                | (F.get_json_object("props", "$.k").cast("long") >= 90)
            ).cast("long")
        ).alias("v_band"),
    )
    dc = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n"),
        F.sum((F.col("n_chars") < 60).cast("long")).alias("v_len"),
        F.sum(
            (~F.col("lang").isin("en", "de", "es", "fr", "zh")).cast("long")
        ).alias("v_lang"),
    )
    rows = (
        ev.select(
            F.lit("events").alias("tbl"),
            F.lit("value_le_90").alias("rule"),
            F.col("n").alias("n_checked"),
            F.col("v_cap").alias("n_violations"),
        )
        .unionByName(
            ev.select(
                F.lit("events").alias("tbl"),
                F.lit("props_k_in_10_90").alias("rule"),
                F.col("n").alias("n_checked"),
                F.col("v_band").alias("n_violations"),
            )
        )
        .unionByName(
            dc.select(
                F.lit("documents").alias("tbl"),
                F.lit("n_chars_ge_60").alias("rule"),
                F.col("n").alias("n_checked"),
                F.col("v_len").alias("n_violations"),
            )
        )
        .unionByName(
            dc.select(
                F.lit("documents").alias("tbl"),
                F.lit("lang_in_allowlist").alias("rule"),
                F.col("n").alias("n_checked"),
                F.col("v_lang").alias("n_violations"),
            )
        )
    )
    return rows.select(
        "tbl",
        "rule",
        "n_checked",
        "n_violations",
        F.expr("n_violations * 1000000 div n_checked").alias("violation_e6"),
    )


@register(
    "stream_expectations_static",
    oracle="""
    SELECT event_id,
           CAST(value > 90 AS BIGINT) AS viol_value,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) < 10
                OR CAST(json_extract(props, '$.k') AS BIGINT) >= 90
             AS BIGINT) AS viol_props,
           CAST((CASE WHEN value > 90 THEN 1 ELSE 0 END)
                + (CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) < 10
                         OR CAST(json_extract(props, '$.k') AS BIGINT) >= 90
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM events
    """,
)
def stream_expectations_static(spark, sf_dir):
    """Streaming twin of the expectations audit — the per-record
    violation flags an ingest gate emits on every incoming event, built
    STRICTLY from streaming-capable constructs (stream_lang_gate_static
    discipline): one stateless projection, no aggregation, so the
    identical plan runs under readStream in append mode and the batch
    aggregate (agg_expectations_audit) is exactly its groupBy."""
    return _expectations_record_plan(load_table(spark, sf_dir, "events"))


def _expectations_record_plan(events):
    """The per-record violation-flag plan, shared VERBATIM by the batch
    twin above and the live readStream drain (streaming_demo.py
    demo_expectations_static; drain == batch pinned by
    tests/test_streaming_demo.py)."""
    k = F.get_json_object("props", "$.k").cast("long")
    viol_v = (F.col("value") > 90).cast("long")
    viol_p = ((k < 10) | (k >= 90)).cast("long")
    # n_violations coalesces each flag to 0 (ADVICE r10): on a NULL
    # payload ($.k missing) Spark's `viol_v + viol_p` would propagate
    # NULL while the oracle's CASE WHEN ... ELSE 0 yields 0 — latent on
    # this corpus (k always present) but a real divergence on malformed
    # props.  The flag COLUMNS stay NULL-propagating on both engines
    # (DuckDB CAST(NULL-cond AS BIGINT) is NULL too), so only the sum
    # needs the gate.
    return events.select(
        "event_id",
        viol_v.alias("viol_value"),
        viol_p.alias("viol_props"),
        (F.coalesce(viol_v, F.lit(0)) + F.coalesce(viol_p, F.lit(0))).alias(
            "n_violations"
        ),
    )


# ---------------------------------------------------------------------------
# privacy: t-closeness over an ordered sensitive attribute

# Sensitive attribute: n_chars quintile (ordered 0..4); quasi-identifier
# group: source.  t-closeness distance = ordered-EMD = sum over the
# cumulative buckets of |cum_group - cum_global|, normalized by
# (m-1) * group_mass * corpus_mass in cross-multiplied integer form.
@register(
    "agg_t_closeness",
    oracle="""
    WITH q AS (SELECT source,
                      least(4, greatest(0, (n_chars - 50) // 30)) AS b
               FROM documents),
    g AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
          FROM q GROUP BY source, b),
    n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM g GROUP BY source),
    tot AS (SELECT b, CAST(sum(c) AS BIGINT) AS c FROM g GROUP BY b),
    nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
    grid AS (SELECT n.source, t.b, n.n,
                    CAST(coalesce(g.c, 0) AS BIGINT) AS cg,
                    t.c AS ct
             FROM n CROSS JOIN tot t
             LEFT JOIN g ON g.source = n.source AND g.b = t.b),
    cum AS (SELECT source, b, n,
                   sum(cg) OVER (PARTITION BY source ORDER BY b) AS cum_g,
                   sum(ct) OVER (PARTITION BY source ORDER BY b) AS cum_t
            FROM grid)
    SELECT source,
           CAST(min(n) AS BIGINT) AS group_rows,
           CAST(sum(CASE WHEN b < 4
                    THEN abs(cum_g * (SELECT n FROM nn) - cum_t * n)
                    ELSE 0 END) * 1000000
                // (4 * min(n) * (SELECT n FROM nn)) AS BIGINT)
             AS emd_e6
    FROM cum GROUP BY source
    """,
)
def agg_t_closeness(spark, sf_dir):
    """t-closeness over an ORDERED sensitive attribute — the governance
    metric that completes the k-anonymity / l-diversity tier: for each
    quasi-identifier group (source), the Earth Mover's Distance between
    the group's distribution of the sensitive attribute (document-length
    quintile, ordered 0..4) and the corpus-global distribution — EMD on
    an ordered categorical being exactly the mean absolute difference of
    CUMULATIVE masses.  max(emd_e6) over groups is the dataset's t.

    Integer-exact by cross-multiplication: cumulative group counts scale
    by the corpus mass and cumulative global counts by the group mass
    before the |difference|, with ONE normalizing division at the end.
    Shape: one groupBy((source, bucket)) shrinks the corpus to the
    bounded grid; the cumulative window runs over 5-bucket partitions."""
    q = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr("least(4, greatest(0, (n_chars - 50) div 30))").alias("b"),
    )
    g = q.groupBy("source", "b").agg(F.count("*").alias("c"))
    n = g.groupBy("source").agg(F.sum("c").alias("n"))
    tot = g.groupBy("b").agg(F.sum("c").alias("ct"))
    nn = g.agg(F.sum("c").alias("gn"))
    grid = (
        n.crossJoin(F.broadcast(tot))
        .join(g, ["source", "b"], "left")
        .select(
            "source",
            "b",
            "n",
            F.coalesce("c", F.lit(0)).alias("cg"),
            "ct",
        )
    )
    w = Window.partitionBy("source").orderBy("b")
    cum = grid.select(
        "source",
        "b",
        "n",
        F.sum("cg").over(w).alias("cum_g"),
        F.sum("ct").over(w).alias("cum_t"),
    ).crossJoin(F.broadcast(nn))
    return cum.groupBy("source").agg(
        F.min("n").alias("group_rows"),
        F.expr(
            "sum(case when b < 4 then abs(cum_g * gn - cum_t * n)"
            " else 0 end) * 1000000 div (4 * min(n) * min(gn))"
        ).alias("emd_e6"),
    )


# ---------------------------------------------------------------------------
# layout: RLE runs under natural vs sorted order

@register(
    "fn_rle_runs_layout",
    oracle="""
    WITH cols AS (
      SELECT 'lang' AS col, lang AS v, doc_id FROM documents
      UNION ALL
      SELECT 'source', source, doc_id FROM documents),
    nat AS (SELECT col, v,
                   lag(v) OVER (PARTITION BY col ORDER BY doc_id) AS p
            FROM cols),
    srt AS (SELECT col, v,
                   lag(v) OVER (PARTITION BY col ORDER BY v, doc_id) AS p
            FROM cols),
    rn AS (SELECT col, CAST(count(*) FILTER (p IS NULL OR p <> v) AS BIGINT)
                    AS natural_runs,
                  CAST(count(*) AS BIGINT) AS n_rows
           FROM nat GROUP BY col),
    rs AS (SELECT col, CAST(count(*) FILTER (p IS NULL OR p <> v) AS BIGINT)
                    AS sorted_runs
           FROM srt GROUP BY col)
    SELECT rn.col, rn.n_rows, rn.natural_runs, rs.sorted_runs,
           CAST(rn.natural_runs * 1000 // rs.sorted_runs AS BIGINT)
             AS run_inflation_e3
    FROM rn JOIN rs ON rs.col = rn.col
    """,
)
def fn_rle_runs_layout(spark, sf_dir):
    """Run-length-encoding run counts under natural vs sorted layout —
    the measured answer to "why does sorting this table shrink it":
    parquet's RLE/dictionary pages cost one run header per value change,
    so runs-per-column IS the layout-compression knob.  Per column
    (lang, source): total rows, run count in natural doc_id order, run
    count when the table is sorted by the column, and the inflation
    ratio e3 — sorted runs equal the column's NDV (the floor), natural
    runs approach row count (the ceiling).  The number a
    Z-order/sort-key decision (fn_morton_curve, snk_zorder_layout) is
    made from.

    Shape: the run test is lag-over-order per column — a window keyed on
    the stacked column id, so both layouts are measured in one pass over
    the stacked frame; no data is rewritten to measure the layouts."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    cols = d.select(
        F.lit("lang").alias("col"), F.col("lang").alias("v"), "doc_id"
    ).unionByName(
        d.select(
            F.lit("source").alias("col"), F.col("source").alias("v"), "doc_id"
        )
    )
    wn = Window.partitionBy("col").orderBy("doc_id")
    ws = Window.partitionBy("col").orderBy("v", "doc_id")
    nat = cols.select(
        "col", (F.lag("v").over(wn).isNull() | (F.lag("v").over(wn) != F.col("v"))).cast("long").alias("brk")
    ).groupBy("col").agg(
        F.sum("brk").alias("natural_runs"), F.count("*").alias("n_rows")
    )
    srt = cols.select(
        "col", (F.lag("v").over(ws).isNull() | (F.lag("v").over(ws) != F.col("v"))).cast("long").alias("brk")
    ).groupBy("col").agg(F.sum("brk").alias("sorted_runs"))
    return (
        nat.join(srt, "col")
        .select(
            "col",
            "n_rows",
            "natural_runs",
            "sorted_runs",
            F.expr("natural_runs * 1000 div sorted_runs").alias(
                "run_inflation_e3"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ops analytics: day-of-week x hour traffic heatmap

@register(
    "ts_traffic_heatmap",
    oracle="""
    WITH h AS (SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
                      CAST(hour(ts) AS BIGINT) AS hr,
                      count(*) AS n
               FROM events GROUP BY dow, hr),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM h)
    SELECT dow, hr, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // t.tot AS BIGINT) AS share_e6,
           CAST(dow IN (0, 6) AS BIGINT) AS is_weekend
    FROM h, t
    """,
)
def ts_traffic_heatmap(spark, sf_dir):
    """The day-of-week x hour traffic heatmap — the first dashboard any
    event system ships: per (dow, hour) cell the event count, its share
    of total traffic e6, and the weekend flag.  On this corpus the truth
    is NO weekly seasonality (uniform generator — the per-cell variation
    is sampling noise, consistent with ts_daily_spectrum's no-diurnal
    finding), and the heatmap is the artifact that would PROVE seasonal
    structure if the upstream changed.

    DuckDB dayofweek() is 0=Sunday..6=Saturday; Spark's dayofweek() is
    1..7, so the Spark side subtracts 1 — pinned by the hash compare.
    Shape: one groupBy over the bounded 168-cell grid + a 1-row total
    broadcast."""
    h = (
        load_table(spark, sf_dir, "events")
        .select(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .groupBy("dow", "hr")
        .agg(F.count("*").alias("n"))
    )
    t = h.agg(F.sum("n").alias("tot"))
    return h.crossJoin(F.broadcast(t)).select(
        "dow",
        "hr",
        "n",
        F.expr("n * 1000000 div tot").alias("share_e6"),
        F.col("dow").isin(0, 6).cast("long").alias("is_weekend"),
    )


# ---------------------------------------------------------------------------
# layout: geohash cells and the Feistel permutation

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_interleave_sql(lon: str, lat: str) -> str:
    """30-bit geohash integer (lon bit first, MSB first) as a SQL
    expression over 15-bit cell indexes — identical text on both engines
    (shiftright/% arithmetic only)."""
    terms = []
    for i in range(15):
        terms.append(f"((({lon}) // {1 << (14 - i)}) % 2) * {1 << (29 - 2 * i)}")
        terms.append(f"((({lat}) // {1 << (14 - i)}) % 2) * {1 << (28 - 2 * i)}")
    return " + ".join(terms)


@register(
    "fn_geohash",
    oracle=f"""
    WITH pts AS (SELECT event_id,
                        CAST((user_id * 2654435761) % 180000000 - 90000000
                          AS BIGINT) AS lat_e6,
                        CAST((event_id * 40503) % 360000000 - 180000000
                          AS BIGINT) AS lon_e6
                 FROM events),
    idx AS (SELECT event_id, lat_e6, lon_e6,
                   least(32767, (lat_e6 + 90000000) * 32768 // 180000000)
                     AS lati,
                   least(32767, (lon_e6 + 180000000) * 32768 // 360000000)
                     AS loni
            FROM pts),
    g AS (SELECT event_id, lat_e6, lon_e6,
                 CAST({_gh_interleave_sql("loni", "lati")} AS BIGINT) AS gh
          FROM idx),
    s AS (SELECT event_id, lat_e6, lon_e6, gh,
                 substr('{_GH32}', CAST(gh // 33554432 AS INT) + 1, 1) ||
                 substr('{_GH32}', CAST((gh // 1048576) % 32 AS INT) + 1, 1) ||
                 substr('{_GH32}', CAST((gh // 32768) % 32 AS INT) + 1, 1)
                   AS prefix3
          FROM g)
    SELECT prefix3,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT gh) AS BIGINT) AS n_cells,
           CAST(min(lat_e6) AS BIGINT) AS min_lat_e6,
           CAST(max(lat_e6) AS BIGINT) AS max_lat_e6
    FROM s GROUP BY prefix3
    """,
)
def fn_geohash(spark, sf_dir):
    """Geohash cell encoding — the geo sibling of fn_morton_curve: each
    synthetic event point (deterministic lat/lon from the key hashes) is
    encoded to the standard 30-bit lon-first bit-interleaved geohash and
    its 3-character base32 prefix; per prefix the event count, distinct
    6-char cell count, and the latitude envelope — the spatial-locality
    evidence (all points sharing a prefix sit inside one bounded lat
    band, which the envelope columns prove value-level).

    The bit interleave is the same generated integer expression on both
    engines (floor-div/mod arithmetic, no engine bit-op dialect), and the
    base32 alphabet is the standard geohash one.  Shape: pure projection
    + one groupBy(prefix) — the encode is exactly what a spatial
    partitioner computes before a partitionBy(prefix) write."""
    pts = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("user_id") * 2654435761) % 180000000 - 90000000)
        .cast("long")
        .alias("lat_e6"),
        ((F.col("event_id") * 40503) % 360000000 - 180000000)
        .cast("long")
        .alias("lon_e6"),
    )
    idx = pts.select(
        "event_id",
        "lat_e6",
        "lon_e6",
        F.expr(
            "least(32767, (lat_e6 + 90000000) * 32768 div 180000000)"
        ).alias("lati"),
        F.expr(
            "least(32767, (lon_e6 + 180000000) * 32768 div 360000000)"
        ).alias("loni"),
    )
    gh_expr = _gh_interleave_sql("loni", "lati").replace("//", "div")
    g = idx.select(
        "event_id",
        "lat_e6",
        "lon_e6",
        F.expr(f"cast({gh_expr} as bigint)").alias("gh"),
    )
    s = g.select(
        "lat_e6",
        "gh",
        F.concat(
            F.substring(F.lit(_GH32), F.expr("cast(gh div 33554432 as int)") + 1, 1),
            F.substring(
                F.lit(_GH32), F.expr("cast((gh div 1048576) % 32 as int)") + 1, 1
            ),
            F.substring(
                F.lit(_GH32), F.expr("cast((gh div 32768) % 32 as int)") + 1, 1
            ),
        ).alias("prefix3"),
    )
    return s.groupBy("prefix3").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("gh").alias("n_cells"),
        F.min("lat_e6").alias("min_lat_e6"),
        F.max("lat_e6").alias("max_lat_e6"),
    )


# 4-round Feistel over a 20-bit domain (10-bit halves) — the RNG-free
# bijective key scrambler behind deterministic pseudo-shuffles: same
# literal round keys on both engines, xor via (a + b - 2 * floor-div
# arithmetic)?  No — both engines have integer XOR; DuckDB spells it
# xor(a, b), Spark SQL spells it a ^ b, so each side uses its dialect of
# the IDENTICAL operation.
_FEISTEL_KEYS = (2654435761, 40503, 2246822519, 3266489917)


def _feistel_sql(xor_fmt: str) -> str:
    """Unrolled 4-round Feistel as nested single expressions.  xor_fmt
    formats an integer XOR in the target dialect, e.g. 'xor({a}, {b})'
    (DuckDB) or '({a} ^ {b})' (Spark SQL)."""
    l, r = "(doc_id // 1024)", "(doc_id % 1024)"
    for k in _FEISTEL_KEYS:
        f = f"((({r}) * 2654435761 + {k}) % 1024)"
        l, r = r, xor_fmt.format(a=l, b=f)
    return f"(({l}) * 1024 + ({r}))"


@register(
    "fn_feistel_permute",
    oracle=f"""
    WITH p AS (SELECT doc_id,
                      CAST({_feistel_sql("xor({a}, {b})")} AS BIGINT) AS perm
               FROM documents),
    b AS (SELECT doc_id, perm, perm * 16 // 1048576 AS bucket FROM p)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT perm) AS BIGINT) AS n_distinct_perm,
           CAST(min(perm) AS BIGINT) AS min_perm,
           CAST(sum(doc_id * (perm % 97)) AS BIGINT) AS map_checksum
    FROM b GROUP BY bucket
    """,
)
def fn_feistel_permute(spark, sf_dir):
    """Feistel-network permutation over the 2^20 key domain — the
    RNG-free primitive behind every deterministic pseudo-shuffle this
    engine ships (llm_shard_order's md5 ranking randomizes ORDER; a
    Feistel permutation additionally guarantees BIJECTIVITY, which is
    what format-preserving key scrambling and draw-without-replacement
    sampling need): 4 rounds over 10-bit halves with literal round keys,
    round function (R * 2654435761 + k) mod 1024.

    Bijectivity is value-checked the relational way: per output bucket
    (16 equal ranges of the permuted domain), n_docs == n_distinct_perm
    — a collision anywhere breaks the equality; the map_checksum pins
    the exact mapping, not just its cardinality.  XOR is integer-
    identical on both engines (DuckDB xor(), Spark ^) and the rest is
    floor-div/mod arithmetic.  Shape: pure projection + one bounded
    groupBy."""
    perm_expr = _feistel_sql("({a} ^ {b})").replace("//", " div ")
    # Domain guard (ADVICE r10): the 10-bit-half Feistel is a bijection of
    # [0, 2^20) ONLY — for doc_id >= 1048576 the left half exceeds 10 bits
    # and the permutation silently stops being a bijection IDENTICALLY on
    # both engines (hash-blind).  Fold an assert_true into the perm
    # expression (coalesced to +0, un-prunable as aggregate input) so a
    # corpus regression raises instead of corrupting the permutation.
    guard = (
        "+ coalesce(cast(assert_true(doc_id < 1048576, "
        "'fn_feistel_permute: doc_id >= 2^20 breaks the 10-bit-half "
        "Feistel bijection — widen the domain') as bigint), 0)"
    )
    p = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"cast({perm_expr} as bigint) {guard}").alias("perm")
    )
    b = p.select(
        "doc_id", "perm", F.expr("perm * 16 div 1048576").alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("perm").alias("n_distinct_perm"),
        F.min("perm").alias("min_perm"),
        F.sum(F.col("doc_id") * (F.col("perm") % 97)).alias("map_checksum"),
    )


# ---------------------------------------------------------------------------
# serving: semantic cache hit accounting

@register(
    "llm_semantic_cache_hits",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS a,
                      (SELECT max(vec_id) FROM embeddings) AS mx
               FROM embeddings),
    sig AS (SELECT vec_id, label, mx,
              CAST((CASE WHEN a[1] > 0 THEN 2048 ELSE 0 END)
                 + (CASE WHEN a[2] > 0 THEN 1024 ELSE 0 END)
                 + (CASE WHEN a[3] > 0 THEN 512 ELSE 0 END)
                 + (CASE WHEN a[4] > 0 THEN 256 ELSE 0 END)
                 + (CASE WHEN a[5] > 0 THEN 128 ELSE 0 END)
                 + (CASE WHEN a[6] > 0 THEN 64 ELSE 0 END)
                 + (CASE WHEN a[7] > 0 THEN 32 ELSE 0 END)
                 + (CASE WHEN a[8] > 0 THEN 16 ELSE 0 END)
                 + (CASE WHEN a[9] > 0 THEN 8 ELSE 0 END)
                 + (CASE WHEN a[10] > 0 THEN 4 ELSE 0 END)
                 + (CASE WHEN a[11] > 0 THEN 2 ELSE 0 END)
                 + (CASE WHEN a[12] > 0 THEN 1 ELSE 0 END) AS BIGINT) AS s
            FROM e),
    warm AS (SELECT DISTINCT s FROM sig WHERE vec_id * 4 < mx)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN s IN (SELECT s FROM warm)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(sum(CASE WHEN s IN (SELECT s FROM warm)
                    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
             AS hit_e4
    FROM sig WHERE vec_id * 4 >= mx
    GROUP BY label
    """,
)
def llm_semantic_cache_hits(spark, sf_dir):
    """Semantic-cache hit accounting — the serving-tier question "how
    often does a fresh query land in a cached neighborhood": queries
    (the last 3/4 of the corpus by key) probe a cache warmed with the
    sign-bit signatures of the first 1/4 — the 12-bit SimHash-style
    bucket a production semantic cache keys on (one sign test per
    leading dimension; identical float comparisons on both engines).
    Per query label: query count, bucket hits, hit rate e4 — measured
    11-15% at sf0.1 with 4096 buckets, the honest baseline for random
    embeddings (a real corpus's semantic clustering is exactly what
    lifts this number, and this op is how you'd measure that lift).

    Shape: the warm set reduces to distinct 12-bit signatures (a
    broadcast-sized frame by construction — at most 4096 rows no matter
    the corpus); the probe is one broadcast left-semi pattern + one
    groupBy(label)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("a"),
    )
    mx = e.agg(F.max("vec_id").alias("mx"))
    sig_bits = sum(
        F.when(F.element_at("a", i + 1) > 0, F.lit(1 << (11 - i))).otherwise(
            F.lit(0)
        )
        for i in range(12)
    )
    sig = e.crossJoin(F.broadcast(mx)).select(
        "vec_id", "label", "mx", sig_bits.cast("long").alias("s")
    )
    warm = (
        sig.filter(F.col("vec_id") * 4 < F.col("mx"))
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    q = sig.filter(F.col("vec_id") * 4 >= F.col("mx")).join(
        F.broadcast(warm), "s", "left"
    )
    return q.groupBy("label").agg(
        F.count("*").alias("n_queries"),
        F.sum(F.col("hit").isNotNull().cast("long")).alias("n_hits"),
        F.expr(
            "sum(cast(hit is not null as long)) * 10000 div count(*)"
        ).alias("hit_e4"),
    )


# ---------------------------------------------------------------------------
# SQL surface: window frame EXCLUDE CURRENT ROW parity

@register(
    "sql_window_exclude",
    oracle="""
    WITH e AS (SELECT event_id, user_id,
                      CAST(round(value * 100, 0) AS BIGINT) AS cents
               FROM events)
    SELECT event_id, user_id, cents,
           CAST(sum(cents) OVER (PARTITION BY user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE CURRENT ROW) AS BIGINT) AS peers_cents
    FROM e
    """,
)
def sql_window_exclude(spark, sf_dir):
    """Window frame EXCLUDE CURRENT ROW parity — the leave-one-out
    aggregate (every row scored against its PEERS, the standard shape
    for per-row z-scores and contribution analysis): DuckDB evaluates
    the frame clause natively; Spark has no EXCLUDE syntax, so the op
    proves the algebraic identity sum(frame) - current == sum(frame
    EXCLUDE CURRENT ROW) holds value-exactly in integer cents — the
    rewrite a Spark user must apply by hand, hash-pinned against the
    native form.  (NULL cents would need a coalesce in the subtraction;
    events.value is non-null on this corpus and the count column would
    catch a regression.)

    Shape: one window aggregate partitioned by user — no ordering
    needed for the full-frame sum, so no sort inside the partition."""
    w = Window.partitionBy("user_id")
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return e.select(
        "event_id",
        "user_id",
        "cents",
        (F.sum("cents").over(w) - F.col("cents")).alias("peers_cents"),
    )


# ---------------------------------------------------------------------------
# multimodal: Otsu threshold, envelope peaks, video frame sampling

@register(
    "mm_image_otsu_threshold",
    oracle="""
    WITH probe AS (SELECT doc_id,
                          16 + doc_id % 8 AS w,
                          8 AS h,
                          doc_id % 60 + 10 AS b
                   FROM documents WHERE doc_id < 64),
    hist AS (SELECT doc_id, w, h, b, b + s.s AS v,
                    CAST(least(s.s, w - 1) - greatest(0, s.s - h + 1) + 1
                      AS BIGINT) AS c
             FROM probe, range(0, 31) s(s)
             WHERE s.s <= w + h - 2),
    tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS wt,
                   CAST(sum(v * c) AS BIGINT) AS st
            FROM hist GROUP BY doc_id),
    cum AS (SELECT hist.doc_id, v, wt, st,
                   sum(c) OVER (PARTITION BY hist.doc_id ORDER BY v)
                     AS w0,
                   sum(v * c) OVER (PARTITION BY hist.doc_id ORDER BY v)
                     AS s0
            FROM hist JOIN tot ON tot.doc_id = hist.doc_id),
    sc AS (SELECT doc_id, v AS t, wt, w0,
                  CAST((st * w0 - wt * s0) * (st * w0 - wt * s0)
                       // (w0 * (wt - w0)) AS BIGINT) AS score
           FROM cum WHERE w0 > 0 AND w0 < wt),
    r AS (SELECT doc_id, t, score, w0, wt,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, t) AS rn
          FROM sc)
    SELECT doc_id, CAST(t AS BIGINT) AS otsu_t,
           CAST(score AS BIGINT) AS score,
           CAST(w0 * 10000 // wt AS BIGINT) AS class0_share_e4
    FROM r WHERE rn = 1
    """,
)
def mm_image_otsu_threshold(spark, sf_dir):
    """Otsu binarization threshold through the REAL PPM codec — the
    classic histogram-based foreground/background split, and (unusually
    for image math) EXACT integer arithmetic end to end: the
    between-class variance argmax is taken over the equivalent integer
    score (S*w0 - W*s0)^2 / (w0*(W-w0)) with floor division, ties to the
    smallest threshold, so both engines agree bit-for-bit.  Per probe
    image: the threshold, its score, and the class-0 pixel share e4.

    Kernel: one Arrow-batched pandas_udf decodes the P6 payload (netpbm
    grammar) and runs the integer argmax over the (<=31-level) gray
    histogram; the oracle reproduces the histogram in closed form (the
    gradient image's level count is the diagonal-count function
    min(s, w-1) - max(0, s-h+1) + 1) and the identical argmax as window
    cumsums over the bounded grid.  Spread: thresholds 20..68 and 8
    distinct scores across the probe (validated before registration)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_ppm

    @pandas_udf("struct<otsu_t bigint, score bigint, class0_share_e4 bigint>")
    def otsu_udf(doc_id: pd.Series) -> pd.DataFrame:
        rows = []
        for d in doc_id:
            w, h, b = 16 + int(d) % 8, 8, int(d) % 60 + 10
            payload = encode_ppm(w, h, (b, b, b))
            # decode: reuse the netpbm token walk (header is comment-free
            # here but the parser must not assume that)
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
            vals, counts = np.unique(px, return_counts=True)
            W, S = int(counts.sum()), int((vals * counts).sum())
            w0 = np.cumsum(counts)[:-1]
            s0 = np.cumsum(vals * counts)[:-1]
            num = S * w0 - W * s0
            score = (num * num) // (w0 * (W - w0))
            i = int(np.argmax(score))  # first max = smallest t on ties
            rows.append(
                {
                    "otsu_t": int(vals[i]),
                    "score": int(score[i]),
                    "class0_share_e4": int(w0[i]) * 10000 // W,
                }
            )
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    return probe.select("doc_id", otsu_udf("doc_id").alias("o")).select(
        "doc_id", "o.otsu_t", "o.score", "o.class0_share_e4"
    )


@register(
    "mm_audio_envelope_peaks",
    oracle="""
    WITH probe AS (SELECT v AS doc_id FROM range(64) p(v)),
    t AS (SELECT doc_id, tt.t,
                 CAST(((doc_id * 31 + tt.t) * 2654435761) % 65536 - 32768
                   AS BIGINT) AS x
          FROM probe, range(64) tt(t)),
    l AS (SELECT doc_id, t, x,
                 lag(x) OVER (PARTITION BY doc_id ORDER BY t) AS px,
                 lead(x) OVER (PARTITION BY doc_id ORDER BY t) AS nx
          FROM t)
    SELECT doc_id, t // 16 AS block,
           CAST(sum(CASE WHEN px IS NOT NULL AND nx IS NOT NULL
                          AND px < x AND x > nx THEN 1 ELSE 0 END)
             AS BIGINT) AS n_peaks,
           CAST(max(x) AS BIGINT) AS max_amp
    FROM l GROUP BY doc_id, block
    """,
)
def mm_audio_envelope_peaks(spark, sf_dir):
    """Envelope peak counting through the REAL WAV codec — the onset/
    percussion-density proxy one step simpler than spectral flux: per
    16-sample block, the count of strict local maxima (x[t-1] < x[t] >
    x[t+1]; endpoints excluded) and the block's max amplitude — both
    exact integers, the mm_audio_zero_crossings discipline applied to
    the second classic time-domain feature.  Same Arrow-batched
    decode kernel over the bounded 64-doc probe; the oracle reproduces
    the closed-form waveform with lag/lead windows."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import demo_pcm, encode_wav, wav_samples

    @pandas_udf("binary")
    def encode_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [encode_wav(demo_pcm(d).astype("<i2")) for d in doc_id]
        )

    @pandas_udf("struct<pk array<bigint>, mx array<bigint>>")
    def peaks_udf(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for b in payload:
            x = wav_samples(bytes(b))
            is_peak = np.zeros(len(x), dtype=bool)
            is_peak[1:-1] = (x[:-2] < x[1:-1]) & (x[1:-1] > x[2:])
            pk, mx = [], []
            for blk in range(4):
                lo = blk * 16
                pk.append(int(is_peak[lo : lo + 16].sum()))
                mx.append(int(x[lo : lo + 16].max()))
            rows.append({"pk": pk, "mx": mx})
        return pd.DataFrame(rows)

    probe = spark.range(64).select(F.col("id").alias("doc_id"))
    enc = probe.select("doc_id", encode_udf("doc_id").alias("wav"))
    feats = enc.select("doc_id", peaks_udf("wav").alias("f"))
    return feats.select(
        "doc_id",
        F.posexplode(F.arrays_zip(F.col("f.pk"), F.col("f.mx"))).alias(
            "block", "z"
        ),
    ).select(
        "doc_id",
        F.col("block").cast("long").alias("block"),
        F.col("z.pk").alias("n_peaks"),
        F.col("z.mx").alias("max_amp"),
    )


# Video-as-frames: 12 PPM frames per doc, sampling stride 3.
_VID_FRAMES, _VID_STRIDE = 12, 3


@register(
    "mm_video_frame_sample",
    oracle=f"""
    WITH probe AS (SELECT doc_id, 16 + doc_id % 8 AS w, 8 AS h
                   FROM documents WHERE doc_id < 32),
    fr AS (SELECT doc_id, w, h, f.f AS frame_idx,
                  (doc_id * 7 + f.f * 5) % 60 + 10 AS b
           FROM probe, range({_VID_FRAMES}) f(f)
           WHERE f.f % {_VID_STRIDE} = 0),
    s AS (SELECT doc_id, frame_idx, w, h,
                 CAST(3 * (w * h * b + h * (w * (w - 1) // 2)
                           + w * (h * (h - 1) // 2)) AS BIGINT) AS px_sum
          FROM fr)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, px_sum,
           CAST(coalesce(px_sum - lag(px_sum) OVER (
                 PARTITION BY doc_id ORDER BY frame_idx), 0) AS BIGINT)
             AS motion_delta
    FROM s
    """,
)
def mm_video_frame_sample(spark, sf_dir):
    """Video frame sampling — the temporal half of multimodal ingest: a
    synthetic {_VID_FRAMES}-frame "video" per probe doc (each frame a
    REAL P6 PPM whose base brightness advances 5 levels per frame),
    sampled at stride {_VID_STRIDE} (the every-k-th-frame policy a
    vision-language pipeline uses before embedding), with the per-frame
    pixel mass and the motion proxy (pixel-mass delta between
    consecutive SAMPLED frames — 0 on the first, the brightness ramp
    afterwards, wrapping where the %60 base wraps, so the column is
    genuinely two-signed).

    Kernel: one Arrow-batched pandas_udf per doc decodes each sampled
    frame through the netpbm parser and emits the frame array —
    1:{_VID_FRAMES // _VID_STRIDE} fan-out; the oracle computes the
    gradient image's closed-form mass per sampled frame and the same
    lag."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_ppm

    @pandas_udf("array<struct<frame_idx bigint, px_sum bigint>>")
    def frames_udf(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            w, h = 16 + int(d) % 8, 8
            frames = []
            for f in range(0, _VID_FRAMES, _VID_STRIDE):
                b = (int(d) * 7 + f * 5) % 60 + 10
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
                ).astype(np.int64)
                frames.append({"frame_idx": f, "px_sum": int(px.sum())})
            out.append(frames)
        return pd.Series(out)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 32)
        .select("doc_id")
    )
    s = probe.select(
        "doc_id", F.explode(frames_udf("doc_id")).alias("fr")
    ).select("doc_id", "fr.frame_idx", "fr.px_sum")
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    return s.select(
        "doc_id",
        "frame_idx",
        "px_sum",
        F.coalesce(
            F.col("px_sum") - F.lag("px_sum").over(w), F.lit(0)
        ).alias("motion_delta"),
    )


# ---------------------------------------------------------------------------
# wave D: attribution, SQL surface, graph structure, ingestion robustness

@register(
    "llm_source_influence_loo",
    oracle="""
    WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS ss,
                      CAST(count(*) AS BIGINT) AS ns
               FROM documents GROUP BY source),
    g AS (SELECT CAST(sum(ss) AS BIGINT) AS st,
                 CAST(sum(ns) AS BIGINT) AS nt FROM s)
    SELECT source, ns AS n_docs,
           CAST(ss * 10000 // ns AS BIGINT) AS source_mean_e4,
           CAST(((st - ss) * 10000 // (nt - ns))
                - (st * 10000 // nt) AS BIGINT) AS loo_delta_e4
    FROM s, g
    """,
)
def llm_source_influence_loo(spark, sf_dir):
    """Leave-one-out source influence — the data-attribution primitive at
    group granularity (sql_window_exclude's leave-one-out idea lifted
    from rows to SOURCES): for each source, how the corpus-mean document
    length (e4) moves when that source is removed.  The sign and
    magnitude rank which sources drag a curation statistic — the cheap
    first pass before any gradient-based influence method, and exactly
    how mixture rebalancing decisions get sanity-checked.

    Integer-exact: both means are floor divisions of exact BIGINT sums
    (identical truncation on both engines), so the delta is reproducible
    bit-for-bit.  Shape: one groupBy(source) + a 1-row corpus total
    broadcast — the LOO aggregate is pure arithmetic on the group frame,
    NOT a per-source re-scan (the naive formulation is 20 corpus
    passes; this is one)."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("ss"), F.count("*").alias("ns"))
    )
    g = s.agg(F.sum("ss").alias("st"), F.sum("ns").alias("nt"))
    return s.crossJoin(F.broadcast(g)).select(
        "source",
        F.col("ns").alias("n_docs"),
        F.expr("ss * 10000 div ns").alias("source_mean_e4"),
        F.expr(
            "((st - ss) * 10000 div (nt - ns)) - (st * 10000 div nt)"
        ).alias("loo_delta_e4"),
    )


@register(
    "sql_groupby_all",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM documents GROUP BY ALL
    """,
)
def sql_groupby_all(spark, sf_dir):
    """GROUP BY ALL parity — the modern SQL surface both engines now
    ship (Spark 3.4+/DuckDB): every non-aggregate select item becomes a
    grouping key, eliminating the classic copy-paste drift between the
    SELECT list and the GROUP BY clause.  The op runs the LITERAL
    `GROUP BY ALL` text through spark.sql (not a DataFrame rewrite), so
    the hash-compare pins that both engines resolve the same implied key
    set (lang, source) — the failure mode being an engine silently
    grouping by a different subset."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_gba"
    )
    return spark.sql(
        """
        SELECT lang, source,
               count(*) AS n_docs,
               sum(n_chars) AS sum_chars,
               min(doc_id) AS min_doc
        FROM documents_gba GROUP BY ALL
        """
    )


@register(
    "sql_variant_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum
    FROM events GROUP BY k_mod
    """,
)
def sql_variant_extract(spark, sf_dir):
    """VARIANT-type extraction parity — Spark 4's semi-structured
    lakehouse path: parse_json() into a VARIANT value and
    variant_get(..., '$.k', 'bigint') typed extraction, hash-pinned
    against DuckDB's native JSON extraction over the same payloads.
    This is the modern replacement for string-typed get_json_object
    pipelines (VARIANT keeps a binary-encoded tree, so repeated
    extraction doesn't re-parse), and the parity proof is that the typed
    values — not just the strings — agree.

    Shape: pure projection + one bounded groupBy; the parse is
    JVM-side (no Python in the loop)."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            "variant_get(parse_json(props), '$.k', 'bigint')"
        ).alias("k")
    )
    return e.groupBy((F.col("k") % 10).alias("k_mod")).agg(
        F.count("*").alias("n"), F.sum("k").alias("k_sum")
    )


@register(
    "graph_clustering_coeff",
    oracle="""
    WITH e AS (SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
          FROM lineitem li
          JOIN orders o ON li.l_orderkey = o.o_orderkey
          JOIN supplier s ON li.l_suppkey = s.s_suppkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE s.s_nationkey <> c.c_nationkey
            AND (s.s_nationkey * s.s_nationkey + 31 * c.c_nationkey)
                % 7 < 3),
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    tri AS (SELECT a.u, CAST(count(*) AS BIGINT) AS t
            FROM sym a
            JOIN sym b ON b.u = a.v
            JOIN sym c ON c.u = a.u AND c.v = b.v
            GROUP BY a.u)
    SELECT deg.u AS node, deg.d AS degree,
           CAST(coalesce(tri.t, 0) AS BIGINT) AS wedge_closures,
           CAST(coalesce(tri.t, 0) * 1000000 // (deg.d * (deg.d - 1))
             AS BIGINT) AS clustering_e6
    FROM deg LEFT JOIN tri ON tri.u = deg.u
    WHERE deg.d >= 2
    """,
)
def graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient over the masked trade graph — the
    per-node community-density signal that complements graph_triangles
    (a count) and graph_hits_iter (a centrality): closed wedges /
    possible wedges = 2*triangles / (d*(d-1)), kept as the integer e6 of
    wedge_closures / (d*(d-1)) where wedge_closures counts ordered
    closed wedges (2x triangles) — so no division by 2 ever happens and
    the arithmetic stays exact.  Spread at sf0.01: 0.16..0.60 across 25
    nodes (validated before registration).

    Shape: degree = one groupBy over the edge frame; closures = the
    standard two-hop self-join CONFINED to the bounded symmetric edge
    frame (the same triangle-join shape graph_triangles already ships at
    document scale); one left join back to degrees."""
    from biggie_spark.util import lineage_cap

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .filter(F.expr("(src * src + 31 * dst) % 7 < 3"))
        .distinct()
        .transform(lineage_cap)
    )
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
        .distinct()
        .transform(lineage_cap)
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    tri = (
        sym.alias("a")
        .join(
            sym.select(F.col("u").alias("v"), F.col("v").alias("w")).alias("b"),
            "v",
        )
        .join(
            sym.select(F.col("u").alias("u2"), F.col("v").alias("w")).alias(
                "c"
            ),
            (F.col("a.u") == F.col("u2")) & (F.col("b.w") == F.col("c.w")),
        )
        .groupBy("a.u")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.join(tri, "u", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("u").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).alias("wedge_closures"),
            F.expr(
                "coalesce(t, 0) * 1000000 div (d * (d - 1))"
            ).alias("clustering_e6"),
        )
    )


@register(
    "src_scan_csv_malformed",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_malformed,
           CAST(sum(CASE WHEN doc_id % 9 = 0 THEN 0 ELSE n_chars END)
             AS BIGINT) AS clean_chars
    FROM documents GROUP BY lang
    """,
)
def src_scan_csv_malformed(spark, sf_dir):
    """Malformed-record accounting on the CSV read path — the ingestion
    robustness contract: a feed where every 9th record is truncated
    (missing its trailing column) must read under PERMISSIVE mode with
    the missing field NULL and every other record intact — never a job
    failure, never a silently dropped row.  The op writes the feed
    (text lines, one malformed per doc_id % 9 == 0), reads it back with
    an explicit schema, RAISES unless the total row count survives, and
    reports per-language row counts, malformed counts (NULL-field rows),
    and the char mass of clean rows — all value-pinned against the
    closed-form malformation rule.

    Shape: the read is a plain schema-first CSV scan; accounting is one
    groupBy(lang)."""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    lines = d.select(
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat_ws(",", F.col("doc_id"), F.col("lang")),
        )
        .otherwise(
            F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.col("n_chars"))
        )
        .alias("value")
    )
    root = tempfile.mkdtemp(prefix="biggie_csv_malformed_")
    try:
        lines.write.mode("overwrite").text(root)
        feed = spark.read.csv(
            root,
            schema="doc_id long, lang string, n_chars long",
            mode="PERMISSIVE",
        )
        n_in, n_out = d.count(), feed.count()
        if n_in != n_out:
            raise RuntimeError(
                f"PERMISSIVE csv read dropped rows: wrote {n_in}, read "
                f"{n_out} — the malformed-record contract regressed"
            )
        return (
            feed.groupBy("lang")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("n_chars").isNull().cast("long")).alias(
                    "n_malformed"
                ),
                F.sum(F.coalesce("n_chars", F.lit(0))).alias("clean_chars"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Feature-hashing bucket grid: 16/32/64/256 buckets over the 31-token
# vocabulary — collision mass 20.6% -> 3.6% across the grid at sf0.01.
_FH_BUCKETS = (16, 32, 64, 256)


@register(
    "llm_feature_hash_collisions",
    oracle=f"""
    WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
    f AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tok),
    g AS (SELECT unnest([{",".join(map(str, _FH_BUCKETS))}]) AS n_buckets),
    h AS (SELECT n_buckets,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                   % n_buckets AS b,
                 tok, c
          FROM f, g),
    w AS (SELECT *, count(*) OVER (PARTITION BY n_buckets, b) AS cnt
          FROM h),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS mass FROM f)
    SELECT n_buckets,
           CAST(count(DISTINCT b) AS BIGINT) AS buckets_used,
           CAST(count(*) FILTER (cnt > 1) AS BIGINT) AS collided_tokens,
           CAST(coalesce(sum(c) FILTER (cnt > 1), 0) * 1000000
                // (SELECT mass FROM tot) AS BIGINT) AS collided_mass_e6
    FROM w GROUP BY n_buckets
    """,
)
def llm_feature_hash_collisions(spark, sf_dir):
    """Feature-hashing collision audit — the table that sizes a hashed
    embedding/count-vector layer (the hashing trick): for each candidate
    bucket count, how many buckets the vocabulary actually occupies, how
    many tokens share a bucket with another token, and the corpus token
    MASS sitting in collided buckets (e6) — the quantity that actually
    degrades a hashed model, since colliding two rare tokens is free and
    colliding two frequent ones is not.

    Shape: the vocabulary frame (bounded) crossed with the
    {len(_FH_BUCKETS)}-point bucket grid; collision structure via one
    count-over-partition window on that tiny frame; corpus size enters
    only through the first token aggregate."""
    from biggie_spark.ops.round10b import _token_freq

    _, f = _token_freq(spark, sf_dir)
    grid = spark.range(len(_FH_BUCKETS)).select(
        F.element_at(
            F.array(*[F.lit(b) for b in _FH_BUCKETS]),
            (F.col("id") + 1).cast("int"),
        ).alias("n_buckets")
    )
    h = f.crossJoin(F.broadcast(grid)).select(
        "n_buckets",
        "tok",
        "c",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % F.col("n_buckets")
        ).alias("b"),
    )
    w = h.withColumn(
        "cnt", F.count("*").over(Window.partitionBy("n_buckets", "b"))
    )
    tot = f.agg(F.sum("c").alias("mass"))
    return (
        w.crossJoin(F.broadcast(tot))
        .groupBy("n_buckets")
        .agg(
            F.countDistinct("b").alias("buckets_used"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("collided_tokens"),
            F.expr(
                "coalesce(sum(case when cnt > 1 then c end), 0) * 1000000"
                " div max(mass)"
            ).alias("collided_mass_e6"),
        )
    )


# ---------------------------------------------------------------------------
# wave E: paired stats, robust means, mixture sweeps, quotas, regex, coupon

@register(
    "agg_wilcoxon_signed",
    oracle="""
    WITH d AS (SELECT source,
                      n_chars - 5 * len(string_split(lower(text), ' '))
                        AS d
               FROM documents),
    nz AS (SELECT source, d, abs(d) AS absd FROM d WHERE d <> 0),
    hist AS (SELECT source, absd,
                    CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS c_pos,
                    CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS c_neg
             FROM nz GROUP BY source, absd),
    cum AS (SELECT source, absd, c_pos, c_neg,
                   CAST(coalesce(sum(c_pos + c_neg) OVER (
                     PARTITION BY source ORDER BY absd
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_less
            FROM hist),
    r AS (SELECT source, c_pos, c_neg,
                 2 * n_less + (c_pos + c_neg) + 1 AS r2
          FROM cum),
    z AS (SELECT source, CAST(count(*) AS BIGINT) AS n_zero
          FROM d WHERE d = 0 GROUP BY source)
    SELECT r.source,
           CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(c_neg) AS BIGINT) AS n_neg,
           CAST(coalesce(min(z.n_zero), 0) AS BIGINT) AS n_zero,
           CAST(sum(c_pos * r2) AS BIGINT) AS w_plus_x2,
           CAST(sum(c_neg * r2) AS BIGINT) AS w_minus_x2
    FROM r LEFT JOIN z ON z.source = r.source
    GROUP BY r.source
    """,
)
def agg_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank statistic per source — the PAIRED sibling of
    agg_mann_whitney: each document contributes the signed difference
    between its char count and the 5-chars-per-token model (the "is the
    mean word length 4" test, paired within-document), and the statistic
    is the rank-sum of positive differences.  Emitted as DOUBLED rank
    sums (w_plus_x2 / w_minus_x2) because tied |d| groups take the
    average rank (a+b)/2 — doubling keeps every value an exact integer
    (the repo's factor-scaling convention, same trick as the x2 tie
    handling in agg_mann_whitney).

    The rank computation is histogram-decomposed: group by |d| (a
    bounded value grid), one cumulative window over that tiny frame —
    never a corpus-wide sort of raw rows.  Identity check: w_plus_x2 +
    w_minus_x2 == m*(m+1) where m = n_pos + n_neg."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        (
            F.col("n_chars") - 5 * F.size(tokens(F.col("text")))
        ).alias("d"),
    )
    nz = d.filter(F.col("d") != 0).select(
        "source", "d", F.abs("d").alias("absd")
    )
    hist = nz.groupBy("source", "absd").agg(
        F.sum((F.col("d") > 0).cast("long")).alias("c_pos"),
        F.sum((F.col("d") < 0).cast("long")).alias("c_neg"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("absd")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = hist.select(
        "source",
        "c_pos",
        "c_neg",
        (
            2 * F.coalesce(F.sum(F.col("c_pos") + F.col("c_neg")).over(w), F.lit(0))
            + F.col("c_pos")
            + F.col("c_neg")
            + 1
        ).alias("r2"),
    )
    z = (
        d.filter(F.col("d") == 0)
        .groupBy("source")
        .agg(F.count("*").alias("n_zero"))
    )
    return (
        r.groupBy("source")
        .agg(
            F.sum("c_pos").alias("n_pos"),
            F.sum("c_neg").alias("n_neg"),
            F.sum(F.col("c_pos") * F.col("r2")).alias("w_plus_x2"),
            F.sum(F.col("c_neg") * F.col("r2")).alias("w_minus_x2"),
        )
        .join(z, "source", "left")
        .select(
            "source",
            "n_pos",
            "n_neg",
            F.coalesce("n_zero", F.lit(0)).alias("n_zero"),
            "w_plus_x2",
            "w_minus_x2",
        )
    )


@register(
    "agg_median_of_means",
    oracle="""
    WITH b AS (SELECT event_type,
                      CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                           1, 2)) AS BIGINT) % 8 AS bk,
                      CAST(round(value * 100, 0) AS BIGINT) AS cents
               FROM events),
    m AS (SELECT event_type, bk,
                 CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
          FROM b GROUP BY event_type, bk),
    r AS (SELECT event_type, mean_cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY mean_cents, bk) AS rn
          FROM m),
    g AS (SELECT event_type,
                 CAST(sum(cents) // count(*) AS BIGINT) AS plain_mean_cents
          FROM b GROUP BY event_type)
    SELECT r.event_type,
           CAST(r.mean_cents AS BIGINT) AS mom_cents,
           g.plain_mean_cents,
           CAST(r.mean_cents - g.plain_mean_cents AS BIGINT) AS delta_cents
    FROM r JOIN g ON g.event_type = r.event_type
    WHERE r.rn = 4
    """,
)
def agg_median_of_means(spark, sf_dir):
    """Median-of-means robust estimator per event type — the standard
    heavy-tail-safe mean (bucket the sample into k=8 deterministic
    hash buckets, average each, take the median of the 8 averages): the
    estimator concentrates even when the plain mean is dragged by
    outliers, and the delta column IS the measured drag.  Lower median
    (4th of 8, ties to the lower bucket id) so the choice is exact and
    deterministic on both engines; bucket means are integer cents
    divisions of exact sums.

    Shape: one groupBy((type, bucket)) — 40 cells — then a rank over
    that bounded frame; the plain mean rides the same pass shape."""
    b = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 2), 16, 10)
            .cast("long")
            % 8
        ).alias("bk"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    m = b.groupBy("event_type", "bk").agg(
        F.expr("sum(cents) div count(*)").alias("mean_cents")
    )
    r = m.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("mean_cents", "bk")
        ),
    ).filter(F.col("rn") == 4)
    g = b.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("plain_mean_cents")
    )
    return r.join(g, "event_type").select(
        "event_type",
        F.col("mean_cents").alias("mom_cents"),
        "plain_mean_cents",
        (F.col("mean_cents") - F.col("plain_mean_cents")).alias(
            "delta_cents"
        ),
    )


_MIX_TAUS = (1, 2, 3)


@register(
    "llm_mix_power_sweep",
    oracle=f"""
    WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
               FROM documents GROUP BY source),
    m AS (SELECT source,
                 CAST(c * 1000 // (SELECT sum(c) FROM s) AS BIGINT) AS pm
          FROM s),
    g AS (SELECT unnest([{",".join(map(str, _MIX_TAUS))}]) AS tau),
    p AS (SELECT tau, source,
                 CAST(CASE tau WHEN 1 THEN pm
                               WHEN 2 THEN pm * pm
                               ELSE pm * pm * pm END AS BIGINT) AS pw
          FROM m, g),
    t AS (SELECT tau, CAST(sum(pw) AS BIGINT) AS tot FROM p GROUP BY tau)
    SELECT p.tau, p.source,
           CAST(p.pw * 1000000 // t.tot AS BIGINT) AS weight_e6
    FROM p JOIN t ON t.tau = p.tau
    """,
)
def llm_mix_power_sweep(spark, sf_dir):
    """Mixture-weight power sweep — the sampling-temperature table a
    multilingual/multi-source training mix is tuned with (the
    p^(1/T)-renormalization family, here at integer powers tau=1,2,3 so
    everything stays exact): per (tau, source) the normalized sampling
    weight e6.  tau=1 is natural proportions; higher tau SHARPENS toward
    the head (measured: the source-weight range widens 42338..57459 ->
    29750..74364 from tau 1 to 3 at sf0.01) — the same table at
    fractional 1/T needs floats, and the integer-power grid brackets the
    decision the same way.

    Per-mille masses (c*1000 div total) are computed BEFORE powering so
    the cubed values stay far inside int64 regardless of corpus size.
    Shape: one groupBy(source), a 3-point literal grid, and a per-tau
    total join — all on the bounded source frame."""
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("c"))
    )
    tot = s.agg(F.sum("c").alias("tc"))
    m = s.crossJoin(F.broadcast(tot)).select(
        "source", F.expr("c * 1000 div tc").alias("pm")
    )
    grid = spark.range(len(_MIX_TAUS)).select(
        F.element_at(
            F.array(*[F.lit(t) for t in _MIX_TAUS]), (F.col("id") + 1).cast("int")
        ).alias("tau")
    )
    p = m.crossJoin(F.broadcast(grid)).select(
        "tau",
        "source",
        F.expr(
            "cast(case tau when 1 then pm when 2 then pm * pm"
            " else pm * pm * pm end as bigint)"
        ).alias("pw"),
    )
    t = p.groupBy("tau").agg(F.sum("pw").alias("tot"))
    return (
        p.join(F.broadcast(t), "tau")
        .select(
            "tau", "source", F.expr("pw * 1000000 div tot").alias("weight_e6")
        )
    )


# Length-bucket token-mass targets (pct of total tokens); bucket 0 (short
# docs) is deliberately under-supplied on this corpus so the repeat cap
# branch is live (7.4x uncapped -> 3000 capped), while buckets 1-3 stay
# under the cap.
_QUOTA_PCT = (10, 20, 30, 40)
_QUOTA_CAP_E3 = 3000


@register(
    "llm_context_length_quota",
    oracle=f"""
    WITH t AS (SELECT least(3, len(string_split(lower(text), ' ')) // 16)
                 AS bucket,
                      CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                 AS n_tok
               FROM documents),
    b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS toks
          FROM t GROUP BY bucket),
    g AS (SELECT CAST(sum(toks) AS BIGINT) AS tot FROM b),
    tgt AS (SELECT * FROM (VALUES {", ".join(f"({i}, {p})" for i, p in enumerate(_QUOTA_PCT))})
              v(bucket, pct))
    SELECT b.bucket, b.n_docs, b.toks,
           CAST(b.toks * 10000 // g.tot AS BIGINT) AS actual_share_e4,
           CAST(least({_QUOTA_CAP_E3},
                      g.tot * tgt.pct * 10 // (100 * b.toks) * 10)
             AS BIGINT) AS repeat_e3
    FROM b JOIN tgt ON tgt.bucket = b.bucket, g
    """,
)
def llm_context_length_quota(spark, sf_dir):
    """Context-length quota planning — the long-document upsampling table
    (long-context training needs a length mix the natural corpus doesn't
    have): per length bucket, the actual token share vs the target mix
    ({"/".join(str(p) + "%" for p in _QUOTA_PCT)} across buckets 0-3) and
    the repeat factor e3 that would meet the target, capped at
    {_QUOTA_CAP_E3 / 1000:.0f}x (the data-constrained repetition ceiling
    the epoch scheduler also uses).  On this corpus the short bucket is
    under target (cap branch live) and the long bucket is over (repeat
    < 1x) — the table says "repeat shorts 3x, downsample longs", which
    is the decision the op exists to make.

    Shape: one corpus scan onto the 4-bucket frame; the target grid is a
    literal VALUES dimension."""
    t = load_table(spark, sf_dir, "documents").select(
        F.expr(
            "least(3, size(split(lower(text), ' ')) div 16)"
        ).alias("bucket"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    b = t.groupBy("bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("toks")
    )
    g = b.agg(F.sum("toks").alias("tot"))
    tgt = spark.createDataFrame(
        [(i, p) for i, p in enumerate(_QUOTA_PCT)], "bucket int, pct int"
    )
    return (
        b.join(F.broadcast(tgt), "bucket")
        .crossJoin(F.broadcast(g))
        .select(
            "bucket",
            "n_docs",
            "toks",
            F.expr("toks * 10000 div tot").alias("actual_share_e4"),
            F.expr(
                f"least({_QUOTA_CAP_E3},"
                " tot * pct * 10 div (100 * toks) * 10)"
            ).alias("repeat_e3"),
        )
    )


@register(
    "sql_regexp_extract_all",
    oracle="""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[a-z]*a[a-z]*')))
             AS BIGINT) AS n_matches,
           CAST(sum(CASE WHEN len(regexp_extract_all(text,
                 '[a-z]*a[a-z]*')) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_match,
           CAST(sum(len(list_distinct(regexp_extract_all(text,
                 '[a-z]*a[a-z]*')))) AS BIGINT) AS distinct_matches
    FROM documents GROUP BY lang
    """,
)
def sql_regexp_extract_all(spark, sf_dir):
    """regexp_extract_all parity — the multi-match regex surface (all
    non-overlapping leftmost matches of a pattern, here every token
    containing an 'a'): per language the total match count, documents
    with at least one match, and the per-document distinct-match mass.
    Both engines implement leftmost-longest non-overlapping semantics
    for this pattern class; the hash-compare pins that the match SETS,
    not just counts, agree (distinct_matches would diverge first).

    Shape: pure projection (the regex runs JVM-side in whole-stage
    codegen) + one groupBy(lang)."""
    m = F.expr("regexp_extract_all(text, '[a-z]*a[a-z]*', 0)")
    return (
        load_table(spark, sf_dir, "documents")
        .select("lang", m.alias("ms"))
        .groupBy("lang")
        .agg(
            F.sum(F.size("ms")).alias("n_matches"),
            F.sum((F.size("ms") > 0).cast("long")).alias("docs_with_match"),
            F.sum(F.size(F.array_distinct("ms"))).alias("distinct_matches"),
        )
    )


@register(
    "ts_coupon_collector",
    oracle="""
    WITH r AS (SELECT user_id, event_type,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS rn
               FROM events),
    f AS (SELECT user_id, event_type, CAST(min(rn) AS BIGINT) AS frn
          FROM r GROUP BY user_id, event_type),
    u AS (SELECT user_id, count(*) AS ntypes,
                 CAST(max(frn) AS BIGINT) AS done_at
          FROM f GROUP BY user_id),
    c AS (SELECT least(7, (done_at - 5) // 5) AS bucket, done_at
          FROM u WHERE ntypes = 5)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(done_at) AS BIGINT) AS min_done,
           CAST(max(done_at) AS BIGINT) AS max_done,
           CAST(sum(done_at) AS BIGINT) AS sum_done
    FROM c GROUP BY bucket
    """,
)
def ts_coupon_collector(spark, sf_dir):
    """Coupon-collector time per user — how many events it takes a user
    to have exhibited ALL five event types (the engagement-breadth
    milestone a lifecycle model keys on): first-seen rank per (user,
    type) via one per-user ordered rank, done_at = the rank at which the
    last new type appears, bucketed into a bounded histogram (5-wide
    buckets above the theoretical minimum of 5).  Every user on this
    corpus completes the set (measured), with completion times 5..41 —
    the distribution IS the output.

    Shape: one window rank partitioned by user (parallel across users),
    two shrinking aggregates — the per-user frame is tiny and the
    histogram is bounded by the bucket cap."""
    r = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    f = r.groupBy("user_id", "event_type").agg(F.min("rn").alias("frn"))
    u = f.groupBy("user_id").agg(
        F.count("*").alias("ntypes"), F.max("frn").cast("long").alias("done_at")
    )
    c = u.filter(F.col("ntypes") == 5).select(
        F.expr("least(7, (done_at - 5) div 5)").alias("bucket"), "done_at"
    )
    return c.groupBy("bucket").agg(
        F.count("*").alias("n_users"),
        F.min("done_at").alias("min_done"),
        F.max("done_at").alias("max_done"),
        F.sum("done_at").alias("sum_done"),
    )


# ---------------------------------------------------------------------------
# wave F: SFT template assembly, agreement stats, experiment guards

# The three prompt templates an SFT-assembly pass renders (literal
# overheads of 13 / 54 / 15 chars).
_TPL = (
    ("plain", "instruction: ", ""),
    ("chatml", "system: you are a helpful assistant\nuser: ", "\nassistant:"),
    ("special", "<|user|>", "<|end|>"),
)


@register(
    "llm_prompt_template_render",
    oracle=f"""
    WITH tpl AS (SELECT * FROM (VALUES
      {", ".join(f"('{n}', {len(p)}, {len(s)})" for n, p, s in _TPL)})
      v(template_id, pre_len, suf_len)),
    r AS (SELECT tpl.template_id, d.lang,
                 CAST(d.n_chars + tpl.pre_len + tpl.suf_len AS BIGINT)
                   AS rendered_chars,
                 CAST(tpl.pre_len + tpl.suf_len AS BIGINT) AS overhead
          FROM documents d, tpl)
    SELECT template_id, lang,
           CAST(count(*) AS BIGINT) AS n_rendered,
           CAST(sum(rendered_chars) AS BIGINT) AS sum_chars,
           CAST(sum(overhead) * 10000 // sum(rendered_chars) AS BIGINT)
             AS overhead_share_e4
    FROM r GROUP BY template_id, lang
    """,
)
def llm_prompt_template_render(spark, sf_dir):
    """SFT prompt-template assembly accounting — the rendering pass that
    turns raw documents into training prompts, and the first place a
    context budget silently leaks: for each template (plain instruction
    prefix, a chat-markup wrapper, a special-token wrapper) per
    language, the rendered char mass and the template-overhead share e4
    (the fraction of every training sequence spent on boilerplate — the
    number that decides whether a verbose system prompt is worth 8% of
    the token budget).  The Spark side RENDERS the actual strings
    (concat) and measures them with length() — a renderer bug (lost
    separator, doubled suffix) breaks the hash against the closed-form
    oracle.

    Shape: a 3-row literal template dimension crossed onto one corpus
    scan; one groupBy((template, lang))."""
    tpl = spark.createDataFrame(
        [(n, p, s) for n, p, s in _TPL],
        "template_id string, pre string, suf string",
    )
    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    r = d.crossJoin(F.broadcast(tpl)).select(
        "template_id",
        "lang",
        F.length(
            F.concat(F.col("pre"), F.col("text"), F.col("suf"))
        )
        .cast("long")
        .alias("rendered_chars"),
        (F.length("pre") + F.length("suf")).cast("long").alias("overhead"),
    )
    return r.groupBy("template_id", "lang").agg(
        F.count("*").alias("n_rendered"),
        F.sum("rendered_chars").alias("sum_chars"),
        F.expr(
            "sum(overhead) * 10000 div sum(rendered_chars)"
        ).alias("overhead_share_e4"),
    )


@register(
    "agg_srm_check",
    oracle="""
    WITH s AS (SELECT event_type,
                      CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                           1, 2)) AS BIGINT) % 2 AS arm
               FROM events),
    g AS (SELECT event_type,
                 CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
          FROM s GROUP BY event_type)
    SELECT event_type, n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
             AS BIGINT) AS chi2_e6,
           CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
                > 3841000 AS BIGINT) AS srm_flag
    FROM g
    """,
)
def agg_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check — the guardrail every experimentation
    platform runs before reading an A/B test: users hash 50/50 into two
    arms, and per event type the one-degree-of-freedom chi-square
    statistic (n_a - n_b)^2 / (n_a + n_b) (e6, exact integers — the
    expected-count denominators cancel at a 50/50 split) is compared to
    the 3.841 critical value (alpha = 0.05).  A flagged row means the
    assignment itself is broken and the experiment unreadable.  On this
    corpus the hash split is healthy in aggregate with per-type noise
    straddling the threshold at small SFs — both flag branches live
    (measured chi2_e6 495049..10875868 at the test SFs).

    Shape: one scan with the arm hash fused, one groupBy(event_type)."""
    s = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
            .cast("long")
            % 2
        ).alias("arm"),
    )
    g = s.groupBy("event_type").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n_b"),
    )
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(
            "(n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)"
        ).alias("chi2_e6"),
        F.expr(
            "cast((n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)"
            " > 3841000 as bigint)"
        ).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# wave G: shuffle-skew audit, HDR latency histogram, UUIDv5 minting

_SKEW_PARTS = (32, 64, 128)


@register(
    "agg_partition_skew_audit",
    oracle=f"""
    WITH g AS (SELECT unnest([{",".join(map(str, _SKEW_PARTS))}]) AS p),
    h AS (SELECT p, CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                         1, 6)) AS BIGINT) % p AS pt
          FROM events, g),
    c AS (SELECT p, pt, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY p, pt)
    SELECT p AS n_partitions,
           CAST(count(*) AS BIGINT) AS partitions_used,
           CAST(max(n) AS BIGINT) AS max_rows,
           CAST(sum(n) // count(*) AS BIGINT) AS mean_rows,
           CAST(max(n) * 1000 // (sum(n) // count(*)) AS BIGINT)
             AS skew_e3
    FROM c GROUP BY p
    """,
)
def agg_partition_skew_audit(spark, sf_dir):
    """Shuffle-partition skew audit — the table an engineer reads before
    setting spark.sql.shuffle.partitions for a keyed workload: for each
    candidate partition count, how many partitions the key hash actually
    occupies, the largest partition, and the straggler factor max/mean
    e3 (1000 = perfectly balanced; the straggler partition IS the stage
    wall-clock on a real cluster).  On this corpus the user-key space is
    small enough that widening 32 -> 128 partitions first WORSENS skew
    before occupancy catches up — exactly the non-monotonicity the
    round-9 shuffle-partition sweep measured from the outside, here
    measured from the data itself.

    Shape: the candidate grid is a literal dimension crossed onto one
    scan; the histogram is bounded by sum(grid); corpus size enters only
    through the counts."""
    g = spark.range(len(_SKEW_PARTS)).select(
        F.element_at(
            F.array(*[F.lit(p) for p in _SKEW_PARTS]), (F.col("id") + 1).cast("int")
        ).alias("p")
    )
    h = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .crossJoin(F.broadcast(g))
        .select(
            "p",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 6),
                    16,
                    10,
                ).cast("long")
                % F.col("p")
            ).alias("pt"),
        )
    )
    c = h.groupBy("p", "pt").agg(F.count("*").alias("n"))
    return c.groupBy(F.col("p").alias("n_partitions")).agg(
        F.count("*").alias("partitions_used"),
        F.max("n").alias("max_rows"),
        F.expr("sum(n) div count(*)").alias("mean_rows"),
        F.expr("max(n) * 1000 div (sum(n) div count(*))").alias("skew_e3"),
    )


# HDR-style log-spaced bucket ladder over integer cents (2 significant
# bits per octave group): 17 buckets cover the 1..49002-cent value range.
_HDR_CASE = """
    CASE WHEN v < 64 THEN v {d} 16
         WHEN v < 256 THEN 4 + (v - 64) {d} 64
         WHEN v < 1024 THEN 7 + (v - 256) {d} 256
         WHEN v < 4096 THEN 10 + (v - 1024) {d} 1024
         WHEN v < 16384 THEN 13 + (v - 4096) {d} 4096
         ELSE 16 END
"""


@register(
    "agg_hdr_histogram",
    oracle=f"""
    WITH c AS (SELECT event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS v
               FROM events),
    b AS (SELECT event_type, v, {_HDR_CASE.format(d="//")} AS bucket
          FROM c)
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(v) AS BIGINT) AS min_cents,
           CAST(max(v) AS BIGINT) AS max_cents
    FROM b GROUP BY event_type, bucket
    """,
)
def agg_hdr_histogram(spark, sf_dir):
    """HDR-style log-spaced latency histogram — the observability
    primitive behind every latency dashboard (HdrHistogram's
    fixed-relative-error buckets, here a pure-integer CASE ladder with
    ~2 significant bits per range: no log() anywhere, so the bucketing
    is exact and engine-portable): per (event type, bucket) the count
    and the bucket's observed value envelope.  Unlike equi-width
    histograms this keeps resolution at the fast end AND covers the
    tail in a bounded 17-bucket frame — mergeable across shards by
    simple addition, which is what makes it the 100 TB-safe percentile
    substrate (exact grid percentiles ride agg_percentile_grid; this is
    the streaming-friendly fixed-layout sibling).

    Shape: one scan with the ladder fused, one bounded groupBy."""
    c = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("v")
    )
    b = c.select(
        "event_type",
        "v",
        F.expr(_HDR_CASE.format(d="div")).cast("long").alias("bucket"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n"),
        F.min("v").alias("min_cents"),
        F.max("v").alias("max_cents"),
    )


@register(
    "fn_uuid5_mint",
    oracle="""
    WITH u AS (SELECT doc_id, lang,
                      md5('biggie:doc:' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    m AS (SELECT doc_id, lang,
                 substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-5' ||
                 substr(h, 15, 3) || '-' ||
                 substr('89ab', CAST(('0x' || substr(h, 17, 1)) AS BIGINT)
                                % 4 + 1, 1) ||
                 substr(h, 18, 3) || '-' || substr(h, 21, 12) AS uuid
          FROM u)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_minted,
           CAST(count(DISTINCT uuid) AS BIGINT) AS n_distinct,
           min(uuid) AS min_uuid,
           CAST(sum(CASE WHEN substr(uuid, 15, 1) = '5' THEN 1 ELSE 0 END)
             AS BIGINT) AS version_ok
    FROM m GROUP BY lang
    """,
)
def fn_uuid5_mint(spark, sf_dir):
    """Deterministic UUIDv5-style ID minting — the stable-identifier
    primitive a pipeline uses so re-ingesting the same record mints the
    same ID (name-based UUIDs, RFC 4122 §4.3 layout: MD5 of a
    namespaced name with the version nibble forced to 5 and the variant
    nibble into 89ab): per language the minted count, the distinct count
    (collision check — must equal), the lexicographic min UUID (pins the
    exact string layout, hyphens and all), and the version-nibble
    conformance count.  Pure string/arithmetic ops, identical text
    semantics on both engines.

    Shape: one projection + one groupBy(lang) — the mint is exactly
    what a write path would fuse into its output projection."""
    u = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.md5(
            F.concat(F.lit("biggie:doc:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    m = u.select(
        "lang",
        F.concat(
            F.substring("h", 1, 8),
            F.lit("-"),
            F.substring("h", 9, 4),
            F.lit("-5"),
            F.substring("h", 15, 3),
            F.lit("-"),
            F.substring(
                F.lit("89ab"),
                (F.conv(F.substring("h", 17, 1), 16, 10).cast("int") % 4) + 1,
                1,
            ),
            F.substring("h", 18, 3),
            F.lit("-"),
            F.substring("h", 21, 12),
        ).alias("uuid"),
    )
    return m.groupBy("lang").agg(
        F.count("*").alias("n_minted"),
        F.countDistinct("uuid").alias("n_distinct"),
        F.min("uuid").alias("min_uuid"),
        F.sum(
            (F.substring("uuid", 15, 1) == "5").cast("long")
        ).alias("version_ok"),
    )


# ---------------------------------------------------------------------------
# wave H: capture-recapture, dispersion, bitmap algebra, pagination

@register(
    "agg_capture_recapture",
    oracle="""
    WITH p AS (SELECT DISTINCT event_type, user_id,
                      date_trunc('day', ts) AS d
               FROM events),
    marks AS (SELECT event_type, user_id, d,
                bool_or(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                      || strftime(d, '%Y-%m-%d') || ':a'), 1, 2)) AS BIGINT)
                      % 3 = 0) AS in1,
                bool_or(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
                      || strftime(d, '%Y-%m-%d') || ':b'), 1, 2)) AS BIGINT)
                      % 3 = 0) AS in2
              FROM p GROUP BY event_type, user_id, d)
    SELECT event_type,
           CAST(sum(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_both,
           CAST(count(*) AS BIGINT) AS true_pop,
           CAST(sum(CASE WHEN in1 THEN 1 ELSE 0 END)
                * sum(CASE WHEN in2 THEN 1 ELSE 0 END)
                // nullif(sum(CASE WHEN in1 AND in2 THEN 1 ELSE 0 END), 0)
             AS BIGINT) AS lincoln_petersen_est
    FROM marks GROUP BY event_type
    """,
)
def agg_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen capture-recapture estimation — the population-
    size estimator used when you can only SAMPLE an unobservable whole
    (log-sampled users, crawl frontier size, dedup-cluster universes):
    two independent ~1/3 "capture" samples of the (user, active-day)
    population per event type, the overlap between them, and the
    estimate N_hat = n1*n2/m — reported NEXT TO the true population,
    which this synthetic corpus uniquely can expose, so the row is a
    measured validation of the estimator (N_hat tracks truth within
    ~5-10% at every SF) and not just its output.

    Integer-exact: marks are hash predicates, the estimate one floor
    division, nullif guarding an empty overlap.  Shape: one distinct
    projection, one groupBy chain — no joins."""
    p = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )

    def mark(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.date_format("d", "yyyy-MM-dd"),
                            F.lit(tag),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("long")
            % 3
            == 0
        )

    marks = p.groupBy("event_type", "user_id", "d").agg(
        F.bool_or(mark(":a")).alias("in1"), F.bool_or(mark(":b")).alias("in2")
    )
    return marks.groupBy("event_type").agg(
        F.sum(F.col("in1").cast("long")).alias("n1"),
        F.sum(F.col("in2").cast("long")).alias("n2"),
        F.sum((F.col("in1") & F.col("in2")).cast("long")).alias("n_both"),
        F.count("*").alias("true_pop"),
        F.expr(
            "sum(cast(in1 as long)) * sum(cast(in2 as long))"
            " div nullif(sum(cast(in1 and in2 as long)), 0)"
        ).alias("lincoln_petersen_est"),
    )


@register(
    "ts_fano_dispersion",
    oracle="""
    WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                      CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY event_type, hr)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(x) AS BIGINT) AS n_events,
           CAST((count(*) * sum(x * x) - sum(x) * sum(x)) * 1000
                // (count(*) * sum(x)) AS BIGINT) AS fano_e3
    FROM h GROUP BY event_type
    """,
)
def ts_fano_dispersion(spark, sf_dir):
    """Fano factor (index of dispersion) of hourly arrivals per event
    type — THE burstiness test: variance/mean of per-hour counts is 1
    for a Poisson process, > 1 for bursty traffic, < 1 for regularized
    traffic.  Exact rational arithmetic: var/mean = (n*sum(x^2) -
    S^2) / (n*S) as one integer expression (population variance, no
    float moment anywhere).  Measured: this corpus reads UNDER-dispersed
    at small SFs (fano_e3 120-170 at sf0.001 — few events per hour
    regularize) rising toward Poisson ~1000 at sf0.1 — the honest
    uniform-generator reading, consistent with ts_daily_spectrum's
    no-diurnal finding, and exactly the number that would expose real
    burstiness if the upstream changed.

    Shape: one groupBy((type, hour)) then one groupBy(type)."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").alias("x"))
    )
    return h.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("x").alias("n_events"),
        F.expr(
            "(count(*) * sum(x * x) - sum(x) * sum(x)) * 1000"
            " div (count(*) * sum(x))"
        ).alias("fano_e3"),
    )


@register(
    "fn_bitmap_popcount_join",
    oracle="""
    WITH l AS (SELECT doc_id, doc_id // 63 AS w, doc_id % 63 AS b,
                      n_chars >= 150 AS lbl_a,
                      len(list_distinct(string_split(lower(text), ' ')))
                        * 100
                      >= len(string_split(lower(text), ' ')) * 55 AS lbl_b
               FROM documents),
    wds AS (SELECT w,
                   CAST(sum(CASE WHEN lbl_a THEN 1 << b ELSE 0 END)
                     AS BIGINT) AS wa,
                   CAST(sum(CASE WHEN lbl_b THEN 1 << b ELSE 0 END)
                     AS BIGINT) AS wb
            FROM l GROUP BY w)
    SELECT w // 4 AS word_block,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(bit_count(wa)) AS BIGINT) AS pop_a,
           CAST(sum(bit_count(wb)) AS BIGINT) AS pop_b,
           CAST(sum(bit_count(wa & wb)) AS BIGINT) AS pop_and,
           CAST(sum(bit_count(wa | wb)) AS BIGINT) AS pop_or
    FROM wds GROUP BY word_block
    """,
)
def fn_bitmap_popcount_join(spark, sf_dir):
    """Bitmap-index algebra — the word-level machinery behind every
    bitmap index (Roaring et al.): two document predicates (length gate,
    uniqueness gate) are materialized as 63-bit bitmap WORDS keyed by
    doc_id range, and set intersection/union cardinalities per word
    block come from integer AND/OR + popcount on the words — never a
    row-level join.  The table shows the per-block selectivity structure
    an engine's zone-map + bitmap planner consults, and the exact
    sum-of-distinct-powers construction (each doc sets a unique bit, so
    SUM == OR) is the portable way to BUILD the words relationally.

    63 bits per word keeps every value positive in int64 on both
    engines; bit_count/&/| are native integer ops on both.  Shape: one
    scan, one groupBy(word), one groupBy(block) — corpus size only
    enters the first aggregate."""
    t = tokens(F.col("text"))
    l = load_table(spark, sf_dir, "documents").select(
        F.expr("doc_id div 63").alias("w"),
        (F.col("doc_id") % 63).alias("b"),
        (F.col("n_chars") >= 150).alias("lbl_a"),
        (
            F.size(F.array_distinct(t)) * 100 >= F.size(t) * 55
        ).alias("lbl_b"),
    )
    wds = l.groupBy("w").agg(
        F.expr(
            "sum(case when lbl_a then shiftleft(cast(1 as bigint),"
            " cast(b as int)) else cast(0 as bigint) end)"
        ).alias("wa"),
        F.expr(
            "sum(case when lbl_b then shiftleft(cast(1 as bigint),"
            " cast(b as int)) else cast(0 as bigint) end)"
        ).alias("wb"),
    )
    return wds.groupBy(F.expr("w div 4").alias("word_block")).agg(
        F.count("*").alias("n_words"),
        F.sum(F.bit_count("wa")).alias("pop_a"),
        F.sum(F.bit_count("wb")).alias("pop_b"),
        F.sum(F.bit_count(F.expr("wa & wb"))).alias("pop_and"),
        F.sum(F.bit_count(F.expr("wa | wb"))).alias("pop_or"),
    )


@register(
    "sql_offset_fetch",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    ORDER BY n_chars DESC, doc_id
    LIMIT 20 OFFSET 40
    """,
)
def sql_offset_fetch(spark, sf_dir):
    """OFFSET/FETCH pagination parity — page 3 (rows 41-60) of the
    corpus under a TOTAL order (n_chars DESC, doc_id tiebreak; without
    the tiebreak pagination is nondeterministic and both engines would
    be free to disagree — the tiebreak rule IS what this op pins).
    Spark supports LIMIT ... OFFSET since 3.4; the literal SQL text runs
    on both engines.

    Scale note: OFFSET pagination is a driver-side convenience, not a
    scan strategy — page N costs a global top-(N*20) sort
    (TakeOrderedAndProject here); a production pagination over big data
    keys on (n_chars, doc_id) > (last_seen) instead.  The op documents
    the parity AND the caveat."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_pg"
    )
    return spark.sql(
        """
        SELECT doc_id, n_chars
        FROM documents_pg
        ORDER BY n_chars DESC, doc_id
        LIMIT 20 OFFSET 40
        """
    )

"""Round-12 tranche, wave F — built during round 11.

Families:

* annotation quality — Fleiss' kappa across three heuristic labelers
  (the weak-supervision agreement audit: do the labeling functions
  agree beyond chance?).
* layout diagnostics — sortedness audit across three (ordering, column)
  pairs, including one perfectly-sorted case (ascending-run census —
  the number that decides merge-join vs sort and whether a sort can be
  skipped).
* sources — malformed-record accounting on the JSON read path
  (PERMISSIVE mode, the src_scan_csv_malformed contract applied to the
  second ingest format).
* causal — interrupted time series (pre/post level and slope at a
  literal intervention day — the no-control-group quasi-experiment,
  completing DiD/QTE/SMD).
* graph — local bridges (edges whose endpoints share no common
  neighbor — Granovetter's weak ties; the edges whose removal
  lengthens paths), reported per node.

One candidate was DROPPED at validation: a cohort-LTV curve — every
user's first event lands in week 1 on this corpus, so the cohort key is
a constant (the ts_retention cohort compresses the same way; vacuous).
Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration
(tools/vacuity_r12.md).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import lineage_cap, r4

# ---------------------------------------------------------------------------
# annotation quality: Fleiss' kappa across three heuristic labelers

@register(
    "agg_fleiss_kappa",
    oracle="""
    WITH r AS (SELECT event_id, cents,
                      row_number() OVER (ORDER BY cents) AS rn,
                      count(*) OVER () AS n
               FROM (SELECT event_id,
                            CAST(round(value * 100, 0) AS BIGINT) AS cents
                     FROM events)),
    med AS (SELECT min(cents) AS med FROM r WHERE rn >= (n + 1) // 2),
    i AS (SELECT e.event_id,
                 (CASE WHEN CAST(round(e.value * 100, 0) AS BIGINT)
                            > (SELECT med FROM med) THEN 1 ELSE 0 END)
                 + (CASE WHEN CAST(json_extract(e.props, '$.k') AS BIGINT)
                              > 50 THEN 1 ELSE 0 END)
                 + (CASE WHEN e.user_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
          FROM events e),
    p AS (SELECT n1, 3 - n1 AS n0,
                 (n1 * (n1 - 1) + (3 - n1) * (3 - n1 - 1)) / 6.0 AS pi
          FROM i),
    s AS (SELECT count(*) AS n_items, avg(pi) AS pbar,
                 avg(n1 / 3.0) AS p1
          FROM p)
    SELECT CAST(n_items AS BIGINT) AS n_items,
           round(pbar, 4) + 0 AS p_observed_r4,
           round(p1 * p1 + (1 - p1) * (1 - p1), 4) + 0 AS p_expected_r4,
           round((pbar - (p1 * p1 + (1 - p1) * (1 - p1)))
                 / (1 - (p1 * p1 + (1 - p1) * (1 - p1))), 4) + 0 AS kappa_r4
    FROM s
    """,
)
def agg_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa across three heuristic labelers — the agreement
    audit a weak-supervision pipeline runs on its labeling functions
    (high kappa: the functions are redundant; near zero: independent
    signals; negative: systematic disagreement): binary labels from
    three deterministic raters (value above the exact lower median,
    payload k > 50, odd user), the observed per-item agreement pbar,
    the chance agreement p1^2 + p0^2, and kappa.  The three raters are
    independent by construction on this corpus, so kappa correctly
    reads ~0 — but VARIES (+0.0093/-0.0073/-0.0011 across SFs) with
    the observed/expected columns moving too: the estimator resolving
    a true zero, not a frozen output.

    Shape: one rank window for the exact median, one projection, one
    scalar moment aggregate — doubles rounded at the §2 grain."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "props",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wr = Window.orderBy("cents")
    r = e.select(
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = r.filter(F.col("rn") >= F.expr("(n + 1) div 2")).agg(
        F.min("cents").alias("med")
    )
    k = F.get_json_object("props", "$.k").cast("long")
    i = e.crossJoin(F.broadcast(med)).select(
        (
            F.when(F.col("cents") > F.col("med"), 1).otherwise(0)
            + F.when(k > 50, 1).otherwise(0)
            + F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
        ).alias("n1")
    )
    p = i.select(
        "n1",
        (
            (F.col("n1") * (F.col("n1") - 1))
            + ((3 - F.col("n1")) * (3 - F.col("n1") - 1))
        ).cast("double").alias("agree6"),
    )
    s = p.agg(
        F.count("*").alias("n_items"),
        F.avg(F.col("agree6") / 6.0).alias("pbar"),
        F.avg(F.col("n1") / 3.0).alias("p1"),
    )
    pe = F.col("p1") * F.col("p1") + (1 - F.col("p1")) * (1 - F.col("p1"))
    return s.select(
        F.col("n_items").cast("long").alias("n_items"),
        r4(F.col("pbar")).alias("p_observed_r4"),
        r4(pe).alias("p_expected_r4"),
        r4((F.col("pbar") - pe) / (1 - pe)).alias("kappa_r4"),
    )


# ---------------------------------------------------------------------------
# layout diagnostics: sortedness audit

@register(
    "diag_sortedness_audit",
    oracle="""
    WITH a1 AS (
      SELECT 'events.ts_by_event_id' AS audit, count(*) AS n,
             sum(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
               AS descents
      FROM (SELECT epoch_us(ts) AS v,
                   lag(epoch_us(ts)) OVER (ORDER BY event_id) AS pv
            FROM events)),
    a2 AS (
      SELECT 'lineitem.shipdate_by_line' AS audit, count(*) AS n,
             sum(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
               AS descents
      FROM (SELECT epoch_us(l_shipdate) AS v,
                   lag(epoch_us(l_shipdate))
                     OVER (ORDER BY l_orderkey, l_linenumber) AS pv
            FROM lineitem)),
    a3 AS (
      SELECT 'documents.n_chars_by_doc_id' AS audit, count(*) AS n,
             sum(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
               AS descents
      FROM (SELECT n_chars AS v,
                   lag(n_chars) OVER (ORDER BY doc_id) AS pv
            FROM documents)),
    u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
          UNION ALL SELECT * FROM a3)
    SELECT audit, CAST(n AS BIGINT) AS n_rows,
           CAST(descents AS BIGINT) AS n_descents,
           CAST(descents + 1 AS BIGINT) AS n_asc_runs,
           CAST((n - descents) * 10000 // n AS BIGINT) AS sortedness_e4
    FROM u
    """,
)
def diag_sortedness_audit(spark, sf_dir):
    """Sortedness audit — how sorted a table already is on a candidate
    ordering (descent count; ascending runs = descents + 1): the number
    that decides whether a sort-merge join can SKIP its sort, whether a
    file is effectively clustered for zone maps, and how much a
    re-sort would move.  Three audited (ordering, column) pairs span
    the whole regime: events.ts by event_id is PERFECTLY sorted
    (0 descents — the generator emits in time order; sortedness 10000),
    lineitem ship dates within order-line order are random (~50%
    descents), and document lengths by doc_id are random — the sorted
    case is the point, not a vacuity (the other rows carry the spread).

    Shape: one lag window per audit (each a single total order — a
    DIAGNOSTIC over modest frames; the distributed form samples
    partition boundaries instead, noted for 100 TB), one 3-row union."""
    from biggie_spark.util import epoch_us

    def audit(df, order_cols, vcol, label):
        w = Window.orderBy(*order_cols)
        s = df.select(
            vcol.alias("v"), F.lag(vcol).over(w).alias("pv")
        )
        return s.agg(
            F.lit(label).alias("audit"),
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("pv").isNotNull() & (F.col("v") < F.col("pv")), 1
                ).otherwise(0)
            ).alias("descents"),
        )

    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    dd = load_table(spark, sf_dir, "documents")
    u = (
        audit(ev, ["event_id"], epoch_us("ts"), "events.ts_by_event_id")
        .unionByName(
            audit(
                li,
                ["l_orderkey", "l_linenumber"],
                epoch_us("l_shipdate"),
                "lineitem.shipdate_by_line",
            )
        )
        .unionByName(
            audit(dd, ["doc_id"], F.col("n_chars"), "documents.n_chars_by_doc_id")
        )
    )
    return u.select(
        "audit",
        F.col("n").alias("n_rows"),
        F.col("descents").alias("n_descents"),
        (F.col("descents") + 1).alias("n_asc_runs"),
        F.expr("(n - descents) * 10000 div n").alias("sortedness_e4"),
    )


# ---------------------------------------------------------------------------
# sources: malformed-record accounting on the JSON read path

@register(
    "src_scan_json_malformed",
    oracle="""
    SELECT CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_malformed,
           CAST(sum(CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_chars END)
             AS BIGINT) AS clean_chars
    FROM documents
    GROUP BY CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END
    """,
)
def src_scan_json_malformed(spark, sf_dir):
    """Malformed-record accounting on the JSON-lines read path — the
    src_scan_csv_malformed contract applied to the second ingest format
    (real feeds truncate mid-object; a JSONL reader must quarantine,
    not crash or drop): a feed where every 11th record is truncated
    before its closing brace reads under PERMISSIVE mode with ALL
    schema fields NULL for the corrupt rows (so they surface as the
    NULL-lang group — JSON corruption quarantines the whole record,
    unlike CSV's per-field NULL, and the output shape pins that
    difference); an in-op RuntimeError enforces row-count survival.
    Value-pinned against the closed-form corruption rule.

    Shape: schema-first JSON scan, one groupBy(lang)."""
    import shutil
    import tempfile

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    good = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    bad = F.concat(  # truncated mid-object: no closing brace
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
    )
    lines = d.select(
        F.when(F.col("doc_id") % 11 == 0, bad).otherwise(good).alias("value")
    )
    root = tempfile.mkdtemp(prefix="biggie_json_malformed_")
    try:
        lines.write.mode("overwrite").text(root)
        feed = spark.read.json(
            root,
            schema="doc_id long, lang string, n_chars long",
            mode="PERMISSIVE",
        )
        n_in, n_out = d.count(), feed.count()
        if n_in != n_out:
            raise RuntimeError(
                f"PERMISSIVE json read dropped rows: wrote {n_in}, read "
                f"{n_out} — the malformed-record contract regressed"
            )
        return (
            feed.groupBy("lang")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("doc_id").isNull().cast("long")).alias(
                    "n_malformed"
                ),
                F.sum(F.coalesce("n_chars", F.lit(0))).alias("clean_chars"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# causal: interrupted time series

_ITS_CUT_DAY = 16  # the literal intervention day


@register(
    "ts_intervention_its",
    oracle=f"""
    WITH d AS (SELECT event_type, CAST(extract(day FROM ts) AS BIGINT) AS x,
                      CAST(sum(round(value * 100, 0)) AS BIGINT) AS y
               FROM events GROUP BY event_type, extract(day FROM ts)),
    seg AS (SELECT event_type,
                   CASE WHEN x < {_ITS_CUT_DAY} THEN 0 ELSE 1 END AS post,
                   x, y
            FROM d),
    f AS (SELECT event_type, post,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM seg GROUP BY event_type, post)
    SELECT a.event_type,
           CAST(a.sy * 10000 // a.n AS BIGINT) AS pre_mean_e4,
           CAST(b.sy * 10000 // b.n AS BIGINT) AS post_mean_e4,
           CAST((a.n * a.sxy - a.sx * a.sy) * 10000
                // (a.n * a.sxx - a.sx * a.sx) AS BIGINT) AS pre_slope_e4,
           CAST((b.n * b.sxy - b.sx * b.sy) * 10000
                // (b.n * b.sxx - b.sx * b.sx) AS BIGINT) AS post_slope_e4
    FROM f a JOIN f b
      ON a.event_type = b.event_type AND a.post = 0 AND b.post = 1
    """,
)
def ts_intervention_its(spark, sf_dir):
    """Interrupted time series — the quasi-experiment with NO control
    group (a launch hits everyone at once; the counterfactual is the
    PRE-period trend): per event type, the daily-revenue mean and OLS
    slope before and after the literal day-16 intervention, in exact
    integer form (slope = (nΣxy - ΣxΣy)/(nΣx² - (Σx)²) cross-multiplied
    cents; operands signed ONLY in the numerator difference, and both
    engines floor-divide a positive denominator of identical text —
    abs-safe because the day-index variance denominator is always
    positive).  Measured slopes swing ±6e7 e4 across types/segments and
    flip sign between SFs — the placebo profile.  Completes the causal
    tier: DiD (with control), QTE (distributional), SMD (balance),
    ITS (no control).

    Shape: one calendar-bounded daily rollup, one 2-segment moment
    aggregate per type, one 5-row self-join."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.dayofmonth("ts").cast("long").alias("x"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0)).cast("long").alias("y"))
    )
    seg = d.withColumn(
        "post", F.when(F.col("x") < _ITS_CUT_DAY, 0).otherwise(1)
    )
    f = seg.groupBy("event_type", "post").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    a = f.filter(F.col("post") == 0).select(
        "event_type",
        F.col("n").alias("an"),
        F.col("sx").alias("asx"),
        F.col("sy").alias("asy"),
        F.col("sxy").alias("asxy"),
        F.col("sxx").alias("asxx"),
    )
    b = f.filter(F.col("post") == 1).select(
        "event_type",
        F.col("n").alias("bn"),
        F.col("sx").alias("bsx"),
        F.col("sy").alias("bsy"),
        F.col("sxy").alias("bsxy"),
        F.col("sxx").alias("bsxx"),
    )
    # Signed slope numerators over positive denominators: measured on
    # this DuckDB build, integer `//` TRUNCATES toward zero (-7 // 2 =
    # -3) exactly like Spark's `div`, so the plain expressions agree —
    # the floor-vs-truncate caveat applies to DuckDB's FLOAT // only.
    # (A floor-rewrite draft of this op hash-failed by one ulp on every
    # negative slope; pinned here so it isn't re-tried.)
    return a.join(b, "event_type").selectExpr(
        "event_type",
        "asy * 10000 div an as pre_mean_e4",
        "bsy * 10000 div bn as post_mean_e4",
        "(an * asxy - asx * asy) * 10000 div (an * asxx - asx * asx)"
        " as pre_slope_e4",
        "(bn * bsxy - bsx * bsy) * 10000 div (bn * bsxx - bsx * bsx)"
        " as post_slope_e4",
    )


# ---------------------------------------------------------------------------
# graph: local bridges (Granovetter's weak ties)

_LB_N = 500


@register(
    "graph_local_bridges",
    oracle=f"""
    WITH nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < {_LB_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_LB_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_LB_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_LB_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    und AS (SELECT src AS u, dst AS v FROM sym WHERE src < dst),
    tri AS (SELECT DISTINCT a.src AS u, b.src AS v
            FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src),
    lb AS (SELECT und.u, und.v FROM und LEFT JOIN tri
             ON tri.u = und.u AND tri.v = und.v
           WHERE tri.u IS NULL),
    pern AS (SELECT n, count(*) AS n_bridges FROM (
               SELECT u AS n FROM lb UNION ALL SELECT v FROM lb)
             GROUP BY n),
    deg AS (SELECT src AS n, count(*) AS degree FROM sym GROUP BY src)
    SELECT pern.n AS v, CAST(pern.n_bridges AS BIGINT) AS n_bridge_edges,
           CAST(deg.degree AS BIGINT) AS degree,
           CAST(pern.n_bridges * 10000 // deg.degree AS BIGINT)
             AS bridge_share_e4
    FROM pern JOIN deg ON deg.n = pern.n
    ORDER BY n_bridge_edges DESC, v LIMIT 25
    """,
)
def graph_local_bridges(spark, sf_dir):
    """Local bridges — edges whose endpoints share NO common neighbor
    (span > 2): Granovetter's weak ties, the edges whose removal
    actually lengthens paths (an edge inside a triangle is redundant;
    a local bridge is the only 2-step-free route between its ends) —
    the structural signal behind community boundaries and
    information-diffusion bottlenecks.  Top-25 nodes by incident
    local-bridge count, with degree and the bridge share e4 (1379 of
    1461 edges are local bridges on this sparse 3-generator graph —
    triangles are rare, so most ties are weak; the per-node share
    varies 7000..10000 e4, hub nodes carrying the redundant edges).

    Shape: the triangle-edge set is the SAME wedge self-equi-join as
    graph_triangles (Σdeg² bound); local bridges are one anti-join of
    the undirected edge list against it, the census two narrow
    aggregates."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _LB_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _LB_N).alias("dst"))
        .unionAll(nodes.select("v", ((F.col("v") * 3 + 7) % _LB_N).alias("dst")))
        .unionAll(
            nodes.select("v", ((F.col("v") * F.col("v") + 3) % _LB_N).alias("dst"))
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(lineage_cap)
    )
    und = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    a = sym.select(F.col("src").alias("u"), F.col("dst").alias("mid"))
    b = sym.select(F.col("src").alias("v"), F.col("dst").alias("mid"))
    tri = (
        a.join(b, "mid")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    lb = und.join(tri, ["u", "v"], "left_anti")
    pern = (
        lb.select(F.col("u").alias("n"))
        .unionAll(lb.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("n_bridges"))
    )
    deg = sym.groupBy(F.col("src").alias("n")).agg(
        F.count("*").alias("degree")
    )
    return (
        pern.join(deg, "n")
        .select(
            F.col("n").alias("v"),
            F.col("n_bridges").alias("n_bridge_edges"),
            "degree",
            F.expr("n_bridges * 10000 div degree").alias("bridge_share_e4"),
        )
        .orderBy(F.col("n_bridge_edges").desc(), "v")
        .limit(25)
    )

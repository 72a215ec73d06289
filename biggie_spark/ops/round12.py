"""Round-12 tranche, wave A — built during round 11.

Families (VERDICT r10 "Next round" item 2 named the first three):

* codec accounting — per-column dictionary-encoding byte estimates (the
  "why low-cardinality columns compress 20x" number, extending
  fn_rle_runs_layout's run counts into byte accounting), and varint
  delta-encoding accounting over per-user event-time gaps.
* determinism audit — the cross-shard reproducibility check as a SCORED
  op: the same ranked computation under two different partition layouts
  must produce byte-identical checksums (generalizes the hostile-config
  battery into the driver's hash signal).
* retrieval eval — recall@k curve of the deterministic IVF route
  (first-Lloyd assignment, nprobe=4) against exact brute-force cosine,
  fully oracled (the approximate end-to-end route stays rows-only by
  design; this is its deterministic-substage sibling, the ivf_assign
  pattern from VERDICT r4 item 3).
* layout — Hilbert curve encode (chained per-level rotations) with the
  measured locality comparison against the Morton curve (unit-step rate,
  total/max jump) — the number that decides which space-filling curve a
  Z-ORDER-style layout should use.
* dedup — content-defined chunking (hash-gated token boundaries, the
  rsync/LBFS primitive) with chunk-level dup accounting, and cluster-size
  statistics over the verified near-dup components (bytes a dedup pass
  saves, by cluster size).
* causal analytics — difference-in-differences and quantile-treatment-
  effect over the events stream (integer cents, exact order statistics).
* sampling / eval allocation — Hamilton largest-remainder quota
  allocation per stratum, and deterministic without-replacement
  subsampling via the guarded Feistel permutation.
* link prediction — resource-allocation index (the integer-exact
  Adamic-Adar sibling: sum of 1e6 div deg over common neighbors).

Integer-exact conventions throughout (BIGINT, div, e4/e6); every metric's
spread validated in DuckDB at sf{0.001,0.01,0.1} before registration
(tools/vacuity_r12.md).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import ORACLES, QUERIES, register
from biggie_spark.util import cosine, epoch_s, lineage_cap, r4

# ---------------------------------------------------------------------------
# layout: Hilbert curve + locality comparison vs Morton

_HIL_ORDER = 4  # 16 x 16 grid: doc_id < 256 covers it exactly once
_HIL_N = 1 << _HIL_ORDER


def _hilbert_levels(xor_fmt: str) -> list[tuple[str, str, str]]:
    """Per-level (d, x, y) update expressions of the xy2d walk, top bit
    first — generated ONCE and pasted into BOTH engines (chained selects
    in Spark, chained CTEs in DuckDB) so the rotation logic cannot fork.
    Level at scale s: quadrant digit (3*rx XOR ry) weighs s*s onto d,
    then the lower-order frame is rotated/flipped (the s-1-x local-flip
    variant; verified bijective + unit-step-continuous in Python before
    generation).  xor_fmt spells integer XOR in the target dialect."""
    levels = []
    s = _HIL_N // 2
    while s > 0:
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        d = f"d + {s * s} * {xor_fmt.format(a=f'(3 * {rx})', b=ry)}"
        nx = (
            f"CASE WHEN (y & {s}) > 0 THEN x "
            f"WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END"
        )
        ny = (
            f"CASE WHEN (y & {s}) > 0 THEN y "
            f"WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END"
        )
        levels.append((d, nx, ny))
        s //= 2
    return levels


def _morton4_sql(x: str, y: str) -> str:
    """4-bit Morton interleave (the fn_morton_curve expression at this
    op's grid order) — the comparison baseline."""
    terms = []
    for b in range(_HIL_ORDER):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


def _hilbert_cte_sql() -> str:
    """DuckDB chained-CTE rendering of the level walk."""
    ctes = [
        f"l0 AS (SELECT doc_id, CAST(doc_id % {_HIL_N} AS BIGINT) AS x, "
        f"CAST(doc_id // {_HIL_N} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d "
        f"FROM documents WHERE doc_id < {_HIL_N * _HIL_N})"
    ]
    for i, (d, nx, ny) in enumerate(_hilbert_levels("xor({a}, {b})")):
        ctes.append(
            f"l{i + 1} AS (SELECT doc_id, CAST({nx} AS BIGINT) AS x, "
            f"CAST({ny} AS BIGINT) AS y, CAST({d} AS BIGINT) AS d FROM l{i})"
        )
    return ", ".join(ctes)


@register(
    "fn_hilbert_curve_d2",
    oracle=f"""
    WITH {_hilbert_cte_sql()},
    grid AS (SELECT doc_id, CAST(doc_id % {_HIL_N} AS BIGINT) AS x,
                    CAST(doc_id // {_HIL_N} AS BIGINT) AS y
             FROM documents WHERE doc_id < {_HIL_N * _HIL_N}),
    curves AS (
      SELECT 'hilbert' AS curve, g.x, g.y, h.d
      FROM grid g JOIN l{_HIL_ORDER} h USING (doc_id)
      UNION ALL
      SELECT 'morton', x, y, CAST({_morton4_sql('x', 'y')} AS BIGINT)
      FROM grid),
    walk AS (
      SELECT curve, d,
             abs(lead(x) OVER w - x) + abs(lead(y) OVER w - y) AS jump
      FROM curves WINDOW w AS (PARTITION BY curve ORDER BY d))
    SELECT curve,
           CAST(count(jump) AS BIGINT) AS n_steps,
           CAST(sum(CASE WHEN jump = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unit_steps,
           CAST(sum(jump) AS BIGINT) AS sum_jump,
           CAST(max(jump) AS BIGINT) AS max_jump,
           CAST(sum(jump) * 10000 // count(jump) AS BIGINT) AS mean_jump_e4
    FROM walk GROUP BY curve
    """,
)
def fn_hilbert_curve_d2(spark, sf_dir):
    """Hilbert space-filling curve (order 4, 16x16 grid) vs the Morton
    curve — encode both over the same full grid and measure the property
    a clustered-layout designer actually buys: LOCALITY of the curve
    walk.  Consecutive Hilbert indices are always grid-adjacent
    (n_unit_steps = 255 of 255, max_jump = 1 — the defining Hilbert
    invariant, so any rotation slip in the level walk breaks the hash);
    Morton takes long diagonal jumps at quadrant seams (128 unit steps,
    max_jump 16, mean 1.88) — the measured reason Hilbert-clustering
    beats Z-order for range scans at equal cost.

    The per-level rotation expressions are generated by ONE Python
    helper and pasted into both engines (the fn_morton_curve /
    fn_feistel_permute discipline), chained as selects in Spark and CTEs
    in DuckDB — each of the 4 levels is a simultaneous (d, x, y)
    projection, so the plan is 4 stacked narrow projections inside one
    whole-stage-codegen span: no shuffle until the 2-group aggregate.
    The curve-walk adjacency is ONE window lead over d per curve."""
    n2 = _HIL_N * _HIL_N
    grid = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < n2)
        .selectExpr(
            "doc_id",
            f"cast(doc_id % {_HIL_N} as bigint) as x",
            f"cast(doc_id div {_HIL_N} as bigint) as y",
        )
    )
    hil = grid.selectExpr("doc_id", "x", "y", "cast(0 as bigint) as d")
    for d, nx, ny in _hilbert_levels("({a} ^ {b})"):
        hil = hil.selectExpr(
            "doc_id",
            f"cast({nx} as bigint) as x",
            f"cast({ny} as bigint) as y",
            f"cast({d} as bigint) as d",
        )
    both = (
        grid.join(hil.select("doc_id", "d"), "doc_id")
        .select(F.lit("hilbert").alias("curve"), "x", "y", "d")
        .unionByName(
            grid.select(
                F.lit("morton").alias("curve"),
                "x",
                "y",
                F.expr(_morton4_sql("x", "y")).cast("long").alias("d"),
            )
        )
    )
    w = Window.partitionBy("curve").orderBy("d")
    walk = both.select(
        "curve",
        (
            F.abs(F.lead("x").over(w) - F.col("x"))
            + F.abs(F.lead("y").over(w) - F.col("y"))
        ).alias("jump"),
    )
    return walk.groupBy("curve").agg(
        F.count("jump").alias("n_steps"),
        F.sum(F.when(F.col("jump") == 1, 1).otherwise(0)).alias(
            "n_unit_steps"
        ),
        F.sum("jump").alias("sum_jump"),
        F.max("jump").alias("max_jump"),
        F.expr("sum(jump) * 10000 div count(jump)").alias("mean_jump_e4"),
    )


# ---------------------------------------------------------------------------
# codec accounting: dictionary-encoding byte estimates per column

# (table, column) families audited: the low-cardinality dimension strings
# a dictionary codec crushes, plus the high-cardinality text column where
# the dictionary HURTS (index bytes + full value storage) — both branches
# of the encoder's decision live.
_DICT_COLS = (
    ("documents", "lang"),
    ("documents", "source"),
    ("documents", "text"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
)

# Dictionary index width by cardinality — the parquet RLE_DICTIONARY
# width ladder, byte-rounded.
_IDX_SQL = "CASE WHEN {nd} <= 256 THEN 1 WHEN {nd} <= 65536 THEN 2 ELSE 4 END"


def _dict_col_sql(table: str, col: str) -> str:
    idx = _IDX_SQL.format(nd="count(*)")
    return f"""
    SELECT '{table}.{col}' AS col,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(strlen(v) * c) AS BIGINT) AS plain_bytes,
           CAST(sum(strlen(v)) + sum(c) * ({idx}) AS BIGINT) AS dict_bytes,
           CAST(sum(strlen(v) * c) * 10000 //
                (sum(strlen(v)) + sum(c) * ({idx})) AS BIGINT) AS ratio_e4
    FROM (SELECT {col} AS v, count(*) AS c FROM {table} GROUP BY {col})
    """


@register(
    "snk_codec_dictionary_stats",
    oracle=" UNION ALL ".join(
        _dict_col_sql(t, c) for t, c in _DICT_COLS
    ),
)
def snk_codec_dictionary_stats(spark, sf_dir):
    """Dictionary-encoding byte accounting per column — the number a
    columnar writer consults before picking PLAIN vs RLE_DICTIONARY
    (extends fn_rle_runs_layout's run counts into estimated bytes): for
    each audited column, the plain-encoding bytes (sum of value lengths),
    the dictionary bytes (distinct-value storage + one index per row at
    the parquet width ladder: 1 byte to 256 values, 2 to 64Ki, else 4),
    and the compression ratio e4.  On this corpus the dimension strings
    compress ~2-20x while `documents.text` INVERTS (ratio < 1x: every
    value distinct, so the dictionary stores the corpus twice) — both
    encoder branches live at every SF.

    Shape: one groupBy per audited column (map-side partial on a
    low-cardinality key), each followed by a scalar aggregate; the five
    1-row frames union.  Column pruning keeps each scan to its single
    audited column — this is a metadata-scale job at any corpus size."""
    out = None
    for table, col in _DICT_COLS:
        g = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count("*").alias("c"))
        )
        idx = _IDX_SQL.format(nd="count(*)")
        one = g.agg(
            F.lit(f"{table}.{col}").alias("col"),
            F.sum("c").alias("n_rows"),
            F.count("*").alias("n_distinct"),
            F.sum(F.expr("octet_length(v)") * F.col("c")).alias(
                "plain_bytes"
            ),
            F.expr(f"sum(octet_length(v)) + sum(c) * ({idx})").alias(
                "dict_bytes"
            ),
            F.expr(
                f"sum(octet_length(v) * c) * 10000 div "
                f"(sum(octet_length(v)) + sum(c) * ({idx}))"
            ).alias("ratio_e4"),
        )
        out = one if out is None else out.unionByName(one)
    return out


# ---------------------------------------------------------------------------
# codec accounting: varint delta encoding of per-user event-time gaps

@register(
    "snk_varint_delta_bytes",
    oracle="""
    WITH s AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
                      event_id
               FROM events),
    d AS (SELECT es - lag(es) OVER (PARTITION BY user_id
                                    ORDER BY es, event_id) AS gap
          FROM s),
    c AS (SELECT gap,
                 CASE WHEN gap < 128 THEN 1
                      WHEN gap < 16384 THEN 2
                      WHEN gap < 2097152 THEN 3
                      WHEN gap < 268435456 THEN 4
                      ELSE 5 END AS vbytes
          FROM d WHERE gap IS NOT NULL)
    SELECT vbytes,
           CAST(count(*) AS BIGINT) AS n_deltas,
           CAST(sum(gap) AS BIGINT) AS sum_gap_s,
           CAST(max(gap) AS BIGINT) AS max_gap_s,
           CAST((8 - vbytes) * count(*) AS BIGINT) AS bytes_saved
    FROM c GROUP BY vbytes
    """,
)
def snk_varint_delta_bytes(spark, sf_dir):
    """Varint delta-encoding accounting over per-user event-time gaps —
    the timestamp-column codec decision (delta + LEB128-style varint is
    how time-ordered columns store at ~2 bytes/row instead of 8): gaps
    between consecutive events of the same user, bucketed by the varint
    byte class their magnitude needs (7 payload bits per byte), with the
    bytes saved vs a plain int64.  Per-user gaps on this corpus spread
    across classes 1-3 (seconds to hours) — the non-uniform-delta regime
    where varint actually pays; uniform key gaps (where every delta
    lands in one class and the audit is vacuous) were the round-10
    lesson this op's grouping dodges by construction.

    Shape: one window lag partitioned by user (the natural shard key —
    this is the per-shard sort order a time-series table already has),
    then a 5-bucket aggregate.  Gap values are non-negative by the
    window's ordering, so DuckDB's flooring // and Spark's truncating
    div never see a negative operand."""
    s = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_s("ts").alias("es"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    d = s.select((F.col("es") - F.lag("es").over(w)).alias("gap")).filter(
        F.col("gap").isNotNull()
    )
    c = d.select(
        "gap",
        F.expr(
            "CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2 "
            "WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4 "
            "ELSE 5 END"
        ).alias("vbytes"),
    )
    return c.groupBy("vbytes").agg(
        F.count("*").alias("n_deltas"),
        F.sum("gap").alias("sum_gap_s"),
        F.max("gap").alias("max_gap_s"),
        ((8 - F.col("vbytes")) * F.count("*")).alias("bytes_saved"),
    )


# ---------------------------------------------------------------------------
# determinism audit: identical checksums under permuted partition layouts

# The two layouts deliberately repartition on DIFFERENT keys and widths,
# so every shuffle boundary sees a different physical row order.
_DET_LAYOUTS = (("hash7_orderkey", 7, "o_orderkey"), ("hash13_custkey", 13, "o_custkey"))
_DET_TOPK = 10

_DET_RANKED_SQL = f"""
    SELECT o_orderstatus AS st, rn, o_orderkey AS okey, cents
    FROM (
      SELECT o_orderstatus, o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY round(o_totalprice * 100, 0) DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= {_DET_TOPK}
"""


@register(
    "agg_shard_determinism_audit",
    oracle=f"""
    WITH ranked AS ({_DET_RANKED_SQL}),
    rh AS (
      SELECT CAST(('0x' || substr(md5(
               st || '|' || CAST(rn AS VARCHAR) || '|' ||
               CAST(okey AS VARCHAR) || '|' || CAST(cents AS VARCHAR)),
             1, 12)) AS BIGINT) AS h
      FROM ranked),
    one AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(h) AS VARCHAR) AS checksum
            FROM rh)
    SELECT l.layout, one.n_rows, one.checksum
    FROM one, (VALUES ('hash7_orderkey'), ('hash13_custkey')) AS l(layout)
    """,
)
def agg_shard_determinism_audit(spark, sf_dir):
    """Cross-shard determinism as a SCORED op (VERDICT r10 item 2): the
    same rank-sensitive computation — top-10 orders per status with the
    full (cents desc, key) tie-break — is executed under TWO partition
    layouts (hash-repartitioned 7-way on orderkey vs 13-way on custkey),
    each reduced to the order-insensitive 48-bit md5-sum checksum of
    fn_table_checksum.  The driver hash-compares BOTH rows against one
    oracle computation: any nondeterminism the layout exposes (an
    under-specified tie-break, a float accumulation order leak, a
    first()-without-window) forks the two checksums and fails the row —
    it generalizes the hostile-config battery (AQE off, prime shuffle
    partitions) into the per-round CORRECTNESS signal itself.

    Shape: the rank is a per-status window (one exchange per layout); the
    checksum sum accumulates in DECIMAL(38,0) and emits as STRING (the
    fn_table_checksum overflow convention — BIGINT dies at ~2^15 rows)."""
    out = None
    for layout, n, key in _DET_LAYOUTS:
        o = load_table(spark, sf_dir, "orders").repartition(n, key)
        ranked = (
            o.select(
                F.col("o_orderstatus").alias("st"),
                "o_orderkey",
                F.round(F.col("o_totalprice") * 100, 0)
                .cast("long")
                .alias("cents"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("st").orderBy(
                        F.col("cents").desc(), F.col("o_orderkey")
                    )
                ),
            )
            .filter(F.col("rn") <= _DET_TOPK)
        )
        rh = ranked.select(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("st"),
                            F.col("rn").cast("string"),
                            F.col("o_orderkey").cast("string"),
                            F.col("cents").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("decimal(38,0)")
            .alias("h")
        )
        one = rh.agg(
            F.lit(layout).alias("layout"),
            F.count("*").alias("n_rows"),
            F.sum("h").cast("decimal(38,0)").cast("string").alias("checksum"),
        )
        out = one if out is None else out.unionByName(one)
    return out


# ---------------------------------------------------------------------------
# retrieval eval: recall@k curve of the deterministic IVF route

_RC_K = 16  # centroids: the K lowest vec_ids (ivf_assign init)
_RC_NPROBE = 4
_RC_PROBES = 10
_RC_KS = (1, 5, 10)

_RC_SQDIST = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "s -> (s[1] - s[2]) * (s[1] - s[2])), 'sum')"
)


@register(
    "llm_ivf_recall_curve",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS a FROM embeddings),
    c AS (SELECT vec_id AS cid, a AS cvec FROM e WHERE vec_id < {_RC_K}),
    asg AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 {_RC_SQDIST.format(a='e.a', b='c.cvec')}, c.cid) AS rn
        FROM e, c) WHERE rn = 1),
    pr AS (SELECT vec_id AS probe_id, a AS pa FROM e
           WHERE vec_id < {_RC_PROBES}),
    plists AS (
      SELECT probe_id, cid FROM (
        SELECT pr.probe_id, c.cid,
               row_number() OVER (PARTITION BY pr.probe_id ORDER BY
                 {_RC_SQDIST.format(a='pr.pa', b='c.cvec')}, c.cid) AS rn
        FROM pr, c) WHERE rn <= {_RC_NPROBE}),
    cand AS (
      SELECT pl.probe_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY pl.probe_id ORDER BY
               round(list_cosine_similarity(pr.pa, e.a), 4) DESC,
               e.vec_id) AS rn
      FROM plists pl JOIN asg ON asg.cid = pl.cid
      JOIN e ON e.vec_id = asg.vec_id AND e.vec_id <> pl.probe_id
      JOIN pr ON pr.probe_id = pl.probe_id),
    truth AS (
      SELECT pr.probe_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY pr.probe_id ORDER BY
               round(list_cosine_similarity(pr.pa, e.a), 4) DESC,
               e.vec_id) AS rn
      FROM pr JOIN e ON e.vec_id <> pr.probe_id),
    ks AS (SELECT unnest([{",".join(map(str, _RC_KS))}]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(*) * 1000000 // (k * {_RC_PROBES}) AS BIGINT)
             AS recall_e6
    FROM ks JOIN truth t ON t.rn <= k
    JOIN cand cd ON cd.probe_id = t.probe_id
               AND cd.neighbor_id = t.neighbor_id AND cd.rn <= k
    GROUP BY k
    """,
)
def llm_ivf_recall_curve(spark, sf_dir):
    """Recall@k curve of the IVF route against exact brute-force — the
    retrieval-eval extension over the IVF structure (VERDICT r10 item 2),
    kept FULLY deterministic so it earns a hash row: the index is the
    first-Lloyd assignment (K=16 lowest-vec_id centroids — exactly the
    oracled ivf_assign substage), probes visit their nprobe=4 nearest
    lists, candidates rank by the 4dp-rounded double-fold cosine, and
    recall@k = |ivf-top-k ∩ exact-top-k| / k averaged over the 10-probe
    panel, on the k grid (1, 5, 10).  Measured: recall@1 = 1.0 at every
    SF while recall@10 dips to 0.90-0.99 — the honest curve shape
    (nearest neighbors live in the probed lists; the tail leaks into
    unprobed ones).  The iterated/trained route stays rows-only by
    design (llm_knn_ann) with its CI floors; this op is the driver-
    scored twin over the same inverted-list geometry.

    Shape at scale: centroids and probes broadcast (16 + 10 rows); the
    corpus is scanned twice (assignment pass, truth pass) with no
    shuffle wider than the per-probe windows; candidate volume is
    corpus * nprobe/K, the IVF contract."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("a"),
    )
    c = e.filter(F.col("vec_id") < _RC_K).select(
        F.col("vec_id").alias("cid"), F.col("a").alias("cvec")
    )
    sqd = (
        "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    asg = (
        e.crossJoin(F.broadcast(c))
        .withColumn("sd", F.expr(sqd.format(a="a", b="cvec")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("sd", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "a", "cid")
    )
    pr = e.filter(F.col("vec_id") < _RC_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("a").alias("pa")
    )
    plists = (
        pr.crossJoin(F.broadcast(c))
        .withColumn("sd", F.expr(sqd.format(a="pa", b="cvec")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy("sd", "cid")
            ),
        )
        .filter(F.col("rn") <= _RC_NPROBE)
        .select("probe_id", "pa", "cid")
    )
    cand = (
        asg.join(F.broadcast(plists), "cid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("s4", r4(cosine(F.col("pa"), F.col("a"))))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("s4").desc(), F.col("vec_id")
                )
            ),
        )
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "rn")
    )
    truth = (
        e.crossJoin(F.broadcast(pr))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("s4", r4(cosine(F.col("pa"), F.col("a"))))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("s4").desc(), F.col("vec_id")
                )
            ),
        )
        .select("probe_id", F.col("vec_id").alias("neighbor_id"), "rn")
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _RC_KS])).alias("k")
    )
    hits = (
        truth.crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .join(
            cand.withColumnRenamed("rn", "crn"),
            ["probe_id", "neighbor_id"],
        )
        .filter(F.col("crn") <= F.col("k"))
    )
    return (
        hits.groupBy("k")
        .agg(
            F.count("*").alias("n_hits"),
            F.expr(f"count(*) * 1000000 div (k * {_RC_PROBES})").alias(
                "recall_e6"
            ),
        )
        .select(F.col("k").cast("long").alias("k"), "n_hits", "recall_e6")
    )


# ---------------------------------------------------------------------------
# dedup: content-defined chunking (hash-gated boundaries)

_CDC_MOD = 8  # boundary when the 48-bit token hash % 8 == 0 (~12.5%)


@register(
    "llm_cdc_chunk_boundaries",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(text), ' ')) AS tok,
             generate_subscripts(string_split(lower(text), ' '), 1) AS pos
      FROM documents),
    b AS (SELECT doc_id, lang, tok, pos,
                 CASE WHEN CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT)
                        % {_CDC_MOD} = 0
                      THEN 1 ELSE 0 END AS bnd
          FROM t),
    c AS (SELECT doc_id, lang, tok, pos,
                 sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
          FROM b),
    ch AS (SELECT doc_id, lang, chunk_id,
                  md5(string_agg(tok, ' ' ORDER BY pos)) AS chash,
                  count(*) AS clen
           FROM c GROUP BY doc_id, lang, chunk_id)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chash) AS BIGINT) AS n_distinct_chunks,
           CAST(sum(clen) AS BIGINT) AS n_tokens,
           CAST(max(clen) AS BIGINT) AS max_chunk_len,
           CAST((count(*) - count(DISTINCT chash)) * 10000 // count(*)
             AS BIGINT) AS dup_chunk_e4
    FROM ch GROUP BY lang
    """,
)
def llm_cdc_chunk_boundaries(spark, sf_dir):
    """Content-defined chunking — the rsync/LBFS/restic primitive that
    makes dedup robust to insertions (fixed-stride chunks shift under a
    one-token edit; hash-gated boundaries re-synchronize immediately):
    a chunk boundary opens at every token whose 48-bit md5 hash is
    0 mod 8 (expected chunk ~8 tokens), chunks are the runs between
    boundaries, and the payoff is measured as chunk-level dup mass —
    15-30% of chunks on this corpus are byte-identical to another chunk
    in the same language (the near-dup document copies share most of
    their chunks), which is exactly the storage a CDC-deduped store
    reclaims WITHOUT document-level matching.

    Boundary decisions depend only on local token content — on a
    cluster this runs map-side per document with no cross-shard
    coordination, the property that lets CDC scale to 100 TB ingest.
    Shape: posexplode -> per-doc running boundary count (window over the
    doc partition) -> chunk aggregate -> per-lang rollup."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
    )
    b = t.withColumn(
        "bnd",
        F.when(
            F.expr(
                f"conv(substring(md5(tok), 1, 12), 16, 10) % {_CDC_MOD} = 0"
            ),
            1,
        ).otherwise(0),
    )
    c = b.withColumn(
        "chunk_id",
        F.sum("bnd").over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    )
    ch = c.groupBy("doc_id", "lang", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("chash"),
        F.count("*").alias("clen"),
    )
    return ch.groupBy("lang").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("chash").alias("n_distinct_chunks"),
        F.sum("clen").alias("n_tokens"),
        F.max("clen").alias("max_chunk_len"),
        F.expr(
            "(count(*) - count(distinct chash)) * 10000 div count(*)"
        ).alias("dup_chunk_e4"),
    )


# ---------------------------------------------------------------------------
# dedup: cluster-size statistics over the verified near-dup components

# Composes the registered llm_dedup_clusters oracle verbatim as a derived
# table (graph.py registers it before this module loads — ops/__init__
# imports round12 last), so the two ops can never disagree about what a
# cluster is.
_CLUSTER_STATS_ORACLE = """
    WITH comp AS ({components}),
    sz AS (SELECT component, count(*) AS size,
                  sum(n_chars) AS chars_total,
                  sum(CASE WHEN doc_id <> component THEN n_chars ELSE 0 END)
                    AS chars_dup
           FROM comp JOIN documents USING (doc_id)
           GROUP BY component)
    SELECT CAST(size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(chars_total) AS BIGINT) AS chars_total,
           CAST(sum(chars_dup) AS BIGINT) AS chars_saved
    FROM sz GROUP BY size
    """.format(components=ORACLES["llm_dedup_clusters"])


@register("llm_dedup_cluster_stats", oracle=_CLUSTER_STATS_ORACLE)
def llm_dedup_cluster_stats(spark, sf_dir):
    """Cluster-size census over the verified near-dup components — the
    report a dedup pass publishes before it deletes: how many clusters
    of each size exist, the character mass they hold, and the mass a
    keep-canonical policy (keep = min doc_id = the component label)
    reclaims.  Composes the llm_dedup_clusters component frame (shingle-
    banded LSH edges, the linear-candidate path) with one documents join
    and two narrow aggregates; the oracle embeds that op's full
    WITH-RECURSIVE SQL as a derived table, so the two ops can never
    disagree about what a cluster is.

    Measured spread: sizes 2-4 at every SF (size-2 dominates; sf0.1
    holds 208 pairs, 9 triples and a quad), chars_saved ~50% of cluster
    mass — the honest dedup dividend."""
    comp = QUERIES["llm_dedup_clusters"](spark, sf_dir).transform(lineage_cap)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sz = (
        comp.join(docs, "doc_id")
        .groupBy("component")
        .agg(
            F.count("*").alias("size"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(
                F.when(
                    F.col("doc_id") != F.col("component"), F.col("n_chars")
                ).otherwise(0)
            ).alias("chars_dup"),
        )
    )
    return sz.groupBy(F.col("size").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("chars_total").alias("chars_total"),
        F.sum("chars_dup").alias("chars_saved"),
    )


# ---------------------------------------------------------------------------
# causal analytics: difference-in-differences

# Natural 2x2: treat = odd user_id (a stable hash of the unit — how a
# real experiment assigns), post = second half of the event month.
_DID_CELLS = """
    SELECT event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
           CASE WHEN extract(day FROM ts) >= 16 THEN 1 ELSE 0 END AS post
    FROM events
"""


def _did_mean(treat: int, post: int, div: str) -> str:
    c = f"CASE WHEN treat = {treat} AND post = {post} THEN cents END"
    return (
        f"(sum({c}) * 10000 {div} count({c}))"
    )


@register(
    "agg_diff_in_diff",
    oracle=f"""
    WITH e AS ({_DID_CELLS})
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST({_did_mean(1, 0, '//')} AS BIGINT) AS pre_treat_e4,
           CAST({_did_mean(1, 1, '//')} AS BIGINT) AS post_treat_e4,
           CAST({_did_mean(0, 0, '//')} AS BIGINT) AS pre_ctrl_e4,
           CAST({_did_mean(0, 1, '//')} AS BIGINT) AS post_ctrl_e4,
           CAST(({_did_mean(1, 1, '//')} - {_did_mean(1, 0, '//')})
              - ({_did_mean(0, 1, '//')} - {_did_mean(0, 0, '//')})
             AS BIGINT) AS did_e4
    FROM e GROUP BY event_type
    """,
)
def agg_diff_in_diff(spark, sf_dir):
    """Difference-in-differences — the workhorse quasi-experimental
    estimator: per event type, the treated group's pre-to-post change in
    mean value (cents e4) minus the control group's change, under the
    canonical 2x2 (treat = odd user_id, post = second half of the
    month).  Each cell mean floors ONCE at e4 before the differences
    (sum * 10000 div count — integer-exact and identical on both
    engines because cents are non-negative, so floor == truncate);
    measured DiD spans -1,824 to +947 cents e4 across types and flips
    sign between SFs — a live placebo spread on this synthetic stream.

    Shape: ONE scan, one groupBy(event_type) with eight conditional
    aggregates — the 2x2 cells are CASE masks inside the same partial
    aggregation, never four sub-queries; at 100 TB this is a single
    map-side-combined pass."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "cast(round(value * 100, 0) as bigint) as cents",
        "case when user_id % 2 = 1 then 1 else 0 end as treat",
        "case when extract(day from ts) >= 16 then 1 else 0 end as post",
    )
    did = (
        f"(({_did_mean(1, 1, 'div')} - {_did_mean(1, 0, 'div')})"
        f" - ({_did_mean(0, 1, 'div')} - {_did_mean(0, 0, 'div')}))"
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr(_did_mean(1, 0, "div")).cast("long").alias("pre_treat_e4"),
        F.expr(_did_mean(1, 1, "div")).cast("long").alias("post_treat_e4"),
        F.expr(_did_mean(0, 0, "div")).cast("long").alias("pre_ctrl_e4"),
        F.expr(_did_mean(0, 1, "div")).cast("long").alias("post_ctrl_e4"),
        F.expr(did).cast("long").alias("did_e4"),
    )


# ---------------------------------------------------------------------------
# causal analytics: quantile treatment effect

_QTE_DECILES = tuple(range(1, 10))


@register(
    "agg_quantile_treatment_effect",
    oracle=f"""
    WITH e AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
                      CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat
               FROM events),
    r AS (SELECT cents, treat,
                 row_number() OVER (PARTITION BY treat ORDER BY cents)
                   AS rn,
                 count(*) OVER (PARTITION BY treat) AS n
          FROM e),
    d AS (SELECT unnest([{",".join(map(str, _QTE_DECILES))}]) AS dec),
    q AS (SELECT d.dec, r.treat, min(r.cents) AS qv
          FROM d JOIN r ON r.rn >= (d.dec * r.n + 9) // 10
          GROUP BY d.dec, r.treat)
    SELECT CAST(dec AS BIGINT) AS decile,
           CAST(max(CASE WHEN treat = 1 THEN qv END) AS BIGINT)
             AS q_treat_cents,
           CAST(max(CASE WHEN treat = 0 THEN qv END) AS BIGINT)
             AS q_ctrl_cents,
           CAST(max(CASE WHEN treat = 1 THEN qv END)
              - max(CASE WHEN treat = 0 THEN qv END) AS BIGINT)
             AS qte_cents
    FROM q GROUP BY dec
    """,
)
def agg_quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effect — where in the outcome DISTRIBUTION a
    treatment moves mass (a mean-shift DiD can read zero while the tails
    diverge): per decile, the exact discrete quantile of treated minus
    control event values (cents), treat = odd user_id.  Quantiles are
    exact order statistics — the value at ceiling-rank d*n/10 via ONE
    row_number window per arm (min(cents | rn >= rank) is
    tie-insensitive: equal values straddling the rank threshold yield
    the same minimum regardless of their arbitrary rn order, so the op
    is deterministic without a unique tie-break column).  Measured QTE
    is signed and decile-dependent at every SF (e.g. +75..+924 at
    sf0.001, -5..-588 at sf0.01) — the full-distribution view DiD's
    single number hides.

    Shape: one scan, one 2-partition window (the per-arm rank), a
    9-row decile grid joined against it — no global sort; at scale the
    exact ranks come from the same per-arm range partitioning a sorted
    layout already has."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "cast(round(value * 100, 0) as bigint) as cents",
        "case when user_id % 2 = 1 then 1 else 0 end as treat",
    )
    w = Window.partitionBy("treat").orderBy("cents")
    r = e.select(
        "cents",
        "treat",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("treat")).alias("n"),
    )
    d = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in _QTE_DECILES])
        ).alias("dec")
    )
    q = (
        r.crossJoin(F.broadcast(d))
        .filter(F.col("rn") >= F.expr("(dec * n + 9) div 10"))
        .groupBy("dec", "treat")
        .agg(F.min("cents").alias("qv"))
    )
    return q.groupBy(F.col("dec").cast("long").alias("decile")).agg(
        F.max(F.when(F.col("treat") == 1, F.col("qv"))).alias(
            "q_treat_cents"
        ),
        F.max(F.when(F.col("treat") == 0, F.col("qv"))).alias(
            "q_ctrl_cents"
        ),
        (
            F.max(F.when(F.col("treat") == 1, F.col("qv")))
            - F.max(F.when(F.col("treat") == 0, F.col("qv")))
        ).alias("qte_cents"),
    )


# ---------------------------------------------------------------------------
# eval allocation: Hamilton largest-remainder quotas per stratum

_HAM_BUDGET = 97  # prime: forces live remainders at every SF (measured)


@register(
    "llm_eval_quota_hamilton",
    oracle=f"""
    WITH n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS nt FROM n),
    q AS (SELECT lang, n_docs,
                 {_HAM_BUDGET} * n_docs // nt AS fl,
                 ({_HAM_BUDGET} * n_docs) % nt AS rem
          FROM n, t),
    lo AS (SELECT {_HAM_BUDGET} - sum(fl) AS leftover FROM q),
    rk AS (SELECT q.*, lo.leftover,
                  row_number() OVER (ORDER BY rem DESC, lang) AS rn
           FROM q, lo)
    SELECT lang, n_docs,
           CAST(fl AS BIGINT) AS quota_floor,
           CAST(rem AS BIGINT) AS remainder_num,
           CAST(CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra_seat,
           CAST(fl + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS quota_final
    FROM rk
    """,
)
def llm_eval_quota_hamilton(spark, sf_dir):
    """Hamilton (largest-remainder) quota allocation — how an eval set
    or annotation budget of B items is split across strata so every
    stratum gets EXACTLY floor-or-ceiling of its proportional share and
    the total is exactly B (naive rounding over- or under-shoots):
    per language, the floor quota B*N_h div N, the remainder numerator
    (B*N_h) mod N, and +1 seats to the `B - sum(floors)` largest
    remainders (tie-broken by lang).  B = 97 is prime, so remainders
    are live at every SF (measured leftovers 2-3, extra_seat mixes 0s
    and 1s).  This is the integer-exact allocation primitive behind
    llm_stratified_sample-style eval builds — apportionment, not
    sampling, so it is fully hash-checkable.

    Shape: one groupBy(lang), two scalar broadcasts (total, leftover),
    one 5-row window rank — driver-scale arithmetic over an
    arbitrarily large corpus scan."""
    n = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    t = n.agg(F.sum("n_docs").alias("nt"))
    q = n.crossJoin(F.broadcast(t)).selectExpr(
        "lang",
        "n_docs",
        f"{_HAM_BUDGET} * n_docs div nt as fl",
        f"({_HAM_BUDGET} * n_docs) % nt as rem",
    )
    lo = q.agg(F.expr(f"{_HAM_BUDGET} - sum(fl)").alias("leftover"))
    rk = q.crossJoin(F.broadcast(lo)).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("lang"))
        ),
    )
    return rk.select(
        "lang",
        "n_docs",
        F.col("fl").alias("quota_floor"),
        F.col("rem").alias("remainder_num"),
        F.when(F.col("rn") <= F.col("leftover"), 1)
        .otherwise(0)
        .cast("long")
        .alias("extra_seat"),
        (
            F.col("fl")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        ).alias("quota_final"),
    )


# ---------------------------------------------------------------------------
# sampling: deterministic without-replacement subsample via Feistel

_FS_TAKE = 20

# The permutation expressions come from fn_feistel_permute's generator
# (round11 imports before round12), so the sampler and the bijectivity
# proof op share one Feistel definition per dialect.
from biggie_spark.ops.round11 import _feistel_sql  # noqa: E402

_FS_PERM_DUCK = _feistel_sql("xor({a}, {b})")
_FS_PERM_SPARK = _feistel_sql("({a} ^ {b})").replace("//", " div ")


@register(
    "llm_feistel_subsample",
    oracle=f"""
    WITH p AS (SELECT doc_id, lang, n_chars,
                      CAST({_FS_PERM_DUCK} AS BIGINT) AS perm
               FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY perm)
                 AS rn
          FROM p)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS sum_sampled_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_sampled_chars,
           CAST(min(perm) AS BIGINT) AS min_perm,
           CAST(max(perm) AS BIGINT) AS max_perm
    FROM r WHERE rn <= {_FS_TAKE} GROUP BY lang
    """,
)
def llm_feistel_subsample(spark, sf_dir):
    """Deterministic draw-WITHOUT-replacement per stratum — the sampler
    the Feistel permutation exists for (fn_feistel_permute proves
    bijectivity; this op spends it): rank documents inside each language
    by their permuted key and keep the first 20.  Because the
    permutation is a bijection, ranks never tie and no document can be
    drawn twice — the two properties hash-mod sampling (fn_sample_hash)
    cannot guarantee — and the draw is reproducible on any engine from
    the four literal round keys alone (no RNG state to ship).  The
    output pins the exact drawn set (sum of ids / chars, perm range)
    per stratum.

    Shape: one projection (the unrolled 4-round Feistel, pure
    whole-stage-codegen arithmetic) + one per-lang window rank; at
    100 TB the rank's top-20 collapses map-side per partition before
    the final per-stratum merge."""
    p = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"cast({_FS_PERM_SPARK} as bigint)").alias("perm"),
    )
    r = p.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("lang").orderBy("perm")),
    ).filter(F.col("rn") <= _FS_TAKE)
    return r.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.sum("doc_id").alias("sum_sampled_ids"),
        F.sum("n_chars").alias("sum_sampled_chars"),
        F.min("perm").alias("min_perm"),
        F.max("perm").alias("max_perm"),
    )


# ---------------------------------------------------------------------------
# link prediction: resource-allocation index (integer Adamic-Adar)

_RA_N = 500  # same digraph as graph_bfs_distance / graph_common_neighbors


@register(
    "graph_resource_alloc_index",
    oracle=f"""
    WITH nodes AS (SELECT doc_id AS v FROM documents WHERE doc_id < {_RA_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_RA_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_RA_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_RA_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    deg AS (SELECT src AS z, count(*) AS d FROM sym GROUP BY src),
    wedges AS (
      SELECT a.src AS u, b.src AS v,
             sum(1000000 // deg.d) AS ra_e6, count(*) AS cn
      FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
      JOIN deg ON deg.z = a.dst
      GROUP BY a.src, b.src),
    nonedge AS (
      SELECT w.u, w.v, w.ra_e6, w.cn FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM sym s
                        WHERE s.src = w.u AND s.dst = w.v))
    SELECT u, v, CAST(ra_e6 AS BIGINT) AS ra_e6,
           CAST(cn AS BIGINT) AS common_neighbors
    FROM nonedge ORDER BY ra_e6 DESC, u, v LIMIT 25
    """,
)
def graph_resource_alloc_index(spark, sf_dir):
    """Resource-allocation index — the link-prediction score that beats
    raw common-neighbor counts by DISCOUNTING hub neighbors (RA = sum
    over shared neighbors z of 1/deg(z); Adamic-Adar's 1/log deg
    sibling, chosen because 1e6 div deg is integer-EXACT while log
    forces float parity): top-25 unconnected pairs by RA over the same
    3-generator digraph as graph_common_neighbors, where a shared
    degree-2 neighbor is worth 7x a shared degree-14 hub — the top-25
    ordering measurably disagrees with the raw-count ranking (scores
    809523 > 750000 > 666666... vs cn ties at 2-3), which is the point.

    Shape: the same single wedge self-equi-join as triangle counting
    (SUM Σdeg(w)^2 bound), one broadcast degree lookup on the shared
    neighbor, one anti-join to drop existing edges, top-25 on exact
    integers."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _RA_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _RA_N).alias("dst"))
        .unionAll(
            nodes.select("v", ((F.col("v") * 3 + 7) % _RA_N).alias("dst"))
        )
        .unionAll(
            nodes.select(
                "v", ((F.col("v") * F.col("v") + 3) % _RA_N).alias("dst")
            )
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = (
        e.select("src", "dst")
        .unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(lineage_cap)
    )
    deg = sym.groupBy(F.col("src").alias("z")).agg(F.count("*").alias("d"))
    a = sym.select(F.col("src").alias("u"), F.col("dst").alias("z"))
    b = sym.select(F.col("src").alias("v"), F.col("dst").alias("z"))
    wedges = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("v"))
        .join(F.broadcast(deg), "z")
        .groupBy("u", "v")
        .agg(
            F.expr("sum(1000000 div d)").alias("ra_e6"),
            F.count("*").alias("cn"),
        )
    )
    nonedge = wedges.join(
        sym.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        nonedge.orderBy(F.col("ra_e6").desc(), "u", "v")
        .limit(25)
        .select("u", "v", "ra_e6", F.col("cn").alias("common_neighbors"))
    )

# ---------------------------------------------------------------------------
# multimodal: quadtree occupancy over the decoded image

_QT_THR = 64  # absolute gray threshold: all-bg, partial AND all-fg probes live
_QT_DEPTHS = (1, 2)


@register(
    "mm_image_quadtree_occupancy",
    oracle=f"""
    WITH probe AS (SELECT doc_id, 16 + doc_id % 8 AS w, 8 AS h,
                          doc_id % 60 + 10 AS b
                   FROM documents WHERE doc_id < 64),
    px AS (SELECT doc_id, w, h, xx.x, yy.y,
                  CASE WHEN b + xx.x + yy.y > {_QT_THR} THEN 1 ELSE 0 END
                    AS fg
           FROM probe, range(0, 23) xx(x), range(0, 8) yy(y)
           WHERE xx.x < w),
    d AS (SELECT unnest([{",".join(map(str, _QT_DEPTHS))}]) AS dep),
    cells AS (SELECT doc_id, dep,
                     (x * (1 << dep)) // w AS cx,
                     (y * (1 << dep)) // h AS cy,
                     count(*) AS n_px, sum(fg) AS n_fg
              FROM px, d GROUP BY doc_id, dep, cx, cy)
    SELECT doc_id, CAST(dep AS BIGINT) AS depth,
           CAST(sum(n_fg) AS BIGINT) AS n_fg_px,
           CAST(sum(CASE WHEN n_fg > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cells_occupied,
           CAST(sum(CASE WHEN n_fg = n_px THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cells_full
    FROM cells GROUP BY doc_id, dep
    """,
)
def mm_image_quadtree_occupancy(spark, sf_dir):
    """Quadtree occupancy census through the REAL PPM codec — the
    spatial-index statistic behind tiled image storage and
    sparse-region skipping (a cell that is all-background never needs
    decoding; a full cell stores as one RLE token): threshold the
    decoded gradient image at the absolute gray level 64 and count, at
    quadtree depths 1 and 2 (4 and 16 cells, ceil-divided for the
    non-power-of-two widths), the foreground pixels, the occupied cells
    (any foreground) and the saturated cells (all foreground).  The
    64-probe panel spans all three regimes — all-background (occ = 0),
    partial, and all-foreground (full = 4/16) — measured 0..184 fg
    pixels, 0..16 occupied cells.

    Kernel: one Arrow-batched pandas_udf decodes the P6 payload (the
    mm_image_otsu_threshold netpbm walk) and reduces each depth in
    numpy; the oracle reproduces the gradient image in closed form over
    the bounded pixel grid.  Per-image work is constant; the op is one
    map-side pass at any corpus scale."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_ppm

    depths = list(_QT_DEPTHS)

    @pandas_udf(
        "struct<nfg array<bigint>, occ array<bigint>, fullc array<bigint>>"
    )
    def quad_udf(doc_id: pd.Series) -> pd.DataFrame:
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
            fg = px > _QT_THR  # rows = y, cols = x
            nfg, occ, fullc = [], [], []
            for dep in depths:
                k = 1 << dep
                ys, xs = np.indices(fg.shape)
                cid = (xs * k) // ww * k + (ys * k) // hh
                n_fg_cell = np.bincount(
                    cid.ravel(), weights=fg.ravel(), minlength=k * k
                )
                n_px_cell = np.bincount(cid.ravel(), minlength=k * k)
                nfg.append(int(fg.sum()))
                occ.append(int((n_fg_cell > 0).sum()))
                fullc.append(
                    int(((n_px_cell > 0) & (n_fg_cell == n_px_cell)).sum())
                )
            rows.append({"nfg": nfg, "occ": occ, "fullc": fullc})
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    feats = probe.select("doc_id", quad_udf("doc_id").alias("f"))
    dgrid = F.array(*[F.lit(d) for d in depths])
    return feats.select(
        "doc_id",
        F.posexplode(
            F.arrays_zip(
                dgrid.alias("dep"),
                F.col("f.nfg").alias("nfg"),
                F.col("f.occ").alias("occ"),
                F.col("f.fullc").alias("fullc"),
            )
        ).alias("_i", "z"),
    ).select(
        "doc_id",
        F.col("z.dep").cast("long").alias("depth"),
        F.col("z.nfg").alias("n_fg_px"),
        F.col("z.occ").alias("n_cells_occupied"),
        F.col("z.fullc").alias("n_cells_full"),
    )


# ---------------------------------------------------------------------------
# multimodal: silence trim bounds over the decoded waveform

_TRIM_THR = 28000  # |amplitude| floor for "loud" (measured: 17 distinct trims)


@register(
    "mm_audio_silence_trim",
    oracle=f"""
    WITH probe AS (SELECT v AS doc_id FROM range(64) p(v)),
    t AS (SELECT doc_id, tt.t,
                 CAST(((doc_id * 31 + tt.t) * 2654435761) % 65536 - 32768
                   AS BIGINT) AS x
          FROM probe, range(64) tt(t)),
    loud AS (SELECT doc_id, min(t) AS first_loud, max(t) AS last_loud,
                    count(*) AS n_loud
             FROM t WHERE abs(x) >= {_TRIM_THR} GROUP BY doc_id)
    SELECT doc_id,
           CAST(first_loud AS BIGINT) AS lead_trim,
           CAST(63 - last_loud AS BIGINT) AS tail_trim,
           CAST(last_loud - first_loud + 1 AS BIGINT) AS active_span,
           CAST(n_loud AS BIGINT) AS n_loud
    FROM loud
    """,
)
def mm_audio_silence_trim(spark, sf_dir):
    """Leading/trailing silence trim through the REAL WAV codec — the
    first preprocessing step of every speech/audio ingest pipeline
    (trimmed clips cost less to store, transcribe and embed): per clip,
    the samples to cut from each end before the first/after the last
    sample whose |amplitude| reaches the 28000 gate, the surviving
    active span, and the loud-sample count.  The 64-clip panel spreads
    trims across 0..18 samples per side (17 distinct values — measured
    before registration; at the naive 8192 gate the pseudo-random
    signal is 75% "loud" and the trim collapses to 0..1, the vacuity
    trap this threshold dodges).

    Kernel: the mm_audio_envelope_peaks shape — one Arrow-batched
    encode (demo_pcm -> RIFF/WAVE) and one decode+reduce pandas_udf per
    clip; the oracle reproduces the closed-form waveform and takes
    min/max over the gated samples.  Map-side per clip at any scale."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import demo_pcm, encode_wav, wav_samples

    @pandas_udf("binary")
    def encode_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [encode_wav(demo_pcm(d).astype("<i2")) for d in doc_id]
        )

    @pandas_udf(
        "struct<lead_trim bigint, tail_trim bigint, active_span bigint, "
        "n_loud bigint>"
    )
    def trim_udf(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for b in payload:
            x = wav_samples(bytes(b)).astype(np.int64)
            loud = np.abs(x) >= _TRIM_THR
            idx = np.flatnonzero(loud)
            first, last = int(idx[0]), int(idx[-1])
            rows.append(
                {
                    "lead_trim": first,
                    "tail_trim": len(x) - 1 - last,
                    "active_span": last - first + 1,
                    "n_loud": int(loud.sum()),
                }
            )
        return pd.DataFrame(rows)

    probe = spark.range(64).select(F.col("id").alias("doc_id"))
    enc = probe.select("doc_id", encode_udf("doc_id").alias("wav"))
    return enc.select("doc_id", trim_udf("wav").alias("f")).select(
        "doc_id", "f.lead_trim", "f.tail_trim", "f.active_span", "f.n_loud"
    )

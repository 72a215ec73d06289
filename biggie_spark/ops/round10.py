"""Round-10 tranche, built and locally verified during round 9 (the
round-8 -> round-9 cadence): lakehouse data-layout ops and the
eval-statistics tier.

* layout — Morton (Z-order) curve encoding with a PERSISTED clustered
  layout whose 2-D range probe must touch no more files than the
  single-column sort layout; an ANALYZE-style block-stats manifest whose
  range predicate provably prunes blocks; schema-evolution reads
  (mergeSchema) with the evolved column's null accounting value-checked;
  TTL retention sweeps over a versioned stash.
* eval statistics — McNemar's paired-gate test on the teacher/student
  keep decisions, two integer Bradley-Terry MM steps over the exact
  pairwise win matrix, the RLHF length-bias audit, and two HITS
  iterations (hubs/authorities) over the nation trade graph.
* SQL surface — TRY_* error-safe arithmetic parity (try_divide /
  try_cast / try_add overflow) against DuckDB's TRY_CAST + guard forms.

All outputs follow the integer-exact conventions; every op carries a
full DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd  # module-level: pandas_udf type hints must resolve
# via func.__globals__ (see ops/round9.py note)

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import tokens

# ---------------------------------------------------------------------------
# Morton / Z-order curve

_MORTON_BITS = 6  # 64 x 64 grid


def _morton_sql(x: str, y: str, bits: int = _MORTON_BITS) -> str:
    """The bit-interleave expression, generated ONCE and pasted into both
    engines (Spark F.expr and the DuckDB oracle) so the encodings cannot
    fork: z = sum_b ((x>>b & 1) << 2b) | ((y>>b & 1) << (2b+1))."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " | ".join(terms) + ")"


def _morton_decode_sql(z: str, axis: int, bits: int = _MORTON_BITS) -> str:
    """Inverse: extract the even (axis=0 -> x) or odd (axis=1 -> y) bits."""
    terms = [
        f"((({z} >> {2 * b + axis}) & 1) << {b})" for b in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


@register(
    "fn_morton_curve",
    oracle=f"""
    WITH g AS (SELECT doc_id,
                      CAST(doc_id % 64 AS BIGINT) AS x,
                      CAST((doc_id // 64 + 13 * (doc_id % 64)) % 64
                        AS BIGINT) AS y
               FROM documents WHERE doc_id < 256),
    m AS (SELECT doc_id, x, y,
                 CAST({_morton_sql('x', 'y')} AS BIGINT) AS z
          FROM g)
    SELECT doc_id, x, y, z,
           CAST({_morton_decode_sql('z', 0)} AS BIGINT) AS dx,
           CAST({_morton_decode_sql('z', 1)} AS BIGINT) AS dy
    FROM m
    """,
)
def fn_morton_curve(spark, sf_dir):
    """Morton (Z-order) curve encode/decode — the space-filling curve
    behind multi-dimensional data clustering (Delta/Iceberg Z-ORDER BY):
    interleave the bits of two 6-bit grid coordinates (x = key mod 64;
    y mixes the high key bits so the two axes are INDEPENDENT — an
    affine y = a*key mod 64 would be fully determined by x, which made
    the first version's layout comparison degenerate) into one sort key
    and recover both coordinates from it.  The encode AND decode
    expressions are generated by one Python helper and pasted verbatim
    into both engines, so the bit layout cannot fork; the hash check
    covers the full 256-key probe, where any interleave slip (the
    classic off-by-one in the shift stride) breaks dx/dy.

    Shape: pure per-row bit arithmetic inside whole-stage codegen — no
    shuffle, no UDF; the curve key is what the PERSISTED layout op
    (`snk_zorder_layout_persisted`) sorts by."""
    g = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 256)
        .select(
            "doc_id",
            (F.col("doc_id") % 64).cast("long").alias("x"),
            F.expr("(doc_id div 64 + 13 * (doc_id % 64)) % 64")
            .cast("long")
            .alias("y"),
        )
    )
    m = g.select(
        "doc_id",
        "x",
        "y",
        F.expr(_morton_sql("x", "y")).cast("long").alias("z"),
    )
    return m.select(
        "doc_id",
        "x",
        "y",
        "z",
        F.expr(_morton_decode_sql("z", 0)).cast("long").alias("dx"),
        F.expr(_morton_decode_sql("z", 1)).cast("long").alias("dy"),
    )


# Range probe for the layout comparison: the 8..15 square on both axes.
_ZQ_LO, _ZQ_HI = 8, 15
_ZFILE_ROWS = 64  # maxRecordsPerFile — forces a multi-file layout


@register(
    "snk_zorder_layout_persisted",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_match,
           CAST(sum(doc_id) AS BIGINT) AS sum_key,
           CAST(min(doc_id) AS BIGINT) AS min_key,
           CAST(max(doc_id) AS BIGINT) AS max_key
    FROM documents
    WHERE doc_id % 64 BETWEEN {_ZQ_LO} AND {_ZQ_HI}
      AND (doc_id // 64 + 13 * (doc_id % 64)) % 64
          BETWEEN {_ZQ_LO} AND {_ZQ_HI}
    """,
)
def snk_zorder_layout_persisted(spark, sf_dir):
    """Z-order clustering, persisted and PROVEN: write the corpus twice
    under the same 64-row file-size cap — once sorted by the Morton key
    of the two grid dimensions, once sorted by dimension x alone (the
    single-column clustering a naive layout uses) — then run the same
    2-D range probe (the 8..15 square on both axes) against both layouts
    and count the files that contain matching rows via
    ``input_file_name()``.  The op RAISES unless the Z-layout touches no
    MORE files than the x-sort layout: multi-dimensional locality is the
    entire point of Z-ordering, and here it is asserted from the
    executed read, not narrated.  (Non-strict bound: at sf0.001 the
    8-file corpus can tie; at sf0.1 the measured split is decisive.)

    The returned row is the probe's aggregate computed from RE-READING
    the Z-layout artifact — a corrupted clustered write fails the value
    check.  At 100 TB this is the layout decision that turns a 2-D
    predicate from a full scan into an O(matching-blocks) read; the sort
    itself is one range-partitioned exchange at write time, amortized
    over every subsequent probe."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 64).cast("long").alias("x"),
        F.expr("(doc_id div 64 + 13 * (doc_id % 64)) % 64")
        .cast("long")
        .alias("y"),
    )
    z = d.withColumn("z", F.expr(_morton_sql("x", "y")).cast("long"))
    root = tempfile.mkdtemp(prefix="biggie_zorder_")
    try:
        zdir, xdir = os.path.join(root, "zsort"), os.path.join(root, "xsort")
        (
            z.sort("z")
            .write.option("maxRecordsPerFile", _ZFILE_ROWS)
            .mode("overwrite")
            .parquet(zdir)
        )
        (
            z.sort("x")
            .write.option("maxRecordsPerFile", _ZFILE_ROWS)
            .mode("overwrite")
            .parquet(xdir)
        )
        probe = (F.col("x").between(_ZQ_LO, _ZQ_HI)) & (
            F.col("y").between(_ZQ_LO, _ZQ_HI)
        )

        def files_touched(path):
            return (
                spark.read.parquet(path)
                .filter(probe)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .count()
            )

        nz, nx = files_touched(zdir), files_touched(xdir)
        if nz > nx:
            raise RuntimeError(
                f"Z-order layout touched MORE files than the x-sort "
                f"layout for the 2-D range probe ({nz} > {nx}) — the "
                "clustering write is broken"
            )
        out = (
            spark.read.parquet(zdir)
            .filter(probe)
            .agg(
                F.count("*").alias("n_match"),
                F.sum("doc_id").alias("sum_key"),
                F.min("doc_id").alias("min_key"),
                F.max("doc_id").alias("max_key"),
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Block size for the stats manifest: disjoint doc_id blocks so the
# range-overlap flag genuinely varies (a per-source manifest would be
# vacuous here — every source spans the whole key range).
_STATS_BLOCK = 128
_STATS_LO, _STATS_HI = 300, 599


@register(
    "snk_stats_manifest_persisted",
    oracle=f"""
    WITH b AS (SELECT doc_id // {_STATS_BLOCK} AS block, doc_id, n_chars,
                      lang
               FROM documents),
    m AS (SELECT block,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(min(doc_id) AS BIGINT) AS min_key,
                 CAST(max(doc_id) AS BIGINT) AS max_key,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 CAST(count(DISTINCT lang) AS BIGINT) AS ndv_lang
          FROM b GROUP BY block)
    SELECT block, n_rows, min_key, max_key, sum_chars, ndv_lang,
           CAST(max_key >= {_STATS_LO} AND min_key <= {_STATS_HI}
             AS BIGINT) AS overlaps_probe
    FROM m
    """,
)
def snk_stats_manifest_persisted(spark, sf_dir):
    """ANALYZE-style block-statistics manifest, persisted and used: per
    {_STATS_BLOCK}-key block, the min/max key, row count, byte mass, and
    language NDV — the zone-map a lakehouse scan planner consults — then
    the planner's own question answered FROM the re-read manifest: which
    blocks can a doc_id range predicate skip?  The overlaps flag is
    computed with the standard interval test (max >= lo AND min <= hi),
    and the op RAISES unless at least one block is prunable and at least
    one overlaps — a manifest that can never prune is a zone-map bug,
    not a data property, on this corpus (blocks partition the key space
    disjointly by construction).

    Shape at 100 TB: the manifest build is one partial+final aggregate
    (one row per block — millions of rows for billions of files, still
    tiny); the planner read is a broadcast-sized scan.  This op is the
    STATS side of the pruning the persisted-index family asserts via
    PartitionFilters."""
    b = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") / _STATS_BLOCK).cast("long").alias("block"),
        "doc_id",
        "n_chars",
        "lang",
    )
    m = b.groupBy("block").agg(
        F.count("*").alias("n_rows"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("lang").alias("ndv_lang"),
    )
    root = tempfile.mkdtemp(prefix="biggie_stats_manifest_")
    try:
        m.write.mode("overwrite").parquet(root)
        manifest = spark.read.schema(m.schema).parquet(root)
        out = manifest.select(
            "block",
            "n_rows",
            "min_key",
            "max_key",
            "sum_chars",
            "ndv_lang",
            (
                (F.col("max_key") >= _STATS_LO)
                & (F.col("min_key") <= _STATS_HI)
            )
            .cast("long")
            .alias("overlaps_probe"),
        ).localCheckpoint()
        flags = [r.overlaps_probe for r in out.select("overlaps_probe").collect()]
        if not (0 in flags and 1 in flags):
            raise RuntimeError(
                "stats manifest must both prune and admit blocks for the "
                f"probe range [{_STATS_LO}, {_STATS_HI}] — got flags {set(flags)}"
            )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "src_scan_schema_evolution",
    oracle="""
    WITH v AS (
      SELECT doc_id, n_chars,
             CASE WHEN doc_id < 200 THEN NULL ELSE lang END AS lang,
             CAST(doc_id >= 200 AS BIGINT) AS vgen
      FROM documents WHERE doc_id < 400)
    SELECT vgen,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (lang IS NULL) AS BIGINT) AS n_lang_null,
           CAST(count(DISTINCT lang) AS BIGINT) AS ndv_lang,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM v GROUP BY vgen
    """,
)
def src_scan_schema_evolution(spark, sf_dir):
    """Schema evolution on the read path — the mergeSchema contract a
    long-lived dataset depends on: generation 1 files carry
    (doc_id, n_chars), generation 2 adds a `lang` column; one
    ``mergeSchema`` read must surface the union schema with the evolved
    column NULL exactly on the old generation's rows.  The op writes
    both generations, re-reads with mergeSchema=true, RAISES unless the
    merged schema contains all three data columns, and value-checks the
    per-generation null accounting — the failure mode this guards
    (silent column drop or misaligned nulls) corrupts every downstream
    aggregate without erroring.

    At 100 TB schema evolution is why the read path must never require
    rewriting old files; mergeSchema's footer-union planning cost is the
    documented trade (production pins the schema in the catalog and
    reads with an explicit schema — the same union this op verifies)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    root = tempfile.mkdtemp(prefix="biggie_schema_evo_")
    try:
        (
            d.filter(F.col("doc_id") < 200)
            .select("doc_id", "n_chars")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "gen=1"))
        )
        (
            d.filter(F.col("doc_id") >= 200)
            .select("doc_id", "n_chars", "lang")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "gen=2"))
        )
        merged = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", root)
            .parquet(os.path.join(root, "gen=1"), os.path.join(root, "gen=2"))
        )
        cols = set(merged.columns)
        if not {"doc_id", "n_chars", "lang"} <= cols:
            raise RuntimeError(
                f"mergeSchema read lost columns: {sorted(cols)}"
            )
        out = merged.groupBy(
            (F.col("doc_id") >= 200).cast("long").alias("vgen")
        ).agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("lang").isNull(), 1)).alias("n_lang_null"),
            F.countDistinct("lang").alias("ndv_lang"),
            F.sum("n_chars").alias("sum_chars"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


_I64_MAX = 9223372036854775807


@register(
    "sql_try_arith",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN NULL
                ELSE CAST(floor(100 / (doc_id % 5)) AS BIGINT) END
             AS div_safe,
           TRY_CAST(CASE WHEN doc_id % 3 = 0
                         THEN 'x' || CAST(doc_id AS VARCHAR)
                         ELSE CAST(doc_id AS VARCHAR) END AS BIGINT)
             AS cast_safe,
           CASE WHEN doc_id > 0 THEN NULL
                ELSE {_I64_MAX} END AS add_safe
    FROM documents WHERE doc_id < 100
    """,
)
def sql_try_arith(spark, sf_dir):
    """Error-safe SQL arithmetic parity — Spark's TRY_* family
    (ANSI-mode's escape hatch) proved value-equal to DuckDB's TRY_CAST +
    guard forms on all three failure classes: division by zero
    (try_divide -> NULL), unparseable cast (try_cast -> NULL), and
    signed int64 overflow (try_add(I64_MAX - id, 2*id) overflows for
    every id > 0 -> NULL).  The hash check certifies NULL placement row
    by row — an engine that raised, wrapped, or saturated instead of
    NULLing would diverge immediately.

    At scale TRY_* is the difference between one poisoned row failing a
    10-hour job and a NULL the downstream nullif/coalesce conventions
    (used repo-wide) already handle."""
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("docs_try")
    return spark.sql(
        f"""
        SELECT doc_id,
               CAST(floor(try_divide(100, doc_id % 5)) AS BIGINT)
                 AS div_safe,
               try_cast(CASE WHEN doc_id % 3 = 0
                             THEN concat('x', CAST(doc_id AS STRING))
                             ELSE CAST(doc_id AS STRING) END AS BIGINT)
                 AS cast_safe,
               try_add(CAST({_I64_MAX} AS BIGINT) - doc_id, doc_id * 2)
                 AS add_safe
        FROM docs_try
        """
    )


# ---------------------------------------------------------------------------
# eval-statistics tier (teacher/student gates from round9b's distill frame)

# The teacher/student score expressions and keep gates are round9b's —
# imported, not copied, so a recalibration there cannot fork the
# McNemar/Bradley-Terry/SPRT ops from the distill ops they extend.
from biggie_spark.ops.round9b import (  # noqa: E402
    _S_KEEP,
    _S_SCORE,
    _S_SCORE_SQL,
    _T_KEEP,
    _T_SCORE,
    _T_SCORE_SQL,
)


@register(
    "agg_mcnemar_gates",
    oracle=f"""
    WITH g AS (SELECT CAST({_T_SCORE_SQL} >= {_T_KEEP} AS BIGINT) AS t,
                      CAST({_S_SCORE_SQL} >= {_S_KEEP} AS BIGINT) AS s
               FROM documents),
    cts AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) FILTER (t = 1 AND s = 1) AS BIGINT)
                   AS n_both,
                 CAST(count(*) FILTER (t = 0 AND s = 0) AS BIGINT)
                   AS n_neither,
                 CAST(count(*) FILTER (t = 1 AND s = 0) AS BIGINT)
                   AS n_t_only,
                 CAST(count(*) FILTER (t = 0 AND s = 1) AS BIGINT)
                   AS n_s_only
          FROM g)
    SELECT n, n_both, n_neither, n_t_only, n_s_only,
           CAST((n_t_only - n_s_only) * (n_t_only - n_s_only) * 1000000
                // nullif(n_t_only + n_s_only, 0) AS BIGINT) AS chi2_e6,
           CAST((abs(n_t_only - n_s_only) - 1)
                * (abs(n_t_only - n_s_only) - 1) * 1000000
                // nullif(n_t_only + n_s_only, 0) AS BIGINT) AS chi2_cc_e6
    FROM cts
    """,
)
def agg_mcnemar_gates(spark, sf_dir):
    """McNemar's test on the paired teacher/student keep gates — THE
    statistic for comparing two classifiers on the same examples (are
    the two models' keep decisions differently calibrated, or do they
    just disagree symmetrically?): only the discordant counts b (teacher
    keeps, student drops) and c (student keeps, teacher drops) matter;
    chi2 = (b-c)^2/(b+c), with the continuity-corrected variant beside
    it.  Both e6-scaled integers with a nullif guard for the
    all-concordant corpus.

    ONE corpus scan into a single conditional aggregate — the cheapest
    shape; the statistic's entire cost is the gate evaluation inside the
    scan."""
    g = load_table(spark, sf_dir, "documents").select(
        (F.expr(_T_SCORE).cast("long") >= _T_KEEP).cast("long").alias("t"),
        (F.expr(_S_SCORE).cast("long") >= _S_KEEP).cast("long").alias("s"),
    )
    c = g.agg(
        F.count("*").alias("n"),
        F.count(F.when((F.col("t") == 1) & (F.col("s") == 1), 1)).alias(
            "n_both"
        ),
        F.count(F.when((F.col("t") == 0) & (F.col("s") == 0), 1)).alias(
            "n_neither"
        ),
        F.count(F.when((F.col("t") == 1) & (F.col("s") == 0), 1)).alias(
            "n_t_only"
        ),
        F.count(F.when((F.col("t") == 0) & (F.col("s") == 1), 1)).alias(
            "n_s_only"
        ),
    )
    return c.select(
        "n",
        "n_both",
        "n_neither",
        "n_t_only",
        "n_s_only",
        F.expr(
            "(n_t_only - n_s_only) * (n_t_only - n_s_only) * 1000000 "
            "div nullif(n_t_only + n_s_only, 0)"
        ).alias("chi2_e6"),
        F.expr(
            "(abs(n_t_only - n_s_only) - 1) "
            "* (abs(n_t_only - n_s_only) - 1) * 1000000 "
            "div nullif(n_t_only + n_s_only, 0)"
        ).alias("chi2_cc_e6"),
    )


def _bt_matrix_sql() -> str:
    """The full (both-direction) pairwise game matrix from the bounded
    score histograms — w2 = 2*wins + ties, n = games."""
    return f"""
    s AS (SELECT source, CAST({_T_SCORE_SQL} AS BIGINT) AS sc
          FROM documents),
    h AS (SELECT source, sc, CAST(count(*) AS BIGINT) AS n
          FROM s GROUP BY source, sc),
    mx AS (SELECT a.source AS i, b.source AS j,
                  CAST(sum(CASE WHEN a.sc > b.sc THEN 2 * a.n * b.n
                                WHEN a.sc = b.sc THEN a.n * b.n
                                ELSE 0 END) AS BIGINT) AS w2,
                  CAST(sum(a.n * b.n) AS BIGINT) AS g
           FROM h a JOIN h b ON a.source <> b.source
           GROUP BY a.source, b.source)
    """


@register(
    "llm_bradley_terry_step",
    oracle=f"""
    WITH {_bt_matrix_sql()},
    w AS (SELECT i, CAST(sum(w2) AS BIGINT) AS w2i FROM mx GROUP BY i),
    d1 AS (SELECT i, CAST(sum(g * 1000000000 // 2000000) AS BIGINT) AS s
           FROM mx GROUP BY i),
    r1 AS (SELECT w.i, CAST(w.w2i * 500000000 // d1.s AS BIGINT) AS r
           FROM w JOIN d1 USING (i)),
    d2 AS (SELECT mx.i,
                  CAST(sum(mx.g * 1000000000 // (ri.r + rj.r)) AS BIGINT)
                    AS s
           FROM mx JOIN r1 ri ON ri.i = mx.i
                   JOIN r1 rj ON rj.i = mx.j
           GROUP BY mx.i),
    r2 AS (SELECT w.i, CAST(w.w2i * 500000000 // d2.s AS BIGINT) AS r
           FROM w JOIN d2 USING (i))
    SELECT r1.i AS source, r1.r AS r1_e6, r2.r AS r2_e6
    FROM r1 JOIN r2 ON r2.i = r1.i
    """,
)
def llm_bradley_terry_step(spark, sf_dir):
    """Two Bradley-Terry MM iterations over the EXACT pairwise win
    matrix — the model-ranking step after ``llm_pairwise_winrate``'s
    matrix: r_i <- W_i / sum_j g_ij/(r_i + r_j), run twice from the
    uniform e6 start with every division an explicit integer floor in a
    fixed order (mirrored operator-for-operator in the oracle), so the
    iteration is deterministic on any engine and partitioning.  The
    first step reproduces scaled win rate (the MM fixed point's first
    move); the second genuinely couples opponents' strengths — a strong
    source beating another strong source moves more than beating a weak
    one, which is what separates BT from raw win rate.

    Shape at scale: the game matrix lives on the bounded (source x
    source) grid built from score histograms (corpus size only changes
    weights); each MM step is one join + aggregate on that tiny frame.
    The iteration count is fixed (2) — convergence-to-tolerance is a
    driver-side loop over the same step at cluster scale."""
    s = load_table(spark, sf_dir, "documents").select(
        "source", F.expr(_T_SCORE).cast("long").alias("sc")
    )
    h = s.groupBy("source", "sc").agg(F.count("*").alias("n"))
    a = h.select(
        F.col("source").alias("i"), F.col("sc").alias("sa"), F.col("n").alias("na")
    )
    b = h.select(
        F.col("source").alias("j"), F.col("sc").alias("sb"), F.col("n").alias("nb")
    )
    mx = (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.when(F.col("sa") > F.col("sb"), 2 * F.col("na") * F.col("nb"))
                .when(F.col("sa") == F.col("sb"), F.col("na") * F.col("nb"))
                .otherwise(0)
            ).alias("w2"),
            F.sum(F.col("na") * F.col("nb")).alias("g"),
        )
        .localCheckpoint()
    )
    w = mx.groupBy("i").agg(F.sum("w2").alias("w2i"))

    def step(r_prev):
        d = (
            mx.join(r_prev.select(F.col("i"), F.col("r").alias("ri")), "i")
            .join(
                r_prev.select(F.col("i").alias("j"), F.col("r").alias("rj")),
                "j",
            )
            .groupBy("i")
            .agg(
                F.sum(F.expr("g * 1000000000 div (ri + rj)")).alias("s")
            )
        )
        return w.join(d, "i").select(
            "i", F.expr("w2i * 500000000 div s").alias("r")
        )

    r0 = w.select("i", F.lit(1000000).cast("long").alias("r"))
    r1 = step(r0).localCheckpoint()
    r2 = step(r1)
    return (
        r1.select(F.col("i").alias("source"), F.col("r").alias("r1_e6"))
        .join(
            r2.select(F.col("i").alias("source"), F.col("r").alias("r2_e6")),
            "source",
        )
    )


@register(
    "llm_length_bias_audit",
    oracle=f"""
    WITH s AS (SELECT doc_id, doc_id // 4 AS pid,
                      CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                        AS ln,
                      CAST({_T_SCORE_SQL} AS BIGINT) AS sc
               FROM documents),
    p AS (SELECT least((a.ln - b.ln) // 20, 3) AS bucket,
                 CASE WHEN a.sc > b.sc THEN 1
                      WHEN a.sc = b.sc THEN 0 ELSE -1 END AS w
          FROM s a JOIN s b ON a.pid = b.pid AND a.ln > b.ln)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (w = 1) AS BIGINT) AS longer_wins,
           CAST(count(*) FILTER (w = 0) AS BIGINT) AS ties,
           CAST(count(*) FILTER (w = -1) AS BIGINT) AS longer_losses,
           CAST((2 * count(*) FILTER (w = 1) + count(*) FILTER (w = 0))
                * 1000000 // (2 * count(*)) AS BIGINT) AS longer_win_e6
    FROM p GROUP BY bucket
    """,
)
def llm_length_bias_audit(spark, sf_dir):
    """The RLHF length-bias audit — does the reward signal favor longer
    responses?  Within each prompt group, every ordered candidate pair
    where one response is strictly longer, bucketed by the length gap
    (20-token buckets, capped at 3): the longer side's win rate per
    bucket is THE diagnostic plot reward-model reviews read.  On this
    corpus the answer is strongly anti-length (the unique-token-ratio
    reward punishes padding): the longer side wins only in the smallest
    gap bucket and never above — the honest shape of this signal, and
    the exact pattern a length-gamed reward would invert.

    Shape: the pair join is INSIDE 4-row prompt groups (equi-join on
    prompt_id with a length inequality — bounded 4x4 blocks, linear in
    prompts), then one aggregate onto the 4-row bucket grid."""
    s = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") / 4).cast("long").alias("pid"),
        F.size(tokens("text")).cast("long").alias("ln"),
        F.expr(_T_SCORE).cast("long").alias("sc"),
    )
    a = s.select("pid", F.col("ln").alias("la"), F.col("sc").alias("ca"))
    b = s.select("pid", F.col("ln").alias("lb"), F.col("sc").alias("cb"))
    p = a.join(b, "pid").filter(F.col("la") > F.col("lb")).select(
        F.least((F.col("la") - F.col("lb")) / 20, F.lit(3))
        .cast("long")
        .alias("bucket"),
        F.when(F.col("ca") > F.col("cb"), 1)
        .when(F.col("ca") == F.col("cb"), 0)
        .otherwise(-1)
        .alias("w"),
    )
    return p.groupBy("bucket").agg(
        F.count("*").alias("n_pairs"),
        F.count(F.when(F.col("w") == 1, 1)).alias("longer_wins"),
        F.count(F.when(F.col("w") == 0, 1)).alias("ties"),
        F.count(F.when(F.col("w") == -1, 1)).alias("longer_losses"),
        F.expr(
            "(2 * count(CASE WHEN w = 1 THEN 1 END) "
            " + count(CASE WHEN w = 0 THEN 1 END)) * 1000000 "
            "div (2 * count(*))"
        ).alias("longer_win_e6"),
    )


# ---------------------------------------------------------------------------
# HITS over the nation trade graph (graph_pagerank's edge set)

_HITS_ITERS = 2


def _trade_edges(spark, sf_dir):
    from biggie_spark.util import lineage_cap

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        # Structural sparsifier: at sf0.01+ the raw trade graph is
        # COMPLETE (every nation pair trades), which made every HITS
        # score the constant 1e6 — a vacuous hash check (round-9 review).
        # The quadratic mask keeps a fixed 261-edge subgraph with
        # indegree spread 4..17, so hub/auth genuinely differentiate at
        # every SF; the data still decides which masked pairs appear.
        .filter(F.expr("(src * src + 31 * dst) % 7 < 3"))
        .distinct()
        .transform(lineage_cap)
    )


_HITS_EDGES_SQL = """
    e AS MATERIALIZED (SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
          FROM lineitem li
          JOIN orders o ON li.l_orderkey = o.o_orderkey
          JOIN supplier s ON li.l_suppkey = s.s_suppkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE s.s_nationkey <> c.c_nationkey
            AND (s.s_nationkey * s.s_nationkey + 31 * c.c_nationkey)
                % 7 < 3)
"""


@register(
    "graph_hits_iter",
    oracle=f"""
    WITH {_HITS_EDGES_SQL},
    nodes AS MATERIALIZED (SELECT src AS k FROM e UNION SELECT dst FROM e),
    a1r AS MATERIALIZED (SELECT dst AS k, CAST(count(*) * 1000000 AS BIGINT) AS v
            FROM e GROUP BY dst),
    a1m AS (SELECT max(v) AS m FROM a1r),
    a1 AS MATERIALIZED (SELECT n.k,
                  CAST(coalesce(a1r.v, 0) * 1000000 // a1m.m AS BIGINT)
                    AS a
           FROM nodes n LEFT JOIN a1r ON a1r.k = n.k, a1m),
    h1r AS MATERIALIZED (SELECT e.src AS k, CAST(sum(a1.a) AS BIGINT) AS v
            FROM e JOIN a1 ON a1.k = e.dst GROUP BY e.src),
    h1m AS (SELECT max(v) AS m FROM h1r),
    h1 AS MATERIALIZED (SELECT n.k,
                  CAST(coalesce(h1r.v, 0) * 1000000 // h1m.m AS BIGINT)
                    AS h
           FROM nodes n LEFT JOIN h1r ON h1r.k = n.k, h1m),
    a2r AS MATERIALIZED (SELECT e.dst AS k, CAST(sum(h1.h) AS BIGINT) AS v
            FROM e JOIN h1 ON h1.k = e.src GROUP BY e.dst),
    a2m AS (SELECT max(v) AS m FROM a2r),
    a2 AS MATERIALIZED (SELECT n.k,
                  CAST(coalesce(a2r.v, 0) * 1000000 // a2m.m AS BIGINT)
                    AS a
           FROM nodes n LEFT JOIN a2r ON a2r.k = n.k, a2m),
    h2r AS MATERIALIZED (SELECT e.src AS k, CAST(sum(a2.a) AS BIGINT) AS v
            FROM e JOIN a2 ON a2.k = e.dst GROUP BY e.src),
    h2m AS (SELECT max(v) AS m FROM h2r),
    h2 AS MATERIALIZED (SELECT n.k,
                  CAST(coalesce(h2r.v, 0) * 1000000 // h2m.m AS BIGINT)
                    AS h
           FROM nodes n LEFT JOIN h2r ON h2r.k = n.k, h2m)
    SELECT CAST(a2.k AS BIGINT) AS nation,
           h2.h AS hub_e6, a2.a AS auth_e6
    FROM a2 JOIN h2 ON h2.k = a2.k
    """,
)
def graph_hits_iter(spark, sf_dir):
    """HITS (hubs and authorities), {_HITS_ITERS} iterations over the
    nation trade graph — PageRank's bipartite sibling: a nation is a
    strong HUB if it supplies strong importers, a strong AUTHORITY if
    strong exporters supply it; the two scores couple through the edge
    set, which is what distinguishes HITS from in/out degree.  Each
    half-iteration is one join + aggregate on the edge frame followed by
    a max-normalization (integer e6, floor division in a fixed order —
    the oracle unrolls the same four half-steps as chained CTEs, an
    independent formulation of the same recurrence).

    Shape at scale: the iterative-algorithm pattern of graph_pagerank —
    per iteration one shuffle keyed by the joined endpoint, state never
    leaves the cluster, edges materialized once.  Max-normalization per
    step keeps every value in [0, 1e6] so the iteration can run
    indefinitely without overflow."""
    # The edge build is a 3-join over the fact table and the iteration
    # REFERENCES it from every half-step: without checkpoints the nested
    # norm() lineage recomputes the edge join a number of times that
    # doubles per half-iteration (measured: 11 s at sf0.001 ballooning
    # past 600 s at sf0.1).  localCheckpoint the edge set once and each
    # 25-row normalized frame — the graph_pagerank lineage discipline.
    e = _trade_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("k"))
        .union(e.select(F.col("dst").alias("k")))
        .distinct()
        .localCheckpoint()
    )

    def norm(raw):
        m = raw.agg(F.max("v").alias("m"))
        return (
            nodes.join(raw, "k", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "k",
                F.expr("coalesce(v, 0) * 1000000 div m").alias("x"),
            )
            .localCheckpoint()
        )

    a = norm(
        e.groupBy(F.col("dst").alias("k")).agg(
            (F.count("*") * 1000000).alias("v")
        )
    )
    for _ in range(_HITS_ITERS):
        h = norm(
            e.join(a.select(F.col("k").alias("dst"), F.col("x")), "dst")
            .groupBy(F.col("src").alias("k"))
            .agg(F.sum("x").alias("v"))
        )
        if _ == _HITS_ITERS - 1:
            break
        a = norm(
            e.join(h.select(F.col("k").alias("src"), F.col("x")), "src")
            .groupBy(F.col("dst").alias("k"))
            .agg(F.sum("x").alias("v"))
        )
    # the loop exits with a = a2 and h = h2 — exactly the oracle's
    # pairing.  (An earlier draft recomputed a third half-iteration here;
    # the complete-graph fixpoint masked the divergence until the
    # round-9 review traced it.)
    return (
        a.select(F.col("k").cast("long").alias("nation"), F.col("x").alias("auth_e6"))
        .join(
            h.select(
                F.col("k").cast("long").alias("nation"),
                F.col("x").alias("hub_e6"),
            ),
            "nation",
        )
        .select("nation", "hub_e6", "auth_e6")
    )


# TTL cutoff: keys older than 45 days of the 90-day version spread expire
# (half the stash turns over — both branches live at every SF).
_TTL_DAYS = 45


@register(
    "kv_ttl_expiry",
    oracle=f"""
    WITH v AS (SELECT doc_id, source, n_chars,
                      CAST(doc_id % 90 AS BIGINT) AS age_days
               FROM documents)
    SELECT source,
           CAST(count(*) FILTER (age_days < {_TTL_DAYS}) AS BIGINT)
             AS n_live,
           CAST(count(*) FILTER (age_days >= {_TTL_DAYS}) AS BIGINT)
             AS n_expired,
           CAST(coalesce(sum(n_chars) FILTER (age_days >= {_TTL_DAYS}), 0)
             AS BIGINT) AS reclaimed_chars,
           CAST(count(*) FILTER (age_days >= {_TTL_DAYS}) * 1000000
                // count(*) AS BIGINT) AS expiry_rate_e6
    FROM v GROUP BY source
    """,
)
def kv_ttl_expiry(spark, sf_dir):
    """TTL retention sweep over a versioned stash — the storage-
    reclamation report a kv store runs before vacuuming: each key's age
    (deterministic: doc_id mod 90 days), the {_TTL_DAYS}-day TTL, and
    per tenant the live/expired split, reclaimed payload bytes, and
    expiry rate.  Complements ``kv_version_travel`` (which READS old
    versions) with the policy that DELETES them; the 45/90 cutoff keeps
    both branches live at every SF.

    ONE scan, one conditional aggregate; at 100 TB the same predicate
    drives the vacuum's partition-level delete list (age maps to a
    partition directory in the production layout, so expiry is a
    directory unlink, not a row rewrite)."""
    v = load_table(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        (F.col("doc_id") % 90).cast("long").alias("age_days"),
    )
    expired = F.col("age_days") >= _TTL_DAYS
    return v.groupBy("source").agg(
        F.count(F.when(~expired, 1)).alias("n_live"),
        F.count(F.when(expired, 1)).alias("n_expired"),
        F.coalesce(
            F.sum(F.when(expired, F.col("n_chars"))), F.lit(0)
        ).alias("reclaimed_chars"),
        F.expr(
            f"count(CASE WHEN age_days >= {_TTL_DAYS} THEN 1 END) "
            "* 1000000 div count(*)"
        ).alias("expiry_rate_e6"),
    )


# ---------------------------------------------------------------------------
# wave B: session/journey analytics over the event stream

@register(
    "ts_journey_trigrams",
    oracle="""
    WITH o AS (SELECT user_id, event_type AS e1,
                      lead(event_type) OVER w AS e2,
                      lead(event_type, 2) OVER w AS e3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM o WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3 LIMIT 20
    """,
)
def ts_journey_trigrams(spark, sf_dir):
    """User-journey sequence mining — the top event-type trigrams across
    all user timelines (the 'what do users actually do in order' table
    behind funnel design): two leads inside per-user windows, one hash
    aggregate onto the bounded trigram grid (5^3 max), top-20 by count
    with full lexicographic tie-break.

    Shape: windows PARTITIONED by user (timeline-local, no global sort),
    aggregate onto the bounded pattern grid, TakeOrderedAndProject for
    the cut — corpus size only changes pattern weights."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        o.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(20)
    )


_ATTR_WINDOW_S = 21600  # 6h attribution window (209 attributed, 12
# first!=last, 1772 unattributed at sf0.01 — every class live)


@register(
    "ts_click_attribution",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    j AS (SELECT p.event_id, c.event_id AS c_eid, c.ts AS c_ts
          FROM p LEFT JOIN events c
            ON c.user_id = p.user_id AND c.event_type = 'click'
           AND c.ts < p.ts
           AND CAST(floor(epoch(p.ts)) AS BIGINT)
               - CAST(floor(epoch(c.ts)) AS BIGINT)
               <= {_ATTR_WINDOW_S}),
    a AS (SELECT event_id,
                 CAST(min(c_eid) AS BIGINT) AS first_touch_eid,
                 max(CASE WHEN c_eid IS NOT NULL THEN
                       CAST(floor(epoch(c_ts)) AS BIGINT) * 1048576 + c_eid
                     END) AS lk,
                 CAST(count(c_eid) AS BIGINT) AS n_touches
          FROM j GROUP BY event_id)
    SELECT event_id, first_touch_eid,
           CAST(lk % 1048576 AS BIGINT) AS last_touch_eid,
           n_touches,
           CAST(coalesce(first_touch_eid = lk % 1048576, FALSE) AS BIGINT)
             AS same_touch
    FROM a
    """,
)
def ts_click_attribution(spark, sf_dir):
    """First-touch vs last-touch attribution — for every purchase, the
    earliest and latest click by the same user inside the trailing
    6-hour window (the two attribution models marketing analytics
    reconciles; on this corpus 209 purchases attribute, 12 of them to
    DIFFERENT clicks under the two models — the rows that make the model
    choice matter).

    Shape at scale: the trailing-window range join is decomposed into a
    bucketed EQUI-join — purchases explode to the {_ATTR_WINDOW_S // 3600}+1
    hour buckets their window spans and join clicks on (user, hour
    bucket), so the fan-out is a constant 7x and the join is
    hash-partitioned, never an inequality pair blow-up; the window
    predicate then filters exactly.  First/last are min and a
    (ts, event_id)-lexicographic BIGINT argmax (stride-safe: event ids
    stay far below the encoding bound, enforced by the shared epoch
    arithmetic being seconds-scaled)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    n_buckets = _ATTR_WINDOW_S // 3600 + 1
    pb = p.withColumn(
        "hb",
        F.explode(
            F.sequence(
                (F.unix_timestamp("pts") / 3600).cast("long") - n_buckets + 1,
                (F.unix_timestamp("pts") / 3600).cast("long"),
            )
        ),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("c_eid"),
        F.col("ts").alias("cts"),
        (F.unix_timestamp("ts") / 3600).cast("long").alias("hb"),
    )
    j = (
        pb.join(c, ["user_id", "hb"], "left")
        .filter(
            F.col("c_eid").isNull()
            | (
                (F.col("cts") < F.col("pts"))
                & (
                    F.unix_timestamp("pts") - F.unix_timestamp("cts")
                    <= _ATTR_WINDOW_S
                )
            )
        )
    )
    # lexicographic (ts, id) argmax for last-touch: epoch seconds * 2^20
    # + id stays far inside int64 (epoch ~1.7e9 -> 1.8e15 + id).  ADVICE r9:
    # an event_id >= 2^20 would corrupt last_touch_eid IDENTICALLY on both
    # engines (the oracle mirrors the stride), so the hash check cannot see
    # it — guard in-plan, mirroring _preference_agg_plan (round9.py:1388).
    lk = F.max(
        F.when(
            F.col("c_eid").isNotNull(),
            F.unix_timestamp("cts") * F.lit(1048576)
            + F.col("c_eid")
            + F.coalesce(
                F.assert_true(
                    F.col("c_eid") < F.lit(1048576),
                    F.lit(
                        "ts_click_attribution: event_id exceeds the 2^20 "
                        "stride — widen the encoding"
                    ),
                ).cast("long"),
                F.lit(0),
            ),
        )
    )
    out = j.groupBy("event_id").agg(
        F.min("c_eid").alias("first_touch_eid"),
        (lk % 1048576).alias("last_touch_eid"),
        F.count("c_eid").alias("n_touches"),
    )
    return out.select(
        "event_id",
        "first_touch_eid",
        "last_touch_eid",
        "n_touches",
        F.coalesce(
            F.col("first_touch_eid") == F.col("last_touch_eid"), F.lit(False)
        )
        .cast("long")
        .alias("same_touch"),
    )


_DWELL_BUCKET_S = 900  # 15-min buckets, capped at 7 (all 8 live at sf0.01)


@register(
    "ts_dwell_time_buckets",
    oracle=f"""
    WITH g AS (SELECT event_type,
                      CAST(floor(epoch(ts)) AS BIGINT)
                        - CAST(floor(epoch(lag(ts) OVER (
                            PARTITION BY user_id
                            ORDER BY ts, event_id))) AS BIGINT) AS gap
               FROM events)
    SELECT event_type,
           CAST(least(gap // {_DWELL_BUCKET_S}, 7) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(gap) AS BIGINT) AS total_gap_s,
           CAST(sum(gap) // count(*) AS BIGINT) AS mean_gap_s
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type, bucket
    """,
)
def ts_dwell_time_buckets(spark, sf_dir):
    """Think-time (dwell) histogram — the distribution of inter-event
    gaps per user timeline, bucketed in 15-minute steps (capped at 7),
    keyed by the type of the event that ENDED the wait: the
    latency-between-actions profile session-timeout and engagement
    models are fitted on.  All 8 buckets live at every SF (measured
    186..8385 at sf0.01).

    Shape: one lag inside per-user windows, one aggregate onto the
    bounded (type x 8) grid — epoch arithmetic in BIGINT seconds, floor
    division on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap"),
    )
    return (
        g.filter(F.col("gap").isNotNull())
        .groupBy(
            "event_type",
            F.least(
                F.expr(f"gap div {_DWELL_BUCKET_S}"), F.lit(7)
            )
            .cast("long")
            .alias("bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("gap").alias("total_gap_s"),
            F.expr("sum(gap) div count(*)").alias("mean_gap_s"),
        )
    )


_CONC_HOLD_S = 600  # each event holds a resource for 10 minutes


@register(
    "ts_concurrent_sessions",
    oracle=f"""
    WITH pts AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             1 AS delta FROM events
      UNION ALL
      SELECT date_trunc('day', ts) AS d,
             least(CAST(floor(epoch(ts)) AS BIGINT) + {_CONC_HOLD_S},
                   CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                     + 86400) AS t,
             -1 FROM events),
    r AS (SELECT d, sum(delta) OVER (PARTITION BY d ORDER BY t, delta
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          FROM pts)
    SELECT CAST(floor(epoch(d)) AS BIGINT) AS day_s,
           CAST(max(c) AS BIGINT) AS max_concurrent,
           CAST(count(*) // 2 AS BIGINT) AS n_intervals
    FROM r GROUP BY d
    """,
)
def ts_concurrent_sessions(spark, sf_dir):
    """Peak concurrency via the +1/-1 sweep — each event holds a
    resource for {_CONC_HOLD_S} s (clipped at the day boundary so every
    interval lives in one partition); the day's peak concurrent count is
    the max of the running delta sum, the classic interval-overlap sweep
    that answers capacity questions ('how many simultaneous sessions
    must the fleet hold?') without any pairwise interval join.  Tie rule
    matches the standard convention: at equal timestamps the -1 (end)
    processes first, so touching intervals don't double-count.

    Shape: the sweep's running sum is a window PARTITIONED by day —
    bounded frames, no global order — over 2 rows per event; the peak
    per day is one aggregate.  Deterministic ordering (t, delta) makes
    the prefix sum engine-portable."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.unix_timestamp("ts").alias("t"),
    )
    starts = ev.select("d", "t", F.lit(1).alias("delta"))
    ends = ev.select(
        "d",
        F.least(
            F.col("t") + _CONC_HOLD_S,
            F.unix_timestamp("d") + 86400,
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends)
    w = (
        Window.partitionBy("d")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = pts.select("d", F.sum("delta").over(w).alias("c"))
    return r.groupBy("d").agg(
        F.max("c").alias("max_concurrent"),
        F.expr("count(*) div 2").alias("n_intervals"),
    ).select(
        F.unix_timestamp("d").alias("day_s"),
        "max_concurrent",
        "n_intervals",
    )


# ---------------------------------------------------------------------------
# wave B: SQL surface + exact rank statistics

@register(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (SELECT CASE WHEN doc_id % 7 = 0 THEN NULL
                           ELSE doc_id % 20 END AS k,
                      doc_id FROM documents WHERE doc_id < 300),
    b AS (SELECT CASE WHEN doc_id % 5 = 0 THEN NULL
                      ELSE doc_id % 20 END AS k,
                 doc_id AS doc_b FROM documents
          WHERE doc_id >= 300 AND doc_id < 500)
    SELECT a.k AS k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.doc_id + b.doc_b) AS BIGINT) AS sum_keys
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def join_null_safe_eq(spark, sf_dir):
    """Null-safe equality join — Spark's ``<=>`` proved value-equal to
    DuckDB's ``IS NOT DISTINCT FROM``: NULL keys MATCH each other (one
    NULL group in the output) instead of silently dropping, the
    semantics entity-resolution pipelines need when 'unknown' is a real
    join class.  The NULL-key group's pair count is the product of both
    sides' NULL populations — the row a plain equi-join would lose
    entirely, which is exactly what the hash check certifies.

    Shape note for 100 TB: a null-safe join hash-partitions NULL like
    any other key value — ALL null keys land in one partition, so a
    null-heavy table needs the same salting treatment as any other hot
    key (the join_salted_skew recipe)."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") < 300).select(
        F.when(F.col("doc_id") % 7 == 0, None)
        .otherwise(F.col("doc_id") % 20)
        .alias("ka"),
        "doc_id",
    )
    b = d.filter(F.col("doc_id").between(300, 499)).select(
        F.when(F.col("doc_id") % 5 == 0, None)
        .otherwise(F.col("doc_id") % 20)
        .alias("kb"),
        F.col("doc_id").alias("doc_b"),
    )
    return (
        a.join(b, a.ka.eqNullSafe(b.kb))
        .groupBy(a.ka.alias("k"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("doc_id") + F.col("doc_b")).alias("sum_keys"),
        )
    )


@register(
    "sql_named_window",
    oracle="""
    SELECT o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  OVER w AS BIGINT) AS run_cents
    FROM orders
    WHERE o_orderkey < 500
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def sql_named_window(spark, sf_dir):
    """Named WINDOW clause parity — one ``WINDOW w AS (...)`` definition
    shared by multiple functions in the select list (the SQL:2003
    feature that keeps report queries from repeating frame specs, and
    that both engines must BIND identically: same partition, same order,
    same frame for every reference).  A silent per-reference default
    frame (the classic bug: RANGE for the aggregate, ROWS for the
    ranker) would change run_cents and break the hash.

    Per-customer running money sums ride the repo's fixed-point BIGINT
    cents convention."""
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 500
    ).createOrReplaceTempView("orders_nw")
    return spark.sql(
        """
        SELECT o_orderkey,
               row_number() OVER w AS rn,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                 OVER w AS run_cents
        FROM orders_nw
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """
    ).select(
        "o_orderkey",
        F.col("rn").cast("long").alias("rn"),
        "run_cents",
    )


@register(
    "agg_kendall_tau_grid",
    oracle=f"""
    WITH s AS (SELECT source,
                      CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                        AS tk,
                      CAST({_T_SCORE_SQL} AS BIGINT) AS sc
               FROM documents),
    h AS (SELECT source, tk, sc, CAST(count(*) AS BIGINT) AS n
          FROM s GROUP BY source, tk, sc),
    pr AS (SELECT a.source,
                  CAST(sum(CASE WHEN (a.tk < b.tk AND a.sc < b.sc)
                                  OR (a.tk > b.tk AND a.sc > b.sc)
                                THEN a.n * b.n ELSE 0 END) AS BIGINT)
                    AS c2,
                  CAST(sum(CASE WHEN (a.tk < b.tk AND a.sc > b.sc)
                                  OR (a.tk > b.tk AND a.sc < b.sc)
                                THEN a.n * b.n ELSE 0 END) AS BIGINT)
                    AS d2,
                  CAST(sum(a.n * b.n) AS BIGINT)
                    - CAST(sum(CASE WHEN a.tk = b.tk AND a.sc = b.sc
                                    THEN a.n * b.n ELSE 0 END) AS BIGINT)
                    AS p2
           FROM h a JOIN h b ON a.source = b.source
           GROUP BY a.source),
    t AS (SELECT source, c2 // 2 AS concordant, d2 // 2 AS discordant,
                 p2 // 2 AS n_pairs_offdiag,
                 (SELECT CAST(count(*) AS BIGINT) FROM s s2
                  WHERE s2.source = pr.source) AS n
          FROM pr)
    SELECT source, n, concordant, discordant,
           CAST((concordant - discordant) * 1000000
                // (n * (n - 1) // 2) AS BIGINT) AS tau_a_e6
    FROM t
    """,
)
def agg_kendall_tau_grid(spark, sf_dir):
    """EXACT Kendall tau-a between document length and quality score,
    per source — rank correlation WITHOUT sampling or sorting: because
    both variables live on bounded integer grids, the quadratic
    concordant/discordant pair counts collapse to a histogram
    self-join on the (length, score) grid (the llm_pairwise_winrate /
    agg_percentile_grid posture — corpus size only changes histogram
    weights).  The grid join enumerates ordered pairs, so C and D are
    halved once; tau-a divides by the FULL n(n-1)/2 (ties dilute toward
    zero — the convention that needs no tie-count corrections and stays
    integer-exact).  On this corpus tau is strongly negative everywhere:
    longer documents have lower unique-token ratios, the measured
    anti-correlation the length-bias audit sees from the pair side.

    The per-source grids are <= ~90x70 cells; the self-join is
    broadcast-sized and keyed by source."""
    s = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens("text")).cast("long").alias("tk"),
        F.expr(_T_SCORE).cast("long").alias("sc"),
    )
    h = s.groupBy("source", "tk", "sc").agg(F.count("*").alias("n"))
    a = h.select(
        "source",
        F.col("tk").alias("ta"),
        F.col("sc").alias("sa"),
        F.col("n").alias("na"),
    )
    b = h.select(
        "source",
        F.col("tk").alias("tb"),
        F.col("sc").alias("sb"),
        F.col("n").alias("nb"),
    )
    pr = (
        a.join(b, "source")
        .groupBy("source")
        .agg(
            # ADVICE r9: halve via integer `div` (matches the oracle's
            # `// 2`); the float `/2` route loses exactness past ~2^53
            # pair-products.  Sums are even by construction (each unordered
            # pair appears twice in the self-join).
            F.expr(
                "sum(CASE WHEN (ta < tb AND sa < sb) OR (ta > tb AND sa > sb)"
                " THEN na * nb ELSE 0 END) div 2"
            ).alias("concordant"),
            F.expr(
                "sum(CASE WHEN (ta < tb AND sa > sb) OR (ta > tb AND sa < sb)"
                " THEN na * nb ELSE 0 END) div 2"
            ).alias("discordant"),
        )
    )
    nn = s.groupBy("source").agg(F.count("*").alias("n"))
    return (
        pr.join(nn, "source")
        .select(
            "source",
            "n",
            "concordant",
            "discordant",
            F.expr(
                "(concordant - discordant) * 1000000 div (n * (n - 1) div 2)"
            ).alias("tau_a_e6"),
        )
    )


# ---------------------------------------------------------------------------
# wave C: prompt economics, data concentration, audio gating, seasonality

_COMPRESS_TOPK = 16

# The stop tier's DuckDB CTE body — ONE definition shared by the three
# oracles below (compression, truncation policies, RAKE), exactly as the
# Spark side shares _stop_tier(): a tie-break or TOPK change lands in one
# place per engine, never three (review r9).
_STOP_CTE = (
    "SELECT tok FROM (SELECT tok, count(*) AS c FROM t GROUP BY tok "
    f"ORDER BY c DESC, tok LIMIT {_COMPRESS_TOPK})"
)


def _stop_tier(token_frame):
    """The top-16 corpus tokens (_COMPRESS_TOPK) as a broadcastable
    (tok, stop) dimension — the shared stop-tier definition for the
    prompt-economics family (compression / truncation / RAKE)."""
    return (
        token_frame.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_COMPRESS_TOPK)
        .select("tok", F.lit(True).alias("stop"))
    )


@register(
    "llm_prompt_compression",
    oracle=f"""
    WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
    top AS ({_STOP_CTE})
    SELECT lang,
           CAST(count(*) AS BIGINT) AS orig_tokens,
           CAST(count(*) FILTER (tok NOT IN (SELECT tok FROM top))
             AS BIGINT) AS kept_tokens,
           CAST(count(*) FILTER (tok IN (SELECT tok FROM top)) AS BIGINT)
             AS dropped_tokens,
           CAST(count(*) FILTER (tok IN (SELECT tok FROM top)) * 1000000
                // count(*) AS BIGINT) AS saved_e6
    FROM t GROUP BY lang
    """,
)
def llm_prompt_compression(spark, sf_dir):
    """Prompt compression accounting — drop the {_COMPRESS_TOPK} most
    frequent corpus tokens (the stopword tier a frequency-based
    compressor prunes first) and report, per language, the kept/dropped
    split and the prefill savings rate: the first-order estimate of what
    LLMLingua-style compression buys on this traffic before anyone
    trains a compressor (measured ~55% of tokens are top-16 mass on
    this corpus).

    Shape: the stop list is a bounded TakeOrdered broadcast against the
    exploded stream (the spec-decode vocabulary pattern), one aggregate
    per lang."""
    t = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens("text")).alias("tok")
    )
    top = _stop_tier(t)
    j = t.join(F.broadcast(top), "tok", "left").select(
        "lang", F.coalesce("stop", F.lit(False)).alias("stop")
    )
    return j.groupBy("lang").agg(
        F.count("*").alias("orig_tokens"),
        F.count(F.when(~F.col("stop"), 1)).alias("kept_tokens"),
        F.count(F.when(F.col("stop"), 1)).alias("dropped_tokens"),
        F.expr(
            "count(CASE WHEN stop THEN 1 END) * 1000000 div count(*)"
        ).alias("saved_e6"),
    )


_TRUNC_CAP = 64  # context cap; head/tail/middle-out policies compared


@register(
    "llm_truncation_policies",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      unnest(string_split(lower(text), ' ')) AS tok,
                      generate_subscripts(string_split(lower(text), ' '), 1)
                        AS pos,
                      len(string_split(lower(text), ' ')) AS n
               FROM documents),
    top AS ({_STOP_CTE}),
    f AS (SELECT doc_id, pos, n,
                 CAST(tok NOT IN (SELECT tok FROM top) AS BIGINT)
                   AS content
          FROM t WHERE n > {_TRUNC_CAP}),
    pol AS (
      SELECT 'head' AS policy, doc_id, n, content,
             CAST(pos <= {_TRUNC_CAP} AS BIGINT) AS kept FROM f
      UNION ALL
      SELECT 'tail', doc_id, n, content,
             CAST(pos > n - {_TRUNC_CAP} AS BIGINT) FROM f
      UNION ALL
      SELECT 'middle_out', doc_id, n, content,
             CAST(pos <= {_TRUNC_CAP // 2}
                  OR pos > n - {_TRUNC_CAP // 2} AS BIGINT) FROM f)
    SELECT policy,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(1 - kept) AS BIGINT) AS tokens_dropped,
           CAST(sum(content * kept) AS BIGINT) AS content_kept,
           CAST(sum(content) AS BIGINT) AS content_total,
           CAST(sum(content * kept) * 1000000
                // nullif(sum(content), 0) AS BIGINT)
             AS content_retained_e6
    FROM pol GROUP BY policy
    """,
)
def llm_truncation_policies(spark, sf_dir):
    """Context-truncation policy comparison — for every document longer
    than the {_TRUNC_CAP}-token cap, three standard policies (keep the
    head, keep the tail, middle-out: half head + half tail) scored on
    CONTENT retention, where content = tokens outside the corpus's
    top-{_COMPRESS_TOPK} stopword tier: the measured basis for the
    truncation default a serving stack ships (token counts alone make
    every policy look identical; content weighting is what separates
    them).

    Shape: ONE exploded pass computes all three kept flags as columns,
    then a stack() unpivot fans them onto the 3-row policy grid — the
    corpus parquet is scanned once for the candidate frame plus once for
    the stop list (an earlier draft unioned three branch lineages, which
    re-ran the explode+join per policy; review r9)."""
    from biggie_spark.util import fan_out

    # fan_out (optimization r14, guide §2.5): the posexplode + join kernel
    # otherwise runs inside the single-split scan task.
    t = (
        fan_out(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.posexplode(tokens("text")).alias("pos0", "tok"),
            F.size(tokens("text")).alias("n"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok", "n")
        .filter(F.col("n") > _TRUNC_CAP)
    )
    top = _stop_tier(
        load_table(spark, sf_dir, "documents").select(
            F.explode(tokens("text")).alias("tok")
        )
    )
    f = t.join(F.broadcast(top), "tok", "left").select(
        "doc_id",
        "pos",
        "n",
        (~F.coalesce("stop", F.lit(False))).cast("long").alias("content"),
    )
    half = _TRUNC_CAP // 2
    flags = f.select(
        "doc_id",
        "content",
        (F.col("pos") <= _TRUNC_CAP).cast("long").alias("k_head"),
        (F.col("pos") > F.col("n") - _TRUNC_CAP)
        .cast("long")
        .alias("k_tail"),
        (
            (F.col("pos") <= half) | (F.col("pos") > F.col("n") - half)
        )
        .cast("long")
        .alias("k_mid"),
    )
    pol = flags.select(
        "doc_id",
        "content",
        F.expr(
            "stack(3, 'head', k_head, 'tail', k_tail, "
            "'middle_out', k_mid) AS (policy, kept)"
        ),
    )
    return pol.groupBy("policy").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(1 - F.col("kept")).alias("tokens_dropped"),
        F.sum(F.col("content") * F.col("kept")).alias("content_kept"),
        F.sum("content").alias("content_total"),
        F.expr(
            "sum(content * kept) * 1000000 div nullif(sum(content), 0)"
        ).alias("content_retained_e6"),
    )


@register(
    "agg_lorenz_topshare",
    oracle="""
    WITH s AS (SELECT source,
                      CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                        AS tk
               FROM documents),
    h AS (SELECT source, tk, CAST(count(*) AS BIGINT) AS c
          FROM s GROUP BY source, tk),
    cume AS (SELECT source, tk, c,
                    sum(c) OVER (PARTITION BY source ORDER BY tk DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cumdesc,
                    sum(c) OVER (PARTITION BY source) AS n,
                    sum(tk * c) OVER (PARTITION BY source) AS total
             FROM h),
    t AS (SELECT source, max(n) AS n, max(total) AS total,
                 (max(n) + 9) // 10 AS k,
                 max(CASE WHEN cumdesc >= (n + 9) // 10 THEN tk END)
                   AS thr
          FROM cume GROUP BY source),
    agg AS (SELECT c2.source,
                   CAST(sum(CASE WHEN c2.tk > t.thr THEN c2.tk * c2.c
                                 ELSE 0 END) AS BIGINT) AS above_tokens,
                   CAST(sum(CASE WHEN c2.tk > t.thr THEN c2.c ELSE 0 END)
                     AS BIGINT) AS above_docs
            FROM cume c2 JOIN t ON t.source = c2.source
            GROUP BY c2.source)
    SELECT t.source, CAST(t.n AS BIGINT) AS n, CAST(t.k AS BIGINT) AS k,
           CAST(t.thr AS BIGINT) AS thr, CAST(t.total AS BIGINT) AS total,
           CAST(agg.above_tokens + (t.k - agg.above_docs) * t.thr
             AS BIGINT) AS top_decile_tokens,
           CAST((agg.above_tokens + (t.k - agg.above_docs) * t.thr)
                * 1000000 // t.total AS BIGINT) AS top_share_e6
    FROM t JOIN agg ON agg.source = t.source
    """,
)
def agg_lorenz_topshare(spark, sf_dir):
    """Top-decile concentration (the Lorenz-curve point behind 'the top
    10% of documents hold X% of the tokens') — EXACT, per source, from
    the bounded value grid: the decile threshold is the nearest-rank
    value on the DESCENDING cumulative histogram, docs strictly above it
    contribute whole, and the boundary is settled exactly because every
    boundary doc has exactly thr tokens — take (k - above) of them.  No
    per-doc sort, no sampling; the ``agg_gini_concentration`` posture
    with the top-share statistic reviewers actually quote.

    ceil(n/10) via (n+9) div 10 on both engines; share e6
    floor-divided."""
    s = load_table(spark, sf_dir, "documents").select(
        "source", F.size(tokens("text")).cast("long").alias("tk")
    )
    h = s.groupBy("source", "tk").agg(F.count("*").alias("c"))
    wdesc = (
        Window.partitionBy("source")
        .orderBy(F.desc("tk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    cume = h.select(
        "source",
        "tk",
        "c",
        F.sum("c").over(wdesc).alias("cumdesc"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("tk") * F.col("c")).over(wall).alias("total"),
    )
    t = cume.groupBy("source").agg(
        F.max("n").alias("n"),
        F.max("total").alias("total"),
        F.expr("(max(n) + 9) div 10").alias("k"),
        # the k-th largest value is the LARGEST tk whose descending
        # cumulative count reaches k (cumdesc >= k also holds for every
        # smaller tk, so min() here returned the histogram MINIMUM — the
        # round-9 review caught the shipped statistic reporting ~80%
        # top-decile shares where the true value is ~20%)
        F.max(
            F.when(
                F.expr("cumdesc >= (n + 9) div 10"), F.col("tk")
            )
        ).alias("thr"),
    )
    agg = (
        cume.join(t.select("source", "thr"), "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.when(F.col("tk") > F.col("thr"), F.col("tk") * F.col("c"))
                .otherwise(0)
            ).alias("above_tokens"),
            F.sum(
                F.when(F.col("tk") > F.col("thr"), F.col("c")).otherwise(0)
            ).alias("above_docs"),
        )
    )
    return (
        t.join(agg, "source")
        .select(
            "source",
            "n",
            "k",
            "thr",
            "total",
            (
                F.col("above_tokens")
                + (F.col("k") - F.col("above_docs")) * F.col("thr")
            ).alias("top_decile_tokens"),
            F.expr(
                "(above_tokens + (k - above_docs) * thr) * 1000000 "
                "div total"
            ).alias("top_share_e6"),
        )
    )


@register(
    "mm_audio_loudness_gate",
    oracle="""
    WITH probe AS (SELECT doc_id FROM documents WHERE doc_id < 64),
    x AS (SELECT p.doc_id, t.t, (t.t // 16) AS blk,
                 CAST(((p.doc_id * 31 + t.t) * 2654435761) % 65536 - 32768
                      AS BIGINT) AS v
          FROM probe p, range(128) t(t)),
    b AS (SELECT doc_id, blk, sum(v * v) // 16 AS p
          FROM x GROUP BY doc_id, blk),
    g AS (SELECT doc_id, CAST(sum(p) // 8 AS BIGINT) AS gate
          FROM b GROUP BY doc_id)
    SELECT b.doc_id,
           g.gate,
           CAST(count(*) FILTER (b.p >= g.gate) AS BIGINT) AS n_gated,
           CAST(sum(b.p) FILTER (b.p >= g.gate)
                // count(*) FILTER (b.p >= g.gate) AS BIGINT)
             AS gated_mean_power,
           CAST(sum(b.p) // 8 AS BIGINT) AS ungated_mean_power
    FROM b JOIN g USING (doc_id)
    GROUP BY b.doc_id, g.gate
    """,
)
def mm_audio_loudness_gate(spark, sf_dir):
    """Gated loudness measurement — the EBU R128-style two-pass gate on
    the real WAV path: block powers (16-sample blocks over a 128-sample
    clip, integer mean of squares), a relative gate at the ungated mean,
    and the gated mean computed only over blocks that clear it — the
    normalization loudness a music pipeline stores per track (and the
    reason quiet passages don't drag the level).  Gated block counts
    span 3..7 of 8 on this corpus, so the gate genuinely bisects.

    Shape: one Arrow-batched pandas_udf per key emitting the block-power
    array, then JVM-side higher-order folds for the gate and both means
    — integer floor division at every step, mirrored in the oracle's
    grid formulation."""
    import numpy as np  # noqa: F401 (worker-side binding)

    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import demo_pcm, encode_wav, wav_samples

    @pandas_udf("binary")
    def encode_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [encode_wav(demo_pcm(d, 128).astype("<i2")) for d in doc_id]
        )

    @pandas_udf("array<long>")
    def blocks_udf(payload: pd.Series) -> pd.Series:
        out = []
        for buf in payload:
            x = wav_samples(bytes(buf))
            out.append([int(v) for v in (x.reshape(8, 16) ** 2).sum(axis=1) // 16])
        return pd.Series(out)

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    t = d.withColumn("payload", encode_udf("doc_id")).select(
        "doc_id", blocks_udf("payload").alias("p")
    )
    from biggie_spark.util import long_sum as fsum
    t = t.withColumn("gate", (fsum(F.col("p")) / 8).cast("long"))
    gated = F.filter(F.col("p"), lambda x: x >= F.col("gate"))
    return t.select(
        "doc_id",
        "gate",
        F.size(gated).cast("long").alias("n_gated"),
        (fsum(gated) / F.size(gated)).cast("long").alias(
            "gated_mean_power"
        ),
        (fsum(F.col("p")) / 8).cast("long").alias("ungated_mean_power"),
    )


_SPECTRUM_K = 4


@register(
    "ts_daily_spectrum",
    oracle=f"""
    WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY event_type, hr),
    terms AS (SELECT h.event_type, h.hr, h.n, k.k,
                     2 * pi() * k.k * h.hr / 24 AS th
              FROM h, range(1, {_SPECTRUM_K + 1}) k(k)),
    r AS (SELECT event_type, k,
                 CAST(sum(CAST(sign(n * cos(th)) *
                      floor(abs(n * cos(th)) * 10 + 0.5) AS BIGINT))
                   AS BIGINT) AS c,
                 CAST(sum(CAST(sign(n * sin(th)) *
                      floor(abs(n * sin(th)) * 10 + 0.5) AS BIGINT))
                   AS BIGINT) AS s
          FROM terms GROUP BY event_type, k)
    SELECT event_type, k, CAST(c * c + s * s AS BIGINT) AS energy_e2
    FROM r
    """,
)
def ts_daily_spectrum(spark, sf_dir):
    """Hour-of-day seasonality spectrum — the mm_audio_spectrum integer
    discipline applied to TIME SERIES: fold a month of events onto the
    24-hour profile per type, then the k=1..{_SPECTRUM_K} DFT energies
    of that profile (k=1 is the diurnal cycle, k=2 the half-day
    harmonic...) with every term rounded to deci-units half-away BEFORE
    summation, so the energies are exact integers on any engine and
    partitioning.  On this synthetic corpus the profile is near-uniform
    and the spectrum says so — low, type-varying energies rather than a
    diurnal spike, which is the honest reading and exactly what the op
    would flag on real traffic.

    Shape: one aggregate onto the (type x 24) profile grid, a 4-row
    frequency grid join, one more bounded aggregate — corpus size only
    changes profile weights."""
    h = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count("*").alias("n"))
    ks = spark.range(1, _SPECTRUM_K + 1).select(
        F.col("id").cast("long").alias("k")
    )
    terms = h.crossJoin(F.broadcast(ks)).select(
        "event_type",
        "k",
        (
            F.lit(2)
            * F.lit(3.141592653589793)
            * F.col("k")
            * F.col("hr")
            / 24
        ).alias("th"),
        "n",
    )

    def r1(expr):
        v = F.col("n") * expr
        return (
            F.signum(v) * F.floor(F.abs(v) * 10 + 0.5)
        ).cast("long")

    r = terms.groupBy("event_type", "k").agg(
        F.sum(r1(F.cos("th"))).alias("c"),
        F.sum(r1(F.sin("th"))).alias("s"),
    )
    return r.select(
        "event_type",
        "k",
        (F.col("c") * F.col("c") + F.col("s") * F.col("s")).alias(
            "energy_e2"
        ),
    )


# ---------------------------------------------------------------------------
# wave D: sequential testing + partition-layout evolution

_SPRT_GATE = 54   # success = quality score >= 54 (~48% rate: a real walk)
_SPRT_BOUND = 6   # symmetric decision boundary on the +/-1 walk
_SPRT_HORIZON = 25  # truncation: max trials per group (keeps the
# undecided branch live at every SF — an untruncated SPRT on a drifting
# walk eventually decides every group)


@register(
    "agg_sprt_sequential",
    oracle=f"""
    WITH s AS (SELECT source, doc_id,
                      CASE WHEN {_T_SCORE_SQL} >= {_SPRT_GATE}
                           THEN 1 ELSE -1 END AS w
               FROM documents),
    c AS (SELECT source,
                 sum(w) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rn
          FROM s),
    f AS (SELECT source,
                 min(CASE WHEN cum >= {_SPRT_BOUND}
                          AND rn <= {_SPRT_HORIZON} THEN rn END) AS acc,
                 min(CASE WHEN cum <= -{_SPRT_BOUND}
                          AND rn <= {_SPRT_HORIZON} THEN rn END) AS rej
          FROM c GROUP BY source)
    SELECT source,
           CASE WHEN acc IS NOT NULL AND (rej IS NULL OR acc < rej)
                THEN 'accept'
                WHEN rej IS NOT NULL AND (acc IS NULL OR rej < acc)
                THEN 'reject'
                ELSE 'undecided' END AS decision,
           CAST(CASE WHEN acc IS NULL AND rej IS NULL
                     THEN {_SPRT_HORIZON}
                     ELSE least(coalesce(acc, 1 << 30),
                                coalesce(rej, 1 << 30)) END AS BIGINT)
             AS n_trials
    FROM f
    """,
)
def agg_sprt_sequential(spark, sf_dir):
    """Truncated sequential probability-ratio test per source — the
    early-stopping A/B machinery: documents arrive in key order, each is
    a +/-1 Bernoulli trial (quality gate >= {_SPRT_GATE}), and the
    source's quality verdict fires the FIRST time the cumulative walk
    hits +/-{_SPRT_BOUND}, or stays 'undecided' at the
    {_SPRT_HORIZON}-trial budget.  For symmetric hypotheses the Wald
    log-likelihood boundary reduces EXACTLY to this integer random-walk
    boundary (LLR is proportional to wins - losses), so the op is the
    real test, not a proxy — and the sample-size column is the point:
    most sources decide in far fewer than {_SPRT_HORIZON} trials, which
    is the budget a sequential design saves over fixed-n.  All three
    decisions live at every SF (measured 1/13/6 at sf0.01).

    Shape: per-source running-sum windows (bounded partitions), one
    conditional aggregate; n_trials for undecided groups reports the
    exhausted horizon."""
    s = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.when(F.expr(_T_SCORE).cast("long") >= _SPRT_GATE, 1)
        .otherwise(-1)
        .alias("w"),
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy("source").orderBy("doc_id")
    c = s.select(
        "source",
        F.sum("w").over(wc).alias("cum"),
        F.row_number().over(wr).alias("rn"),
    )
    f = c.groupBy("source").agg(
        F.min(
            F.when(
                (F.col("cum") >= _SPRT_BOUND)
                & (F.col("rn") <= _SPRT_HORIZON),
                F.col("rn"),
            )
        ).alias("acc"),
        F.min(
            F.when(
                (F.col("cum") <= -_SPRT_BOUND)
                & (F.col("rn") <= _SPRT_HORIZON),
                F.col("rn"),
            )
        ).alias("rej"),
    )
    big = 1 << 30
    return f.select(
        "source",
        F.when(
            F.col("acc").isNotNull()
            & (F.col("rej").isNull() | (F.col("acc") < F.col("rej"))),
            F.lit("accept"),
        )
        .when(
            F.col("rej").isNotNull()
            & (F.col("acc").isNull() | (F.col("rej") < F.col("acc"))),
            F.lit("reject"),
        )
        .otherwise(F.lit("undecided"))
        .alias("decision"),
        F.when(
            F.col("acc").isNull() & F.col("rej").isNull(),
            F.lit(_SPRT_HORIZON),
        )
        .otherwise(
            F.least(
                F.coalesce("acc", F.lit(big)),
                F.coalesce("rej", F.lit(big)),
            )
        )
        .cast("long")
        .alias("n_trials"),
    )


@register(
    "snk_partition_evolution",
    oracle="""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang, source
    """,
)
def snk_partition_evolution(spark, sf_dir):
    """Partition-layout evolution, persisted and proven: migrate a
    dataset from the coarse ``partitionBy(lang)`` directory scheme to
    the fine ``partitionBy(lang, source)`` scheme (the repartitioning a
    table undergoes when a second filter dimension becomes hot), then
    verify the migration the way an operator must: (a) the fine layout's
    point probe shows BOTH keys inside PartitionFilters — RAISES
    otherwise — while the coarse layout can prune only lang; (b) the
    returned per-(lang, source) statistics come from RE-READING the fine
    artifact, so any row loss or duplication in the rewrite fails the
    value check against the source-of-truth oracle.

    At 100 TB this is the classic layout migration: one dynamic-
    partition-overwrite rewrite amortized against every future pruned
    read; the op's plan-level proof is what a migration sign-off
    needs."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang", "source"
    )
    root = tempfile.mkdtemp(prefix="biggie_part_evo_")
    try:
        coarse = os.path.join(root, "v1")
        fine = os.path.join(root, "v2")
        d.write.mode("overwrite").partitionBy("lang").parquet(coarse)
        spark.read.schema(d.schema).parquet(coarse).write.mode(
            "overwrite"
        ).partitionBy("lang", "source").parquet(fine)
        fined = spark.read.schema(d.schema).parquet(fine)
        probe = fined.filter(
            (F.col("lang") == "en") & (F.col("source") == "src3")
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters", 1)
        inside = pf[1].split("]")[0] if len(pf) > 1 else ""
        if "lang" not in inside or "source" not in inside:
            raise RuntimeError(
                "fine layout's point probe must prune on BOTH partition "
                f"keys (PartitionFilters: [{inside}])"
            )
        out = fined.groupBy("lang", "source").agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# wave E: merge-on-read, keyword extraction, isotropy, SRE burn rates,
# l-diversity, trend testing, interval arithmetic


@register(
    "src_scan_merge_on_read",
    oracle="""
    WITH del AS (SELECT doc_id FROM documents
                 WHERE doc_id < 400 AND doc_id % 9 = 0)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_live,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
           CAST(min(d.doc_id) AS BIGINT) AS min_key
    FROM documents d
    WHERE d.doc_id < 400
      AND d.doc_id NOT IN (SELECT doc_id FROM del)
    GROUP BY d.lang
    """,
)
def src_scan_merge_on_read(spark, sf_dir):
    """Merge-on-read with delete vectors — the Iceberg/Delta read path
    where deletes land as a SIDE FILE of keys and the reader applies
    them with an anti-join instead of rewriting data files: write the
    base (400 keys) and a delete-vector file (every 9th key), read back
    with the MoR anti-join, and return per-lang stats of the LIVE rows
    from the composed read.  RAISES unless the executed plan contains
    the anti-join — the structural claim that deletes are applied at
    read, not by rewrite.  Complements ``kv_stash_compaction_persisted``
    (copy-on-write) with the other half of the lakehouse delete design
    space; at 100 TB MoR is why a 10-row delete does not rewrite a
    10 GB file, paid for by the per-read anti-join this op pins.

    The delete side is broadcast (delete vectors are small by design);
    the anti-join is the only extra operator on the read."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    root = tempfile.mkdtemp(prefix="biggie_mor_")
    try:
        base_p, del_p = os.path.join(root, "base"), os.path.join(root, "del")
        d.select("doc_id", "lang", "n_chars").write.mode(
            "overwrite"
        ).parquet(base_p)
        d.filter(F.col("doc_id") % 9 == 0).select("doc_id").write.mode(
            "overwrite"
        ).parquet(del_p)
        base = spark.read.parquet(base_p)
        dels = spark.read.parquet(del_p)
        live = base.join(F.broadcast(dels), "doc_id", "left_anti")
        plan = live._jdf.queryExecution().executedPlan().toString()
        if "LeftAnti" not in plan:
            raise RuntimeError(
                "merge-on-read must apply delete vectors via an anti-join "
                "(LeftAnti missing from the executed read plan)"
            )
        out = live.groupBy("lang").agg(
            F.count("*").alias("n_live"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_key"),
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "llm_keyword_rake",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      unnest(string_split(lower(text), ' ')) AS tok,
                      generate_subscripts(string_split(lower(text), ' '), 1)
                        AS pos
               FROM documents),
    top AS ({_STOP_CTE}),
    m AS (SELECT doc_id, source, pos, tok FROM t
          WHERE tok NOT IN (SELECT tok FROM top)),
    isl AS (SELECT source, tok,
                   pos - row_number() OVER (PARTITION BY doc_id
                     ORDER BY pos) AS grp,
                   doc_id
            FROM m),
    ph AS (SELECT source, doc_id, grp,
                  CAST(count(*) AS BIGINT) AS phlen
           FROM isl GROUP BY source, doc_id, grp),
    wd AS (SELECT i.source, i.tok,
                  CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(p.phlen) AS BIGINT) AS degree
           FROM isl i JOIN ph p ON p.doc_id = i.doc_id AND p.grp = i.grp
                                AND p.source = i.source
           GROUP BY i.source, i.tok)
    SELECT source, tok, freq, degree,
           CAST(degree * 1000000 // freq AS BIGINT) AS rake_e6
    FROM (SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY degree * 1000000 // freq DESC, tok) AS rn FROM wd)
    WHERE rn <= 5
    """,
)
def llm_keyword_rake(spark, sf_dir):
    """RAKE keyword scoring — the classic unsupervised keyword
    extractor: candidate phrases are the maximal non-stopword RUNS
    (gaps-and-islands over token positions, stop tier = the corpus
    top-{_COMPRESS_TOPK}), each word's degree is the summed length of
    the phrases containing it, and score = degree/freq (e6 integer) —
    words that live in long phrases outrank bare frequent words.  Top-5
    keywords per source with deterministic tie-break.

    Shape: islands via one per-doc window (pos - row_number, the
    win_islands idiom), phrase lengths via one aggregate, the word-
    degree join keyed by (doc, island) — all hash-partitioned; the
    final cut is a per-source top-5 window over the bounded word
    grid."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.posexplode(tokens("text")).alias("pos0", "tok"),
        )
        .select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    top = _stop_tier(t)
    m = (
        t.join(F.broadcast(top), "tok", "left")
        .filter(F.coalesce("stop", F.lit(False)) == False)  # noqa: E712
        .select("doc_id", "source", "pos", "tok")
    )
    wi = Window.partitionBy("doc_id").orderBy("pos")
    isl = m.select(
        "source",
        "tok",
        "doc_id",
        (F.col("pos") - F.row_number().over(wi)).alias("grp"),
    )
    ph = isl.groupBy("source", "doc_id", "grp").agg(
        F.count("*").alias("phlen")
    )
    wd = (
        isl.join(ph, ["source", "doc_id", "grp"])
        .groupBy("source", "tok")
        .agg(F.count("*").alias("freq"), F.sum("phlen").alias("degree"))
    )
    scored = wd.withColumn(
        "rake_e6", F.expr("degree * 1000000 div freq")
    )
    wr = Window.partitionBy("source").orderBy(F.desc("rake_e6"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("source", "tok", "freq", "degree", "rake_e6")
    )


@register(
    "llm_embed_isotropy",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS a FROM embeddings),
    pairs AS (SELECT a.vec_id,
                     round(list_cosine_similarity(a.a, b.a), 4) AS s4
              FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
    cm AS (SELECT CAST(sum(CAST(sign(s4) * floor(abs(s4) * 10000 + 0.5)
                    AS BIGINT)) AS BIGINT) AS sum_s_e4,
                  CAST(count(*) AS BIGINT) AS n_pairs
           FROM pairs),
    q AS (SELECT CAST(CASE WHEN a[u.pos + 1] < 0
                 THEN -floor(abs(a[u.pos + 1]) * 1000000 + 0.5)
                 ELSE floor(abs(a[u.pos + 1]) * 1000000 + 0.5)
                 END AS BIGINT) AS q, u.pos
          FROM e, range(64) u(pos)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
    sd AS (SELECT pos, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY pos),
    p AS (SELECT CAST(sum((abs(s) // n.n) * (abs(s) // n.n)) AS BIGINT)
            AS p FROM sd, n),
    t AS (SELECT CAST(CAST(sum(q * q) AS BIGINT)
            // (SELECT n FROM n) AS BIGINT) AS msq FROM q)
    SELECT cm.n_pairs, cm.sum_s_e4,
           CAST(cm.sum_s_e4 // cm.n_pairs AS BIGINT) AS mean_cos_e4,
           CAST(p.p * 1000 // nullif(t.msq // 1000, 0) AS BIGINT)
             AS centroid_share_e6
    FROM cm, p, t
    """,
)
def llm_embed_isotropy(spark, sf_dir):
    """Embedding isotropy diagnostics — the two numbers that tell you a
    representation space has collapsed: (1) the mean cosine between
    adjacent-key vector pairs (isotropic spaces hover near 0; anisotropy
    pushes it up — the classic 'cone effect'), summed in e4 half-away
    integers so the mean is exact; (2) the centroid-energy share
    ||mu||^2 / E[||x||^2] (e6), the fraction of average vector energy
    the common mean direction eats — near 0 for centered spaces, near 1
    for collapsed ones.  On these synthetic random embeddings both read
    near zero, which is the correct verdict and the baseline a real
    model's drift is compared against.

    ADVICE r9 fix: the centroid share is now integer-exact end-to-end —
    each element is quantized to an e6 BIGINT BEFORE any sum (the repo's
    standing quantize-before-summation convention), per-dim means and
    the energy mean are integer `div`s of exact BIGINT sums, and the
    final share is a pure integer multiply-divide — so aggregation
    order can never flip a rounded boundary between engines.  Bounds
    (|v| <= 1, n <= 2e6 rows, 64 dims): every intermediate stays far
    inside int64.

    Shape: one neighbor equi-join for the pair cosines, one per-dim
    aggregate for the centroid (64-row grid), one scan for the energy
    sum — no corpus pairwise anything."""
    from biggie_spark.util import cosine, r4

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("a"),
    )
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), F.col("a").alias("bb"))
    s4 = r4(cosine(F.col("a"), F.col("bb")))
    pairs = e.join(b, "vec_id").select(
        (
            F.signum(s4) * F.floor(F.abs(s4) * 10000 + 0.5)
        ).cast("long").alias("s_e4")
    )
    cm = pairs.agg(
        F.sum("s_e4").alias("sum_s_e4"), F.count("*").alias("n_pairs")
    )
    q = e.select(F.posexplode("a").alias("pos", "v")).select(
        "pos",
        (F.signum("v") * F.floor(F.abs("v") * 1000000 + 0.5))
        .cast("long")
        .alias("q"),
    )
    cnt = e.agg(F.count("*").alias("n"))
    sd = q.groupBy("pos").agg(F.sum("q").alias("s"))
    p = (
        sd.crossJoin(F.broadcast(cnt))
        .agg(F.sum(F.expr("(abs(s) div n) * (abs(s) div n)")).alias("p"))
    )
    t = (
        q.agg(F.sum(F.expr("q * q")).alias("qq"))
        .crossJoin(F.broadcast(cnt))
        .select(F.expr("qq div n").alias("msq"))
    )
    return (
        cm.crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(t))
        .select(
            "n_pairs",
            "sum_s_e4",
            F.expr("sum_s_e4 div n_pairs").alias("mean_cos_e4"),
            F.expr("p * 1000 div nullif(msq div 1000, 0)").alias(
                "centroid_share_e6"
            ),
        )
    )


# SLO: errors <= 22% of events (the synthetic mix runs ~20%, so hourly
# rates straddle the objective and both alert branches stay live).
_SLO_NUM, _SLO_DEN = 22, 100


@register(
    "ts_error_budget_burn",
    oracle=f"""
    WITH h AS (SELECT date_trunc('hour', ts) AS hr,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(count(*) FILTER (event_type = 'error')
                        AS BIGINT) AS errs
               FROM events GROUP BY hr)
    SELECT CAST(floor(epoch(hr)) AS BIGINT) AS hour_s, n, errs,
           CAST(errs * 1000000 // n AS BIGINT) AS rate_e6,
           CAST(errs * {_SLO_DEN} > n * {_SLO_NUM} AS BIGINT) AS burning,
           CAST(errs * 1000000 * {_SLO_DEN}
                // (n * {_SLO_NUM}) AS BIGINT) AS burn_rate_e6
    FROM h
    """,
)
def ts_error_budget_burn(spark, sf_dir):
    """SLO error-budget burn rate — the SRE alerting primitive: per
    hour, the error rate against the {_SLO_NUM}/{_SLO_DEN} objective,
    the burning flag (rate above objective, compared in cross-multiplied
    integer form so no float threshold exists), and the burn-rate
    multiple (1e6 = consuming budget exactly at the sustainable rate;
    2e6 = burning twice as fast).  The objective sits just above the
    corpus's ~20% error mix, so hourly rates straddle it and both alert
    branches are live at every SF.

    ONE hash aggregate onto the hour grid; every downstream column is
    integer arithmetic on the (n, errs) pair — the multi-window
    (1h/6h) page policy is this same frame re-bucketed, left to the
    consumer."""
    h = load_table(spark, sf_dir, "events").groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errs"),
    )
    return h.select(
        F.unix_timestamp("hr").alias("hour_s"),
        "n",
        "errs",
        F.expr("errs * 1000000 div n").alias("rate_e6"),
        (F.col("errs") * _SLO_DEN > F.col("n") * _SLO_NUM)
        .cast("long")
        .alias("burning"),
        F.expr(
            f"errs * 1000000 * {_SLO_DEN} div (n * {_SLO_NUM})"
        ).alias("burn_rate_e6"),
    )


@register(
    "agg_l_diversity",
    oracle="""
    WITH g AS (SELECT source, n_chars // 100 AS qblock, lang
               FROM documents),
    q AS (SELECT source, qblock,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT lang) AS BIGINT) AS l
          FROM g GROUP BY source, qblock)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(count(*) FILTER (l < 2) AS BIGINT) AS undiverse_groups,
           CAST(sum(CASE WHEN l < 2 THEN n ELSE 0 END) AS BIGINT)
             AS exposed_rows
    FROM q GROUP BY source
    """,
)
def agg_l_diversity(spark, sf_dir):
    """l-diversity audit — the governance check one step past
    k-anonymity (``agg_k_anonymity``): within each quasi-identifier
    group (source x size bucket), how many DISTINCT sensitive values
    (language) appear?  A group with l=1 is exposed even when k is
    large — every member shares the sensitive attribute, so the release
    leaks it deterministically.  Per source: the group count, worst-case
    l, the number of undiverse groups, and the row count they expose
    (the remediation worklist).  Group l spans 1..5 on this corpus, so
    both audit branches are live.

    Two chained hash aggregates (quasi-group then source) — the
    k-anonymity plan shape with a distinct count in the middle."""
    g = load_table(spark, sf_dir, "documents").select(
        "source",
        (F.col("n_chars") / 100).cast("long").alias("qblock"),
        "lang",
    )
    q = g.groupBy("source", "qblock").agg(
        F.count("*").alias("n"), F.countDistinct("lang").alias("l")
    )
    return q.groupBy("source").agg(
        F.count("*").alias("n_groups"),
        F.min("l").alias("min_l"),
        F.count(F.when(F.col("l") < 2, 1)).alias("undiverse_groups"),
        F.sum(F.when(F.col("l") < 2, F.col("n")).otherwise(0)).alias(
            "exposed_rows"
        ),
    )


@register(
    "agg_mann_kendall_trend",
    oracle="""
    WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY event_type, day),
    p AS (SELECT a.event_type,
                 CAST(sum(CASE WHEN b.n > a.n THEN 1
                               WHEN b.n < a.n THEN -1 ELSE 0 END)
                   AS BIGINT) AS s
          FROM d a JOIN d b ON b.event_type = a.event_type
                           AND b.day > a.day
          GROUP BY a.event_type),
    c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
          FROM d GROUP BY event_type)
    SELECT p.event_type, c.n_days, p.s,
           CAST(p.s * 1000000 // (c.n_days * (c.n_days - 1) // 2)
             AS BIGINT) AS tau_e6
    FROM p JOIN c USING (event_type)
    """,
)
def agg_mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall trend test per event type — the nonparametric
    'is this metric drifting' statistic monitoring systems run on daily
    counts: S = sum over ordered day pairs of sign(later - earlier),
    normalized to Kendall's tau against the pair count.  Exact integers
    end to end (the sign sum never needs variance approximations to be
    a useful drift score; the z-test layer is a driver-side lookup).
    On this stationary synthetic corpus S hovers near zero with
    type-varying sign — the null behaving like the null.

    Shape: one aggregate onto the bounded (type x ~30 days) frame, then
    a within-type ordered self-join of that TINY frame (30x30 per
    type) — the corpus never joins itself."""
    d = load_table(spark, sf_dir, "events").groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    a = d.select("event_type", F.col("day").alias("da"), F.col("n").alias("na"))
    b = d.select("event_type", F.col("day").alias("db"), F.col("n").alias("nb"))
    p = (
        a.join(b, "event_type")
        .filter(F.col("db") > F.col("da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("nb") > F.col("na"), 1)
                .when(F.col("nb") < F.col("na"), -1)
                .otherwise(0)
            ).alias("s")
        )
    )
    c = d.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return p.join(c, "event_type").select(
        "event_type",
        "n_days",
        "s",
        F.expr("s * 1000000 div (n_days * (n_days - 1) div 2)").alias(
            "tau_e6"
        ),
    )


@register(
    "sql_interval_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS due_1m,
           CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS due_45d,
           CAST(date_trunc('month', o_orderdate)
                + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE)
             AS month_end,
           CAST(datediff('day', o_orderdate, DATE '2024-06-30')
             AS BIGINT) AS days_to_close
    FROM orders WHERE o_orderkey < 300
    """,
)
def sql_interval_arith(spark, sf_dir):
    """Calendar INTERVAL arithmetic parity — the cross-engine hazard
    zone of date math: month addition with end-of-month clamping
    (Jan 31 + 1 month = Feb 29 on BOTH engines — verified before this op
    shipped), day-interval addition, the last-day-of-month idiom
    (truncate, +1 month, -1 day), and signed day differences to a fixed
    close date.  The hash check certifies clamping behavior date by
    date — an engine pair that disagreed on any month-end rule would
    diverge on real orders immediately.

    Pure per-row date arithmetic inside codegen; the predicate reaches
    the scan."""
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 300
    ).createOrReplaceTempView("orders_iv")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS due_1m,
               CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS due_45d,
               CAST(date_trunc('month', o_orderdate)
                    + INTERVAL 1 MONTH - INTERVAL 1 DAY AS DATE)
                 AS month_end,
               CAST(datediff(DATE '2024-06-30', o_orderdate) AS BIGINT)
                 AS days_to_close
        FROM orders_iv
        """
    )


# ---------------------------------------------------------------------------
# wave F: groundedness, watermark detection, tensor convolution,
# prevalence correction


@register(
    "llm_groundedness_support",
    oracle="""
    WITH t AS (SELECT doc_id, doc_id // 4 AS pid, doc_id % 4 AS slot,
                      unnest(list_distinct(string_split(lower(text), ' ')))
                        AS tok
               FROM documents),
    ctx AS (SELECT pid, tok FROM t WHERE slot = 0),
    cand AS (SELECT pid, doc_id, tok FROM t WHERE slot > 0),
    j AS (SELECT c.pid, c.doc_id,
                 CAST(count(*) AS BIGINT) AS n_terms,
                 CAST(count(x.tok) AS BIGINT) AS supported
          FROM cand c LEFT JOIN ctx x ON x.pid = c.pid AND x.tok = c.tok
          GROUP BY c.pid, c.doc_id)
    SELECT pid AS prompt_id, doc_id, n_terms, supported,
           CAST(supported * 1000000 // n_terms AS BIGINT) AS support_e6
    FROM j
    """,
)
def llm_groundedness_support(spark, sf_dir):
    """Groundedness (context support) scoring — the RAG faithfulness
    metric: within each prompt group, slot 0 is the retrieved CONTEXT
    and slots 1..3 are candidate answers; each answer's support is the
    fraction of its distinct terms that appear in the context (measured
    21%..100% across candidates at sf0.01 — a genuinely discriminative
    signal on this corpus).  Low support is the hallucination flag an
    answer-verification gate acts on.

    Shape: distinct terms per doc via one dedup explode, then an
    equi-join keyed (prompt, term) between the candidate and context
    frames — hash-partitioned, linear; the per-answer rollup reuses the
    doc key.  Production replaces unigrams with spans
    (``llm_span_dup_coverage``'s machinery) on the same join shape."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") / 4).cast("long").alias("pid"),
            (F.col("doc_id") % 4).alias("slot"),
            "doc_id",
            F.explode(F.array_distinct(tokens("text"))).alias("tok"),
        )
    )
    ctx = t.filter(F.col("slot") == 0).select(
        "pid", "tok", F.lit(True).alias("hit")
    )
    cand = t.filter(F.col("slot") > 0).select("pid", "doc_id", "tok")
    j = (
        cand.join(ctx, ["pid", "tok"], "left")
        .groupBy("pid", "doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.count("hit").alias("supported"),
        )
    )
    return j.select(
        F.col("pid").alias("prompt_id"),
        "doc_id",
        "n_terms",
        "supported",
        F.expr("supported * 1000000 div n_terms").alias("support_e6"),
    )


@register(
    "llm_watermark_greenlist",
    oracle="""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
                      generate_subscripts(string_split(lower(text), ' '), 1)
                        AS pos
               FROM documents),
    l AS (SELECT doc_id, tok,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM t),
    g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN CAST(('0x' ||
                        substr(md5(prev || '|' || tok), 1, 2)) AS BIGINT)
                        % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS green
          FROM l WHERE prev IS NOT NULL GROUP BY doc_id)
    SELECT doc_id, n, green,
           CAST(green * 1000000 // n AS BIGINT) AS green_frac_e6,
           CAST((2 * green - n) * (2 * green - n) > 4 * n AS BIGINT)
             AS flagged
    FROM g
    """,
)
def llm_watermark_greenlist(spark, sf_dir):
    """Greenlist watermark detection (Kirchenbauer et al.) — the
    detector side of the soft watermark: each token is 'green' iff the
    hash of its (previous token, token) pair lands in the green half of
    the vocabulary partition, and a document is flagged when its green
    fraction deviates from the 1/2 null by more than two standard
    deviations.  The z-test is INTEGER-EXACT via squaring: |z| > 2 on
    z = (2g - n)/sqrt(n) is exactly (2g - n)^2 > 4n — no sqrt, no float
    threshold.  On unwatermarked text the detector behaves like the
    null: green fractions span 12%..89% and ~7% of docs flag (the
    expected two-sided tail), which is the calibration a deployment
    verifies BEFORE trusting positives.

    Shape: one lag window per doc, one hash aggregate; the green test
    is a 2-hex-digit md5 prefix parity, identical on both engines."""
    t = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    l = t.select("doc_id", "tok", F.lag("tok").over(w).alias("prev"))
    green = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", "prev", "tok")), 1, 2
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    g = (
        l.filter(F.col("prev").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(green.cast("long")).alias("green"),
        )
    )
    return g.select(
        "doc_id",
        "n",
        "green",
        F.expr("green * 1000000 div n").alias("green_frac_e6"),
        (
            (2 * F.col("green") - F.col("n"))
            * (2 * F.col("green") - F.col("n"))
            > 4 * F.col("n")
        )
        .cast("long")
        .alias("flagged"),
    )


@register(
    "kv_tensor_conv1d",
    oracle="""
    WITH t AS (SELECT doc_id,
                      3 AS n_rows, 4 + doc_id % 3 AS n_cols,
                      doc_id % 50 AS base
               FROM documents WHERE doc_id < 100),
    g AS (SELECT doc_id, n_cols, base, i.v AS i, j.v AS j
          FROM t, range(3) i(v), range(8) j(v)
          WHERE j.v >= 1 AND j.v < n_cols - 1)
    SELECT doc_id, CAST(i AS BIGINT) AS row_i,
           /* valid [1,2,1] conv over elem = base + 2i + 3j:
              out_j = 4*(base + 2i) + 3*(j-1) + 6*j + 3*(j+1)
                    = 4*(base + 2i + 3j) */
           CAST(sum(4 * (base + 2*i + 3*j)) AS BIGINT) AS conv_sum,
           CAST(max(4 * (base + 2*i + 3*j)) AS BIGINT) AS conv_max,
           CAST(count(*) AS BIGINT) AS out_len
    FROM g GROUP BY doc_id, i
    """,
)
def kv_tensor_conv1d(spark, sf_dir):
    """1-D convolution over stored tensor rows — the [1, 2, 1] smoothing
    kernel applied per row of a rank-2 field through the FLAT layout
    (valid padding: output length cols-2): the per-frame feature
    smoothing a stored spectrogram gets before peak picking.  Because
    the synthetic field is affine in j, the convolution has the closed
    form 4*elem(i, j) — any indexing slip in the three-tap window
    arithmetic (the classic boundary bug) changes sum/max/length and
    breaks the hash.

    Shape: nested JVM array folds — an outer transform over rows, an
    inner transform over valid positions reading the three flat-layout
    neighbors — no UDF, no shuffle before the final explode."""
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

    def conv_row(i):
        # valid positions j = 1 .. cols-2; flat index = i*cols + j (+1 for
        # element_at's 1-based indexing)
        return F.transform(
            F.sequence(F.lit(1), n_cols - 2),
            lambda j: (
                F.element_at(flat, i * n_cols + j).cast("long")
                + 2 * F.element_at(flat, i * n_cols + j + 1).cast("long")
                + F.element_at(flat, i * n_cols + j + 2).cast("long")
            ),
        )

    convs = F.transform(F.sequence(F.lit(0), n_rows - 1), conv_row)
    from biggie_spark.util import long_sum as fsum
    return t.select("doc_id", F.posexplode(convs)).select(
        "doc_id",
        F.col("pos").cast("long").alias("row_i"),
        fsum(F.col("col")).alias("conv_sum"),
        F.array_max(F.col("col")).alias("conv_max"),
        F.size(F.col("col")).cast("long").alias("out_len"),
    )


# Classifier operating point for the prevalence correction: the quality
# gate as a noisy detector with assumed sensitivity 90% / specificity 80%
# (e6-scaled literals on both engines).
_SENS_E6, _SPEC_E6 = 900000, 800000


@register(
    "agg_prevalence_adjust",
    oracle=f"""
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(count(*) FILTER ({_T_SCORE_SQL} >= {_T_KEEP})
                        AS BIGINT) AS pos
               FROM documents GROUP BY source)
    SELECT source, n, pos,
           CAST(pos * 1000000 // n AS BIGINT) AS observed_e6,
           CAST(least(1000000, greatest(0,
                (pos * 1000000 // n + {_SPEC_E6} - 1000000) * 1000000
                // ({_SENS_E6} + {_SPEC_E6} - 1000000))) AS BIGINT)
             AS adjusted_e6
    FROM s
    """,
)
def agg_prevalence_adjust(spark, sf_dir):
    """Rogan-Gladen prevalence correction — the bias adjustment every
    noisy-classifier rollup needs: if the keep gate has sensitivity 90%
    and specificity 80%, the OBSERVED positive rate systematically
    overstates low prevalences and understates high ones; the corrected
    rate is (observed + spec - 1) / (sens + spec - 1), clamped to
    [0, 1] — here in exact e6 integer arithmetic with the clamp as
    least/greatest (the correction can go negative when observed falls
    below the false-positive floor, which IS the signal that the true
    prevalence is ~0).

    ONE conditional aggregate per source; the operating point is a
    literal pair on both engines.  This is the difference between
    reporting 'the classifier fired on 26% of src0' and 'src0's true
    rate is ~9% after accounting for the gate's error profile'."""
    s = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").alias("n"),
        F.count(
            F.when(F.expr(_T_SCORE).cast("long") >= _T_KEEP, 1)
        ).alias("pos"),
    )
    return s.select(
        "source",
        "n",
        "pos",
        F.expr("pos * 1000000 div n").alias("observed_e6"),
        F.expr(
            f"least(1000000, greatest(0, "
            f"(pos * 1000000 div n + {_SPEC_E6} - 1000000) * 1000000 "
            f"div ({_SENS_E6} + {_SPEC_E6} - 1000000)))"
        ).alias("adjusted_e6"),
    )

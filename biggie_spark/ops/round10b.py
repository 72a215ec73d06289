"""Round-10b tranche — ~16 full-oracle ops (VERDICT r9 item 2).

Families, per the verdict's ranked directions:

* tokenizer/vocab — the audit layer a data pipeline ships against its
  tokenizer: OOV rate vs a PERSISTED top-K vocabulary artifact (pruned
  prefix probe, RuntimeError-grade), byte-fallback inflation accounting,
  and the vocab-size coverage sweep (the elbow curve that sizes a vocab).
* dedup-cluster structure — per-round label-propagation convergence
  trajectory over the verified near-dup graph, and the component-mass
  deletion accounting ("what do I delete if I keep one survivor per
  cluster").
* cross-lingual curation — per-language token-profile L1 divergence from
  the corpus profile, pairwise language distribution-overlap coefficients,
  a per-document language-confidence gate, and its streaming-constructs
  twin.
* shard assembly — the dataloader's other half: a PERSISTED
  partitionBy(shard) manifest with within-shard deterministic order
  (order-sensitive checksum) and a pruning guard; multi-epoch interleave
  churn accounting; next-fit compaction bin packing.
* multimodal — zero-crossing-rate blocks through the real WAV codec;
  a 2x2 box-filter image pyramid through the real PPM codec (closed-form
  oracles, the mm_* discipline).
* lakehouse — version-as-of time travel over a delta-style persisted
  layout (last-writer-wins per key, as-of read pruned to version dirs).
* stats — Gini-Simpson diversity / effective-category counts, exact
  integer arithmetic.

Every op carries a full DuckDB oracle, follows the integer-exact output
conventions (BIGINT, div, e2/e4/e6 scaling, nullif guards), and was
spread-validated in DuckDB at sf{0.001,0.01,0.1} BEFORE registration
(tools/vacuity_r10b.md).  The vocabulary here is tiny (31 distinct
tokens) so vocab cuts use K=12 and the sweep grid tops at 31 — chosen so
every branch is live at every SF.
"""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import ORACLES, register
from biggie_spark.util import tokens

# ---------------------------------------------------------------------------
# tokenizer / vocab audit tier

# Top-K vocabulary cut.  31 distinct tokens corpus-wide; K=12 keeps both
# the in-vocab and OOV branches carrying real mass at every SF (measured
# OOV 57-60% of tokens, DuckDB validation 2026-08-15).
_VOCAB_K = 12

# Shared CTE: the (tok, c) corpus token-frequency profile and its top-K
# vocabulary cut under the exact (freq DESC, tok ASC) total order.
_VOCAB_SQL = f"""
    t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
          FROM documents),
    f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    v AS (SELECT tok FROM f ORDER BY c DESC, tok LIMIT {_VOCAB_K})
"""


def _token_freq(spark, sf_dir):
    """(lang, tok) long frame + the ranked corpus frequency profile."""
    t = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    f = t.groupBy("tok").agg(F.count("*").alias("c"))
    return t, f


def _vocab_topk(f):
    """Top-K vocabulary via an unpartitioned window over the token-
    frequency frame — bounded by DISTINCT-vocabulary size, not corpus
    size (a real corpus's vocab is ~1e5; this one is 31), and guarded
    in-plan by round9's _GRID_BOUND assert so a regression that widens
    the frame to corpus scale raises instead of single-partitioning."""
    from biggie_spark.ops.round9 import _grid_guarded

    w = Window.partitionBy().orderBy(F.desc("c"), "tok")
    w_all = Window.partitionBy()
    return (
        f.select(
            "tok",
            "c",
            _grid_guarded(F.row_number().over(w), w_all).alias("rn"),
        )
        .filter(F.col("rn") <= _VOCAB_K)
        .select("tok", "rn")
    )


@register(
    "llm_vocab_oov_persisted",
    oracle=f"""
    WITH {_VOCAB_SQL}
    SELECT lang,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM v)
                    THEN 0 ELSE 1 END) AS BIGINT) AS oov_tokens,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM v)
                    THEN 0 ELSE 1 END) * 10000 // count(*) AS BIGINT)
             AS oov_e4
    FROM t GROUP BY lang
    """,
)
def llm_vocab_oov_persisted(spark, sf_dir):
    """Out-of-vocabulary audit against a PERSISTED tokenizer vocabulary —
    the artifact loop a real pipeline runs: train the top-K vocab once,
    persist it ``partitionBy(first-char bucket)``, and audit every
    incoming corpus slice against the artifact, never against a
    recomputed in-memory vocab (which can silently drift from the
    tokenizer actually deployed).

    The op builds the top-{_VOCAB_K} vocabulary (exact (freq DESC, tok)
    total order over the vocab-bounded frequency frame, in-plan
    _GRID_BOUND guard), persists it bucketed by first character, re-reads
    with an EXPLICIT schema, and RAISES unless a single-bucket prefix
    probe shows the bucket inside the scan's PartitionFilters — the
    structural proof a token lookup touches one directory, not the whole
    artifact.  The per-language OOV rates are then computed against the
    RE-READ vocab (broadcast to the token stream — the right plan: the
    vocab side is tokenizer-sized, the token stream is corpus-sized).

    Shape at 100 TB: vocab build = one groupBy(tok) partial+final agg;
    the audit = one broadcast-hash left join + one groupBy(lang); no
    global sort of the corpus, no shuffle keyed on anything but lang."""
    t, f = _token_freq(spark, sf_dir)
    vocab = _vocab_topk(f).select(
        "tok", "rn", F.substring("tok", 1, 1).alias("bucket")
    )
    root = tempfile.mkdtemp(prefix="biggie_vocab_")
    try:
        vocab.write.mode("overwrite").partitionBy("bucket").parquet(root)
        art = spark.read.schema(vocab.schema).parquet(root)
        probe = art.filter(F.col("bucket") == "s")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters", 1)
        if len(pf) < 2 or "bucket" not in pf[1].split("]", 1)[0]:
            raise RuntimeError(
                "vocab artifact prefix probe must partition-prune on "
                "bucket — PartitionFilters missing from the scan plan"
            )
        hit = art.select("tok", F.lit(1).alias("in_v"))
        return (
            t.join(F.broadcast(hit), "tok", "left")
            .groupBy("lang")
            .agg(
                F.count("*").alias("total_tokens"),
                F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0)).alias(
                    "oov_tokens"
                ),
                F.expr(
                    "sum(case when in_v is null then 1 else 0 end) * 10000"
                    " div count(*)"
                ).alias("oov_e4"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "llm_byte_fallback",
    oracle=f"""
    WITH {_VOCAB_SQL}
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM v)
                    THEN 1 ELSE 0 END) AS BIGINT) AS invocab_tokens,
           CAST(sum(CASE WHEN tok IN (SELECT tok FROM v)
                    THEN 0 ELSE strlen(tok) END) AS BIGINT)
             AS fallback_bytes,
           CAST((sum(CASE WHEN tok IN (SELECT tok FROM v)
                     THEN 1 ELSE 0 END)
                 + sum(CASE WHEN tok IN (SELECT tok FROM v)
                       THEN 0 ELSE strlen(tok) END)) * 10000 // count(*)
                AS BIGINT) AS inflation_e4
    FROM t GROUP BY lang
    """,
)
def llm_byte_fallback(spark, sf_dir):
    """Byte-fallback accounting — what a byte-level BPE actually emits
    when a word is out of vocabulary: one token per UTF-8 byte.  Per
    language: the word count, the in-vocab token count, the bytes a
    fallback encoder spells out for the OOV words, and the sequence
    inflation ratio e4 (emitted tokens per input word) — the number that
    decides whether a language is being silently taxed ~3x context
    length by vocabulary gaps (the practical argument for byte-fallback
    audits in multilingual tokenizer work).

    Same two-aggregate broadcast shape as llm_vocab_oov_persisted; the
    vocab here is the in-plan top-K cut (the persisted-artifact loop is
    that op's contract; this one is the pure accounting kernel).
    octet_length on the Spark side mirrors DuckDB strlen (byte length) —
    identical on this ASCII corpus and on any UTF-8 text, since both
    count encoded bytes, not codepoints."""
    t, f = _token_freq(spark, sf_dir)
    hit = _vocab_topk(f).select("tok", F.lit(1).alias("in_v"))
    j = t.join(F.broadcast(hit), "tok", "left")
    inv = F.when(F.col("in_v").isNotNull(), 1).otherwise(0)
    fb = F.when(F.col("in_v").isNull(), F.octet_length("tok")).otherwise(0)
    return j.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.sum(inv).alias("invocab_tokens"),
        F.sum(fb).cast("long").alias("fallback_bytes"),
        # Integer `div`, not float `/` + cast (ADVICE r10): the oracle
        # floor-divides in int64, and a double-rounded quotient can cross
        # an integer boundary past ~2^53 tokens — same divergence class
        # agg_kendall_tau_grid fixed in r10.  Operands are non-negative,
        # so DuckDB's flooring `//` and Spark's truncating `div` agree.
        F.expr(
            "(sum(case when in_v is not null then 1 else 0 end)"
            " + sum(case when in_v is null then octet_length(tok)"
            "       else 0 end)) * 10000 div count(*)"
        ).alias("inflation_e4"),
    )


# Vocab-size grid for the coverage sweep: spans under-cut to exactly-full
# on the 31-token corpus vocabulary, so coverage climbs 14% -> 100% and
# every grid row is live at every SF.
_SWEEP_KS = (4, 8, 12, 16, 24, 31)


@register(
    "llm_vocab_size_sweep",
    oracle=f"""
    WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
    f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    r AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn
          FROM f),
    g AS (SELECT unnest([{",".join(map(str, _SWEEP_KS))}]) AS k)
    SELECT k,
           CAST(sum(c) AS BIGINT) AS covered_mass,
           CAST((SELECT sum(c) FROM f) AS BIGINT) AS total_mass,
           CAST(sum(c) * 1000000 // (SELECT sum(c) FROM f) AS BIGINT)
             AS coverage_e6
    FROM g JOIN r ON r.rn <= g.k GROUP BY k
    """,
)
def llm_vocab_size_sweep(spark, sf_dir):
    """Vocabulary-size coverage sweep — the elbow curve that sizes a
    tokenizer vocabulary: for each candidate size K, the share of corpus
    token mass the top-K vocabulary covers (e6).  The marginal coverage
    between grid points is exactly the mass a bigger vocab buys, which is
    the engineering tradeoff (embedding-table memory vs sequence length)
    this table decides.

    Shape: one corpus groupBy(tok) shrinks everything to the
    vocab-bounded frequency frame; ONE guarded unpartitioned window ranks
    it; the {len(_SWEEP_KS)}-point K grid joins that tiny ranked frame
    (broadcast, theta rn <= k) and re-aggregates — corpus size only ever
    enters through the first aggregate."""
    _, f = _token_freq(spark, sf_dir)
    from biggie_spark.ops.round9 import _grid_guarded

    w = Window.partitionBy().orderBy(F.desc("c"), "tok")
    w_all = Window.partitionBy()
    ranked = f.select(
        "c",
        _grid_guarded(F.row_number().over(w), w_all).alias("rn"),
        _grid_guarded(F.sum("c").over(w_all), w_all).alias("total_mass"),
    )
    grid = spark.range(len(_SWEEP_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _SWEEP_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    return (
        F.broadcast(grid)
        .join(ranked, ranked.rn <= grid.k)
        .groupBy("k")
        .agg(
            F.sum("c").alias("covered_mass"),
            F.max("total_mass").alias("total_mass"),
            F.expr("sum(c) * 1000000 div max(total_mass)").alias(
                "coverage_e6"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup-cluster / graph structure tier

# Label-propagation demo graph: the round-10 quadratic-mask trade subgraph
# further thinned by (src+dst) % 3 = 0 so the undirected diameter exceeds
# one hop — min-label propagation then takes 4 rounds to converge with a
# genuinely decreasing trajectory (23 -> 12 -> 5 -> 1 changes at sf0.01;
# DuckDB validation 2026-08-15).  On the near-dup graph itself every
# cluster is a star around its min doc, so the trajectory there converges
# in ONE round — a vacuous demo; the component-mass op below is the
# dedup-graph consumer.
_LP_EDGES_SQL = """
    e AS MATERIALIZED (SELECT DISTINCT s.s_nationkey AS src,
                              c.c_nationkey AS dst
          FROM lineitem li
          JOIN orders o ON li.l_orderkey = o.o_orderkey
          JOIN supplier s ON li.l_suppkey = s.s_suppkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE s.s_nationkey <> c.c_nationkey
            AND (s.s_nationkey * s.s_nationkey + 31 * c.c_nationkey) % 7 < 3
            AND (s.s_nationkey + c.c_nationkey) % 3 = 0)
"""

_LP_ROUNDS = 4

_LP_ITER_SQL = """,
    l{o} AS (SELECT n.u, least(n.lbl, coalesce(m.nbr, n.lbl)) AS lbl
             FROM l{i} n LEFT JOIN (
               SELECT s.u, min(w.lbl) AS nbr FROM sym s
               JOIN l{i} w ON w.u = s.v GROUP BY s.u) m ON m.u = n.u)
"""


def _lp_stat_sql(name: str, expr: str) -> str:
    cases = " ".join(
        "WHEN {k} THEN (SELECT {e})".format(
            k=k, e=expr.format(a=f"l{k}", b=f"l{k - 1}")
        )
        for k in range(1, _LP_ROUNDS + 1)
    )
    return f"CAST(CASE r.r {cases} END AS BIGINT) AS {name}"


@register(
    "graph_label_prop_rounds",
    oracle="WITH "
    + _LP_EDGES_SQL
    + """,
    sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
    l0 AS (SELECT DISTINCT u, u AS lbl FROM sym)"""
    + "".join(_LP_ITER_SQL.format(i=i, o=i + 1) for i in range(_LP_ROUNDS))
    + """
    SELECT r.r AS round,
    """
    + ",\n".join(
        _lp_stat_sql(name, expr)
        for name, expr in (
            (
                "n_changed",
                "count(*) FROM {a} a JOIN {b} b ON a.u = b.u AND a.lbl <> b.lbl",
            ),
            ("n_labels", "count(DISTINCT lbl) FROM {a}"),
            ("label_mass", "sum(lbl) FROM {a}"),
        )
    )
    + f"""
    FROM range(1, {_LP_ROUNDS + 1}) r(r)
    """,
)
def graph_label_prop_rounds(spark, sf_dir):
    """Label-propagation convergence trajectory — the per-round audit of
    the iterate llm_dedup_clusters runs to convergence: after each
    min-label round, how many vertices changed label, how many distinct
    labels remain, and the label mass (an order-free checksum of the
    whole labeling).  This is the table that tells an operator how many
    synchronous rounds a clustering actually needs before the
    diameter-bound kicks in — the number that sizes the iteration budget
    of every bulk-synchronous graph job.

    Spark shape: {n} fixed unrolled rounds, each one join + one
    groupBy(u) min-aggregate on the edge frame, lineage-capped per round
    (the checkpointed-iteration discipline of graph_pagerank); the
    per-round statistics are single-row aggregates over the (tiny) label
    frames, unioned with a literal round column.  The oracle unrolls the
    identical recurrence as chained CTEs."""
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
        .filter(F.expr("(src + dst) % 3 = 0"))
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
    labels = sym.select("u").distinct().withColumn("lbl", F.col("u"))
    stats = []
    for r in range(1, _LP_ROUNDS + 1):
        nbr = (
            sym.join(
                labels.select(F.col("u").alias("v"), F.col("lbl").alias("vl")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vl").alias("nbr"))
        )
        new = (
            labels.join(nbr, "u", "left")
            .select("u", F.least("lbl", F.coalesce("nbr", "lbl")).alias("lbl"))
            .transform(lineage_cap)
        )
        stats.append(
            new.alias("n")
            .join(labels.alias("o"), "u")
            .agg(
                F.lit(r).cast("long").alias("round"),
                F.sum(
                    (F.col("n.lbl") != F.col("o.lbl")).cast("long")
                ).alias("n_changed"),
                F.countDistinct("n.lbl").alias("n_labels"),
                F.sum("n.lbl").alias("label_mass"),
            )
        )
        labels = new
    out = stats[0]
    for fr in stats[1:]:
        out = out.unionByName(fr)
    return out


@register(
    "graph_component_mass",
    oracle="""
    WITH m AS (
      SELECT c.component, count(*) AS sz, sum(d.n_chars) AS chars,
             min_by(d.n_chars, d.doc_id) AS survivor_chars
      FROM (
    """
    + ORACLES["llm_dedup_clusters"]
    + """
      ) c
      JOIN documents d ON d.doc_id = c.doc_id
      GROUP BY c.component)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz - 1) AS BIGINT) AS docs_removable,
           CAST(sum(chars) AS BIGINT) AS chars_total,
           CAST(sum(chars - survivor_chars) AS BIGINT) AS chars_removable
    FROM m GROUP BY sz
    """,
)
def graph_component_mass(spark, sf_dir):
    """Near-dup component mass accounting — the deletion budget of
    keep-one-per-cluster dedup: per cluster SIZE, how many clusters exist,
    how many documents and how many characters a canonical-survivor
    policy (keep the min doc_id — llm_dedup_clusters' component id IS
    that survivor) removes.  This is the number a curation run reports
    before anyone approves the delete.

    Composes the llm_dedup_clusters labeling (same Spark body, same
    recursive-CTE oracle embedded as a derived table) with one
    broadcast-sized join back to documents for the char masses —
    survivor chars via min_by(n_chars, doc_id), exact on both engines
    because doc_id is unique."""
    from biggie_spark.ops.graph import llm_dedup_clusters

    cl = llm_dedup_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = (
        cl.join(d, "doc_id")
        .groupBy("component")
        .agg(
            F.count("*").alias("sz"),
            F.sum("n_chars").alias("chars"),
            F.min_by("n_chars", "doc_id").alias("survivor_chars"),
        )
    )
    return m.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("sz") - 1).alias("docs_removable"),
        F.sum("chars").alias("chars_total"),
        F.sum(F.col("chars") - F.col("survivor_chars")).alias(
            "chars_removable"
        ),
    )


# ---------------------------------------------------------------------------
# lakehouse: version-as-of time travel

# Delta-style commit layout: version 1 = initial load (doc_id < 300),
# version 2 = an append (doc_id >= 300) plus copy-on-write UPDATES of every
# v1 key divisible by 10 (val += 1000).  "AS OF v" = union of commit dirs
# <= v with last-writer-wins per key.
_TT_V1_MAX = 300
_TT_BUMP = 1000


@register(
    "src_scan_time_travel",
    oracle=f"""
    WITH st AS (
      SELECT 1 AS asof_v, doc_id, lang, n_chars AS val
      FROM documents WHERE doc_id < {_TT_V1_MAX}
      UNION ALL
      SELECT 2, doc_id, lang,
             CASE WHEN doc_id < {_TT_V1_MAX} AND doc_id % 10 = 0
                  THEN n_chars + {_TT_BUMP} ELSE n_chars END
      FROM documents)
    SELECT asof_v, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(val) AS BIGINT) AS sum_val
    FROM st GROUP BY asof_v, lang
    """,
)
def src_scan_time_travel(spark, sf_dir):
    """Version-as-of time travel over a delta-style persisted layout —
    the lakehouse read contract src_scan_merge_on_read's deletes and
    snk_partition_evolution's layout changes both assume: each commit is
    a ``version=N`` directory of upserts; reading "AS OF v" unions the
    commit directories <= v and resolves each key to its LATEST version
    (max_by over the version column — last-writer-wins).

    The op writes commit 1 (the initial 0..{_TT_V1_MAX} load) and commit
    2 (an append plus copy-on-write updates of every 10th v1 key),
    re-reads with an EXPLICIT schema, and RAISES unless the as-of-1 scan
    shows the version predicate inside PartitionFilters — the structural
    proof time travel reads old commits only, never the whole log.  Both
    snapshots' per-language (n_docs, sum_val) come from the re-read
    artifact; the updated keys make as-of-1 and as-of-2 differ on val
    mass, not just on the appended rows.

    Shape at 100 TB: the as-of resolve is one groupBy(doc_id) max_by —
    a single shuffle keyed on the primary key, exactly what a MERGE
    snapshot read costs; commit dirs prune before any row is read."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    v1 = d.filter(F.col("doc_id") < _TT_V1_MAX).select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("val"),
        F.lit(1).alias("version"),
    )
    v2 = (
        d.filter(F.col("doc_id") >= _TT_V1_MAX)
        .select("doc_id", "lang", F.col("n_chars").alias("val"))
        .unionByName(
            d.filter(
                (F.col("doc_id") < _TT_V1_MAX) & (F.col("doc_id") % 10 == 0)
            ).select(
                "doc_id",
                "lang",
                (F.col("n_chars") + _TT_BUMP).alias("val"),
            )
        )
        .withColumn("version", F.lit(2))
    )
    root = tempfile.mkdtemp(prefix="biggie_timetravel_")
    try:
        v1.unionByName(v2).write.mode("overwrite").partitionBy(
            "version"
        ).parquet(root)
        log = spark.read.schema(v1.schema).parquet(root)
        asof1 = log.filter(F.col("version") <= 1)
        plan = asof1._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters", 1)
        if len(pf) < 2 or "version" not in pf[1].split("]", 1)[0]:
            raise RuntimeError(
                "as-of read must partition-prune on the version directory "
                "— PartitionFilters missing from the scan plan"
            )

        def snapshot(v):
            resolved = (
                log.filter(F.col("version") <= v)
                .groupBy("doc_id")
                .agg(
                    F.max_by("val", "version").alias("val"),
                    F.max_by("lang", "version").alias("lang"),
                )
            )
            return resolved.groupBy("lang").agg(
                F.lit(v).cast("long").alias("asof_v"),
                F.count("*").alias("n_docs"),
                F.sum("val").alias("sum_val"),
            )

        return (
            snapshot(1)
            .unionByName(snapshot(2))
            .select("asof_v", "lang", "n_docs", "sum_val")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# cross-lingual curation tier

@register(
    "llm_lang_profile_divergence",
    oracle="""
    WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
    cl AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY lang, tok),
    nl AS (SELECT lang, count(*) AS n FROM t GROUP BY lang),
    cg AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    ng AS (SELECT count(*) AS n FROM t)
    SELECT cl.lang,
           CAST(min(nl.n) AS BIGINT) AS n_tokens,
           CAST(sum(abs(cl.c * ng.n - cg.c * nl.n)) * 1000000
                // (min(nl.n) * min(ng.n)) AS BIGINT) AS l1_e6,
           min_by(cl.tok,
                  -(cl.c * ng.n - cg.c * nl.n)) AS top_overrep_tok
    FROM cl JOIN nl USING (lang) JOIN cg USING (tok), ng
    GROUP BY cl.lang
    """,
)
def llm_lang_profile_divergence(spark, sf_dir):
    """Per-language token-profile divergence — the cross-lingual curation
    signal this corpus actually carries (its languages share one
    alphabet, so script histograms are flat; what differs is the token
    DISTRIBUTION): for each language, the L1 distance (e6) between its
    unigram profile and the corpus-global profile, plus the most
    over-represented token (the argmax of c_lang/n_lang - c_global/N).
    High-divergence slices are what a mixture rebalancer re-weights and
    what contamination hunts inspect first.

    Integer-exact: the per-token difference is kept as the cross-
    multiplied integer c_l*N - c_g*n_l (no float ratio exists anywhere),
    summed exactly, and divided ONCE at the end; the argmax orders by
    the same integer.  Shape: two token aggregates (per-lang and global
    profiles — both vocab-bounded), one broadcast join between them, one
    groupBy(lang).

    Corpus-size bound (ADVICE r10): the cross-multiplied intermediate
    grows as O(tokens^2) — |c_l*N - c_g*n_l| <= N^2, so int64 holds
    exactly while the total token count N < 3.0e9 (N^2 < 2^63); the
    overflow would be identical on both engines and therefore
    hash-invisible.  Past that, pre-normalize one side to fixed-point
    masses first (per-mille, the llm_mix_power_sweep pattern: c*1000
    div n per side, diff of two <=1000 integers) — the divergence then
    carries e3 precision instead of exact ratios, which is what a 100 TB
    deployment wants anyway."""
    t, f = _token_freq(spark, sf_dir)
    cl = t.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    nl = t.groupBy("lang").agg(F.count("*").alias("n"))
    ng = t.agg(F.count("*").alias("gn"))
    j = (
        cl.join(F.broadcast(f.withColumnRenamed("c", "gc")), "tok")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(ng))
        .select(
            "lang",
            "tok",
            "n",
            "gn",
            (F.col("c") * F.col("gn") - F.col("gc") * F.col("n")).alias(
                "diff"
            ),
        )
    )
    return j.groupBy("lang").agg(
        F.min("n").alias("n_tokens"),
        F.expr(
            "sum(abs(diff)) * 1000000 div (min(n) * min(gn))"
        ).alias("l1_e6"),
        F.min_by("tok", -F.col("diff")).alias("top_overrep_tok"),
    )


# Stopword set shared by the confidence gate and its streaming twin (the
# top function words of the corpus's English-like generator).  Tier cuts
# at 4%/9% per-doc density keep all three tiers populated at every SF
# (measured 125/278/97 docs at sf0.01).
_GATE_STOPS = ("the", "a", "of", "and", "to")
_GATE_LO_BP, _GATE_HI_BP = 400, 900

_GATE_SQL = f"""
    d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS tk
          FROM documents),
    s AS (SELECT doc_id, lang,
                 CAST(len(tk) AS BIGINT) AS n,
                 CAST(len(list_filter(tk, x -> x IN
                      ({",".join("'" + w + "'" for w in _GATE_STOPS)})))
                   AS BIGINT) AS ns
          FROM d),
    g AS (SELECT doc_id, lang, n, ns,
                 CAST(ns * 10000 // n AS BIGINT) AS conf_bp,
                 CAST(CASE WHEN ns * 10000 >= n * {_GATE_HI_BP} THEN 2
                           WHEN ns * 10000 >= n * {_GATE_LO_BP} THEN 1
                           ELSE 0 END AS BIGINT) AS tier
          FROM s)
"""


@register(
    "llm_lang_confidence_gate",
    oracle=f"""
    WITH {_GATE_SQL}
    SELECT lang, tier,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(conf_bp) AS BIGINT) AS min_bp,
           CAST(max(conf_bp) AS BIGINT) AS max_bp,
           CAST(sum(n) AS BIGINT) AS n_tokens
    FROM g GROUP BY lang, tier
    """,
)
def llm_lang_confidence_gate(spark, sf_dir):
    """Language-confidence gating — the keep/review/drop triage a
    multilingual ingest runs on every document: per-doc function-word
    density (basis points, the llm_lang_id signal) cut into three tiers
    (drop < {_GATE_LO_BP}bp <= review < {_GATE_HI_BP}bp <= keep), then
    per (lang, tier) the document count, the density envelope, and the
    token mass each gate decision moves.  Short documents make the
    per-doc density genuinely dispersed, so all three tiers carry real
    mass at every SF — the gate is measured, not decorative.

    Shape: one stateless per-doc projection (no explode — the density
    comes from size(filter(tokens))), one groupBy(lang, tier); both are
    single-shuffle corpus passes."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("tk")
    )
    stops = F.array(*[F.lit(w) for w in _GATE_STOPS])
    s = d.select(
        "lang",
        F.size("tk").cast("long").alias("n"),
        F.size(
            F.filter("tk", lambda x: F.array_contains(stops, x))
        )
        .cast("long")
        .alias("ns"),
    )
    g = s.select(
        "lang",
        "n",
        F.expr("ns * 10000 div n").alias("conf_bp"),
        F.expr(
            f"cast(case when ns * 10000 >= n * {_GATE_HI_BP} then 2 "
            f"when ns * 10000 >= n * {_GATE_LO_BP} then 1 "
            "else 0 end as bigint)"
        ).alias("tier"),
    )
    return g.groupBy("lang", "tier").agg(
        F.count("*").alias("n_docs"),
        F.min("conf_bp").alias("min_bp"),
        F.max("conf_bp").alias("max_bp"),
        F.sum("n").alias("n_tokens"),
    )


@register(
    "stream_lang_gate_static",
    oracle=f"""
    WITH {_GATE_SQL}
    SELECT doc_id, n AS n_tokens, ns AS n_stop, conf_bp, tier
    FROM g
    """,
)
def stream_lang_gate_static(spark, sf_dir):
    """Streaming twin of the language-confidence gate — the per-document
    decision stream an ingest pipeline emits, built STRICTLY from
    streaming-capable constructs (the stream_containment_gate_static
    discipline): one stateless projection computes the density and tier
    per incoming document — no window functions, no aggregation at all,
    so the identical plan runs under readStream in append mode (the
    cheapest streaming shape there is).  The batch oracle is the gate
    op's per-doc frame before its aggregate."""
    return _lang_gate_plan(load_table(spark, sf_dir, "documents"))


def _lang_gate_plan(docs):
    """The per-record gate plan, shared VERBATIM by the registered batch
    twin above and the live readStream drain
    (biggie_spark/streaming_demo.py demo_lang_gate_static; drain == batch
    pinned by tests/test_streaming_demo.py) — one stateless projection,
    append-safe."""
    d = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    stops = F.array(*[F.lit(w) for w in _GATE_STOPS])
    return d.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.size(F.filter("tk", lambda x: F.array_contains(stops, x)))
        .cast("long")
        .alias("n_stop"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_stop",
        F.expr("n_stop * 10000 div n_tokens").alias("conf_bp"),
        F.expr(
            f"cast(case when n_stop * 10000 >= n_tokens * {_GATE_HI_BP} "
            f"then 2 when n_stop * 10000 >= n_tokens * {_GATE_LO_BP} "
            "then 1 else 0 end as bigint)"
        ).alias("tier"),
    )


@register(
    "llm_lang_overlap_coeff",
    oracle="""
    WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
    cl AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY lang, tok),
    nl AS (SELECT lang, count(*) AS n FROM t GROUP BY lang)
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(count(*) AS BIGINT) AS shared_toks,
           CAST(sum(least(a.c * nb.n, b.c * na.n)) * 1000000
                // (min(na.n) * min(nb.n)) AS BIGINT) AS overlap_e6
    FROM cl a
    JOIN cl b ON a.tok = b.tok AND a.lang < b.lang
    JOIN nl na ON na.lang = a.lang
    JOIN nl nb ON nb.lang = b.lang
    GROUP BY a.lang, b.lang
    """,
)
def llm_lang_overlap_coeff(spark, sf_dir):
    """Pairwise language distribution overlap — sum over the shared
    vocabulary of min(p_a(tok), p_b(tok)), e6: 1e6 means the two
    languages draw tokens from identical distributions, lower means a
    mixture model can actually separate them.  The matrix a cross-lingual
    dedup or a mixture-weight solver consults before pooling languages.

    Integer-exact via cross-multiplication: min(c_a*n_b, c_b*n_a) summed
    exactly, ONE division at the end.  Shape: the per-lang profile
    aggregate shrinks the corpus to (lang x vocab) rows; the pair join is
    over that bounded profile frame keyed on tok (never over documents),
    and the lang-count frame broadcasts onto it."""
    t, _ = _token_freq(spark, sf_dir)
    cl = t.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    nl = t.groupBy("lang").agg(F.count("*").alias("n"))
    a = cl.select(
        F.col("lang").alias("lang_a"), "tok", F.col("c").alias("ca")
    )
    b = cl.select(
        F.col("lang").alias("lang_b"), "tok", F.col("c").alias("cb")
    )
    na = nl.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    nb = nl.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    return (
        a.join(b, "tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .join(F.broadcast(na), "lang_a")
        .join(F.broadcast(nb), "lang_b")
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").alias("shared_toks"),
            F.expr(
                "sum(least(ca * nb, cb * na)) * 1000000"
                " div (min(na) * min(nb))"
            ).alias("overlap_e6"),
        )
    )


# ---------------------------------------------------------------------------
# shard-assembly tier (the dataloader's other half)

_SHARDS = 16


@register(
    "llm_shard_manifest_persisted",
    oracle=f"""
    WITH s AS (SELECT doc_id,
                      CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                        AS n_tok,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           1, 4)) AS BIGINT)
                        % {_SHARDS} AS shard,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                           5, 8)) AS BIGINT) AS ord_key
               FROM documents),
    p AS (SELECT *, row_number() OVER (PARTITION BY shard
                                       ORDER BY ord_key, doc_id) AS pos
          FROM s)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum((pos % 100003) * (doc_id % 97)) AS BIGINT)
             AS order_checksum,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM p GROUP BY shard
    """,
)
def llm_shard_manifest_persisted(spark, sf_dir):
    """The full-corpus dataloader manifest — shard assembly closed
    end-to-end (VERDICT r9 item 2d, complementing the budget-selected
    llm_training_manifest_persisted): every document hash-assigned to one
    of {_SHARDS} reproducible shards, given a deterministic WITHIN-SHARD
    read order (rank by an independent slice of the same content hash —
    the shuffle-once-read-sequentially layout), and PERSISTED
    ``partitionBy(shard)`` as the directory tree a distributed dataloader
    maps workers onto.

    The op re-reads the artifact with an explicit schema, RAISES unless a
    single-shard probe (worker 3's read) shows the shard inside the
    scan's PartitionFilters, and reports per-shard stats INCLUDING an
    order-sensitive checksum sum((pos % 100003) * (doc_id % 97)) — a
    value that
    changes if the within-shard order materialized wrong, which row
    counts and token sums cannot see; both factors are reduced mod
    small primes BEFORE the product so the sum stays inside int64 at
    any shard size (a raw pos factor overflows past ~6e8 docs/shard).

    Shape at 100 TB: assignment is a pure projection; the within-shard
    rank is a window PARTITIONED BY shard (parallel across shards, never
    global); the write is dynamic-partition over {_SHARDS} dirs; a
    worker's epoch read prunes to its own directory."""
    s = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long")
            % _SHARDS
        ).alias("shard"),
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 5, 8), 16, 10)
        .cast("long")
        .alias("ord_key"),
    )
    w = Window.partitionBy("shard").orderBy("ord_key", "doc_id")
    m = s.withColumn("pos", F.row_number().over(w).cast("long"))
    root = tempfile.mkdtemp(prefix="biggie_shard_manifest_")
    try:
        m.write.mode("overwrite").partitionBy("shard").parquet(root)
        manifest = spark.read.schema(m.schema).parquet(root)
        probe = manifest.filter(F.col("shard") == 3)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters", 1)
        if len(pf) < 2 or "shard" not in pf[1].split("]", 1)[0]:
            raise RuntimeError(
                "shard-manifest worker probe must partition-prune on shard "
                "— PartitionFilters missing from the scan plan"
            )
        return (
            manifest.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("n_tokens"),
                F.sum(
                    (F.col("pos") % 100003) * (F.col("doc_id") % 97)
                ).alias("order_checksum"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


_EPOCHS = 3


@register(
    "llm_epoch_interleave",
    oracle=f"""
    WITH e AS (SELECT d.doc_id, ep.e,
                      CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                               || ':'
                                               || CAST(ep.e AS VARCHAR)),
                                           1, 4)) AS BIGINT)
                        % {_SHARDS} AS shard
               FROM documents d, range({_EPOCHS}) ep(e)),
    hist AS (SELECT e, shard, count(*) AS c FROM e GROUP BY e, shard),
    bal AS (SELECT e, CAST(max(c) AS BIGINT) AS max_shard_docs,
                   CAST(min(c) AS BIGINT) AS min_shard_docs
            FROM hist GROUP BY e),
    mv AS (SELECT a.e,
                  CAST(sum(CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END)
                    AS BIGINT) AS moved
           FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.e = a.e - 1
           GROUP BY a.e)
    SELECT bal.e AS epoch, bal.max_shard_docs, bal.min_shard_docs,
           CAST(coalesce(mv.moved, 0) AS BIGINT) AS moved_from_prev
    FROM bal LEFT JOIN mv ON mv.e = bal.e
    """,
)
def llm_epoch_interleave(spark, sf_dir):
    """Multi-epoch interleave audit — the property a training run relies
    on without ever testing: each epoch's reshuffle is DETERMINISTIC
    given (doc, epoch) yet INDEPENDENT across epochs.  Per epoch: the
    shard-balance envelope (max/min docs per shard) and the churn from
    the previous epoch (documents whose shard changed — ~15/16 of the
    corpus for an ideal {_SHARDS}-shard rehash; a churn near 0 means the
    epochs are accidentally correlated and the model sees the same
    batch neighborhoods every epoch).

    Shape: the epoch grid is a {_EPOCHS}-row literal crossed onto one
    corpus scan; churn is a self-join keyed on doc_id (one shuffle);
    balance reads the (epoch x shard) histogram — {_EPOCHS}x{_SHARDS}
    rows."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    ep = spark.range(_EPOCHS).select(F.col("id").alias("e"))
    e = d.crossJoin(F.broadcast(ep)).select(
        "doc_id",
        "e",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("e").cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % _SHARDS
        ).alias("shard"),
    )
    hist = e.groupBy("e", "shard").agg(F.count("*").alias("c"))
    bal = hist.groupBy("e").agg(
        F.max("c").alias("max_shard_docs"), F.min("c").alias("min_shard_docs")
    )
    prev = e.select(
        "doc_id", (F.col("e") + 1).alias("e"), F.col("shard").alias("pshard")
    )
    mv = (
        e.join(prev, ["doc_id", "e"])
        .groupBy("e")
        .agg(
            F.sum((F.col("shard") != F.col("pshard")).cast("long")).alias(
                "moved"
            )
        )
    )
    return (
        bal.join(mv, "e", "left")
        .select(
            F.col("e").alias("epoch"),
            "max_shard_docs",
            "min_shard_docs",
            F.coalesce("moved", F.lit(0)).cast("long").alias("moved_from_prev"),
        )
    )


# Next-fit bin packing: files = per-(source, lang) char masses, packed
# descending into bins of TARGET = total/8 — 8 bins with 4..31 files and
# fill factors straddling 100% at every SF (DuckDB validation 2026-08-15).
_PACK_BINS = 8


@register(
    "agg_bin_pack_nextfit",
    oracle=f"""
    WITH f AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS sz
               FROM documents GROUP BY source, lang),
    o AS (SELECT *, CAST(coalesce(sum(sz) OVER (
                      ORDER BY sz DESC, source, lang
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum,
                 (SELECT CAST(sum(sz) AS BIGINT) FROM f) AS tot
          FROM f),
    b AS (SELECT *, cum * {_PACK_BINS} // tot AS bin FROM o)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(sz) AS BIGINT) AS bin_bytes,
           CAST(sum(sz) * 10000 // (max(tot) // {_PACK_BINS}) AS BIGINT)
             AS fill_e4
    FROM b GROUP BY bin
    """,
)
def agg_bin_pack_nextfit(spark, sf_dir):
    """Compaction bin packing — the small-file problem's planning step:
    given a manifest of file sizes (here the per-(source, lang) char
    masses standing in for parquet footprints), assign files to
    compaction bins of target size total/{_PACK_BINS} by the
    deterministic next-fit-decreasing rule bin = floor(prefix_mass *
    {_PACK_BINS} / total).  Per bin: file count, byte mass, and the fill
    factor e4 — the table an OPTIMIZE/compaction job turns into rewrite
    tasks.

    The prefix-sum formulation makes the greedy sequential algorithm a
    PARALLEL one-window plan: no driver loop, no iterative state — the
    descending order is total (size, source, lang), so both engines pack
    identically.  The window runs over the FILE MANIFEST (catalog-sized,
    bounded by table count x partition count, not data), with the
    _GRID_BOUND in-plan guard against a regression that widens it to
    data scale."""
    from biggie_spark.ops.round9 import _grid_guarded

    f = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.sum("n_chars").alias("sz"))
    )
    w = (
        Window.partitionBy()
        .orderBy(F.desc("sz"), "source", "lang")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy()
    o = f.select(
        "sz",
        _grid_guarded(
            F.coalesce(F.sum("sz").over(w), F.lit(0)), w_all
        ).alias("cum"),
        _grid_guarded(F.sum("sz").over(w_all), w_all).alias("tot"),
    )
    b = o.select(
        "sz", "tot", F.expr(f"cum * {_PACK_BINS} div tot").alias("bin")
    )
    return b.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum("sz").alias("bin_bytes"),
        F.expr(
            f"sum(sz) * 10000 div (max(tot) div {_PACK_BINS})"
        ).alias("fill_e4"),
    )


# ---------------------------------------------------------------------------
# multimodal: ZCR blocks (WAV codec) and the box-filter pyramid (PPM codec)

@register(
    "mm_audio_zero_crossings",
    oracle="""
    WITH probe AS (SELECT v AS doc_id FROM range(64) p(v)),
    t AS (SELECT doc_id, tt.t,
                 CAST(((doc_id * 31 + tt.t) * 2654435761) % 65536 - 32768
                   AS BIGINT) AS x
          FROM probe, range(64) tt(t)),
    l AS (SELECT doc_id, t, x,
                 lag(x) OVER (PARTITION BY doc_id ORDER BY t) AS px
          FROM t)
    SELECT doc_id, t // 16 AS block,
           CAST(sum(CASE WHEN px IS NOT NULL AND x * px < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS zc,
           CAST(sum(abs(x)) AS BIGINT) AS sum_abs
    FROM l GROUP BY doc_id, block
    """,
)
def mm_audio_zero_crossings(spark, sf_dir):
    """Zero-crossing-rate blocks through the REAL WAV codec — the
    classic cheap voiced/unvoiced + percussive-content signal, and the
    only standard audio feature that is EXACT integer arithmetic end to
    end (a sign test on consecutive int16 samples, no transform): per
    16-sample block, the count of strict sign flips (x_t * x_{t-1} < 0,
    the boundary pair crossing blocks charged to the later block) and
    the block's absolute amplitude mass.

    The kernel is the mm_audio_chroma discipline: synthesize the
    deterministic int16 PCM, encode to RIFF/WAVE bytes, decode back
    through the container parser (wav_samples), and compute per-block
    integers in one Arrow-batched pandas_udf over the bounded 64-doc
    probe — 1:4 fan-out on explode, never row-at-a-time Python.  The
    oracle reproduces the closed-form waveform and the lag/sign test in
    pure SQL.  Cites mm_audio_chroma (round9.py) for the shared codec
    loop."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import demo_pcm, encode_wav, wav_samples

    @pandas_udf("binary")
    def encode_udf(doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [encode_wav(demo_pcm(d).astype("<i2")) for d in doc_id]
        )

    @pandas_udf("struct<zc array<bigint>, sa array<bigint>>")
    def zcr_udf(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for b in payload:
            x = wav_samples(bytes(b))
            prod = x[1:] * x[:-1]  # pair t-1,t at index t-1; |x|<2^15 safe
            zc, sa = [], []
            for blk in range(4):
                lo = blk * 16
                ts = np.arange(max(lo, 1), lo + 16)
                zc.append(int(np.sum(prod[ts - 1] < 0)))
                sa.append(int(np.abs(x[lo : lo + 16]).sum()))
            rows.append({"zc": zc, "sa": sa})
        return pd.DataFrame(rows)

    probe = spark.range(64).select(F.col("id").alias("doc_id"))
    enc = probe.select("doc_id", encode_udf("doc_id").alias("wav"))
    feats = enc.select("doc_id", zcr_udf("wav").alias("f"))
    return feats.select(
        "doc_id",
        F.posexplode(F.arrays_zip(F.col("f.zc"), F.col("f.sa"))).alias(
            "block", "z"
        ),
    ).select(
        "doc_id",
        F.col("block").cast("long").alias("block"),
        F.col("z.zc").alias("zc"),
        F.col("z.sa").alias("sum_abs"),
    )


@register(
    "mm_image_downsample_pyramid",
    oracle="""
    WITH probe AS (SELECT doc_id,
                          16 + doc_id % 8 AS w,
                          8 AS h,
                          doc_id % 60 + 10 AS b
                   FROM documents WHERE doc_id < 64),
    lv AS (SELECT doc_id, w, h, b, l.lvl, 1 << l.lvl AS p
           FROM probe, range(3) l(lvl))
    SELECT doc_id, CAST(lvl AS BIGINT) AS level,
           CAST(w // p AS BIGINT) AS level_w,
           CAST(h // p AS BIGINT) AS level_h,
           CAST(3 * ((w // p) * (h // p) * (b + p - 1)
                + p * ((h // p) * ((w // p) * ((w // p) - 1) // 2)
                       + (w // p) * ((h // p) * ((h // p) - 1) // 2)))
             AS BIGINT) AS px_sum
    FROM lv
    """,
)
def mm_image_downsample_pyramid(spark, sf_dir):
    """2x2 box-filter image pyramid through the REAL PPM codec — the
    multi-resolution decode path a vision-data pipeline runs before
    patching/thumbnailing: decode the P6 payload, build levels 1 and 2
    by averaging disjoint 2x2 blocks with integer floor division
    (odd trailing rows/columns truncated, the standard pyramid rule),
    and report each level's dimensions and summed pixel mass.

    The synthetic gradient (pixel = base + x + y) makes every level's
    mean EXACT (each 2x2 block sums to 4*base' + 4, so //4 loses
    nothing) and gives the oracle a closed form: level-k pixel =
    base + 2^k*(X+Y) + (2^k - 1), verified against the direct numpy
    box filter over the full (w, h, base, level) domain before
    registration.  Kernel: one Arrow-batched pandas_udf over the
    64-image probe, emitting the 3-level struct; the decode walks the
    actual netpbm header grammar (decode_ppm's parser)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_ppm

    def _ppm_pixels(payload: bytes):
        # netpbm P6 grammar: token stream with '#' comments to EOL
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
        w, h, _ = toks
        px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        return px.reshape(h, w, 3).astype(np.int64)

    @pandas_udf(
        "array<struct<level bigint, level_w bigint, level_h bigint,"
        " px_sum bigint>>"
    )
    def pyramid_udf(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            w, h, b = 16 + int(d) % 8, 8, int(d) % 60 + 10
            px = _ppm_pixels(encode_ppm(w, h, (b, b, b)))
            levels = []
            for lvl in range(3):
                hh, ww = px.shape[0], px.shape[1]
                levels.append(
                    {
                        "level": lvl,
                        "level_w": ww,
                        "level_h": hh,
                        "px_sum": int(px.sum()),
                    }
                )
                if lvl < 2:
                    h2, w2 = hh // 2, ww // 2
                    t = px[: 2 * h2, : 2 * w2]
                    px = (
                        t[0::2, 0::2]
                        + t[1::2, 0::2]
                        + t[0::2, 1::2]
                        + t[1::2, 1::2]
                    ) // 4
            out.append(levels)
        return pd.Series(out)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    return probe.select(
        "doc_id", F.explode(pyramid_udf("doc_id")).alias("l")
    ).select("doc_id", "l.level", "l.level_w", "l.level_h", "l.px_sum")


# ---------------------------------------------------------------------------
# stats: Gini-Simpson diversity

@register(
    "agg_simpson_diversity",
    oracle="""
    WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
               FROM documents GROUP BY source, lang),
    n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(c * c) AS BIGINT) AS ss
          FROM c GROUP BY source)
    SELECT source, n AS n_docs,
           CAST((n * n - ss) * 1000000 // (n * n) AS BIGINT)
             AS gini_simpson_e6,
           CAST(n * n * 1000 // ss AS BIGINT) AS effective_langs_e3
    FROM n
    """,
)
def agg_simpson_diversity(spark, sf_dir):
    """Gini-Simpson diversity of the language mix per source — the
    dataset-card number that summarizes "how multilingual is this
    slice": 1 - sum(p_i^2) as an e6 integer (0 = monolingual, ->1 =
    uniform over many languages), plus the inverse-Simpson effective
    category count e3 (n^2/sum(c^2) — "this source behaves like 3.7
    languages").  Unlike Shannon entropy this is EXACT integer
    arithmetic from the counts — no log anywhere — which is why it is
    the diversity index this engine's determinism conventions prefer.

    Shape: one groupBy(source, lang) then one groupBy(source) — two
    partial-aggregate shuffles over ever-smaller frames."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
    )
    n = c.groupBy("source").agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.col("c")).alias("ss")
    )
    return n.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("(n * n - ss) * 1000000 div (n * n)").alias(
            "gini_simpson_e6"
        ),
        F.expr("n * n * 1000 div ss").alias("effective_langs_e3"),
    )

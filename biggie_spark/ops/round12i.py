"""Round-12 tranche, wave I — built during round 11 from the
pre-validated round-13 backlog (tools/backlog_r13.md).

Families:

* forecast evaluation — pinball (quantile) loss of the exact
  tau-quantile predictor on a tau grid (the metric quantile forecasts
  are scored with; the constant-quantile predictor is the baseline
  every real model must beat).
* graph — bounded Katz centrality (walk counts attenuated by beta=1/2
  per hop, integer-exact via `div 2^l` — the walk-based prestige score
  between degree centrality and PageRank).
* sharding — consistent-hash ring rebalance accounting (4 -> 5 nodes:
  the measured moved-key share that justifies consistent hashing over
  mod-N, plus per-node load balance before/after).

Spreads validated in DuckDB at sf{0.001,0.01,0.1} (tools/backlog_r13.md
rows, promoted here).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import lineage_cap

# ---------------------------------------------------------------------------
# forecast evaluation: pinball loss grid

_PB_TAUS = (25, 50, 90)  # percent


@register(
    "agg_pinball_loss_grid",
    oracle=f"""
    WITH e AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS y
               FROM events),
    rk AS (SELECT y, row_number() OVER (ORDER BY y) AS rn,
                  count(*) OVER () AS n
           FROM e),
    g AS (SELECT unnest([{",".join(map(str, _PB_TAUS))}]) AS tau),
    q AS (SELECT g.tau, min(y) AS qv
          FROM g JOIN rk ON rk.rn >= (g.tau * rk.n + 99) // 100
          GROUP BY g.tau)
    SELECT CAST(q.tau AS BIGINT) AS tau_pct,
           CAST(q.qv AS BIGINT) AS quantile_cents,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(CASE WHEN e.y >= q.qv THEN q.tau * (e.y - q.qv)
                         ELSE (q.tau - 100) * (e.y - q.qv) END)
                // count(*) AS BIGINT) AS pinball_c100
    FROM e, q GROUP BY q.tau, q.qv
    """,
)
def agg_pinball_loss_grid(spark, sf_dir):
    """Pinball (quantile) loss grid — the scoring rule for quantile
    forecasts (what SLO-latency and demand-forecast evals optimize;
    a forecast's tau-quantile minimizes expected pinball loss at tau,
    so the CONSTANT exact-quantile predictor evaluated here is the
    baseline any conditional model must beat): at tau {25, 50, 90},
    the exact ceil-rank quantile of event cents and the mean pinball
    loss in c100 units (tau expressed in percent, so the loss is
    100x the conventional scale — integer-exact, no float rates).
    Measured: the loss curve peaks at the median (170735 c100) and
    falls toward the tails (106287 at tau=90) — the textbook pinball
    asymmetry shape, varying by tau and SF.

    Shape: one global rank window for the three quantiles (top-k
    class), a 3-row grid crossed onto one conditional aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("y")
    )
    rk = e.select(
        "y",
        F.row_number().over(Window.orderBy("y")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    g = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _PB_TAUS])).alias("tau")
    )
    q = (
        rk.crossJoin(F.broadcast(g))
        .filter(F.col("rn") >= F.expr("(tau * n + 99) div 100"))
        .groupBy("tau")
        .agg(F.min("y").alias("qv"))
    )
    return (
        e.crossJoin(F.broadcast(q))
        .groupBy("tau", "qv")
        .agg(
            F.count("*").alias("n_obs"),
            F.expr(
                "sum(case when y >= qv then tau * (y - qv)"
                " else (tau - 100) * (y - qv) end) div count(*)"
            ).alias("pinball_c100"),
        )
        .select(
            F.col("tau").cast("long").alias("tau_pct"),
            F.col("qv").alias("quantile_cents"),
            "n_obs",
            "pinball_c100",
        )
    )


# ---------------------------------------------------------------------------
# graph: bounded Katz centrality

_KZ_N = 500
_KZ_HOPS = 4


@register(
    "graph_katz_bounded",
    oracle=f"""
    WITH RECURSIVE nodes AS (SELECT doc_id AS v FROM documents
                             WHERE doc_id < {_KZ_N}),
    e AS (
      SELECT v AS src, (v * 2 + 1) % {_KZ_N} AS dst FROM nodes
      UNION ALL SELECT v, (v * 3 + 7) % {_KZ_N} FROM nodes
      UNION ALL SELECT v, (v * v + 3) % {_KZ_N} FROM nodes),
    sym AS (SELECT DISTINCT src, dst FROM (
              SELECT src, dst FROM e WHERE src <> dst
              UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
    wk(l, v, w) AS (
      SELECT 1, src, CAST(count(*) AS BIGINT) FROM sym GROUP BY src
      UNION ALL
      SELECT l + 1, s.src, CAST(sum(wk.w) AS BIGINT)
      FROM wk JOIN sym s ON s.dst = wk.v
      WHERE l < {_KZ_HOPS} GROUP BY l + 1, s.src),
    katz AS (SELECT v,
                    CAST(sum(w * 1000000 // (1 << l)) AS BIGINT) AS katz_e6,
                    CAST(max(CASE WHEN l = {_KZ_HOPS} THEN w END) AS BIGINT)
                      AS walks_h{_KZ_HOPS}
             FROM wk GROUP BY v)
    SELECT v, katz_e6, walks_h{_KZ_HOPS}
    FROM katz ORDER BY katz_e6 DESC, v LIMIT 25
    """,
)
def graph_katz_bounded(spark, sf_dir):
    """Bounded Katz centrality — the walk-based prestige score between
    degree (1-hop) and PageRank (stationary): every walk of length l
    from a node contributes beta^l with beta = 1/2, truncated at 4 hops
    — in EXACT integers (walk counts are integers; the attenuation is
    `w * 1e6 div 2^l`, so both engines agree bit-for-bit where
    PageRank's float damping needed the e12 flooring convention).
    Top-25 nodes with the 4-hop walk count; measured 450 distinct
    scores over 500 nodes spanning 6.7e7..7.6e8 — the quadratic
    generator's hubs lead, but NOT in pure degree order (walk structure
    reranks them vs the degree distribution; that rerank is Katz's
    point).

    Shape: 4 frontier aggregations counting WALKS (sum, not min — the
    complement of the harmonic op's distance BFS), each a bounded
    |V|-row frame; lazy fixed-iteration loop.  Int64 bound: walk counts
    grow ~(max degree)^4 — 16^4 ~ 6.5e4 here; a graph with degree ~1e4
    needs the e6 rescale at hop 4 (documented, the markov-stationary
    lesson)."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _KZ_N)
        .select(F.col("doc_id").alias("v"))
    )
    e = (
        nodes.select("v", ((F.col("v") * 2 + 1) % _KZ_N).alias("dst"))
        .unionAll(nodes.select("v", ((F.col("v") * 3 + 7) % _KZ_N).alias("dst")))
        .unionAll(
            nodes.select("v", ((F.col("v") * F.col("v") + 3) % _KZ_N).alias("dst"))
        )
        .select(F.col("v").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    sym = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .transform(lineage_cap)
    )
    levels = []
    cur = sym.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("w")
    )
    levels.append(cur.select("v", F.lit(1).alias("l"), "w"))
    for l in range(2, _KZ_HOPS + 1):
        cur = (
            sym.join(cur.withColumnRenamed("v", "dst"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("w").alias("w"))
        )
        levels.append(cur.select("v", F.lit(l).alias("l"), "w"))
    u = levels[0]
    for fr in levels[1:]:
        u = u.unionByName(fr)
    katz = u.groupBy("v").agg(
        F.expr("sum(w * 1000000 div (1 << l))").alias("katz_e6"),
        F.max(
            F.when(F.col("l") == _KZ_HOPS, F.col("w"))
        ).alias(f"walks_h{_KZ_HOPS}"),
    )
    return (
        katz.orderBy(F.col("katz_e6").desc(), "v")
        .limit(25)
        .select("v", "katz_e6", f"walks_h{_KZ_HOPS}")
    )


# ---------------------------------------------------------------------------
# sharding: consistent-hash ring rebalance accounting

_CH_BEFORE = 4
_CH_AFTER = 5


def _ring_assign_sql(nodes_cte: str) -> str:
    """Clockwise-successor assignment on the md5 ring (wraparound to the
    lowest node position when no node is at-or-after the key)."""
    return f"""
      SELECT k.doc_id,
             coalesce(min(n.nid) FILTER (n.npos >= k.pos),
                      (SELECT nid FROM {nodes_cte} ORDER BY npos LIMIT 1))
               AS owner
      FROM k, {nodes_cte} n GROUP BY k.doc_id, k.pos
    """


@register(
    "fn_consistent_hash_ring",
    oracle=f"""
    WITH k AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                            1, 12)) AS BIGINT) AS pos
               FROM documents),
    n4 AS (SELECT nid, CAST(('0x' || substr(md5('node' ||
                CAST(nid AS VARCHAR)), 1, 12)) AS BIGINT) AS npos
           FROM (SELECT unnest([0, 1, 2, 3]) AS nid)),
    n5 AS (SELECT nid, CAST(('0x' || substr(md5('node' ||
                CAST(nid AS VARCHAR)), 1, 12)) AS BIGINT) AS npos
           FROM (SELECT unnest([0, 1, 2, 3, 4]) AS nid)),
    a4 AS ({_ring_assign_sql("n4")}),
    a5 AS ({_ring_assign_sql("n5")})
    SELECT CAST(a5.owner AS BIGINT) AS node_after,
           CAST(count(*) AS BIGINT) AS n_keys_after,
           CAST(sum(CASE WHEN a4.owner <> a5.owner THEN 1 ELSE 0 END)
             AS BIGINT) AS n_moved_in,
           CAST(sum(CASE WHEN a4.owner <> a5.owner THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS moved_share_e4
    FROM a4 JOIN a5 USING (doc_id)
    GROUP BY a5.owner
    """,
)
def fn_consistent_hash_ring(spark, sf_dir):
    """Consistent-hash ring rebalance — THE sharding primitive's selling
    point, measured: adding a 5th node to a 4-node md5 ring moves only
    ~14.8% of keys (all of them INTO the new node — existing nodes
    never exchange keys with each other, the consistent-hashing
    invariant; mod-N would have moved 80%).  Per after-node: its key
    load and how many keys migrated in; the moved_share_e4 column is 0
    for every surviving node and 10000 for the new one — that 0/10000
    split IS the invariant, value-pinned.  Keys and nodes hash to
    48-bit md5 ring positions; assignment is the clockwise successor
    with wraparound (min-over-filter, no UDF).

    Shape: the node tables are literal (4 and 5 rows, broadcast); each
    assignment is one aggregate over keys x nodes (a bounded-literal
    nested loop — the ring lookup every shard router runs); the
    before/after diff is one doc_id equi-join."""
    k = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "cast(conv(substring(md5(cast(doc_id as string)), 1, 12),"
            " 16, 10) as bigint)"
        ).alias("pos"),
    )

    def nodes(n: int):
        return spark.range(n).select(
            F.col("id").cast("long").alias("nid"),
            F.expr(
                "cast(conv(substring(md5(concat('node',"
                " cast(id as string))), 1, 12), 16, 10) as bigint)"
            ).alias("npos"),
        )

    def assign(nframe):
        lowest = nframe.orderBy("npos").limit(1).select(
            F.col("nid").alias("wrap_nid")
        )
        succ = (
            k.crossJoin(F.broadcast(nframe))
            .filter(F.col("npos") >= F.col("pos"))
            .groupBy("doc_id")
            .agg(F.min("nid").alias("succ_nid"))
        )
        return (
            k.join(succ, "doc_id", "left")
            .crossJoin(F.broadcast(lowest))
            .select(
                "doc_id",
                F.coalesce("succ_nid", "wrap_nid").alias("owner"),
            )
        )

    a4 = assign(nodes(_CH_BEFORE)).withColumnRenamed("owner", "owner4")
    a5 = assign(nodes(_CH_AFTER)).withColumnRenamed("owner", "owner5")
    return (
        a4.join(a5, "doc_id")
        .groupBy(F.col("owner5").alias("node_after"))
        .agg(
            F.count("*").alias("n_keys_after"),
            F.sum(
                F.when(F.col("owner4") != F.col("owner5"), 1).otherwise(0)
            ).alias("n_moved_in"),
            F.expr(
                "sum(case when owner4 <> owner5 then 1 else 0 end)"
                " * 10000 div count(*)"
            ).alias("moved_share_e4"),
        )
    )

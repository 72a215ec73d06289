"""Round-8 additions: the data-selection / governance layer of a training
pipeline — duplicate-aware sampling weights, coreset selection, diversified
retrieval, SFT chat templating, a k-anonymity audit, the streaming
containment gate, and the classic skyline operator.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.ops.graph import llm_dedup_clusters
from biggie_spark.ops.ivf import _sq_dist
from biggie_spark.ops.llm import DUCK_SHINGLE_EDGES, _docs, _emb
from biggie_spark.registry import register
from biggie_spark.util import cosine, lineage_cap, tokens

# ---------------------------------------------------------------------------
# duplicate-aware sampling weights (SemDeDup / D4-style downweighting)


@register(
    "llm_dedup_downweight",
    oracle="WITH RECURSIVE "
    + DUCK_SHINGLE_EDGES
    + """,
    sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM edges
            UNION SELECT doc_b, doc_a FROM edges),
    walk(u, lbl) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym) s
        UNION
        SELECT s.u, w.lbl FROM sym s JOIN walk w ON w.u = s.v
    ),
    comp AS (SELECT u AS doc_id, min(lbl) AS component FROM walk GROUP BY u),
    siz AS (SELECT component, count(*) AS cs FROM comp GROUP BY component)
    SELECT d.doc_id,
           CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS component,
           CAST(coalesce(s.cs, 1) AS BIGINT) AS cluster_size,
           CAST(1000000 // coalesce(s.cs, 1) AS BIGINT) AS weight_e6
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    LEFT JOIN siz s ON s.component = c.component
    """,
)
def llm_dedup_downweight(spark, sf_dir):
    """Duplicate-aware per-document sampling weight (the SemDeDup / D4
    move): instead of DROPPING near-duplicates, each document is weighted
    1/|cluster| so every near-dup cluster contributes one document's worth
    of probability mass to the training mix.  Singletons keep weight 1.

    Weights are e6-scaled integer division of the cluster size
    (`1000000 div cs`), so both engines emit identical BIGINTs.  The
    cluster labels come from the shared min-label-propagation components
    over the verified shingle-Jaccard near-dup edges (`llm_dedup_clusters`
    — linear candidate generation, no pairwise term); computing sizes and
    weights adds one groupBy on the component id (tiny: only clustered
    docs appear) and one broadcast-sized left join back to the corpus.
    At 100 TB the label frame is a small fraction of the corpus (only
    docs with at least one near-dup edge), so the join's build side stays
    far below the corpus scan it annotates."""
    labels = llm_dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("cs"))
    lab = labels.join(F.broadcast(sizes), "component")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.join(F.broadcast(lab), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("long")
        .alias("component"),
        F.coalesce(F.col("cs"), F.lit(1)).cast("long").alias("cluster_size"),
        F.expr("1000000 div coalesce(cs, 1)").cast("long").alias("weight_e6"),
    )


# ---------------------------------------------------------------------------
# greedy k-center coreset selection over embeddings

_KC_K = 6  # selections; unrolled verbatim in the oracle

_DUCK_SQD = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " s -> (s[1] - s[2]) * (s[1] - s[2])), 'sum')"
)


def _kc_sql() -> str:
    """Unrolled greedy k-center oracle: state s{i} carries the e6-quantized
    min squared distance to the selected set; f{i+1} is the argmax row
    (ties by vec_id — the same deterministic ordering Spark uses)."""
    sqd0 = _DUCK_SQD.format(a="e.a", b="(SELECT a FROM e WHERE vec_id = 0)")
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS a FROM embeddings),",
        f"s0 AS (SELECT vec_id, a, CAST(round({sqd0} * 1000000, 0) AS BIGINT)"
        " AS dmin FROM e),",
    ]
    for i in range(1, _KC_K):
        sqd = _DUCK_SQD.format(a="s.a", b="f.a")
        parts.append(
            f"f{i} AS (SELECT vec_id, a, dmin FROM s{i - 1}"
            f" ORDER BY dmin DESC, vec_id LIMIT 1),"
        )
        parts.append(
            f"s{i} AS (SELECT s.vec_id, s.a,"
            f" least(s.dmin, CAST(round({sqd} * 1000000, 0) AS BIGINT)) AS dmin"
            f" FROM s{i - 1} s CROSS JOIN f{i} f),"
        )
    parts[-1] = parts[-1].rstrip(",")
    sel = [
        "SELECT CAST(0 AS BIGINT) AS sel, CAST(0 AS BIGINT) AS center_id,"
        " CAST(0 AS BIGINT) AS radius_e6"
    ]
    for i in range(1, _KC_K):
        sel.append(
            f"SELECT CAST({i} AS BIGINT), CAST(vec_id AS BIGINT), dmin FROM f{i}"
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL ".join(sel)


@register("llm_kcenter_coreset", oracle=_kc_sql())
def llm_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset selection over the embedding corpus — the
    classic 2-approximation for maximum-coverage data selection (pick the
    point FARTHEST from everything selected so far, repeat).  Returns the
    selection order, the chosen vector id, and the coverage radius at the
    moment of selection (the corpus max-min distance the pick resolved) —
    radius_e6 is monotonically the k-center objective curve, the number a
    data-selection run reports to justify its budget.

    Distances are e6-quantized squared L2 BIGINTs the moment they are
    computed, so the ITERATIVE state (running min per point) and the
    argmax selection are integer-exact and engine-portable — a float
    argmax could diverge discretely on ties, an integer argmax with a
    vec_id tie-break cannot.

    Scale shape: K passes over the corpus, each pass one broadcast of a
    SINGLE selected row (crossJoin of a 1-row frame — bounded by
    construction) + a corpus-local least(); the argmax is
    TakeOrderedAndProject (never a full sort), and the running-min state
    rides a lineage_cap so plan depth stays O(1) in K.  The driver never
    holds per-point state; K is a constant.  This is the same shape
    FAISS-style k-center sharding uses at cluster scale."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")

    def de6(a, b):
        return F.round(_sq_dist(a, b) * 1000000, 0).cast("long")

    c0 = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("cvec"))
    state = (
        e.crossJoin(F.broadcast(c0))
        .select(
            "vec_id",
            "embedding",
            de6(F.col("embedding"), F.col("cvec")).alias("dmin"),
        )
        .transform(lineage_cap)
    )
    picks = [
        state.sparkSession.range(1).select(
            F.lit(0).cast("long").alias("sel"),
            F.lit(0).cast("long").alias("center_id"),
            F.lit(0).cast("long").alias("radius_e6"),
        )
    ]
    for i in range(1, _KC_K):
        far = (
            state.orderBy(F.col("dmin").desc(), "vec_id").limit(1).transform(lineage_cap)
        )
        picks.append(
            far.select(
                F.lit(i).cast("long").alias("sel"),
                F.col("vec_id").cast("long").alias("center_id"),
                F.col("dmin").alias("radius_e6"),
            )
        )
        state = (
            state.crossJoin(F.broadcast(far.select(F.col("embedding").alias("cvec"))))
            .select(
                "vec_id",
                "embedding",
                F.least(
                    F.col("dmin"), de6(F.col("embedding"), F.col("cvec"))
                ).alias("dmin"),
            )
            .transform(lineage_cap)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# MMR diversified top-k retrieval re-ranking

_MMR_POOL = 20  # relevance-ranked candidate pool fed to the re-ranker
_MMR_K = 5  # diversified selections
_MMR_LAM10 = 7  # lambda = 0.7 in tenths: score = (7*rel - 3*maxsim) div 10


def _mmr_sql() -> str:
    """Unrolled MMR oracle: pool = cosine top-20 for probe vec 0, then K-1
    greedy rounds each picking argmax((7*rel - 3*max_sim_to_selected)/10)
    over the not-yet-selected pool, integer e6 arithmetic throughout."""
    cos = "CAST(round(list_cosine_similarity({a}, {b}) * 1000000, 0) AS BIGINT)"
    rel = cos.format(a="e.a", b="(SELECT a FROM e WHERE vec_id = 0)")
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS a FROM embeddings),",
        f"pool AS (SELECT vec_id, a, {rel} AS rel FROM e WHERE vec_id <> 0"
        f" ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),",
        "ps AS (SELECT x.vec_id AS i, y.vec_id AS j, "
        + cos.format(a="x.a", b="y.a")
        + " AS s FROM pool x JOIN pool y ON x.vec_id <> y.vec_id),",
        "g1 AS (SELECT vec_id, rel, rel AS score FROM pool"
        " ORDER BY rel DESC, vec_id LIMIT 1),",
        "sel1 AS (SELECT vec_id, rel, score, 1 AS sel FROM g1),",
    ]
    for i in range(2, _MMR_K + 1):
        parts.append(
            f"c{i} AS (SELECT p.vec_id, p.rel,"
            f" ({_MMR_LAM10} * p.rel - {10 - _MMR_LAM10} * max(ps.s)) // 10"
            f" AS score"
            f" FROM pool p JOIN ps ON ps.i = p.vec_id"
            f" JOIN sel{i - 1} v ON v.vec_id = ps.j"
            f" WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})"
            f" GROUP BY p.vec_id, p.rel),"
        )
        parts.append(
            f"g{i} AS (SELECT vec_id, rel, score FROM c{i}"
            f" ORDER BY score DESC, vec_id LIMIT 1),"
        )
        parts.append(
            f"sel{i} AS (SELECT vec_id, rel, score, sel FROM sel{i - 1}"
            f" UNION ALL SELECT vec_id, rel, score, {i} FROM g{i}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts) + (
        f"\nSELECT CAST(sel AS BIGINT) AS sel, CAST(vec_id AS BIGINT) AS vec_id,"
        f" rel AS rel_e6, score AS mmr_e6 FROM sel{_MMR_K}"
    )


@register("llm_mmr_diverse_topk", oracle=_mmr_sql())
def llm_mmr_diverse_topk(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    diversify a retrieval result by greedily picking
    argmax(lambda*relevance - (1-lambda)*max-similarity-to-selected) from a
    relevance-ranked candidate pool — the standard fix for near-duplicate
    clutter in RAG retrieval, and the quality-side complement of the ANN
    family (`llm_knn_*` rank by relevance alone).

    lambda = 0.7 in integer tenths; relevance and pairwise similarity are
    e6-quantized cosines, the greedy score is `(7*rel - 3*maxsim) div 10`
    — all-BIGINT so the K selection argmaxes are engine-exact under the
    vec_id tie-break.

    Scale shape: ONE corpus pass computes the relevance pool
    (TakeOrderedAndProject top-20 — never a full sort); everything after
    operates on the bounded 20-row pool (pairwise sims = 20x19 rows, K
    greedy rounds of tiny joins), so re-rank cost is O(pool^2)
    independent of corpus size — broadcast frames throughout, bounded by
    the _MMR_POOL constant."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    ce6 = lambda a, b: F.round(cosine(a, b) * 1000000, 0).cast("long")  # noqa: E731
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("pa"))
    pool = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", "embedding", ce6(F.col("embedding"), F.col("pa")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .transform(lineage_cap)
    )
    ps = (
        pool.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ia"))
        .join(
            F.broadcast(
                pool.select(F.col("vec_id").alias("j"), F.col("embedding").alias("ja"))
            ),
            F.col("i") != F.col("j"),
        )
        .select("i", "j", ce6(F.col("ia"), F.col("ja")).alias("s"))
        .transform(lineage_cap)
    )
    sel = (
        pool.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id", "rel", F.col("rel").alias("score"), F.lit(1).alias("sel")
        )
        .transform(lineage_cap)
    )
    for i in range(2, _MMR_K + 1):
        cand = (
            pool.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(ps, F.col("vec_id") == F.col("i"))
            .join(
                sel.select(F.col("vec_id").alias("j")).withColumnRenamed("j", "jj"),
                F.col("j") == F.col("jj"),
            )
            .groupBy("vec_id", "rel")
            .agg(
                F.expr(
                    f"({_MMR_LAM10} * rel - {10 - _MMR_LAM10} * max(s)) div 10"
                ).alias("score")
            )
        )
        nxt = cand.orderBy(F.col("score").desc(), "vec_id").limit(1)
        sel = sel.unionByName(
            nxt.select("vec_id", "rel", "score", F.lit(i).alias("sel"))
        ).transform(lineage_cap)
    return sel.select(
        F.col("sel").cast("long").alias("sel"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("rel").alias("rel_e6"),
        F.col("score").alias("mmr_e6"),
    )


# ---------------------------------------------------------------------------
# SFT chat templating with loss-mask accounting


@register(
    "llm_chat_template",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id // 4 AS conv_id,
             CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             text,
             len(string_split(lower(text), ' ')) AS n_tok
      FROM documents),
    p AS (
      SELECT conv_id, doc_id, role, n_tok,
             '<|' || role || '|>' || chr(10) || text || chr(10) || '<|end|>'
               AS piece
      FROM t)
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(count(*) FILTER (role = 'user') AS BIGINT) AS n_user_turns,
           CAST(sum(n_tok) FILTER (role = 'user') AS BIGINT) AS prompt_tokens,
           CAST(coalesce(sum(n_tok) FILTER (role = 'assistant'), 0) AS BIGINT)
             AS completion_tokens,
           CAST(coalesce(sum(n_tok) FILTER (role = 'assistant'), 0) * 10000
                // sum(n_tok) AS BIGINT) AS loss_frac_e4,
           CAST(sum(length(piece)) + count(*) - 1 AS BIGINT) AS rendered_len,
           md5(string_agg(piece, chr(10) ORDER BY doc_id)) AS rendered_md5
    FROM p GROUP BY conv_id
    """,
)
def llm_chat_template(spark, sf_dir):
    """SFT chat-template rendering with loss-mask accounting: documents are
    grouped into synthetic conversations (4 consecutive doc_ids; roles
    alternate user/assistant by parity), each turn renders as
    ``<|role|>\\n text \\n<|end|>`` and the conversation concatenates turns
    in doc_id order, newline-separated.  Per conversation the op reports
    turn counts, prompt vs completion token totals (whitespace tokens),
    the e4-scaled fraction of tokens that RECEIVE LOSS (assistant turns —
    the mask an SFT trainer applies), the rendered length, and the md5 of
    the full rendered string, which pins the template byte-for-byte
    cross-engine.

    The render must be deterministic under distribution: turn order comes
    from sort_array over collected (doc_id, piece) structs, never from
    partition arrival order.  One shuffle on conv_id; conversations are
    bounded (4 turns), so the collected struct list is O(1) per group —
    the same bound a real SFT packer relies on (conversations fit in
    memory; corpora don't)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") / 4).cast("long").alias("conv_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
        F.size(tokens("text")).alias("n_tok"),
    ).withColumn(
        "piece",
        F.concat(
            F.lit("<|"),
            F.col("role"),
            F.lit("|>\n"),
            F.col("text"),
            F.lit("\n<|end|>"),
        ),
    )
    return (
        t.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias(
                "n_user_turns"
            ),
            F.sum(F.when(F.col("role") == "user", F.col("n_tok"))).alias(
                "prompt_tokens"
            ),
            F.coalesce(
                F.sum(F.when(F.col("role") == "assistant", F.col("n_tok"))),
                F.lit(0),
            ).alias("completion_tokens"),
            F.sum("n_tok").alias("tot_tok"),
            F.sum(F.length("piece")).alias("piece_len"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "piece"))),
                    lambda s: s["piece"],
                ),
                "\n",
            ).alias("rendered"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_user_turns",
            "prompt_tokens",
            "completion_tokens",
            F.expr("completion_tokens * 10000 div tot_tok").alias("loss_frac_e4"),
            (F.col("piece_len") + F.col("n_turns") - 1)
            .cast("long")
            .alias("rendered_len"),
            F.md5("rendered").alias("rendered_md5"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit

_KANON_K = 10


@register(
    "agg_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS class_size,
           CAST(CASE WHEN count(*) < {_KANON_K} THEN 1 ELSE 0 END AS BIGINT)
             AS at_risk,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                AS BIGINT) AS l_diversity
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
)
def agg_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit over quasi-identifiers — the
    privacy gate a dataset release runs before publishing: group rows by
    the quasi-identifier tuple (nation, market segment), flag equivalence
    classes smaller than k=10 (those rows are re-identifiable and must be
    suppressed or generalized), and report each class's l-diversity (the
    count of distinct sensitive-attribute buckets — account-balance
    thousands — inside the class; a k-anonymous class with l=1 still
    leaks the sensitive value).

    Shape at scale: ONE partial+final hash aggregate on the
    quasi-identifier key with a distinct-count inside — identical cost to
    any groupBy/count_distinct, no joins, no second pass.  Class-size
    skew is the realistic hazard (one giant class), and it affects only
    the reduce-side bucket that class hashes to."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("class_size"),
        F.when(F.count("*") < _KANON_K, 1).otherwise(0).cast("long").alias("at_risk"),
        F.count_distinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("l_diversity"),
    )


# ---------------------------------------------------------------------------
# streaming containment gate vs a static base shingle set


@register(
    "stream_containment_gate_static",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                  FROM documents),
    basewh AS (SELECT DISTINCT md5(array_to_string(tk[p:p+2], ' ')) AS wh
               FROM (SELECT doc_id, unnest(range(1, len(tk)-3+2)) AS p, tk
                     FROM toks WHERE len(tk) >= 3 AND doc_id < 400)),
    inwh AS (SELECT doc_id, md5(array_to_string(tk[p:p+2], ' ')) AS wh
             FROM (SELECT doc_id, unnest(range(1, len(tk)-3+2)) AS p, tk
                   FROM toks WHERE len(tk) >= 3 AND doc_id >= 400)),
    hits AS (SELECT i.doc_id,
                    count(DISTINCT i.wh) AS n_sh,
                    count(DISTINCT CASE WHEN b.wh IS NOT NULL THEN i.wh END)
                      AS n_hit
             FROM inwh i LEFT JOIN basewh b ON b.wh = i.wh
             GROUP BY i.doc_id)
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_shingles,
           CAST(n_hit AS BIGINT) AS n_hits,
           CAST(n_hit * 10000 // n_sh AS BIGINT) AS containment_e4,
           CAST(CASE WHEN 2 * n_hit >= n_sh THEN 1 ELSE 0 END AS BIGINT)
             AS gated
    FROM hits
    """,
)
def stream_containment_gate_static(spark, sf_dir):
    """Streaming ingest containment gate against a static base corpus —
    the CCNet/RefinedWeb-style n-gram gate run on every INCOMING document:
    the doc's distinct 3-gram shingles probe the base corpus's shingle
    set, and the doc is gated (quarantined) when at least half its
    distinct shingles already exist in the base.

    Built STRICTLY from streaming-capable constructs, the same discipline
    as `stream_span_dedup_static`: explode shingles (stateless) ->
    stream-static LEFT join on the shingle hash (stateless) -> ONE
    groupBy(doc_id) aggregate computing distinct-shingle and
    distinct-hit counts.  No window functions, no second aggregation, so
    the identical plan runs under readStream with update-mode output.
    Where the span twin measures POSITIONAL coverage (how much of the doc
    is verbatim base text), this gate measures SET containment (how much
    of the doc's vocabulary of 3-grams is base-known) — the cheaper
    first-stage filter a pipeline runs before span analysis.

    Scale shape: the base side reduces to distinct 16-byte digests ONCE
    (a static frame a cluster deployment would persist bucketed by hash);
    the per-doc probe explodes linearly in doc tokens and joins on the
    digest — candidate volume is bounded by true overlap, never corpus
    size, and the single shuffle keys on the digest."""
    t = _docs(spark, sf_dir).select("doc_id", tokens(F.col("text")).alias("tk"))
    W = 3

    def wins(frame):
        return (
            frame.filter(F.size("tk") >= W)
            .select(
                "doc_id",
                F.explode(F.sequence(F.lit(1), F.size("tk") - W + 1)).alias("p"),
                "tk",
            )
            .select(
                "doc_id",
                F.md5(F.array_join(F.slice("tk", F.col("p"), W), " ")).alias("wh"),
            )
        )

    base = (
        wins(t.filter(F.col("doc_id") < 400))
        .select("wh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    inc = wins(t.filter(F.col("doc_id") >= 400))
    probed = inc.join(base, "wh", "left")
    return probed.groupBy("doc_id").agg(
        F.count_distinct("wh").alias("n_shingles"),
        F.count_distinct(F.when(F.col("hit").isNotNull(), F.col("wh"))).alias(
            "n_hits"
        ),
        F.expr(
            "count(distinct case when hit is not null then wh end) * 10000"
            " div count(distinct wh)"
        ).alias("containment_e4"),
        F.expr(
            "cast(case when 2 * count(distinct case when hit is not null then wh"
            " end) >= count(distinct wh) then 1 else 0 end as bigint)"
        ).alias("gated"),
    )


# ---------------------------------------------------------------------------
# skyline (Pareto-front) operator


@register(
    "win_skyline_pareto",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_orderdate,
                      CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
               FROM orders)
    SELECT q.o_orderkey, q.o_orderdate, q.cents
    FROM o q
    WHERE NOT EXISTS (
      SELECT 1 FROM o p
      WHERE p.o_orderdate <= q.o_orderdate AND p.cents <= q.cents
        AND (p.o_orderdate < q.o_orderdate OR p.cents < q.cents))
    """,
)
def win_skyline_pareto(spark, sf_dir):
    """Skyline (Pareto-front) query: the orders not dominated on
    (earlier-or-equal date, cheaper-or-equal price, strictly better in at
    least one) — the classic multi-criteria operator ("show me orders
    that are both early AND cheap").

    The 2-D skyline admits the sweep decomposition instead of the naive
    all-pairs dominance test: a point survives iff (a) its price equals
    the minimum price ON its date and (b) its price is strictly below the
    minimum price over all EARLIER dates.  Both minima live on the
    per-date aggregate — so the plan is one groupBy(date) (shrinking the
    corpus to |distinct dates| rows), one prefix-min window over that
    TINY frame (bounded by the calendar, not the data), and one broadcast
    join back to the fact rows.  No global sort of the fact table, no
    pairwise term, no single-partition window over base rows — the exact
    shape that survives 100 TB, while the oracle states dominance
    directly as NOT EXISTS (an independent quadratic formulation).

    Ties: equal (date, price) points do not dominate each other, so whole
    tie groups survive together — both formulations agree by
    construction."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
    )
    g = o.groupBy("o_orderdate").agg(F.min("cents").alias("mc"))
    w = (
        Window.orderBy(F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    g2 = g.withColumn("min_prev", F.min("mc").over(w))
    return (
        o.join(F.broadcast(g2), "o_orderdate")
        .filter(
            (F.col("cents") == F.col("mc"))
            & (F.col("min_prev").isNull() | (F.col("cents") < F.col("min_prev")))
        )
        .select("o_orderkey", "o_orderdate", "cents")
    )

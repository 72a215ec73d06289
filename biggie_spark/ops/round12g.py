"""Round-12 tranche, wave G — built during round 11.

Families:

* persisted index — per-shard Bloom filters as a PARTITIONED ARTIFACT
  with a driver-verified pruned read (the point-lookup sibling of the
  zone-map manifest: min/max prunes ranges, Blooms prune point probes
  on high-cardinality keys where min/max is useless).  Third member of
  the persisted-index family (banded near-dup postings, IVF inverted
  lists).
* sync / replication — Merkle tree levels over content hashes (the
  hierarchical checksum that localizes WHICH block diverged;
  fn_table_checksum's flat sum can only say THAT something did).
* eval planning — Hoeffding sample-size audit (measured prefix-sample
  deviation vs the distribution-free bound, per sample-size grid — the
  table that prices an eval subset before labeling).
* multimodal — 3x3 binary erosion through the real PPM decode (the
  morphology primitive behind noise removal and stroke-width analysis),
  closed-form oracle on the gradient image.

Spreads validated in DuckDB at sf{0.001,0.01,0.1} before registration
(tools/vacuity_r12.md).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register
from biggie_spark.util import r4

# ---------------------------------------------------------------------------
# persisted index: per-shard Bloom filters with a pruned data read

_BL_SHARDS = 8
_BL_M = 2048  # bits per shard bloom
_BL_K = 3  # hash functions
_BL_PROBES = 10  # present probes (and as many absent ones)

# k md5-derived bit positions of a text key — ONE expression pasted into
# both engines (dialect differs only in hex-to-int spelling).
_BL_POS_DUCK = (
    "CAST(('0x' || substr(md5({key} || ':' || {i}), 1, 12)) AS BIGINT)"
    f" % {_BL_M}"
)
_BL_POS_SPARK = (
    "cast(conv(substring(md5(concat({key}, ':', {i})), 1, 12), 16, 10)"
    f" as bigint) % {_BL_M}"
)


@register(
    "snk_bloom_index_persisted",
    oracle=f"""
    WITH mem AS (SELECT doc_id % {_BL_SHARDS} AS sid, text FROM documents),
    bits AS (SELECT DISTINCT sid,
                    {_BL_POS_DUCK.format(key="text", i="i.i")} AS pos
             FROM mem, range({_BL_K}) i(i)),
    probes AS (
      SELECT doc_id AS probe_id, text AS ptext, CAST(1 AS BIGINT) AS present,
             doc_id % {_BL_SHARDS} AS true_sid
      FROM documents WHERE doc_id < {_BL_PROBES}
      UNION ALL
      SELECT doc_id + 1000, text || '~absent', 0, -1
      FROM documents WHERE doc_id < {_BL_PROBES}),
    ppos AS (SELECT probe_id, present, true_sid,
                    {_BL_POS_DUCK.format(key="ptext", i="i.i")} AS pos
             FROM probes, range({_BL_K}) i(i)),
    claims AS (SELECT p.probe_id, b.sid
               FROM (SELECT DISTINCT probe_id, pos FROM ppos) p
               JOIN bits b ON b.pos = p.pos
               GROUP BY p.probe_id, b.sid
               HAVING count(*) = (SELECT count(DISTINCT pos) FROM ppos p2
                                  WHERE p2.probe_id = p.probe_id)),
    per AS (SELECT pr.probe_id, pr.present,
                   CAST(count(c.sid) AS BIGINT) AS n_claimed_shards,
                   CAST(sum(CASE WHEN c.sid = pr.true_sid THEN 1 ELSE 0 END)
                     AS BIGINT) AS true_shard_claimed
            FROM (SELECT DISTINCT probe_id, present, true_sid FROM probes) pr
            LEFT JOIN claims c ON c.probe_id = pr.probe_id
            GROUP BY pr.probe_id, pr.present)
    SELECT probe_id, present, n_claimed_shards,
           coalesce(true_shard_claimed, 0) AS true_shard_claimed
    FROM per
    """,
)
def snk_bloom_index_persisted(spark, sf_dir):
    """Per-shard Bloom index as a PERSISTED, partition-pruned artifact —
    the point-lookup sibling of the zone-map manifest
    (snk_stats_manifest_persisted prunes RANGE predicates via min/max;
    a Bloom sidecar prunes POINT probes on high-cardinality keys where
    every shard's min/max straddles everything): the documents table is
    sharded 8 ways (doc_id mod 8), each shard's m=2048/k=3 Bloom bit
    set is WRITTEN partitionBy(sid), and a 20-probe panel (10 member
    texts, 10 salted absentees) asks each probe which shards COULD hold
    it — then physically re-reads only the claimed shards of the
    partitioned data copy, with an in-op RuntimeError unless the scan
    plan shows PartitionFilters pruning (the llm_neardup_index_persisted
    discipline).  Per probe: the claimed-shard count (the fan-out a
    router would query) and whether the true shard is claimed — Blooms
    have NO false negatives, so true_shard_claimed = 1 on every present
    probe at every SF, while false claims grow with fill (0 at sf0.001's
    2% fill, ~1.6/probe at sf0.1's 60% — the capacity-planning curve).

    Shape: the bit table is <= shards x m rows regardless of corpus
    size (one distinct aggregate); probes broadcast; the data re-read
    touches |claimed| directories (driver-collects <= 8 shard ids —
    audited in the collect allowlist)."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "sid", F.col("doc_id") % _BL_SHARDS
    )
    ii = spark.range(_BL_K).select(F.col("id").cast("int").alias("i"))
    bits = (
        docs.select("sid", "text")
        .crossJoin(F.broadcast(ii))
        .select(
            "sid",
            F.expr(_BL_POS_SPARK.format(key="text", i="i")).alias("pos"),
        )
        .distinct()
    )
    root = tempfile.mkdtemp(prefix="biggie_bloom_idx_")
    try:
        bits.write.mode("overwrite").partitionBy("sid").parquet(
            f"{root}/bloom"
        )
        docs.write.mode("overwrite").partitionBy("sid").parquet(
            f"{root}/data"
        )
        bloom = spark.read.parquet(f"{root}/bloom")

        present = docs.filter(F.col("doc_id") < _BL_PROBES).select(
            F.col("doc_id").alias("probe_id"),
            F.col("text").alias("ptext"),
            F.lit(1).cast("long").alias("present"),
            F.col("sid").cast("long").alias("true_sid"),
        )
        absent = docs.filter(F.col("doc_id") < _BL_PROBES).select(
            (F.col("doc_id") + 1000).alias("probe_id"),
            F.concat(F.col("text"), F.lit("~absent")).alias("ptext"),
            F.lit(0).cast("long").alias("present"),
            F.lit(-1).cast("long").alias("true_sid"),
        )
        probes = present.unionByName(absent)
        ppos = (
            probes.crossJoin(F.broadcast(ii))
            .select(
                "probe_id",
                F.expr(_BL_POS_SPARK.format(key="ptext", i="i")).alias("pos"),
            )
            .distinct()
        )
        need = ppos.groupBy("probe_id").agg(F.count("*").alias("k_need"))
        claims = (
            ppos.join(bloom, "pos")
            .groupBy("probe_id", "sid")
            .agg(F.count("*").alias("k_hit"))
            .join(F.broadcast(need), "probe_id")
            .filter(F.col("k_hit") == F.col("k_need"))
            .select("probe_id", "sid")
        )

        # The pruned physical read: only the CLAIMED shard directories of
        # the partitioned data copy are opened.  The claimed-sid list is
        # bounded by the shard count (<= 8) — an audited driver collect.
        claimed_sids = sorted(
            r["sid"] for r in claims.select("sid").distinct().collect()
        )
        pruned = spark.read.parquet(f"{root}/data").filter(
            F.col("sid").isin([int(s) for s in claimed_sids])
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        if "PartitionFilters" not in plan or "sid" not in plan:
            raise RuntimeError(
                "bloom-index data read must prune on the sid directory "
                "partition — PartitionFilters missing from the scan plan"
            )
        # touch the pruned read so the artifact path actually executes
        n_pruned_rows = pruned.count()
        if n_pruned_rows <= 0:
            raise RuntimeError("pruned bloom-index read returned no rows")

        per = (
            probes.select("probe_id", "present", "true_sid")
            .join(claims, "probe_id", "left")
            .groupBy("probe_id", "present")
            .agg(
                F.count("sid").alias("n_claimed_shards"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("sid") == F.col("true_sid"), 1).otherwise(
                            0
                        )
                    ),
                    F.lit(0),
                ).alias("true_shard_claimed"),
            )
        )
        return per.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# sync / replication: Merkle tree levels over content hashes

_MK_LEAF = 64  # doc_ids per leaf block
_MK_FAN = 4  # children per internal node


@register(
    "fn_merkle_tree_levels",
    oracle=f"""
    WITH leaf AS (SELECT doc_id // {_MK_LEAF} AS blk,
                         md5(string_agg(md5(text), '' ORDER BY doc_id)) AS h
                  FROM documents GROUP BY doc_id // {_MK_LEAF}),
    l1 AS (SELECT blk // {_MK_FAN} AS blk,
                  md5(string_agg(h, '' ORDER BY blk)) AS h
           FROM leaf GROUP BY blk // {_MK_FAN}),
    l2 AS (SELECT blk // {_MK_FAN} AS blk,
                  md5(string_agg(h, '' ORDER BY blk)) AS h
           FROM l1 GROUP BY blk // {_MK_FAN}),
    u AS (SELECT 0 AS level, blk, h FROM leaf
          UNION ALL SELECT 1, blk, h FROM l1
          UNION ALL SELECT 2, blk, h FROM l2)
    SELECT CAST(level AS BIGINT) AS level,
           CAST(count(*) AS BIGINT) AS n_nodes,
           md5(string_agg(h, '' ORDER BY blk)) AS level_digest
    FROM u GROUP BY level
    """,
)
def fn_merkle_tree_levels(spark, sf_dir):
    """Merkle tree levels over per-document content hashes — the
    hierarchical checksum behind anti-entropy sync (Dynamo/Cassandra
    repair, git pack negotiation): fn_table_checksum's flat sum says
    THAT two replicas diverge; comparing Merkle levels top-down says
    WHERE, descending only into unequal subtrees (log cost instead of
    a full scan).  Leaves hash 64-key blocks of md5(text) in doc_id
    order; internal levels hash 4 ordered children; the op emits each
    level's node count and the level digest, so a single changed
    document flips exactly one digest chain.

    Determinism note: the within-node concatenation must be ORDERED
    (string_agg ORDER BY ⟷ Spark array_join(transform(array_sort(
    collect_list(struct(blk, h)))))) — the unordered form is the same
    partition-order trap as float sums.  Shape: three key-range
    aggregates, each 1/{_MK_FAN} the size of the last — map-side
    combining all the way up, the textbook tree reduction."""

    def level_up(df, key_div: int):
        return df.groupBy((F.col("blk") / key_div).cast("long").alias("blk")).agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("blk", "h"))
                        ),
                        lambda s: s["h"],
                    ),
                    "",
                )
            ).alias("h")
        )

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") / _MK_LEAF).cast("long").alias("blk"),
        F.struct(F.col("doc_id"), F.md5("text").alias("h")).alias("dh"),
    )
    leaf = docs.groupBy("blk").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("dh")), lambda s: s["h"]
                ),
                "",
            )
        ).alias("h")
    )
    l1 = level_up(leaf, _MK_FAN)
    l2 = level_up(l1, _MK_FAN)
    u = (
        leaf.select(F.lit(0).alias("level"), "blk", "h")
        .unionByName(l1.select(F.lit(1).alias("level"), "blk", "h"))
        .unionByName(l2.select(F.lit(2).alias("level"), "blk", "h"))
    )
    return u.groupBy(F.col("level").cast("long").alias("level")).agg(
        F.count("*").alias("n_nodes"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("blk", "h"))),
                    lambda s: s["h"],
                ),
                "",
            )
        ).alias("level_digest"),
    )


# ---------------------------------------------------------------------------
# eval planning: Hoeffding sample-size audit

_HS_GRID = (50, 150, 400)  # all below the 500-doc minimum corpus


@register(
    "agg_hoeffding_sample_bound",
    oracle=f"""
    WITH d AS (SELECT doc_id, n_chars FROM documents),
    tot AS (SELECT avg(n_chars) AS mu, max(n_chars) AS mx,
                   min(n_chars) AS mn FROM d),
    g AS (SELECT unnest([{",".join(map(str, _HS_GRID))}]) AS n),
    s AS (SELECT g.n, avg(CASE WHEN doc_id < g.n THEN n_chars END) AS smean
          FROM d, g GROUP BY g.n)
    SELECT CAST(s.n AS BIGINT) AS sample_n,
           round(abs(smean - mu), 4) + 0 AS abs_dev_r4,
           round((mx - mn) * sqrt(ln(40.0) / (2 * s.n)), 4)
             AS hoeffding_bound_r4
    FROM s, tot
    """,
)
def agg_hoeffding_sample_bound(spark, sf_dir):
    """Hoeffding sample-size audit — the table that prices an eval
    subset BEFORE labeling: for sample sizes 50/150/400 (doc_id-prefix
    samples, the deterministic ingest order), the measured deviation of
    the sample mean doc length from the corpus mean, against the
    distribution-free Hoeffding bound (range * sqrt(ln(2/delta)/2n) at
    delta = 0.05).  The bound shrinks as 1/sqrt(n) while the measured
    deviations bounce well inside it (2..11 chars vs 49..102 bounds) —
    the honest gap that tells a team the worst-case bound is ~10x
    pessimistic on THIS distribution, i.e. a smaller eval set suffices
    if they trust stationarity.  Grid capped at 400 < the 500-doc
    minimum corpus: the first draft's n=1000 point ate the whole corpus
    at small SFs and pinned the deviation at exactly 0 (vacuity trap,
    caught at validation).

    Shape: one conditional-mean aggregate carrying all grid points as
    CASE masks in a single pass, one 1-row bounds frame."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tot = d.agg(
        F.avg("n_chars").alias("mu"),
        F.max("n_chars").alias("mx"),
        F.min("n_chars").alias("mn"),
    )
    g = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _HS_GRID])).alias("n")
    )
    s = (
        d.crossJoin(F.broadcast(g))
        .groupBy("n")
        .agg(
            F.avg(
                F.when(F.col("doc_id") < F.col("n"), F.col("n_chars"))
            ).alias("smean")
        )
    )
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("sample_n"),
        (F.round(F.abs(F.col("smean") - F.col("mu")), 4) + F.lit(0.0)).alias(
            "abs_dev_r4"
        ),
        r4(
            (F.col("mx") - F.col("mn"))
            * F.sqrt(F.log(F.lit(40.0)) / (2 * F.col("n")))
        ).alias("hoeffding_bound_r4"),
    )


# ---------------------------------------------------------------------------
# multimodal: 3x3 binary erosion through the real PPM decode

_ER_THR = 64  # same absolute gray threshold as the quadtree census


@register(
    "mm_image_erosion_3x3",
    oracle=f"""
    WITH probe AS (SELECT doc_id, 16 + doc_id % 8 AS w, 8 AS h,
                          doc_id % 60 + 10 AS bb
                   FROM documents WHERE doc_id < 64),
    px AS (SELECT doc_id, w, h, xx.x, yy.y,
                  CASE WHEN bb + xx.x + yy.y > {_ER_THR} THEN 1 ELSE 0 END
                    AS fg,
                  /* erosion of the half-plane: interior pixel whose WORST
                     3x3 neighbor (x-1, y-1) is still foreground */
                  CASE WHEN xx.x BETWEEN 1 AND w - 2
                        AND yy.y BETWEEN 1 AND h - 2
                        AND bb + xx.x + yy.y - 2 > {_ER_THR}
                       THEN 1 ELSE 0 END AS fge
           FROM probe, range(0, 23) xx(x), range(0, 8) yy(y)
           WHERE xx.x < w)
    SELECT doc_id,
           CAST(sum(fg) AS BIGINT) AS n_fg,
           CAST(sum(fge) AS BIGINT) AS n_fg_eroded,
           CAST(sum(fg) - sum(fge) AS BIGINT) AS n_boundary
    FROM px GROUP BY doc_id
    """,
)
def mm_image_erosion_3x3(spark, sf_dir):
    """3x3 binary erosion through the REAL PPM codec — the morphology
    primitive behind speckle removal, stroke-width transforms and
    connected-component preconditioning: threshold the decoded image at
    gray 64 and erode with the full 3x3 structuring element
    (out-of-bounds counts as background, the standard border rule), per
    probe image reporting foreground before/after and the boundary mass
    the erosion stripped.  The oracle pins the numpy kernel in closed
    form: on the gradient half-plane, erosion survives exactly where
    the WORST neighbor (x-1, y-1) clears the threshold AND the pixel is
    interior — any structuring-element or border-rule slip diverges.
    Measured: n_fg 0..184, boundary 0..28 across the panel (all-bg,
    partial and near-full regimes live).

    Kernel: the mm_image_otsu_threshold decode walk, erosion as a numpy
    min-filter (logical AND of the 9 shifted masks) in one
    Arrow-batched pandas_udf."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_ppm

    @pandas_udf("struct<n_fg bigint, n_fg_eroded bigint, n_boundary bigint>")
    def erode_udf(doc_id: pd.Series) -> pd.DataFrame:
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
            fg = px > _ER_THR
            padded = np.zeros((hh + 2, ww + 2), dtype=bool)
            padded[1:-1, 1:-1] = fg
            er = np.ones_like(fg)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    er &= padded[1 + dy : 1 + dy + hh, 1 + dx : 1 + dx + ww]
            rows.append(
                {
                    "n_fg": int(fg.sum()),
                    "n_fg_eroded": int(er.sum()),
                    "n_boundary": int(fg.sum() - er.sum()),
                }
            )
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    return probe.select("doc_id", erode_udf("doc_id").alias("f")).select(
        "doc_id", "f.n_fg", "f.n_fg_eroded", "f.n_boundary"
    )

"""Round-13 tranche, wave F (multimodal kernels through the real
codecs) — built during round 11.

* morphology — morphological gradient (dilation - erosion), the edge
  band extractor; closed-form oracle on the gradient half-plane.
* restoration — 3x3 median denoise of Knuth salt-and-pepper noise,
  with the oracle computing the exact rank-5 neighbor element and the
  before/after error ledger proving the filter works.
* gradients — HOG-style orientation octant census on the noisy image
  (pure sign/magnitude integer comparisons — no atan2, no floats).
* audio — divide-by-4 decimation with a box prefilter through the real
  RIFF/WAVE round-trip, with the energy-attenuation ledger.

All images travel through the REAL P6 PPM codec and audio through the
REAL RIFF/WAVE codec (encode then decode inside the op, the
mm_codec_* discipline), with oracles regenerating the same pixels /
samples arithmetically.  Spreads validated in DuckDB at
sf{0.001,0.01,0.1} before registration — tools/vacuity_r13.md.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# func.__globals__ (see ops/round9.py note)

from pyspark.sql import functions as F

from biggie_spark.io import load_table
from biggie_spark.registry import register

_MG_THR = 64  # same absolute gray threshold as erosion / quadtree

# Knuth salt-and-pepper noise shared by the median / HOG ops: pixel
# (x, y) of doc d is salted to 255 when hash % 17 == 0, dropped to 0
# when == 1, else the clean gradient bb + x + y.
_NOISE_DUCK = """
    px AS (SELECT doc_id, w, h, bb, xx.x AS x, yy.y AS y,
                  CASE WHEN ((doc_id*31 + yy.y*w + xx.x) * 2654435761)
                            % 17 = 0 THEN 255
                       WHEN ((doc_id*31 + yy.y*w + xx.x) * 2654435761)
                            % 17 = 1 THEN 0
                       ELSE bb + xx.x + yy.y END AS v,
                  bb + xx.x + yy.y AS clean
           FROM probe, range(0, 23) xx(x), range(0, 8) yy(y)
           WHERE xx.x < w)
"""

_PROBE_DUCK = """
    probe AS (SELECT doc_id, 16 + doc_id % 8 AS w, 8 AS h,
                     doc_id % 60 + 10 AS bb
              FROM documents WHERE doc_id < 64)
"""


def _decode_ppm_gray(payload: bytes):
    """P6 header walk + red-channel int64 array (the erosion op's
    decode, shared)."""
    import numpy as np

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
    return (
        np.frombuffer(payload, dtype=np.uint8, count=ww * hh * 3, offset=pos)
        .reshape(hh, ww, 3)[:, :, 0]
        .astype(np.int64)
    )


def _noisy_image(did: int):
    """Clean gradient through the REAL PPM round-trip, then the Knuth
    salt-and-pepper overlay (mirrored literally in the oracles)."""
    import numpy as np

    from biggie_spark.multimodal import encode_ppm

    w, h, b = 16 + did % 8, 8, did % 60 + 10
    px = _decode_ppm_gray(encode_ppm(w, h, (b, b, b)))
    yy, xx = np.mgrid[0:h, 0:w]
    r = ((did * 31 + yy * w + xx) * 2654435761) % 17
    noisy = px.copy()
    noisy[r == 0] = 255
    noisy[r == 1] = 0
    return px, noisy, w, h


# ---------------------------------------------------------------------------
# morphology: morphological gradient


@register(
    "mm_image_morph_gradient",
    oracle=f"""
    WITH {_PROBE_DUCK},
    px AS (SELECT doc_id, w, h, xx.x AS x, yy.y AS y,
                  CASE WHEN bb + xx.x + yy.y > {_MG_THR} THEN 1 ELSE 0 END
                    AS fg,
                  /* erosion: interior pixel whose WORST 3x3 neighbor
                     (x-1, y-1) clears the threshold */
                  CASE WHEN xx.x BETWEEN 1 AND w - 2
                        AND yy.y BETWEEN 1 AND h - 2
                        AND bb + xx.x + yy.y - 2 > {_MG_THR}
                       THEN 1 ELSE 0 END AS fge,
                  /* dilation: BEST in-bounds neighbor
                     (min(x+1, w-1), min(y+1, h-1)) clears it */
                  CASE WHEN bb + least(xx.x + 1, w - 1)
                            + least(yy.y + 1, h - 1) > {_MG_THR}
                       THEN 1 ELSE 0 END AS fgd
           FROM probe, range(0, 23) xx(x), range(0, 8) yy(y)
           WHERE xx.x < w)
    SELECT doc_id,
           CAST(sum(fg) AS BIGINT) AS n_fg,
           CAST(sum(fgd) AS BIGINT) AS n_dilated,
           CAST(sum(fge) AS BIGINT) AS n_eroded,
           CAST(sum(fgd) - sum(fge) AS BIGINT) AS n_gradient
    FROM px GROUP BY doc_id
    """,
)
def mm_image_morph_gradient(spark, sf_dir):
    """Morphological gradient through the REAL PPM codec — dilation
    minus erosion, the edge-band extractor (Beucher gradient) behind
    contour detection and watershed seeding: threshold the decoded
    image at gray 64, dilate and erode with the full 3x3 element
    (out-of-bounds = background), and report the band mass.  The
    oracle pins both operators in closed form on the gradient
    half-plane: dilation survives where the BEST in-bounds neighbor
    (min(x+1,w-1), min(y+1,h-1)) clears the threshold, erosion where
    the WORST (x-1, y-1) does AND the pixel is interior — the two
    monotone-neighbor arguments bracket the edge band exactly, so a
    structuring-element or border-rule slip diverges on either side.
    Measured: n_gradient spans 0 (the 34 all-background images) to 70
    with dilated 0..184 and eroded 0..126 — all regimes live on the
    panel.

    Kernel: numpy max-filter and min-filter (OR / AND of the 9
    shifted masks) in one Arrow-batched pandas_udf over the decoded
    panel."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<n_fg bigint, n_dilated bigint, n_eroded bigint,"
        " n_gradient bigint>"
    )
    def morph_udf(doc_id: pd.Series) -> pd.DataFrame:
        rows = []
        for did in doc_id:
            px, _, w, h = _noisy_image(int(did))
            fg = px > _MG_THR
            padded = np.zeros((h + 2, w + 2), dtype=bool)
            padded[1:-1, 1:-1] = fg
            er = np.ones_like(fg)
            di = np.zeros_like(fg)
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    win = padded[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
                    er &= win
                    di |= win
            rows.append(
                {
                    "n_fg": int(fg.sum()),
                    "n_dilated": int(di.sum()),
                    "n_eroded": int(er.sum()),
                    "n_gradient": int(di.sum() - er.sum()),
                }
            )
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    return probe.select("doc_id", morph_udf("doc_id").alias("s")).select(
        "doc_id", "s.n_fg", "s.n_dilated", "s.n_eroded", "s.n_gradient"
    )


# ---------------------------------------------------------------------------
# restoration: 3x3 median denoise


@register(
    "mm_image_median_denoise",
    oracle=f"""
    WITH {_PROBE_DUCK},
    {_NOISE_DUCK},
    nb AS (SELECT a.doc_id, a.x, a.y, a.v AS center, a.clean, b.v AS nv,
                  row_number() OVER (PARTITION BY a.doc_id, a.x, a.y
                                     ORDER BY b.v, b.x, b.y) AS rk
           FROM px a JOIN px b ON b.doc_id = a.doc_id
                AND b.x BETWEEN a.x - 1 AND a.x + 1
                AND b.y BETWEEN a.y - 1 AND a.y + 1
           WHERE a.x BETWEEN 1 AND a.w - 2 AND a.y BETWEEN 1 AND a.h - 2),
    med AS (SELECT doc_id, x, y, center, clean,
                   max(CASE WHEN rk = 5 THEN nv END) AS m
            FROM nb GROUP BY 1, 2, 3, 4, 5)
    SELECT doc_id,
           CAST(count(*) FILTER (m <> center) AS BIGINT) AS n_changed,
           CAST(sum(abs(center - clean)) AS BIGINT) AS err_before,
           CAST(sum(abs(m - clean)) AS BIGINT) AS err_after
    FROM med GROUP BY doc_id
    """,
)
def mm_image_median_denoise(spark, sf_dir):
    """3x3 median denoise through the REAL PPM codec — THE
    salt-and-pepper restoration kernel: overlay deterministic Knuth
    impulse noise (~12% of pixels to 0/255) on the decoded gradient,
    median-filter the interior, and publish the error ledger against
    the clean image.  The oracle computes the exact rank-5 element of
    each 9-neighbor multiset (value-ordered row_number — the median of
    an odd multiset is tie-stable by value), so an off-by-one in the
    window, the rank, or the noise arithmetic diverges.  Measured:
    the filter WORKS and the numbers prove it — err_before 189..2048
    vs err_after 0..12, improved on 64/64 panel images; n_changed
    6..16.

    Kernel: numpy 9-way stack + partition-sort in one Arrow-batched
    pandas_udf (np.median on an odd count is the exact middle
    element)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<n_changed bigint, err_before bigint, err_after bigint>"
    )
    def med_udf(doc_id: pd.Series) -> pd.DataFrame:
        rows = []
        for did in doc_id:
            clean, noisy, w, h = _noisy_image(int(did))
            stack = np.stack(
                [
                    noisy[1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
                    for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1)
                ]
            )
            med = np.median(stack, axis=0).astype(np.int64)
            ci = clean[1 : h - 1, 1 : w - 1]
            ni = noisy[1 : h - 1, 1 : w - 1]
            rows.append(
                {
                    "n_changed": int((med != ni).sum()),
                    "err_before": int(np.abs(ni - ci).sum()),
                    "err_after": int(np.abs(med - ci).sum()),
                }
            )
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    return probe.select("doc_id", med_udf("doc_id").alias("s")).select(
        "doc_id", "s.n_changed", "s.err_before", "s.err_after"
    )


# ---------------------------------------------------------------------------
# gradients: HOG orientation octant census


@register(
    "mm_image_hog_octants",
    oracle=f"""
    WITH {_PROBE_DUCK},
    {_NOISE_DUCK},
    g AS (SELECT a.doc_id, xr.v - xl.v AS gx, yd.v - yu.v AS gy
          FROM px a
          JOIN px xr ON xr.doc_id = a.doc_id AND xr.x = a.x + 1
               AND xr.y = a.y
          JOIN px xl ON xl.doc_id = a.doc_id AND xl.x = a.x - 1
               AND xl.y = a.y
          JOIN px yd ON yd.doc_id = a.doc_id AND yd.x = a.x
               AND yd.y = a.y + 1
          JOIN px yu ON yu.doc_id = a.doc_id AND yu.x = a.x
               AND yu.y = a.y - 1),
    oct AS (SELECT (CASE WHEN gy >= 0 THEN 0 ELSE 4 END)
                 + (CASE WHEN gx >= 0 THEN 0 ELSE 2 END)
                 + (CASE WHEN abs(gy) > abs(gx) THEN 1 ELSE 0 END) AS o,
                 abs(gx) + abs(gy) AS mag
            FROM g)
    SELECT CAST(o AS BIGINT) AS octant,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(mag) AS BIGINT) AS l1_mass
    FROM oct GROUP BY 1
    """,
)
def mm_image_hog_octants(spark, sf_dir):
    """HOG-style orientation octant census — the gradient-direction
    histogram (the HOG descriptor's inner bin step) computed with ZERO
    floats: central differences gx/gy on the noisy decoded image,
    octant = 4*[gy<0] + 2*[gx<0] + [|gy|>|gx|] (sign bits + the
    diagonal comparison — no atan2, engine-exact by construction),
    L1 magnitude mass per octant.  On the CLEAN gradient every
    interior pixel has gx=gy=2 (octant 0 only — rejected as vacuous);
    the Knuth impulse noise scatters gradients across 7 of the 8
    octants (octant 7 provably empty at this noise rate — the |gy|>|gx|
    AND both-negative corner needs adjacent pepper pairs the 1/17 rate
    never produces on this panel; its absence is part of the pinned
    expectation).  Measured: counts 81..4769 and mass 20812..106147
    across octants, aggregate over the 64-image panel.

    Kernel: numpy roll differences + integer bit classification in one
    Arrow-batched pandas_udf; global census via one groupBy."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<octant bigint, n_pixels bigint, l1_mass bigint>>")
    def hog_udf(doc_id: pd.Series) -> pd.Series:
        out = []
        for did in doc_id:
            _, noisy, w, h = _noisy_image(int(did))
            gx = noisy[1 : h - 1, 2:w] - noisy[1 : h - 1, 0 : w - 2]
            gy = noisy[2:h, 1 : w - 1] - noisy[0 : h - 2, 1 : w - 1]
            o = (
                4 * (gy < 0).astype(np.int64)
                + 2 * (gx < 0).astype(np.int64)
                + (np.abs(gy) > np.abs(gx)).astype(np.int64)
            )
            mag = np.abs(gx) + np.abs(gy)
            recs = []
            for oc in np.unique(o):
                sel = o == oc
                recs.append(
                    {
                        "octant": int(oc),
                        "n_pixels": int(sel.sum()),
                        "l1_mass": int(mag[sel].sum()),
                    }
                )
            out.append(recs)
        return pd.Series(out)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    per_doc = probe.select(F.explode(hog_udf("doc_id")).alias("s")).select(
        "s.octant", "s.n_pixels", "s.l1_mass"
    )
    return per_doc.groupBy("octant").agg(
        F.sum("n_pixels").cast("long").alias("n_pixels"),
        F.sum("l1_mass").cast("long").alias("l1_mass"),
    )


# ---------------------------------------------------------------------------
# audio: divide-by-4 decimation with box prefilter


@register(
    "mm_audio_decimate_box4",
    oracle="""
    WITH probe AS (SELECT doc_id, 120 + doc_id % 60 AS n
                   FROM documents WHERE doc_id < 64),
    s AS (SELECT doc_id, i.v AS i,
                 ((doc_id*31 + i.v) * 2654435761) % 65536 - 32768 AS samp
          FROM probe, range(0, 180) i(v) WHERE i.v < n),
    grp AS (SELECT doc_id, i // 4 AS k,
                   CAST(floor(sum(samp) / 4.0) AS BIGINT) AS y
            FROM s GROUP BY 1, 2 HAVING count(*) = 4),
    ein AS (SELECT doc_id, sum(samp*samp) AS e_in FROM s GROUP BY 1),
    o AS (SELECT doc_id, count(*) AS n_out, sum(y*y) AS e_out,
                 max(abs(y)) AS peak
          FROM grp GROUP BY 1)
    SELECT o.doc_id, CAST(n_out AS BIGINT) AS n_out,
           CAST(peak AS BIGINT) AS peak_out,
           CAST(e_out*4*10000//e_in AS BIGINT) AS energy_ratio_e4
    FROM o JOIN ein ON ein.doc_id = o.doc_id
    """,
)
def mm_audio_decimate_box4(spark, sf_dir):
    """Divide-by-4 decimation with a box prefilter through the REAL
    RIFF/WAVE round-trip — the downsampling primitive (anti-alias
    average of each 4-sample block, then keep one): synthesize the
    doc-keyed Knuth stream, encode to a WAVE container, decode it back
    (real chunk walk), average blocks with floor(sum/4.0) — division
    by a power of two is EXACT in double, so the floor is
    engine-identical even on negative sums (integer `div` would
    truncate toward zero in Spark and floor in DuckDB; the documented
    signed-division rule).  The energy ledger is the liveness: a box
    filter on white noise passes ~1/4 of per-sample variance, and
    energy_ratio_e4 = 4*e_out/e_in measures exactly that.  Measured:
    ratio 1346..2265 e4 (clustered around the theoretical 2500 with
    per-doc spread), n_out 30..44, peak 14007..15549.  Incomplete
    trailing blocks are dropped on both engines (HAVING count = 4).

    Kernel: encode_wav -> wav_samples (the mm_codec_wav walk) + one
    numpy reshape-mean in an Arrow-batched pandas_udf."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from biggie_spark.multimodal import encode_wav, wav_samples

    @pandas_udf(
        "struct<n_out bigint, peak_out bigint, energy_ratio_e4 bigint>"
    )
    def dec_udf(doc_id: pd.Series) -> pd.DataFrame:
        rows = []
        for did in doc_id:
            did = int(did)
            n = 120 + did % 60
            i = np.arange(n, dtype=np.int64)
            samp = ((did * 31 + i) * 2654435761) % 65536 - 32768
            s = wav_samples(encode_wav(samp))
            k = len(s) // 4
            blocks = s[: 4 * k].reshape(k, 4)
            y = np.floor(blocks.sum(axis=1) / 4.0).astype(np.int64)
            e_in = int((s * s).sum())
            e_out = int((y * y).sum())
            rows.append(
                {
                    "n_out": int(k),
                    "peak_out": int(np.abs(y).max()),
                    "energy_ratio_e4": e_out * 4 * 10000 // e_in,
                }
            )
        return pd.DataFrame(rows)

    probe = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 64)
        .select("doc_id")
    )
    return probe.select("doc_id", dec_udf("doc_id").alias("s")).select(
        "doc_id", "s.n_out", "s.peak_out", "s.energy_ratio_e4"
    )

package graft.operators

import graft.QueryDef

/** Declared multimodal queries — see [[Multimodal]] for the plumbing. */
object MultimodalQueries {

  /** Hot-band cap for the declared capped twin mm03c (see x06c for the
    * pattern): small enough to bite on this corpus so the twin pins a
    * result genuinely different from mm03.
    */
  private val PhashTwinBandCap = 2

  /** The [[Multimodal.PhashCos]] fixed-point DCT table rendered as a
    * 256-row `(k, n, c)` VALUES literal — the promise the engine-side
    * doc makes: both engines multiply the SAME integers.
    */
  private def phashCosValues: String =
    (for { k <- 0 until 8; n <- 0 until 32 }
      yield s"($k,$n,${Multimodal.PhashCos(k)(n)})").mkString(", ")

  /** The [[Multimodal.grayPlane]] pixel-content rule as oracle CTEs —
    * the GENERATOR's plane, one (doc_id, p, pv) cell per pixel. The
    * engine side recovers the same plane by genuinely parsing the mixed
    * BMP/PNG container bytes, so a [[graft.sources.Bmp]] /
    * [[graft.sources.Png]] decode bug (stride, row order, palette, zlib
    * filter) breaks every row built on this chain. Shared by mm01
    * (plane stats) and the pHash family (mm03/mm03c/mm05) so the two
    * replays cannot drift.
    */
  private def planeCtes: String = """grp AS (
  SELECT doc_id, j,
    md5(substr(text, ((j % greatest(1, (length(text)+15)//16))*16)+1, 16)
        || '#' || CAST(j AS VARCHAR)) AS h
  FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
),
cell AS (
  SELECT doc_id, j*16 + i AS p,
    CAST(('0x' || substr(h, i*2+1, 2)) AS BIGINT) AS pv
  FROM grp CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
)"""

  /** Shared oracle CTE chain: the synthesized corpus's pixel-content
    * rule ([[planeCtes]]) → separable integer DCT (rows then columns) →
    * 63-term mean-comparison bits → 63-bit hash → 4×16-bit band rows.
    * Replays [[Multimodal.grayPlane]] and [[Multimodal.phash64]]
    * exactly: every intermediate fits int64 (see
    * [[Multimodal.PhashCosScale]]), and DuckDB's HUGEINT aggregation is
    * exact, so equality is by construction.
    */
  private def phashOracleCtes: String = s"""ct(k, n, c) AS (VALUES $phashCosValues),
$planeCtes,
rowpass AS (
  SELECT doc_id, p // 32 AS m, ct.k AS v, sum(pv * ct.c) AS t
  FROM cell JOIN ct ON ct.n = p % 32
  GROUP BY 1, 2, 3
),
colpass AS (
  SELECT r.doc_id, ct.k AS u, r.v AS v, sum(r.t * ct.c) AS x
  FROM rowpass r JOIN ct ON ct.n = r.m
  GROUP BY 1, 2, 3
),
coef AS (SELECT doc_id, u*8 + v AS kk, x FROM colpass),
tot AS (SELECT doc_id, sum(x) FILTER (WHERE kk >= 1) AS s FROM coef GROUP BY 1),
ph AS (
  SELECT c.doc_id,
    CAST(sum(CASE WHEN c.kk >= 1 AND c.x * 63 > t.s
             THEN (CAST(1 AS BIGINT) << (c.kk - 1)) ELSE 0 END) AS BIGINT) AS ph
  FROM coef c JOIN tot t USING (doc_id) GROUP BY 1
),
bands AS (
  SELECT doc_id, ph, bi, (ph >> (bi * 16)) & 65535 AS bv
  FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS bi) bb
)"""

  def defs: Map[String, QueryDef] = Map(
    // ── Typed image-metadata decode (the schema-sniffing ingestion row,
    // reference anchor utils/gsheets_utils.py:174-184): container kind
    // from the magic bytes, dimensions from the parsed header, plane
    // stats from the fully reconstructed pixels. The oracle replays the
    // GENERATOR's rules (even ids are 32×32 BMP, odd 32×32 PNG; the
    // plane is the md5 rule in [[planeCtes]]) as literals — the mm03
    // discipline — so the engine can only match by genuinely parsing
    // the container back (r12 verdict #3: this row used to emit
    // length-derived pseudo-metadata; now a stride/palette/zlib-filter
    // bug breaks it).
    "mm01_binary_features" -> QueryDef(
      (s, d) => Multimodal.features(s, d),
      Some(s"""WITH $planeCtes
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'png' END AS container,
  CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
  CAST(1024 AS BIGINT) AS n_pixels,
  CAST(sum(pv) AS BIGINT) AS plane_sum,
  CAST(max(CASE WHEN p = 0 THEN pv END) AS BIGINT) AS first_px
FROM cell GROUP BY doc_id ORDER BY doc_id"""),
      "typed image-metadata decode over mixed BMP/PNG containers"),

    // ── Frame sampling + thumbnail resize — the fan-out shape, keyed on
    // real decodes since r13: frames = every 4th 16-sample window of the
    // parsed RIFF/WAVE clip (duration-proportional; DuckDB length(text)
    // = code points = the clip's sample count, the mm04 convention), and
    // thumb dims = the parsed image header's 32×32 clamped to 224.
    "mm02_frame_sample" -> QueryDef(
      (s, d) => Multimodal.frameSamples(s, d),
      Some("""WITH f AS (
              SELECT doc_id,
                CAST((length(text) + 15) // 16 AS BIGINT) AS n_frames
              FROM documents WHERE length(text) > 0)
              SELECT doc_id,
                unnest(generate_series(0, n_frames - 1, 4)) AS frame_idx,
                CAST(least(32, 224) AS BIGINT) AS thumb_w,
                CAST(least(32, 224) AS BIGINT) AS thumb_h
              FROM f ORDER BY doc_id, frame_idx"""),
      "frame sampling + resize fan-out (explode per sampled frame)"),

    // ── Image-dedup shape over the media column: banded Hamming join on
    // the integer-exact DCT pHash — see [[Multimodal.phashNearDup]]. The
    // oracle replays the WHOLE pipeline in SQL: the pixel-content rule,
    // both DCT passes against the [[Multimodal.PhashCos]] table rendered
    // below as integer literals, the 63-term mean comparison, and the
    // band-then-verify join — so both engines multiply identical
    // integers end to end.
    "mm03_phash_neardup" -> QueryDef(
      (s, d) => Multimodal.phashNearDup(s, d),
      Some(s"""WITH $phashOracleCtes
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
  AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= ${Multimodal.PhashHammingMax}
ORDER BY doc_a, doc_b"""),
      "perceptual-hash near-dup over binary payloads (banded Hamming)"),

    // ── mm03 with the bandCap hot-band lever ENGAGED — the x06c
    // discipline: the capped posting set is what a 100 TB image-dedup
    // run joins (a burst of byte-identical thumbnails is a quadratic
    // band bucket), so its semantics get their own oracle row. A
    // (band, value) bucket with more than PhashTwinBandCap members is
    // dropped from both sides before the pair join. The cap bites on
    // this corpus (buckets reach 3-4 members), so this row pins a
    // result genuinely different from mm03.
    "mm03c_phash_bandcap" -> QueryDef(
      (s, d) => Multimodal.phashNearDup(s, d, Some(PhashTwinBandCap)),
      Some(s"""WITH $phashOracleCtes,
hot AS (
  SELECT bi, bv FROM bands GROUP BY 1, 2 HAVING count(*) > $PhashTwinBandCap
),
kept AS (
  SELECT b.doc_id, b.ph, b.bi, b.bv FROM bands b
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.bi = b.bi AND h.bv = b.bv)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM kept a JOIN kept b ON a.bi = b.bi AND a.bv = b.bv
  AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.ph, b.ph)) <= ${Multimodal.PhashHammingMax}
ORDER BY doc_a, doc_b"""),
      "mm03 with the bandCap skew lever engaged (capped-path semantics)"),

    // ── Media near-dup clusters: mm03's verified pairs → connected
    // components (the x14 step on the binary column) — see
    // [[Multimodal.phashClusters]]. The oracle reuses the pHash CTE
    // chain and unrolls the same min-label + pointer-jumping rounds
    // the x14 oracle replays.
    "mm05_phash_clusters" -> QueryDef(
      (s, d) => Multimodal.phashClusters(s, d),
      Some(s"""WITH $phashOracleCtes,
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
    AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ph, b.ph)) <= ${Multimodal.PhashHammingMax}
),
sym AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL SELECT doc_b, doc_a FROM cand
),
s0 AS (SELECT doc_id, doc_id AS label FROM documents),
${Components.duckCcRoundCtes(Multimodal.PhashCcRounds, "doc_id", "p", "s")}
SELECT doc_id, label AS cluster_id,
  count(*) OVER (PARTITION BY label) AS cluster_size
FROM s${Multimodal.PhashCcRounds} ORDER BY doc_id"""),
      "pHash pairs -> connected components (media near-dup clusters)"),

    // ── Audio shape: duration-proportional window decode + VAD
    // segmentation — see [[Multimodal.audioWindows]]/[[audioVad]].
    "mm04_audio_vad" -> QueryDef(
      (s, d) => Multimodal.audioVad(s, d),
      Some("""
WITH cps AS (
  SELECT doc_id, i, unicode(substring(text, CAST(i AS INT), 1)) AS cp
  FROM documents, unnest(generate_series(1, length(text))) AS t(i)
  WHERE length(text) > 0
),
win AS (
  SELECT doc_id, CAST((i - 1) // 16 AS BIGINT) AS w,
         CAST(sum(cp * cp) AS BIGINT) AS e, CAST(count(*) AS BIGINT) AS ns
  FROM cps GROUP BY 1, 2
),
flag AS (SELECT doc_id, w, (e >= 5000 * ns) AS voiced FROM win),
runs AS (
  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS run_len FROM (
    SELECT doc_id, w,
      w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS g
    FROM flag WHERE voiced
  ) GROUP BY 1, 2
),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        CAST(count(*) FILTER (WHERE voiced) AS BIGINT) AS n_voiced
        FROM flag GROUP BY 1),
rs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(max(run_len) AS BIGINT) AS max_run FROM runs GROUP BY 1)
SELECT doc_id, n_windows, n_voiced,
  coalesce(n_segments, 0) AS n_segments,
  coalesce(max_run, 0) AS max_run
FROM agg LEFT JOIN rs USING (doc_id) ORDER BY doc_id"""),
      "windowed energy + voice-activity segmentation over decoded audio"))
}

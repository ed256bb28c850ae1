package graft.queries

import graft.ext.TextStats

/** Shared DuckDB SQL fragments for [[Catalog]] oracle declarations.
  * Every fragment mirrors the corresponding Spark expression tree shape
  * exactly (SURVEY.md §7.4 determinism rules).
  */
object Oracles {
  /** diff classification CTE (assumes `internal` / `external` CTEs from
    * [[Fixture.OracleCtes]] are in scope).
    */
  val kindsCte: String =
    s"""kinds AS (
       |  SELECT coalesce(i.l_orderkey, e.l_orderkey) AS l_orderkey,
       |         coalesce(i.l_linenumber, e.l_linenumber) AS l_linenumber,
       |         CASE WHEN i.l_orderkey IS NULL THEN 'new'
       |              WHEN e.l_orderkey IS NULL THEN 'deleted'
       |              WHEN ${Fixture.OracleRowDiffers} THEN 'changed'
       |              ELSE 'unchanged' END AS kind
       |  FROM internal i FULL OUTER JOIN external e
       |    ON i.l_orderkey = e.l_orderkey AND i.l_linenumber = e.l_linenumber)""".stripMargin

  /** Changed-member delta (the `player_new` analog) for tribe aggregates. */
  val deltaCte: String =
    "WITH delta AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 10 = 0)"

  /** The five score formulas, unrounded (for composing score_overall). */
  val scoreExprsRaw: Seq[(String, String)] = Seq(
    "score_stats" ->
      "(l_extendedprice + l_quantity * 3) / pow(l_orderkey + 1, 0.25)",
    "score_shaman" ->
      ("(l_extendedprice * 0.05 + l_quantity * 0.2 + l_discount * 0.35 + l_tax * 0.5)" +
        " / pow(l_orderkey + 1, 0.25)"),
    "score_survivor" ->
      "(l_quantity * 1.6 + l_linenumber * 0.8) / pow((l_partkey + 1) * (l_suppkey + 1), 0.25)",
    "score_racing" ->
      "(l_quantity * 2 + l_linenumber) / pow((l_orderkey + 1) * (l_partkey + 1), 0.25)",
    "score_defilante" ->
      "l_extendedprice / pow((l_orderkey + 1) * (l_suppkey + 1), 0.25)"
  )

  val scoreSelectList: String =
    scoreExprsRaw.map { case (n, e) => s"round($e, 6) AS $n" }.mkString(",\n ")

  val scoreSelectListRaw: String =
    scoreExprsRaw.map { case (n, e) => s"$e AS $n" }.mkString(",\n ")

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  private def hits(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), w -> w IN ${inList(words)}))"

  /** Language-ID: same argmax CASE chain as [[TextStats.langId]]. */
  /** [[langIdSql]] without the trailing ORDER BY — embeddable as a CTE
    * (the NB-classifier oracle derives its labels from it).
    */
  val langIdBody: String = {
    val scores = TextStats.LangStopwords.map { case (l, sw) => l -> s"s_$l" }
    val scoreDefs = TextStats.LangStopwords
      .map { case (l, sw) => s"${hits(sw)} AS s_$l" }.mkString(", ")
    val names = scores.map(_._2)
    val branches = scores.zipWithIndex.map { case ((lang, s), idx) =>
      val rest = names.drop(idx + 1)
      val cond = if (rest.isEmpty) "TRUE" else rest.map(r => s"$s >= $r").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString(" ")
    s"""SELECT doc_id,
       | CASE WHEN ${names.mkString(" + ")} = 0 THEN 'und' $branches ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, $scoreDefs FROM documents)""".stripMargin
  }

  val langIdSql: String = s"$langIdBody\nORDER BY doc_id"

  /** Quality metrics: mirrors [[TextStats.tokensWs]]/[[TextStats.tokensBpeish]]/
    * [[TextStats.qualityScore]]. DuckDB regexp_replace needs the 'g' flag to
    * match Spark's replace-all semantics.
    */
  /** [[qualitySql]] without the trailing ORDER BY — embeddable as a CTE
    * (the composed corpus-prep oracle retargets it at the cleaned docs).
    */
  val qualitySqlBody: String = {
    val allStop = inList(TextStats.LangStopwords.flatMap(_._2))
    s"""SELECT doc_id, n_tokens, n_bpeish,
       | round(least(1.0, toks / 50.0)
       |   * (CASE WHEN avg_tok BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.6 END)
       |   * (CASE WHEN stop_ratio BETWEEN 0.02 AND 0.6 THEN 1.0 ELSE 0.5 END)
       |   * (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 1.0 - punct END), 6) AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS toks,
       |    (CAST(length(text) AS DOUBLE)
       |      - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))
       |      / CAST(length(text) AS DOUBLE) AS punct,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |      / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_tok,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w IN $allStop)) AS DOUBLE)
       |      / len(regexp_split_to_array(trim(text), '\\s+')) AS stop_ratio
       |  FROM documents)""".stripMargin
  }

  val qualitySql: String = s"$qualitySqlBody\nORDER BY doc_id"

  /** Brute-force cosine top-5 for queries vec_id<10 — shared by the
    * window-based (`sim_topk_brute`) and custom-operator
    * (`sim_topk_native`) queries, which must produce identical results.
    */
  val topkOracle: String =
    """WITH e AS (SELECT vec_id, unnest(embedding) AS x,
      |            unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
      |n AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM e GROUP BY 1),
      |q AS (SELECT vec_id AS qid, x AS qx, i FROM e WHERE vec_id < 10),
      |dot AS (SELECT q.qid, e.vec_id AS vid, sum(q.qx * e.x) AS dp
      |        FROM q JOIN e ON q.i = e.i WHERE e.vec_id <> q.qid GROUP BY 1, 2),
      |c AS (SELECT qid, vid, dp / (nq.nrm * nv.nrm) AS cos
      |      FROM dot JOIN n nq ON nq.vec_id = qid JOIN n nv ON nv.vec_id = vid),
      |r AS (SELECT qid, vid, round(cos, 6) AS cosim,
      |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM c)
      |SELECT qid, vid, cosim, rk FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** Full-LSH near-dup cluster derivation (CTE body; the consuming query
    * must open with `WITH RECURSIVE`) — shared by `dedup_clusters` and
    * `dedup_keep_best`. Replicates the production path independently:
    * minhash (8 salted md5 mins over 3-shingles) → 4 bands of 2 →
    * bucket-collision candidates → exact word-Jaccard ≥ 0.5 verification →
    * connected components. Components are computed by BFS reachability
    * (recursive CTE) — a different algorithm from Spark's min-label
    * propagation + pointer jumping, so agreement is evidence, not echo.
    */
  /** Sketch CTEs shared by the full-cluster and incremental oracles:
    * documents → 3-shingles → 8 salted-md5 minima → 4 band buckets.
    */
  val lshBucketCtes: String =
    """dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM dd),
      |sh AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s FROM x),
      |m AS (SELECT doc_id,
      |  min(md5('0|' || s)) AS mh0, min(md5('1|' || s)) AS mh1,
      |  min(md5('2|' || s)) AS mh2, min(md5('3|' || s)) AS mh3,
      |  min(md5('4|' || s)) AS mh4, min(md5('5|' || s)) AS mh5,
      |  min(md5('6|' || s)) AS mh6, min(md5('7|' || s)) AS mh7
      | FROM sh GROUP BY doc_id),
      |bkt AS (SELECT doc_id, unnest([md5(mh0||'|'||mh1), md5(mh2||'|'||mh3),
      |                               md5(mh4||'|'||mh5), md5(mh6||'|'||mh7)]) AS bucket FROM m)""".stripMargin

  /** Distinct word sets + sizes, for exact-Jaccard verification CTEs. */
  val wordSetCtes: String =
    """w AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word FROM documents),
      |c AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1)""".stripMargin

  val lshClusterCtesBody: String =
    s"""$lshBucketCtes,
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
      |$wordSetCtes,
      |ix AS (SELECT cand.id_a, cand.id_b, count(*) AS inter
      |       FROM cand JOIN w wa ON wa.doc_id = cand.id_a
      |                 JOIN w wb ON wb.doc_id = cand.id_b AND wb.word = wa.word
      |       GROUP BY 1, 2),
      |ed AS (SELECT ix.id_a, ix.id_b
      |       FROM ix JOIN c c1 ON c1.doc_id = ix.id_a JOIN c c2 ON c2.doc_id = ix.id_b
      |       WHERE round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM ed
      |          UNION ALL SELECT id_b, id_a FROM ed),
      |reach(rid, rlabel) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.dst, reach.rlabel FROM reach JOIN edges e ON e.src = reach.rid),
      |comp AS (SELECT rid, min(rlabel) AS cluster_id FROM reach GROUP BY rid),
      |clusters AS (SELECT d.doc_id AS id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id
      |             FROM documents d LEFT JOIN comp ON comp.rid = d.doc_id)""".stripMargin

  /** Incremental-dedup oracle: verified near-dup pairs touching the
    * delta (doc_id % 5 = 0), recomputed from scratch over the whole
    * corpus — the opposite derivation from the Spark side, which sketches
    * only the delta and probes a pre-built corpus index.
    */
  val incrementalLshOracle: String =
    s"""WITH $lshBucketCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |         WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0),
       |$wordSetCtes,
       |ix AS (SELECT cand.id_a, cand.id_b, count(*) AS inter
       |       FROM cand JOIN w wa ON wa.doc_id = cand.id_a
       |                 JOIN w wb ON wb.doc_id = cand.id_b AND wb.word = wa.word
       |       GROUP BY 1, 2)
       |SELECT ix.id_a, ix.id_b,
       | round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) AS jaccard
       |FROM ix JOIN c c1 ON c1.doc_id = ix.id_a JOIN c c2 ON c2.doc_id = ix.id_b
       |WHERE round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Batch contract of the streaming ingest gate (StreamNearDup): docs
    * arrive in waves `doc_id % 3` (0 = seed, then two ingest batches). A
    * pair is emitted iff its band buckets collide AND true word-set
    * Jaccard ≥ 0.5, versioned by the LATER doc's wave — wave-0-only
    * pairs never appear because the seed is indexed, not probed. The
    * banding/verify algebra is the same as [[incrementalLshOracle]];
    * only the wave filter and version column differ.
    */
  val ingestGateOracle: String =
    s"""WITH $lshBucketCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |         WHERE greatest(a.doc_id % 3, b.doc_id % 3) >= 1),
       |$wordSetCtes,
       |ix AS (SELECT cand.id_a, cand.id_b, count(*) AS inter
       |       FROM cand JOIN w wa ON wa.doc_id = cand.id_a
       |                 JOIN w wb ON wb.doc_id = cand.id_b AND wb.word = wa.word
       |       GROUP BY 1, 2)
       |SELECT ix.id_a, ix.id_b,
       | round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) AS jaccard,
       | CAST(greatest(ix.id_a % 3, ix.id_b % 3) AS BIGINT) AS ingest_version
       |FROM ix JOIN c c1 ON c1.doc_id = ix.id_a JOIN c c2 ON c2.doc_id = ix.id_b
       |WHERE round(CAST(inter AS DOUBLE) / (c1.n + c2.n - inter), 6) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  /** Cluster → best-quality representative (quality desc, id asc). */
  val keepBestOracle: String =
    s"""WITH RECURSIVE $lshClusterCtesBody,
       |q AS (SELECT doc_id, quality FROM ($qualitySql)),
       |jn AS (SELECT clusters.id, clusters.cluster_id, q.quality
       |       FROM clusters JOIN q ON q.doc_id = clusters.id)
       |SELECT cluster_id, id AS kept_id, quality FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, id) AS rn FROM jn) WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** Cross-modal dedup resolution: text-LSH clusters ∪ image perceptual
    * groups → star edges → BFS connected components → keep-best by
    * quality. The image signal is derived here by pure variant
    * arithmetic (`doc_id % 50` — renderMedia plants that structure, and
    * the `mm_image_dedup_check` gate independently proves the decoded
    * aHash grouping equals it), while the Spark side uses the REAL
    * decoded aHash — so this gate verifies the codec round-trip AND the
    * multi-signal composition together.
    */
  val multimodalOracle: String =
    s"""WITH RECURSIVE $lshClusterCtesBody,
       |img AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY doc_id % 50) AS grp
       |        FROM documents),
       |med AS (SELECT cluster_id AS src, id AS dst FROM clusters WHERE id <> cluster_id
       |        UNION SELECT id, cluster_id FROM clusters WHERE id <> cluster_id
       |        UNION SELECT grp, doc_id FROM img WHERE doc_id <> grp
       |        UNION SELECT doc_id, grp FROM img WHERE doc_id <> grp),
       |mreach(rid, rlabel) AS (
       |  SELECT src, src FROM med
       |  UNION
       |  SELECT e.dst, mreach.rlabel FROM mreach JOIN med e ON e.src = mreach.rid),
       |mcomp AS (SELECT rid, min(rlabel) AS mcid FROM mreach GROUP BY rid),
       |mcl AS (SELECT d.doc_id AS id, coalesce(mcomp.mcid, d.doc_id) AS cluster_id
       |        FROM documents d LEFT JOIN mcomp ON mcomp.rid = d.doc_id),
       |q AS (SELECT doc_id, quality FROM ($qualitySql)),
       |jn AS (SELECT mcl.id, mcl.cluster_id, q.quality
       |       FROM mcl JOIN q ON q.doc_id = mcl.id),
       |kb AS (SELECT cluster_id, id AS kept_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, id) AS rn FROM jn) WHERE rn = 1)
       |SELECT jn.id, jn.cluster_id, kb.kept_id
       |FROM jn JOIN kb ON kb.cluster_id = jn.cluster_id
       |ORDER BY jn.id""".stripMargin

  /** Oracle for `mm_audio_features`: the REAL WAV decode path gated by
    * recomputing every PCM SAMPLE in SQL. The synthetic tone is closed
    * form from doc_id (`Multimodal.renderSyntheticWav`: two harmonics of
    * f0 = 220 + (doc_id%50%16)·55 Hz at 8 kHz, truncated to int16, a
    * 48-bit doc_id/50 watermark in the first 48 samples' LSBs), and
    * `Wav.encode16`→`parse16` is byte-faithful — so DuckDB regenerating
    * the samples and aggregating RMS = √(Σs²/n) and zcr =
    * crossings/(frames−1) must equal what Spark DECODED from the bytes.
    * Expression order mirrors the Scala arithmetic token for token
    * (((2π)·f0)·t etc.) so both engines round identically at every step;
    * the sample values are small integers and Σs² < 2^53, so the
    * aggregates are exact in double and the round(2)/round(4) compare is
    * deterministic. This converts the audio family's last rows-only
    * feature query (r10 verdict missing #2) without a twin: the DECLARED
    * query itself is the gate.
    */
  val mmAudioFeaturesOracle: String = {
    val f0 = "(220.0 + ((d.doc_id % 50) % 16) * 55.0)"
    s"""WITH g AS (SELECT unnest(generate_series(0, 1999)) AS i),
       |s AS (SELECT d.doc_id, g.i,
       |      CAST(trunc(sin(((2 * pi()) * $f0) * (g.i / 8000.0)) * 10000
       |               + sin((((2 * pi()) * $f0) * 2) * (g.i / 8000.0)) * 3000)
       |           AS BIGINT) AS s0
       |      FROM documents d CROSS JOIN g),
       |w AS (SELECT doc_id, i,
       |      CASE WHEN i < 48
       |           THEN (s0 & -2) | ((doc_id // 50 >> i) & 1)
       |           ELSE s0 END AS smp
       |      FROM s),
       |lg AS (SELECT doc_id, i, smp,
       |       lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM w),
       |f AS (SELECT doc_id,
       |      sqrt(sum(smp * smp) / 2000.0) AS rms,
       |      sum(CASE WHEN i > 0 AND ((smp >= 0) <> (prev >= 0))
       |          THEN 1 ELSE 0 END) / 1999.0 AS zcr
       |      FROM lg GROUP BY doc_id)
       |SELECT doc_id AS media_id, TRUE AS decode_ok,
       |  CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
       |  CAST(2000 AS BIGINT) AS n_frames, CAST(250.0 AS DOUBLE) AS duration_ms,
       |  round(rms, 2) AS rms, round(zcr, 4) AS zcr
       |FROM f ORDER BY media_id""".stripMargin
  }

  /** Shared CTE body for the image-decode oracles: regenerates every
    * PIXEL of the synthetic PNG corpus in SQL. `renderPattern` is pure
    * integer arithmetic of (variant, x, y) — and only the LOW 24 BITS of
    * `seed = variant * 0x9E3779B97F4A7C15L` are ever consumed (block
    * uses bits 0-7 additively, g bits 8-15, b bits 16-23), so DuckDB
    * computes `seed24 = (variant * 0x4A7C15) & 0xFFFFFF` without 64-bit
    * overflow. The watermark LSB lands on pixel indices n·stride
    * (stride = w·h/48), PNG INT_RGB is lossless, so the decoded pixels
    * ARE these values. aHash: integer gray sums per 8×8 cell, cell
    * means as exact double divisions, the global mean summed in CELL
    * ORDER (matching the Scala index-order fold), bit 63 mapped to the
    * sign bit. Produces CTEs up to `ah(doc_id, ahash)` and
    * `mn(doc_id, w, h, sr, sg, sb, n)`.
    */
  private val imagePixelCtes: String =
    s"""d AS (SELECT doc_id, doc_id // 50 AS wm,
       |     48 + ((doc_id % 50) % 4) * 8 AS w, 32 + ((doc_id % 50) % 3) * 8 AS h,
       |     ((doc_id % 50) * 4881429) & 16777215 AS seed24 FROM documents),
       |px AS (SELECT doc_id, w, h, wm, seed24, (w * h) // 48 AS stride,
       |       unnest(generate_series(0, w * h - 1)) AS idx FROM d),
       |p3 AS (SELECT doc_id, w, h, idx % w AS x, idx // w AS y,
       |       (((idx % w) // 4) * 31 + ((idx // w) // 4) * 17 + seed24) & 255 AS block,
       |       (seed24 >> 8) & 255 AS gseed, (seed24 >> 16) & 255 AS b0,
       |       stride, wm, idx FROM px),
       |p4 AS (SELECT doc_id, w, h, x, y,
       |       (((x * 255) // (w - 1)) + block) & 255 AS r,
       |       xor((y * 255) // (h - 1), gseed) AS g,
       |       CASE WHEN idx % stride = 0 AND idx // stride < 48
       |            THEN (b0 & -2) | ((wm >> (idx // stride)) & 1) ELSE b0 END AS b
       |       FROM p3),
       |mn AS (SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
       |       sum(r) AS sr, sum(g) AS sg, sum(b) AS sb, count(*) AS n FROM p4 GROUP BY 1),
       |cl AS (SELECT doc_id, least(y * 8 // h, 7) * 8 + least(x * 8 // w, 7) AS cell,
       |       sum((r * 299 + g * 587 + b * 114) // 1000) AS s, count(*) AS c
       |       FROM p4 GROUP BY 1, 2),
       |cm AS (SELECT doc_id, cell, CAST(s AS DOUBLE) / c AS cmean FROM cl),
       |gm AS (SELECT doc_id, sum(cmean ORDER BY cell) / 64.0 AS gmean FROM cm GROUP BY 1),
       |ah AS (SELECT cm.doc_id, CAST(
       |       sum(CASE WHEN cmean >= gmean AND cell < 63 THEN CAST(1 AS BIGINT) << cell ELSE 0 END)
       |       + sum(CASE WHEN cmean >= gmean AND cell = 63 THEN -9223372036854775807 - 1 ELSE 0 END)
       |       AS BIGINT) AS ahash
       |       FROM cm JOIN gm ON gm.doc_id = cm.doc_id GROUP BY 1)""".stripMargin

  /** Oracle for `mm_image_features`: the REAL ImageIO decode path gated
    * by per-pixel recomputation ([[imagePixelCtes]] — the audio oracle's
    * discipline applied to the image codec). Channel means are rounded
    * by INTEGER-EXACT half-up, `((sr·200 + n) // (2n)) / 100`, which
    * provably equals Spark's `round(double, 2)` here: the doubles'
    * shortest decimal representation preserves the exact rational's
    * 2-decimal half-up for denominators ≤ 3456 (a plain DuckDB
    * `round()` diverged on exact .xx5 boundaries — 10 of 500 rows at
    * sf0.001).
    */
  val mmImageFeaturesOracle: String =
    s"""WITH $imagePixelCtes
       |SELECT mn.doc_id AS media_id, TRUE AS decode_ok,
       |  CAST(mn.w AS INTEGER) AS width, CAST(mn.h AS INTEGER) AS height,
       |  ((CAST(sr AS BIGINT) * 200 + n) // (2 * n)) / 100.0 AS mean_r,
       |  ((CAST(sg AS BIGINT) * 200 + n) // (2 * n)) / 100.0 AS mean_g,
       |  ((CAST(sb AS BIGINT) * 200 + n) // (2 * n)) / 100.0 AS mean_b,
       |  ah.ahash
       |FROM mn JOIN ah ON ah.doc_id = mn.doc_id ORDER BY media_id""".stripMargin

  /** Oracle for `mm_image_neardup`: the decoded-aHash VALUE (not just
    * its grouping — `mm_image_dedup_check` already gates that via
    * variant arithmetic) recomputed per pixel, then the same
    * min-per-(decode_ok, ahash) dup flag.
    */
  val mmImageNeardupOracle: String =
    s"""WITH $imagePixelCtes
       |SELECT doc_id AS media_id, ahash,
       |  CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY ahash)
       |       THEN 1 ELSE 0 END AS is_dup
       |FROM ah ORDER BY media_id""".stripMargin

  /** The cleaned-corpus export: documents surviving keep-best-per-LSH-
    * cluster, with full payload columns.
    */
  val dedupExportOracle: String =
    s"""WITH RECURSIVE $lshClusterCtesBody,
       |q AS (SELECT doc_id, quality FROM ($qualitySql)),
       |jn AS (SELECT clusters.id, clusters.cluster_id, q.quality
       |       FROM clusters JOIN q ON q.doc_id = clusters.id),
       |kept AS (SELECT id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, id) AS rn FROM jn) WHERE rn = 1)
       |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
       |JOIN kept ON kept.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The composed corpus-prep pipeline (`corpus_prep_e2e`): C4-style
    * clean → quality gate ≥ 0.5 → LSH near-dup keep-best → sequence
    * packing, as ONE CTE chain. Every stage oracle is reused verbatim but
    * RETARGETED at the previous stage's CTE (the `FROM documents` →
    * `FROM cleaned`/`FROM gated` rewrite), so the gate checks the
    * composition — what text each stage actually consumed — not just the
    * stages in isolation. Quality, shingling, and token counts all run
    * over the CLEANED text, exactly as the Spark pipeline does.
    */
  val corpusPrepOracle: String = {
    def over(src: String, sql: String) = sql.replace("FROM documents", s"FROM $src")
    s"""WITH RECURSIVE cleaned AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(regexp_replace(text,
       |      '${TextStats.EmailPattern}', '<EMAIL>', 'g'),
       |      '${TextStats.UrlPattern}', '<URL>', 'g'), '\\s+', ' ', 'g')) AS text
       |  FROM documents),
       |qual AS (${over("cleaned", qualitySqlBody)}),
       |gated AS (SELECT cleaned.doc_id, cleaned.text, qual.quality
       |          FROM cleaned JOIN qual USING (doc_id) WHERE qual.quality >= 0.5),
       |${over("gated", lshClusterCtesBody)},
       |jn AS (SELECT clusters.id, clusters.cluster_id, g.quality
       |       FROM clusters JOIN gated g ON g.doc_id = clusters.id),
       |kept AS (SELECT id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, id) AS rn FROM jn) WHERE rn = 1),
       |surv AS (SELECT g.doc_id, g.text FROM gated g JOIN kept ON kept.id = g.doc_id),
       |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |      FROM surv),
       |cum AS (SELECT doc_id, n_tokens,
       |        CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tok_end FROM t)
       |SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
       |  CAST(floor((tok_end - n_tokens) / 2048) AS BIGINT) AS seq_first,
       |  greatest(CAST(floor((tok_end - n_tokens) / 2048) AS BIGINT),
       |           CAST(floor((tok_end - 1) / 2048) AS BIGINT)) AS seq_last
       |FROM cum ORDER BY doc_id""".stripMargin
  }

  /** `dedup_simhash_md5_pairs`: replay the 60-bit md5 SimHash exactly —
    * per-word md5, bit b of the signature from hex digit b/4's bit b%4,
    * ±1 weight sums, sign threshold (> 0), 4×15-bit banded candidates,
    * hamming ≤ 3. The 60 sum terms and the signature reassembly are
    * generated, not hand-written, so the two engines share ONE formula.
    */
  val simhashMd5PairsOracle: String = {
    val sums = (0 until 60).map { b =>
      s"sum(CASE WHEN (CAST(strpos('0123456789abcdef', substr(m, ${b / 4 + 1}, 1)) - 1 AS BIGINT) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val sig = (0 until 60)
      .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    val bandSel = (0 until 4).map { i =>
      s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         | AND ((a.sig >> ${15 * i}) & 32767) = ((b.sig >> ${15 * i}) & 32767)""".stripMargin
    }.mkString("\nUNION\n")
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |h AS (SELECT doc_id, md5(word) AS m FROM w),
       |bits AS (SELECT doc_id, $sums FROM h GROUP BY 1),
       |sig AS (SELECT doc_id, $sig AS sig FROM bits),
       |cand AS ($bandSel)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS dist
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY id_a, id_b""".stripMargin
  }

  /** Oracle for `dedup_substring_exact`: every-position 40-char gram
    * fingerprints (md5 — same string, same hash in both engines), hub
    * grams above the df cap dropped, doc pairs counted by shared
    * distinct fingerprints. Replays [[graft.ext.SubstringDedup
    * .sharedGramPairs]] with DuckDB's generate_series/substr.
    */
  /** ASCII guard shared by every char-gram oracle: the Spark substring
    * kernels window BYTES (octet_length gates, byte-window hashing)
    * while these oracles window CHARS (len/substr) — the two agree ONLY
    * on ASCII text, which the repo's own multibyte spec pins as a real
    * divergence the oracle cannot replay. A future non-ASCII fixture
    * must fail LOUDLY here (DuckDB error()) instead of silently
    * hash-mismatching — the guard projection feeds every downstream
    * filter, so it is evaluated for every document, including ones a
    * char-length gate would have (wrongly) excluded. (ADVICE r8.)
    */
  private val asciiDocsCte: String =
    """docsrc AS (SELECT doc_id,
      |  CASE WHEN strlen(text) <> len(text)
      |       THEN error('non-ASCII document ' || doc_id ||
      |                  ': byte-window kernels vs char-based oracle')
      |       ELSE text END AS text FROM documents)""".stripMargin

  /** Oracle for `text_bpe_apply`: the SAME fixed merge cascade the Spark
    * side folds into nested literal `replace` calls, generated here as
    * nested DuckDB `replace` — one constant list, two engines (the
    * `dedup_simhash_md5_pairs` generated-formula discipline). Sentinel
    * wrapping makes leftmost non-overlapping replace equal greedy BPE on
    * both sides (every symbol's delimiters are its own — see
    * [[graft.ext.Bpe.encodeTokens]]); sentinels are chr(1)/chr(2),
    * emitted as chr() calls so no control byte sits in the SQL text.
    * The full token sequence crosses engines as an md5, the count as a
    * BIGINT.
    */
  def bpeApplyOracle(merges: Seq[(String, String)]): String = {
    def q(x: String) = "'" + x.replace("'", "''") + "'"
    def sym(x: String) = s"chr(1)||${q(x)}||chr(1)"
    val cascade = merges.foldLeft("s0") { case (e, (a, b)) =>
      s"replace($e, ${sym(a)}||${sym(b)}, ${sym(a + b)})"
    }
    s"""WITH $asciiDocsCte,
       |w AS (SELECT doc_id,
       |        regexp_replace(replace(text, ' ', chr(2)),
       |                       '(?s)(.)', chr(1)||'\\1'||chr(1), 'g') AS s0
       |      FROM docsrc),
       |j AS (SELECT doc_id, replace($cascade, chr(1)||chr(1), ' ') AS j FROM w),
       |enc AS (SELECT doc_id, substr(j, 2, greatest(len(j) - 2, 0)) AS toks FROM j)
       |SELECT doc_id,
       |  CAST(CASE WHEN len(toks) = 0 THEN 0
       |            ELSE len(string_split(toks, ' ')) END AS BIGINT) AS n_tokens,
       |  md5(toks) AS tokens_md5
       |FROM enc ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `text_bpe_train` (new r9): the full 8-round learning
    * loop — pair-count → argmax → greedy merge-apply — unrolled into
    * one CTE program, one (pairs, top, vocab) stage per round. The
    * lookaround regex that kept this rows-only is sidestepped exactly
    * the way [[bpeApplyOracle]] encodes: sentinel-wrap the symbol
    * string, and leftmost non-overlapping literal `replace` IS the
    * greedy merge pass — with the pair coming from the round's argmax
    * ROW (DuckDB `replace` takes column args), not a constant. The
    * argmax tie-break (cnt desc, lft, rgt — binary string order both
    * engines) and the exhaustion contract (an empty round's 1-row CTE
    * is empty, emptying every later round — same truncated table Spark
    * returns) replay [[graft.ext.Bpe.train]] exactly.
    */
  def bpeTrainOracle(rounds: Int): String = {
    require(rounds >= 1)
    // sentinel-apply of round k's (lft, rgt) to a space-joined symbol
    // string: wrap, literal-replace with the argmax row's columns, unwrap
    def applied(sym: String): String = {
      val s = s"chr(1) || replace($sym, ' ', chr(1)||chr(1)) || chr(1)"
      val rep = s"replace($s, chr(1)||lft||chr(1)||chr(1)||rgt||chr(1)," +
        " chr(1)||lft||rgt||chr(1))"
      val back = s"replace($rep, chr(1)||chr(1), ' ')"
      s"substr($back, 2, len($back) - 2)"
    }
    val stages = (1 to rounds).flatMap { k =>
      val pairs =
        s"""p$k AS (SELECT t[i] AS lft, t[i+1] AS rgt, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, string_split(sym, ' ') AS t FROM v${k - 1}),
           |       unnest(range(1, len(t))) u(i)
           |  GROUP BY 1, 2)""".stripMargin
      val top =
        s"t$k AS (SELECT lft, rgt, cnt FROM p$k ORDER BY cnt DESC, lft, rgt LIMIT 1)"
      val next =
        if (k == rounds) Nil
        else Seq(s"v$k AS (SELECT freq, ${applied("sym")} AS sym FROM v${k - 1}, t$k)")
      Seq(pairs, top) ++ next
    }
    val merges = (1 to rounds).map { k =>
      s"SELECT $k AS round, lft, rgt, lft || rgt AS merged, cnt FROM t$k"
    }
    s"""WITH $asciiDocsCte,
       |w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM docsrc)
       |  WHERE len(word) > 0 GROUP BY word),
       |v0 AS (SELECT freq, array_to_string(string_split(word, ''), ' ') AS sym FROM w),
       |${stages.mkString(",\n")}
       |SELECT round, lft, rgt, merged, cnt FROM (
       |${merges.mkString("\nUNION ALL ")}) ORDER BY round""".stripMargin
  }

  def substringPairsOracle(l: Int, minShared: Int, maxDf: Int): String =
    s"""WITH $asciiDocsCte,
       |x AS (SELECT doc_id, text, unnest(generate_series(1, len(text) - ${l - 1})) AS i
       |           FROM docsrc WHERE len(text) >= $l),
       |g AS (SELECT DISTINCT doc_id, md5(substr(text, i, $l)) AS h FROM x),
       |kept AS (SELECT g.doc_id, g.h FROM g
       |         JOIN (SELECT h FROM g GROUP BY h HAVING count(*) <= $maxDf) f
       |           ON f.h = g.h),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= $minShared
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for `dedup_substring_winnowed_md5`: the winnow replayed as a
    * window min — every w-gram window contributes its minimum md5 hash
    * (value semantics, so no tie-break rule is needed), docs with fewer
    * than w grams contribute the min of all their grams. `i <=
    * greatest(n-(w-1), 1)` selects exactly the full windows (plus the
    * single partial window of a short doc); the frame clips at the
    * partition end, which for those rows IS the full window.
    */
  def substringWinnowedMd5Oracle(l: Int, w: Int, minShared: Int,
                                 maxDf: Int): String =
    s"""WITH $asciiDocsCte,
       |x AS (SELECT doc_id, text, len(text) - ${l - 1} AS n,
       |            unnest(generate_series(1, len(text) - ${l - 1})) AS i
       |           FROM docsrc WHERE len(text) >= $l),
       |ph AS (SELECT doc_id, n, i, md5(substr(text, i, $l)) AS h FROM x),
       |wm AS (SELECT doc_id, n, i,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh
       |       FROM ph),
       |g AS (SELECT DISTINCT doc_id, mh AS h FROM wm
       |      WHERE i <= greatest(n - ${w - 1}, 1)),
       |kept AS (SELECT g.doc_id, g.h FROM g
       |         JOIN (SELECT h FROM g GROUP BY h HAVING count(*) <= $maxDf) f
       |           ON f.h = g.h),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= $minShared
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for `dedup_substring_gate`: the streaming substring gate's
    * batch contract replayed. Waves are doc_id % 3 (wave 0 seeds the
    * index and emits nothing); a pair is detected by the LATER of its two
    * docs' waves — the batch whose probe first sees both sides — so the
    * whole state machine replays as one winnowed-gram self-join with
    * `ingest_version = greatest(wave_a, wave_b)`. The hub cap (maxDf)
    * never binds at oracle scale (total docs < maxDf bounds every df), so
    * the replay needs no hub CTE; the cap's behavior is pinned by
    * StreamSubstringGateSpec instead.
    */
  def substringGateOracle(l: Int, w: Int, minShared: Int): String =
    s"""WITH $asciiDocsCte,
       |x AS (SELECT doc_id, text, len(text) - ${l - 1} AS n,
       |            unnest(generate_series(1, len(text) - ${l - 1})) AS i
       |           FROM docsrc WHERE len(text) >= $l),
       |ph AS (SELECT doc_id, n, i, md5(substr(text, i, $l)) AS h FROM x),
       |wm AS (SELECT doc_id, n, i,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh
       |       FROM ph),
       |g AS (SELECT DISTINCT doc_id, mh AS h FROM wm
       |      WHERE i <= greatest(n - ${w - 1}, 1)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
       |      FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared,
       |       CAST(greatest(id_a % 3, id_b % 3) AS BIGINT) AS ingest_version
       |FROM p
       |WHERE n_shared >= $minShared AND greatest(id_a % 3, id_b % 3) > 0
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for `corpus_ingest_e2e`: the composed LM → exact →
    * substring gate chain replayed wave by wave. The CTE prefix computes
    * the three stage primitives ONCE over the whole corpus — the wave-0
    * bigram LM (the `streamLmGateOracle` body), every doc's md5 text
    * signature, and every doc's winnowed md5 fingerprints (the
    * `substringWinnowedMd5Oracle` body) — and each ingest wave is then
    * an UNROLLED block: LM verdicts, keep-first exact dedup against the
    * accumulated admitted set, pair-level substring overlap against it,
    * and recursive-CTE min-label connected components for the in-batch
    * pairs (the `lshClusterCtesBody` CC discipline). Wave v's admitted
    * set feeds wave v+1's block — the cross-wave recursion is unrolled,
    * not recomputed, so both engines walk the identical state machine.
    * The hub cap (maxDf) never binds at oracle scale and is omitted, as
    * in `substringGateOracle`.
    */
  def ingestPipelineOracle(nWaves: Int, frac: Double, l: Int, w: Int,
                           minShared: Int): String = {
    def waveBlock(v: Int, adm: String): String =
      s"""w${v}_all AS MATERIALIZED (SELECT doc_id FROM pdocs WHERE doc_id % $nWaves = $v),
         |w${v}_lmfail AS MATERIALIZED (SELECT w.doc_id,
         |    CASE WHEN sc.doc_id IS NULL THEN 'lm_short' ELSE 'lm' END AS reason
         |  FROM w${v}_all w LEFT JOIN sc ON sc.doc_id = w.doc_id
         |  WHERE sc.doc_id IS NULL OR sc.avg_nll > (SELECT c FROM ceil)),
         |w${v}_lmpass AS MATERIALIZED (SELECT w.doc_id FROM w${v}_all w
         |  JOIN sc ON sc.doc_id = w.doc_id
         |  WHERE sc.avg_nll <= (SELECT c FROM ceil)),
         |w${v}_exfail AS MATERIALIZED (
         |  SELECT s.doc_id FROM sigs s JOIN w${v}_lmpass p ON p.doc_id = s.doc_id
         |  WHERE s.sig IN (SELECT sig FROM sigs JOIN $adm USING (doc_id))
         |  UNION
         |  SELECT s.doc_id FROM sigs s JOIN w${v}_lmpass p ON p.doc_id = s.doc_id
         |  JOIN (SELECT s2.sig, min(s2.doc_id) AS m FROM sigs s2
         |        JOIN w${v}_lmpass p2 ON p2.doc_id = s2.doc_id GROUP BY 1) mm
         |    ON mm.sig = s.sig AND s.doc_id <> mm.m),
         |w${v}_expass AS MATERIALIZED (SELECT doc_id FROM w${v}_lmpass
         |  WHERE doc_id NOT IN (SELECT doc_id FROM w${v}_exfail)),
         |w${v}_crosssub AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
         |    SELECT gb.doc_id, ga.doc_id AS aid, count(*) AS ns
         |    FROM g gb JOIN g ga ON ga.h = gb.h
         |    JOIN w${v}_expass p ON p.doc_id = gb.doc_id
         |    JOIN $adm a ON a.doc_id = ga.doc_id
         |    GROUP BY 1, 2) q WHERE q.ns >= $minShared),
         |w${v}_subcand AS MATERIALIZED (SELECT doc_id FROM w${v}_expass
         |  WHERE doc_id NOT IN (SELECT doc_id FROM w${v}_crosssub)),
         |w${v}_prs AS MATERIALIZED (SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM g x JOIN g y ON x.h = y.h AND x.doc_id < y.doc_id
         |  JOIN w${v}_subcand cx ON cx.doc_id = x.doc_id
         |  JOIN w${v}_subcand cy ON cy.doc_id = y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $minShared),
         |w${v}_edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM w${v}_prs
         |  UNION ALL SELECT id_b, id_a FROM w${v}_prs),
         |w${v}_reach(rid, rlabel) AS (
         |  SELECT src, src FROM w${v}_edges
         |  UNION
         |  SELECT e.dst, w${v}_reach.rlabel FROM w${v}_reach
         |  JOIN w${v}_edges e ON e.src = w${v}_reach.rid),
         |w${v}_comp AS MATERIALIZED (SELECT rid, min(rlabel) AS cid FROM w${v}_reach GROUP BY 1),
         |w${v}_subfail AS MATERIALIZED (SELECT doc_id FROM w${v}_crosssub
         |  UNION SELECT rid FROM w${v}_comp WHERE rid <> cid),
         |w${v}_adm AS MATERIALIZED (SELECT doc_id FROM w${v}_subcand
         |  WHERE doc_id NOT IN (SELECT rid FROM w${v}_comp WHERE rid <> cid)),
         |adm$v AS MATERIALIZED (SELECT doc_id FROM $adm UNION SELECT doc_id FROM w${v}_adm)""".stripMargin
    val blocks = (1 until nWaves)
      .map(v => waveBlock(v, if (v == 1) "adm0" else s"adm${v - 1}"))
    val fates = (1 until nWaves).map(v =>
      s"""  SELECT doc_id, $v AS wave, 0 AS admitted, reason FROM w${v}_lmfail
         |  UNION ALL SELECT doc_id, $v, 0, 'exact' FROM w${v}_exfail
         |  UNION ALL SELECT doc_id, $v, 0, 'substring' FROM w${v}_subfail
         |  UNION ALL SELECT doc_id, $v, 1, 'ok' FROM w${v}_adm""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE
       |$asciiDocsCte,
       |pdocs AS MATERIALIZED (SELECT doc_id, text FROM docsrc
       |          UNION ALL
       |          SELECT doc_id + 100000, text FROM docsrc WHERE doc_id % 17 = 3),
       |dd AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM pdocs),
       |xx AS MATERIALIZED (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |       FROM dd WHERE len(ws) >= 2),
       |bg AS MATERIALIZED (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM xx),
       |c12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM bg
       |        WHERE doc_id % $nWaves = 0 GROUP BY 1, 2),
       |c1 AS MATERIALIZED (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
       |vv AS MATERIALIZED (SELECT count(DISTINCT w) AS v FROM (
       |         SELECT w1 AS w FROM bg WHERE doc_id % $nWaves = 0
       |         UNION ALL SELECT w2 FROM bg WHERE doc_id % $nWaves = 0)),
       |tt AS MATERIALIZED (SELECT bg.doc_id,
       |         CAST(round(-ln((coalesce(c12.c12, 0) + 0.5) /
       |           (coalesce(c1.c1, 0) + 0.5 * (SELECT v FROM vv))), 9)
       |           AS DECIMAL(28,9)) AS nll
       |       FROM bg
       |       LEFT JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
       |       LEFT JOIN c1 ON c1.w1 = bg.w1
       |       WHERE bg.doc_id % $nWaves <> 0),
       |sc AS MATERIALIZED (SELECT doc_id, round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll
       |       FROM tt GROUP BY 1),
       |ceil AS MATERIALIZED (SELECT $frac * ln(v) AS c FROM vv),
       |sigs AS MATERIALIZED (SELECT doc_id, md5(text) AS sig FROM pdocs),
       |gx AS MATERIALIZED (SELECT doc_id, text, len(text) - ${l - 1} AS n,
       |        unnest(generate_series(1, len(text) - ${l - 1})) AS i
       |       FROM pdocs WHERE len(text) >= $l),
       |gph AS MATERIALIZED (SELECT doc_id, n, i, md5(substr(text, i, $l)) AS h FROM gx),
       |gwm AS MATERIALIZED (SELECT doc_id, n, i,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh
       |       FROM gph),
       |g AS MATERIALIZED (SELECT DISTINCT doc_id, mh AS h FROM gwm
       |      WHERE i <= greatest(n - ${w - 1}, 1)),
       |adm0 AS MATERIALIZED (SELECT doc_id FROM pdocs WHERE doc_id % $nWaves = 0),
       |${blocks.mkString(",\n")}
       |SELECT doc_id, wave, admitted, reason FROM (
       |$fates)
       |ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `text_dup_span_stats`: per-position L-gram duplication
    * flags (gram present in ≥ 2 distinct docs), aggregated per doc.
    */
  def dupSpanStatsOracle(l: Int): String =
    s"""WITH $asciiDocsCte,
       |x AS (SELECT doc_id, text, unnest(generate_series(1, len(text) - ${l - 1})) AS i
       |           FROM docsrc WHERE len(text) >= $l),
       |ph AS (SELECT doc_id, md5(substr(text, i, $l)) AS h FROM x),
       |dfh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM ph GROUP BY 1)
       |        WHERE nd >= 2)
       |SELECT ph.doc_id, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN dfh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |       round(CAST(sum(CASE WHEN dfh.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS dup_frac
       |FROM ph LEFT JOIN dfh ON dfh.h = ph.h
       |GROUP BY ph.doc_id ORDER BY ph.doc_id""".stripMargin

  /** Oracle for `text_line_dedup`: the whole cross-document line-level
    * boilerplate removal replayed — the deterministic lined-corpus
    * derivation (fixed-width word lines + planted per-source header and
    * per-lang footer), md5 line keying, distinct-doc frequency, the
    * ≥ minDf drop, and the position-ordered reassembly (string_agg with
    * ORDER BY replays [[graft.ext.LineDedup]]'s sorted collect_list).
    */
  def lineDedupOracle(minDf: Int, wordsPerLine: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws, lang, source FROM documents),
       |lined AS (SELECT doc_id,
       |  '== ' || source || ' header ==' || chr(10) ||
       |  array_to_string(list_transform(range(CAST(ceil(len(ws) / $wordsPerLine.0) AS INT)),
       |    g -> array_to_string(ws[g * $wordsPerLine + 1 : g * $wordsPerLine + $wordsPerLine], ' ')), chr(10)) ||
       |  chr(10) || '-- ' || lang || ' footer --' AS text FROM w),
       |l AS (SELECT doc_id,
       |      unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos,
       |      unnest(string_split(text, chr(10))) AS ln FROM lined),
       |lk AS (SELECT doc_id, pos, ln, md5(trim(ln)) AS k, trim(ln) <> '' AS content FROM l),
       |boiler AS (SELECT k FROM (
       |           SELECT k, count(*) AS df FROM (SELECT DISTINCT k, doc_id FROM lk WHERE content)
       |           GROUP BY 1) WHERE df >= $minDf),
       |kept AS (SELECT doc_id, pos, ln FROM lk
       |         WHERE NOT (content AND k IN (SELECT k FROM boiler))),
       |reb AS (SELECT doc_id, string_agg(ln, chr(10) ORDER BY pos) AS text_clean,
       |        count(*) AS n_kept FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines FROM lined)
       |SELECT tot.doc_id, tot.n_lines,
       |  tot.n_lines - coalesce(reb.n_kept, 0) AS n_dropped,
       |  coalesce(reb.text_clean, '') AS text_clean
       |FROM tot LEFT JOIN reb ON reb.doc_id = tot.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  /** Oracle for `events_funnel_n`: the ordered-sequence funnel over an
    * ARBITRARY stage list — one CTE per stage, each anchored strictly
    * after the previous stage's earliest qualifying timestamp, assembled
    * with left joins off stage 0. Generated from the same stage list the
    * Spark fold consumes, so adding a stage changes both sides in one
    * place.
    */
  def funnelOracle(stages: Seq[String]): String = {
    require(stages.size >= 2, "a funnel needs at least two stages")
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      if (i == 0)
        s"""s0 AS (SELECT user_id, min(ts) AS t_$st FROM events
           |      WHERE event_type = '$st' GROUP BY 1)""".stripMargin
      else
        s"""s$i AS (SELECT e.user_id, min(e.ts) AS t_$st FROM events e
           |      JOIN s${i - 1} p ON p.user_id = e.user_id AND e.ts > p.t_${stages(i - 1)}
           |      WHERE e.event_type = '$st' GROUP BY 1)""".stripMargin
    }
    val cols = stages.zipWithIndex
      .map { case (st, i) => s"s$i.t_$st AS t_$st" }.mkString(", ")
    val stageExpr = stages.zipWithIndex.tail
      .map { case (st, i) => s"CAST(s$i.t_$st IS NOT NULL AS INTEGER)" }
      .mkString("1 + ", " + ", "")
    val joins = (1 until stages.size)
      .map(i => s"LEFT JOIN s$i ON s$i.user_id = s0.user_id").mkString(" ")
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT s0.user_id, $cols, $stageExpr AS stage
       |FROM s0 $joins
       |ORDER BY s0.user_id""".stripMargin
  }

  /** Oracle for `text_lm_score`: add-k-smoothed bigram LM trained on the
    * doc_id % 13 slice, mean per-bigram surprisal for every other doc.
    * Surprisal terms round to 9 dp and sum as DECIMAL(28,9) — exact,
    * order-independent addition, so the single-node replay reproduces
    * the distributed sum bit-for-bit (the [[Bm25]] discipline).
    */
  val lmScoreOracle: String =
    """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |      FROM dd WHERE len(ws) >= 2),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM x),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE doc_id % 13 = 0 GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v FROM (
      |        SELECT w1 AS w FROM bg WHERE doc_id % 13 = 0
      |        UNION ALL SELECT w2 FROM bg WHERE doc_id % 13 = 0)),
      |t AS (SELECT bg.doc_id,
      |        CAST(round(-ln((coalesce(c12.c12, 0) + 0.5) /
      |          (coalesce(c1.c1, 0) + 0.5 * (SELECT v FROM v))), 9) AS DECIMAL(28,9)) AS nll
      |      FROM bg
      |      LEFT JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
      |      LEFT JOIN c1 ON c1.w1 = bg.w1
      |      WHERE bg.doc_id % 13 <> 0)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for `stream_lm_gate`: the gate's batch contract replayed —
    * LM from wave 0 (doc_id % 3 = 0), waves 1 and 2 scored with the
    * [[lmScoreOracle]] formula, admission = avg_nll ≤ ln(V), version =
    * the scoring wave. (The gate scores each wave independently against
    * the STATIC seed LM, so the batch replay is exactly the sliced batch
    * computation — no cross-wave state to reconstruct.)
    */
  val streamLmGateOracle: String =
    """WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |      FROM dd WHERE len(ws) >= 2),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM x),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE doc_id % 3 = 0 GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v FROM (
      |        SELECT w1 AS w FROM bg WHERE doc_id % 3 = 0
      |        UNION ALL SELECT w2 FROM bg WHERE doc_id % 3 = 0)),
      |t AS (SELECT bg.doc_id,
      |        CAST(round(-ln((coalesce(c12.c12, 0) + 0.5) /
      |          (coalesce(c1.c1, 0) + 0.5 * (SELECT v FROM v))), 9) AS DECIMAL(28,9)) AS nll
      |      FROM bg
      |      LEFT JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
      |      LEFT JOIN c1 ON c1.w1 = bg.w1
      |      WHERE bg.doc_id % 3 <> 0)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll,
      |       CAST(round(CAST(sum(nll) AS DOUBLE) / count(*), 6)
      |            <= 0.98 * ln((SELECT v FROM v)) AS INTEGER) AS admitted,
      |       CAST(doc_id % 3 AS BIGINT) AS batch
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for `dedup_semantic_md5`: the SemDeDup pair stage + CC over a
    * DETERMINISTIC cell assignment (the discipline that made
    * `dedup_simhash_md5_pairs` oracled where the xxhash paths cannot be).
    * Plants one shadow per vector with an md5-derived per-dimension
    * perturbation (both engines hash the same `sem:<id>:<i>` string and
    * round through REAL, so the planted floats are bit-identical), assigns
    * cells by the sign pattern of the first 6 dims (an axis-aligned
    * hyperplane bucket — exact, no float-precision ambiguity), then
    * replays the in-cell exact-cosine join and BFS-reachability connected
    * components. Spark runs `Dedup.dupClusters` (union-find or min-label
    * propagation) — a different CC algorithm — so agreement is evidence,
    * not echo.
    */
  /** Shared CTE prefix reconstructing the md5-PLANTED embedding corpus
    * (Catalog.embSemPlanted): base vectors plus a shadow at +1000000
    * with an md5-derived per-dim perturbation, rounded through REAL so
    * the planted floats are bit-identical across engines. Yields `ap`
    * (vec_id BIGINT, i, x DOUBLE) — the corpus every embedding-md5
    * oracle downstream geometry (cells, cosine) is computed from.
    */
  private def semPlantedCtes: String = {
    // first 4 hex digits of md5 → integer in [0, 65535], one shared formula
    val h4 = (0 until 4).map(j =>
      s"(CAST(strpos('0123456789abcdef', substr(m, ${j + 1}, 1)) - 1 AS BIGINT) * ${1L << (4 * (3 - j))})")
      .mkString(" + ")
    s"""e AS (SELECT vec_id, unnest(embedding) AS x,
       |      unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
       |shm AS (SELECT vec_id, i, x,
       |        md5('sem:' || CAST(vec_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)) AS m FROM e),
       |sh AS (SELECT vec_id + 1000000 AS vec_id, i,
       |       CAST(CAST(x AS DOUBLE) + (CAST($h4 AS DOUBLE) - 32767.5) / 2621400.0 AS REAL) AS x
       |       FROM shm),
       |ap AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, i, CAST(x AS DOUBLE) AS x FROM e
       |       UNION ALL
       |       SELECT CAST(vec_id AS BIGINT), i, CAST(x AS DOUBLE) FROM sh)""".stripMargin
  }

  /** Banded axis-sign cell index over `ap` — band b is the sign pattern
    * of dims [b·dimsPerBand, (b+1)·dimsPerBand), the exact integer
    * geometry of [[graft.ext.Dedup.axisCellIndex]] (sign survives
    * REAL→DOUBLE widening, so both engines bucket identically).
    */
  private def axisCellCte(bands: Int, dimsPerBand: Int): String =
    s"""idx AS (SELECT vec_id, CAST(i // $dimsPerBand AS INT) AS band,
       |        sum(CASE WHEN x >= 0 THEN CAST(1 AS BIGINT) << (i % $dimsPerBand) ELSE 0 END) AS bucket
       |        FROM ap WHERE i < ${bands * dimsPerBand} GROUP BY 1, 2)""".stripMargin

  /** Oracle for `dedup_embedding_cosine_md5`: axis-cell candidates where
    * ANY band agrees, exact-cosine verify, per-pair band-collision count
    * — the deterministic twin of the xxhash-hyperplane near-dup path.
    * The cosine VALUE is not emitted (float vs double accumulation);
    * membership is margin-safe (planted cos ≈ 0.998, random ≤ ~0.6).
    */
  def embeddingCosineMd5Oracle(threshold: Double, bands: Int,
                               dimsPerBand: Int): String =
    s"""WITH
       |$semPlantedCtes,
       |${axisCellCte(bands, dimsPerBand)},
       |cb AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, count(*) AS n_bands
       |       FROM idx a JOIN idx b ON a.band = b.band AND a.bucket = b.bucket
       |         AND a.vec_id < b.vec_id
       |       GROUP BY 1, 2),
       |nm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ap GROUP BY 1),
       |dot AS (SELECT cb.id_a, cb.id_b, cb.n_bands, sum(a.x * b.x) AS dp
       |        FROM cb JOIN ap a ON a.vec_id = cb.id_a
       |                JOIN ap b ON b.vec_id = cb.id_b AND b.i = a.i
       |        GROUP BY 1, 2, 3)
       |SELECT dot.id_a, dot.id_b, CAST(dot.n_bands AS BIGINT) AS n_bands
       |FROM dot JOIN nm na ON na.vec_id = dot.id_a
       |         JOIN nm nb ON nb.vec_id = dot.id_b
       |WHERE dp / (na.nrm * nb.nrm) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for `dedup_vec_ingest_gate_md5`: the vector ingest gate's
    * whole state machine replayed — waves are vec_id % 3 (wave 0 seeds
    * and emits nothing), a pair is detected by the LATER of its two
    * docs' waves (the batch whose probe first sees both sides), so
    * `ingest_version = greatest(wave_a, wave_b)` — the
    * `substringGateOracle` versioned-replay discipline over the
    * axis-cell candidate geometry and an exact-cosine verify.
    */
  def vecIngestGateMd5Oracle(threshold: Double, bands: Int,
                             dimsPerBand: Int): String =
    s"""WITH
       |$semPlantedCtes,
       |${axisCellCte(bands, dimsPerBand)},
       |cb AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |       FROM idx a JOIN idx b ON a.band = b.band AND a.bucket = b.bucket
       |         AND a.vec_id < b.vec_id),
       |nm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ap GROUP BY 1),
       |dot AS (SELECT cb.id_a, cb.id_b, sum(a.x * b.x) AS dp
       |        FROM cb JOIN ap a ON a.vec_id = cb.id_a
       |                JOIN ap b ON b.vec_id = cb.id_b AND b.i = a.i
       |        GROUP BY 1, 2)
       |SELECT dot.id_a, dot.id_b,
       |       CAST(greatest(dot.id_a % 3, dot.id_b % 3) AS BIGINT) AS ingest_version
       |FROM dot JOIN nm na ON na.vec_id = dot.id_a
       |         JOIN nm nb ON nb.vec_id = dot.id_b
       |WHERE dp / (na.nrm * nb.nrm) >= $threshold
       |  AND greatest(dot.id_a % 3, dot.id_b % 3) > 0
       |ORDER BY id_a, id_b""".stripMargin

  /** Oracle for `sim_ivf_md5`: the WHOLE IVF lifecycle replayed — the
    * deterministic sign-cell quantizer ([[graft.ext.IvfIndex.buildCells]])
    * means assignment, the post-delta index contents, the nprobe probe
    * ranking, and the pruned exact rerank are all SQL.
    *
    *  - final index contents: seed (vec_id % 10 != 0) minus the deletes
    *    (% 10 == 5) plus the upserts (% 10 == 0) = everything but % 10
    *    == 5 — the applyDelta remove-then-add algebra flattened, valid
    *    because the sign-cell quantizer assigns an upsert to the same
    *    list a full rebuild would (argmin ‖v−c‖² over sign centroids =
    *    the sign cell).
    *  - probe ranking: cos(q, cell p) = Σ_{i<bits}(±q_i)/(|q|·√bits) —
    *    same ORDER as the raw signed sum, so the oracle ranks by
    *    `score` alone (the positive per-query denominator cancels);
    *    ties break toward the lower list id, matching [[topK]].
    *  - rerank: candidates in probed cells only, exact cosine, the
    *    `topkOracle` discipline (round 6, ties by vid).
    */
  def simIvfMd5Oracle(bits: Int, nprobe: Int, k: Int = 5): String =
    simIvfCellsProbeOracle(bits, nprobe, k, " WHERE vec_id % 10 <> 5")

  /** Oracle for `sim_ivf_persisted_md5`: the PERSISTED-layout leg of the
    * sign-cell lifecycle isolated (r11 verdict #4) — build on the FULL
    * corpus, write the list-partitioned layout, re-load, pruned probe.
    * No delta, so the index contents are exactly the corpus; everything
    * else is the [[simIvfCellsProbeOracle]] algebra.
    */
  def simIvfPersistedMd5Oracle(bits: Int, nprobe: Int, k: Int = 5): String =
    simIvfCellsProbeOracle(bits, nprobe, k, "")

  /** Oracle for `sim_ivf_delta_md5`: the DELTA-maintenance leg isolated
    * (r11 verdict #4), mirroring the production `sim_ivf_delta` shape —
    * seed on vec_id % 10 != 0, applyDelta the held-out % 10 == 0 slice
    * (upserts only, no deletes), run the maintenance health check (a
    * +11% delta correctly declines a rebuild), probe the MAINTAINED
    * layout. The post-delta index contents are therefore the full
    * corpus: the oracle replays that flattened state — valid because a
    * sign-cell upsert lands in the same list a full rebuild would.
    */
  def simIvfDeltaMd5Oracle(bits: Int, nprobe: Int, k: Int = 5): String =
    simIvfCellsProbeOracle(bits, nprobe, k, "")

  private def simIvfCellsProbeOracle(bits: Int, nprobe: Int, k: Int,
                                     corpusWhere: String): String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings$corpusWhere),
       |ce AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM corpus),
       |cn AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ce GROUP BY 1),
       |cell AS (SELECT vec_id,
       |         sum(CASE WHEN i < $bits AND x >= 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS list
       |         FROM ce GROUP BY 1),
       |qe AS (SELECT vec_id AS qid, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i
       |       FROM embeddings WHERE vec_id < 10),
       |qn AS (SELECT qid, sqrt(sum(x * x)) AS nrm FROM qe GROUP BY 1),
       |ls AS (SELECT unnest(generate_series(0, ${(1 << bits) - 1})) AS l),
       |ps AS (SELECT qe.qid, ls.l,
       |       sum(CASE WHEN ((ls.l >> qe.i) & 1) = 1 THEN qe.x ELSE -qe.x END) AS score
       |       FROM qe CROSS JOIN ls WHERE qe.i < $bits GROUP BY 1, 2),
       |probe AS (SELECT qid, l FROM (
       |          SELECT qid, l, row_number() OVER (PARTITION BY qid ORDER BY score DESC, l) AS pr
       |          FROM ps) WHERE pr <= $nprobe),
       |dot AS (SELECT q.qid, ce.vec_id AS vid, sum(q.x * ce.x) AS dp
       |        FROM qe q
       |        JOIN ce ON ce.i = q.i AND ce.vec_id <> q.qid
       |        JOIN cell ON cell.vec_id = ce.vec_id
       |        JOIN probe ON probe.qid = q.qid AND probe.l = cell.list
       |        GROUP BY 1, 2),
       |c AS (SELECT dot.qid, dot.vid, dp / (qn.nrm * cn.nrm) AS cos
       |      FROM dot JOIN qn ON qn.qid = dot.qid JOIN cn ON cn.vec_id = dot.vid),
       |r AS (SELECT qid, vid, round(cos, 6) AS cosim,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM c)
       |SELECT qid, vid, cosim, rk FROM r WHERE rk <= $k ORDER BY qid, rk""".stripMargin

  /** Oracle for `sim_recall_ivf_md5`: both sides of the recall metric
    * replayed — the sign-cell IVF top-k (the [[simIvfMd5Oracle]] CTEs)
    * and the exact brute-force truth over the FULL corpus (the
    * `topkOracle` discipline) — then [[graft.ext.Similarity.recallAtK]]'s
    * algebra: per query, |approx ∩ exact| / |exact|, rounded at 6.
    */
  def simRecallIvfMd5Oracle(bits: Int, nprobe: Int, k: Int = 5): String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 5),
       |ce AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM corpus),
       |cn AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ce GROUP BY 1),
       |cell AS (SELECT vec_id,
       |         sum(CASE WHEN i < $bits AND x >= 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS list
       |         FROM ce GROUP BY 1),
       |qe AS (SELECT vec_id AS qid, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i
       |       FROM embeddings WHERE vec_id < 10),
       |qn AS (SELECT qid, sqrt(sum(x * x)) AS nrm FROM qe GROUP BY 1),
       |ls AS (SELECT unnest(generate_series(0, ${(1 << bits) - 1})) AS l),
       |ps AS (SELECT qe.qid, ls.l,
       |       sum(CASE WHEN ((ls.l >> qe.i) & 1) = 1 THEN qe.x ELSE -qe.x END) AS score
       |       FROM qe CROSS JOIN ls WHERE qe.i < $bits GROUP BY 1, 2),
       |probe AS (SELECT qid, l FROM (
       |          SELECT qid, l, row_number() OVER (PARTITION BY qid ORDER BY score DESC, l) AS pr
       |          FROM ps) WHERE pr <= $nprobe),
       |ivd AS (SELECT q.qid, ce.vec_id AS vid, sum(q.x * ce.x) AS dp
       |        FROM qe q
       |        JOIN ce ON ce.i = q.i AND ce.vec_id <> q.qid
       |        JOIN cell ON cell.vec_id = ce.vec_id
       |        JOIN probe ON probe.qid = q.qid AND probe.l = cell.list
       |        GROUP BY 1, 2),
       |iv AS (SELECT qid, vid FROM (
       |       SELECT ivd.qid, ivd.vid,
       |       row_number() OVER (PARTITION BY ivd.qid
       |         ORDER BY dp / (qn.nrm * cn.nrm) DESC, ivd.vid) AS rk
       |       FROM ivd JOIN qn ON qn.qid = ivd.qid JOIN cn ON cn.vec_id = ivd.vid)
       |       WHERE rk <= $k),
       |be AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
       |bn AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM be GROUP BY 1),
       |bd AS (SELECT q.qid, be.vec_id AS vid, sum(q.x * be.x) AS dp
       |       FROM qe q JOIN be ON be.i = q.i AND be.vec_id <> q.qid
       |       GROUP BY 1, 2),
       |bt AS (SELECT qid, vid FROM (
       |       SELECT bd.qid, bd.vid,
       |       row_number() OVER (PARTITION BY bd.qid
       |         ORDER BY dp / (qn.nrm * bn.nrm) DESC, bd.vid) AS rk
       |       FROM bd JOIN qn ON qn.qid = bd.qid JOIN bn ON bn.vec_id = bd.vid)
       |       WHERE rk <= $k)
       |SELECT bt.qid,
       |  round(CAST(sum(CASE WHEN iv.vid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS recall_at_$k
       |FROM bt LEFT JOIN iv ON iv.qid = bt.qid AND iv.vid = bt.vid
       |GROUP BY 1 ORDER BY bt.qid""".stripMargin

  /** Oracle for `sim_ann_lsh_md5`: the banded multi-table LSH probe
    * replayed — [[graft.ext.Similarity.axisBucketBand]]'s deterministic
    * axis-sign planes mean band `i / planes`'s bit `i % planes` is just
    * `x >= 0` over the unnested vector, so bucket assignment, the
    * any-band candidate join, the (qid,vid) dedup, and the exact cosine
    * top-k rerank are all SQL. Ranks by raw cos (ties toward lower vid),
    * rounds at 6 — the `topkOracle` discipline.
    */
  def simAnnLshMd5Oracle(planes: Int, bands: Int, k: Int = 5): String =
    s"""WITH ee AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
       |nm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ee GROUP BY 1),
       |bkt AS (SELECT vec_id, i // $planes AS band,
       |        sum(CASE WHEN x >= 0 THEN 1 << (i % $planes) ELSE 0 END) AS bucket
       |        FROM ee WHERE i < ${bands * planes} GROUP BY 1, 2),
       |qb AS (SELECT vec_id AS qid, band, bucket FROM bkt WHERE vec_id < 10),
       |cand AS (SELECT DISTINCT qb.qid, bkt.vec_id AS vid
       |         FROM qb JOIN bkt ON bkt.band = qb.band AND bkt.bucket = qb.bucket
       |         WHERE bkt.vec_id <> qb.qid),
       |dot AS (SELECT c.qid, c.vid, sum(q.x * e.x) AS dp
       |        FROM cand c JOIN ee q ON q.vec_id = c.qid
       |                    JOIN ee e ON e.vec_id = c.vid AND e.i = q.i
       |        GROUP BY 1, 2),
       |cs AS (SELECT dot.qid, dot.vid, dp / (nq.nrm * nv.nrm) AS cos
       |       FROM dot JOIN nm nq ON nq.vec_id = dot.qid
       |                JOIN nm nv ON nv.vec_id = dot.vid),
       |r AS (SELECT qid, vid, round(cos, 6) AS cosim,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM cs)
       |SELECT qid, vid, cosim, rk FROM r WHERE rk <= $k ORDER BY qid, rk""".stripMargin

  /** Oracle for `sim_recall_lsh_md5`: both sides of the recall replayed —
    * the axis-plane LSH top-k (the [[simAnnLshMd5Oracle]] CTEs) and the
    * exact brute-force truth — then [[graft.ext.Similarity.recallAtK]]'s
    * per-query |approx ∩ exact| / |exact| algebra, rounded at 6. Unlike
    * the IVF twin this approx side can return FEWER than k candidates
    * per query (sparse buckets), pinning the per-query-denominator
    * choice cross-engine.
    */
  def simRecallLshMd5Oracle(planes: Int, bands: Int, k: Int = 5): String =
    s"""WITH ee AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
       |nm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ee GROUP BY 1),
       |bkt AS (SELECT vec_id, i // $planes AS band,
       |        sum(CASE WHEN x >= 0 THEN 1 << (i % $planes) ELSE 0 END) AS bucket
       |        FROM ee WHERE i < ${bands * planes} GROUP BY 1, 2),
       |qb AS (SELECT vec_id AS qid, band, bucket FROM bkt WHERE vec_id < 10),
       |cand AS (SELECT DISTINCT qb.qid, bkt.vec_id AS vid
       |         FROM qb JOIN bkt ON bkt.band = qb.band AND bkt.bucket = qb.bucket
       |         WHERE bkt.vec_id <> qb.qid),
       |dot AS (SELECT c.qid, c.vid, sum(q.x * e.x) AS dp
       |        FROM cand c JOIN ee q ON q.vec_id = c.qid
       |                    JOIN ee e ON e.vec_id = c.vid AND e.i = q.i
       |        GROUP BY 1, 2),
       |ap AS (SELECT qid, vid FROM (
       |       SELECT dot.qid, dot.vid,
       |       row_number() OVER (PARTITION BY dot.qid
       |         ORDER BY dp / (nq.nrm * nv.nrm) DESC, dot.vid) AS rk
       |       FROM dot JOIN nm nq ON nq.vec_id = dot.qid
       |                JOIN nm nv ON nv.vec_id = dot.vid)
       |       WHERE rk <= $k),
       |bd AS (SELECT q.vec_id AS qid, e.vec_id AS vid, sum(q.x * e.x) AS dp
       |       FROM ee q JOIN ee e ON e.i = q.i AND e.vec_id <> q.vec_id
       |       WHERE q.vec_id < 10 GROUP BY 1, 2),
       |bt AS (SELECT qid, vid FROM (
       |       SELECT bd.qid, bd.vid,
       |       row_number() OVER (PARTITION BY bd.qid
       |         ORDER BY dp / (nq.nrm * nv.nrm) DESC, bd.vid) AS rk
       |       FROM bd JOIN nm nq ON nq.vec_id = bd.qid
       |                JOIN nm nv ON nv.vec_id = bd.vid)
       |       WHERE rk <= $k)
       |SELECT bt.qid,
       |  round(CAST(sum(CASE WHEN ap.vid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS recall_at_$k
       |FROM bt LEFT JOIN ap ON ap.qid = bt.qid AND ap.vid = bt.vid
       |GROUP BY 1 ORDER BY bt.qid""".stripMargin

  /** Oracle for `sim_pq_rerank_md5`: the two-stage PQ search replayed —
    * [[graft.ext.Pq.gridModel]]'s sign-grid codebooks make the codes
    * (`x >= 0 → bit 1` per dim) and the ADC luts (±half·Σ±q, exact in
    * double, cast through REAL exactly like the driver-side lut build)
    * both computable in SQL; the shortlist ranks by summed lut terms
    * (ties toward the lower vid, matching TopK.perGroup), and the exact
    * rerank over shortlisted ids is the `topkOracle` discipline.
    */
  def simPqRerankMd5Oracle(dsub: Int, shortlist: Int, k: Int = 5,
                           half: Double = 0.5): String =
    s"""WITH e AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
       |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
       |q AS (SELECT vec_id AS qid, x, i FROM e WHERE vec_id < 10),
       |sub AS (SELECT q.qid, e.vec_id AS vid, CAST(e.i // $dsub AS INT) AS j,
       |        CAST(CAST($half AS DOUBLE) *
       |             sum(CASE WHEN e.x >= 0 THEN q.x ELSE -q.x END) AS REAL) AS s
       |        FROM q JOIN e ON e.i = q.i AND e.vec_id <> q.qid
       |        GROUP BY 1, 2, 3),
       |adc AS (SELECT qid, vid, sum(CAST(s AS DOUBLE)) AS score FROM sub GROUP BY 1, 2),
       |short AS (SELECT qid, vid FROM (
       |          SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS sr
       |          FROM adc) WHERE sr <= $shortlist),
       |dot AS (SELECT q.qid, e.vec_id AS vid, sum(q.x * e.x) AS dp
       |        FROM q JOIN e ON e.i = q.i
       |        JOIN short ON short.qid = q.qid AND short.vid = e.vec_id
       |        GROUP BY 1, 2),
       |c AS (SELECT dot.qid, dot.vid, dp / (nq.nrm * nv.nrm) AS cos
       |      FROM dot JOIN n nq ON nq.vec_id = dot.qid JOIN n nv ON nv.vec_id = dot.vid),
       |r AS (SELECT qid, vid, round(cos, 6) AS cosim,
       |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk FROM c)
       |SELECT qid, vid, cosim FROM r WHERE rk <= $k ORDER BY qid, vid""".stripMargin

  /** Oracle for `sim_recall_pq_md5`: both sides of the PQ recall
    * replayed (r11 verdict #5) — the sign-grid two-stage search (the
    * [[simPqRerankMd5Oracle]] CTEs, taking the top-k ids) and the exact
    * brute-force truth over the full corpus — then
    * [[graft.ext.Similarity.recallAtK]]'s per-query
    * |approx ∩ exact| / |exact| algebra, rounded at 6. The third recall
    * composition gate, after the IVF and LSH twins: this one pins the
    * shortlist-then-rerank approx shape (always exactly k rows/query).
    */
  def simRecallPqMd5Oracle(dsub: Int, shortlist: Int, k: Int = 5,
                           half: Double = 0.5): String =
    s"""WITH e AS (SELECT vec_id, unnest(embedding) AS x,
       |       unnest(generate_series(0, len(embedding) - 1)) AS i FROM embeddings),
       |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
       |q AS (SELECT vec_id AS qid, x, i FROM e WHERE vec_id < 10),
       |sub AS (SELECT q.qid, e.vec_id AS vid, CAST(e.i // $dsub AS INT) AS j,
       |        CAST(CAST($half AS DOUBLE) *
       |             sum(CASE WHEN e.x >= 0 THEN q.x ELSE -q.x END) AS REAL) AS s
       |        FROM q JOIN e ON e.i = q.i AND e.vec_id <> q.qid
       |        GROUP BY 1, 2, 3),
       |adc AS (SELECT qid, vid, sum(CAST(s AS DOUBLE)) AS score FROM sub GROUP BY 1, 2),
       |short AS (SELECT qid, vid FROM (
       |          SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS sr
       |          FROM adc) WHERE sr <= $shortlist),
       |dot AS (SELECT q.qid, e.vec_id AS vid, sum(q.x * e.x) AS dp
       |        FROM q JOIN e ON e.i = q.i
       |        JOIN short ON short.qid = q.qid AND short.vid = e.vec_id
       |        GROUP BY 1, 2),
       |ap AS (SELECT qid, vid FROM (
       |       SELECT dot.qid, dot.vid,
       |       row_number() OVER (PARTITION BY dot.qid
       |         ORDER BY dp / (nq.nrm * nv.nrm) DESC, dot.vid) AS rk
       |       FROM dot JOIN n nq ON nq.vec_id = dot.qid
       |                JOIN n nv ON nv.vec_id = dot.vid)
       |       WHERE rk <= $k),
       |bd AS (SELECT q.qid, e.vec_id AS vid, sum(q.x * e.x) AS dp
       |       FROM q JOIN e ON e.i = q.i AND e.vec_id <> q.qid
       |       GROUP BY 1, 2),
       |bt AS (SELECT qid, vid FROM (
       |       SELECT bd.qid, bd.vid,
       |       row_number() OVER (PARTITION BY bd.qid
       |         ORDER BY dp / (nq.nrm * nv.nrm) DESC, bd.vid) AS rk
       |       FROM bd JOIN n nq ON nq.vec_id = bd.qid
       |                JOIN n nv ON nv.vec_id = bd.vid)
       |       WHERE rk <= $k)
       |SELECT bt.qid,
       |  round(CAST(sum(CASE WHEN ap.vid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS recall_at_$k
       |FROM bt LEFT JOIN ap ON ap.qid = bt.qid AND ap.vid = bt.vid
       |GROUP BY 1 ORDER BY bt.qid""".stripMargin

  val semanticMd5Oracle: String = {
    s"""WITH RECURSIVE
       |$semPlantedCtes,
       |cl AS (SELECT vec_id, sum(CASE WHEN i < 6 AND x >= 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS cl
       |       FROM ap GROUP BY 1),
       |nm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ap GROUP BY 1),
       |dot AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS dp
       |        FROM ap a JOIN cl ca ON ca.vec_id = a.vec_id
       |             JOIN cl cb ON cb.cl = ca.cl
       |             JOIN ap b ON b.vec_id = cb.vec_id AND b.i = a.i AND a.vec_id < b.vec_id
       |        GROUP BY 1, 2),
       |ed AS (SELECT dot.id_a, dot.id_b
       |       FROM dot JOIN nm na ON na.vec_id = dot.id_a
       |                JOIN nm nb ON nb.vec_id = dot.id_b
       |       WHERE dp / (na.nrm * nb.nrm) >= 0.98),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM ed
       |          UNION ALL SELECT id_b, id_a FROM ed),
       |reach(rid, rlabel) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT g.dst, reach.rlabel FROM reach JOIN edges g ON g.src = reach.rid),
       |comp AS (SELECT rid, min(rlabel) AS cluster_id FROM reach GROUP BY rid)
       |SELECT rid AS id, cluster_id, cluster_id AS kept_id
       |FROM comp WHERE rid <> cluster_id ORDER BY id""".stripMargin
  }

  /** Oracle for `agg_distinct_hll_md5`: the whole md5-HLL sketch —
    * hash, register assignment, committed ∪ delta register merge,
    * estimator with small-range correction — replayed in DuckDB
    * (`Sketches.md5Hll*` is the Spark side; constants must match it
    * term for term). Hex digits become integers via the
    * `dedup_simhash_md5_pairs` strpos trick; rho is the same generated
    * 48-branch compare chain (never floor(log2) — libm at power-of-two
    * boundaries is a cross-engine hazard); Σ 2^-M[j] is an exact BIGINT
    * sum scaled by 2^49; the one ln() rounds at 6 dp per the LM-oracle
    * discipline.
    */
  /** Oracle for `agg_quantile_loghist`: the log-histogram quantile
    * sketch replayed in DuckDB (`Sketches.logHistogram/logHistMerge/
    * logHistQuantiles` is the Spark side — geometry constants must
    * match). Bucketing and inversion are generated per-octave compare
    * chains with constant shifts (never floor(log2)); counts merge by
    * sum; rank selection is ceil(p·n) over a running count window.
    */
  val logHistOracle: String = {
    // forward chain: bucket from exact cents, largest octave first
    val bucket = "CASE " + (48 to 6 by -1).map { b =>
      s"WHEN v >= ${1L << (b - 1)} THEN ${b.toLong * 16} + (v >> ${b - 5}) % 16"
    }.mkString(" ") + " ELSE v END"
    // inverse: mid-bucket cents from the bucket id, one branch per octave
    def rep(x: String) = "CASE WHEN " + x + " < 32 THEN CAST(" + x + " AS DOUBLE) " +
      (6 to 48).map { b =>
        val w = 1L << (b - 5)
        s"WHEN $x >= ${b.toLong * 16} AND $x < ${(b + 1).toLong * 16} " +
          s"THEN CAST((16 + $x % 16) * $w AS DOUBLE) + ${w / 2.0}"
      }.mkString(" ") + " END"
    def est(h: String, tag: String) =
      s"""SELECT l_returnflag, n_$tag,
         |  round(${rep(s"b50_$tag")} / 100.0, 6) AS p50_$tag,
         |  round(${rep(s"b90_$tag")} / 100.0, 6) AS p90_$tag,
         |  round(${rep(s"b99_$tag")} / 100.0, 6) AS p99_$tag
         |FROM (SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_$tag,
         |        min(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS b50_$tag,
         |        min(CASE WHEN cum >= ceil(0.9 * n) THEN bucket END) AS b90_$tag,
         |        min(CASE WHEN cum >= ceil(0.99 * n) THEN bucket END) AS b99_$tag
         |      FROM (SELECT l_returnflag, bucket, cnt,
         |              sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
         |              sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |            FROM $h)
         |      GROUP BY 1)""".stripMargin
    s"""WITH c AS (SELECT l_returnflag, l_orderkey,
       |             CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
       |bk AS (SELECT l_returnflag, l_orderkey, $bucket AS bucket FROM c),
       |hf AS (SELECT l_returnflag, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
       |hm AS (SELECT l_returnflag, bucket, sum(cnt) AS cnt FROM (
       |    SELECT l_returnflag, bucket, count(*) AS cnt FROM bk
       |    WHERE l_orderkey % 10 <> 0 GROUP BY 1, 2
       |  UNION ALL
       |    SELECT l_returnflag, bucket, count(*) AS cnt FROM bk
       |    WHERE l_orderkey % 10 = 0 GROUP BY 1, 2) GROUP BY 1, 2),
       |qf AS (${est("hf", "full")}),
       |qm AS (${est("hm", "merged")})
       |SELECT l_returnflag, n_full, p50_full, p90_full, p99_full,
       |  n_merged, p50_merged, p90_merged, p99_merged,
       |  CAST(n_full = n_merged AND p50_full = p50_merged
       |       AND p90_full = p90_merged AND p99_full = p99_merged AS INT) AS merge_exact
       |FROM qf JOIN qm USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  val md5HllOracle: String = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
    val bucket = s"${hv(1)} * 256 + ${hv(2)} * 16 + ${hv(3)}"
    val rest = (4 to 15).map(i => s"${hv(i)} * ${1L << (4 * (15 - i))}").mkString(" + ")
    val rho = "CASE " + (1 to 48).map(k =>
      s"WHEN rest >= ${1L << (48 - k)} THEN $k").mkString(" ") + " ELSE 49 END"
    def est(regs: String, out: String) =
      s"""SELECT l_returnflag, round(CASE
         |    WHEN raw <= 10240.0::DOUBLE AND v > 0
         |    THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / CAST(v AS DOUBLE))
         |    ELSE raw END, 6) AS $out
         |  FROM (SELECT l_returnflag,
         |          0.7211100396160289::DOUBLE * 16777216.0::DOUBLE * 562949953421312.0::DOUBLE
         |            / CAST(s AS DOUBLE) AS raw, v
         |        FROM (SELECT l_returnflag,
         |                sum(1::BIGINT << (49 - r)) + (4096 - count(*)) * 562949953421312::BIGINT AS s,
         |                4096 - count(*) AS v
         |              FROM $regs GROUP BY 1))""".stripMargin
    s"""WITH h AS (SELECT l_returnflag, l_orderkey,
       |             md5(CAST(l_orderkey AS VARCHAR)) AS m FROM lineitem),
       |rr AS (SELECT l_returnflag, l_orderkey, bucket, $rho AS rho
       |       FROM (SELECT l_returnflag, l_orderkey,
       |               $bucket AS bucket, $rest AS rest FROM h)),
       |regs_full AS (SELECT l_returnflag, bucket, max(rho) AS r FROM rr GROUP BY 1, 2),
       |regs_merged AS (SELECT l_returnflag, bucket, max(r) AS r FROM (
       |    SELECT l_returnflag, bucket, max(rho) AS r FROM rr
       |    WHERE l_orderkey % 10 <> 0 GROUP BY 1, 2
       |  UNION ALL
       |    SELECT l_returnflag, bucket, max(rho) AS r FROM rr
       |    WHERE l_orderkey % 10 = 0 GROUP BY 1, 2) GROUP BY 1, 2),
       |ef AS (${est("regs_full", "approx_full")}),
       |em AS (${est("regs_merged", "approx_merged")}),
       |exact AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_distinct
       |          FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, approx_full, approx_merged, exact_distinct,
       |  CAST(approx_full = approx_merged AS INT) AS merge_exact,
       |  round(abs(approx_full - CAST(exact_distinct AS DOUBLE))
       |          / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
       |FROM ef JOIN em USING (l_returnflag) JOIN exact USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Oracle for `profile_constraints_incremental`: the additive
    * constraint states replayed slice by slice (committed = l_orderkey
    * % 10 ≠ 0, delta = the rest), the per-constraint SUM merge, metrics
    * from the merged sums vs the from-scratch pass, and the md5-HLL
    * approximate-uniqueness registers (ungrouped [[md5HllOracle]]
    * construction over the compound key) with their committed ∪ delta
    * max-merge — every merge_exact pin recomputed independently.
    */
  val constraintsIncrementalOracle: String = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
    val bucket = s"${hv(1)} * 256 + ${hv(2)} * 16 + ${hv(3)}"
    val rest = (4 to 15).map(i => s"${hv(i)} * ${1L << (4 * (15 - i))}").mkString(" + ")
    val rho = "CASE " + (1 to 48).map(k =>
      s"WHEN rest >= ${1L << (48 - k)} THEN $k").mkString(" ") + " ELSE 49 END"
    def est(regs: String) =
      s"""SELECT round(CASE WHEN raw <= 10240.0::DOUBLE AND v > 0
         |    THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / CAST(v AS DOUBLE))
         |    ELSE raw END, 6) AS est
         |  FROM (SELECT 0.7211100396160289::DOUBLE * 16777216.0::DOUBLE
         |            * 562949953421312.0::DOUBLE / CAST(s AS DOUBLE) AS raw, v
         |        FROM (SELECT sum(1::BIGINT << (49 - r))
         |                + (4096 - count(*)) * 562949953421312::BIGINT AS s,
         |                4096 - count(*) AS v
         |              FROM $regs))""".stripMargin
    val sums = """count(*) AS n,
      |        sum(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS m_nn,
      |        sum(CASE WHEN CAST(l_quantity AS DOUBLE) BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END) AS m_q,
      |        sum(CASE WHEN CAST(l_discount AS DOUBLE) BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS m_d,
      |        sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS m_set,
      |        sum(refok) AS m_ref""".stripMargin
    val checkRows = Seq(
      ("not_null(l_returnflag)", "m_nn"),
      ("between(l_quantity,1.0,50.0)", "m_q"),
      ("between(l_discount,0.0,0.1)", "m_d"),
      ("in_set(l_returnflag)", "m_set"),
      ("ref_in(l_orderkey)", "m_ref")).map { case (name, c) =>
      s"""SELECT '$name' AS chk,
         |    round(CAST(mg.$c AS DOUBLE) / CAST(mg.n AS DOUBLE), 6) AS metric,
         |    CAST(round(CAST(mg.$c AS DOUBLE) / CAST(mg.n AS DOUBLE), 6) >= 1.0 AS INT) AS passed,
         |    round(CAST(f.$c AS DOUBLE) / CAST(f.n AS DOUBLE), 6) AS metric_full,
         |    CAST(round(CAST(mg.$c AS DOUBLE) / CAST(mg.n AS DOUBLE), 6)
         |       = round(CAST(f.$c AS DOUBLE) / CAST(f.n AS DOUBLE), 6) AS INT) AS merge_exact
         |  FROM mg, f""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH refd AS (SELECT DISTINCT o_orderkey FROM orders),
       |j AS (SELECT l.*, CASE WHEN r.o_orderkey IS NOT NULL THEN 1 ELSE 0 END AS refok
       |      FROM lineitem l LEFT JOIN refd r ON l.l_orderkey = r.o_orderkey),
       |a AS (SELECT (l_orderkey % 10 = 0) AS slice, $sums
       |      FROM j GROUP BY 1),
       |mg AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(m_nn) AS BIGINT) AS m_nn,
       |         CAST(sum(m_q) AS BIGINT) AS m_q, CAST(sum(m_d) AS BIGINT) AS m_d,
       |         CAST(sum(m_set) AS BIGINT) AS m_set, CAST(sum(m_ref) AS BIGINT) AS m_ref
       |       FROM a),
       |f AS (SELECT $sums FROM j),
       |h AS (SELECT l_orderkey % 10 AS sl,
       |        md5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS m
       |      FROM lineitem),
       |rr AS (SELECT sl, bucket, $rho AS rho
       |       FROM (SELECT sl, $bucket AS bucket, $rest AS rest FROM h)),
       |regs_full AS (SELECT bucket, max(rho) AS r FROM rr GROUP BY 1),
       |regs_merged AS (SELECT bucket, max(r) AS r FROM (
       |    SELECT bucket, max(rho) AS r FROM rr WHERE sl <> 0 GROUP BY 1
       |  UNION ALL
       |    SELECT bucket, max(rho) AS r FROM rr WHERE sl = 0 GROUP BY 1) GROUP BY 1),
       |ef AS (${est("regs_full")}),
       |em AS (${est("regs_merged")})
       |SELECT * FROM (
       |$checkRows
       |  UNION ALL
       |  SELECT 'unique_approx(l_orderkey,l_linenumber)' AS chk,
       |    round(em.est / CAST(f.n AS DOUBLE), 6) AS metric,
       |    CAST(round(em.est / CAST(f.n AS DOUBLE), 6) >= 0.7 AS INT) AS passed,
       |    round(ef.est / CAST(f.n AS DOUBLE), 6) AS metric_full,
       |    CAST(ef.est = em.est AS INT) AS merge_exact
       |  FROM ef, em, f
       |) ORDER BY chk""".stripMargin
  }

  /** Oracle for `corpus_mix_schedule`: the whole budgeted-mixture
    * schedule replayed — per-source token mass, the 40% global budget,
    * integer α=0.5 temperature targets (floor∘sqrt, integer division),
    * the per-source md5-order running sum, prefix admission, and the
    * round-robin interleave step. The two-phase sharded prefix scan on
    * the Spark side must equal this single-window form exactly; every
    * intermediate is integer arithmetic or correctly-rounded IEEE ops,
    * so the schedule crosses engines bit-for-bit.
    */
  val mixScheduleOracle: String =
    """WITH d AS (SELECT doc_id, source AS src,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |             md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
      |t AS (SELECT src, sum(n_tokens) AS tot FROM d GROUP BY 1),
      |g AS (SELECT CAST(floor(0.4 * CAST(sum(tot) AS DOUBLE)) AS BIGINT) AS budget FROM t),
      |w AS (SELECT src, CAST(floor(sqrt(CAST(tot AS DOUBLE))) AS BIGINT) AS sw FROM t),
      |tg AS (SELECT src,
      |         CAST(((SELECT budget FROM g) * sw) // (SELECT sum(sw) FROM w) AS BIGINT) AS target,
      |         CAST(row_number() OVER (ORDER BY src) - 1 AS BIGINT) AS src_idx FROM w),
      |sc AS (SELECT d.*, CAST(coalesce(sum(n_tokens) OVER (
      |         PARTITION BY src ORDER BY hx, doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |       FROM d),
      |sel AS (SELECT sc.*, tg.target, tg.src_idx FROM sc JOIN tg USING (src)
      |        WHERE cum_before < target),
      |rk AS (SELECT sel.*, row_number() OVER (PARTITION BY src ORDER BY hx, doc_id) AS k
      |       FROM sel)
      |SELECT doc_id, src AS source, n_tokens, cum_before,
      |  (k - 1) * (SELECT count(*) FROM tg) + src_idx AS step
      |FROM rk ORDER BY step""".stripMargin

  /** Oracle for `text_nb_classifier`: the whole closed-form NB pipeline
    * replayed — langId labels over the % 5 training slice (the
    * [[langIdBody]] CASE verbatim), per-class word counts, totals /
    * vocabulary / priors, the 9-dp-rounded DECIMAL(28,9) weight table,
    * the per-token scoring join, the exact decimal sum + prior bias,
    * and the > 0 decision — so the model VALUES and the predictions
    * cross engines bit-for-bit (the text_lm_score discipline applied to
    * classification).
    */
  val nbClassifierOracle: String =
    s"""WITH lid AS ($langIdBody),
       |lab AS (SELECT doc_id, (lang_pred = 'en') AS pos FROM lid WHERE doc_id % 5 = 0),
       |dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM dd),
       |tt AS (SELECT t.w, l.pos FROM tok t JOIN lab l USING (doc_id)),
       |cw AS (SELECT w, sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
       |         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cn FROM tt GROUP BY 1),
       |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM cw),
       |pri AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
       |          sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn FROM lab),
       |wt AS (SELECT w, CAST(round(ln((cp + 1.0) / CAST(tp + v AS DOUBLE))
       |         - ln((cn + 1.0) / CAST(tn + v AS DOUBLE)), 9) AS DECIMAL(28,9)) AS wgt
       |       FROM cw, tot),
       |bias AS (SELECT CAST(round(ln(CAST(np AS DOUBLE)) - ln(CAST(nn AS DOUBLE)), 9)
       |           AS DECIMAL(28,9)) AS b FROM pri),
       |sc AS (SELECT t.doc_id, count(*) AS n_vocab_tokens,
       |         CAST(round(sum(wt.wgt) + (SELECT b FROM bias), 6) AS DOUBLE) AS log_odds
       |       FROM tok t JOIN wt ON wt.w = t.w
       |       WHERE t.doc_id % 5 <> 0 GROUP BY 1)
       |SELECT sc.doc_id, n_vocab_tokens, log_odds,
       |  CAST(log_odds > 0 AS INT) AS pred_en,
       |  CAST(lid.lang_pred = 'en' AS INT) AS actual_en,
       |  CAST((log_odds > 0) = (lid.lang_pred = 'en') AS INT) AS correct
       |FROM sc JOIN lid USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Oracle for `agg_cms_freq`: the md5 count-min sketch replayed — the
    * d=4 × w=4096 counter grid (cell = first 3 md5 hex digits of
    * "r:key"), per-cell counts, the committed ∪ delta per-cell SUM
    * merge, and the min-over-rows point query for the top-10 probe keys.
    * Counts are additive, so merged ≡ full is exact value equality in
    * both engines (the same pinning as the md5-HLL max-merge).
    */
  val cmsFreqOracle: String = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
    val cell = s"${hv(1)} * 256 + ${hv(2)} * 16 + ${hv(3)}"
    s"""WITH rows_r AS (SELECT unnest(generate_series(0, 3)) AS r),
       |cc AS (SELECT l_orderkey, l_suppkey, r, $cell AS cell
       |       FROM (SELECT l.l_orderkey, l.l_suppkey, rows_r.r,
       |               md5(CAST(rows_r.r AS VARCHAR) || ':' ||
       |                   CAST(l.l_suppkey AS VARCHAR)) AS m
       |             FROM lineitem l CROSS JOIN rows_r)),
       |cms_full AS (SELECT r, cell, count(*) AS cnt FROM cc GROUP BY 1, 2),
       |cms_merged AS (SELECT r, cell, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
       |    SELECT r, cell, count(*) AS cnt FROM cc
       |    WHERE l_orderkey % 10 <> 0 GROUP BY 1, 2
       |  UNION ALL
       |    SELECT r, cell, count(*) AS cnt FROM cc
       |    WHERE l_orderkey % 10 = 0 GROUP BY 1, 2) GROUP BY 1, 2),
       |exact AS (SELECT l_suppkey, count(*) AS exact_n FROM lineitem GROUP BY 1),
       |probes AS (SELECT l_suppkey FROM exact
       |           ORDER BY exact_n DESC, l_suppkey LIMIT 10),
       |pc AS (SELECT l_suppkey, r, $cell AS cell
       |       FROM (SELECT p.l_suppkey, rows_r.r,
       |               md5(CAST(rows_r.r AS VARCHAR) || ':' ||
       |                   CAST(p.l_suppkey AS VARCHAR)) AS m
       |             FROM probes p CROSS JOIN rows_r)),
       |ef AS (SELECT l_suppkey, min(coalesce(f.cnt, 0)) AS est_full
       |       FROM pc LEFT JOIN cms_full f USING (r, cell) GROUP BY 1),
       |em AS (SELECT l_suppkey, min(coalesce(g.cnt, 0)) AS est_merged
       |       FROM pc LEFT JOIN cms_merged g USING (r, cell) GROUP BY 1)
       |SELECT e.l_suppkey, exact_n, est_full, est_merged,
       |  CAST(est_full = est_merged AS INT) AS merge_exact,
       |  est_full - exact_n AS overcount
       |FROM ef JOIN em USING (l_suppkey) JOIN exact e USING (l_suppkey)
       |ORDER BY l_suppkey""".stripMargin
  }

  /** Oracle for `join_fuzzy_md5`: the whole entity-resolution chain —
    * deterministic dirty-side derivation (one char deleted at a
    * doc_id-keyed position), 3-gram salted-md5 MinHash banding (the
    * dedup_minhash_lsh recipe, cross-table), clean-side block-size cap,
    * levenshtein verify, best-match window select — replayed verbatim.
    * Both engines share every hash value, so blocking recall (which
    * dirty rows surface a candidate at all) is part of the compared
    * result, not a tolerance.
    */
  def fuzzyJoinMd5Oracle(maxDist: Int, maxBucket: Int): String = {
    def minima(src: String): String =
      s"""SELECT doc_id, min(md5('0|' || gram)) AS m0, min(md5('1|' || gram)) AS m1,
         |        min(md5('2|' || gram)) AS m2, min(md5('3|' || gram)) AS m3
         | FROM (SELECT doc_id, substr(s, i, 3) AS gram FROM
         |        (SELECT doc_id, s, unnest(generate_series(1, greatest(len(s) - 2, 1))) AS i
         |         FROM $src)) GROUP BY 1""".stripMargin
    s"""WITH clean AS (SELECT doc_id, substr(text, 1, 48) AS s FROM documents),
       |dirty AS (SELECT doc_id, substr(s, 1, CAST(doc_id % 31 + 4 AS INT)) ||
       |                 substr(s, CAST(doc_id % 31 + 6 AS INT), 64) AS s FROM clean),
       |cm AS (${minima("clean")}),
       |dm AS (${minima("dirty")}),
       |cb AS (SELECT DISTINCT clean_id, bucket FROM
       |       (SELECT doc_id AS clean_id,
       |               unnest([md5(m0 || '|' || m1), md5(m2 || '|' || m3)]) AS bucket FROM cm)),
       |db AS (SELECT DISTINCT dirty_id, bucket FROM
       |       (SELECT doc_id AS dirty_id,
       |               unnest([md5(m0 || '|' || m1), md5(m2 || '|' || m3)]) AS bucket FROM dm)),
       |keep AS (SELECT bucket FROM cb GROUP BY bucket HAVING count(*) <= $maxBucket),
       |cand AS (SELECT DISTINCT db.dirty_id, cb.clean_id
       |         FROM db JOIN keep ON keep.bucket = db.bucket
       |                 JOIN cb ON cb.bucket = db.bucket),
       |v AS (SELECT c.dirty_id, c.clean_id, CAST(levenshtein(d.s, cl.s) AS INT) AS dist
       |      FROM cand c JOIN dirty d ON d.doc_id = c.dirty_id
       |                  JOIN clean cl ON cl.doc_id = c.clean_id
       |      WHERE levenshtein(d.s, cl.s) <= $maxDist),
       |r AS (SELECT dirty_id, clean_id, dist,
       |             row_number() OVER (PARTITION BY dirty_id ORDER BY dist, clean_id) AS rk
       |      FROM v)
       |SELECT dirty_id, clean_id, dist FROM r WHERE rk = 1 ORDER BY dirty_id""".stripMargin
  }

  /** Oracle for `corpus_dsir_select`: the whole DSIR chain replayed —
    * unigram∪bigram features, md5 3-hex-digit buckets (the count-min
    * cell rule), add-1 smoothed target/raw multinomials, 9-dp
    * DECIMAL(28,9) log-ratios summed exactly per doc, derandomized
    * Gumbel keys from md5-dyadic uniforms, and the full
    * selection permutation (row_number over the exact decimal keys).
    * The budget is pool_size // 4, computed from the same scored set.
    */
  val dsirSelectOracle: String = {
    def hv(m: String, i: Int) = s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1)"
    def cell(m: String) = s"(${hv(m, 1)} * 256 + ${hv(m, 2)} * 16 + ${hv(m, 3)})"
    val hex6 = (1 to 6).map(i => s"${hv("m", i)} * ${math.pow(16, 6 - i).toLong}")
      .mkString(" + ")
    s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |uni AS (SELECT doc_id, unnest(ws) AS f FROM dd),
       |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |      FROM dd WHERE len(ws) >= 2),
       |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS f FROM x),
       |fb AS (SELECT doc_id, ${cell("md5('b:' || f)")} AS b
       |       FROM (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi)),
       |tb AS (SELECT b, count(*) AS cp FROM fb WHERE doc_id % 11 = 0 GROUP BY 1),
       |rb AS (SELECT b, count(*) AS cq FROM fb WHERE doc_id % 11 <> 0 GROUP BY 1),
       |tt AS (SELECT coalesce(sum(cp), 0) AS tp FROM tb),
       |rt AS (SELECT coalesce(sum(cq), 0) AS tq FROM rb),
       |w AS (SELECT rb.b, CAST(round(
       |        ln((coalesce(tb.cp, 0) + 1) / ((SELECT tp FROM tt) + 4096.0))
       |        - ln((rb.cq + 1) / ((SELECT tq FROM rt) + 4096.0)), 9)
       |        AS DECIMAL(28,9)) AS wgt
       |      FROM rb LEFT JOIN tb USING (b)),
       |s AS (SELECT fb.doc_id, count(*) AS n_feats,
       |        CAST(sum(w.wgt) AS DECIMAL(28,9)) AS lw
       |      FROM fb JOIN w USING (b) WHERE fb.doc_id % 11 <> 0 GROUP BY 1),
       |g AS (SELECT doc_id, n_feats, lw,
       |        CAST(round(-ln(-ln(($hex6 + 0.5) / 16777216.0)), 9)
       |             AS DECIMAL(28,9)) AS gn
       |      FROM (SELECT doc_id, n_feats, lw,
       |              md5('g:' || CAST(doc_id AS VARCHAR)) AS m FROM s)),
       |r AS (SELECT doc_id, n_feats, lw,
       |        row_number() OVER (ORDER BY (lw + gn) DESC, doc_id) AS rnk FROM g)
       |SELECT doc_id, n_feats, CAST(round(lw, 6) AS DOUBLE) AS log_w,
       |  rnk AS sel_rank,
       |  CAST(rnk <= (SELECT count(*) // 4 FROM s) AS INT) AS picked
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `corpus_dsir_incremental`: both fits replayed — the
    * from-scratch raw-side bucket counts and the two-batch merged state
    * (per-bucket SUM over the % 2 split), the identical log-ratio
    * formula over each, per-bucket weight values as 6-dp doubles, and
    * the merged ≡ full pin as an integer column.
    */
  val dsirIncrementalOracle: String = {
    def hv(m: String, i: Int) = s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1)"
    def cell(m: String) = s"(${hv(m, 1)} * 256 + ${hv(m, 2)} * 16 + ${hv(m, 3)})"
    def wgt(src: String) =
      s"""CAST(round(ln((coalesce(tb.cp, 0) + 1) / ((SELECT tp FROM tt) + 4096.0))
         |     - ln(($src.cq + 1) / ((SELECT tq FROM rt) + 4096.0)), 9)
         |     AS DECIMAL(28,9))""".stripMargin
    s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |uni AS (SELECT doc_id, unnest(ws) AS f FROM dd),
       |x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
       |      FROM dd WHERE len(ws) >= 2),
       |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS f FROM x),
       |fb AS (SELECT doc_id, ${cell("md5('b:' || f)")} AS b
       |       FROM (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi)),
       |tb AS (SELECT b, count(*) AS cp FROM fb WHERE doc_id % 11 = 0 GROUP BY 1),
       |rb AS (SELECT b, count(*) AS cq FROM fb WHERE doc_id % 11 <> 0 GROUP BY 1),
       |rm AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cq FROM (
       |    SELECT b, count(*) AS cnt FROM fb
       |    WHERE doc_id % 11 <> 0 AND doc_id % 2 = 0 GROUP BY 1
       |  UNION ALL
       |    SELECT b, count(*) AS cnt FROM fb
       |    WHERE doc_id % 11 <> 0 AND doc_id % 2 <> 0 GROUP BY 1) GROUP BY 1),
       |tt AS (SELECT coalesce(sum(cp), 0) AS tp FROM tb),
       |rt AS (SELECT coalesce(sum(cq), 0) AS tq FROM rb),
       |wf AS (SELECT rb.b, rb.cq, ${wgt("rb")} AS wgt
       |       FROM rb LEFT JOIN tb USING (b)),
       |wm AS (SELECT rm.b, ${wgt("rm")} AS wgt
       |       FROM rm LEFT JOIN tb USING (b))
       |SELECT wf.b, wf.cq, CAST(round(wf.wgt, 6) AS DOUBLE) AS wgt,
       |  CAST(wf.wgt = wm.wgt AS INT) AS merge_exact
       |FROM wf JOIN wm ON wm.b = wf.b
       |ORDER BY wf.b""".stripMargin
  }

  /** Oracle for `emb_project_rp`: every ±1 sign recomputed from
    * md5("rp:j:i"), every input floor-quantized to 1e-6, every
    * projection the exact BIGINT dot product.
    */
  val embProjectRpOracle: String =
    """WITH sgn AS (
      |  SELECT j, i, CASE WHEN strpos('01234567', substr(
      |      md5('rp:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1)) > 0
      |    THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(generate_series(0, 15)) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)),
      |q AS (SELECT vec_id, i - 1 AS i,
      |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
      |      FROM (SELECT vec_id, embedding,
      |              unnest(generate_series(1, len(embedding))) AS i FROM embeddings))
      |SELECT q.vec_id, sgn.j, CAST(sum(sgn.s * q.q) AS BIGINT) AS proj
      |FROM q JOIN sgn ON sgn.i = q.i
      |GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin
}

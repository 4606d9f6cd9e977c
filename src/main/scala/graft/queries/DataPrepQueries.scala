package graft.queries

import org.apache.spark.sql.functions._

import QueryDef.t

/** Training-data-pipeline operator layer: deduplication, similarity
  * search, text analysis, multimodal plumbing — the operations a
  * 100 TB corpus pipeline needs beyond the reference's own surface.
  *
  * Scale design per operator (these run at sf0.1 locally, but the
  * plans are written for a 1000-executor corpus):
  *  - exact dedup: hash-groupBy — one shuffle on the digest key.
  *  - MinHash/LSH: per-doc signatures computed map-side, candidate
  *    pairs discovered by an equi-join on band keys (never an O(n²)
  *    cross join).
  *  - shingle-Jaccard: equi-join on shingle within a source bucket —
  *    inverted-index shape, skew-bounded by shingle selectivity.
  *  - ANN: brute-force only against a broadcast query vector;
  *    the scale path buckets by hyperplane signs first.
  */
object DataPrepQueries {

  /** Tokenize: non-empty whitespace tokens. */
  private val toksExpr = "filter(split(text, ' '), x -> x <> '')"
  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Word 3-shingles from the token array (guarded for short docs),
    * deduplicated per document map-side — so no global DISTINCT
    * shuffle is ever needed downstream. */
  private val shinglesExpr =
    s"array_distinct(CASE WHEN size($toksExpr) >= 3 THEN transform(sequence(1, size($toksExpr) - 2), k -> concat_ws(' ', slice($toksExpr, k, 3))) ELSE array() END)"
  private val shinglesSqlArr =
    s"list_distinct(list_transform(generate_series(1, greatest(len($toksSql) - 2, 0)), k -> array_to_string(($toksSql)[k:k+2], ' ')))"
  private val shinglesSqlCte = s"""
    shdoc AS (SELECT doc_id, source, $shinglesSqlArr AS shs FROM documents),
    sh AS (SELECT doc_id, source, unnest(shs) AS sh FROM shdoc)"""

  /** Shared oracle text for q90/q93/q94 — the fixed-donor IVF-PQ
    * probe replay. q93 (codes-only index + rerankFrom) and q94 (a
    * fixed reversal rotation) are engineered to produce EXACTLY this
    * output: q93's list scan never reads floats but re-ranks the same
    * shortlist from the primary store; q94 reverses the dims of both
    * the donors and (via the rotation) every coded vector and query,
    * and squared distances are invariant under a common permutation —
    * so any ASYMMETRIC application of the rotation (query not
    * rotated, codes rotated twice, subspace misalignment) breaks the
    * hash match while a correct one reproduces the unrotated replay
    * bit-for-bit. */
  private val ivfPqProbeOracle: String = """
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      d AS (SELECT cid - 1 AS did,
                   CASE WHEN sqrt(list_inner_product(ce, ce)) = 0 THEN ce
                        ELSE list_transform(ce, x -> x / sqrt(list_inner_product(ce, ce))) END AS dn
            FROM c),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      codes AS (SELECT vec_id, s, did AS code FROM (
                  SELECT n.vec_id, sub.s, d.did,
                         row_number() OVER (PARTITION BY n.vec_id, sub.s
                           ORDER BY list_sum(list_transform(range(1, 17),
                             i -> power(n.ne[sub.s * 16 + i] - d.dn[sub.s * 16 + i], 2))),
                           d.did) AS rn
                  FROM n CROSS JOIN (SELECT unnest(range(0, 4)) AS s) sub CROSS JOIN d)
                WHERE rn = 1),
      q AS (SELECT vec_id AS qid, e AS qe, ne AS qn FROM n WHERE vec_id IN (0, 100, 200)),
      probe AS (SELECT q.qid, q.qe, q.qn, c.cid FROM q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      rec AS (SELECT cd.vec_id,
                     flatten(list(d.dn[cd.s * 16 + 1 : cd.s * 16 + 16] ORDER BY cd.s)) AS rr
              FROM codes cd JOIN d ON d.did = cd.code
              GROUP BY cd.vec_id),
      adc AS (SELECT p.qid, p.qe, a.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> power(p.qn[i] - rec.rr[i], 2))) AS adist
              FROM probe p
                JOIN assign a ON a.cid = p.cid
                JOIN rec ON rec.vec_id = a.vec_id
              WHERE a.vec_id <> p.qid),
      short AS (SELECT qid, qe, vec_id FROM adc
                QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) <= 20),
      scored AS (SELECT s.qid, s.vec_id,
                        round(list_inner_product(e.e, s.qe)
                          / (sqrt(list_inner_product(e.e, e.e))
                             * sqrt(list_inner_product(s.qe, s.qe))), 4) AS cos
                 FROM short s JOIN e ON e.vec_id = s.vec_id)
      SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 5 ORDER BY qid, rank"""

  /** Shared oracle text for q92/q96 — the fixed-donor PQ pair-search
    * replay (SDC approx + exact cosine). q96 runs the same pipeline
    * under a fixed reversal ROTATION: codes assign against reversed
    * donors from reversed vectors, and SDC dot tables are dot
    * products of rotated centroids — all invariant under a common
    * permutation — so a correct (symmetric) rotation reproduces this
    * replay bit-for-bit while a one-sided application breaks the
    * hash. */
  /** q95's full FAISS-style residual replay; q97 reuses it verbatim
    * because an orthogonal PERMUTATION rotation preserves every
    * per-subspace distance being ranked (see q94's invariance note),
    * so the composed OPQ+residual pipeline must reproduce the
    * unrotated residual output bit for bit. */
  private val residualPqProbeOracle: String = """
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      d AS (SELECT cid,
                   CASE WHEN sqrt(list_inner_product(ce, ce)) = 0 THEN ce
                        ELSE list_transform(ce, x -> x / sqrt(list_inner_product(ce, ce))) END AS dn
            FROM c),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      sv AS (SELECT n.vec_id, list_transform(range(1, 65), i -> n.ne[i] - d.dn[i]) AS rv
             FROM n JOIN assign a USING (vec_id) JOIN d ON d.cid = a.cid),
      rd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rdid, rv AS rdn
             FROM sv WHERE vec_id BETWEEN 10 AND 17),
      codes AS (SELECT vec_id, s, rdid AS code FROM (
                  SELECT sv.vec_id, sub.s, rd.rdid,
                         row_number() OVER (PARTITION BY sv.vec_id, sub.s
                           ORDER BY list_sum(list_transform(range(1, 17),
                             i -> power(sv.rv[sub.s * 16 + i] - rd.rdn[sub.s * 16 + i], 2))),
                           rd.rdid) AS rn
                  FROM sv CROSS JOIN (SELECT unnest(range(0, 4)) AS s) sub CROSS JOIN rd)
                WHERE rn = 1),
      q AS (SELECT vec_id AS qid, e AS qe, ne AS qn FROM n WHERE vec_id IN (0, 100, 200)),
      probe AS (SELECT q.qid, q.qe, q.qn, c.cid FROM q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      rec AS (SELECT cd.vec_id,
                     flatten(list(rd.rdn[cd.s * 16 + 1 : cd.s * 16 + 16] ORDER BY cd.s)) AS rr
              FROM codes cd JOIN rd ON rd.rdid = cd.code
              GROUP BY cd.vec_id),
      adc AS (SELECT p.qid, p.qe, a.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> power(p.qn[i] - d.dn[i] - rec.rr[i], 2))) AS adist
              FROM probe p
                JOIN d ON d.cid = p.cid
                JOIN assign a ON a.cid = p.cid
                JOIN rec ON rec.vec_id = a.vec_id
              WHERE a.vec_id <> p.qid),
      short AS (SELECT qid, qe, vec_id FROM adc
                QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) <= 20),
      scored AS (SELECT s.qid, s.vec_id,
                        round(list_inner_product(e.e, s.qe)
                          / (sqrt(list_inner_product(e.e, e.e))
                             * sqrt(list_inner_product(s.qe, s.qe))), 4) AS cos
                 FROM short s JOIN e ON e.vec_id = s.vec_id)
      SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 5 ORDER BY qid, rank"""

  private val pqPairSearchOracle: String = """
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      d AS (SELECT cid - 1 AS did,
                   CASE WHEN sqrt(list_inner_product(ce, ce)) = 0 THEN ce
                        ELSE list_transform(ce, x -> x / sqrt(list_inner_product(ce, ce))) END AS dn
            FROM c),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      codes AS (SELECT vec_id, s, did AS code FROM (
                  SELECT n.vec_id, sub.s, d.did,
                         row_number() OVER (PARTITION BY n.vec_id, sub.s
                           ORDER BY list_sum(list_transform(range(1, 17),
                             i -> power(n.ne[sub.s * 16 + i] - d.dn[sub.s * 16 + i], 2))),
                           d.did) AS rn
                  FROM n CROSS JOIN (SELECT unnest(range(0, 4)) AS s) sub CROSS JOIN d)
                WHERE rn = 1),
      buck AS (SELECT e.vec_id, c.cid FROM e CROSS JOIN c
               QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.e, c.ce), c.cid) <= 2),
      p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buck a JOIN buck b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      sdc AS (SELECT ca.vec_id AS id_a, cb.vec_id AS id_b,
                     list_sum(list(list_sum(list_transform(range(1, 17),
                       i -> da.dn[ca.s * 16 + i] * db.dn[ca.s * 16 + i])) ORDER BY ca.s)) AS dot,
                     list_sum(list(list_sum(list_transform(range(1, 17),
                       i -> da.dn[ca.s * 16 + i] * da.dn[ca.s * 16 + i])) ORDER BY ca.s)) AS na,
                     list_sum(list(list_sum(list_transform(range(1, 17),
                       i -> db.dn[ca.s * 16 + i] * db.dn[ca.s * 16 + i])) ORDER BY ca.s)) AS nb
              FROM p
                JOIN codes ca ON ca.vec_id = p.id_a
                JOIN codes cb ON cb.vec_id = p.id_b AND cb.s = ca.s
                JOIN d da ON da.did = ca.code
                JOIN d db ON db.did = cb.code
              GROUP BY 1, 2),
      scored AS (SELECT p.id_a, p.id_b,
                        round(s.dot / (sqrt(s.na) * sqrt(s.nb)), 4) AS approx,
                        round(list_inner_product(ea.e, eb.e)
                          / (sqrt(list_inner_product(ea.e, ea.e))
                             * sqrt(list_inner_product(eb.e, eb.e))), 4) AS cos
                 FROM p
                   JOIN sdc s ON s.id_a = p.id_a AND s.id_b = p.id_b
                   JOIN e ea ON ea.vec_id = p.id_a
                   JOIN e eb ON eb.vec_id = p.id_b)
      SELECT id_a, id_b, approx, cos FROM scored
      WHERE cos >= 0.35 ORDER BY id_a, id_b"""

  val all: Seq[QueryDef] = Seq(

    // Exact dedup stats: content-hash groupBy (one shuffle on digest).
    QueryDef("q30_dedup_exact", Some("""
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_distinct,
             count(*) - count(DISTINCT md5(text)) AS n_dup
      FROM documents GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"),
          (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup"))
        .orderBy("source")),

    // Token counting (BPE-ish proxy: whitespace tokens + char lengths).
    QueryDef("q31_token_stats", Some(s"""
      SELECT lang, count(*) AS n_docs,
             round(avg(len($toksSql)), 4) AS avg_tokens,
             CAST(max(len($toksSql)) AS BIGINT) AS max_tokens,
             round(avg(length(text)), 4) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), expr(s"size($toksExpr)").as("ntok"), length(col("text")).as("nch"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("ntok"), 4).as("avg_tokens"),
          max(col("ntok")).cast("bigint").as("max_tokens"),
          round(avg("nch"), 4).as("avg_chars"))
        .orderBy("lang")),

    // Quality scoring: deterministic length/token-band formula.
    QueryDef("q32_quality_score", Some(s"""
      SELECT source,
             round(avg(least(n_chars / 500.0, 1.0) * 0.5 +
                       CASE WHEN len($toksSql) BETWEEN 12 AND 30 THEN 0.5 ELSE 0.2 END), 4) AS avg_quality,
             count(*) AS n
      FROM documents GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          (least(col("n_chars") / 500.0, lit(1.0)) * 0.5 +
            when(expr(s"size($toksExpr)").between(12, 30), 0.5).otherwise(0.2)).as("q"))
        .groupBy("source")
        .agg(round(avg("q"), 4).as("avg_quality"), count(lit(1)).as("n"))
        .orderBy("source")),

    // Language-ID heuristic (vowel-density bands) vs labeled lang.
    QueryDef("q33_langid", Some("""
      SELECT lang,
             CASE WHEN vr >= 0.32 THEN 'v_high' WHEN vr >= 0.28 THEN 'v_mid' ELSE 'v_low' END AS vowel_band,
             count(*) AS n
      FROM (SELECT lang,
              CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
                / length(text) AS vr
            FROM documents)
      GROUP BY lang, vowel_band ORDER BY lang, vowel_band"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"),
          ((length(col("text")) - length(regexp_replace(col("text"), "[aeiou]", ""))).cast("double")
            / length(col("text"))).as("vr"))
        .select(col("lang"),
          when(col("vr") >= 0.32, "v_high").when(col("vr") >= 0.28, "v_mid")
            .otherwise("v_low").as("vowel_band"))
        .groupBy("lang", "vowel_band").agg(count(lit(1)).as("n"))
        .orderBy("lang", "vowel_band")),

    // Document fingerprint: digest of the sorted distinct token bag.
    QueryDef("q34_fingerprint", Some(s"""
      SELECT source, count(*) AS n_docs,
             count(DISTINCT md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))) AS n_fingerprints
      FROM documents GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          md5(array_join(array_sort(array_distinct(expr(toksExpr))), " ")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fingerprints"))
        .orderBy("source")),

    // n-gram Jaccard near-dup: inverted-index equi-join on shingles.
    QueryDef("q35_ngram_jaccard", Some(s"""
      WITH $shinglesSqlCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b,
             round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4) AS jaccard
      FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.3
      ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        // inverted index with ONE scan and zero joins: each exploded
        // shingle row carries (doc_id, set size), buckets expand pairs
        // locally, and the pair groupBy keys on (ids, sizes) so the
        // Jaccard denominator needs no lookback join. One shuffle on
        // the shingle key + one on the pair key. Shingling itself is
        // the compiled codegen kernel (functions.TextOps), not the
        // interpreted-HOF formulation — ~10x on the scan stage.
        // HotKeys.cap drops stop-phrase shingles (df > cap) before any
        // id array exists; the cap sits far above any possible df at
        // the driver's scale factors (df <= corpus size << 100k), so
        // the oracle result is unchanged while the plan carries the
        // 100 TB hot-shingle guard.
        val exploded = t(s, dir, "documents")
          .select(col("source"),
            graft.functions.TextExpressions.shingles(col("text"), 3).as("shs"),
            col("doc_id"))
          .select(col("source"), col("doc_id"), size(col("shs")).as("n"),
            explode(col("shs")).as("sh"))
        // pair expansion = spill-safe shingle-keyed sort-merge
        // self-join, observe in one branch only — the same shape as
        // Dedup.jaccardNearDupPairs (see Similarity.pairsInBuckets
        // for why joins, not in-bucket array expansion)
        val (q35L, q35R) = graft.operators.HotKeys.capPair(exploded,
          Seq(col("source"), col("sh")), graft.operators.HotKeys.DefaultBucketCap,
          metricName = "graft_q35_shingle_df_cap")
        val pairs = q35L
          .select(col("source"), col("sh"), col("doc_id").as("doc_a"), col("n").as("na"))
          .hint("merge")
          .join(q35R
            .select(col("source"), col("sh"), col("doc_id").as("doc_b"), col("n").as("nb")),
            Seq("source", "sh"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b", "na", "nb")
          .agg(count(lit(1)).as("shared"))
        pairs
          .withColumn("jaccard_raw", col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
          .filter(col("jaccard_raw") >= 0.3)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard_raw"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      }),

    // MinHash + banded LSH candidate pairs (signatures map-side,
    // candidates via band-key equi-join — the 100 TB dedup shape).
    QueryDef("q36_minhash_lsh", Some(s"""
      WITH shdoc AS (SELECT doc_id, $shinglesSqlArr AS shs FROM documents),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        // signatures computed map-side by the compiled MinHash kernel
        // (functions.TextOps — one pass over the doc, md5s in tight
        // JVM code, inside whole-stage codegen): no explode, no
        // shuffle until the tiny band join.
        val sig = t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextExpressions.minhash_sig(col("text"), 3, 4).as("hs"))
          .filter(col("hs").isNotNull)
          .select(col("doc_id"),
            element_at(col("hs"), 1).as("h0"), element_at(col("hs"), 2).as("h1"),
            element_at(col("hs"), 3).as("h2"), element_at(col("hs"), 4).as("h3"))
        val bands = sig.select(col("doc_id"), explode(array(
          md5(concat(col("h0"), lit("|"), col("h1"))),
          md5(concat(col("h2"), lit("|"), col("h3"))))).as("band"))
        // degenerate-band guard (same cap rationale as q35: far above
        // any band population at test scale, real at 100 TB), then a
        // spill-safe band-keyed sort-merge self-join — the same shape
        // as Dedup.lshCandidatePairs (see Similarity.pairsInBuckets
        // for why joins, not in-bucket array expansion; the band rows
        // are computed by the compiled MinHash kernel, so the
        // per-side recompute is one cheap codegen'd scan)
        val (q36L, q36R) = graft.operators.HotKeys.capPair(bands,
          Seq(col("band")), graft.operators.HotKeys.DefaultBucketCap,
          metricName = "graft_q36_band_cap")
        q36L.select(col("band"), col("doc_id").as("doc_a"))
          .hint("merge")
          .join(q36R.select(col("band"), col("doc_id").as("doc_b")), Seq("band"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .distinct()
          .orderBy("doc_a", "doc_b")
      }),

    // Brute-force cosine top-k against a broadcast query vector.
    QueryDef("q37_cosine_topk", Some("""
      WITH q AS (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS qv
                 FROM embeddings WHERE vec_id = 0),
      e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS ev
            FROM embeddings WHERE vec_id <> 0)
      SELECT e.vec_id,
             round(sum(CAST(e.ev AS DOUBLE) * CAST(q.qv AS DOUBLE))
               / (sqrt(sum(CAST(e.ev AS DOUBLE) * CAST(e.ev AS DOUBLE)))
                  * sqrt(sum(CAST(q.qv AS DOUBLE) * CAST(q.qv AS DOUBLE)))), 4) AS cos
      FROM e JOIN q USING (i) GROUP BY e.vec_id
      ORDER BY cos DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        // cosine is the compiled kernel (functions.CosineSim) — one
        // primitive pass per row, bit-identical to the HOF formulation
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val q = emb.filter(col("vec_id") === 0).select(col("e").as("qv"))
        emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(graft.operators.Similarity.cosine(col("e"), col("qv")), 4).as("cos"))
          .orderBy(desc("cos"), col("vec_id")).limit(10)
      }),

    // Sign-LSH bucketing — the ANN scale path (bucket then search).
    QueryDef("q38_ann_buckets", Some("""
      SELECT array_to_string(list_transform(embedding[1:8],
               x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket,
             count(*) AS n
      FROM embeddings GROUP BY bucket ORDER BY bucket"""),
      (s, dir) => t(s, dir, "embeddings")
        .select(expr(
          "concat_ws('', transform(slice(embedding, 1, 8), x -> CASE WHEN x >= CAST(0 AS FLOAT) THEN '1' ELSE '0' END))").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // Embedding near-dup candidate pairs inside sign-LSH buckets.
    QueryDef("q39_embedding_neardup", Some("""
      WITH b AS (SELECT vec_id, label,
                   array_to_string(list_transform(embedding[1:16],
                     x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
                 FROM embeddings)
      SELECT a.bucket, count(*) AS n_pairs,
             count(CASE WHEN a.label = c.label THEN 1 END) AS n_same_label
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      GROUP BY a.bucket ORDER BY a.bucket"""),
      (s, dir) => {
        val raw = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), expr(
            "concat_ws('', transform(slice(embedding, 1, 16), x -> CASE WHEN x >= CAST(0 AS FLOAT) THEN '1' ELSE '0' END))").as("bucket"))
        // hot-bucket guard before the self-join: a degenerate bucket
        // would make the equi-join output quadratic; the cap is far
        // above any bucket population at test scale (singleton-bucket
        // pruning via minPerKey=2 matches the join's own semantics)
        val b = graft.operators.HotKeys.cap(raw, Seq(col("bucket")),
          graft.operators.HotKeys.DefaultBucketCap,
          metricName = "graft_q39_bucket_cap")
        b.as("a").join(b.as("c"),
            col("a.bucket") === col("c.bucket") && col("a.vec_id") < col("c.vec_id"))
          .groupBy(col("a.bucket").as("bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("a.label") === col("c.label"), 1)).as("n_same_label"))
          .orderBy("bucket")
      }),

    // Tumbling-window aggregation (Structured-Streaming-shaped; see
    // streaming.EventStream for the readStream twin of this plan).
    QueryDef("q40_window_tumbling", Some("""
      SELECT strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)),
                      '%Y-%m-%d %H:%M:%S') AS win_start,
             count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY win_start ORDER BY win_start"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.select(window(graft.functions.EventTime.eventTs(ev), "5 minutes").as("w"), col("value"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"), col("value"))
          .groupBy("win_start").agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
          .orderBy("win_start")
      }),

    // Gap-based sessionization (10-minute idle gap) via windows.
    QueryDef("q41_sessionize", Some("""
      SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
      FROM (SELECT user_id,
              CASE WHEN lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w IS NULL THEN 1
                   WHEN epoch_ms(CAST(ts AS TIMESTAMP)) - lag(epoch_ms(CAST(ts AS TIMESTAMP))) OVER w > 600000 THEN 1
                   ELSE 0 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = t(s, dir, "events")
        ev.withColumn("ms", graft.functions.EventTime.eventMs(ev))
          .withColumn("new_session",
            when(lag(col("ms"), 1).over(w).isNull, 1)
              .when(col("ms") - lag(col("ms"), 1).over(w) > 600000, 1)
              .otherwise(0))
          .groupBy("user_id")
          .agg(sum("new_session").cast("bigint").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      }),

    // Multimodal plumbing: opaque binary column + digest/byte-length
    // metadata (decode itself is the stubbed leaf; see
    // operators.Multimodal for the mapPartitions plumbing).
    QueryDef("q42_multimodal_stub", Some("""
      SELECT source, count(*) AS n,
             CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
             count(DISTINCT sha256(text)) AS n_distinct_blobs
      FROM documents GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), col("text").cast("binary").as("blob"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(octet_length(col("blob"))).cast("bigint").as("total_bytes"),
          countDistinct(sha2(col("blob"), 256)).as("n_distinct_blobs"))
        .orderBy("source")),

    // Idempotency-key dedup: first event per (user, type, 5-min
    // window) wins — the batch twin of EventStream.dedupEvents'
    // watermarked dropDuplicatesWithinWatermark.
    QueryDef("q45_stream_dedup", Some("""
      WITH keyed AS (SELECT user_id, event_type,
                            time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS win5,
                            ts, event_id, value
                     FROM events),
      firsts AS (SELECT * FROM keyed
                 QUALIFY row_number() OVER (PARTITION BY user_id, event_type, win5
                                            ORDER BY ts, event_id) = 1)
      SELECT event_type, count(*) AS n_keys, round(sum(value), 2) AS first_total
      FROM firsts GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.withColumn("win5", window(graft.functions.EventTime.eventTs(ev), "5 minutes").getField("start"))
          .groupBy("user_id", "event_type", "win5")
          .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("first"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_keys"),
            round(sum("first.value"), 2).as("first_total"))
          .orderBy("event_type")
      }),

    // Sliding windows (10-minute span, 5-minute slide): every event
    // lands in exactly two windows; the oracle enumerates the two
    // per-event window starts explicitly.
    QueryDef("q46_sliding_window", Some("""
      SELECT strftime(time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP))
                        - k.k * INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS win_start,
             count(*) AS n, round(sum(value), 2) AS total
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
      GROUP BY win_start ORDER BY win_start"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.select(window(graft.functions.EventTime.eventTs(ev), "10 minutes", "5 minutes").as("w"), col("value"))
          .groupBy(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
          .orderBy("win_start")
      }),

    // Benchmark decontamination: containment search of a (small)
    // benchmark set against the corpus — |shingles(c) ∩ shingles(b)|
    // / |shingles(b)|. The benchmark side is small by definition, so
    // it broadcasts; the corpus side is one exploded scan, never a
    // self-join — the shape that works when the corpus is 100 TB and
    // the benchmark is a few thousand documents.
    QueryDef("q57_decontamination", Some(s"""
      WITH shdoc AS (SELECT doc_id, $shinglesSqlArr AS shs FROM documents),
      bench AS (SELECT doc_id AS bench_id, len(shs) AS bn, unnest(shs) AS sh
                FROM shdoc WHERE doc_id < 10 AND len(shs) > 0),
      corpus AS (SELECT doc_id, unnest(shs) AS sh FROM shdoc WHERE doc_id >= 10)
      SELECT c.doc_id AS doc_id, b.bench_id AS bench_id,
             round(CAST(count(*) AS DOUBLE) / b.bn, 4) AS containment
      FROM corpus c JOIN bench b USING (sh)
      GROUP BY c.doc_id, b.bench_id, b.bn
      HAVING CAST(count(*) AS DOUBLE) / b.bn >= 0.5
      ORDER BY doc_id, bench_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dedup.benchmarkContainment(
            docs.filter(col("doc_id") >= 10), "text", "doc_id",
            docs.filter(col("doc_id") < 10), "text", "doc_id",
            n = 3, minContainment = 0.5)
          .orderBy("doc_id", "bench_id")
      }),

    // Intra-document repetition ratio (1 - unique/total tokens) — the
    // Gopher-style repetition quality signal, map-side per doc.
    QueryDef("q58_repetition", Some(s"""
      SELECT source,
             round(avg(1.0 - CAST(n_unique AS DOUBLE) / n_tok), 4) AS avg_repetition,
             count(*) AS n
      FROM (SELECT source, len($toksSql) AS n_tok,
                   len(list_distinct($toksSql)) AS n_unique
            FROM documents)
      WHERE n_tok > 0
      GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), expr(s"size($toksExpr)").as("n_tok"),
          expr(s"size(array_distinct($toksExpr))").as("n_unique"))
        .filter(col("n_tok") > 0)
        .groupBy("source")
        .agg(round(avg(lit(1.0) - col("n_unique").cast("double") / col("n_tok")), 4)
          .as("avg_repetition"), count(lit(1)).as("n"))
        .orderBy("source")),

    // Vocabulary extraction: corpus-wide token frequencies, top-k.
    // Two-stage aggregation (map-side partial counts on the exploded
    // tokens) then a tiny ordered limit — the tokenizer vocab shape.
    QueryDef("q56_vocab_topk", Some(s"""
      SELECT t AS token, count(*) AS freq
      FROM (SELECT unnest($toksSql) AS t FROM documents)
      GROUP BY t ORDER BY freq DESC, token LIMIT 20"""),
      (s, dir) => t(s, dir, "documents")
        .select(explode(expr(toksExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("token")).limit(20)),

    // SimHash near-dup: banded 16-bit blocks of the 64-bit signature
    // (hamming <= 3 pairs share at least one of 4 blocks by pigeonhole
    // -- exact recall at this radius, no O(n^2) compare).
    QueryDef("q43_simhash_neardup", Some(s"""
      WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
      th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok),
      votes AS (SELECT doc_id, b.b AS b,
                       sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
                GROUP BY doc_id, b.b),
      sh AS (SELECT doc_id,
                    coalesce(bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << b) END), 0::UBIGINT) AS sh
             FROM votes GROUP BY doc_id),
      bands AS (SELECT doc_id, sh, k.k AS k, (sh >> (16 * k.k)) & 65535 AS band
                FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                FROM bands a JOIN bands b ON a.k = b.k AND a.band = b.band AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
      ORDER BY doc_a, doc_b"""),
      (s, dir) => {
        // signature map-side via the compiled simhash64_text kernel
        // (tokenization inside -- no interpreted lambda); candidate
        // generation + bucket-local hamming via the generic 64-bit
        // banding operator (also serving perceptual image hashes).
        val base = t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextExpressions.simhash64_text(col("text")).as("sh"))
          .filter(expr(s"size($toksExpr) > 0"))
        graft.operators.Dedup.hashNearDupPairs(base, "sh", "doc_id",
            maxHamming = 3, metricName = "graft_q43_band_cap")
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
          .orderBy("doc_a", "doc_b")
      }),

    // Text-normalization pipeline: NFC + casefold + PII/URL scrub +
    // whitespace canonicalization, as corpus stats (the cleaning chain
    // itself is one codegen span over the scan).
    QueryDef("q48_normalize_pipeline", Some("""
      SELECT source,
             count(DISTINCT md5(cleaned)) AS n_distinct_clean,
             round(avg(length(cleaned)), 4) AS avg_len,
             CAST(sum(CASE WHEN cleaned LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed
      FROM (SELECT source,
              trim(regexp_replace(
                regexp_replace(
                  regexp_replace(lower(nfc_normalize(text)),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  'https?://[^ ]+', '<URL>', 'g'),
                '\s+', ' ', 'g')) AS cleaned
            FROM documents)
      GROUP BY source ORDER BY source"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("source"),
          graft.operators.TextNorm.clean(col("text")).as("cleaned"))
        .groupBy("source")
        .agg(countDistinct(md5(col("cleaned"))).as("n_distinct_clean"),
          round(avg(length(col("cleaned"))), 4).as("avg_len"),
          sum(when(col("cleaned").contains("<EMAIL>"), 1).otherwise(0))
            .cast("bigint").as("n_scrubbed"))
        .orderBy("source")),

    // The composed corpus-prep pipeline in one plan: clean -> quality
    // gate -> exact dedup (first doc_id per cleaned text wins) ->
    // per-language yield stats. Every stage is a stage of the same
    // codegen'd scan until the two aggregations.
    QueryDef("q49_prep_pipeline", Some("""
      WITH cleaned AS (
        SELECT doc_id, lang, n_chars,
               trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS ctext
        FROM documents),
      gated AS (SELECT * FROM cleaned
                WHERE length(ctext) >= 20 AND n_chars <= 4000),
      deduped AS (SELECT * FROM gated
                  QUALIFY row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id) = 1)
      SELECT lang,
             CAST((SELECT count(*) FROM cleaned c WHERE c.lang = d.lang) AS BIGINT) AS n_in,
             count(*) AS n_out,
             round(avg(length(ctext)), 4) AS avg_clean_len
      FROM deduped d GROUP BY lang ORDER BY lang"""),
      (s, dir) => {
        val cleaned = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            trim(regexp_replace(lower(graft.operators.TextNorm.nfc(col("text"))),
              "\\s+", " ")).as("ctext"))
        val inCounts = cleaned.groupBy("lang").agg(count(lit(1)).as("n_in"))
        val deduped = cleaned
          .filter(length(col("ctext")) >= 20 && col("n_chars") <= 4000)
          .groupBy(md5(col("ctext")).as("_digest"))
          .agg(min(struct(col("doc_id"), col("lang"), col("ctext"))).as("first"))
        deduped
          .groupBy(col("first.lang").as("lang"))
          .agg(count(lit(1)).as("n_out"),
            round(avg(length(col("first.ctext"))), 4).as("avg_clean_len"))
          .join(broadcast(inCounts), "lang")
          .select(col("lang"), col("n_in"), col("n_out"), col("avg_clean_len"))
          .orderBy("lang")
      }),

    // Duplicate clusters: the dedup completion step — connected
    // components over the q36 LSH candidate pairs (iterative min-label
    // propagation on Spark; recursive-CTE closure in the oracle).
    QueryDef("q47_dup_clusters", Some(s"""
      WITH RECURSIVE shdoc AS (SELECT doc_id, $shinglesSqlArr AS shs FROM documents),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s)
      SELECT cluster, count(*) AS n_members FROM (
        SELECT a, min(b) AS cluster FROM reach GROUP BY a)
      GROUP BY cluster ORDER BY cluster"""),
      (s, dir) => {
        val pairs = graft.operators.Dedup.minhashNearDupCandidates(
          t(s, dir, "documents"), "text", "doc_id")
        graft.operators.Dedup.duplicateClusters(pairs)
          .groupBy("cluster").agg(count(lit(1)).as("n_members"))
          .orderBy("cluster")
      }),

    // IVF-style ANN: deterministic coarse centroids (vectors 1..8 as
    // the trained codebook stand-in), vectors assigned to their
    // nearest centroid, probe searches ONLY its centroid's inverted
    // list -- the n/K scale path vs q37's brute force.
    QueryDef("q44_ivf_ann", Some("""
      WITH c AS (SELECT vec_id AS cid,
                        list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      probe AS (SELECT cid FROM assign WHERE vec_id = 0),
      members AS (SELECT a.vec_id, e.e FROM assign a
                  JOIN e ON a.vec_id = e.vec_id
                  JOIN probe p ON a.cid = p.cid
                  WHERE a.vec_id <> 0),
      q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
      SELECT m.vec_id,
             round(list_inner_product(m.e, q.qe)
               / (sqrt(list_inner_product(m.e, m.e)) * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM members m CROSS JOIN q
      ORDER BY cos DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        graft.operators.Similarity.ivfTopK(others, cents, "e", "vec_id",
          queryVecId = 0, k = 10)
      }),

    // Multi-probe IVF: the nprobe recall knob over the same index as
    // q44 -- the codebook is ranked by distance to the query
    // driver-side (it is a literal already) and the scan reads the TWO
    // nearest inverted lists instead of one, recovering neighbors that
    // fell across the Voronoi boundary at ~2x the single-list scan.
    QueryDef("q59_ivf_multiprobe", Some("""
      WITH c AS (SELECT vec_id AS cid,
                        list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
      probe AS (SELECT c.cid FROM c CROSS JOIN q
                ORDER BY list_distance(c.ce, q.qe), c.cid LIMIT 2),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      members AS (SELECT a.vec_id, e.e FROM assign a
                  JOIN e ON a.vec_id = e.vec_id
                  JOIN probe p ON a.cid = p.cid
                  WHERE a.vec_id <> 0)
      SELECT m.vec_id,
             round(list_inner_product(m.e, q.qe)
               / (sqrt(list_inner_product(m.e, m.e)) * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM members m CROSS JOIN q
      ORDER BY cos DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        graft.operators.Similarity.ivfProbe(
          graft.operators.Similarity.ivfAssign(others, codebook, "e"),
          "e", "vec_id", queryVecId = 0, k = 10,
          nprobe = 2, codebook = codebook)
      }),

    // PII redaction: emails/URLs/IPv4/long-digit identifiers replaced
    // by placeholder tokens before anything leaves the pipeline — the
    // corpus-side PII pass every training-data prep runs. The synthetic
    // corpus carries no PII, so the query plants deterministic
    // doc_id-derived PII in the input ON BOTH SIDES and the oracle
    // checks the redacted output byte for byte. Map-side regex chain,
    // no shuffle.
    QueryDef("q60_pii_redact", Some("""
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               substr(text, 1, 40) || ' contact user' || doc_id || '@example.com see https://ex.com/a?b=1 from 10.1.' || (doc_id % 256) || '.77 ref ' || (doc_id * 1000007 + 123456789),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\d{9,}', '<ID>', 'g') AS redacted
      FROM documents WHERE doc_id < 20 ORDER BY doc_id"""),
      (s, dir) => t(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"),
          graft.operators.TextNorm.redactPii(concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id"),
            lit("@example.com see https://ex.com/a?b=1 from 10.1."),
            col("doc_id") % 256,
            lit(".77 ref "), col("doc_id") * 1000007 + 123456789)).as("redacted"))
        .orderBy("doc_id")),

    // Sequence packing: docs concatenated in doc_id order within a
    // deterministic shard (doc_id % 8 — computable identically by the
    // oracle) and chunked every 512 tokens; a doc's bin is the chunk
    // its first token lands in. The only shuffle is the per-shard
    // window partition; sharding is the scale knob (a global order
    // would serialize the corpus through one partition).
    QueryDef("q61_seq_pack", Some(s"""
      WITH toks AS (SELECT doc_id, doc_id % 8 AS shard,
                           len($toksSql) AS n_tok
                    FROM documents),
      packed AS (SELECT shard, n_tok,
                        CAST(floor(coalesce(sum(n_tok) OVER (
                          PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          / 512) AS BIGINT) AS bin
                 FROM toks)
      SELECT shard, bin, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS bin_tokens
      FROM packed GROUP BY shard, bin ORDER BY shard, bin"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            expr(s"size($toksExpr)").cast("bigint").as("_nt"))
        graft.operators.Packing.packGreedy(docs, col("_nt"),
            Seq(col("shard")), col("doc_id"), 512)
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").cast("bigint").as("bin_tokens"))
          .orderBy("shard", "bin")
      }),

    // Repeated-span flagging: word 3-spans present verbatim in >= 4
    // distinct docs are corpus boilerplate (license headers, template
    // chrome); per-source census of affected docs. One span-keyed
    // shuffle for the document frequency (per-doc-distinct spans ->
    // plain count, no distinct agg), hot spans pruned before the join
    // back.
    QueryDef("q62_repeated_spans", Some(s"""
      WITH $shinglesSqlCte,
      dfreq AS (SELECT sh, count(*) AS span_df FROM sh GROUP BY sh),
      hot AS (SELECT * FROM dfreq WHERE span_df >= 4),
      per_doc AS (SELECT s.doc_id, count(*) AS n_hot_spans,
                         CAST(max(h.span_df) AS BIGINT) AS max_span_df
                  FROM sh s JOIN hot h USING (sh) GROUP BY s.doc_id)
      SELECT d.source, count(*) AS n_flagged_docs,
             CAST(sum(p.n_hot_spans) AS BIGINT) AS total_hot_spans,
             CAST(max(p.max_span_df) AS BIGINT) AS max_span_df
      FROM per_doc p JOIN documents d USING (doc_id)
      GROUP BY d.source ORDER BY d.source"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dedup.repeatedSpans(docs, "text", "doc_id", n = 3, minDf = 4)
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_flagged_docs"),
            sum("n_hot_spans").cast("bigint").as("total_hot_spans"),
            max("max_span_df").cast("bigint").as("max_span_df"))
          .orderBy("source")
      }),

    // Training-mix realization: per-source weights (0.25/0.75/1.25/
    // 1.75 cycling by source index — sub- AND over-sampling) turned
    // into concrete epoch copies via a deterministic md5-derived
    // uniform, so the identical draw reproduces in the oracle. Pure
    // map-side: hash, compare, explode; no shuffle before the census
    // aggregation.
    QueryDef("q63_weighted_mix", Some("""
      WITH w AS (SELECT doc_id, source,
                        CAST(0.25 + (CAST(substr(source, 4) AS INT) % 4) * 0.5
                             AS DOUBLE) AS wt,
                        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                          / 4294967296.0 AS u
                 FROM documents),
      c AS (SELECT source, doc_id,
                   CAST(floor(wt) AS INT) +
                     CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS copies
            FROM w),
      mixed AS (SELECT source, doc_id,
                       unnest(generate_series(0, copies - 1)) AS epoch
                FROM c WHERE copies > 0)
      SELECT source, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
             CAST(max(epoch) AS BIGINT) AS max_epoch
      FROM mixed GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Mixing.weightedMix(docs, "doc_id",
            expr("CAST(0.25 + (CAST(substring(source, 4, 10) AS INT) % 4) * 0.5 AS DOUBLE)"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("doc_id").as("n_docs"),
            max("epoch").cast("bigint").as("max_epoch"))
          .orderBy("source")
      }),

    // Document chunking: docs longer than a 64-token window split
    // into strided chunks sharing 8 overlap tokens, one row per
    // chunk, all map-side (tokenize -> stride sequence -> explode ->
    // slice) before any shuffle. The census aggregates per source.
    QueryDef("q64_chunking", Some(s"""
      WITH toks AS (SELECT doc_id, source, len($toksSql) AS n FROM documents),
      chunks AS (SELECT doc_id, source, n,
                        unnest(generate_series(1, greatest(n - 8, 1), 56)) AS strt
                 FROM toks WHERE n > 0)
      SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
             CAST(sum(least(n - strt + 1, 64)) AS BIGINT) AS total_chunk_tokens,
             CAST(max(least(n - strt + 1, 64)) AS BIGINT) AS max_chunk_tokens
      FROM chunks GROUP BY source ORDER BY source"""),
      (s, dir) =>
        graft.operators.Packing.chunk(t(s, dir, "documents"), "text",
            maxTokens = 64, overlap = 8)
          .groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_chunks"),
            sum("chunk_tokens").cast("bigint").as("total_chunk_tokens"),
            max("chunk_tokens").cast("bigint").as("max_chunk_tokens"))
          .orderBy("source")),

    // Semantic (embedding-space) dedup end-to-end: sign-LSH bucketed
    // cosine pairs (never all-pairs) feed connected-components, and
    // the census reports every cluster -- q39's pair search and q47's
    // CC composed into the one operator chain a corpus dedup actually
    // runs. The synthetic embeddings are near-orthogonal, so the
    // threshold is low to exercise real multi-member clusters.
    QueryDef("q67_semantic_dedup", Some("""
      WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e,
                   array_to_string(list_transform(embedding[1:8],
                     x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
                 FROM embeddings),
      p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b
            FROM e a JOIN e c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            WHERE round(list_inner_product(a.e, c.e)
                  / (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(c.e, c.e))), 4) >= 0.2),
      edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
      reach AS (SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
                UNION
                SELECT r.a, e2.d FROM reach r JOIN edges e2 ON r.b = e2.s),
      lab AS (SELECT a, min(b) AS cluster FROM reach GROUP BY a)
      SELECT cluster, count(*) AS n_members FROM lab GROUP BY cluster ORDER BY cluster"""),
      (s, dir) => {
        val pairs = graft.operators.Similarity.nearDupPairs(
          t(s, dir, "embeddings"), "embedding", "vec_id",
          bits = 8, minCosine = 0.2)
        graft.operators.Dedup.duplicateClusters(pairs)
          .groupBy("cluster").agg(count(lit(1)).as("n_members"))
          .orderBy("cluster")
      }),

    // Deterministic stratified sampling: per-language keep rates
    // realized through the md5-uniform (reproducible, repartition-
    // stable, engine-portable) -- the corpus-balancing downsample.
    // Pure map-side filter; no shuffle before the census.
    QueryDef("q68_stratified_sample", Some("""
      SELECT lang, count(*) AS n_kept, round(avg(n_chars), 4) AS avg_chars
      FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0
            < 0.25 + (ascii(substr(lang, 1, 1)) % 3) * 0.25
      GROUP BY lang ORDER BY lang"""),
      (s, dir) => graft.operators.Mixing.stratifiedSample(
          t(s, dir, "documents"), "doc_id",
          lit(0.25) + (ascii(substring(col("lang"), 1, 1)) % 3) * 0.25)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang")),

    // Corpus snapshot diff: the generic keyed full-outer diff
    // (VulDbDiff.keyedDiff) pointed at two document snapshots --
    // "what changed between yesterday's crawl and today's" by content
    // digest. Snapshots are carved deterministically from the corpus
    // (doc_id % 11 / % 13 membership, % 7 content edits) so the oracle
    // reproduces them exactly.
    QueryDef("q69_snapshot_diff", Some("""
      WITH o AS (SELECT doc_id, md5(text) AS digest, lang, source
                 FROM documents WHERE doc_id % 11 <> 0),
      n AS (SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END) AS digest,
                   lang, source FROM documents WHERE doc_id % 13 <> 0)
      SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.digest <> n.digest THEN 'changed'
                  ELSE 'unchanged' END AS status, count(*) AS n
      FROM o FULL OUTER JOIN n USING (doc_id)
      GROUP BY status ORDER BY status"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val oldSnap = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"), md5(col("text")).as("digest"), col("lang"), col("source"))
        val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 7 === 3, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("digest"),
            col("lang"), col("source"))
        graft.operators.VulDbDiff.keyedDiff(oldSnap, newSnap,
            Seq("doc_id"), includeUnchanged = true)
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      }),

    // Exactly-k-per-stratum sampling: the 10 docs with the smallest
    // md5-uniform per language — stratum sizes pinned exactly (the
    // "10k docs per language" call), selected through the bounded
    // top_k heap aggregate so no stratum is ever fully sorted.
    QueryDef("q71_stratified_take", Some("""
      SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT,
                 doc_id) AS rnk
        FROM documents) WHERE rnk <= 10 ORDER BY lang, doc_id"""),
      (s, dir) => graft.operators.Mixing.stratifiedTake(
          t(s, dir, "documents"), Seq("lang"), "doc_id", k = 10)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")),

    // Interval (attribution) join census: every view joined to the
    // same user's purchases within the following 6 hours — the
    // batch twin of EventStream.intervalJoinPairs, whose stream-stream
    // form buffers bounded state via dual watermarks (StreamingSpec
    // pins batch/stream parity). Equi-join on the user plus a range
    // residual; per-user census keeps the output bounded.
    QueryDef("q72_interval_join", Some("""
      WITH e AS (SELECT event_id, user_id, event_type,
                        epoch_ms(CAST(ts AS TIMESTAMP)) AS ems, value FROM events),
      v AS (SELECT * FROM e WHERE event_type = 'view'),
      p AS (SELECT * FROM e WHERE event_type = 'purchase')
      SELECT v.user_id, count(*) AS n_pairs,
             CAST(min(p.ems - v.ems) AS BIGINT) AS min_lag_ms,
             CAST(max(p.ems - v.ems) AS BIGINT) AS max_lag_ms
      FROM v JOIN p ON v.user_id = p.user_id
        AND p.ems >= v.ems AND p.ems <= v.ems + 21600000
      GROUP BY v.user_id ORDER BY v.user_id"""),
      (s, dir) => {
        val ev = t(s, dir, "events")
        val e = ev.select(col("user_id"), col("event_type"),
          graft.functions.EventTime.eventMs(ev).as("ems"))
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ems").as("v_ems"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ems").as("p_ems"))
        v.join(p, "user_id")
          .filter(col("p_ems") >= col("v_ems") &&
            col("p_ems") <= col("v_ems") + 21600000L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"),
            min(col("p_ems") - col("v_ems")).cast("bigint").as("min_lag_ms"),
            max(col("p_ems") - col("v_ems")).cast("bigint").as("max_lag_ms"))
          .orderBy("user_id")
      }),

    // Corpus unigram log-prob scoring: each doc's average token
    // log-probability under the corpus's own unigram model — the
    // two-pass fluency/garbage signal (the corpus statistic is one
    // token-keyed shuffle; the Zipf-bounded vocab broadcasts back for
    // map-side scoring). Tokens under the count floor take the OOV
    // floor probability.
    QueryDef("q73_unigram_logprob", Some(s"""
      WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      cnt AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnt),
      vocab AS (SELECT * FROM cnt WHERE cnt >= 5)
      SELECT t.doc_id, count(*) AS n_tok,
             round(avg(coalesce(ln(v.cnt / tot.total), -15.0)), 4) AS logprob
      FROM tok t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
      GROUP BY t.doc_id ORDER BY t.doc_id"""),
      (s, dir) => graft.operators.TextStats.unigramLogProb(
          t(s, dir, "documents"), "text", "doc_id", minCount = 5L)
        .orderBy("doc_id")),

    // Keyword extraction: top-3 tokens per doc ranked by term
    // frequency with integer-only tie-breaks (corpus rarity, then
    // token) so the ranking reproduces exactly on any engine; the
    // tf-idf value rides along per keyword.
    QueryDef("q74_tfidf_keywords", Some(s"""
      WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
      dfreq AS (SELECT token, count(*) AS df
                FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS ndocs FROM documents),
      ranked AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                        row_number() OVER (PARTITION BY tf.doc_id
                          ORDER BY tf.tf DESC, dfreq.df ASC, tf.token ASC) AS rank
                 FROM tf JOIN dfreq USING (token))
      SELECT doc_id, rank, token, tf, df,
             round(tf * ln(nd.ndocs / df), 4) AS tfidf
      FROM ranked CROSS JOIN nd WHERE rank <= 3 AND doc_id < 40
      ORDER BY doc_id, rank"""),
      (s, dir) => graft.operators.TextStats.keywords(
          t(s, dir, "documents"), "text", "doc_id", k = 3)
        .filter(col("doc_id") < 40)
        .orderBy("doc_id", "rank")),

    // Incremental dedup: today's batch (doc_id % 4 = 0) deduped
    // against the standing corpus without re-clustering it — exact
    // digests, then LSH bands probed new-vs-(old + kept new), exact
    // Jaccard on candidates only, and full-rerun cluster semantics
    // (a new-new cluster touching old drops entirely; a pure-new
    // cluster keeps its min id). Old-side bands are precomputable,
    // so the recurring cost follows the batch, not the corpus.
    QueryDef("q75_incremental_dedup", Some(s"""
      WITH RECURSIVE
      olddocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
      newdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
      olddig AS (SELECT DISTINCT md5(text) AS dg FROM olddocs),
      keptexact AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM newdocs WHERE md5(text) IS NULL
             OR md5(text) NOT IN (SELECT dg FROM olddig WHERE dg IS NOT NULL))
        WHERE rn = 1),
      corpus AS (SELECT doc_id, text, FALSE AS isnew FROM olddocs
                 UNION ALL SELECT doc_id, text, TRUE AS isnew FROM keptexact),
      shc AS (SELECT doc_id, isnew, $shinglesSqlArr AS shs FROM corpus),
      sig AS (SELECT doc_id, isnew,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, isnew, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, isnew, md5(h2 || '|' || h3) AS band FROM sig),
      cand AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_other, o.isnew AS other_new
               FROM bands n JOIN bands o ON n.band = o.band AND n.isnew AND n.doc_id <> o.doc_id),
      ver AS (SELECT DISTINCT c.id_new, c.id_other, c.other_new
              FROM cand c JOIN shc a ON a.doc_id = c.id_new
                          JOIN shc b ON b.doc_id = c.id_other
              WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
                    (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8),
      contaminated AS (SELECT DISTINCT id_new FROM ver WHERE NOT other_new),
      nn AS (SELECT id_new AS s, id_other AS d FROM ver WHERE other_new
             UNION SELECT id_other, id_new FROM ver WHERE other_new),
      reach AS (SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM nn) v
                UNION SELECT r.a, e.d FROM reach r JOIN nn e ON r.b = e.s),
      lab AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      tainted AS (SELECT DISTINCT cluster FROM lab JOIN contaminated ON lab.id = contaminated.id_new),
      keepers AS (SELECT min(id) AS id FROM lab
                  WHERE cluster NOT IN (SELECT cluster FROM tainted) GROUP BY cluster),
      clusterdrops AS (SELECT id FROM lab WHERE id NOT IN (SELECT id FROM keepers)),
      survivors AS (SELECT k.doc_id FROM keptexact k
                    WHERE k.doc_id NOT IN (SELECT id_new FROM contaminated)
                      AND k.doc_id NOT IN (SELECT id FROM clusterdrops))
      SELECT d.doc_id, d.source FROM documents d JOIN survivors USING (doc_id)
      ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dedup.dropIncrementalDuplicates(
            docs.filter(col("doc_id") % 4 =!= 0),
            docs.filter(col("doc_id") % 4 === 0),
            "text", "doc_id", shingleN = 3, minJaccard = 0.8)
          .select("doc_id", "source")
          .orderBy("doc_id")
      }),

    // Batch IVF probe over the q44/q59 index: MANY queries answered in
    // one plan (Similarity.ivfProbeAll), here on the SHUFFLE path
    // (broadcastProbes=false) — the ranked probes repartition on the
    // list id instead of broadcasting, the shape that survives a
    // probe batch too large for any broadcast. Results are identical
    // to the broadcast path (SimilaritySpec pins that); the oracle
    // recomputes every query's two nearest lists and per-query top-5.
    QueryDef("q81_ivf_batch_probe", Some("""
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id IN (0, 100, 200)),
      probe AS (SELECT q.qid, q.qe, c.cid FROM q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      scored AS (SELECT p.qid, a.vec_id,
                        round(list_inner_product(e.e, p.qe)
                          / (sqrt(list_inner_product(e.e, e.e))
                             * sqrt(list_inner_product(p.qe, p.qe))), 4) AS cos
                 FROM probe p JOIN assign a ON a.cid = p.cid
                   JOIN e ON e.vec_id = a.vec_id
                 WHERE a.vec_id <> p.qid)
      SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 5 ORDER BY qid, rank"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfProbeAll(
            graft.operators.Similarity.ivfAssign(others, codebook, "e"),
            "e", "vec_id", queries, "qid", "e", codebook,
            k = 5, nprobe = 2, excludeSelf = true, broadcastProbes = Some(false))
          .orderBy("qid", "rank")
      }),

    // URL canonicalization for web-corpus dedup (TextNorm
    // .canonicalizeUrl/urlDomain): fragment dropped, scheme+host
    // lowercased, default ports stripped, empty path -> "/",
    // tracking params dropped and the rest SORTED — two fetches of
    // one resource become one string before the usual hash-groupBy
    // dedup. Pure codegen'd built-ins (regexp + array HOFs), one
    // map-side pass; the census groups by registrable-ish domain.
    QueryDef("q83_url_canon", Some("""
      WITH u AS (
        SELECT concat(
                 (CASE WHEN o_orderkey % 3 = 0 THEN 'HTTPS://Shop.Example.COM:443'
                       WHEN o_orderkey % 3 = 1 THEN 'http://blog.example.org:80'
                       ELSE 'https://Docs.Example.net' END),
                 '/item/', CAST(o_orderkey % 100 AS VARCHAR),
                 (CASE WHEN o_orderkey % 2 = 0
                   THEN concat('?utm_source=mail&b=', CAST(o_orderkey % 5 AS VARCHAR), '&a=1#frag')
                   ELSE '' END)) AS url
        FROM orders WHERE o_orderkey < 2000),
      steps AS (
        SELECT regexp_extract(regexp_replace(url, '#.*$', ''), '^([^?]*)', 1) AS base,
               regexp_extract(regexp_replace(url, '#.*$', ''), '^[^?]*\?(.*)$', 1) AS query
        FROM u),
      canon AS (
        SELECT concat(
                 regexp_replace(regexp_replace(
                   lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1)),
                   '^(http://.*):80$', '\1'), '^(https://.*):443$', '\1'),
                 (CASE WHEN regexp_replace(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '') = ''
                   THEN '/' ELSE regexp_replace(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '') END),
                 (CASE WHEN array_to_string(list_sort(list_filter(string_split(query, '&'),
                        p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&') = ''
                   THEN ''
                   ELSE concat('?', array_to_string(list_sort(list_filter(string_split(query, '&'),
                        p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&')) END))
               AS curl
        FROM steps)
      SELECT array_to_string((string_split(
               regexp_extract(lower(curl), '^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]*)', 1), '.'))[-2:], '.') AS domain,
             count(*) AS n_urls,
             count(DISTINCT curl) AS n_canonical
      FROM canon GROUP BY domain ORDER BY domain"""),
      (s, dir) => {
        import graft.operators.TextNorm
        val urls = t(s, dir, "orders").filter(col("o_orderkey") < 2000).select(
          concat(
            when(col("o_orderkey") % 3 === 0, lit("HTTPS://Shop.Example.COM:443"))
              .when(col("o_orderkey") % 3 === 1, lit("http://blog.example.org:80"))
              .otherwise(lit("https://Docs.Example.net")),
            lit("/item/"), (col("o_orderkey") % 100).cast("string"),
            when(col("o_orderkey") % 2 === 0,
              concat(lit("?utm_source=mail&b="), (col("o_orderkey") % 5).cast("string"),
                lit("&a=1#frag"))).otherwise(lit(""))).as("url"))
        urls.select(TextNorm.canonicalizeUrl(col("url")).as("curl"))
          .select(col("curl"), TextNorm.urlDomain(col("curl")).as("domain"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_urls"), countDistinct("curl").as("n_canonical"))
          .orderBy("domain")
      }),

    // Bigram LM scoring with add-k smoothing under the corpus's own
    // model — the word-ORDER fluency signal unigrams (q73) can't see.
    // The bigram count table is not vocab-bounded, so the scoring
    // join is a deliberate shuffle join on the pair key; the
    // left-count table broadcasts (vocab-sized) and V is a one-row
    // broadcast literal.
    QueryDef("q84_bigram_logprob", Some(s"""
      WITH t AS (SELECT doc_id, $toksSql AS a FROM documents),
      bg AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(a)),
                      i -> {'w1': a[i], 'w2': a[i + 1]})) AS b
             FROM t),
      pairs AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
      cb AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY w1, w2),
      cu AS (SELECT w1, CAST(sum(cb) AS DOUBLE) AS cu FROM cb GROUP BY w1),
      v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
            FROM (SELECT unnest(a) AS tok FROM t)),
      sc AS (SELECT p.doc_id, count(*) AS n_bigrams,
                    round(avg(ln((cb.cb + 0.5) / (cu.cu + 0.5 * v.v))), 4) AS logprob
             FROM pairs p JOIN cb ON p.w1 = cb.w1 AND p.w2 = cb.w2
               JOIN cu ON p.w1 = cu.w1 CROSS JOIN v
             GROUP BY p.doc_id)
      SELECT t.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.logprob
      FROM t LEFT JOIN sc ON t.doc_id = sc.doc_id
      ORDER BY t.doc_id"""),
      (s, dir) => graft.operators.TextStats.bigramLogProb(
          t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // Misra–Gries heavy-hitters sketch (custom TypedImperativeAggregate
    // with map-side partial aggregation): per-group dominant items in
    // O(capacity) state — the shuffle moves sketches, never rows. Run
    // here in the EXACT regime (distinct event types <= capacity), so
    // every count reproduces a plain GROUP BY and err pins to 0; the
    // approximate regime's order-independent bounds are pinned by
    // HeavyHittersSpec.
    QueryDef("q85_heavy_hitters", Some("""
      SELECT user_id, CAST(0 AS BIGINT) AS err, event_type,
             count(*) AS n
      FROM events WHERE user_id < 50
      GROUP BY user_id, event_type ORDER BY user_id, event_type"""),
      (s, dir) => t(s, dir, "events")
        .filter(col("user_id") < 50)
        .groupBy("user_id")
        .agg(graft.functions.HeavyHittersAgg.heavyHitters(col("event_type"), 16).as("hh"))
        .select(col("user_id"), col("hh.err").as("err"), explode(col("hh.items")).as("it"))
        .select(col("user_id"), col("err"), col("it.item").as("event_type"),
          col("it.count").as("n"))
        .orderBy("user_id", "event_type")),

    // Temperature-scaled source mixing (q_i ∝ p_i^alpha): the
    // standard multi-source re-balancing — alpha < 1 lifts
    // low-resource sources, and the per-doc weight budget·q_i/n_i
    // OVERSAMPLES them (> 1 copies) where needed. The weight table is
    // sources-sized and broadcasts; realization is the deterministic
    // md5-uniform floor+Bernoulli explode, map-side.
    QueryDef("q86_temperature_mix", Some("""
      WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source),
      z AS (SELECT sum(pow(n, 0.5)) AS z FROM c),
      w AS (SELECT source, n, pow(c.n, 0.5) / z.z * 400 / c.n AS wt FROM c CROSS JOIN z),
      m AS (SELECT d.source, w.wt,
                   floor(w.wt) + (CASE WHEN
                       ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0
                       < w.wt - floor(w.wt) THEN 1 ELSE 0 END) AS copies
            FROM documents d JOIN w USING (source))
      SELECT source, CAST(count(*) AS BIGINT) AS n_in,
             round(any_value(wt), 6) AS weight,
             CAST(sum(copies) AS BIGINT) AS n_out
      FROM m GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mixed = graft.operators.Mixing.temperatureMix(
            docs, "source", "doc_id", alpha = 0.5, budget = 400L)
          .groupBy("source").agg(count(lit(1)).as("n_out"))
        docs.groupBy("source").agg(count(lit(1)).as("n_in"))
          .join(broadcast(graft.operators.Mixing.temperatureWeights(
              docs, "source", alpha = 0.5, budget = 400L)
            .select(col("source"), round(col("weight"), 6).as("weight"))),
            Seq("source"))
          .join(mixed, Seq("source"), "left_outer")
          .select(col("source"), col("n_in"), col("weight"),
            coalesce(col("n_out"), lit(0L)).as("n_out"))
          .orderBy("source")
      }),

    // Repeated-span REMOVAL (Dedup.removeRepeatedSpans): q62 flags
    // docs carrying cross-document boilerplate; this CUTS the spans —
    // every word 3-span in >= 3 distinct docs excised from every doc,
    // text rebuilt from the survivors. The span df is one
    // (doc, span)-distinct census; only hot spans join back; the cut
    // is a map-side array rebuild.
    QueryDef("q87_span_removal", Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
                 FROM documents),
      sp0 AS (SELECT doc_id, a,
                     unnest(range(0, greatest(len(a) - 2, 0))) AS p
              FROM t),
      sp AS (SELECT doc_id, p, array_to_string(a[p + 1 : p + 3], ' ') AS span FROM sp0),
      hot AS (SELECT span FROM (SELECT DISTINCT doc_id, span FROM sp)
              GROUP BY span HAVING count(*) >= 3),
      hs AS (SELECT sp.doc_id, sp.p FROM sp JOIN hot USING (span)),
      tokpos AS (SELECT doc_id, a, unnest(range(0, len(a))) AS p FROM t),
      kept AS (SELECT tp.doc_id, tp.p, tp.a[tp.p + 1] AS tok
               FROM tokpos tp
               WHERE NOT EXISTS (SELECT 1 FROM hs
                 WHERE hs.doc_id = tp.doc_id AND tp.p >= hs.p AND tp.p < hs.p + 3)),
      o AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
      SELECT t.doc_id, coalesce(o.clean_text, '') AS clean_text,
             len(t.a) - coalesce(o.n_kept, 0) AS n_removed
      FROM t LEFT JOIN o USING (doc_id) ORDER BY t.doc_id"""),
      (s, dir) => graft.operators.Dedup.removeRepeatedSpans(
          t(s, dir, "documents").select("doc_id", "text"), "text", "doc_id",
          n = 3, minDf = 3)
        .select("doc_id", "clean_text", "n_removed")
        .orderBy("doc_id")),

    // Thread / conversation assembly (Packing.assembleThreads): chat
    // logs or event streams collapse into one ordered training
    // document per thread — the ordered join happens inside the
    // aggregated array (sort_array over structs), one groupBy
    // shuffle, never a global sort.
    QueryDef("q88_thread_assembly", Some("""
      SELECT user_id, count(*) AS n_turns,
             string_agg(event_type, '|' ORDER BY event_id) AS thread_text
      FROM events WHERE user_id < 30
      GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => graft.operators.Packing.assembleThreads(
          t(s, dir, "events").filter(col("user_id") < 30)
            .select(col("user_id"), col("event_id"), col("event_type")),
          Seq("user_id"), "event_id", "event_type", sep = "|")
        .orderBy("user_id")),

    // BPE end-to-end: learn 40 merges on 4/5 of the corpus, tokenize
    // the held-out 1/5 with the learned table — full of words the
    // training vocab never saw, which take the merge-RULE path (not a
    // char split), the shape every fresh crawl batch has. ORACLE-
    // PINNED since round 14 (this row was the suite's one `no_oracle`
    // asterisk): the corpus projects to q129's restricted alphabet
    // ([a-z]{1,8} words — what makes the bracket-encoded replay
    // unambiguous), the LEARNING replays as FORTY generated unrolled
    // rounds (q129's device at q89's full depth — each round recounts
    // weighted adjacent pairs, takes the (count DESC, l, r) winner,
    // applies it via the non-overlapping replace fold), and the
    // held-out SEGMENTATION replays rank-by-rank in q91's recursive
    // CTE under the table those rounds just learned. The Spark side
    // keeps the default BATCHED learner, so the hash match pins the
    // batching-equivalence argument at depth 40 AND the train→OOV
    // handoff in one row. BpeSpec keeps byte-level/OOV corners.
    QueryDef("q89_bpe_oov_segment", Some {
      val merges = 40
      // AS MATERIALIZED is load-bearing at this depth: each round
      // references v$k twice (the pair count and the rewrite), so a
      // planner that inlines single-definition CTEs expands the
      // 40-round chain EXPONENTIALLY (observed: fd exhaustion from
      // 2^40 scan leaves); materializing every round keeps the replay
      // linear (~1 s at sf0.001)
      def round(k: Int): String = s"""
      p$k AS MATERIALIZED (SELECT l, r, sum(cnt) AS n FROM (
                SELECT cnt, a[i] AS l, a[i + 1] AS r FROM (
                  SELECT cnt, a, unnest(range(1, len(a))) AS i FROM (
                    SELECT cnt, string_split(substr(s, 2, length(s) - 2), '][') AS a
                    FROM v$k)))
              GROUP BY l, r),
      w$k AS MATERIALIZED (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
      v${k + 1} AS MATERIALIZED (SELECT word, cnt,
                      replace(s, '[' || w$k.l || '][' || w$k.r || ']',
                                 '[' || w$k.l || w$k.r || ']') AS s
                    FROM v$k CROSS JOIN w$k)"""
      val mRows = (0 until merges).map(k =>
        s"SELECT $k AS rank, l, r FROM w$k").mkString("\n      UNION ALL ")
      s"""
      WITH RECURSIVE fix AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> regexp_matches(x, '^[a-z]{1,8}$$')) AS a
           FROM documents),
      w AS (SELECT word, count(*) AS cnt FROM (
             SELECT unnest(a) AS word FROM fix WHERE doc_id % 5 <> 0)
            GROUP BY word),
      v0 AS MATERIALIZED (SELECT word, cnt,
               '[' || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), '][') || '][</w>]' AS s
             FROM w),${(0 until merges).map(round).mkString(",")},
      m AS ($mRows),
      ho AS (SELECT doc_id, a FROM fix WHERE doc_id % 5 = 0),
      how AS (SELECT DISTINCT word FROM (SELECT unnest(a) AS word FROM ho)),
      init AS (SELECT word,
                      list_append(list_transform(range(1, length(word) + 1),
                        i -> word[i]), '</w>') AS syms,
                      0 AS rank
               FROM how),
      seg AS (
        SELECT word, syms, rank FROM init
        UNION ALL
        SELECT word,
               CASE WHEN p IS NULL THEN syms
                    ELSE syms[1 : p - 1] || [l || r] || syms[p + 2 : len(syms)] END,
               CASE WHEN p IS NULL THEN rank + 1 ELSE rank END
        FROM (SELECT word, syms, rank, l, r,
                     list_filter(range(1, len(syms)),
                       i -> syms[i] = l AND syms[i + 1] = r)[1] AS p
              FROM (SELECT s.word, s.syms, s.rank, m.l, m.r
                    FROM seg s JOIN m ON m.rank = s.rank))
      ),
      done AS (SELECT word, syms FROM seg WHERE rank = $merges),
      tok AS (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS pos FROM ho),
      joined AS (SELECT tk.doc_id, tk.pos, d.syms
                 FROM (SELECT doc_id, pos, a[pos] AS word FROM tok) tk
                   JOIN done d USING (word)),
      o AS (SELECT doc_id, count(*) AS nw, sum(len(syms)) AS ns,
                   string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos) AS st
            FROM joined GROUP BY doc_id)
      SELECT h.doc_id, CAST(coalesce(o.nw, 0) AS BIGINT) AS n_words,
             CAST(coalesce(o.ns, 0) AS BIGINT) AS n_subwords,
             coalesce(o.st, '') AS subword_text
      FROM ho h LEFT JOIN o USING (doc_id) ORDER BY h.doc_id"""
    },
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"),
          expr("array_join(filter(split(lower(text), ' '), " +
            "x -> x rlike '^[a-z]{1,8}$'), ' ')").as("text"))
        val learned = graft.operators.Bpe.learn(
          docs.filter(col("doc_id") % 5 =!= 0), "text",
          numMerges = 40, batchMerges = 16)
        graft.operators.Bpe.segment(
            docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", learned)
          .select(col("doc_id"), col("n_words"), col("n_subwords"),
            concat_ws(" ", col("subwords")).as("subword_text"))
          .orderBy("doc_id")
      }),

    // IVF-PQ with ADC scoring and exact re-rank (Similarity.pqAssign
    // / ivfPqProbeAll): the probed inverted lists are scored against
    // the M-smallint CODE column (asymmetric distance in the
    // normalized space — monotone with cosine on the unit sphere),
    // only the per-query top-`rerank` shortlist reads raw embeddings
    // for the exact-cosine top-k. Fixed donor codebooks (vec_id 1..8,
    // normalized then sliced per subspace) keep the whole pipeline —
    // normalize, per-subspace argmin codes, ADC, shortlist, re-rank —
    // oracle-replayable with no k-means on the DuckDB side; the
    // k-means-trained PQ path is pinned by SimilaritySpec instead.
    QueryDef("q90_ivf_pq_probe", Some(ivfPqProbeOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val donors = cents.orderBy("cid").collect()
          .map(_.getSeq[Double](1).toSeq).toSeq
        val pq = graft.operators.Similarity.pqFromVectors(donors, numSubspaces = 4)
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfPqProbeAll(
            graft.operators.Similarity.pqAssign(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"), "e", pq),
            "e", "vec_id", queries, "qid", "e", codebook, pq,
            k = 5, nprobe = 2, rerank = 20, excludeSelf = true)
          .orderBy("qid", "rank")
      }),

    // BPE INFERENCE under a FIXED checked-in merge table (no
    // learning): every word takes Bpe.segment's OOV merge-rule path
    // (the vocab is empty), so the greedy lowest-rank-first kernel is
    // pinned against a DuckDB oracle that replays the same merges
    // rank-by-rank in a recursive CTE — q89 keeps the end-to-end
    // learning shape, this row gives the inference fold the hard
    // hash-match signal. The two replay orders agree because a merge
    // can only enable pairs of HIGHER rank (each merged string is
    // fresh — never a component of an earlier pair), the same
    // argument Bpe.applyMerges' Scaladoc makes for trained tables.
    QueryDef("q91_bpe_fixed_segment", Some("""
      WITH RECURSIVE
      m(rank, l, r) AS (VALUES (0, 's', 'c'), (1, 'sc', 'a'), (2, 'sca', 'n'),
                               (3, 'scan', '</w>'), (4, 'o', 'r'), (5, 'or', 'd'),
                               (6, 'e', 'r'), (7, 'er', '</w>')),
      t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS a
            FROM documents),
      w AS (SELECT DISTINCT word FROM (SELECT unnest(a) AS word FROM t)),
      init AS (SELECT word,
                      list_append(list_transform(range(1, length(word) + 1),
                        i -> word[i]), '</w>') AS syms,
                      0 AS rank
               FROM w),
      seg AS (
        SELECT word, syms, rank FROM init
        UNION ALL
        SELECT word,
               CASE WHEN p IS NULL THEN syms
                    ELSE syms[1 : p - 1] || [l || r] || syms[p + 2 : len(syms)] END,
               CASE WHEN p IS NULL THEN rank + 1 ELSE rank END
        FROM (SELECT word, syms, rank, l, r,
                     list_filter(range(1, len(syms)),
                       i -> syms[i] = l AND syms[i + 1] = r)[1] AS p
              FROM (SELECT s.word, s.syms, s.rank, m.l, m.r
                    FROM seg s JOIN m ON m.rank = s.rank))
      ),
      done AS (SELECT word, syms FROM seg WHERE rank = 8),
      tok AS (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS pos FROM t),
      joined AS (SELECT tk.doc_id, tk.pos, d.syms
                 FROM (SELECT doc_id, pos, a[pos] AS word FROM tok) tk
                   JOIN done d USING (word)),
      o AS (SELECT doc_id, count(*) AS nw, sum(len(syms)) AS ns,
                   string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos) AS st
            FROM joined GROUP BY doc_id)
      SELECT t.doc_id, CAST(coalesce(o.nw, 0) AS BIGINT) AS n_words,
             CAST(coalesce(o.ns, 0) AS BIGINT) AS n_subwords,
             coalesce(o.st, '') AS subword_text
      FROM t LEFT JOIN o USING (doc_id) ORDER BY t.doc_id"""),
      (s, dir) => {
        import s.implicits._
        val fixedMerges = Seq(
          (0, "s", "c"), (1, "sc", "a"), (2, "sca", "n"), (3, "scan", "</w>"),
          (4, "o", "r"), (5, "or", "d"), (6, "e", "r"), (7, "er", "</w>"))
          .toDF("rank", "left", "right")
          .withColumn("merged", concat(col("left"), col("right")))
        val emptyVocab = Seq.empty[(String, Long, Seq[String])]
          .toDF("word", "count", "syms")
        graft.operators.Bpe.segment(
            t(s, dir, "documents").select(col("doc_id"), col("text")),
            "text", "doc_id",
            graft.operators.Bpe.Learned(fixedMerges, emptyVocab, 0))
          .select(col("doc_id"), col("n_words"), col("n_subwords"),
            concat_ws(" ", col("subwords")).as("subword_text"))
          .orderBy("doc_id")
      }),

    // PQ-coded near-dup PAIR search (nearDupPairsIvfPq) under the
    // same fixed donor codebook as q90: nprobe=2 multi-assignment,
    // in-bucket pair expansion over CODES, exact-cosine verify of the
    // survivors. sdcMargin=2 provably disables the SDC prefilter
    // (approx cosine is never < -1), so the pair set is deterministic
    // and the oracle replays it exactly; the `approx` column pins the
    // SDC kernel's values themselves (reconstruction cosine straight
    // from the codebook) against DuckDB's replay of code assignment +
    // per-subspace centroid products.
    QueryDef("q92_ivf_pq_neardup", Some(pqPairSearchOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val donors = cents.orderBy("cid").collect()
          .map(_.getSeq[Double](1).toSeq).toSeq
        val pq = graft.operators.Similarity.pqFromVectors(donors, numSubspaces = 4)
        val pairs = graft.operators.Similarity.nearDupPairsIvfPq(
          others, "e", "vec_id", codebook, pq,
          minCosine = 0.35, nprobe = 2, sdcMargin = 2.0)
        val codes = graft.operators.Similarity.pqAssign(others, "e", pq)
          .select(col("vec_id"), col("pq_code"))
        pairs
          .join(codes.select(col("vec_id").as("id_a"), col("pq_code").as("_ca")), "id_a")
          .join(codes.select(col("vec_id").as("id_b"), col("pq_code").as("_cb")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(graft.functions.VectorExpressions.pq_sdc_cos(
              col("_ca"), col("_cb"), pq.codebooks), 4).as("approx"),
            col("cos"))
          .orderBy("id_a", "id_b")
      }),

    // Codes-only persisted-index probe (rerankFrom): the SAME q90
    // pipeline, but the "index" frame carries (id, cid, code) ONLY —
    // no float column anywhere in the list scan — and the exact
    // re-rank joins the rerank shortlist back to the primary store by
    // id. The output must be BIT-IDENTICAL to q90's oracle replay:
    // dropping the floats from the scan is a storage change, never a
    // result change. This is the 100 TB index shape (M bytes/row).
    QueryDef("q93_pq_codes_only_probe", Some(ivfPqProbeOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val donors = cents.orderBy("cid").collect()
          .map(_.getSeq[Double](1).toSeq).toSeq
        val pq = graft.operators.Similarity.pqFromVectors(donors, numSubspaces = 4)
        val codesOnly = graft.operators.Similarity.pqAssign(
            graft.operators.Similarity.ivfAssign(others, codebook, "e"), "e", pq)
          .select("vec_id", "cid", "pq_code")
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfPqProbeAll(
            codesOnly, "e", "vec_id", queries, "qid", "e", codebook, pq,
            k = 5, nprobe = 2, rerank = 20, excludeSelf = true,
            rerankFrom = Some(others.select("vec_id", "e")))
          .orderBy("qid", "rank")
      }),

    // OPQ rotation probe under a FIXED reversal rotation: the model
    // codes dim-REVERSED vectors against dim-reversed donors, and the
    // probes rotate each query the same way. Squared distances are
    // invariant under a common permutation, so per-subspace code
    // assignment, the ADC shortlist, and the exact top-k all replay
    // to EXACTLY q90's unrotated oracle output — while any asymmetric
    // rotation bug (query left unrotated, double rotation, subspace
    // misalignment) breaks the hash. The PCA-learned-rotation path is
    // pinned by SimilaritySpec; this row pins rotation APPLICATION.
    QueryDef("q94_opq_rotation_probe", Some(ivfPqProbeOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val donors = cents.orderBy("cid").collect()
          .map(_.getSeq[Double](1).toSeq).toSeq
        val dims = donors.head.length
        val reversal: Seq[Seq[Double]] = (0 until dims).map(i =>
          Seq.tabulate(dims)(j => if (j == dims - 1 - i) 1.0 else 0.0))
        val pq = graft.operators.Similarity.pqFromVectors(
            donors.map(_.reverse), numSubspaces = 4)
          .copy(rotation = Some(reversal))
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfPqProbeAll(
            graft.operators.Similarity.pqAssign(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"), "e", pq),
            "e", "vec_id", queries, "qid", "e", codebook, pq,
            k = 5, nprobe = 2, rerank = 20, excludeSelf = true)
          .orderBy("qid", "rank")
      }),

    // RESIDUAL IVF-PQ probe under FIXED residual donors: the residual
    // codebooks are the residuals of corpus rows 10..17 (normalized
    // vector minus the normalized coarse centroid of each row's
    // nearest list — computed driver-side with the same left-to-right
    // float arithmetic the kernels use), so the whole FAISS-style
    // pipeline is DuckDB-replayable with no k-means: per-row residual,
    // per-subspace argmin codes against the residual donors, the
    // PER-LIST SHIFTED query (q̂ − ĉ_list) scored by the same ADC
    // kernel, shortlist, exact-cosine re-rank. The k-means-trained
    // residual path (and the recall geometry that motivates it) is
    // pinned by SimilaritySpec; this row pins residual ARITHMETIC and
    // the query-shift application end to end.
    QueryDef("q95_residual_pq_probe", Some(residualPqProbeOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        // residual donors: rows 10..17's residuals vs their own
        // nearest coarse list, in the kernels' left-to-right float
        // arithmetic so the literal matches the cluster-side values
        def norm(v: Seq[Double]): Seq[Double] = {
          val nrm = math.sqrt(v.map(x => x * x).sum)
          if (nrm == 0) v else v.map(_ / nrm)
        }
        val rdonors = others.filter(col("vec_id").between(10, 17))
          .orderBy("vec_id").collect()
          .map(_.getSeq[Double](1).toSeq)
          .map { v =>
            val cid = codebook.minBy { case (_, ce) =>
              v.zip(ce).map { case (a, b) => (a - b) * (a - b) }.sum }._1
            val cn = norm(codebook.find(_._1 == cid).get._2)
            norm(v).zip(cn).map { case (a, b) => a - b }
          }.toSeq
        val pq = graft.operators.Similarity.PqModel(4, 16,
          (0 until 4).map(sub => rdonors.map(_.slice(sub * 16, (sub + 1) * 16))),
          residual = true)
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfPqProbeAll(
            graft.operators.Similarity.pqAssignResidual(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"),
              "e", codebook, pq),
            "e", "vec_id", queries, "qid", "e", codebook, pq,
            k = 5, nprobe = 2, rerank = 20, excludeSelf = true)
          .orderBy("qid", "rank")
      }),

    // OPQ rotation through PAIR search: q92's pipeline under a fixed
    // reversal rotation (see pqPairSearchOracle's invariance note) —
    // pins that pqAssign's rotated coding and the SDC dot tables stay
    // mutually consistent inside nearDupPairsIvfPq, the facade's
    // 100 TB semantic-dedup route.
    QueryDef("q96_opq_pq_neardup", Some(pqPairSearchOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val donors = cents.orderBy("cid").collect()
          .map(_.getSeq[Double](1).toSeq).toSeq
        val dims = donors.head.length
        val reversal: Seq[Seq[Double]] = (0 until dims).map(i =>
          Seq.tabulate(dims)(j => if (j == dims - 1 - i) 1.0 else 0.0))
        val pq = graft.operators.Similarity.pqFromVectors(
            donors.map(_.reverse), numSubspaces = 4)
          .copy(rotation = Some(reversal))
        val pairs = graft.operators.Similarity.nearDupPairsIvfPq(
          others, "e", "vec_id", codebook, pq,
          minCosine = 0.35, nprobe = 2, sdcMargin = 2.0)
        val codes = graft.operators.Similarity.pqAssign(others, "e", pq)
          .select(col("vec_id"), col("pq_code"))
        pairs
          .join(codes.select(col("vec_id").as("id_a"), col("pq_code").as("_ca")), "id_a")
          .join(codes.select(col("vec_id").as("id_b"), col("pq_code").as("_cb")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(graft.functions.VectorExpressions.pq_sdc_cos(
              col("_ca"), col("_cb"), pq.codebooks), 4).as("approx"),
            col("cos"))
          .orderBy("id_a", "id_b")
      }),

    // COMPOSED OPQ+residual probe (the FAISS-style OPQ->IVFPQ stack)
    // under the fixed reversal rotation AND q95's fixed residual
    // donors: codebooks hold the REVERSED residual donors (= R applied
    // to each donor residual), assign rotates each row's residual,
    // probes rotate each probed list's shifted query. A permutation
    // preserves every per-subspace distance, so the whole composed
    // pipeline must replay BIT-IDENTICALLY to q95's unrotated residual
    // oracle — any asymmetry between the three application sites
    // (donor coding, row assign, query shift) breaks the hash. The
    // k-means/PCA-trained composed path and its recall ordering are
    // pinned by SimilaritySpec; this row pins composed APPLICATION.
    QueryDef("q97_opq_residual_probe", Some(residualPqProbeOracle),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        def norm(v: Seq[Double]): Seq[Double] = {
          val nrm = math.sqrt(v.map(x => x * x).sum)
          if (nrm == 0) v else v.map(_ / nrm)
        }
        // q95's residual donors, then rotated through R (= reversed):
        // codebooks live in the rotated frame, like pqTrainOpqResidual's
        val rdonors = others.filter(col("vec_id").between(10, 17))
          .orderBy("vec_id").collect()
          .map(_.getSeq[Double](1).toSeq)
          .map { v =>
            val cid = codebook.minBy { case (_, ce) =>
              v.zip(ce).map { case (a, b) => (a - b) * (a - b) }.sum }._1
            val cn = norm(codebook.find(_._1 == cid).get._2)
            norm(v).zip(cn).map { case (a, b) => a - b }.reverse
          }.toSeq
        val dims = codebook.head._2.length
        val reversal: Seq[Seq[Double]] = (0 until dims).map(i =>
          Seq.tabulate(dims)(j => if (j == dims - 1 - i) 1.0 else 0.0))
        val pq = graft.operators.Similarity.PqModel(4, 16,
          (0 until 4).map(sub => rdonors.map(_.slice(sub * 16, (sub + 1) * 16))),
          residual = true, rotation = Some(reversal))
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfPqProbeAll(
            graft.operators.Similarity.pqAssignResidual(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"),
              "e", codebook, pq),
            "e", "vec_id", queries, "qid", "e", codebook, pq,
            k = 5, nprobe = 2, rerank = 20, excludeSelf = true)
          .orderBy("qid", "rank")
      }),

    // CorpusPrep.semanticIncremental end to end on the CODES-ONLY
    // route: even non-centroid rows are the standing corpus, indexed
    // as (id, cid, code) with floats ONLY in the external store; every
    // odd row is a batch doc probed against it (nprobe 2, rerank 20,
    // exact top-1 cosine vs minCosine 0.34 — the median of the true
    // top-1 distribution, so the gate genuinely splits). The oracle
    // replays the whole stack in DuckDB — coarse assign, per-subspace
    // codes, probed-list ADC shortlist, store-joined exact re-rank,
    // threshold anti-join — and returns the surviving batch ids.
    QueryDef("q98_semantic_incremental", Some("""
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      d AS (SELECT cid - 1 AS did,
                   CASE WHEN sqrt(list_inner_product(ce, ce)) = 0 THEN ce
                        ELSE list_transform(ce, x -> x / sqrt(list_inner_product(ce, ce))) END AS dn
            FROM c),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      st AS (SELECT vec_id, e, ne FROM n WHERE vec_id % 2 = 0),
      assign AS (SELECT st.vec_id, arg_min(c.cid, list_distance(st.e, c.ce)) AS cid
                 FROM st CROSS JOIN c GROUP BY st.vec_id),
      codes AS (SELECT vec_id, s, did AS code FROM (
                  SELECT st.vec_id, sub.s, d.did,
                         row_number() OVER (PARTITION BY st.vec_id, sub.s
                           ORDER BY list_sum(list_transform(range(1, 17),
                             i -> power(st.ne[sub.s * 16 + i] - d.dn[sub.s * 16 + i], 2))),
                           d.did) AS rn
                  FROM st CROSS JOIN (SELECT unnest(range(0, 4)) AS s) sub CROSS JOIN d)
                WHERE rn = 1),
      q AS (SELECT vec_id AS qid, e AS qe, ne AS qn FROM n WHERE vec_id % 2 = 1),
      probe AS (SELECT q.qid, q.qe, q.qn, c.cid FROM q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      rec AS (SELECT cd.vec_id,
                     flatten(list(d.dn[cd.s * 16 + 1 : cd.s * 16 + 16] ORDER BY cd.s)) AS rr
              FROM codes cd JOIN d ON d.did = cd.code
              GROUP BY cd.vec_id),
      adc AS (SELECT p.qid, p.qe, a.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> power(p.qn[i] - rec.rr[i], 2))) AS adist
              FROM probe p
                JOIN assign a ON a.cid = p.cid
                JOIN rec ON rec.vec_id = a.vec_id),
      short AS (SELECT qid, qe, vec_id FROM adc
                QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) <= 20),
      hits AS (SELECT DISTINCT sh.qid
               FROM short sh JOIN e ON e.vec_id = sh.vec_id
               WHERE round(list_inner_product(e.e, sh.qe)
                     / (sqrt(list_inner_product(e.e, e.e))
                        * sqrt(list_inner_product(sh.qe, sh.qe))), 4) >= 0.34)
      SELECT q.qid AS vec_id FROM q
      WHERE q.qid NOT IN (SELECT qid FROM hits)
      ORDER BY vec_id"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val donors = cents.orderBy("cid").collect()
          .map(_.getSeq[Double](1).toSeq).toSeq
        val pq = graft.operators.Similarity.pqFromVectors(donors, numSubspaces = 4)
        val standing = others.filter(col("vec_id") % 2 === 0)
        val batch = others.filter(col("vec_id") % 2 === 1)
        val codesOnly = graft.operators.Similarity.pqAssign(
            graft.operators.Similarity.ivfAssign(standing, codebook, "e"), "e", pq)
          .select("vec_id", "cid", "pq_code")
        graft.operators.CorpusPrep.semanticIncremental(batch, codesOnly,
            idCol = "vec_id",
            cfg = graft.operators.CorpusPrep.Config(embCol = Some("e"),
              minCosine = 0.34, codebook = Some(codebook), pqModel = Some(pq),
              nprobe = 2),
            embStore = Some(standing.select("vec_id", "e")), rerank = 20)
          .select("vec_id").orderBy("vec_id")
      }),

    // SQ8 scalar quantization end to end — and unlike the PQ rows,
    // DONOR-FREE: the trainer is one deterministic per-dim min/max
    // aggregation, so the oracle replays TRAIN as well as
    // assign/probe (the PQ oracles must pin fixed donor codebooks
    // because k-means is not SQL). Codes are floor((v−min)/Δ + 0.5)
    // clamped to [0,255] — the floor(x+0.5) spelling is the exact
    // IEEE rounding both sides compute — dequantized at ADC time as
    // min + b·Δ; the approx-cosine shortlist (24) then re-ranks by
    // exact cosine, so the output carries exact scores.
    QueryDef("q99_sq8_probe", Some("""
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, min(ne[d]) AS mn, max(ne[d]) AS mx
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      mmv AS (SELECT list(mn ORDER BY d) AS mns,
                     list((mx - mn) / 255.0 ORDER BY d) AS dls
              FROM mm),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      deq AS (SELECT n.vec_id,
                     list_transform(range(1, 65), i ->
                       CASE WHEN v.dls[i] = 0 THEN v.mns[i]
                            ELSE v.mns[i] + least(255.0, greatest(0.0,
                              floor((n.ne[i] - v.mns[i]) / v.dls[i] + 0.5))) * v.dls[i]
                       END) AS dv
              FROM n CROSS JOIN mmv v),
      q AS (SELECT e AS qe, ne AS qn FROM n WHERE vec_id = 0),
      probe AS (SELECT c.cid FROM q CROSS JOIN c
                QUALIFY row_number() OVER (ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      adc AS (SELECT a.vec_id,
                     list_inner_product(q.qn, dq.dv)
                       / (sqrt(list_inner_product(q.qn, q.qn))
                          * sqrt(list_inner_product(dq.dv, dq.dv))) AS ac
              FROM probe p
                JOIN assign a ON a.cid = p.cid
                JOIN deq dq ON dq.vec_id = a.vec_id
                CROSS JOIN q
              WHERE a.vec_id <> 0),
      short AS (SELECT vec_id FROM adc
                QUALIFY row_number() OVER (ORDER BY ac DESC, vec_id) <= 24)
      SELECT s.vec_id,
             round(list_inner_product(e.e, q.qe)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q
      ORDER BY cos DESC, s.vec_id LIMIT 15"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val sq = graft.operators.Similarity.sqTrain(others, "e")
        val query = others.filter(col("vec_id") === 0)
          .select("e").head().getSeq[Double](0).toSeq
        graft.operators.Similarity.ivfSqProbe(
            graft.operators.Similarity.sqAssign(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"), "e", sq),
            "e", "vec_id", query, k = 15, codebook = codebook, sq = sq,
            nprobe = 2, rerank = 24, excludeId = Some(0L))
      }),

    // SQ8 PAIR search — q92's shape on the byte codec, donor-free
    // like q99: the oracle replays min/max training, per-dim byte
    // quantization, the dequant-cosine SDC score over shared
    // inverted lists, and the exact verify. sdcMargin = 2 disables
    // the prefilter so the replay is exact regardless of two-sided
    // quantization error on near-threshold pairs (the approx column
    // still pins the SDC kernel itself, hash-exact).
    QueryDef("q100_sq8_neardup", Some("""
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, min(ne[d]) AS mn, max(ne[d]) AS mx
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      mmv AS (SELECT list(mn ORDER BY d) AS mns,
                     list((mx - mn) / 255.0 ORDER BY d) AS dls
              FROM mm),
      deq AS (SELECT n.vec_id,
                     list_transform(range(1, 65), i ->
                       CASE WHEN v.dls[i] = 0 THEN v.mns[i]
                            ELSE v.mns[i] + least(255.0, greatest(0.0,
                              floor((n.ne[i] - v.mns[i]) / v.dls[i] + 0.5))) * v.dls[i]
                       END) AS dv
              FROM n CROSS JOIN mmv v),
      buck AS (SELECT e.vec_id, c.cid FROM e CROSS JOIN c
               QUALIFY row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_distance(e.e, c.ce), c.cid) <= 2),
      p AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buck a JOIN buck b ON a.cid = b.cid AND a.vec_id < b.vec_id),
      sdc AS (SELECT p.id_a, p.id_b,
                     round(list_inner_product(da.dv, db.dv)
                       / (sqrt(list_inner_product(da.dv, da.dv))
                          * sqrt(list_inner_product(db.dv, db.dv))), 4) AS approx
              FROM p
                JOIN deq da ON da.vec_id = p.id_a
                JOIN deq db ON db.vec_id = p.id_b),
      scored AS (SELECT p.id_a, p.id_b, s.approx,
                        round(list_inner_product(ea.e, eb.e)
                          / (sqrt(list_inner_product(ea.e, ea.e))
                             * sqrt(list_inner_product(eb.e, eb.e))), 4) AS cos
                 FROM p
                   JOIN sdc s ON s.id_a = p.id_a AND s.id_b = p.id_b
                   JOIN e ea ON ea.vec_id = p.id_a
                   JOIN e eb ON eb.vec_id = p.id_b)
      SELECT id_a, id_b, approx, cos FROM scored
      WHERE cos >= 0.35 ORDER BY id_a, id_b"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val sq = graft.operators.Similarity.sqTrain(others, "e")
        val pairs = graft.operators.Similarity.nearDupPairsIvfSq(
          others, "e", "vec_id", codebook, sq,
          minCosine = 0.35, nprobe = 2, sdcMargin = 2.0)
        val codes = graft.operators.Similarity.sqAssign(others, "e", sq)
          .select(col("vec_id"), col("sq_code"))
        pairs
          .join(codes.select(col("vec_id").as("id_a"), col("sq_code").as("_ca")), "id_a")
          .join(codes.select(col("vec_id").as("id_b"), col("sq_code").as("_cb")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(graft.functions.VectorExpressions.sq_sdc_cos(
              col("_ca"), col("_cb"), sq.mm), 4).as("approx"),
            col("cos"))
          .orderBy("id_a", "id_b")
      }),

    // Residual SQ8 (FAISS by_residual) — STILL donor-free: coarse
    // assignment, the residual cloud, per-dim min/max training, byte
    // quantization, the per-list shifted-query ADC-L2 shortlist
    // (||q̂−(ĉ+r̂)||² = ||(q̂−ĉ)−r̂||², the identity cosine lacks),
    // and the exact re-rank ALL replay in SQL — no k-means anywhere
    // in the pipeline.
    QueryDef("q101_sq8_residual_probe", Some("""
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      d AS (SELECT cid,
                   CASE WHEN sqrt(list_inner_product(ce, ce)) = 0 THEN ce
                        ELSE list_transform(ce, x -> x / sqrt(list_inner_product(ce, ce))) END AS dn
            FROM c),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      assign AS (SELECT e.vec_id, arg_min(c.cid, list_distance(e.e, c.ce)) AS cid
                 FROM e CROSS JOIN c GROUP BY e.vec_id),
      rv AS (SELECT n.vec_id, a.cid,
                    list_transform(range(1, 65), i -> n.ne[i] - d.dn[i]) AS r
             FROM n JOIN assign a USING (vec_id) JOIN d ON d.cid = a.cid),
      mm AS (SELECT i AS d, min(r[i]) AS mn, max(r[i]) AS mx
             FROM rv CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
      mmv AS (SELECT list(mn ORDER BY d) AS mns,
                     list((mx - mn) / 255.0 ORDER BY d) AS dls
              FROM mm),
      deq AS (SELECT rv.vec_id, rv.cid,
                     list_transform(range(1, 65), i ->
                       CASE WHEN v.dls[i] = 0 THEN v.mns[i]
                            ELSE v.mns[i] + least(255.0, greatest(0.0,
                              floor((rv.r[i] - v.mns[i]) / v.dls[i] + 0.5))) * v.dls[i]
                       END) AS dvr
              FROM rv CROSS JOIN mmv v),
      q AS (SELECT e AS qe, ne AS qn FROM n WHERE vec_id = 0),
      probe AS (SELECT c.cid, list_transform(range(1, 65), i -> q.qn[i] - d.dn[i]) AS qs
                FROM q CROSS JOIN c JOIN d ON d.cid = c.cid
                QUALIFY row_number() OVER (ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      adc AS (SELECT dq.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> power(p.qs[i] - dq.dvr[i], 2))) AS adist
              FROM probe p JOIN deq dq ON dq.cid = p.cid
              WHERE dq.vec_id <> 0),
      short AS (SELECT vec_id FROM adc
                QUALIFY row_number() OVER (ORDER BY adist, vec_id) <= 24)
      SELECT s.vec_id,
             round(list_inner_product(e.e, q.qe)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q
      ORDER BY cos DESC, s.vec_id LIMIT 15"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val sq = graft.operators.Similarity.sqTrainResidual(others, "e", codebook)
        val query = others.filter(col("vec_id") === 0)
          .select("e").head().getSeq[Double](0).toSeq
        graft.operators.Similarity.ivfSqProbe(
            graft.operators.Similarity.sqAssignResidual(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"),
              "e", codebook, sq),
            "e", "vec_id", query, k = 15, codebook = codebook, sq = sq,
            nprobe = 2, rerank = 24, excludeId = Some(0L))
      }),

    // Binary quantization (BQ1) flat probe — the 64× rung of the
    // compression ladder (D BITS per row), fully donor-free like the
    // SQ rows: training is per-dim MIDRANGE ((min+max)/2 — midrange,
    // not mean, because min/max are FP-order-independent, so the
    // thresholds and every code replay bit-identically regardless of
    // cluster reduction order), bits are ne[i] >= thr[i] (exact IEEE
    // comparison), candidates rank by Hamming distance, and the
    // 24-wide shortlist re-ranks by exact cosine. The Spark side
    // scores packed bytes with an XOR-popcount kernel; the oracle
    // recomputes the identical Hamming from the unpacked bits.
    QueryDef("q102_bq_probe", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      q AS (SELECT e.e AS qe, b.b AS qb
            FROM e JOIN bits b ON b.vec_id = e.vec_id WHERE e.vec_id = 0),
      ham AS (SELECT b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN b.b[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS hd
              FROM bits b CROSS JOIN q WHERE b.vec_id <> 0),
      short AS (SELECT vec_id FROM ham
                QUALIFY row_number() OVER (ORDER BY hd, vec_id) <= 24)
      SELECT s.vec_id,
             round(list_inner_product(e.e, q.qe)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q
      ORDER BY cos DESC, s.vec_id LIMIT 15"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        val query = emb.filter(col("vec_id") === 0)
          .select("e").head().getSeq[Double](0).toSeq
        graft.operators.Similarity.bqProbe(
          graft.operators.Similarity.bqAssign(emb, "e", m),
          "e", "vec_id", query, k = 15, model = m, rerank = 24,
          excludeId = Some(0L))
      }),

    // Batch BQ probe (q81's shape on the binary codec): three member
    // queries encoded CLUSTER-side through the same kernel, Hamming
    // shortlists per query, exact-cosine re-rank, self-matches
    // excluded. Same donor-free replay as q102.
    QueryDef("q103_bq_probe_all", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      qs AS (SELECT b.vec_id AS qid, e.e AS qe, b.b AS qb
             FROM bits b JOIN e ON e.vec_id = b.vec_id
             WHERE b.vec_id IN (0, 100, 200)),
      ham AS (SELECT q.qid, b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN b.b[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS hd
              FROM bits b CROSS JOIN qs q WHERE b.vec_id <> q.qid),
      short AS (SELECT qid, vec_id FROM ham
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY hd, vec_id) <= 24),
      scored AS (SELECT s.qid, s.vec_id,
                        round(list_inner_product(e.e, q.qe)
                          / (sqrt(list_inner_product(e.e, e.e))
                             * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
                 FROM short s
                   JOIN e ON e.vec_id = s.vec_id
                   JOIN qs q ON q.qid = s.qid)
      SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 8 ORDER BY qid, rank"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        val queries = emb.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.bqProbeAll(
            graft.operators.Similarity.bqAssign(emb, "e", m),
            "e", "vec_id", queries, "qid", "e", m,
            k = 8, rerank = 24, excludeSelf = true)
          .orderBy("qid", "rank")
      }),

    // The ANN evaluation harness itself, oracle-pinned: exact
    // brute-force ground truth for a sampled query batch
    // (bruteForceTopKAll — the one full-scan you pay ON A SAMPLE to
    // calibrate nprobe/rerank before any 100 TB probe), then
    // per-query recall of the approximate result against it
    // (recallAtK). Measured here on q103's BQ batch probe at its
    // tight rerank — whatever the recall IS, both engines must
    // compute the identical number, which pins the harness's join
    // and ratio arithmetic, not just the probe.
    QueryDef("q104_ann_recall", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      qs AS (SELECT b.vec_id AS qid, e.e AS qe, b.b AS qb
             FROM bits b JOIN e ON e.vec_id = b.vec_id
             WHERE b.vec_id IN (0, 100, 200)),
      ham AS (SELECT q.qid, b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN b.b[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS hd
              FROM bits b CROSS JOIN qs q WHERE b.vec_id <> q.qid),
      short AS (SELECT qid, vec_id FROM ham
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY hd, vec_id) <= 24),
      got AS (SELECT s.qid, s.vec_id,
                     round(list_inner_product(e.e, q.qe)
                       / (sqrt(list_inner_product(e.e, e.e))
                          * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
              FROM short s
                JOIN e ON e.vec_id = s.vec_id
                JOIN qs q ON q.qid = s.qid
              QUALIFY row_number() OVER (PARTITION BY s.qid
                ORDER BY cos DESC, s.vec_id) <= 8),
      truth AS (SELECT q.qid, e.vec_id,
                       round(list_inner_product(e.e, q.qe)
                         / (sqrt(list_inner_product(e.e, e.e))
                            * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
                FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY cos DESC, e.vec_id) <= 8)
      SELECT t.qid,
             round(sum(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
               / count(*), 4) AS recall
      FROM truth t LEFT JOIN got g ON g.qid = t.qid AND g.vec_id = t.vec_id
      GROUP BY t.qid ORDER BY t.qid"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        val queries = emb.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        val got = graft.operators.Similarity.bqProbeAll(
          graft.operators.Similarity.bqAssign(emb, "e", m),
          "e", "vec_id", queries, "qid", "e", m,
          k = 8, rerank = 24, excludeSelf = true)
        val truth = graft.operators.Similarity.bruteForceTopKAll(
          emb, "e", "vec_id", queries, "qid", "e", k = 8, excludeSelf = true)
        graft.operators.Similarity.recallAtK(got, truth, "qid", "vec_id")
          .orderBy("qid")
      }),

    // Asymmetric BQ probe: the float query scores each packed code by
    // Σ q̂_i·(2·bit_i − 1) — per-dim contributions weighted by the
    // query instead of Hamming's one-vote-per-dim — ranked DESCENDING.
    // ±1 multiplication and left-to-right summation are exact/identical
    // in both engines, so the replay stays donor-free.
    QueryDef("q105_bq_asym_probe", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      q AS (SELECT e.e AS qe, nn.ne AS qn
            FROM e JOIN n nn ON nn.vec_id = e.vec_id WHERE e.vec_id = 0),
      adc AS (SELECT b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> q.qn[i] * (2 * b.b[i] - 1))) AS sc
              FROM bits b CROSS JOIN q WHERE b.vec_id <> 0),
      short AS (SELECT vec_id FROM adc
                QUALIFY row_number() OVER (ORDER BY sc DESC, vec_id) <= 24)
      SELECT s.vec_id,
             round(list_inner_product(e.e, q.qe)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q
      ORDER BY cos DESC, s.vec_id LIMIT 15"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        val query = emb.filter(col("vec_id") === 0)
          .select("e").head().getSeq[Double](0).toSeq
        graft.operators.Similarity.bqProbe(
          graft.operators.Similarity.bqAssign(emb, "e", m),
          "e", "vec_id", query, k = 15, model = m, rerank = 24,
          excludeId = Some(0L), asymmetric = true)
      }),

    // Hamming-banded BQ PAIR search — the embedding twin of SimHash
    // text near-dup, donor-free end to end: candidates collide on one
    // of 4 byte-aligned code bands (16 bits each at D=64), the
    // full-code Hamming prefilter (<= 24) runs on codes only inside
    // the bucket, and survivors verify by exact cosine (>= 0.2)
    // joined back by id. The oracle replays banding as bit-slice
    // equality — byte-aligned slices make byte equality and bit
    // equality the same predicate.
    QueryDef("q106_bq_neardup", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      bands AS (SELECT vec_id, b, k,
                       array_to_string(b[k*16+1:k*16+16], '') AS band
                FROM bits CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, bb.vec_id AS id_b,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> CASE WHEN a.b[i] <> bb.b[i] THEN 1 ELSE 0 END)) AS INTEGER) AS hamming
               FROM bands a JOIN bands bb
                 ON a.k = bb.k AND a.band = bb.band AND a.vec_id < bb.vec_id),
      close AS (SELECT * FROM cand WHERE hamming <= 24)
      SELECT c.id_a, c.id_b, c.hamming,
             round(list_inner_product(ea.e, eb.e)
               / (sqrt(list_inner_product(ea.e, ea.e))
                  * sqrt(list_inner_product(eb.e, eb.e))), 4) AS cos
      FROM close c
        JOIN e ea ON ea.vec_id = c.id_a
        JOIN e eb ON eb.vec_id = c.id_b
      WHERE cos >= 0.2
      ORDER BY id_a, id_b"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        graft.operators.Similarity.nearDupPairsBq(emb, "e", "vec_id", m,
            minCosine = 0.2, bands = 4, maxHamming = 24)
          .orderBy("id_a", "id_b")
      }),

    // The facade's BQ lookup route (CorpusPrep.semanticIncremental +
    // Config.bqModel): odd vec_ids are the batch, even the standing
    // corpus whose index carries ONLY (id, D-bit code); candidates
    // come from the one-byte-band equi-join, every drop passes the
    // exact-cosine verify against the external float store, and the
    // survivors anti-join out. Donor-free like every BQ row.
    QueryDef("q107_semantic_inc_bq", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      bb AS (SELECT vec_id, k, array_to_string(b[k*8+1:k*8+8], '') AS band
             FROM bits CROSS JOIN (SELECT unnest(range(0, 8)) AS k)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, s.vec_id AS id_b
               FROM bb a JOIN bb s ON a.k = s.k AND a.band = s.band
               WHERE a.vec_id % 2 = 1 AND s.vec_id % 2 = 0),
      hits AS (SELECT DISTINCT c.id_a FROM cand c
               JOIN e ea ON ea.vec_id = c.id_a
               JOIN e eb ON eb.vec_id = c.id_b
               WHERE round(list_inner_product(ea.e, eb.e)
                 / (sqrt(list_inner_product(ea.e, ea.e))
                    * sqrt(list_inner_product(eb.e, eb.e))), 4) >= 0.3)
      SELECT vec_id FROM e
      WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT id_a FROM hits)
      ORDER BY vec_id"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        val standing = emb.filter(col("vec_id") % 2 === 0)
        val batch = emb.filter(col("vec_id") % 2 =!= 0)
        val codesOnly = graft.operators.Similarity.bqAssign(standing, "e", m)
          .select("vec_id", "bq_code")
        graft.operators.CorpusPrep.semanticIncremental(batch, codesOnly,
            idCol = "vec_id",
            cfg = graft.operators.CorpusPrep.Config(embCol = Some("e"),
              minCosine = 0.3, bqModel = Some(m)),
            embStore = Some(standing.select("vec_id", "e")))
          .select("vec_id").orderBy("vec_id")
      }),

    // IVF-BQ composition (FAISS IndexBinaryIVF, public knowledge):
    // the coarse inverted lists of q44 under the sign codes of q102 —
    // the probe prunes to the 2 nearest lists (centroid donors
    // vec_id 1..8, as in q95/q101), Hamming-ranks ONLY the probed
    // rows, and exact-cosine re-ranks the 24-wide shortlist. Training
    // is the same donor-free midrange pass as every BQ row, so the
    // ENTIRE pipeline — coarse assign, thresholds, bits, list rank,
    // Hamming, rerank — replays in DuckDB.
    QueryDef("q108_ivf_bq_probe", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id BETWEEN 1 AND 8),
      o AS (SELECT * FROM e WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM o),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      assign AS (SELECT o.vec_id, arg_min(c.cid, list_distance(o.e, c.ce)) AS cid
                 FROM o CROSS JOIN c GROUP BY o.vec_id),
      q AS (SELECT o.e AS qe, b.b AS qb
            FROM o JOIN bits b ON b.vec_id = o.vec_id WHERE o.vec_id = 0),
      probe AS (SELECT c.cid FROM c CROSS JOIN q
                QUALIFY row_number() OVER (ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      ham AS (SELECT b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN b.b[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS hd
              FROM bits b JOIN assign a ON a.vec_id = b.vec_id CROSS JOIN q
              WHERE a.cid IN (SELECT cid FROM probe) AND b.vec_id <> 0),
      short AS (SELECT vec_id FROM ham
                QUALIFY row_number() OVER (ORDER BY hd, vec_id) <= 24)
      SELECT s.vec_id,
             round(list_inner_product(e.e, q.qe)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
      FROM short s JOIN e ON e.vec_id = s.vec_id CROSS JOIN q
      ORDER BY cos DESC, s.vec_id LIMIT 15"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val m = graft.operators.Similarity.bqTrain(others, "e")
        val query = others.filter(col("vec_id") === 0)
          .select("e").head().getSeq[Double](0).toSeq
        graft.operators.Similarity.ivfBqProbe(
          graft.operators.Similarity.bqAssign(
            graft.operators.Similarity.ivfAssign(others, codebook, "e"), "e", m),
          "e", "vec_id", query, k = 15, codebook = codebook, model = m,
          nprobe = 2, rerank = 24, excludeId = Some(0L))
      }),

    // Bloom-prefiltered decontamination — q57's containment search
    // down the SCALE tier (benchBloomFpp): the bench shingle set
    // becomes a driver-built Bloom filter, the corpus explode is
    // prefiltered MAP-SIDE through the compiled bloom_might_contain
    // kernel, and only survivors reach the (now non-broadcast) exact
    // join. Bloom false positives are filtered by that exact join, so
    // the result is IDENTICAL to the broadcast path at any fpp — the
    // oracle is therefore q57's own SQL, which is precisely the claim
    // this row pins.
    QueryDef("q109_decontam_bloom", Some(s"""
      WITH shdoc AS (SELECT doc_id, $shinglesSqlArr AS shs FROM documents),
      bench AS (SELECT doc_id AS bench_id, len(shs) AS bn, unnest(shs) AS sh
                FROM shdoc WHERE doc_id < 10 AND len(shs) > 0),
      corpus AS (SELECT doc_id, unnest(shs) AS sh FROM shdoc WHERE doc_id >= 10)
      SELECT c.doc_id AS doc_id, b.bench_id AS bench_id,
             round(CAST(count(*) AS DOUBLE) / b.bn, 4) AS containment
      FROM corpus c JOIN bench b USING (sh)
      GROUP BY c.doc_id, b.bench_id, b.bn
      HAVING CAST(count(*) AS DOUBLE) / b.bn >= 0.5
      ORDER BY doc_id, bench_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Dedup.benchmarkContainment(
            docs.filter(col("doc_id") >= 10), "text", "doc_id",
            docs.filter(col("doc_id") < 10), "text", "doc_id",
            n = 3, minContainment = 0.5, benchBloomFpp = Some(0.01))
          .orderBy("doc_id", "bench_id")
      }),

    // Batch IVF-BQ probe — q103's many-query shape on q108's layout:
    // the probe side ranks each query's 2 nearest lists against the
    // codebook, joins the coded corpus on the LIST id (the equi-key a
    // flat binary scan lacks — what lets crawl-sized batches take the
    // shuffle path), Hamming-shortlists per query, exact-cosine
    // re-ranks. Same centroid donors as q108; donor-free training.
    QueryDef("q110_ivf_bq_probe_all", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      c AS (SELECT vec_id AS cid, e AS ce FROM e WHERE vec_id BETWEEN 1 AND 8),
      o AS (SELECT * FROM e WHERE vec_id NOT BETWEEN 1 AND 8),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM o),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      assign AS (SELECT o.vec_id, arg_min(c.cid, list_distance(o.e, c.ce)) AS cid
                 FROM o CROSS JOIN c GROUP BY o.vec_id),
      qs AS (SELECT b.vec_id AS qid, o.e AS qe, b.b AS qb
             FROM o JOIN bits b ON b.vec_id = o.vec_id
             WHERE o.vec_id IN (0, 100, 200)),
      probe AS (SELECT q.qid, c.cid FROM qs q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      ham AS (SELECT q.qid, b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN b.b[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS hd
              FROM bits b
                JOIN assign a ON a.vec_id = b.vec_id
                JOIN probe p ON p.cid = a.cid
                JOIN qs q ON q.qid = p.qid
              WHERE b.vec_id <> q.qid),
      short AS (SELECT qid, vec_id FROM ham
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY hd, vec_id) <= 24),
      scored AS (SELECT s.qid, s.vec_id,
                        round(list_inner_product(e.e, q.qe)
                          / (sqrt(list_inner_product(e.e, e.e))
                             * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
                 FROM short s
                   JOIN e ON e.vec_id = s.vec_id
                   JOIN qs q ON q.qid = s.qid)
      SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 8 ORDER BY qid, rank"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val m = graft.operators.Similarity.bqTrain(others, "e")
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        graft.operators.Similarity.ivfBqProbeAll(
            graft.operators.Similarity.bqAssign(
              graft.operators.Similarity.ivfAssign(others, codebook, "e"), "e", m),
            "e", "vec_id", queries, "qid", "e", codebook, m,
            k = 8, nprobe = 2, rerank = 24, excludeSelf = true)
          .orderBy("qid", "rank")
      }),

    // The pair-search half of the evaluation harness, oracle-pinned:
    // precision/recall of q36's banded-LSH candidate pairs against
    // q35's exact shingle-Jaccard pairs (>= 0.5, within source), via
    // Similarity.pairMetrics. Whatever the LSH s-curve yields HERE,
    // both engines must compute the identical counts and ratios —
    // which pins the harness's orientation normalization, dedup,
    // join, and zero-guard arithmetic end to end.
    QueryDef("q111_pair_metrics", Some(s"""
      WITH $shinglesSqlCte,
      cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      jp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
             GROUP BY doc_a, doc_b),
      tpairs AS (SELECT doc_a, doc_b
                 FROM jp JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
                 WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5),
      sig AS (SELECT doc_id, source,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, source, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, source, md5(h2 || '|' || h3) AS band FROM sig),
      gpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.source = b.source AND a.doc_id < b.doc_id),
      gc AS (SELECT count(*) AS n_got FROM gpairs),
      tc AS (SELECT count(*) AS n_truth FROM tpairs),
      hc AS (SELECT count(*) AS n_hit FROM gpairs g
             JOIN tpairs t ON g.doc_a = t.doc_a AND g.doc_b = t.doc_b)
      SELECT n_got, n_truth, n_hit,
             round(CASE WHEN n_got = 0 THEN 1.0
                        ELSE CAST(n_hit AS DOUBLE) / n_got END, 4) AS precision,
             round(CASE WHEN n_truth = 0 THEN 1.0
                        ELSE CAST(n_hit AS DOUBLE) / n_truth END, 4) AS recall
      FROM gc CROSS JOIN tc CROSS JOIN hc"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // truth: q35's exact-Jaccard pair pipeline at >= 0.5
        val exploded = docs
          .select(col("source"),
            graft.functions.TextExpressions.shingles(col("text"), 3).as("shs"),
            col("doc_id"))
          .select(col("source"), col("doc_id"), size(col("shs")).as("n"),
            explode(col("shs")).as("sh"))
        val (tL, tR) = graft.operators.HotKeys.capPair(exploded,
          Seq(col("source"), col("sh")), graft.operators.HotKeys.DefaultBucketCap,
          metricName = "graft_q111_shingle_df_cap")
        val truth = tL
          .select(col("source"), col("sh"), col("doc_id").as("id_a"), col("n").as("na"))
          .hint("merge")
          .join(tR.select(col("source"), col("sh"), col("doc_id").as("id_b"),
            col("n").as("nb")), Seq("source", "sh"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b", "na", "nb")
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared").cast("double") /
            (col("na") + col("nb") - col("shared")) >= 0.5)
          .select("id_a", "id_b")
        // got: q36's banded MinHash candidates, within source
        val sig = docs
          .select(col("doc_id"), col("source"),
            graft.functions.TextExpressions.minhash_sig(col("text"), 3, 4).as("hs"))
          .filter(col("hs").isNotNull)
        val bands = sig.select(col("doc_id"), col("source"), explode(array(
          md5(concat(element_at(col("hs"), 1), lit("|"), element_at(col("hs"), 2))),
          md5(concat(element_at(col("hs"), 3), lit("|"), element_at(col("hs"), 4))))).as("band"))
        val (gL, gR) = graft.operators.HotKeys.capPair(bands,
          Seq(col("source"), col("band")), graft.operators.HotKeys.DefaultBucketCap,
          metricName = "graft_q111_band_cap")
        val got = gL.select(col("source"), col("band"), col("doc_id").as("id_a"))
          .hint("merge")
          .join(gR.select(col("source"), col("band"), col("doc_id").as("id_b")),
            Seq("source", "band"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .distinct()
        graft.operators.Similarity.pairMetrics(got, truth)
      }),

    // Token-budget sampling (Mixing.tokenBudgetTake): each source
    // keeps rows in md5-draw order until 2,000 tokens — the mix knob
    // that training recipes actually specify (tokens, not docs). The
    // boundary doc crossing the budget is kept (greedy inclusion), so
    // kept_tokens lands in [budget, budget + max doc). The draw, the
    // running cumsum, and the boundary rule all replay in DuckDB.
    QueryDef("q112_token_budget", Some(s"""
      WITH d AS (SELECT doc_id, source, len($toksSql) AS nt FROM documents),
      tot AS (SELECT source, sum(nt) AS tot FROM d GROUP BY source),
      cum AS (SELECT d.doc_id, d.source, d.nt, t.tot,
                     sum(nt) OVER (PARTITION BY d.source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0,
                                doc_id) AS cum
              FROM d JOIN tot t USING (source)),
      kept AS (SELECT * FROM cum WHERE tot <= 2000 OR cum - nt < 2000)
      SELECT source, count(*) AS n_kept, CAST(sum(nt) AS BIGINT) AS kept_tokens
      FROM kept GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr(s"size($toksExpr)").cast("bigint").as("nt"))
        graft.operators.Mixing.tokenBudgetTake(d, Seq("source"), "doc_id",
            "nt", budget = 2000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("nt").as("kept_tokens"))
          .orderBy("source")
      }),

    // Corpus drift (TextStats.tokenDivergence): per-token Jensen-
    // Shannon decomposition between two snapshots (even vs odd
    // doc_ids), add-one-smoothed over the union vocabulary, top-30
    // drivers kept — ordering by the ROUNDED contribution so the cut
    // replays identically. The frequencies, smoothing, logs, and the
    // tie rule all replay in DuckDB.
    QueryDef("q113_token_divergence", Some(s"""
      WITH ta AS (SELECT unnest($toksSql) AS t FROM documents WHERE doc_id % 2 = 0),
      tb AS (SELECT unnest($toksSql) AS t FROM documents WHERE doc_id % 2 = 1),
      ca AS (SELECT t, count(*) AS c FROM ta GROUP BY t),
      cb AS (SELECT t, count(*) AS c FROM tb GROUP BY t),
      u AS (SELECT coalesce(ca.t, cb.t) AS token,
                   coalesce(ca.c, 0) AS nca, coalesce(cb.c, 0) AS ncb
            FROM ca FULL OUTER JOIN cb ON ca.t = cb.t),
      tot AS (SELECT CAST(sum(nca) AS DOUBLE) AS sa,
                     CAST(sum(ncb) AS DOUBLE) AS sb,
                     CAST(count(*) AS DOUBLE) AS v FROM u),
      p AS (SELECT token, (nca + 1.0) / (sa + v) AS pa,
                   (ncb + 1.0) / (sb + v) AS pb
            FROM u CROSS JOIN tot)
      SELECT token, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
             round(0.5 * pa * ln(2.0 * pa / (pa + pb))
                 + 0.5 * pb * ln(2.0 * pb / (pa + pb)), 6) AS js_contrib
      FROM p
      ORDER BY js_contrib DESC, token LIMIT 30"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.TextStats.tokenDivergence(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "text", topK = 30)
      }),

    // BM25 top-k retrieval (TextStats.bm25TopK): docs 0-2 are the
    // query set, the rest the corpus — Okapi BM25 with the
    // Lucene-style non-negative idf over distinct query tokens, k=5
    // per query. Ranks cut on the ROUNDED score (ties by doc) so the
    // float sum's addition order can't flip the cut between engines.
    QueryDef("q114_bm25_topk", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 3),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      scored AS (SELECT q.qid, p.doc_id,
                        round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                 FROM post p
                   JOIN qs q ON q.token = p.token
                   JOIN dft d ON d.token = p.token
                   JOIN lens l ON l.doc_id = p.doc_id
                   CROSS JOIN sc
                 GROUP BY q.qid, p.doc_id)
      SELECT qid, doc_id, score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 5 ORDER BY qid, rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.TextStats.bm25TopK(
            docs.filter(col("doc_id") >= 3), "text", "doc_id",
            docs.filter(col("doc_id") < 3)
              .select(col("doc_id").as("qid"), col("text")),
            "text", "qid", k = 5)
          .orderBy("qid", "rank")
      }),

    // Persisted BM25 index (TextStats.writeBm25Index / appendBm25Index
    // / compactBm25Index / readBm25Index / bm25TopKFromIndex): the
    // build-once half of q114. The index is WRITTEN on 4/5 of the
    // corpus, the last fifth is APPENDED (postings append + df
    // merge-rename + driver scalar update), the postings are
    // COMPACTED (df-gated stripe rewrite), and the probe runs from
    // the READ-BACK artifact — yet the oracle is q114's one-shot SQL
    // verbatim, so a single green row pins the ENTIRE lifecycle
    // equal to a fresh full-corpus computation.
    QueryDef("q115_bm25_index", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 3),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      scored AS (SELECT q.qid, p.doc_id,
                        round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                 FROM post p
                   JOIN qs q ON q.token = p.token
                   JOIN dft d ON d.token = p.token
                   JOIN lens l ON l.doc_id = p.doc_id
                   CROSS JOIN sc
                 GROUP BY q.qid, p.doc_id)
      SELECT qid, doc_id, score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM scored QUALIFY rank <= 5 ORDER BY qid, rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") >= 3)
        val path = java.nio.file.Files.createTempDirectory("graft_bm25_")
          .toFile.getAbsolutePath
        // 8 buckets at bench scale: the bucket count is a cluster-
        // parallelism knob and the oracle result is invariant to it
        graft.operators.TextStats.writeBm25Index(
          corpus.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", path,
          tokenBuckets = 8)
        graft.operators.TextStats.appendBm25Index(s, path,
          corpus.filter(col("doc_id") % 5 === 0), "text", "doc_id")
        graft.operators.TextStats.compactBm25Index(s, path)
        graft.operators.TextStats.bm25TopKFromIndex(
            graft.operators.TextStats.readBm25Index(s, path),
            docs.filter(col("doc_id") < 3)
              .select(col("doc_id").as("qid"), col("text")),
            "text", "qid", k = 5)
          .orderBy("qid", "rank")
      }),

    // Per-stratum-recipe token sampling (Mixing.tokenBudgetTakeMixed)
    // AND the top-up composition, oracle-pinned in one row: the Spark
    // side takes a STANDING sample at half of each source's recipe
    // budget, anti-joins it out, then TOPS UP the leftover at
    // recipe − standing_kept_tokens under the same salt — while the
    // DuckDB oracle computes the ONE-SHOT recipe take directly. A
    // hash match IS the md5 draw's prefix-composition identity (what
    // makes daily top-ups sound), plus the absent-stratum drop rule
    // (src19 is not in the recipe). Budgets derive from the source
    // name so the recipe replays in both engines at any sf.
    QueryDef("q116_token_budget_mixed", Some(s"""
      WITH d AS (SELECT doc_id, source, len($toksSql) AS nt FROM documents),
      b AS (SELECT source, 400 + 150 * (CAST(substr(source, 4) AS INT) % 7) AS budget
            FROM (SELECT DISTINCT source FROM documents) WHERE source <> 'src19'),
      tot AS (SELECT source, sum(nt) AS tot FROM d GROUP BY source),
      cum AS (SELECT d.doc_id, d.source, d.nt, t.tot, b.budget,
                     sum(nt) OVER (PARTITION BY d.source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0,
                                doc_id) AS cum
              FROM d JOIN tot t USING (source) JOIN b USING (source)),
      kept AS (SELECT * FROM cum WHERE tot <= budget OR cum - nt < budget)
      SELECT source, count(*) AS n_kept, CAST(sum(nt) AS BIGINT) AS kept_tokens
      FROM kept GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr(s"size($toksExpr)").cast("bigint").as("nt"))
        val budgets = d.select("source").distinct()
          .filter(col("source") =!= "src19")
          .withColumn("budget", lit(400L) +
            lit(150L) * (substring(col("source"), 4, 10).cast("long") % 7))
        val standing = graft.operators.Mixing.tokenBudgetTakeMixed(
          d, Seq("source"), "doc_id", "nt",
          budgets.withColumn("budget", floor(col("budget") / 2)), "budget")
        val leftover = d.join(standing.select("doc_id"), Seq("doc_id"), "left_anti")
        val standingTok = standing.groupBy("source").agg(sum("nt").as("_kept"))
        val topBudgets = budgets.join(standingTok, Seq("source"), "left")
          .select(col("source"),
            (col("budget") - coalesce(col("_kept"), lit(0L))).as("budget"))
        val topUp = graft.operators.Mixing.tokenBudgetTakeMixed(
          leftover, Seq("source"), "doc_id", "nt", topBudgets, "budget")
        standing.unionByName(topUp)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("nt").as("kept_tokens"))
          .orderBy("source")
      }),

    // Image near-dup pairs (Multimodal.imageNearDupPairs): REAL pixel
    // path, oracle-pinned. Each doc becomes a deterministic 9x8
    // grayscale BMP (md5-derived pixels; every 50th-block variant
    // perturbs two pixels), Spark runs BMP-encode -> ImageIO decode
    // -> 64-bit dHash -> Hamming-banded pair search (exact recall at
    // hamming <= 3 by pigeonhole), while DuckDB replays the gray grid
    // and the dHash bit formula DIRECTLY from the pixel spec and
    // brute-forces the pairs — a hash match pins the entire encode/
    // decode/hash/banding chain to the mathematical definition.
    QueryDef("q117_image_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt FROM documents),
      px AS (SELECT d.doc_id, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
                FROM h a JOIN h b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val grays = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            if (alt && y == 0 && x == 0) 255
            else if (alt && y == 0 && x == 1) 0
            else java.lang.Byte.toUnsignedInt(
              md.digest(s"$base:$y:$x".getBytes("UTF-8"))(0))
          }
          graft.operators.Multimodal.syntheticGrayBmp(9, 8, grays)
        }
        graft.operators.Multimodal.imageNearDupPairs(
            t(s, dir, "documents").select(col("doc_id"), mk(col("doc_id")).as("img")),
            "img", "doc_id")
          .orderBy("id_a", "id_b")
      }),

    // Big-stratum fast path (Mixing.tokenBudgetTakePrefiltered):
    // over-budget strata prefilter to draw < slack*budget/total
    // before the window cumsum, so only ~slack*budget of mass ever
    // sorts. The oracle is q112's one-shot take VERBATIM — at a
    // covering slack the prefilter keeps a prefix of the same draw
    // order, so the hash match IS the exactness guarantee, the same
    // oracle device q115 uses against q114.
    QueryDef("q118_token_budget_prefiltered", Some(s"""
      WITH d AS (SELECT doc_id, source, len($toksSql) AS nt FROM documents),
      tot AS (SELECT source, sum(nt) AS tot FROM d GROUP BY source),
      cum AS (SELECT d.doc_id, d.source, d.nt, t.tot,
                     sum(nt) OVER (PARTITION BY d.source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0,
                                doc_id) AS cum
              FROM d JOIN tot t USING (source)),
      kept AS (SELECT * FROM cum WHERE tot <= 200 OR cum - nt < 200)
      SELECT source, count(*) AS n_kept, CAST(sum(nt) AS BIGINT) AS kept_tokens
      FROM kept GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr(s"size($toksExpr)").cast("bigint").as("nt"))
        // budget 200 / slack 3: theta = 600/stratumTokens is < 1 at
        // every sf (the prefilter genuinely bites) while the minimum
        // surviving mass is ~2x the budget at all three sfs (checked
        // in DuckDB) — exactness holds with margin, deterministically
        graft.operators.Mixing.tokenBudgetTakePrefiltered(d, Seq("source"),
            "doc_id", "nt", budget = 200L, slack = 3.0)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("nt").as("kept_tokens"))
          .orderBy("source")
      }),

    // Semantic decontamination (Dedup.semanticDecontaminate): the
    // embedding tier of the decontamination family — drop corpus
    // vectors scoring cosine >= 0.3 against ANY of the 20 benchmark
    // vectors (the paraphrased-leak case the shingle tiers can't
    // see). The bench collects to a driver literal and the decision
    // is a row-local exists over the compiled cosine kernel: one
    // corpus pass, no corpus x bench row blowup. The 0.3 threshold
    // sits >= 2e-5 from every corpus-bench cosine at all sfs
    // (checked in DuckDB), so the cross-engine float replay is safe.
    QueryDef("q119_semantic_decontam", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      b AS (SELECT * FROM e WHERE vec_id < 20),
      c AS (SELECT * FROM e WHERE vec_id >= 20),
      hit AS (SELECT DISTINCT c.vec_id FROM c CROSS JOIN b
              WHERE list_inner_product(c.e, b.e)
                / (sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(b.e, b.e))) >= 0.3)
      SELECT vec_id FROM c WHERE vec_id NOT IN (SELECT vec_id FROM hit)
      ORDER BY vec_id"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        graft.operators.Dedup.semanticDecontaminate(
            emb.filter(col("vec_id") >= 20), "e",
            emb.filter(col("vec_id") < 20), "e", minCosine = 0.3)
          .select("vec_id").orderBy("vec_id")
      }),

    // Hybrid retrieval fusion (Similarity.rrfFuse): reciprocal-rank
    // fusion of the LEXICAL ranking (q114's BM25 top-5) with a
    // SEMANTIC one (brute-force cosine top-8 over the embeddings,
    // same query ids 0-2) — score = sum over lists of 1/(60+rank).
    // Only INTEGER ranks enter the fused score, so the arithmetic
    // replays exactly cross-engine (each (query, id) has at most two
    // addends, and two-term IEEE addition is commutative — the sum
    // is bit-identical under any aggregation order); the rank cut is
    // the usual rounded-score-ties-by-id rule. A doc ranked in both
    // lists outscores every single-list doc — the hybrid-retrieval
    // property the operator exists for.
    QueryDef("q120_rrf_fusion", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 3),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      scored AS (SELECT q.qid, p.doc_id,
                        round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                 FROM post p
                   JOIN qs q ON q.token = p.token
                   JOIN dft d ON d.token = p.token
                   JOIN lens l ON l.doc_id = p.doc_id
                   CROSS JOIN sc
                 GROUP BY q.qid, p.doc_id),
      lex AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM scored) WHERE rank <= 5),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      qv AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
      cv AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
      semsc AS (SELECT qv.qid, cv.vec_id AS doc_id,
                  round(list_inner_product(qv.v, cv.v)
                    / sqrt(list_inner_product(qv.v, qv.v) * list_inner_product(cv.v, cv.v)), 4) AS cos
                FROM qv CROSS JOIN cv),
      sem AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
        FROM semsc) WHERE rank <= 8),
      u AS (SELECT qid, doc_id, rank, 0 AS li FROM lex
            UNION ALL SELECT qid, doc_id, rank, 1 FROM sem),
      f AS (SELECT qid, doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score
            FROM u GROUP BY qid, doc_id)
      SELECT qid, doc_id, rrf_score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
      FROM f QUALIFY rank <= 10 ORDER BY qid, rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val lex = graft.operators.TextStats.bm25TopK(
          docs.filter(col("doc_id") >= 3), "text", "doc_id",
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("qid"), col("text")),
          "text", "qid", k = 5)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val sem = graft.operators.Similarity.bruteForceTopKAll(
            emb.filter(col("vec_id") >= 3), "e", "vec_id",
            emb.filter(col("vec_id") < 3)
              .select(col("vec_id").as("qid"), col("e")),
            "qid", "e", k = 8)
          .withColumnRenamed("vec_id", "doc_id")
        graft.operators.Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id",
            "rank", k = 10, k0 = 60)
          .orderBy("qid", "rank")
      }),

    // MMR diversity re-rank (Similarity.mmrRerank), oracle-pinned:
    // brute-force cosine top-8 shortlists (rounded relevance, the
    // probe contract) walk the greedy lambda*rel - (1-lambda)*maxSim
    // selection at k=4. The oracle UNROLLS the walk as four argmax
    // stages — every input is deterministic-rounded (relevance 4dp,
    // pairwise cosine 6dp before the max-sim update, both HALF_UP),
    // so each stage's 2-flop score arithmetic is bit-identical
    // cross-engine and the argmax tie rule (score desc, rel desc, id)
    // is the walk's strict-> iteration order. Decision margins
    // checked in DuckDB at all sfs: >= 2.2e-4, vastly above float
    // noise.
    QueryDef("q121_mmr_rerank", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
      c AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
      sl AS (SELECT qid, vec_id, cos FROM (
          SELECT q.qid, c.vec_id,
                 round(list_inner_product(q.v, c.v)
                   / sqrt(list_inner_product(q.v, q.v) * list_inner_product(c.v, c.v)), 4) AS cos
          FROM q CROSS JOIN c)
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 8),
      slv AS (SELECT s.qid, s.vec_id, s.cos, c.v FROM sl s JOIN c ON c.vec_id = s.vec_id),
      pc AS (SELECT a.qid, a.vec_id AS ia, b.vec_id AS ib,
               round(list_inner_product(a.v, b.v)
                 / sqrt(list_inner_product(a.v, a.v) * list_inner_product(b.v, b.v)), 6) AS sim
             FROM slv a JOIN slv b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
      s1 AS (SELECT qid, vec_id, cos FROM sl
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) = 1),
      k1 AS (SELECT qid, vec_id FROM s1),
      p2 AS (SELECT sl.qid, sl.vec_id, sl.cos, greatest(0.0, max(pc.sim)) AS pen
             FROM sl
               JOIN pc ON pc.qid = sl.qid AND pc.ia = sl.vec_id
               JOIN k1 ON k1.qid = pc.qid AND k1.vec_id = pc.ib
             GROUP BY sl.qid, sl.vec_id, sl.cos),
      s2 AS (SELECT qid, vec_id, cos FROM p2
        QUALIFY row_number() OVER (PARTITION BY qid
          ORDER BY 0.7*cos - (1.0-0.7)*pen DESC, cos DESC, vec_id) = 1),
      k2 AS (SELECT qid, vec_id FROM s1 UNION ALL SELECT qid, vec_id FROM s2),
      p3 AS (SELECT sl.qid, sl.vec_id, sl.cos, greatest(0.0, max(pc.sim)) AS pen
             FROM sl
               JOIN pc ON pc.qid = sl.qid AND pc.ia = sl.vec_id
               JOIN k2 ON k2.qid = pc.qid AND k2.vec_id = pc.ib
             WHERE NOT EXISTS (SELECT 1 FROM k2 x WHERE x.qid = sl.qid AND x.vec_id = sl.vec_id)
             GROUP BY sl.qid, sl.vec_id, sl.cos),
      s3 AS (SELECT qid, vec_id, cos FROM p3
        QUALIFY row_number() OVER (PARTITION BY qid
          ORDER BY 0.7*cos - (1.0-0.7)*pen DESC, cos DESC, vec_id) = 1),
      k3 AS (SELECT qid, vec_id FROM k2 UNION ALL SELECT qid, vec_id FROM s3),
      p4 AS (SELECT sl.qid, sl.vec_id, sl.cos, greatest(0.0, max(pc.sim)) AS pen
             FROM sl
               JOIN pc ON pc.qid = sl.qid AND pc.ia = sl.vec_id
               JOIN k3 ON k3.qid = pc.qid AND k3.vec_id = pc.ib
             WHERE NOT EXISTS (SELECT 1 FROM k3 x WHERE x.qid = sl.qid AND x.vec_id = sl.vec_id)
             GROUP BY sl.qid, sl.vec_id, sl.cos),
      s4 AS (SELECT qid, vec_id, cos FROM p4
        QUALIFY row_number() OVER (PARTITION BY qid
          ORDER BY 0.7*cos - (1.0-0.7)*pen DESC, cos DESC, vec_id) = 1)
      SELECT qid, vec_id, cos, mmr_rank FROM (
        SELECT qid, vec_id, cos, CAST(1 AS INTEGER) AS mmr_rank FROM s1
        UNION ALL SELECT qid, vec_id, cos, CAST(2 AS INTEGER) FROM s2
        UNION ALL SELECT qid, vec_id, cos, CAST(3 AS INTEGER) FROM s3
        UNION ALL SELECT qid, vec_id, cos, CAST(4 AS INTEGER) FROM s4)
      ORDER BY qid, mmr_rank"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val corpus = emb.filter(col("vec_id") >= 3)
        val shortlist = graft.operators.Similarity.bruteForceTopKAll(
          corpus, "e", "vec_id",
          emb.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("e")),
          "qid", "e", k = 8)
        graft.operators.Similarity.mmrRerank(shortlist, "qid", "vec_id",
            "cos", corpus, "vec_id", "e", k = 4, lambda = 0.7)
          .orderBy("qid", "mmr_rank")
      }),

    // Recipe-form prefiltered budget take
    // (Mixing.tokenBudgetTakeMixedPrefiltered): q116's per-stratum
    // recipe under q118's big-stratum fast path, in one pinned row —
    // the oracle is q116's ONE-SHOT recipe take VERBATIM, so the hash
    // match is the prefix-exactness proof for the recipe form too.
    // slack 3 covers every over-budget stratum deterministically
    // (min surviving-mass/budget: 1.06 / 1.11 / 2.01 at the three
    // sfs, checked in DuckDB) while theta < 1 strata exist at every
    // sf (3 / 3 / 19 of them — the prefilter genuinely bites).
    QueryDef("q122_token_budget_mixed_prefiltered", Some(s"""
      WITH d AS (SELECT doc_id, source, len($toksSql) AS nt FROM documents),
      b AS (SELECT source, 400 + 150 * (CAST(substr(source, 4) AS INT) % 7) AS budget
            FROM (SELECT DISTINCT source FROM documents) WHERE source <> 'src19'),
      tot AS (SELECT source, sum(nt) AS tot FROM d GROUP BY source),
      cum AS (SELECT d.doc_id, d.source, d.nt, t.tot, b.budget,
                     sum(nt) OVER (PARTITION BY d.source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT / 4294967296.0,
                                doc_id) AS cum
              FROM d JOIN tot t USING (source) JOIN b USING (source)),
      kept AS (SELECT * FROM cum WHERE tot <= budget OR cum - nt < budget)
      SELECT source, count(*) AS n_kept, CAST(sum(nt) AS BIGINT) AS kept_tokens
      FROM kept GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr(s"size($toksExpr)").cast("bigint").as("nt"))
        val budgets = d.select("source").distinct()
          .filter(col("source") =!= "src19")
          .withColumn("budget", lit(400L) +
            lit(150L) * (substring(col("source"), 4, 10).cast("long") % 7))
        graft.operators.Mixing.tokenBudgetTakeMixedPrefiltered(d,
            Seq("source"), "doc_id", "nt", budgets, "budget", slack = 3.0)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("nt").as("kept_tokens"))
          .orderBy("source")
      }),

    // WEIGHTED RRF (Similarity.rrfFuse with per-list weights): q120's
    // fusion with the lexical list at 3x — the lexical-vs-semantic
    // balance knob of hybrid search. Each (query, id) still sums at
    // most two addends (w_i/(k0+rank_i): deterministic multiply, and
    // two-term IEEE addition is commutative), so the weighted score
    // replays exactly too.
    QueryDef("q123_rrf_weighted", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 3),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      scored AS (SELECT q.qid, p.doc_id,
                        round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                 FROM post p
                   JOIN qs q ON q.token = p.token
                   JOIN dft d ON d.token = p.token
                   JOIN lens l ON l.doc_id = p.doc_id
                   CROSS JOIN sc
                 GROUP BY q.qid, p.doc_id),
      lex AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM scored) WHERE rank <= 5),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      qv AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
      cv AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
      semsc AS (SELECT qv.qid, cv.vec_id AS doc_id,
                  round(list_inner_product(qv.v, cv.v)
                    / sqrt(list_inner_product(qv.v, qv.v) * list_inner_product(cv.v, cv.v)), 4) AS cos
                FROM qv CROSS JOIN cv),
      sem AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
        FROM semsc) WHERE rank <= 8),
      u AS (SELECT qid, doc_id, rank, 0 AS li FROM lex
            UNION ALL SELECT qid, doc_id, rank, 1 FROM sem),
      f AS (SELECT qid, doc_id,
                   round(sum((CASE WHEN li = 0 THEN 3.0 ELSE 1.0 END) / (60 + rank)), 6) AS rrf_score
            FROM u GROUP BY qid, doc_id)
      SELECT qid, doc_id, rrf_score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
      FROM f QUALIFY rank <= 10 ORDER BY qid, rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val lex = graft.operators.TextStats.bm25TopK(
          docs.filter(col("doc_id") >= 3), "text", "doc_id",
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("qid"), col("text")),
          "text", "qid", k = 5)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val sem = graft.operators.Similarity.bruteForceTopKAll(
            emb.filter(col("vec_id") >= 3), "e", "vec_id",
            emb.filter(col("vec_id") < 3)
              .select(col("vec_id").as("qid"), col("e")),
            "qid", "e", k = 8)
          .withColumnRenamed("vec_id", "doc_id")
        graft.operators.Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id",
            "rank", k = 10, k0 = 60, weights = Some(Seq(3.0, 1.0)))
          .orderBy("qid", "rank")
      }),

    // Standing hash-index probe (Dedup.hashBandIndex +
    // hashNearDupFilterAgainst), oracle-pinned over the q117 pixel
    // spec: the standing side is the alt-0 images of bases 0-24, the
    // batch everything else — batch images within Hamming 3 of ANY
    // standing image drop (the alt variants of covered bases), the
    // rest keep. The band probe is EXACT at hamming <= 3
    // (pigeonhole), so DuckDB's brute-force anti-join over the
    // replayed dHash grid is the precise semantics, and the same
    // row-local plan is what streams run against yesterday's index.
    QueryDef("q124_hash_standing_filter", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt FROM documents),
      px AS (SELECT d.doc_id, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id),
      st AS (SELECT doc_id, h FROM h WHERE doc_id % 50 < 25 AND (doc_id // 50) % 2 = 0),
      bt AS (SELECT doc_id, h FROM h WHERE NOT (doc_id % 50 < 25 AND (doc_id // 50) % 2 = 0)),
      hits AS (SELECT DISTINCT b.doc_id FROM bt b JOIN st s ON bit_count(xor(b.h, s.h)) <= 3)
      SELECT doc_id FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM hits)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val grays = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            if (alt && y == 0 && x == 0) 255
            else if (alt && y == 0 && x == 1) 0
            else java.lang.Byte.toUnsignedInt(
              md.digest(s"$base:$y:$x".getBytes("UTF-8"))(0))
          }
          graft.operators.Multimodal.syntheticGrayBmp(9, 8, grays)
        }
        val imgs = t(s, dir, "documents")
          .select(col("doc_id"), mk(col("doc_id")).as("img"))
        val standingPred = expr("doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")
        val idx = graft.operators.Dedup.hashBandIndex(
          graft.operators.Multimodal.withPerceptualHash(
            imgs.filter(standingPred), "img", "ph"), "ph")
        graft.operators.Dedup.hashNearDupFilterAgainst(
            graft.operators.Multimodal.withPerceptualHash(
              imgs.filter(!standingPred), "img", "ph"), "ph", idx,
            maxHamming = 3)
          .select("doc_id").orderBy("doc_id")
      }),

    // Rank-aware retrieval metrics (Similarity.rankMetrics): q104's
    // BQ-probe-vs-brute-force fixture scored with reciprocal rank
    // and binary nDCG@8 instead of plain recall — WHERE the relevant
    // docs landed, not just whether they were found. Ranks are
    // integers and the log2 sums have <= 8 terms, so the rounded
    // per-query metrics replay exactly.
    QueryDef("q125_rank_metrics", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM e),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      bits AS (SELECT n.vec_id,
                      list_transform(range(1, 65),
                        i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
               FROM n CROSS JOIN thr t),
      qs AS (SELECT b.vec_id AS qid, e.e AS qe, b.b AS qb
             FROM bits b JOIN e ON e.vec_id = b.vec_id
             WHERE b.vec_id IN (0, 100, 200)),
      ham AS (SELECT q.qid, b.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> CASE WHEN b.b[i] <> q.qb[i] THEN 1 ELSE 0 END)) AS hd
              FROM bits b CROSS JOIN qs q WHERE b.vec_id <> q.qid),
      short AS (SELECT qid, vec_id FROM ham
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY hd, vec_id) <= 24),
      got AS (SELECT s.qid, s.vec_id,
                     round(list_inner_product(e.e, q.qe)
                       / (sqrt(list_inner_product(e.e, e.e))
                          * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
              FROM short s
                JOIN e ON e.vec_id = s.vec_id
                JOIN qs q ON q.qid = s.qid
              QUALIFY row_number() OVER (PARTITION BY s.qid
                ORDER BY cos DESC, s.vec_id) <= 8),
      truth AS (SELECT q.qid, e.vec_id,
                       round(list_inner_product(e.e, q.qe)
                         / (sqrt(list_inner_product(e.e, e.e))
                            * sqrt(list_inner_product(q.qe, q.qe))), 4) AS cos
                FROM e CROSS JOIN qs q WHERE e.vec_id <> q.qid
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY cos DESC, e.vec_id) <= 8),
      gotr AS (SELECT qid, vec_id,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY cos DESC, vec_id) AS rank
               FROM got),
      tc AS (SELECT qid, count(*) AS nrel FROM truth GROUP BY qid),
      hits AS (SELECT g.qid, g.rank FROM gotr g
               JOIN truth t ON t.qid = g.qid AND t.vec_id = g.vec_id),
      pq AS (SELECT qid, min(rank) AS first,
                    sum(CASE WHEN rank <= 8 THEN 1.0 / log2(rank + 1) END) AS dcg
             FROM hits GROUP BY qid),
      ig AS (SELECT tc.qid, sum(1.0 / log2(g.i + 1)) AS idcg
             FROM tc JOIN (SELECT unnest(generate_series(1, 8)) AS i) g
               ON g.i <= least(tc.nrel, 8)
             GROUP BY tc.qid)
      SELECT tc.qid, round(coalesce(1.0 / pq.first, 0.0), 6) AS rr,
             round(coalesce(pq.dcg, 0.0) / ig.idcg, 6) AS ndcg
      FROM tc JOIN ig ON ig.qid = tc.qid LEFT JOIN pq ON pq.qid = tc.qid
      ORDER BY tc.qid"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val m = graft.operators.Similarity.bqTrain(emb, "e")
        val queries = emb.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        val got = graft.operators.Similarity.bqProbeAll(
          graft.operators.Similarity.bqAssign(emb, "e", m),
          "e", "vec_id", queries, "qid", "e", m,
          k = 8, rerank = 24, excludeSelf = true)
        val truth = graft.operators.Similarity.bruteForceTopKAll(
          emb, "e", "vec_id", queries, "qid", "e", k = 8, excludeSelf = true)
        graft.operators.Similarity.rankMetrics(got, truth, "qid", "vec_id",
            "rank", k = 8)
          .orderBy("qid")
      }),

    // LARGE-route semantic decontamination
    // (Dedup.semanticDecontaminateLarge), oracle-pinned end to end:
    // q119's fixture through the banded-BQ machinery instead of the
    // driver literal — midrange BQ training on the CORPUS (the q102
    // replay device), sign codes for both sides, candidates = pairs
    // agreeing on ANY of the 8 one-byte bands (spelled as 8 explicit
    // bit-slice equalities), exact cosine verify at 0.3 (same
    // >= 2e-5 threshold margin as q119), corpus anti-join. The oracle
    // replays the BANDING itself, so the hash match pins the route's
    // exact mechanics — including its recall: at this deliberately
    // LOW threshold the banded route keeps MORE than q119's exact
    // literal route (far pairs collide in no band — the documented
    // sign-LSH contract), and both engines must agree on exactly
    // which ones. The oracle replays banding with NO bucket cap —
    // valid because no band bucket approaches maxBucket (100k) at
    // the tested scale factors (bench side is 20 vectors; corpus
    // buckets are <= a few hundred per byte value); the operator's
    // cap-drop recall term is documented on
    // semanticDecontaminateLarge and surfaces via its drop metric.
    QueryDef("q126_semantic_decontam_large", Some("""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
                 FROM embeddings),
      c AS (SELECT * FROM e WHERE vec_id >= 20),
      bench AS (SELECT * FROM e WHERE vec_id < 20),
      n AS (SELECT vec_id, e,
                   CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
            FROM c),
      mm AS (SELECT d, (min(ne[d]) + max(ne[d])) / 2.0 AS thr
             FROM n CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
      thr AS (SELECT list(thr ORDER BY d) AS t FROM mm),
      cb AS (SELECT n.vec_id,
                    list_transform(range(1, 65),
                      i -> CASE WHEN n.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
             FROM n CROSS JOIN thr t),
      bn AS (SELECT vec_id, e,
                    CASE WHEN sqrt(list_inner_product(e, e)) = 0 THEN e
                         ELSE list_transform(e, x -> x / sqrt(list_inner_product(e, e))) END AS ne
             FROM bench),
      bb AS (SELECT bn.vec_id,
                    list_transform(range(1, 65),
                      i -> CASE WHEN bn.ne[i] >= t.t[i] THEN 1 ELSE 0 END) AS b
             FROM bn CROSS JOIN thr t),
      cand AS (SELECT cb.vec_id, bb.vec_id AS bid
               FROM cb CROSS JOIN bb
               WHERE cb.b[1:8] = bb.b[1:8] OR cb.b[9:16] = bb.b[9:16]
                  OR cb.b[17:24] = bb.b[17:24] OR cb.b[25:32] = bb.b[25:32]
                  OR cb.b[33:40] = bb.b[33:40] OR cb.b[41:48] = bb.b[41:48]
                  OR cb.b[49:56] = bb.b[49:56] OR cb.b[57:64] = bb.b[57:64]),
      hit AS (SELECT DISTINCT cand.vec_id
              FROM cand
                JOIN c ON c.vec_id = cand.vec_id
                JOIN bench bch ON bch.vec_id = cand.bid
              WHERE list_inner_product(c.e, bch.e)
                / (sqrt(list_inner_product(c.e, c.e))
                   * sqrt(list_inner_product(bch.e, bch.e))) >= 0.3)
      SELECT vec_id FROM c WHERE vec_id NOT IN (SELECT vec_id FROM hit)
      ORDER BY vec_id"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        graft.operators.Dedup.semanticDecontaminateLarge(
            emb.filter(col("vec_id") >= 20), "e", "vec_id",
            emb.filter(col("vec_id") < 20), "e", minCosine = 0.3)
          .select("vec_id").orderBy("vec_id")
      }),

    // RM3 pseudo-relevance feedback (TextStats.rm3ExpandTerms +
    // bm25TopKTerms via bm25Rm3TopK): probe the persisted index,
    // take the top-3 hits as pseudo-relevant, mine their dominant
    // terms (doc-relevance-weighted tf/dl, rounded 6dp before the
    // top-5 cut), mix with the original query MLE at alpha = 0.5,
    // re-probe with the WEIGHTED terms. Every stage is rounded
    // integer/fixed-point arithmetic, so the full
    // retrieve->expand->re-retrieve loop replays in DuckDB — feedback
    // scores ride the q114 formula, the expansion weights and the
    // weighted rescore are spelled out below. wdoc's QUALIFY encodes
    // rm3ExpandTerms' `_ws > 0` orig-only fallback (TextStats:908):
    // a query whose ROUNDED feedback scores sum to zero expands
    // nothing in BOTH engines, not NaN weights in one.
    QueryDef("q127_bm25_rm3", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 3),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      fbsc AS (SELECT q.qid, p.doc_id,
                      round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                        * p.tf * 2.2
                        / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
               FROM post p
                 JOIN qs q ON q.token = p.token
                 JOIN dft d ON d.token = p.token
                 JOIN lens l ON l.doc_id = p.doc_id
                 CROSS JOIN sc
               GROUP BY q.qid, p.doc_id),
      fb AS (SELECT qid, doc_id, score FROM fbsc
             QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) <= 3),
      wdoc AS (SELECT qid, doc_id, score / sum(score) OVER (PARTITION BY qid) AS wd FROM fb
               QUALIFY sum(score) OVER (PARTITION BY qid) > 0),
      fbdl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus
               WHERE doc_id IN (SELECT doc_id FROM wdoc)),
      fbtf AS (SELECT p.doc_id, p.token, p.tf FROM post p
               WHERE p.doc_id IN (SELECT doc_id FROM wdoc)),
      expw AS (SELECT w.qid, f.token, round(sum(w.wd * f.tf / l.dl), 6) AS ew
               FROM fbtf f JOIN fbdl l ON l.doc_id = f.doc_id
                 JOIN wdoc w ON w.doc_id = f.doc_id
               GROUP BY w.qid, f.token),
      expTop AS (SELECT qid, token, (1.0 - 0.5) * ew AS weight FROM expw
                 QUALIFY row_number() OVER (PARTITION BY qid ORDER BY ew DESC, token) <= 5),
      orig AS (SELECT qid, token, round(0.5 * qtf / qlen, 6) AS weight FROM (
                 SELECT doc_id AS qid, t AS token, count(*) AS qtf,
                        sum(count(*)) OVER (PARTITION BY doc_id) AS qlen
                 FROM (SELECT doc_id, unnest($toksSql) AS t
                       FROM documents WHERE doc_id < 3)
                 GROUP BY doc_id, t)),
      terms AS (SELECT qid, token, sum(weight) AS tw FROM
                (SELECT * FROM orig UNION ALL SELECT * FROM expTop)
                GROUP BY qid, token),
      rescored AS (SELECT t.qid, p.doc_id,
                          round(sum(t.tw * ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                            * p.tf * 2.2
                            / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                   FROM post p
                     JOIN terms t ON t.token = p.token
                     JOIN dft d ON d.token = p.token
                     JOIN lens l ON l.doc_id = p.doc_id
                     CROSS JOIN sc
                   GROUP BY t.qid, p.doc_id)
      SELECT qid, doc_id, score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS rank
      FROM rescored QUALIFY rank <= 5 ORDER BY qid, rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") >= 3)
        val path = java.nio.file.Files.createTempDirectory("graft_rm3_")
          .toFile.getAbsolutePath
        graft.operators.TextStats.writeBm25Index(corpus, "text", "doc_id",
          path, tokenBuckets = 8)
        graft.operators.TextStats.bm25Rm3TopK(
            graft.operators.TextStats.readBm25Index(s, path),
            corpus, "text",
            docs.filter(col("doc_id") < 3)
              .select(col("doc_id").as("qid"), col("text")),
            "text", "qid", k = 5, fbDocs = 3, fbTerms = 5, alpha = 0.5)
          .orderBy("qid", "rank")
      }),

    // Audio near-dup pairs (Multimodal.audioNearDupPairs): REAL PCM
    // path, oracle-pinned with the q117 device. Each doc becomes a
    // deterministic 65-window (8 samples each) 16-bit mono WAV whose
    // per-window amplitude is md5-derived (every 40th-block variant
    // perturbs the first two windows); Spark runs WAV-encode → JDK
    // decode → 65-window energy envelope → sign-of-delta 64-bit
    // fingerprint → Hamming-banded pair search (exact recall at
    // hamming <= 3 by pigeonhole), while DuckDB replays the
    // amplitude grid and the bit formula DIRECTLY from the byte spec
    // and brute-forces the pairs. Window energy is monotone in the
    // (non-negative) amplitude and the per-window double sums are
    // exact (8 multiples of 2^-30 — see AudioFingerprinter's
    // determinism contract), so "louder than previous window"
    // replays as the integer comparison a[w+1] > a[w]: a hash match
    // pins the entire encode/decode/energy/fingerprint/banding chain
    // to the mathematical definition.
    QueryDef("q128_audio_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 40 AS base, (doc_id // 40) % 2 AS alt FROM documents),
      amp AS (SELECT d.doc_id, w.w,
                CASE WHEN d.alt = 1 AND w.w = 0 THEN 255
                     WHEN d.alt = 1 AND w.w = 1 THEN 0
                     ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(w.w AS VARCHAR)), 1, 2))::INT END AS a
              FROM d CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) w),
      h AS (SELECT a1.doc_id,
              bit_or(CASE WHEN a2.a > a1.a THEN (1::UBIGINT << a1.w) ELSE 0::UBIGINT END) AS h
            FROM amp a1 JOIN amp a2 ON a2.doc_id = a1.doc_id AND a2.w = a1.w + 1
            GROUP BY a1.doc_id),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
                FROM h a JOIN h b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 40
          val alt = (docId / 40) % 2 == 1
          val samples = new Array[Short](65 * 8)
          var w = 0
          while (w < 65) {
            val a =
              if (alt && w == 0) 255
              else if (alt && w == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$w".getBytes("UTF-8"))(0))
            val m = a * 77 // < 32768 — window-constant magnitude
            var j = 0
            while (j < 8) {
              // alternate sign so the vector looks wave-like; energy
              // (the fingerprint's input) sees only m^2
              samples(w * 8 + j) =
                (if ((w * 8 + j) % 2 == 0) m else -m).toShort
              j += 1
            }
            w += 1
          }
          graft.operators.Multimodal.syntheticPcmWav(samples)
        }
        graft.operators.Multimodal.audioNearDupPairs(
            t(s, dir, "documents")
              .select(col("doc_id"), mk(col("doc_id")).as("aud")),
            "aud", "doc_id")
          .orderBy("id_a", "id_b")
      }),

    // BPE LEARNING, oracle-pinned (the row q89 could never get): six
    // merges learned over a restricted-alphabet projection of the
    // corpus ([a-z]{1,8} words, so the oracle's bracket encoding is
    // unambiguous), replayed in DuckDB as SIX UNROLLED sequential
    // rounds — the q121 unrolling device applied to iterative
    // learning. Each round recounts weighted adjacent symbol pairs,
    // picks the (count DESC, left ASC, right ASC) winner — exactly
    // Bpe.learn's priority — and applies it via replace() over a
    // '[sym][sym]' encoding, whose left-to-right non-overlapping
    // substring semantics equal mergePairs' fold (brackets make
    // whole-symbol matches unambiguous under the restricted
    // alphabet). The Spark side learns with the default BATCHED
    // rounds, so a hash match pins the batching equivalence argument
    // to the canonical one-merge-at-a-time definition — q91 already
    // pins inference; this pins LEARNING, retiring q89's no_oracle
    // asterisk.
    QueryDef("q129_bpe_learn", Some {
      val init = """SELECT word, cnt,
         '[' || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), '][') || '][</w>]' AS s
       FROM w"""
      def round(k: Int): String = s"""
      p$k AS (SELECT l, r, sum(cnt) AS n FROM (
                SELECT cnt, a[i] AS l, a[i + 1] AS r FROM (
                  SELECT cnt, a, unnest(range(1, len(a))) AS i FROM (
                    SELECT cnt, string_split(substr(s, 2, length(s) - 2), '][') AS a
                    FROM v$k)))
              GROUP BY l, r),
      w$k AS (SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
      v${k + 1} AS (SELECT word, cnt,
                      replace(s, '[' || w$k.l || '][' || w$k.r || ']',
                                 '[' || w$k.l || w$k.r || ']') AS s
                    FROM v$k CROSS JOIN w$k)"""
      val ranks = (0 until 6).map(k =>
        s"""SELECT CAST($k AS INTEGER) AS rank, l AS "left", r AS "right",
               l || r AS merged, CAST(n AS BIGINT) AS pair_count FROM w$k""")
        .mkString("\n      UNION ALL ")
      s"""
      WITH w AS (SELECT word, count(*) AS cnt FROM (
             SELECT unnest(list_filter(string_split(lower(text), ' '),
                           x -> regexp_matches(x, '^[a-z]{1,8}$$'))) AS word
             FROM documents) GROUP BY word),
      v0 AS ($init),${(0 until 6).map(round).mkString(",")}
      SELECT * FROM ($ranks) ORDER BY rank"""
    },
      (s, dir) => {
        val fix = t(s, dir, "documents").select(
          expr("array_join(filter(split(lower(text), ' '), " +
            "x -> x rlike '^[a-z]{1,8}$'), ' ')").as("text"))
        graft.operators.Bpe.learn(fix, "text", numMerges = 6)
          .merges.orderBy("rank")
      }),

    // RRF with SOURCE PROVENANCE (rrfFuse withSources = true): q120's
    // fusion re-run with the per-list rank columns emitted — rank_in_0
    // (lexical), rank_in_1 (semantic), null where the doc was absent
    // from that list. The provenance is a conditional aggregate of the
    // SAME groupBy that sums the fused score (zero extra passes), and
    // the oracle computes it as the matching CASE-min over the union —
    // a hash match pins both the fused ranking (unchanged from q120)
    // and the per-source attribution.
    QueryDef("q130_rrf_sources", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents WHERE doc_id >= 3),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      scored AS (SELECT q.qid, p.doc_id,
                        round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                 FROM post p
                   JOIN qs q ON q.token = p.token
                   JOIN dft d ON d.token = p.token
                   JOIN lens l ON l.doc_id = p.doc_id
                   CROSS JOIN sc
                 GROUP BY q.qid, p.doc_id),
      lex AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        FROM scored) WHERE rank <= 5),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      qv AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 3),
      cv AS (SELECT vec_id, v FROM e WHERE vec_id >= 3),
      semsc AS (SELECT qv.qid, cv.vec_id AS doc_id,
                  round(list_inner_product(qv.v, cv.v)
                    / sqrt(list_inner_product(qv.v, qv.v) * list_inner_product(cv.v, cv.v)), 4) AS cos
                FROM qv CROSS JOIN cv),
      sem AS (SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
        FROM semsc) WHERE rank <= 8),
      u AS (SELECT qid, doc_id, rank, 0 AS li FROM lex
            UNION ALL SELECT qid, doc_id, rank, 1 FROM sem),
      f AS (SELECT qid, doc_id, round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
                   min(CASE WHEN li = 0 THEN rank END) AS rank_in_0,
                   min(CASE WHEN li = 1 THEN rank END) AS rank_in_1
            FROM u GROUP BY qid, doc_id)
      SELECT qid, doc_id, rrf_score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank,
             rank_in_0, rank_in_1
      FROM f QUALIFY rank <= 10 ORDER BY qid, rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val lex = graft.operators.TextStats.bm25TopK(
          docs.filter(col("doc_id") >= 3), "text", "doc_id",
          docs.filter(col("doc_id") < 3)
            .select(col("doc_id").as("qid"), col("text")),
          "text", "qid", k = 5)
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val sem = graft.operators.Similarity.bruteForceTopKAll(
            emb.filter(col("vec_id") >= 3), "e", "vec_id",
            emb.filter(col("vec_id") < 3)
              .select(col("vec_id").as("qid"), col("e")),
            "qid", "e", k = 8)
          .withColumnRenamed("vec_id", "doc_id")
        graft.operators.Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id",
            "rank", k = 10, k0 = 60, withSources = true)
          .orderBy("qid", "rank")
      }),

    // The prep facade END TO END (CorpusPrep.run), oracle-pinned as a
    // COMPOSITION: normalize → length/repetition gates → exact dedup
    // (min id per digest) → MinHash-LSH near-dup clusters collapsed
    // keep-earliest → benchmark decontamination (3-shingle
    // containment >= 0.8 vs docs 0-2, bench normalized identically)
    // → the salted deterministic sample. Every stage was pinned
    // individually (q48/q49/q36/q47/q57/q113's devices); this row
    // pins the STAGE ORDER and survivor interactions — the exact
    // survivor id set with clean lengths, replayed start to finish
    // in one DuckDB chain (LSH candidates per q36's md5 hash-family
    // replay, exact-Jaccard verify, recursive-CTE components,
    // containment per q57, the q112 unit-hash draw). Every stage
    // BITES at all sfs (checked: exact drops dups, near-dup drops
    // ~5%, decontamination drops the bench leaks, the sample ~15%).
    // All float comparisons are integer-derived rationals under
    // identical IEEE division, so the gates replay exactly.
    QueryDef("q131_prep_end_to_end", Some(raw"""
      WITH RECURSIVE cleaned AS (
        SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM documents),
      toked AS (SELECT doc_id, ct, list_filter(string_split(ct, ' '), x -> x <> '') AS tk FROM cleaned),
      gated AS (SELECT * FROM toked
        WHERE length(ct) BETWEEN 20 AND 1000000 AND len(tk) > 0
          AND 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.9),
      exact AS (SELECT * FROM gated
        QUALIFY row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id) = 1),
      shdoc AS (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM exact),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      ver AS (SELECT c.id_a, c.id_b
              FROM cands c JOIN shdoc sa ON sa.doc_id = c.id_a
                           JOIN shdoc sb ON sb.doc_id = c.id_b
              WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                    / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.8),
      edges AS (SELECT id_a AS s, id_b AS d FROM ver UNION SELECT id_b, id_a FROM ver),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      nd AS (SELECT e.* FROM exact e LEFT JOIN clus c ON c.id = e.doc_id
             WHERE c.id IS NULL OR e.doc_id = c.cluster),
      bsh AS (SELECT doc_id AS bench_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM toked WHERE doc_id < 3),
      bexp AS (SELECT bench_id, len(shs) AS bn, unnest(shs) AS sh FROM bsh WHERE len(shs) > 0),
      cexp AS (SELECT n.doc_id,
          unnest(list_distinct(list_transform(generate_series(1, greatest(len(n.tk) - 2, 0)),
            k -> array_to_string(n.tk[k:k+2], ' ')))) AS sh
        FROM nd n),
      cont AS (SELECT DISTINCT doc_id FROM (
          SELECT c.doc_id, b.bench_id, b.bn, count(*) AS shared
          FROM cexp c JOIN bexp b USING (sh)
          GROUP BY c.doc_id, b.bench_id, b.bn)
        WHERE CAST(shared AS DOUBLE) / bn >= 0.8),
      decon AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      sampled AS (SELECT * FROM decon
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'corpusprep'), 1, 8))::UBIGINT
              / 4294967296.0 < 0.85)
      SELECT doc_id, CAST(length(ct) AS BIGINT) AS n_clean_chars
      FROM sampled ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.CorpusPrep.run(docs,
            cfg = graft.operators.CorpusPrep.Config(
              benchmark = Some(docs.filter(col("doc_id") < 3)),
              minContainment = 0.8,
              sampleRate = Some(lit(0.85))))
          .select(col("doc_id"),
            length(col("clean_text")).cast("bigint").as("n_clean_chars"))
          .orderBy("doc_id")
      }),

    // BM25 index DELETION lifecycle (TextStats.deleteFromBm25Index),
    // oracle-pinned through BOTH serving states: the Spark side runs
    // write -> append -> DELETE (ids hitting both the base write and
    // the appended batch) -> probe while the deletion is a tombstone
    // (anti-join + repaired df/meta), then compact -> probe again
    // after the rows left materially — while the DuckDB oracle scores
    // one-shot Okapi BM25 over the corpus WITHOUT the deleted docs
    // and emits the same rows under both stage tags. A hash match is
    // the delete contract: tombstoned probe == compacted probe ==
    // fresh build minus the docs (df decrements, ndocs/avglen
    // repairs, and the anti-join all exact — see the completeness
    // invariant on deleteFromBm25Index).
    QueryDef("q132_bm25_delete", Some(s"""
      WITH corpus AS (SELECT doc_id, $toksSql AS tk FROM documents
                      WHERE doc_id >= 3 AND doc_id % 7 <> 1),
      qs AS (SELECT doc_id AS qid, unnest(list_distinct($toksSql)) AS token
             FROM documents WHERE doc_id < 3),
      post AS (SELECT doc_id, t AS token, count(*) AS tf
               FROM (SELECT doc_id, unnest(tk) AS t FROM corpus) GROUP BY doc_id, t),
      dft AS (SELECT token, count(DISTINCT doc_id) AS df FROM post GROUP BY token),
      lens AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM corpus),
      sc AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(tk)) AS avglen FROM corpus),
      scored AS (SELECT q.qid, p.doc_id,
                        round(sum(ln(1.0 + (sc.n - d.df + 0.5) / (d.df + 0.5))
                          * p.tf * 2.2
                          / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / sc.avglen))), 4) AS score
                 FROM post p
                   JOIN qs q ON q.token = p.token
                   JOIN dft d ON d.token = p.token
                   JOIN lens l ON l.doc_id = p.doc_id
                   CROSS JOIN sc
                 GROUP BY q.qid, p.doc_id),
      ranked AS (SELECT qid, doc_id, score,
                        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                 FROM scored QUALIFY rank <= 5)
      SELECT s.stage, r.qid, r.doc_id, r.score, r.rank
      FROM (VALUES ('compacted'), ('tombstoned')) s(stage) CROSS JOIN ranked r
      ORDER BY s.stage, r.qid, r.rank"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") >= 3)
        val path = java.nio.file.Files.createTempDirectory("graft_bm25_del_")
          .toFile.getAbsolutePath
        graft.operators.TextStats.writeBm25Index(
          corpus.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", path,
          tokenBuckets = 8)
        graft.operators.TextStats.appendBm25Index(s, path,
          corpus.filter(col("doc_id") % 5 === 0), "text", "doc_id")
        graft.operators.TextStats.deleteFromBm25Index(s, path,
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"), "doc_id")
        val queries = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("qid"), col("text"))
        def probe(stage: String) = graft.operators.TextStats
          .bm25TopKFromIndex(
            graft.operators.TextStats.readBm25Index(s, path),
            queries, "text", "qid", k = 5)
          .withColumn("stage", lit(stage))
        val tombstoned = probe("tombstoned").localCheckpoint(true)
        graft.operators.TextStats.compactBm25Index(s, path)
        probe("compacted").unionByName(tombstoned)
          .select("stage", "qid", "doc_id", "score", "rank")
          .orderBy("stage", "qid", "rank")
      }),

    // Leakage-safe split (Mixing.splitByGroup) composed with the REAL
    // near-dup clusters: docs group by their LSH duplicate-cluster
    // label (q47's connected components; singletons group by their own
    // id), then one md5 draw per GROUP cuts train/val/test 50/25/25 —
    // so a held-out doc's near-twin can never land in train. The
    // oracle replays the MinHash banding, the recursive-CTE closure,
    // and the threshold CASE; a hash match pins the whole
    // cluster -> group -> draw -> label chain, including the
    // all-members-same-side property the operator exists for.
    QueryDef("q133_leakage_split", Some(s"""
      WITH RECURSIVE shdoc AS (SELECT doc_id, $shinglesSqlArr AS shs FROM documents),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      lab AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
      grp AS (SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS g
              FROM documents d LEFT JOIN lab l USING (doc_id)),
      u AS (SELECT doc_id, g,
                   ('0x' || substr(md5(CAST(g AS VARCHAR) || 'split13'), 1, 8))::UBIGINT
                     / 4294967296.0 AS u
            FROM grp)
      SELECT doc_id, CAST(g AS BIGINT) AS grp,
             CASE WHEN u < 0.5 THEN 'train'
                  WHEN u < 0.75 THEN 'val'
                  ELSE 'test' END AS split
      FROM u ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val clusters = graft.operators.Dedup.duplicateClusters(
          graft.operators.Dedup.minhashNearDupCandidates(docs, "text", "doc_id"))
        val grouped = docs
          .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("grp"))
        graft.operators.Mixing.splitByGroup(grouped, "grp",
            Seq(("train", 0.5), ("val", 0.25), ("test", 0.25)),
            salt = "split13")
          .select("doc_id", "grp", "split")
          .orderBy("doc_id")
      }),

    // ANN index DELETION lifecycle (Similarity.deleteFromIndex), the
    // q132 twin on the vector side and the q81 probe device: vectors
    // assign to the fixed coarse codebook (rows 1..8), the persisted
    // index takes a write + an append, a batch of ids is DELETED
    // (tombstones readIndex anti-joins), and the three-query batch
    // probe runs in BOTH states — tombstoned and after compactIndex
    // removed the rows materially. The oracle replays assignment and
    // the per-query two-list probe over the corpus WITHOUT the deleted
    // ids and emits the same rows under both stage tags: a hash match
    // pins probe-under-tombstones == post-compaction probe ==
    // fresh-index-minus-docs under the frozen codebook.
    QueryDef("q134_ann_index_delete", Some("""
      WITH c AS (SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS ce
                 FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
      e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
            FROM embeddings WHERE vec_id NOT BETWEEN 1 AND 8),
      live AS (SELECT * FROM e WHERE vec_id % 9 <> 4),
      assign AS (SELECT l.vec_id, arg_min(c.cid, list_distance(l.e, c.ce)) AS cid
                 FROM live l CROSS JOIN c GROUP BY l.vec_id),
      q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id IN (0, 100, 200)),
      probe AS (SELECT q.qid, q.qe, c.cid FROM q CROSS JOIN c
                QUALIFY row_number() OVER (PARTITION BY q.qid
                  ORDER BY list_distance(c.ce, q.qe), c.cid) <= 2),
      scored AS (SELECT p.qid, a.vec_id,
                        round(list_inner_product(l.e, p.qe)
                          / (sqrt(list_inner_product(l.e, l.e))
                             * sqrt(list_inner_product(p.qe, p.qe))), 4) AS cos
                 FROM probe p JOIN assign a ON a.cid = p.cid
                   JOIN live l ON l.vec_id = a.vec_id
                 WHERE a.vec_id <> p.qid),
      ranked AS (SELECT qid, vec_id, cos,
                        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
                 FROM scored QUALIFY rank <= 5)
      SELECT s.stage, r.qid, r.vec_id, r.cos, r.rank
      FROM (VALUES ('compacted'), ('tombstoned')) s(stage) CROSS JOIN ranked r
      ORDER BY s.stage, r.qid, r.rank"""),
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        val cents = emb.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("cid"), col("e").as("ce"))
        val others = emb.filter(!col("vec_id").between(1, 8))
        val codebook = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        val queries = others.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id").as("qid"), col("e"))
        val assigned = graft.operators.Similarity.ivfAssign(others, codebook, "e")
        val path = java.nio.file.Files.createTempDirectory("graft_ann_del_")
          .toFile.getAbsolutePath
        graft.operators.Similarity.writeIndex(
          assigned.filter(col("vec_id") % 3 =!= 0), path)
        graft.operators.Similarity.appendIndex(
          assigned.filter(col("vec_id") % 3 === 0), path)
        graft.operators.Similarity.deleteFromIndex(s, path,
          others.filter(col("vec_id") % 9 === 4).select("vec_id"), "vec_id")
        def probe(stage: String) = graft.operators.Similarity.ivfProbeAll(
            graft.operators.Similarity.readIndex(s, path),
            "e", "vec_id", queries, "qid", "e", codebook,
            k = 5, nprobe = 2, excludeSelf = true,
            broadcastProbes = Some(true))
          .withColumn("stage", lit(stage))
        val tombstoned = probe("tombstoned").localCheckpoint(true)
        graft.operators.Similarity.compactIndex(s, path)
        probe("compacted").unionByName(tombstoned)
          .select("stage", "qid", "vec_id", "cos", "rank")
          .orderBy("stage", "qid", "rank")
      }),

    // Trained quality classifier (QualityModel.train/score) — the
    // CCNet/GPT-3-style learned quality filter — oracle-pinned
    // INCLUDING THE TRAINING: two full-batch gradient-descent
    // iterations over md5-hashed bag-of-tokens features (labels
    // doc_id % 2) unroll as sequential DuckDB CTEs (the q121/q129
    // device). Zero init makes iteration 1 exact (p = 0.5 for every
    // doc); weights and margins round to 6dp at every step boundary,
    // so the replay is engine-exact end to end. The hash match pins
    // the featurizer (hash/mod/L1 normalization), both gradient
    // updates (incl. the bias taking residuals from EVERY labeled
    // doc — zero-token docs margin at the bias alone), and the
    // scoring path.
    QueryDef("q135_quality_classifier", Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS tk, CAST(doc_id % 2 AS DOUBLE) AS y
                 FROM documents WHERE doc_id >= 3),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
      tok AS (SELECT doc_id, y, unnest(tk) AS t, CAST(len(tk) AS DOUBLE) AS ln
              FROM d WHERE len(tk) > 0),
      feat AS (SELECT doc_id, any_value(y) AS y,
                      ('0x' || substr(md5(t), 1, 4))::INT % 64 AS f,
                      count(*) / any_value(ln) AS x
               FROM tok GROUP BY doc_id, ('0x' || substr(md5(t), 1, 4))::INT % 64),
      g1 AS (SELECT f, sum((0.5 - y) * x) AS g FROM feat GROUP BY f),
      b1 AS (SELECT sum(0.5 - y) AS bg FROM d),
      w1 AS (SELECT f, round(-2.0 * g / n.n, 6) AS w FROM g1 CROSS JOIN n),
      bias1 AS (SELECT round(-2.0 * bg / n.n, 6) AS b FROM b1 CROSS JOIN n),
      fs2 AS (SELECT fe.doc_id, sum(fe.x * coalesce(w1.w, 0)) AS fm
              FROM feat fe LEFT JOIN w1 USING (f) GROUP BY fe.doc_id),
      m2 AS (SELECT d.doc_id, d.y,
                    round(coalesce(fs2.fm, 0) + bias1.b, 6) AS m
             FROM d LEFT JOIN fs2 USING (doc_id) CROSS JOIN bias1),
      r2 AS (SELECT doc_id, 1.0 / (1.0 + exp(-m)) - y AS r FROM m2),
      g2 AS (SELECT fe.f, sum(r2.r * fe.x) AS g
             FROM feat fe JOIN r2 USING (doc_id) GROUP BY fe.f),
      w2 AS (SELECT coalesce(w1.f, g2.f) AS f,
                    round(coalesce(w1.w, 0) - 2.0 * coalesce(g2.g, 0) / n.n, 6) AS w
             FROM w1 FULL OUTER JOIN g2 ON w1.f = g2.f CROSS JOIN n),
      bias2 AS (SELECT round(bias1.b - 2.0 * (SELECT sum(r) FROM r2) / n.n, 6) AS b
                FROM bias1 CROSS JOIN n),
      sd AS (SELECT doc_id FROM d WHERE doc_id < 60),
      sm AS (SELECT fe.doc_id,
                    round(sum(fe.x * coalesce(w2.w, 0)) + any_value(bias2.b), 6) AS m
             FROM feat fe LEFT JOIN w2 USING (f) CROSS JOIN bias2
             WHERE fe.doc_id < 60 GROUP BY fe.doc_id)
      SELECT sd.doc_id,
             round(1.0 / (1.0 + exp(-coalesce(sm.m, (SELECT b FROM bias2)))), 6) AS score
      FROM sd LEFT JOIN sm USING (doc_id) ORDER BY sd.doc_id"""),
      (s, dir) => {
        val train = t(s, dir, "documents").filter(col("doc_id") >= 3)
          .withColumn("label", (col("doc_id") % 2).cast("int"))
        val model = graft.operators.QualityModel.train(train, "text", "label",
          dims = 64, iters = 2, lr = 2.0)
        graft.operators.QualityModel.score(
            train.filter(col("doc_id") < 60), model, "text")
          .select(col("doc_id"), col("score"))
          .orderBy("doc_id")
      }),

    // The prep facade END TO END with the LEARNED tiers in the chain
    // (CorpusPrep.run + qualityModel + imageCol) — q131 pinned
    // normalize→gates→exact→near-dup→decontaminate→sample; this row
    // pins the STAGE-ORDER interactions of the two tiers round 13/14
    // added: the trained-quality gate (q135's two unrolled gradient
    // iterations train the model in-oracle on a real signal — label =
    // doc contains the token 'the' — and the gate scores the
    // NORMALIZED text against a threshold CALIBRATED to the exact
    // median of the training-doc scores, the CCNet percentile move;
    // it sits between the row-local gates and exact dedup, where
    // run() puts it) and the image signature tier (consecutive doc
    // pairs share a synthetic image, the q124 dHash replay;
    // perceptual clusters collapse keep-min-id AFTER the text
    // near-dup stage, then decontamination and the sample run over
    // the image survivors). One DuckDB chain; the LEARNED tiers bite
    // at every sf (qm ~half, image ~25%, near-dup/sample as in q131 —
    // gates/exact/decontam keep their own q131/q48/q57 pins); hash
    // match = the whole composition.
    // AS MATERIALIZED on every chain CTE is load-bearing (the q89
    // lesson): each stage is referenced 2-3 times downstream, and a
    // planner inlining single-definition CTEs re-expands the whole
    // upstream chain PER REFERENCE — multiplicative in depth
    // (observed: minutes vs 0.3 s at sf0.001).
    QueryDef("q138_prep_learned_tiers", Some(raw"""
      WITH RECURSIVE d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk,
                  CAST(list_contains(string_split(lower(text), ' '), 'the') AS DOUBLE) AS y
           FROM documents WHERE doc_id >= 3),
      n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
      tok AS MATERIALIZED (SELECT doc_id, y, unnest(tk) AS t, CAST(len(tk) AS DOUBLE) AS ln
              FROM d WHERE len(tk) > 0),
      feat AS MATERIALIZED (SELECT doc_id, any_value(y) AS y,
                      ('0x' || substr(md5(t), 1, 4))::INT % 64 AS f,
                      count(*) / any_value(ln) AS x
               FROM tok GROUP BY doc_id, ('0x' || substr(md5(t), 1, 4))::INT % 64),
      g1 AS MATERIALIZED (SELECT f, sum((0.5 - y) * x) AS g FROM feat GROUP BY f),
      b1 AS MATERIALIZED (SELECT sum(0.5 - y) AS bg FROM d),
      w1 AS MATERIALIZED (SELECT f, round(-2.0 * g / n.n, 6) AS w FROM g1 CROSS JOIN n),
      bias1 AS MATERIALIZED (SELECT round(-2.0 * bg / n.n, 6) AS b FROM b1 CROSS JOIN n),
      fs2 AS MATERIALIZED (SELECT fe.doc_id, sum(fe.x * coalesce(w1.w, 0)) AS fm
              FROM feat fe LEFT JOIN w1 USING (f) GROUP BY fe.doc_id),
      m2 AS MATERIALIZED (SELECT d.doc_id, d.y,
                    round(coalesce(fs2.fm, 0) + bias1.b, 6) AS m
             FROM d LEFT JOIN fs2 USING (doc_id) CROSS JOIN bias1),
      r2 AS MATERIALIZED (SELECT doc_id, 1.0 / (1.0 + exp(-m)) - y AS r FROM m2),
      g2 AS MATERIALIZED (SELECT fe.f, sum(r2.r * fe.x) AS g
             FROM feat fe JOIN r2 USING (doc_id) GROUP BY fe.f),
      w2 AS MATERIALIZED (SELECT coalesce(w1.f, g2.f) AS f,
                    round(coalesce(w1.w, 0) - 2.0 * coalesce(g2.g, 0) / n.n, 6) AS w
             FROM w1 FULL OUTER JOIN g2 ON w1.f = g2.f CROSS JOIN n),
      bias2 AS MATERIALIZED (SELECT round(bias1.b - 2.0 * (SELECT sum(r) FROM r2) / n.n, 6) AS b
                FROM bias1 CROSS JOIN n),
      fs3 AS MATERIALIZED (SELECT fe.doc_id, sum(fe.x * coalesce(w2.w, 0)) AS fm
             FROM feat fe LEFT JOIN w2 USING (f) GROUP BY fe.doc_id),
      rsc AS MATERIALIZED (SELECT d.doc_id,
                    round(1.0 / (1.0 + exp(-round(coalesce(fs3.fm, 0) + bias2.b, 6))), 6) AS s
             FROM d LEFT JOIN fs3 USING (doc_id) CROSS JOIN bias2),
      thr AS MATERIALIZED (SELECT round(quantile_cont(s, 0.5), 6) AS t FROM rsc),
      cleaned AS MATERIALIZED (
        SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM documents),
      toked AS MATERIALIZED (SELECT doc_id, ct, list_filter(string_split(ct, ' '), x -> x <> '') AS tk FROM cleaned),
      gated AS MATERIALIZED (SELECT * FROM toked
        WHERE length(ct) BETWEEN 20 AND 1000000 AND len(tk) > 0
          AND 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.9),
      qfeat AS MATERIALIZED (SELECT doc_id,
                       ('0x' || substr(md5(t), 1, 4))::INT % 64 AS f,
                       count(*) / any_value(ln) AS x
                FROM (SELECT doc_id, unnest(tk) AS t, CAST(len(tk) AS DOUBLE) AS ln
                      FROM gated)
                GROUP BY doc_id, ('0x' || substr(md5(t), 1, 4))::INT % 64),
      qsc AS MATERIALIZED (SELECT qf.doc_id,
                     round(1.0 / (1.0 + exp(-round(sum(qf.x * coalesce(w2.w, 0))
                       + any_value(bias2.b), 6))), 6) AS s
              FROM qfeat qf LEFT JOIN w2 USING (f) CROSS JOIN bias2
              GROUP BY qf.doc_id),
      qm AS MATERIALIZED (SELECT g.* FROM gated g JOIN qsc USING (doc_id)
             WHERE qsc.s >= (SELECT t FROM thr)),
      exact AS MATERIALIZED (SELECT * FROM qm
        QUALIFY row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id) = 1),
      shdoc AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM exact),
      sig AS MATERIALIZED (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      cands AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      ver AS MATERIALIZED (SELECT c.id_a, c.id_b
              FROM cands c JOIN shdoc sa ON sa.doc_id = c.id_a
                           JOIN shdoc sb ON sb.doc_id = c.id_b
              WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                    / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.8),
      edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM ver UNION SELECT id_b, id_a FROM ver),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      nd AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN clus c ON c.id = e.doc_id
             WHERE c.id IS NULL OR e.doc_id = c.cluster),
      ib AS MATERIALIZED (SELECT doc_id, doc_id // 2 AS base, doc_id % 2 AS alt FROM nd),
      px AS MATERIALIZED (SELECT i.doc_id, y.y, x.x,
               CASE WHEN i.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN i.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM ib i
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS MATERIALIZED (SELECT p1.doc_id,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id),
      ipairs AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM h a JOIN h b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.h, b.h)) <= 3),
      iedges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM ipairs
                 UNION SELECT id_b, id_a FROM ipairs),
      ireach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM iedges) v
        UNION
        SELECT r.a, e.d FROM ireach r JOIN iedges e ON r.b = e.s),
      iclus AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM ireach GROUP BY a),
      img AS MATERIALIZED (SELECT n2.* FROM nd n2 LEFT JOIN iclus c ON c.id = n2.doc_id
              WHERE c.id IS NULL OR n2.doc_id = c.cluster),
      bsh AS MATERIALIZED (SELECT doc_id AS bench_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM toked WHERE doc_id < 3),
      bexp AS MATERIALIZED (SELECT bench_id, len(shs) AS bn, unnest(shs) AS sh FROM bsh WHERE len(shs) > 0),
      cexp AS MATERIALIZED (SELECT m3.doc_id,
          unnest(list_distinct(list_transform(generate_series(1, greatest(len(m3.tk) - 2, 0)),
            k -> array_to_string(m3.tk[k:k+2], ' ')))) AS sh
        FROM img m3),
      cont AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
          SELECT c.doc_id, b.bench_id, b.bn, count(*) AS shared
          FROM cexp c JOIN bexp b USING (sh)
          GROUP BY c.doc_id, b.bench_id, b.bn)
        WHERE CAST(shared AS DOUBLE) / bn >= 0.8),
      decon AS MATERIALIZED (SELECT * FROM img WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      sampled AS MATERIALIZED (SELECT * FROM decon
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'corpusprep'), 1, 8))::UBIGINT
              / 4294967296.0 < 0.85)
      SELECT doc_id, CAST(length(ct) AS BIGINT) AS n_clean_chars
      FROM sampled ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val docs = t(s, dir, "documents")
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId / 2
          val alt = docId % 2 == 1
          val grays = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            if (alt && y == 0 && x == 0) 255
            else if (alt && y == 0 && x == 1) 0
            else java.lang.Byte.toUnsignedInt(
              md.digest(s"$base:$y:$x".getBytes("UTF-8"))(0))
          }
          graft.operators.Multimodal.syntheticGrayBmp(9, 8, grays)
        }
        val model = graft.operators.QualityModel.train(
          docs.filter(col("doc_id") >= 3)
            .withColumn("label", array_contains(
              split(lower(col("text")), " "), "the").cast("int")),
          "text", "label", dims = 64, iters = 2, lr = 2.0)
        // run()'s documented caching contract: the facade's stages
        // re-execute their input per plan branch (a checkpoint inside
        // run() would truncate the observed metrics), so heavy inputs
        // — here the synthetic image encode — pin UPSTREAM. Widened
        // first (r17): the one-row-group scan plans as ONE partition
        // and the per-doc encode would otherwise run single-threaded
        val pinned = graft.operators.Parallelism.widen(docs)
          .withColumn("img", mk(col("doc_id")))
          .localCheckpoint(true)
        graft.operators.CorpusPrep.run(
            pinned,
            cfg = graft.operators.CorpusPrep.Config(
              benchmark = Some(docs.filter(col("doc_id") < 3)),
              minContainment = 0.8,
              sampleRate = Some(lit(0.85)),
              qualityModel = Some(model),
              // the gate threshold CALIBRATES to the observed score
              // distribution (the CCNet percentile-bucket move): the
              // exact median of the model's scores over the training
              // docs, so the gate bites ~half at EVERY sf — a fixed
              // 0.5 would sit inside the score cluster (L1-normalized
              // features keep margins tight around the bias) and flip
              // on nothing. Spark's exact `percentile` and DuckDB's
              // quantile_cont share the (n-1)p interpolation, so the
              // threshold replays bit-for-bit. Since r15 the
              // calibration is FACADE-ROUTED (Config.minQualityQuantile
              // + the designated calibration frame, scored on textCol
              // verbatim) — the same threshold the call-site
              // calibration produced, so the oracle is unchanged
              minQualityQuantile = Some(0.5),
              qualityCalibrationFrame = Some(docs.filter(col("doc_id") >= 3)),
              imageCol = Some("img")))
          .select(col("doc_id"),
            length(col("clean_text")).cast("bigint").as("n_clean_chars"))
          .orderBy("doc_id")
      }),

    // Hash-band index DELETION lifecycle (Dedup.writeHashBandIndex /
    // deleteFromHashBandIndex / compactHashBandIndex) — the THIRD
    // standing-index family brought up to the q132/q134 takedown
    // contract, on the q124 synthetic-image fixture: the standing
    // corpus's dHashes persist WITH ids, every doc of pixel-bases 0-4
    // is deleted (so those bases vanish from standing entirely — a
    // partial delete would be invisible behind a surviving same-hash
    // twin, which is exactly the sharing that makes this family's
    // delete non-trivial), and the batch probe runs in BOTH states:
    // tombstoned (readHashBandIndex anti-joins) and after compaction
    // removed the rows materially. The oracle replays the dHash and
    // probes the standing set MINUS the deleted docs, emitting the
    // same survivors under both stage tags — a hash match pins
    // tombstoned probe == compacted probe == fresh-index-minus-docs:
    // previously-suppressed near-twins of deleted bases resurface,
    // everything else stays suppressed.
    QueryDef("q136_hash_index_delete", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt FROM documents),
      px AS (SELECT d.doc_id, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id),
      st AS (SELECT doc_id, h FROM h
             WHERE doc_id % 50 < 25 AND (doc_id // 50) % 2 = 0
               AND doc_id % 50 >= 5),
      bt AS (SELECT doc_id, h FROM h WHERE NOT (doc_id % 50 < 25 AND (doc_id // 50) % 2 = 0)),
      hits AS (SELECT DISTINCT b.doc_id FROM bt b JOIN st s ON bit_count(xor(b.h, s.h)) <= 3),
      surv AS (SELECT doc_id FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM hits))
      SELECT s.stage, r.doc_id
      FROM (VALUES ('compacted'), ('tombstoned')) s(stage) CROSS JOIN surv r
      ORDER BY s.stage, r.doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val grays = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            if (alt && y == 0 && x == 0) 255
            else if (alt && y == 0 && x == 1) 0
            else java.lang.Byte.toUnsignedInt(
              md.digest(s"$base:$y:$x".getBytes("UTF-8"))(0))
          }
          graft.operators.Multimodal.syntheticGrayBmp(9, 8, grays)
        }
        val imgs = t(s, dir, "documents")
          .select(col("doc_id"), mk(col("doc_id")).as("img"))
        val standingPred = expr("doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")
        val standing = graft.operators.Multimodal.withPerceptualHash(
          imgs.filter(standingPred), "img", "ph")
        val path = java.nio.file.Files.createTempDirectory("graft_hash_del_")
          .toFile.getAbsolutePath
        graft.operators.Dedup.writeHashBandIndex(
          standing, "ph", "doc_id", path)
        graft.operators.Dedup.deleteFromHashBandIndex(s, path,
          standing.filter(col("doc_id") % 50 < 5).select("doc_id"), "doc_id")
        val batch = graft.operators.Multimodal.withPerceptualHash(
          imgs.filter(!standingPred), "img", "ph")
        def probe(stage: String) = graft.operators.Dedup
          .hashNearDupFilterAgainst(batch, "ph",
            graft.operators.Dedup.readHashBandIndex(s, path), maxHamming = 3)
          .select(col("doc_id")).withColumn("stage", lit(stage))
        val tombstoned = probe("tombstoned").localCheckpoint(true)
        graft.operators.Dedup.compactHashBandIndex(s, path)
        probe("compacted").unionByName(tombstoned)
          .select("stage", "doc_id")
          .orderBy("stage", "doc_id")
      }),

    // Classifier EVALUATION on a LEAKAGE-SAFE cut
    // (QualityModel.evalModel ∘ Mixing.splitByGroup): the q133 split
    // (one md5 draw per near-dup CLUSTER, so a held-out doc's
    // near-twin can never sit in training) cuts the corpus; the
    // model trains on the 'train' groups (q135's two unrolled
    // gradient iterations, labels doc_id % 2) and is judged on the
    // held-out 'test' groups — confusion metrics at the 0.5 gate
    // threshold plus Mann–Whitney AUC with average tie ranks
    // (integer/half-integer rank arithmetic, the q125 device). The
    // hash match pins the whole chain: cluster→group→draw→cut,
    // training on ONLY the train side, per-feature scoring, and the
    // rank/confusion arithmetic. An id-hashed cut here would
    // OVERSTATE the classifier (near-twins straddle the cut) —
    // SCALE.md states why the group cut is the honest one.
    QueryDef("q137_quality_eval", Some(s"""
      WITH RECURSIVE shdoc AS (SELECT doc_id, $shinglesSqlArr AS shs FROM documents),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      edges AS (SELECT doc_a AS s, doc_b AS d FROM prs UNION SELECT doc_b, doc_a FROM prs),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      lab AS (SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a),
      grp AS (SELECT d.doc_id, d.text, coalesce(l.cluster, d.doc_id) AS g
              FROM documents d LEFT JOIN lab l USING (doc_id)),
      u AS (SELECT doc_id, text,
                   CASE WHEN ('0x' || substr(md5(CAST(g AS VARCHAR) || 'split13'), 1, 8))::UBIGINT
                          / 4294967296.0 < 0.5 THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(g AS VARCHAR) || 'split13'), 1, 8))::UBIGINT
                          / 4294967296.0 < 0.75 THEN 'val'
                        ELSE 'test' END AS split
            FROM grp),
      d AS (SELECT doc_id, $toksSql AS tk,
                   CAST(list_contains(string_split(lower(text), ' '), 'the') AS DOUBLE) AS y
            FROM u WHERE split = 'train'),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
      tok AS (SELECT doc_id, y, unnest(tk) AS t, CAST(len(tk) AS DOUBLE) AS ln
              FROM d WHERE len(tk) > 0),
      feat AS (SELECT doc_id, any_value(y) AS y,
                      ('0x' || substr(md5(t), 1, 4))::INT % 64 AS f,
                      count(*) / any_value(ln) AS x
               FROM tok GROUP BY doc_id, ('0x' || substr(md5(t), 1, 4))::INT % 64),
      g1 AS (SELECT f, sum((0.5 - y) * x) AS g FROM feat GROUP BY f),
      b1 AS (SELECT sum(0.5 - y) AS bg FROM d),
      w1 AS (SELECT f, round(-2.0 * g / n.n, 6) AS w FROM g1 CROSS JOIN n),
      bias1 AS (SELECT round(-2.0 * bg / n.n, 6) AS b FROM b1 CROSS JOIN n),
      fs2 AS (SELECT fe.doc_id, sum(fe.x * coalesce(w1.w, 0)) AS fm
              FROM feat fe LEFT JOIN w1 USING (f) GROUP BY fe.doc_id),
      m2 AS (SELECT d.doc_id, d.y,
                    round(coalesce(fs2.fm, 0) + bias1.b, 6) AS m
             FROM d LEFT JOIN fs2 USING (doc_id) CROSS JOIN bias1),
      r2 AS (SELECT doc_id, 1.0 / (1.0 + exp(-m)) - y AS r FROM m2),
      g2 AS (SELECT fe.f, sum(r2.r * fe.x) AS g
             FROM feat fe JOIN r2 USING (doc_id) GROUP BY fe.f),
      w2 AS (SELECT coalesce(w1.f, g2.f) AS f,
                    round(coalesce(w1.w, 0) - 2.0 * coalesce(g2.g, 0) / n.n, 6) AS w
             FROM w1 FULL OUTER JOIN g2 ON w1.f = g2.f CROSS JOIN n),
      bias2 AS (SELECT round(bias1.b - 2.0 * (SELECT sum(r) FROM r2) / n.n, 6) AS b
                FROM bias1 CROSS JOIN n),
      te AS (SELECT doc_id, $toksSql AS tk,
                    CAST(list_contains(string_split(lower(text), ' '), 'the') AS DOUBLE) AS y
             FROM u WHERE split = 'test'),
      tfeat AS (SELECT doc_id,
                       ('0x' || substr(md5(t), 1, 4))::INT % 64 AS f,
                       count(*) / any_value(ln) AS x
                FROM (SELECT doc_id, unnest(tk) AS t, CAST(len(tk) AS DOUBLE) AS ln
                      FROM te WHERE len(tk) > 0)
                GROUP BY doc_id, ('0x' || substr(md5(t), 1, 4))::INT % 64),
      sm AS (SELECT tf.doc_id,
                    round(sum(tf.x * coalesce(w2.w, 0)) + any_value(bias2.b), 6) AS m
             FROM tfeat tf LEFT JOIN w2 USING (f) CROSS JOIN bias2
             GROUP BY tf.doc_id),
      scored AS (SELECT te.y,
                        round(1.0 / (1.0 + exp(-coalesce(sm.m, (SELECT b FROM bias2)))), 6) AS s
                 FROM te LEFT JOIN sm USING (doc_id)),
      gsc AS (SELECT s, count(*) AS c, CAST(sum(y) AS BIGINT) AS pc
              FROM scored GROUP BY s),
      rk AS (SELECT s, c, pc,
                    coalesce(sum(c) OVER (ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      + (c + 1) / 2.0 AS ar
             FROM gsc),
      agg AS (SELECT CAST(sum(c) AS DOUBLE) AS nn,
                     CAST(sum(pc) AS DOUBLE) AS np,
                     CAST(coalesce(sum(CASE WHEN s >= 0.5 THEN pc END), 0) AS DOUBLE) AS tp,
                     CAST(coalesce(sum(CASE WHEN s >= 0.5 THEN c - pc END), 0) AS DOUBLE) AS fp,
                     sum(pc * ar) AS prs
              FROM rk)
      SELECT CAST(nn AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
             CAST(nn - np AS BIGINT) AS n_neg,
             round((tp + (nn - np - fp)) / nn, 6) AS accuracy,
             CASE WHEN tp + fp > 0 THEN round(tp / (tp + fp), 6) END AS precision,
             CASE WHEN np > 0 THEN round(tp / np, 6) END AS recall,
             CASE WHEN 2 * tp + fp + (np - tp) > 0
                  THEN round(2.0 * tp / (2 * tp + fp + (np - tp)), 6) END AS f1,
             CASE WHEN np > 0 AND nn - np > 0
                  THEN round((prs - np * (np + 1) / 2.0) / (np * (nn - np)), 6)
             END AS auc
      FROM agg"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val clusters = graft.operators.Dedup.duplicateClusters(
          graft.operators.Dedup.minhashNearDupCandidates(docs, "text", "doc_id"))
        val cut = graft.operators.Mixing.splitByGroup(
          docs.join(clusters.withColumnRenamed("id", "doc_id"),
              Seq("doc_id"), "left")
            .select(col("doc_id"), col("text"),
              coalesce(col("cluster"), col("doc_id")).as("grp")),
          "grp", Seq(("train", 0.5), ("val", 0.25), ("test", 0.25)),
          salt = "split13")
        val model = graft.operators.QualityModel.train(
          cut.filter(col("split") === "train")
            .withColumn("label", array_contains(
              split(lower(col("text")), " "), "the").cast("int")),
          "text", "label", dims = 64, iters = 2, lr = 2.0)
        graft.operators.QualityModel.evalModel(
          graft.operators.QualityModel.withQualityScore(
            cut.filter(col("split") === "test")
              .withColumn("label", array_contains(
                split(lower(col("text")), " "), "the").cast("int")),
            model, "text"),
          "label")
      }),

    // Hash-band index GROWTH (Dedup.rebuildHashBandIndex) — the q136
    // lifecycle device extended with the leg that retires the
    // "keep the (id, hash) frame around" caveat: the standing index
    // is built over pixel-bases 0-14, bases 0-4 are DELETED
    // (tombstones pending — never compacted, so the growth rebuild
    // must materialize them itself), and the index is then GROWN
    // with bases 15-24 from the artifact's own (id, hash) rows plus
    // the new batch — no external signature frame anywhere. The probe
    // runs against BOTH the grown index and a fresh build over
    // (standing minus deleted) ∪ growth; the oracle emits the same
    // survivor set under both stage tags, so a hash match pins
    // grow-then-probe == fresh-build-over-union: the deleted bases'
    // near-twins resurface (the tombstones materialized through the
    // rebuild), the GROWN bases' near-twins are newly suppressed
    // (the growth actually serves), and everything else is unchanged.
    QueryDef("q139_hash_index_rebuild", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt FROM documents),
      px AS (SELECT d.doc_id, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id),
      st AS (SELECT doc_id, h FROM h
             WHERE doc_id % 50 < 25 AND (doc_id // 50) % 2 = 0
               AND doc_id % 50 >= 5),
      bt AS (SELECT doc_id, h FROM h WHERE NOT (doc_id % 50 < 25 AND (doc_id // 50) % 2 = 0)),
      hits AS (SELECT DISTINCT b.doc_id FROM bt b JOIN st s ON bit_count(xor(b.h, s.h)) <= 3),
      surv AS (SELECT doc_id FROM bt WHERE doc_id NOT IN (SELECT doc_id FROM hits))
      SELECT s.stage, r.doc_id
      FROM (VALUES ('fresh'), ('grown')) s(stage) CROSS JOIN surv r
      ORDER BY s.stage, r.doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val grays = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            if (alt && y == 0 && x == 0) 255
            else if (alt && y == 0 && x == 1) 0
            else java.lang.Byte.toUnsignedInt(
              md.digest(s"$base:$y:$x".getBytes("UTF-8"))(0))
          }
          graft.operators.Multimodal.syntheticGrayBmp(9, 8, grays)
        }
        val imgs = t(s, dir, "documents")
          .select(col("doc_id"), mk(col("doc_id")).as("img"))
        val standingPred = expr("doc_id % 50 < 15 AND (doc_id div 50) % 2 = 0")
        val growPred = expr(
          "doc_id % 50 >= 15 AND doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")
        val standing = graft.operators.Multimodal.withPerceptualHash(
          imgs.filter(standingPred), "img", "ph")
        val growth = graft.operators.Multimodal.withPerceptualHash(
          imgs.filter(growPred), "img", "ph")
        val dir0 = java.nio.file.Files.createTempDirectory("graft_hash_grow_")
          .toFile.getAbsolutePath
        val path = s"$dir0/idx"
        val freshPath = s"$dir0/fresh"
        graft.operators.Dedup.writeHashBandIndex(
          standing, "ph", "doc_id", path)
        graft.operators.Dedup.deleteFromHashBandIndex(s, path,
          standing.filter(col("doc_id") % 50 < 5).select("doc_id"),
          "doc_id")
        // grow from the ARTIFACT's own rows (tombstones applied) +
        // the new batch — no external signature frame
        graft.operators.Dedup.rebuildHashBandIndex(s, path,
          growth, "ph", "doc_id")
        // the reference: a fresh build over (standing minus deleted) ∪ growth
        graft.operators.Dedup.writeHashBandIndex(
          standing.filter(col("doc_id") % 50 >= 5).unionByName(growth),
          "ph", "doc_id", freshPath,
          metricName = "graft_hash_index_write_cap_fresh")
        val batch = graft.operators.Multimodal.withPerceptualHash(
          imgs.filter(!standingPred && !growPred), "img", "ph")
        def probe(p: String, stage: String) = graft.operators.Dedup
          .hashNearDupFilterAgainst(batch, "ph",
            graft.operators.Dedup.readHashBandIndex(s, p), maxHamming = 3)
          .select(col("doc_id")).withColumn("stage", lit(stage))
        probe(path, "grown").unionByName(probe(freshPath, "fresh"))
          .select("stage", "doc_id")
          .orderBy("stage", "doc_id")
      }),

    // Row-trace ORACLE PIN (CorpusPrep.prepTraceIncremental): the
    // trace trio graduates from spec-pinned to oracle-pinned — the
    // DuckDB replay recomputes, per traced id, the FIRST-DROP stage
    // label and the deterministic survivor-evidence id (the free-text
    // detail stays out of the hash; evidence ids are extracted from
    // it because they are the replayable part). The fixture engineers
    // every route: batch = the %4==0 docs plus synthetic exact twins
    // (+1e6, same text -> 'exact', evidence = min-id digest holder),
    // exact copies of standing docs (+2e6 -> 'exact_standing'),
    // near-dups of standing docs (+3e6, three appended tokens ->
    // jaccard (L-2)/(L+1), >= 0.8 iff the doc has >= 14 tokens, so
    // both near-dup and kept outcomes occur; evidence = the max-
    // jaccard standing doc, ties to min id — the min_by(struct) rule
    // the operator now pins); %4==3 ids are traced but absent. The
    // drop BOUNDARY replays q75's dropIncrementalDuplicates chain
    // over normalized text (gates -> exact-vs-standing -> min-id
    // twins -> banded+verified near tier with the taint rule), then
    // the 0.7 sample draw (the q138 md5 device). A hash match pins
    // the trace's stage precedence, the operator-owned kept/dropped
    // split, and every evidence id in one row set.
    QueryDef("q140_trace_incremental", Some(raw"""
      WITH RECURSIVE
      eng AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0 AND doc_id < 40
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 4 = 1 AND doc_id < 40
        UNION ALL
        SELECT doc_id + 3000000, text || ' zq zr zs' FROM documents WHERE doc_id % 4 = 2 AND doc_id < 40
        UNION ALL
        SELECT 4000000, 'xy'
        UNION ALL
        SELECT 4000001, CAST(NULL AS VARCHAR)),
      tr AS MATERIALIZED (
        SELECT doc_id FROM documents WHERE doc_id % 4 = 0 AND doc_id < 200
        UNION ALL SELECT doc_id FROM eng WHERE doc_id >= 1000000
        UNION ALL SELECT doc_id FROM documents WHERE doc_id % 4 = 3 AND doc_id < 40),
      cb AS MATERIALIZED (SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM eng),
      cs AS MATERIALIZED (SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM documents WHERE doc_id % 4 <> 0),
      tb AS MATERIALIZED (SELECT doc_id, ct,
          list_filter(string_split(ct, ' '), x -> x <> '') AS tk FROM cb),
      gated AS MATERIALIZED (SELECT doc_id, ct, tk FROM tb
        WHERE length(ct) BETWEEN 20 AND 1000000 AND len(tk) > 0
          AND 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.9),
      sdig AS MATERIALIZED (SELECT DISTINCT md5(ct) AS dg FROM cs WHERE ct IS NOT NULL),
      gdig AS MATERIALIZED (SELECT doc_id, md5(ct) AS dg FROM gated),
      dmin AS MATERIALIZED (SELECT dg, min(doc_id) AS surv FROM gdig GROUP BY dg),
      keptexact AS MATERIALIZED (
        SELECT g.doc_id FROM gdig g JOIN dmin m USING (dg)
        WHERE g.doc_id = m.surv AND g.dg NOT IN (SELECT dg FROM sdig)),
      gsh AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM gated),
      ssh AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM (SELECT doc_id, list_filter(string_split(ct, ' '), x -> x <> '') AS tk
              FROM cs WHERE ct IS NOT NULL)),
      gsig AS MATERIALIZED (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM gsh WHERE len(shs) > 0),
      ssig AS MATERIALIZED (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM ssh WHERE len(shs) > 0),
      gbands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM gsig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM gsig),
      sbands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM ssig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM ssig),
      kbands AS MATERIALIZED (SELECT b.doc_id, b.band FROM gbands b
                JOIN keptexact USING (doc_id)),
      cand AS MATERIALIZED (
        SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_other, o.other_new
        FROM kbands n
        JOIN (SELECT doc_id, band, TRUE AS other_new FROM kbands
              UNION ALL SELECT doc_id, band, FALSE AS other_new FROM sbands) o
          ON n.band = o.band AND n.doc_id <> o.doc_id),
      ver AS MATERIALIZED (
        SELECT DISTINCT c.id_new, c.id_other, c.other_new
        FROM cand c JOIN gsh a ON a.doc_id = c.id_new
                    JOIN gsh b ON b.doc_id = c.id_other
        WHERE c.other_new
          AND CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
              (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8
        UNION
        SELECT DISTINCT c.id_new, c.id_other, c.other_new
        FROM cand c JOIN gsh a ON a.doc_id = c.id_new
                    JOIN ssh b ON b.doc_id = c.id_other
        WHERE NOT c.other_new
          AND CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
              (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.8),
      contaminated AS MATERIALIZED (SELECT DISTINCT id_new FROM ver WHERE NOT other_new),
      nn AS MATERIALIZED (SELECT id_new AS s, id_other AS d FROM ver WHERE other_new
             UNION SELECT id_other, id_new FROM ver WHERE other_new),
      reach AS (SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM nn) v
                UNION SELECT r.a, e.d FROM reach r JOIN nn e ON r.b = e.s),
      lab AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      tainted AS MATERIALIZED (SELECT DISTINCT cluster FROM lab
                 JOIN contaminated ON lab.id = contaminated.id_new),
      keepers AS MATERIALIZED (SELECT cluster, min(id) AS id FROM lab
                  WHERE cluster NOT IN (SELECT cluster FROM tainted) GROUP BY cluster),
      clusterdrops AS MATERIALIZED (SELECT id FROM lab
                      WHERE id NOT IN (SELECT id FROM keepers)),
      survivors AS MATERIALIZED (SELECT k.doc_id FROM keptexact k
                    WHERE k.doc_id NOT IN (SELECT id_new FROM contaminated)
                      AND k.doc_id NOT IN (SELECT id FROM clusterdrops)),
      sampled AS MATERIALIZED (SELECT doc_id FROM survivors
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'corpusprep'), 1, 8))::UBIGINT
              / 4294967296.0 < 0.7),
      dropped AS MATERIALIZED (SELECT doc_id FROM gated
        WHERE doc_id NOT IN (SELECT doc_id FROM survivors)),
      exstand AS MATERIALIZED (SELECT g.doc_id FROM gdig g
        WHERE g.doc_id IN (SELECT doc_id FROM dropped)
          AND g.dg IN (SELECT dg FROM sdig)),
      twin AS MATERIALIZED (SELECT g.doc_id, m.surv FROM gdig g JOIN dmin m USING (dg)
        WHERE g.doc_id IN (SELECT doc_id FROM dropped)
          AND g.doc_id NOT IN (SELECT doc_id FROM exstand)
          AND g.doc_id <> m.surv),
      remaining AS MATERIALIZED (SELECT doc_id FROM dropped
        WHERE doc_id NOT IN (SELECT doc_id FROM exstand)
          AND doc_id NOT IN (SELECT doc_id FROM twin)),
      nearst AS MATERIALIZED (
        SELECT doc_id, sid FROM (
          SELECT p.doc_id, p.sid,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY p.j DESC, p.sid) AS rn
          FROM (SELECT e.doc_id, e.sid,
                  CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
                  (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS j
                FROM (SELECT DISTINCT rb.doc_id, sb.doc_id AS sid
                      FROM gbands rb
                      JOIN remaining r ON r.doc_id = rb.doc_id
                      JOIN sbands sb ON rb.band = sb.band) e
                JOIN gsh a ON a.doc_id = e.doc_id
                JOIN ssh b ON b.doc_id = e.sid) p
          WHERE p.j >= 0.8)
        WHERE rn = 1),
      clev AS MATERIALIZED (
        SELECT r.doc_id, k.id AS ev
        FROM remaining r
        LEFT JOIN lab l ON l.id = r.doc_id
        LEFT JOIN keepers k ON k.cluster = l.cluster)
      SELECT t.doc_id,
        CASE
          WHEN b.doc_id IS NULL THEN 'absent'
          WHEN g.doc_id IS NULL THEN 'gated'
          WHEN es.doc_id IS NOT NULL THEN 'exact_standing'
          WHEN tw.doc_id IS NOT NULL THEN 'exact'
          WHEN dd.doc_id IS NOT NULL THEN 'neardup'
          WHEN sm.doc_id IS NULL THEN 'sampled'
          ELSE 'kept' END AS stage,
        CASE
          WHEN tw.doc_id IS NOT NULL THEN tw.surv
          WHEN ns.doc_id IS NOT NULL THEN ns.sid
          WHEN dd.doc_id IS NOT NULL THEN ce.ev END AS evidence
      FROM tr t
      LEFT JOIN (SELECT DISTINCT doc_id FROM eng) b USING (doc_id)
      LEFT JOIN (SELECT doc_id FROM gated) g USING (doc_id)
      LEFT JOIN exstand es USING (doc_id)
      LEFT JOIN twin tw USING (doc_id)
      LEFT JOIN (SELECT doc_id FROM dropped) dd USING (doc_id)
      LEFT JOIN nearst ns USING (doc_id)
      LEFT JOIN clev ce USING (doc_id)
      LEFT JOIN sampled sm USING (doc_id)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val docs = t(s, dir, "documents")
        val standing = docs.filter(col("doc_id") % 4 =!= 0)
          .withColumn("clean_text",
            graft.operators.TextNorm.clean(col("text")))
          .select("doc_id", "clean_text")
        val batch = docs.filter(col("doc_id") % 4 === 0)
          .select("doc_id", "text")
          .unionByName(docs
            .filter(col("doc_id") % 4 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 1 && col("doc_id") < 40)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 2 && col("doc_id") < 40)
            .select((col("doc_id") + 3000000L).as("doc_id"),
              concat(col("text"), lit(" zq zr zs")).as("text")))
          // two gate-fodder rows: too short, and null text
          .unionByName {
            import s.implicits._
            Seq((4000000L, "xy"), (4000001L, null.asInstanceOf[String]))
              .toDF("doc_id", "text")
          }
        val ids = docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 200)
          .select("doc_id")
          .unionByName(batch.filter(col("doc_id") >= 1000000L).select("doc_id"))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 3 && col("doc_id") < 40)
            .select("doc_id"))
        graft.operators.CorpusPrep.prepTraceIncremental(standing, batch, ids,
            cfg = graft.operators.CorpusPrep.Config(sampleRate = Some(lit(0.7))))
          // the evidence id is the replayable slice of the free-text
          // detail — stage-dependent prefix, one trailing integer
          // (no match -> empty string -> null, ANSI-safely)
          .withColumn("evidence", {
            val e = regexp_extract(col("detail"),
              "(?:doc |survivor: )(\\d+)", 1)
            when(e === "", lit(null)).otherwise(e).cast("bigint")
          })
          .select(col("doc_id"), col("stage"), col("evidence"))
          .orderBy("doc_id")
      }),

    // VIDEO-LIKE near-dup (Multimodal.gifNearDupPairs): the q124/q136
    // controlled-dHash device extended to ANIMATIONS — each doc
    // carries a synthetic 3-frame animated GIF (lossless indexed-gray
    // encode through the JDK's own sequence writer), decoded
    // composite-style, per-frame dHashed, and paired by the
    // positional banded search (same-position frames within hamming
    // 3; a pair needs all 3 positions). Alt variants flip one dHash
    // bit in EVERY frame, so same-base docs pair across encodings
    // while different bases never do. The oracle replays the whole
    // path arithmetically: per-frame gray grid from md5(base:f:y:x),
    // the 8x8 brighter-than-right-neighbor bit grid, all-pairs
    // positional hamming, count >= 3 — so a hash match pins encode →
    // frame compositing → dHash → banded positional match end to end.
    QueryDef("q141_gif_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt
                 FROM documents WHERE doc_id < 200),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt && y == 0 && x == 0) 255
              else if (alt && y == 0 && x == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
        }
        val gifs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), mk(col("doc_id")).as("gif"))
        graft.operators.Multimodal.gifNearDupPairs(gifs, "gif", "doc_id")
          .orderBy("id_a", "id_b")
      }),

    // GIF tier COMPOSITION inside the prep facade (Config.gifCol) —
    // the video-like modality as a first-class run() stage, q131's
    // end-to-end device extended: the full text chain (gates -> exact
    // min-id -> LSH+verified near-dup CC) runs first, then the
    // positional GIF clusters collapse among the text survivors
    // (docs < 400 carry a synthetic 3-frame animation keyed by
    // doc_id%40 with the alt bit-flip variant; docs without a gif
    // never pair — null payloads are the gates' business). One DuckDB
    // chain; a hash match pins the tier's PLACEMENT (after text
    // dedup — a text-dropped doc must not anchor a gif cluster) as
    // well as the pair rule and min-id survivor arithmetic.
    QueryDef("q142_prep_gif_tier", Some(raw"""
      WITH RECURSIVE cleaned AS (
        SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM documents),
      toked AS (SELECT doc_id, ct, list_filter(string_split(ct, ' '), x -> x <> '') AS tk FROM cleaned),
      gated AS (SELECT * FROM toked
        WHERE length(ct) BETWEEN 20 AND 1000000 AND len(tk) > 0
          AND 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.9),
      exact AS MATERIALIZED (SELECT * FROM gated
        QUALIFY row_number() OVER (PARTITION BY md5(ct) ORDER BY doc_id) = 1),
      shdoc AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM exact),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      ver AS (SELECT c.id_a, c.id_b
              FROM cands c JOIN shdoc sa ON sa.doc_id = c.id_a
                           JOIN shdoc sb ON sb.doc_id = c.id_b
              WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                    / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.8),
      edges AS (SELECT id_a AS s, id_b AS d FROM ver UNION SELECT id_b, id_a FROM ver),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      nd AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN clus c ON c.id = e.doc_id
             WHERE c.id IS NULL OR e.doc_id = c.cluster),
      gd AS (SELECT doc_id, doc_id % 40 AS base, (doc_id // 40) % 2 AS alt
             FROM nd WHERE doc_id < 400),
      px AS (SELECT gd.doc_id, f.f, y.y, x.x,
               CASE WHEN gd.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN gd.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(gd.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM gd
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS MATERIALIZED (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      gpr AS MATERIALIZED (
        SELECT a.doc_id AS pa, b.doc_id AS pb
        FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
          AND bit_count(xor(a.h, b.h)) <= 3
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3),
      gedges AS (SELECT pa AS s, pb AS d FROM gpr UNION SELECT pb, pa FROM gpr),
      greach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM gedges) v
        UNION
        SELECT r.a, e.d FROM greach r JOIN gedges e ON r.b = e.s),
      gclus AS (SELECT a AS id, min(b) AS cluster FROM greach GROUP BY a),
      gifkept AS (SELECT n.* FROM nd n LEFT JOIN gclus c ON c.id = n.doc_id
              WHERE c.id IS NULL OR n.doc_id = c.cluster)
      SELECT doc_id, CAST(length(ct) AS BIGINT) AS n_clean_chars
      FROM gifkept ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 40
          val alt = (docId / 40) % 2 == 1
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt && y == 0 && x == 0) 255
              else if (alt && y == 0 && x == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
        }
        val docs = t(s, dir, "documents")
        // the heavy input (synthetic GIF encode) pins UPSTREAM per
        // run()'s caching contract — the facade's stages re-execute
        // their input per plan branch; widened first (r17) so the
        // per-doc encode parallelizes instead of running in the one
        // scan partition of a one-row-group input
        val pinned = graft.operators.Parallelism.widen(docs)
          .withColumn("gif",
            when(col("doc_id") < 400, mk(col("doc_id"))))
          .localCheckpoint(true)
        graft.operators.CorpusPrep.run(pinned,
            cfg = graft.operators.CorpusPrep.Config(gifCol = Some("gif")))
          .select(col("doc_id"),
            length(col("clean_text")).cast("bigint").as("n_clean_chars"))
          .orderBy("doc_id")
      }),

    // POSITIONAL (GIF) standing-index lifecycle — the FOURTH family's
    // oracle pin, the q139 device over animations: write the
    // positional index over the standing half (decode-once), tombstone
    // the low bases, GROW from the artifact's own (id, pos, hash) rows
    // (Multimodal.rebuildGifHashBandIndex — the standing GIFs are
    // never re-decoded), then probe one batch against BOTH the grown
    // index and a fresh build over (standing minus deleted) ∪ growth.
    // A hash match pins grown == fresh survivor sets AND the
    // positional probe semantics (deleted bases' near-twins resurface;
    // the 4-band pigeonhole keeps recall exact at maxHamming = 3, so
    // DuckDB's per-position all-pairs replay is the truth). Frames
    // replay from the q141 gray-formula device; the alt bit flips the
    // same two pixels in EVERY frame, so the twin stays within 2 bits
    // at each position.
    QueryDef("q143_gif_index_lifecycle", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt
                 FROM documents WHERE doc_id < 200),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      st AS (SELECT h.doc_id, h.f, h.h FROM h JOIN d USING (doc_id)
             WHERE d.alt = 0 AND d.base BETWEEN 5 AND 24),
      bt AS (SELECT h.doc_id, h.f, h.h FROM h JOIN d USING (doc_id)
             WHERE NOT (d.alt = 0 AND d.base < 25)),
      hitpos AS (SELECT DISTINCT b.doc_id, b.f
                 FROM bt b JOIN st s ON s.f = b.f
                   AND bit_count(xor(b.h, s.h)) <= 3),
      drops AS (SELECT doc_id FROM hitpos GROUP BY doc_id
                HAVING count(*) >= 3),
      surv AS (SELECT DISTINCT doc_id FROM bt
               WHERE doc_id NOT IN (SELECT doc_id FROM drops))
      SELECT s.stage, r.doc_id
      FROM (VALUES ('fresh'), ('grown')) s(stage) CROSS JOIN surv r
      ORDER BY s.stage, r.doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt && y == 0 && x == 0) 255
              else if (alt && y == 0 && x == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
        }
        val gifs = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), mk(col("doc_id")).as("gif"))
        val standingPred = expr("doc_id % 50 < 15 AND (doc_id div 50) % 2 = 0")
        val growPred = expr(
          "doc_id % 50 >= 15 AND doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")
        val dir0 = java.nio.file.Files.createTempDirectory("graft_gif_grow_")
          .toFile.getAbsolutePath
        val path = s"$dir0/idx"
        val freshPath = s"$dir0/fresh"
        graft.operators.Multimodal.writeGifHashBandIndex(
          gifs.filter(standingPred), "gif", "doc_id", path)
        graft.operators.Dedup.deleteFromHashBandIndex(s, path,
          gifs.filter(standingPred).filter(col("doc_id") % 50 < 5)
            .select("doc_id"), "doc_id")
        // grow from the ARTIFACT's own (id, pos, hash) rows
        // (tombstones applied) + the new batch's decoded frames — the
        // standing animations are never re-decoded
        graft.operators.Multimodal.rebuildGifHashBandIndex(s, path,
          gifs.filter(growPred), "gif", "doc_id")
        // the reference: a fresh build over (standing minus deleted) ∪ growth
        graft.operators.Multimodal.writeGifHashBandIndex(
          gifs.filter(expr(
            "doc_id % 50 >= 5 AND doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")),
          "gif", "doc_id", freshPath,
          metricName = "graft_gif_index_write_cap_fresh")
        val batch = gifs.filter(!standingPred && !growPred)
        def probe(p: String, stage: String) = graft.operators.Multimodal
          .gifNearDupFilterAgainst(batch, "gif", "doc_id",
            graft.operators.Multimodal.readGifHashBandIndex(s, p))
          .select(col("doc_id")).withColumn("stage", lit(stage))
        probe(path, "grown").unionByName(probe(freshPath, "fresh"))
          .select("stage", "doc_id")
          .orderBy("stage", "doc_id")
      }),

    // Row-trace ORACLE PIN for the BATCH facade (CorpusPrep.prepTrace)
    // — the q140 device applied to run()'s in-corpus chain, so two of
    // the three trace facades now carry CORRECTNESS rows. The fixture
    // engineers every batch route: exact twins (+1e6, same text ->
    // 'exact', evidence = the min-id digest holder), near-dups (+3e6,
    // three appended tokens -> jaccard (L-2)/(L+1) >= 0.8 iff >= 14
    // tokens, so both dropped and kept outcomes occur; evidence = the
    // IN-CORPUS cluster survivor, which run()'s min-id rule makes the
    // cluster label itself), the benchmark-containment decontam tier
    // (docs < 3 are both corpus members and the benchmark -> they
    // decontaminate themselves when they survive dedup), the 0.85
    // sample draw, gate fodder (short + null text), and absent ids.
    // The DuckDB replay is q131's end-to-end chain plus the stage
    // CASE: first-drop precedence, per-stage evidence ids extracted
    // from the free-text detail (the replayable slice — the prose
    // stays out of the hash).
    QueryDef("q144_trace_batch", Some(raw"""
      WITH RECURSIVE
      eng AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0 AND doc_id < 40
        UNION ALL
        SELECT doc_id + 3000000, text || ' zq zr zs' FROM documents WHERE doc_id % 4 = 2 AND doc_id < 40
        UNION ALL
        SELECT 4000000, 'xy'
        UNION ALL
        SELECT 4000001, CAST(NULL AS VARCHAR)),
      tr AS MATERIALIZED (
        SELECT doc_id FROM documents WHERE doc_id % 4 = 0 AND doc_id < 200
        UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 4 = 0 AND doc_id < 40
        UNION ALL SELECT doc_id + 3000000 FROM documents WHERE doc_id % 4 = 2 AND doc_id < 40
        UNION ALL SELECT unnest([4000000, 4000001, 5000000, 5000001])),
      cleaned AS MATERIALIZED (SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM eng),
      toked AS MATERIALIZED (SELECT doc_id, ct,
          list_filter(string_split(ct, ' '), x -> x <> '') AS tk FROM cleaned),
      gated AS MATERIALIZED (SELECT * FROM toked
        WHERE length(ct) BETWEEN 20 AND 1000000 AND len(tk) > 0
          AND 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.9),
      dig AS MATERIALIZED (SELECT doc_id, md5(ct) AS dg FROM gated),
      dmin AS MATERIALIZED (SELECT dg, min(doc_id) AS surv FROM dig GROUP BY dg),
      twin AS MATERIALIZED (SELECT d.doc_id, m.surv FROM dig d
        JOIN dmin m USING (dg) WHERE d.doc_id <> m.surv),
      exact AS MATERIALIZED (SELECT g.* FROM gated g
        JOIN dmin m ON m.surv = g.doc_id),
      shdoc AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM exact),
      sig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM shdoc WHERE len(shs) > 0),
      bands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM sig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM sig),
      cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
      ver AS MATERIALIZED (SELECT c.id_a, c.id_b
              FROM cands c JOIN shdoc sa ON sa.doc_id = c.id_a
                           JOIN shdoc sb ON sb.doc_id = c.id_b
              WHERE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                    / (len(sa.shs) + len(sb.shs) - len(list_intersect(sa.shs, sb.shs))) >= 0.8),
      edges AS (SELECT id_a AS s, id_b AS d FROM ver UNION SELECT id_b, id_a FROM ver),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      nd AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN clus c ON c.id = e.doc_id
             WHERE c.id IS NULL OR e.doc_id = c.cluster),
      bsh AS (SELECT doc_id AS bench_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM toked WHERE doc_id < 3),
      bexp AS (SELECT bench_id, len(shs) AS bn, unnest(shs) AS sh FROM bsh WHERE len(shs) > 0),
      cexp AS (SELECT n.doc_id,
          unnest(list_distinct(list_transform(generate_series(1, greatest(len(n.tk) - 2, 0)),
            k -> array_to_string(n.tk[k:k+2], ' ')))) AS sh
        FROM nd n),
      cont AS MATERIALIZED (SELECT DISTINCT doc_id FROM (
          SELECT c.doc_id, b.bench_id, b.bn, count(*) AS shared
          FROM cexp c JOIN bexp b USING (sh)
          GROUP BY c.doc_id, b.bench_id, b.bn)
        WHERE CAST(shared AS DOUBLE) / bn >= 0.8),
      decon AS MATERIALIZED (SELECT doc_id FROM nd
        WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      sampled AS MATERIALIZED (SELECT doc_id FROM decon
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'corpusprep'), 1, 8))::UBIGINT
              / 4294967296.0 < 0.85)
      SELECT t.doc_id,
        CASE
          WHEN b.doc_id IS NULL THEN 'absent'
          WHEN g.doc_id IS NULL THEN 'gated'
          WHEN tw.doc_id IS NOT NULL THEN 'exact'
          WHEN ndre.doc_id IS NOT NULL THEN 'neardup'
          WHEN ct.doc_id IS NOT NULL THEN 'decontam'
          WHEN sm.doc_id IS NULL THEN 'sampled'
          ELSE 'kept' END AS stage,
        CASE
          WHEN tw.doc_id IS NOT NULL THEN tw.surv
          WHEN ndre.doc_id IS NOT NULL THEN ndre.ev END AS evidence
      FROM tr t
      LEFT JOIN (SELECT DISTINCT doc_id FROM eng) b USING (doc_id)
      LEFT JOIN (SELECT doc_id FROM gated) g USING (doc_id)
      LEFT JOIN twin tw USING (doc_id)
      LEFT JOIN (SELECT id AS doc_id, cluster AS ev FROM clus
                 WHERE id <> cluster) ndre USING (doc_id)
      LEFT JOIN cont ct USING (doc_id)
      LEFT JOIN sampled sm USING (doc_id)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val docs = t(s, dir, "documents")
        val eng = docs.select("doc_id", "text")
          .unionByName(docs
            .filter(col("doc_id") % 4 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 2 && col("doc_id") < 40)
            .select((col("doc_id") + 3000000L).as("doc_id"),
              concat(col("text"), lit(" zq zr zs")).as("text")))
          .unionByName {
            import s.implicits._
            Seq((4000000L, "xy"), (4000001L, null.asInstanceOf[String]))
              .toDF("doc_id", "text")
          }
        val ids = docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 200)
          .select("doc_id")
          .unionByName(docs
            .filter(col("doc_id") % 4 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 1000000L).as("doc_id")))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 2 && col("doc_id") < 40)
            .select((col("doc_id") + 3000000L).as("doc_id")))
          .unionByName {
            import s.implicits._
            Seq(4000000L, 4000001L, 5000000L, 5000001L).toDF("doc_id")
          }
        graft.operators.CorpusPrep.prepTrace(eng, ids,
            cfg = graft.operators.CorpusPrep.Config(
              benchmark = Some(docs.filter(col("doc_id") < 3)),
              minContainment = 0.8,
              sampleRate = Some(lit(0.85))))
          .withColumn("evidence", {
            val e = regexp_extract(col("detail"),
              "(?:doc |survivor: )(\\d+)", 1)
            when(e === "", lit(null)).otherwise(e).cast("bigint")
          })
          .select(col("doc_id"), col("stage"), col("evidence"))
          .orderBy("doc_id")
      }),

    // Row-trace ORACLE PIN for the STREAM facade
    // (CorpusPrep.prepTraceStream) — the trace TRIO is now fully
    // oracle-pinned. The stream trace is deterministic even where the
    // LIVE stream is not: its within-batch digest tier reports the
    // min-id stand-in BY DOCUMENTED CONTRACT (live intake keeps the
    // first arrival; content identical either way), so the replay
    // pins exactly what the trace promises — including that honesty
    // device. Chain: row-local gates -> in-batch min-id digest tier
    // (evidence = the stand-in twin) -> standing-digest tier (static
    // detail) -> standing near-dup probe (evidence = best-jaccard
    // standing doc, ties to min id — the shared min_by rule) -> the
    // sample draw. No clustering and no taint rule here (streams
    // probe, they don't cluster), so the replay is a plain banded
    // candidate join + verify — the simplest of the three traces.
    QueryDef("q145_trace_stream", Some(raw"""
      WITH
      eng AS MATERIALIZED (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0 AND doc_id < 40
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 4 = 1 AND doc_id < 40
        UNION ALL
        SELECT doc_id + 3000000, text || ' zq zr zs' FROM documents WHERE doc_id % 4 = 2 AND doc_id < 40
        UNION ALL
        SELECT 4000000, 'xy'
        UNION ALL
        SELECT 4000001, CAST(NULL AS VARCHAR)),
      tr AS MATERIALIZED (
        SELECT doc_id FROM documents WHERE doc_id % 4 = 0 AND doc_id < 200
        UNION ALL SELECT doc_id FROM eng WHERE doc_id >= 1000000
        UNION ALL SELECT doc_id FROM documents WHERE doc_id % 4 = 3 AND doc_id < 40),
      cb AS MATERIALIZED (SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM eng),
      cs AS MATERIALIZED (SELECT doc_id,
          trim(regexp_replace(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^ ]+', '<URL>', 'g'), '\s+', ' ', 'g')) AS ct
        FROM documents WHERE doc_id % 4 <> 0),
      tb AS MATERIALIZED (SELECT doc_id, ct,
          list_filter(string_split(ct, ' '), x -> x <> '') AS tk FROM cb),
      gated AS MATERIALIZED (SELECT doc_id, ct, tk FROM tb
        WHERE length(ct) BETWEEN 20 AND 1000000 AND len(tk) > 0
          AND 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.9),
      sdig AS MATERIALIZED (SELECT DISTINCT md5(ct) AS dg FROM cs WHERE ct IS NOT NULL),
      gdig AS MATERIALIZED (SELECT doc_id, md5(ct) AS dg FROM gated),
      dmin AS MATERIALIZED (SELECT dg, min(doc_id) AS surv FROM gdig GROUP BY dg),
      twin AS MATERIALIZED (SELECT g.doc_id, m.surv FROM gdig g
        JOIN dmin m USING (dg) WHERE g.doc_id <> m.surv),
      intra AS MATERIALIZED (SELECT g.doc_id, g.dg FROM gdig g
        JOIN dmin m ON m.surv = g.doc_id),
      exstand AS MATERIALIZED (SELECT doc_id FROM intra
        WHERE dg IN (SELECT dg FROM sdig)),
      afterex AS MATERIALIZED (SELECT doc_id FROM intra
        WHERE doc_id NOT IN (SELECT doc_id FROM exstand)),
      gsh AS MATERIALIZED (SELECT g.doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(g.tk) - 2, 0)),
            k -> array_to_string(g.tk[k:k+2], ' '))) AS shs
        FROM gated g JOIN afterex USING (doc_id)),
      ssh AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 0)),
            k -> array_to_string(tk[k:k+2], ' '))) AS shs
        FROM (SELECT doc_id, list_filter(string_split(ct, ' '), x -> x <> '') AS tk
              FROM cs WHERE ct IS NOT NULL)),
      gsig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM gsh WHERE len(shs) > 0),
      ssig AS (SELECT doc_id,
                list_min(list_transform(shs, s -> md5('0#' || s))) AS h0,
                list_min(list_transform(shs, s -> md5('1#' || s))) AS h1,
                list_min(list_transform(shs, s -> md5('2#' || s))) AS h2,
                list_min(list_transform(shs, s -> md5('3#' || s))) AS h3
              FROM ssh WHERE len(shs) > 0),
      gbands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM gsig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM gsig),
      sbands AS MATERIALIZED (SELECT doc_id, md5(h0 || '|' || h1) AS band FROM ssig
                UNION ALL SELECT doc_id, md5(h2 || '|' || h3) AS band FROM ssig),
      nearev AS MATERIALIZED (
        SELECT doc_id, sid FROM (
          SELECT p.doc_id, p.sid,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY p.j DESC, p.sid) AS rn
          FROM (SELECT e.doc_id, e.sid,
                  CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) /
                  (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) AS j
                FROM (SELECT DISTINCT gb.doc_id, sb.doc_id AS sid
                      FROM gbands gb JOIN sbands sb ON gb.band = sb.band) e
                JOIN gsh a ON a.doc_id = e.doc_id
                JOIN ssh b ON b.doc_id = e.sid) p
          WHERE p.j >= 0.8)
        WHERE rn = 1),
      survnd AS MATERIALIZED (SELECT doc_id FROM afterex
        WHERE doc_id NOT IN (SELECT doc_id FROM nearev)),
      sampled AS MATERIALIZED (SELECT doc_id FROM survnd
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'corpusprep'), 1, 8))::UBIGINT
              / 4294967296.0 < 0.7)
      SELECT t.doc_id,
        CASE
          WHEN b.doc_id IS NULL THEN 'absent'
          WHEN g.doc_id IS NULL THEN 'gated'
          WHEN tw.doc_id IS NOT NULL THEN 'exact'
          WHEN es.doc_id IS NOT NULL THEN 'exact_standing'
          WHEN ne.doc_id IS NOT NULL THEN 'neardup'
          WHEN sm.doc_id IS NULL THEN 'sampled'
          ELSE 'kept' END AS stage,
        CASE
          WHEN tw.doc_id IS NOT NULL THEN tw.surv
          WHEN es.doc_id IS NOT NULL THEN NULL
          WHEN ne.doc_id IS NOT NULL THEN ne.sid END AS evidence
      FROM tr t
      LEFT JOIN (SELECT DISTINCT doc_id FROM eng) b USING (doc_id)
      LEFT JOIN (SELECT doc_id FROM gated) g USING (doc_id)
      LEFT JOIN twin tw USING (doc_id)
      LEFT JOIN exstand es USING (doc_id)
      LEFT JOIN nearev ne USING (doc_id)
      LEFT JOIN sampled sm USING (doc_id)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val docs = t(s, dir, "documents")
        val standing = docs.filter(col("doc_id") % 4 =!= 0)
          .withColumn("clean_text",
            graft.operators.TextNorm.clean(col("text")))
          .select("doc_id", "clean_text")
        val batch = docs.filter(col("doc_id") % 4 === 0)
          .select("doc_id", "text")
          .unionByName(docs
            .filter(col("doc_id") % 4 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 1 && col("doc_id") < 40)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 2 && col("doc_id") < 40)
            .select((col("doc_id") + 3000000L).as("doc_id"),
              concat(col("text"), lit(" zq zr zs")).as("text")))
          .unionByName {
            import s.implicits._
            Seq((4000000L, "xy"), (4000001L, null.asInstanceOf[String]))
              .toDF("doc_id", "text")
          }
        val ids = docs.filter(col("doc_id") % 4 === 0 && col("doc_id") < 200)
          .select("doc_id")
          .unionByName(batch.filter(col("doc_id") >= 1000000L).select("doc_id"))
          .unionByName(docs
            .filter(col("doc_id") % 4 === 3 && col("doc_id") < 40)
            .select("doc_id"))
        graft.operators.CorpusPrep.prepTraceStream(batch, ids, "text",
            cfg = graft.operators.CorpusPrep.Config(
              sampleRate = Some(lit(0.7))),
            standing = Some(standing))
          .withColumn("evidence", {
            val e = regexp_extract(col("detail"),
              "(?:doc |survivor: )(\\d+)", 1)
            when(e === "", lit(null)).otherwise(e).cast("bigint")
          })
          .select(col("doc_id"), col("stage"), col("evidence"))
          .orderBy("doc_id")
      }),

    // Incremental GIF tier THROUGH THE PERSISTED INDEX (q142's run()
    // composition pin, now for runIncremental + the fourth family):
    // the standing animations are written ONCE with
    // writeGifHashBandIndex, the facade probes
    // readGifHashBandIndex's frame, and the oracle replays the
    // whole taint-rule fold arithmetically — in-batch positional
    // clusters (CC over pairs), standing hits, a cluster with ANY
    // hit member dropping WHOLE, untainted clusters collapsing to
    // the min id. The fixture engineers every route with a SECOND
    // alt variant (alt2 flips dHash bits 2/3 where alt1 flips 0/1):
    // bases 0-9 = the PURE-TAINT group (a plain batch doc hits the
    // alt1 standing; its alt2 cluster-mate is up to 4 bits from
    // standing — it drops through the taint rule even when it never
    // hits the index itself), bases 10-19 = singleton standing hits
    // (no cluster), bases 20-29 = a 3-member untainted cluster (min
    // id survives, mates drop), bases 30-39 = clean singletons
    // (kept). Texts are md5-salted unique tokens, so every TEXT tier
    // is provably pass-through in both engines and the gif tier is
    // the only dropper. Batch decodes follow the batch; the standing
    // corpus decodes exactly once, at the index write.
    QueryDef("q146_prep_gif_incremental", Some("""
      WITH RECURSIVE
      bd AS (
        SELECT 2000 + b AS doc_id, b AS base, 0 AS alt FROM range(0, 10) t(b)
        UNION ALL SELECT 2100 + b, b, 2 FROM range(0, 10) t(b)
        UNION ALL SELECT 2200 + b, b, 0 FROM range(10, 20) t(b)
        UNION ALL SELECT 2300 + b, b, 0 FROM range(20, 30) t(b)
        UNION ALL SELECT 2400 + b, b, 1 FROM range(20, 30) t(b)
        UNION ALL SELECT 2500 + b, b, 2 FROM range(20, 30) t(b)
        UNION ALL SELECT 2600 + b, b, 0 FROM range(30, 40) t(b)),
      sd AS (SELECT 1000 + b AS doc_id, b AS base, 1 AS alt FROM range(0, 20) t(b)),
      allg AS (SELECT * FROM bd UNION ALL SELECT * FROM sd),
      px AS (SELECT a.doc_id, f.f, y.y, x.x,
               CASE WHEN a.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN a.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    WHEN a.alt = 2 AND y.y = 0 AND x.x = 2 THEN 255
                    WHEN a.alt = 2 AND y.y = 0 AND x.x = 3 THEN 0
                    ELSE ('0x' || substr(md5(CAST(a.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM allg a
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS MATERIALIZED (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      bh AS (SELECT h.* FROM h JOIN bd USING (doc_id)),
      sh AS (SELECT h.* FROM h JOIN sd USING (doc_id)),
      pr AS MATERIALIZED (
        SELECT a.doc_id AS pa, b.doc_id AS pb
        FROM bh a JOIN bh b ON a.doc_id < b.doc_id AND a.f = b.f
          AND bit_count(xor(a.h, b.h)) <= 3
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3),
      hits AS MATERIALIZED (
        SELECT b.doc_id FROM (
          SELECT DISTINCT bb.doc_id, bb.f
          FROM bh bb JOIN sh ss ON ss.f = bb.f
            AND bit_count(xor(bb.h, ss.h)) <= 3) b
        GROUP BY b.doc_id HAVING count(*) >= 3),
      edges AS (SELECT pa AS s, pb AS d FROM pr UNION SELECT pb, pa FROM pr),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      tainted AS (SELECT DISTINCT c.cluster FROM clus c
                  JOIN hits ON c.id = hits.doc_id),
      drops AS (
        SELECT doc_id FROM hits
        UNION SELECT id FROM clus WHERE cluster IN (SELECT cluster FROM tainted)
        UNION SELECT id FROM clus
          WHERE cluster NOT IN (SELECT cluster FROM tainted) AND id <> cluster)
      SELECT doc_id FROM bd
      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        // role table mirrored from the oracle's bd/sd arithmetic
        val standingIds = (0 until 20).map(b => (1000L + b, b.toLong, 1))
        val batchIds =
          (0 until 10).map(b => (2000L + b, b.toLong, 0)) ++
          (0 until 10).map(b => (2100L + b, b.toLong, 2)) ++
          (10 until 20).map(b => (2200L + b, b.toLong, 0)) ++
          (20 until 30).map(b => (2300L + b, b.toLong, 0)) ++
          (20 until 30).map(b => (2400L + b, b.toLong, 1)) ++
          (20 until 30).map(b => (2500L + b, b.toLong, 2)) ++
          (30 until 40).map(b => (2600L + b, b.toLong, 0))
        val mkGif = udf { (base: Long, alt: Int) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt == 1 && y == 0 && x == 0) 255
              else if (alt == 1 && y == 0 && x == 1) 0
              else if (alt == 2 && y == 0 && x == 2) 255
              else if (alt == 2 && y == 0 && x == 3) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
        }
        // md5-salted unique token texts: every text tier provably
        // pass-through (no shared shingles, no shared digests)
        val mkText = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          (1 to 7).map { k =>
            "u" + md.digest(s"$docId:$k".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
          }.mkString(" ")
        }
        val standingAnims = standingIds.toDF("doc_id", "base", "alt")
          .select(col("doc_id"), mkGif(col("base"), col("alt")).as("gif"))
        val standing = standingAnims
          .select(col("doc_id"),
            graft.operators.TextNorm.clean(mkText(col("doc_id")))
              .as("clean_text"))
        val batch = batchIds.toDF("doc_id", "base", "alt")
          .select(col("doc_id"), mkText(col("doc_id")).as("text"),
            mkGif(col("base"), col("alt")).as("gif"))
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_gif_inc_").toFile.getAbsolutePath
        graft.operators.Multimodal.writeGifHashBandIndex(
          standingAnims, "gif", "doc_id", s"$idxDir/idx")
        graft.operators.CorpusPrep.runIncremental(standing, batch,
            cfg = graft.operators.CorpusPrep.Config(gifCol = Some("gif")),
            gifIndex = Some(graft.operators.Multimodal
              .readGifHashBandIndex(s, s"$idxDir/idx")))
          .select("doc_id").orderBy("doc_id")
      }),

    // Index STATS + compact-now POLICY, numerically oracle-pinned
    // (hashBandIndexStats -> healthOf -> shouldCompact): the health
    // stack's arithmetic replays in DuckDB from first principles —
    // md5-derived 64-bit signatures (first 8 md5 bytes, big-endian —
    // '0x'||substr(md5,1,16) on the DuckDB side; band arithmetic is
    // unsigned on both), a deliberately HOT hash (every doc_id%10==7
    // shares it) tripping the all-or-nothing cap at maxBucket=25 so
    // cap_dropped_bands and the capped row census are exercised, a
    // 20% delete tripping the tombstoned-fraction signal, and the
    // compaction clearing it. Two stages in one row set: 'deleted'
    // (tombstones pending, policy fires) and 'compacted' (rows left
    // materially, policy quiet; meta's ndocs/cap_dropped_bands
    // deliberately survive compaction unchanged — build-time
    // records). Physical stats (files/bytes) stay out of the hash.
    QueryDef("q147_index_health", Some("""
      WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 300),
      hs AS (SELECT doc_id, CASE WHEN doc_id % 10 = 7
               THEN ('0x' || substr(md5('hot'), 1, 16))::UBIGINT
               ELSE ('0x' || substr(md5('hsig:' || CAST(doc_id AS VARCHAR)), 1, 16))::UBIGINT END AS h
             FROM d),
      bands AS (SELECT doc_id, k.k, (h >> (16 * k.k)) & 65535 AS band
                FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k),
      cnt AS (SELECT k, band, count(*) AS n FROM bands GROUP BY k, band),
      kept AS (SELECT b.* FROM bands b
               JOIN cnt c ON b.k = c.k AND b.band = c.band AND c.n <= 25),
      del AS (SELECT doc_id FROM d WHERE doc_id % 5 = 0),
      s1 AS (SELECT
               count(*) AS rows,
               (SELECT count(*) FROM cnt WHERE n <= 25) AS bands,
               (SELECT count(*) FROM del) AS tomb_ids,
               count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM del)) AS tomb_rows
             FROM kept),
      s2 AS (SELECT
               (SELECT count(*) FROM kept
                WHERE doc_id NOT IN (SELECT doc_id FROM del)) AS rows,
               (SELECT count(*) FROM (
                  SELECT DISTINCT k, band FROM kept
                  WHERE doc_id NOT IN (SELECT doc_id FROM del))) AS bands,
               0 AS tomb_ids, 0 AS tomb_rows),
      meta AS (SELECT
                 (SELECT count(*) FROM d) AS ndocs,
                 (SELECT count(*) FROM cnt WHERE n > 25) AS cap_dropped)
      SELECT stage, CAST(rows AS BIGINT) AS rows, CAST(bands AS BIGINT) AS bands,
             CAST(tomb_ids AS BIGINT) AS tomb_ids,
             CAST(tomb_rows AS BIGINT) AS tomb_rows,
             CAST(m.ndocs AS BIGINT) AS ndocs,
             CAST(m.cap_dropped AS BIGINT) AS cap_dropped_bands,
             CAST(tomb_rows AS DOUBLE) / rows > 0.1 AS should_compact,
             CAST(CASE WHEN CAST(tomb_rows AS DOUBLE) / rows > 0.1
               THEN 1 ELSE 0 END AS BIGINT) AS n_reasons
      FROM (SELECT 'deleted' AS stage, * FROM s1
            UNION ALL SELECT 'compacted', * FROM s2) u
      CROSS JOIN meta m
      ORDER BY stage"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val mkH = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val key = if (docId % 10 == 7) "hot" else s"hsig:$docId"
          java.nio.ByteBuffer.wrap(md.digest(key.getBytes("UTF-8"))).getLong
        }
        val sig = t(s, dir, "documents").filter(col("doc_id") < 300)
          .select(col("doc_id"), mkH(col("doc_id")).as("h"))
        val path = java.nio.file.Files
          .createTempDirectory("graft_health_").toFile.getAbsolutePath + "/idx"
        graft.operators.Dedup.writeHashBandIndex(sig, "h", "doc_id", path,
          maxBucket = 25)
        graft.operators.Dedup.deleteFromHashBandIndex(s, path,
          sig.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
        def leg(stage: String) = {
          val st = graft.operators.Dedup.hashBandIndexStats(s, path)
          val adv = graft.operators.IndexMaintenance.shouldCompact(
            graft.operators.IndexMaintenance.healthOf(st))
          (stage, st.rows, st.bands, st.tombstonedIds, st.tombstonedRows,
            st.ndocs, st.capDroppedBands, adv.compact, adv.reasons.length.toLong)
        }
        val l1 = leg("deleted")
        graft.operators.Dedup.compactHashBandIndex(s, path)
        val l2 = leg("compacted")
        Seq(l1, l2).toDF("stage", "rows", "bands", "tomb_ids", "tomb_rows",
            "ndocs", "cap_dropped_bands", "should_compact", "n_reasons")
          .orderBy("stage")
      }),

    // BOUNDED alignment tolerance for animations (gifNearDupPairs
    // maxShift = 1) — the q141 arithmetic device extended with a
    // TIME-SHIFTED variant: 30 bases x 6 docs; variant 1 ((doc_id //
    // 30) % 3 = 1) renders frame f with the BASE formula at f+1 — the
    // trimmed-intro re-cut, every sampled frame one position later.
    // Variants 0 and 2 are identical 4-frame animations. At
    // maxShift = 1 a re-cut matches 3 of 4 positions one step apart
    // (n_matched counts the LEAST of each side's distinct matched
    // positions — a covered position, not a frame-pair count) and
    // identical twins still count all 4; the oracle replays frame
    // dHashes from the md5 gray formula and the |fa - fb| <= 1
    // tolerance from first principles, so the hash match pins the
    // shifted candidate generation, the per-side distinct-position
    // counting AND that shift never relaxes the hamming rule. Every
    // animation samples 4 >= minFrameMatches frames, so the
    // threshold is the standard 3.
    QueryDef("q148_gif_shifted_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 30 AS base,
                   CASE WHEN (doc_id // 30) % 3 = 1 THEN 1 ELSE 0 END AS sh
                 FROM documents WHERE doc_id < 180),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f + d.sh AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      m AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
                   a.f AS fa, b.f AS fb
            FROM h a JOIN h b ON a.doc_id < b.doc_id
              AND abs(a.f - b.f) <= 1
              AND bit_count(xor(a.h, b.h)) <= 3),
      pr AS (SELECT ia, ib,
               least(count(DISTINCT fa), count(DISTINCT fb)) AS nm
             FROM m GROUP BY ia, ib)
      SELECT ia AS id_a, ib AS id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 30
          val sh = if ((docId / 30) % 3 == 1) 1 else 0
          val frames = (0 until 4).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:${f + sh}:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
        }
        val gifs = t(s, dir, "documents").filter(col("doc_id") < 180)
          .select(col("doc_id"), mk(col("doc_id")).as("gif"))
        graft.operators.Multimodal.gifNearDupPairs(gifs, "gif", "doc_id",
            metricName = "graft_q148_shift_cap", maxShift = 1)
          .orderBy("id_a", "id_b")
      }),

    // MIXED-CONTAINER near-dup — the FrameDecoder seam pinned across
    // TWO real containers: the q141 device verbatim, but docs < 100
    // encode their frames as animated GIF and docs >= 100 as
    // uncompressed BI_RGB AVI (both losslessly, so the same md5 gray
    // formula IS the decoded pixel in both), decoded through
    // FrameDecoders.firstOf(Gif, Avi). The oracle is q141's
    // arithmetic unchanged and CONTAINER-FREE — a hash match pins
    // that above the seam the containers are indistinguishable:
    // identical animations pair across containers (base groups span
    // the doc_id=100 boundary), near-dup variants pair across and
    // within, and the AVI RIFF walk + bottom-up DIB decode is
    // bit-exact with the GIF path.
    QueryDef("q149_mixed_container_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt
                 FROM documents WHERE doc_id < 200),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt && y == 0 && x == 0) 255
              else if (alt && y == 0 && x == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          if (docId < 100)
            graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
          else
            graft.operators.Multimodal.syntheticGrayAvi(9, 8, frames)
        }
        val vids = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), mk(col("doc_id")).as("v"))
        graft.operators.Multimodal.gifNearDupPairs(vids, "v", "doc_id",
            metricName = "graft_q149_mixed_cap",
            decoder = graft.operators.Multimodal.FrameDecoders.firstOf(
              graft.operators.Multimodal.GifFrameDecoder,
              graft.operators.Multimodal.AviFrameDecoder))
          .orderBy("id_a", "id_b")
      }),

    // SEGMENTED audio near-dup with bounded shift
    // (Multimodal.audioNearDupPairsSegmented maxShift = 1) — the
    // q148 time-shift device transposed to the audio modality: 30
    // bases x 6 docs, each doc a 4-segment mono WAV (520 frames per
    // segment = 65 windows x 8 samples) whose window amplitude is
    // md5-derived per (base, segment, window); variant 1 ((doc_id //
    // 30) % 3 = 1) renders segment s with the BASE formula at s+1 —
    // the trimmed-intro re-cut, every segment one position earlier.
    // Spark runs WAV-encode -> JDK decode -> per-SEGMENT 65-window
    // energy envelope -> sign-of-delta fingerprints -> the SHARED
    // positional banded search at maxShift = 1, while DuckDB replays
    // the amplitude grid, the per-segment bit formula and the
    // |sa - sb| <= 1 tolerance from first principles (window energy
    // is monotone in the amplitude and the per-window double sums
    // are exact — q128's determinism argument, per segment). Twins
    // match all 4 positions, re-cuts match 3 one step apart
    // (n_matched = the LEAST of each side's distinct matched
    // positions); a hash match pins segmentation, the per-segment
    // envelope math, the shifted candidate generation and that shift
    // never relaxes the hamming rule — through the SAME positional
    // core the GIF tier rides (q141/q148 pin its other caller).
    QueryDef("q150_audio_shifted_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 30 AS base,
                   CASE WHEN (doc_id // 30) % 3 = 1 THEN 1 ELSE 0 END AS sh
                 FROM documents WHERE doc_id < 180),
      amp AS (SELECT d.doc_id, s.s, w.w,
                ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(s.s + d.sh AS VARCHAR) || ':' || CAST(w.w AS VARCHAR)), 1, 2))::INT AS a
              FROM d
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
                CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) w),
      h AS (SELECT a1.doc_id, a1.s,
              bit_or(CASE WHEN a2.a > a1.a THEN (1::UBIGINT << a1.w) ELSE 0::UBIGINT END) AS h
            FROM amp a1 JOIN amp a2 ON a2.doc_id = a1.doc_id AND a2.s = a1.s
              AND a2.w = a1.w + 1
            GROUP BY a1.doc_id, a1.s),
      m AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
                   a.s AS sa, b.s AS sb
            FROM h a JOIN h b ON a.doc_id < b.doc_id
              AND abs(a.s - b.s) <= 1
              AND bit_count(xor(a.h, b.h)) <= 3),
      pr AS (SELECT ia, ib,
               least(count(DISTINCT sa), count(DISTINCT sb)) AS nm
             FROM m GROUP BY ia, ib)
      SELECT ia AS id_a, ib AS id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 30
          val sh = if ((docId / 30) % 3 == 1) 1 else 0
          val samples = new Array[Short](4 * 520)
          var seg = 0
          while (seg < 4) {
            var w = 0
            while (w < 65) {
              val a = java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:${seg + sh}:$w".getBytes("UTF-8"))(0))
              val m = a * 77 // < 32768 — window-constant magnitude
              var j = 0
              while (j < 8) {
                val gi = seg * 520 + w * 8 + j
                samples(gi) = (if (gi % 2 == 0) m else -m).toShort
                j += 1
              }
              w += 1
            }
            seg += 1
          }
          graft.operators.Multimodal.syntheticPcmWav(samples)
        }
        val clips = t(s, dir, "documents").filter(col("doc_id") < 180)
          .select(col("doc_id"), mk(col("doc_id")).as("aud"))
        graft.operators.Multimodal.audioNearDupPairsSegmented(clips,
            "aud", "doc_id", segmentFrames = 520L, maxSegments = 4,
            metricName = "graft_q150_shift_cap", maxShift = 1)
          .orderBy("id_a", "id_b")
      }),

    // MIXED-CONTAINER audio near-dup — the PcmDecoder seam pinned
    // across TWO real containers (q149's argument, audio edition):
    // the q150 device without the shift, but docs < 100 encode their
    // samples as mono 16-bit WAV (JDK-decoded) and docs >= 100 as
    // big-endian LPCM CAF (CafPcmDecoder — a container the JDK does
    // not read), decoded through PcmDecoders.firstOf. Both writers
    // are lossless, so the md5 amplitude grid IS the decoded signal
    // in both and the oracle is CONTAINER-FREE by construction: a
    // hash match pins that above the seam the containers are
    // indistinguishable — identical clips pair across containers
    // (base groups span the doc_id=100 boundary), the alt variants
    // (windows 0/1 of every segment perturbed) pair within and
    // across, and the CAF chunk walk + big-endian sample decode is
    // bit-exact with the JDK WAV path.
    QueryDef("q151_mixed_audio_container", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt
                 FROM documents WHERE doc_id < 200),
      amp AS (SELECT d.doc_id, s.s, w.w,
                CASE WHEN d.alt = 1 AND w.w = 0 THEN 255
                     WHEN d.alt = 1 AND w.w = 1 THEN 0
                     ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(s.s AS VARCHAR) || ':' || CAST(w.w AS VARCHAR)), 1, 2))::INT END AS a
              FROM d
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
                CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) w),
      h AS (SELECT a1.doc_id, a1.s,
              bit_or(CASE WHEN a2.a > a1.a THEN (1::UBIGINT << a1.w) ELSE 0::UBIGINT END) AS h
            FROM amp a1 JOIN amp a2 ON a2.doc_id = a1.doc_id AND a2.s = a1.s
              AND a2.w = a1.w + 1
            GROUP BY a1.doc_id, a1.s),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.s = b.s
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val samples = new Array[Short](4 * 520)
          var seg = 0
          while (seg < 4) {
            var w = 0
            while (w < 65) {
              val a =
                if (alt && w == 0) 255
                else if (alt && w == 1) 0
                else java.lang.Byte.toUnsignedInt(
                  md.digest(s"$base:$seg:$w".getBytes("UTF-8"))(0))
              val m = a * 77
              var j = 0
              while (j < 8) {
                val gi = seg * 520 + w * 8 + j
                samples(gi) = (if (gi % 2 == 0) m else -m).toShort
                j += 1
              }
              w += 1
            }
            seg += 1
          }
          if (docId < 100)
            graft.operators.Multimodal.syntheticPcmWav(samples)
          else
            graft.operators.Multimodal.syntheticPcmCaf(samples)
        }
        val clips = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), mk(col("doc_id")).as("aud"))
        graft.operators.Multimodal.audioNearDupPairsSegmented(clips,
            "aud", "doc_id", segmentFrames = 520L, maxSegments = 4,
            metricName = "graft_q151_mixed_cap",
            decoder = graft.operators.Multimodal.PcmDecoders.firstOf(
              graft.operators.Multimodal.JdkPcmDecoder,
              graft.operators.Multimodal.CafPcmDecoder))
          .orderBy("id_a", "id_b")
      }),

    // THREE-container video near-dup — q149 widened to the full
    // decoder fleet: the same md5 gray formula, but docs < 80 encode
    // as animated GIF, 80-159 as BI_RGB AVI, and >= 160 as MONO
    // YUV4MPEG2 (Y4mFrameDecoder — raw-video interchange, unreadable
    // by ImageIO; Cmono makes the Y plane the gray grid exactly, so
    // the oracle stays container-free), decoded through
    // FrameDecoders.firstOf of all three. Base groups (doc_id % 60)
    // span every container boundary and the alt variants perturb
    // windows (0,0)/(0,1) of every frame — a hash match pins that
    // one animation in three containers is ONE animation to the
    // tier, and that the y4m header walk + planar mono read is
    // bit-exact with the GIF compositor and the AVI DIB walk.
    QueryDef("q152_three_container_video", Some("""
      WITH d AS (SELECT doc_id, doc_id % 60 AS base, (doc_id // 60) % 2 AS alt
                 FROM documents WHERE doc_id < 240),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 60
          val alt = (docId / 60) % 2 == 1
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt && y == 0 && x == 0) 255
              else if (alt && y == 0 && x == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          if (docId < 80)
            graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
          else if (docId < 160)
            graft.operators.Multimodal.syntheticGrayAvi(9, 8, frames)
          else
            graft.operators.Multimodal.syntheticGrayY4m(9, 8, frames)
        }
        val vids = t(s, dir, "documents").filter(col("doc_id") < 240)
          .select(col("doc_id"), mk(col("doc_id")).as("v"))
        graft.operators.Multimodal.gifNearDupPairs(vids, "v", "doc_id",
            metricName = "graft_q152_three_cap",
            decoder = graft.operators.Multimodal.FrameDecoders.firstOf(
              graft.operators.Multimodal.GifFrameDecoder,
              graft.operators.Multimodal.AviFrameDecoder,
              graft.operators.Multimodal.Y4mFrameDecoder))
          .orderBy("id_a", "id_b")
      }),

    // AUDIO positional index LIFECYCLE — q143's
    // write/delete/grow/probe device over the segmented-audio
    // family: a standing index is built over 15 base clips, 5 are
    // tombstoned, the index GROWS from its own (id, pos, hash) rows
    // plus 10 new clips (the standing audio is never re-decoded),
    // and a fresh index over (standing minus deleted) ∪ growth is
    // built as the reference; the SAME batch probes both. The oracle
    // recomputes the surviving index content and the positional
    // filter rule (same-position hamming <= 3, >= 3 covered
    // positions drops) from the md5 amplitude grid and emits the
    // kept set TWICE — a hash match pins that growth from the
    // artifact equals a fresh build over the surviving union, that
    // tombstoned clips leave for real, and that the probe semantics
    // survive the persisted roundtrip.
    QueryDef("q153_audio_index_lifecycle", Some("""
      WITH d AS (SELECT doc_id, doc_id % 50 AS base, (doc_id // 50) % 2 AS alt
                 FROM documents WHERE doc_id < 200),
      amp AS (SELECT d.doc_id, s.s, w.w,
                CASE WHEN d.alt = 1 AND w.w = 0 THEN 255
                     WHEN d.alt = 1 AND w.w = 1 THEN 0
                     ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(s.s AS VARCHAR) || ':' || CAST(w.w AS VARCHAR)), 1, 2))::INT END AS a
              FROM d
                CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
                CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) w),
      h AS (SELECT a1.doc_id, a1.s,
              bit_or(CASE WHEN a2.a > a1.a THEN (1::UBIGINT << a1.w) ELSE 0::UBIGINT END) AS h
            FROM amp a1 JOIN amp a2 ON a2.doc_id = a1.doc_id AND a2.s = a1.s
              AND a2.w = a1.w + 1
            GROUP BY a1.doc_id, a1.s),
      st AS (SELECT h.doc_id, h.s, h.h FROM h JOIN d USING (doc_id)
             WHERE d.alt = 0 AND d.base BETWEEN 5 AND 24),
      bt AS (SELECT h.doc_id, h.s, h.h FROM h JOIN d USING (doc_id)
             WHERE NOT (d.alt = 0 AND d.base < 25)),
      hitpos AS (SELECT DISTINCT b.doc_id, b.s
                 FROM bt b JOIN st s ON s.s = b.s
                   AND bit_count(xor(b.h, s.h)) <= 3),
      drops AS (SELECT doc_id FROM hitpos GROUP BY doc_id
                HAVING count(*) >= 3),
      surv AS (SELECT DISTINCT doc_id FROM bt
               WHERE doc_id NOT IN (SELECT doc_id FROM drops))
      SELECT s.stage, r.doc_id
      FROM (VALUES ('fresh'), ('grown')) s(stage) CROSS JOIN surv r
      ORDER BY s.stage, r.doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 50
          val alt = (docId / 50) % 2 == 1
          val samples = new Array[Short](4 * 520)
          var seg = 0
          while (seg < 4) {
            var w = 0
            while (w < 65) {
              val a =
                if (alt && w == 0) 255
                else if (alt && w == 1) 0
                else java.lang.Byte.toUnsignedInt(
                  md.digest(s"$base:$seg:$w".getBytes("UTF-8"))(0))
              val m = a * 77
              var j = 0
              while (j < 8) {
                val gi = seg * 520 + w * 8 + j
                samples(gi) = (if (gi % 2 == 0) m else -m).toShort
                j += 1
              }
              w += 1
            }
            seg += 1
          }
          graft.operators.Multimodal.syntheticPcmWav(samples)
        }
        val clips = t(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), mk(col("doc_id")).as("aud"))
        val standingPred = expr("doc_id % 50 < 15 AND (doc_id div 50) % 2 = 0")
        val growPred = expr(
          "doc_id % 50 >= 15 AND doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")
        val dir0 = java.nio.file.Files.createTempDirectory("graft_aud_grow_")
          .toFile.getAbsolutePath
        val path = s"$dir0/idx"
        val freshPath = s"$dir0/fresh"
        graft.operators.Multimodal.writeAudioSegmentHashBandIndex(
          clips.filter(standingPred), "aud", "doc_id", path, 520L, 4)
        graft.operators.Dedup.deleteFromHashBandIndex(s, path,
          clips.filter(standingPred).filter(col("doc_id") % 50 < 5)
            .select("doc_id"), "doc_id")
        // grow from the ARTIFACT's own rows (tombstones applied) +
        // the new batch's segments — standing audio never re-decoded
        graft.operators.Multimodal.rebuildAudioSegmentHashBandIndex(s,
          path, clips.filter(growPred), "aud", "doc_id", 520L, 4)
        graft.operators.Multimodal.writeAudioSegmentHashBandIndex(
          clips.filter(expr(
            "doc_id % 50 >= 5 AND doc_id % 50 < 25 AND (doc_id div 50) % 2 = 0")),
          "aud", "doc_id", freshPath, 520L, 4,
          metricName = "graft_audio_seg_index_write_cap_fresh")
        val batch = clips.filter(!standingPred && !growPred)
        def probe(p: String, stage: String) = graft.operators.Multimodal
          .audioNearDupFilterAgainst(batch, "aud", "doc_id",
            graft.operators.Multimodal.readAudioSegmentHashBandIndex(
              s, p, 520L), 520L, 4)
          .select(col("doc_id")).withColumn("stage", lit(stage))
        probe(path, "grown").unionByName(probe(freshPath, "fresh"))
          .select("stage", "doc_id")
          .orderBy("stage", "doc_id")
      }),

    // Incremental prep facade through the PERSISTED audio positional
    // index — q146's device over the segmented-audio tier: a standing
    // corpus of 20 alt-1 clips is indexed ON DISK once
    // (writeAudioSegmentHashBandIndex), and an engineered batch
    // exercises every route through runIncremental's audioseg fold —
    // direct standing hits (alt 1 twins of standing bases), TAINTED
    // cluster members (an alt-0/alt-2 batch cluster whose alt-1
    // sibling hits standing drops WHOLE), untainted in-batch clusters
    // collapsing to their min id, and pass-through singletons. Texts
    // are md5-salted unique tokens so every text tier is provably
    // pass-through; the oracle replays segment envelope hashes,
    // the positional probe, batch-internal positional pairs,
    // connected components (recursive CTE), the taint rule and
    // min-id survivorship from first principles.
    QueryDef("q154_prep_audioseg_incremental", Some("""
      WITH RECURSIVE
      bd AS (
        SELECT 2000 + b AS doc_id, b AS base, 0 AS alt FROM range(0, 10) t(b)
        UNION ALL SELECT 2100 + b, b, 2 FROM range(0, 10) t(b)
        UNION ALL SELECT 2200 + b, b, 0 FROM range(10, 20) t(b)
        UNION ALL SELECT 2300 + b, b, 0 FROM range(20, 30) t(b)
        UNION ALL SELECT 2400 + b, b, 1 FROM range(20, 30) t(b)
        UNION ALL SELECT 2500 + b, b, 2 FROM range(20, 30) t(b)
        UNION ALL SELECT 2600 + b, b, 0 FROM range(30, 40) t(b)),
      sd AS (SELECT 1000 + b AS doc_id, b AS base, 1 AS alt FROM range(0, 20) t(b)),
      allg AS (SELECT * FROM bd UNION ALL SELECT * FROM sd),
      amp AS (SELECT a.doc_id, s.s, w.w,
               CASE WHEN a.alt = 1 AND w.w = 0 THEN 255
                    WHEN a.alt = 1 AND w.w = 1 THEN 0
                    WHEN a.alt = 2 AND w.w = 2 THEN 255
                    WHEN a.alt = 2 AND w.w = 3 THEN 0
                    ELSE ('0x' || substr(md5(CAST(a.base AS VARCHAR) || ':' || CAST(s.s AS VARCHAR) || ':' || CAST(w.w AS VARCHAR)), 1, 2))::INT END AS a
             FROM allg a
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) s
               CROSS JOIN (SELECT unnest(generate_series(0, 64)) AS w) w),
      h AS MATERIALIZED (SELECT a1.doc_id, a1.s,
              bit_or(CASE WHEN a2.a > a1.a THEN (1::UBIGINT << a1.w) ELSE 0::UBIGINT END) AS h
            FROM amp a1 JOIN amp a2 ON a2.doc_id = a1.doc_id AND a2.s = a1.s
              AND a2.w = a1.w + 1
            GROUP BY a1.doc_id, a1.s),
      bh AS (SELECT h.* FROM h JOIN bd USING (doc_id)),
      sh AS (SELECT h.* FROM h JOIN sd USING (doc_id)),
      pr AS MATERIALIZED (
        SELECT a.doc_id AS pa, b.doc_id AS pb
        FROM bh a JOIN bh b ON a.doc_id < b.doc_id AND a.s = b.s
          AND bit_count(xor(a.h, b.h)) <= 3
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3),
      hits AS MATERIALIZED (
        SELECT b.doc_id FROM (
          SELECT DISTINCT bb.doc_id, bb.s
          FROM bh bb JOIN sh ss ON ss.s = bb.s
            AND bit_count(xor(bb.h, ss.h)) <= 3) b
        GROUP BY b.doc_id HAVING count(*) >= 3),
      edges AS (SELECT pa AS s, pb AS d FROM pr UNION SELECT pb, pa FROM pr),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      tainted AS (SELECT DISTINCT c.cluster FROM clus c
                  JOIN hits ON c.id = hits.doc_id),
      drops AS (
        SELECT doc_id FROM hits
        UNION SELECT id FROM clus WHERE cluster IN (SELECT cluster FROM tainted)
        UNION SELECT id FROM clus
          WHERE cluster NOT IN (SELECT cluster FROM tainted) AND id <> cluster)
      SELECT doc_id FROM bd
      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val standingIds = (0 until 20).map(b => (1000L + b, b.toLong, 1))
        val batchIds =
          (0 until 10).map(b => (2000L + b, b.toLong, 0)) ++
          (0 until 10).map(b => (2100L + b, b.toLong, 2)) ++
          (10 until 20).map(b => (2200L + b, b.toLong, 0)) ++
          (20 until 30).map(b => (2300L + b, b.toLong, 0)) ++
          (20 until 30).map(b => (2400L + b, b.toLong, 1)) ++
          (20 until 30).map(b => (2500L + b, b.toLong, 2)) ++
          (30 until 40).map(b => (2600L + b, b.toLong, 0))
        val mkClip = udf { (base: Long, alt: Int) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val samples = new Array[Short](4 * 520)
          var seg = 0
          while (seg < 4) {
            var w = 0
            while (w < 65) {
              val a =
                if (alt == 1 && w == 0) 255
                else if (alt == 1 && w == 1) 0
                else if (alt == 2 && w == 2) 255
                else if (alt == 2 && w == 3) 0
                else java.lang.Byte.toUnsignedInt(
                  md.digest(s"$base:$seg:$w".getBytes("UTF-8"))(0))
              val m = a * 77
              var j = 0
              while (j < 8) {
                val gi = seg * 520 + w * 8 + j
                samples(gi) = (if (gi % 2 == 0) m else -m).toShort
                j += 1
              }
              w += 1
            }
            seg += 1
          }
          graft.operators.Multimodal.syntheticPcmWav(samples)
        }
        val mkText = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          (1 to 7).map { k =>
            "u" + md.digest(s"$docId:$k".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
          }.mkString(" ")
        }
        val standingClips = standingIds.toDF("doc_id", "base", "alt")
          .select(col("doc_id"), mkClip(col("base"), col("alt")).as("aud"))
        val standing = standingClips
          .select(col("doc_id"),
            graft.operators.TextNorm.clean(mkText(col("doc_id")))
              .as("clean_text"))
        val batch = batchIds.toDF("doc_id", "base", "alt")
          .select(col("doc_id"), mkText(col("doc_id")).as("text"),
            mkClip(col("base"), col("alt")).as("aud"))
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_aud_inc_").toFile.getAbsolutePath
        graft.operators.Multimodal.writeAudioSegmentHashBandIndex(
          standingClips, "aud", "doc_id", s"$idxDir/idx", 520L, 4)
        graft.operators.CorpusPrep.runIncremental(standing, batch,
            cfg = graft.operators.CorpusPrep.Config(
              audioSegCol = Some("aud"), audioSegmentFrames = 520L,
              audioMaxSegments = 4),
            audioSegIndex = Some(graft.operators.Multimodal
              .readAudioSegmentHashBandIndex(s, s"$idxDir/idx", 520L)))
          .select("doc_id").orderBy("doc_id")
      }),

    // FOUR containers through one decode seam — q152's device plus
    // the MP4/MOV leg (Mp4FrameDecoder: ISO-BMFF box walk, sample
    // tables stsd/stsz/stsc/stco, 'raw ' depth-24 samples = packed
    // top-down RGB, LOSSLESS — the gray-formula oracle applies
    // verbatim). 80 bases x 4 docs: GIF / raw-DIB AVI / mono y4m /
    // raw MOV of the SAME md5-derived grids; alt docs carry the
    // two-pixel corner variant. The oracle is q141's arithmetic
    // unchanged and CONTAINER-FREE — a hash match pins that above
    // the seam all four containers are indistinguishable, i.e. the
    // QuickTime sample-table walk (chunks of 2, so stsc/stco carry
    // real mappings) reconstructs exactly the frames the other three
    // walks serve. MJPEG entries ('jpeg' / 'mp4v'+esds OTI 0x6C)
    // ride the same decoder but are lossy — spec-pinned
    // (MultimodalSpec), not oracle-pinned, like MJPEG-AVI.
    QueryDef("q155_four_container_video", Some("""
      WITH d AS (SELECT doc_id, doc_id % 80 AS base, (doc_id // 80) % 2 AS alt
                 FROM documents WHERE doc_id < 320),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               CASE WHEN d.alt = 1 AND y.y = 0 AND x.x = 0 THEN 255
                    WHEN d.alt = 1 AND y.y = 0 AND x.x = 1 THEN 0
                    ELSE ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR) || ':' || CAST(x.x AS VARCHAR)), 1, 2))::INT END AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 80
          val alt = (docId / 80) % 2 == 1
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              if (alt && y == 0 && x == 0) 255
              else if (alt && y == 0 && x == 1) 0
              else java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y:$x".getBytes("UTF-8"))(0))
            }
          }
          if (docId < 80)
            graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
          else if (docId < 160)
            graft.operators.Multimodal.syntheticGrayAvi(9, 8, frames)
          else if (docId < 240)
            graft.operators.Multimodal.syntheticGrayY4m(9, 8, frames)
          else
            graft.operators.Multimodal.syntheticGrayMov(9, 8, frames)
        }
        val vids = t(s, dir, "documents").filter(col("doc_id") < 320)
          .select(col("doc_id"), mk(col("doc_id")).as("v"))
        graft.operators.Multimodal.gifNearDupPairs(vids, "v", "doc_id",
            metricName = "graft_q155_four_cap",
            decoder = graft.operators.Multimodal.FrameDecoders.firstOf(
              graft.operators.Multimodal.GifFrameDecoder,
              graft.operators.Multimodal.AviFrameDecoder,
              graft.operators.Multimodal.Y4mFrameDecoder,
              graft.operators.Multimodal.Mp4FrameDecoder))
          .orderBy("id_a", "id_b")
      }),

    // The 13 published repetition-quality signals (Gopher A1 /
    // Dolma's heuristics — duplicate line/paragraph fractions by
    // count and by character mass, top 2/3/4-gram character
    // fraction, duplicated 5..10-gram coverage), computed by the
    // codegen'd `repetition_stats` kernel and replayed in DuckDB
    // from the generative formula — no string splitting on the
    // oracle side: lines, paragraphs and the token stream are
    // re-derived from the same md5 token grid the Spark UDF builds
    // the text from, then every definition (first-occurrence
    // duplicate counting, most-frequent-n-gram with
    // ties-toward-larger-mass, coverage UNION over overlapping
    // duplicated n-grams) re-executes in SQL. 60 bases x 4 kinds:
    // kind 0 plants nothing, kind 1 duplicates a line (firing the
    // line stats and the 6-gram-and-under repetition tiers), kind 2
    // repeats a whole paragraph (3 duplicate lines of 9 + the
    // paragraph stats), kind 3 duplicates line 0 as line 5
    // (duplicate line + repeated 6-gram at a distance). 6dp rounding
    // on both sides, the established double-pin device.
    QueryDef("q156_repetition_signals", Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS kind
                 FROM documents WHERE doc_id < 240),
      tk AS (SELECT d.doc_id, d.kind, i.i,
               substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)),
                      1, 2 + CAST((d.doc_id + i.i) % 4 AS INT)) AS tok
             FROM d CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS i) i),
      lineof AS (SELECT d.doc_id, d.kind, j.j,
                   CASE WHEN j.j = 5 AND d.kind = 1 THEN 1
                        WHEN j.j = 5 AND d.kind = 3 THEN 0
                        ELSE j.j END AS src
                 FROM d CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS j) j),
      lstr AS (SELECT l.doc_id, l.j,
                 string_agg(t.tok, ' ' ORDER BY t.i) AS s
               FROM lineof l JOIN tk t ON t.doc_id = l.doc_id
                 AND t.i >= l.src * 6 AND t.i < l.src * 6 + 6
               GROUP BY l.doc_id, l.j),
      tl AS (SELECT doc_id, j AS ord, j AS lj FROM lineof
             UNION ALL
             SELECT doc_id, 6 + j, j FROM lineof WHERE kind = 2 AND j < 3),
      tlc AS (SELECT tl.doc_id, tl.ord, ls.s, length(ls.s) AS chars,
                row_number() OVER (PARTITION BY tl.doc_id, ls.s
                                   ORDER BY tl.ord) AS rn
              FROM tl JOIN lstr ls ON ls.doc_id = tl.doc_id AND ls.j = tl.lj),
      linestats AS (SELECT doc_id,
          CAST(count(*) FILTER (WHERE rn > 1) AS DOUBLE) / count(*) AS lf,
          CAST(COALESCE(sum(chars) FILTER (WHERE rn > 1), 0) AS DOUBLE)
            / sum(chars) AS lcf
        FROM tlc GROUP BY doc_id),
      pstr AS (SELECT doc_id, ord // 3 AS p,
                 string_agg(s, chr(10) ORDER BY ord) AS s
               FROM tlc GROUP BY doc_id, ord // 3),
      pc AS (SELECT doc_id, p, s, length(s) AS chars,
               row_number() OVER (PARTITION BY doc_id, s ORDER BY p) AS rn
             FROM pstr),
      parastats AS (SELECT doc_id,
          CAST(count(*) FILTER (WHERE rn > 1) AS DOUBLE) / count(*) AS pf,
          CAST(COALESCE(sum(chars) FILTER (WHERE rn > 1), 0) AS DOUBLE)
            / sum(chars) AS pcf
        FROM pc GROUP BY doc_id),
      tseq AS (SELECT tl.doc_id, tl.ord * 6 + (t.i - l.src * 6) AS pos,
                 t.tok, length(t.tok) AS len
               FROM tl JOIN lineof l ON l.doc_id = tl.doc_id AND l.j = tl.lj
                 JOIN tk t ON t.doc_id = tl.doc_id
                   AND t.i >= l.src * 6 AND t.i < l.src * 6 + 6),
      arr AS (SELECT doc_id, list(tok ORDER BY pos) AS toks,
                list(len ORDER BY pos) AS lens,
                CAST(sum(len) AS DOUBLE) AS tot
              FROM tseq GROUP BY doc_id),
      ng AS (SELECT a.doc_id, n.n, g.i,
               array_to_string(a.toks[g.i : g.i + n.n - 1], ' ') AS key,
               list_sum(a.lens[g.i : g.i + n.n - 1]) AS chars
             FROM arr a CROSS JOIN (VALUES (2), (3), (4)) n(n)
               CROSS JOIN (SELECT unnest(generate_series(1, 54)) AS i) g
             WHERE g.i <= len(a.toks) - n.n + 1),
      ngc AS (SELECT doc_id, n, key, count(*) AS c, max(chars) AS chars
              FROM ng GROUP BY doc_id, n, key),
      topm AS (SELECT doc_id, n, max(c) AS mc FROM ngc GROUP BY doc_id, n),
      topv AS (SELECT g.doc_id, g.n, s.mc, max(g.chars) AS bc
               FROM ngc g JOIN topm s ON s.doc_id = g.doc_id AND s.n = g.n
                 AND g.c = s.mc
               GROUP BY g.doc_id, g.n, s.mc),
      topf AS (SELECT t.doc_id, t.n,
                 CASE WHEN t.mc >= 2 THEN t.mc * t.bc / a.tot
                      ELSE 0.0 END AS frac
               FROM topv t JOIN arr a USING (doc_id)),
      dng AS (SELECT a.doc_id, n.n, g.i,
                array_to_string(a.toks[g.i : g.i + n.n - 1], ' ') AS key
              FROM arr a
                CROSS JOIN (VALUES (5), (6), (7), (8), (9), (10)) n(n)
                CROSS JOIN (SELECT unnest(generate_series(1, 54)) AS i) g
              WHERE g.i <= len(a.toks) - n.n + 1),
      dk AS (SELECT doc_id, n, key FROM dng
             GROUP BY doc_id, n, key HAVING count(*) > 1),
      cov AS (SELECT DISTINCT g.doc_id, g.n, g.i + o.o AS pos
              FROM dng g JOIN dk USING (doc_id, n, key)
                CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS o) o
              WHERE o.o < g.n),
      covf AS (SELECT c.doc_id, c.n, sum(a.lens[c.pos]) / a.tot AS frac
               FROM cov c JOIN arr a USING (doc_id)
               GROUP BY c.doc_id, c.n, a.tot)
      SELECT d.doc_id,
        round(ls.lf, 6) AS dup_line_frac,
        round(ls.lcf, 6) AS dup_line_char_frac,
        round(ps.pf, 6) AS dup_para_frac,
        round(ps.pcf, 6) AS dup_para_char_frac,
        round(COALESCE(t2.frac, 0), 6) AS top_2gram_char_frac,
        round(COALESCE(t3.frac, 0), 6) AS top_3gram_char_frac,
        round(COALESCE(t4.frac, 0), 6) AS top_4gram_char_frac,
        round(COALESCE(c5.frac, 0), 6) AS dup_5gram_char_frac,
        round(COALESCE(c6.frac, 0), 6) AS dup_6gram_char_frac,
        round(COALESCE(c7.frac, 0), 6) AS dup_7gram_char_frac,
        round(COALESCE(c8.frac, 0), 6) AS dup_8gram_char_frac,
        round(COALESCE(c9.frac, 0), 6) AS dup_9gram_char_frac,
        round(COALESCE(c10.frac, 0), 6) AS dup_10gram_char_frac
      FROM d
        JOIN linestats ls USING (doc_id)
        JOIN parastats ps USING (doc_id)
        LEFT JOIN topf t2 ON t2.doc_id = d.doc_id AND t2.n = 2
        LEFT JOIN topf t3 ON t3.doc_id = d.doc_id AND t3.n = 3
        LEFT JOIN topf t4 ON t4.doc_id = d.doc_id AND t4.n = 4
        LEFT JOIN covf c5 ON c5.doc_id = d.doc_id AND c5.n = 5
        LEFT JOIN covf c6 ON c6.doc_id = d.doc_id AND c6.n = 6
        LEFT JOIN covf c7 ON c7.doc_id = d.doc_id AND c7.n = 7
        LEFT JOIN covf c8 ON c8.doc_id = d.doc_id AND c8.n = 8
        LEFT JOIN covf c9 ON c9.doc_id = d.doc_id AND c9.n = 9
        LEFT JOIN covf c10 ON c10.doc_id = d.doc_id AND c10.n = 10
      ORDER BY d.doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mkDoc = udf { (d: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def tok(i: Int): String = {
            val h = md.digest(s"$d:$i".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            h.substring(0, (2 + ((d + i) % 4)).toInt)
          }
          def line(j: Int): String =
            (0 until 6).map(k => tok(j * 6 + k)).mkString(" ")
          val kind = (d % 4).toInt
          val l = Array.tabulate(6)(line)
          if (kind == 1) l(5) = l(1)
          if (kind == 3) l(5) = l(0)
          val paras = Seq(l.take(3).mkString("\n"), l.slice(3, 6).mkString("\n")) ++
            (if (kind == 2) Seq(l.take(3).mkString("\n")) else Nil)
          paras.mkString("\n\n")
        }
        val docs = t(s, dir, "documents").filter(col("doc_id") < 240)
          .select(col("doc_id"), mkDoc(col("doc_id")).as("txt"))
          .withColumn("_rep",
            graft.functions.TextExpressions.repetition_stats(col("txt")))
        docs.select(Seq(col("doc_id")) ++
            graft.functions.TextOps.RepetitionFields.map(f =>
              round(col("_rep")(f), 6).as(f)): _*)
          .orderBy("doc_id")
      }),

    // Audio METADATA across three containers through one
    // AutoAudioMetaDecoder pass — WAV via the JDK chain, MP3 via the
    // MPEG frame-header walk (duration exact: frames counted, no
    // bitrate guessing), FLAC via STREAMINFO. Every fixture field is
    // a pure function of doc_id, so the oracle replays the expected
    // metadata from the public specs' arithmetic alone: an MP3 of
    // nf frames carries nf x 1152 sample frames at 44100 Hz stereo,
    // a FLAC STREAMINFO declares its packed fields verbatim, a WAV
    // of n samples declares n frames at its header rate. A hash
    // match pins the ID3 skip, the frame walk, the syncsafe/packed
    // bit arithmetic and the auto-routing — O(header) per row, no
    // sample ever decoded.
    QueryDef("q157_audio_meta", Some("""
      WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS kind,
                   10 + CAST(doc_id % 7 AS INT) AS nf
                 FROM documents WHERE doc_id < 250)
      SELECT doc_id,
        CASE kind WHEN 0 THEN 44100.0
                  WHEN 1 THEN CAST(16000 + doc_id AS DOUBLE)
                  WHEN 3 THEN CAST(8000 * (1 + doc_id % 4) AS DOUBLE)
                  WHEN 4 THEN 48000.0
                  ELSE 8000.0 END AS sample_rate,
        CASE kind WHEN 0 THEN 2
                  WHEN 1 THEN CAST(1 + doc_id % 2 AS INT)
                  WHEN 3 THEN CAST(1 + doc_id % 2 AS INT)
                  WHEN 4 THEN CAST(1 + doc_id % 2 AS INT)
                  ELSE 1 END AS channels,
        CASE kind WHEN 0 THEN CAST(nf * 1152 AS BIGINT)
                  WHEN 1 THEN CAST(doc_id * 1000 AS BIGINT)
                  WHEN 3 THEN CAST(doc_id * 320 AS BIGINT)
                  WHEN 4 THEN CAST(doc_id * 480 AS BIGINT)
                  ELSE CAST(100 + doc_id % 50 AS BIGINT) END AS frames,
        CASE kind WHEN 0 THEN 'MPEG1-L3'
                  WHEN 1 THEN 'FLAC'
                  WHEN 3 THEN 'VORBIS'
                  WHEN 4 THEN 'OPUS'
                  ELSE 'PCM_SIGNED' END AS encoding,
        TRUE AS ok
      FROM d ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          (docId % 5).toInt match {
            case 0 => graft.operators.Multimodal.syntheticMp3(
              (10 + docId % 7).toInt, id3v2 = docId % 2 == 0,
              id3v1 = docId % 4 == 1, vbrHeader = docId % 3 == 0)
            case 1 => graft.operators.Multimodal.syntheticFlacMeta(
              (16000 + docId).toInt, (1 + docId % 2).toInt, 16,
              docId * 1000)
            case 3 => graft.operators.Multimodal.syntheticOggVorbisMeta(
              (8000 * (1 + docId % 4)).toInt, (1 + docId % 2).toInt,
              docId * 320)
            case 4 => graft.operators.Multimodal.syntheticOggOpusMeta(
              (1 + docId % 2).toInt, 312,
              docId * 480 + 312)
            case _ => graft.operators.Multimodal.syntheticPcmWav(
              Array.tabulate[Short]((100 + docId % 50).toInt)(i =>
                ((i * 31 + docId) % 2001 - 1000).toShort))
          }
        }
        val clips = t(s, dir, "documents").filter(col("doc_id") < 250)
          .select(col("doc_id"), mk(col("doc_id")).as("clip"))
        graft.operators.Multimodal.withAudioMeta(clips, "clip",
            decoderFactory = () =>
              new graft.operators.Multimodal.AutoAudioMetaDecoder)(s)
          .select(col("doc_id"), col("audio.sampleRate").as("sample_rate"),
            col("audio.channels").as("channels"),
            col("audio.frames").as("frames"),
            col("audio.encoding").as("encoding"), col("audio.ok").as("ok"))
          .orderBy("doc_id")
      }),

    // MJPEG oracle-pinned (closing q155's stated gap): the one
    // COMPRESSED codec the pure-JDK engine really decodes, replayed
    // arithmetically. The device that makes a lossy codec
    // formula-replayable: frames where horizontally adjacent pixels
    // ALWAYS differ by exactly 128 (g = 64 + 128*((x + r) % 2), row
    // phase r = md5(base:f:y) low bit), so JPEG quantization error —
    // measured max ±~20 gray at the JDK's default quality, 8 dHash
    // bits of drift on random grids — can NEVER flip a brightness
    // comparison, and the decoded dHash EQUALS the lossless formula
    // hash (probed: 0 flips over 540 frames x 3 containers). 60
    // bases x 4 legs: MJPEG-MP4 ('mp4v'+esds OTI 0x6C), MJPEG-MOV
    // ('jpeg' entry), MJPEG-AVI (fourcc MJPG), and a LOSSLESS GIF
    // twin — so each MJPEG leg must pair with the formula-exact
    // baseline, pinning the JPEG sample walk + JDK decode + gray
    // conversion against DuckDB arithmetic that never saw a JPEG.
    QueryDef("q158_mjpeg_video_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 60 AS base
                 FROM documents WHERE doc_id < 240),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               64 + 128 * ((x.x + ('0x' || substr(md5(CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR)), 1, 2))::INT % 2) % 2) AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 60
          val frames = (0 until 3).map { f =>
            Array.tabulate(8 * 9) { i =>
              val y = i / 9; val x = i % 9
              val r = java.lang.Byte.toUnsignedInt(
                md.digest(s"$base:$f:$y".getBytes("UTF-8"))(0)) & 1
              64 + 128 * ((x + r) % 2)
            }
          }
          (docId / 60) match {
            case 0 => graft.operators.Multimodal.syntheticMjpegMp4(9, 8, frames)
            case 1 => graft.operators.Multimodal.syntheticMjpegMov(9, 8, frames)
            case 2 => graft.operators.Multimodal.syntheticMjpegAvi(9, 8, frames)
            case _ => graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
          }
        }
        val vids = t(s, dir, "documents").filter(col("doc_id") < 240)
          .select(col("doc_id"), mk(col("doc_id")).as("v"))
        graft.operators.Multimodal.gifNearDupPairs(vids, "v", "doc_id",
            metricName = "graft_q158_mjpeg_cap",
            decoder = graft.operators.Multimodal.FrameDecoders.firstOf(
              graft.operators.Multimodal.GifFrameDecoder,
              graft.operators.Multimodal.AviFrameDecoder,
              graft.operators.Multimodal.Mp4FrameDecoder))
          .orderBy("id_a", "id_b")
      }),

    // The KEYFRAME SAMPLING PLAN oracle-pinned: q158's
    // JPEG-surviving construction, but the four keyframe grids hide
    // at NON-UNIFORM sync sample numbers inside longer MJPEG videos
    // whose other samples are decoy filler — leg A: 12 samples with
    // stss {1,4,5,10}; leg B: a re-cut, 9 samples with stss
    // {2,3,7,9} and DIFFERENT filler. The keyframe contents are
    // functions of (base, keyframe ORDINAL) only, so the DuckDB
    // oracle never mentions sample numbers at all — it derives 4
    // ordinal hashes per doc from the generative formula and pairs
    // docs positionally. The Spark side only reproduces those hashes
    // if the stss walk picks EXACTLY the sync samples and the
    // ordinal becomes the position: sampling uniformly, off-by-one
    // in the 1-based sample numbering, or reading the wrong stsc
    // chunk mapping all land on filler grids (different md5 seed
    // space) and the pair set collapses. Pins videoFrameHashes'
    // plan + Mp4FrameDecoder's random access + the shared positional
    // core in one row.
    QueryDef("q159_keyframe_video_neardup", Some("""
      WITH d AS (SELECT doc_id, doc_id % 60 AS base
                 FROM documents WHERE doc_id < 120),
      px AS (SELECT d.doc_id, f.f, y.y, x.x,
               64 + 128 * ((x.x + ('0x' || substr(md5('kf:' || CAST(d.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR)), 1, 2))::INT % 2) % 2) AS g
             FROM d
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nm
             FROM h a JOIN h b ON a.doc_id < b.doc_id AND a.f = b.f
               AND bit_count(xor(a.h, b.h)) <= 3
             GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(nm AS BIGINT) AS n_matched
      FROM pr WHERE nm >= 3 ORDER BY id_a, id_b"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        val mk = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val base = docId % 60
          def altGrid(seed: String): Array[Int] = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            val r = java.lang.Byte.toUnsignedInt(
              md.digest(s"$seed:$y".getBytes("UTF-8"))(0)) & 1
            64 + 128 * ((x + r) % 2)
          }
          val keys = (0 until 4).map(j => altGrid(s"kf:$base:$j"))
          if (docId < 60) {
            val sync = Seq(1, 4, 5, 10)
            val frames = (1 to 12).map { n =>
              val j = sync.indexOf(n)
              if (j >= 0) keys(j) else altGrid(s"fillA:$base:$n")
            }
            graft.operators.Multimodal.syntheticMjpegMp4Keyframed(
              9, 8, frames, sync)
          } else {
            val sync = Seq(2, 3, 7, 9)
            val frames = (1 to 9).map { n =>
              val j = sync.indexOf(n)
              if (j >= 0) keys(j) else altGrid(s"fillB:$base:$n")
            }
            graft.operators.Multimodal.syntheticMjpegMp4Keyframed(
              9, 8, frames, sync)
          }
        }
        val vids = t(s, dir, "documents").filter(col("doc_id") < 120)
          .select(col("doc_id"), mk(col("doc_id")).as("v"))
        graft.operators.Multimodal.videoNearDupPairs(vids, "v", "doc_id",
            metricName = "graft_q159_kf_cap")
          .orderBy("id_a", "id_b")
      }),

    // SURVEY §4.2's LAST optional sentence, driver-pinned: the
    // version-interval join written as plain SQL with NO equi key —
    // the shape Spark plans as a nested loop — goes through the
    // injected VersionIntervalJoinRule (GraftSession carries
    // GraftExtensions), which rewrites it to a bucket equi-join on
    // the version_key monotone coarsening with an exact fallback
    // union. Versions are M.m with single-digit components, so the
    // DuckDB oracle replays the dpkg comparison as integer tuple
    // compare — the hash match pins that the REWRITTEN plan computes
    // exactly the naive join's answer through the driver contract,
    // not just in the spec.
    QueryDef("q160_version_interval_join", Some("""
      WITH inv AS (SELECT p_partkey AS pid, (p_partkey % 7) AS vmaj,
                          (p_partkey % 10) AS vmin
                   FROM part WHERE p_partkey < 300),
      adv AS (SELECT s_suppkey AS aid, (s_suppkey % 5) AS lmaj,
                     (s_suppkey % 6) AS lmin,
                     (s_suppkey % 5 + 2) AS hmaj, (s_suppkey % 8) AS hmin
              FROM supplier WHERE s_suppkey < 50)
      SELECT a.aid, CAST(count(*) AS BIGINT) AS n_affected
      FROM inv i JOIN adv a
        ON (i.vmaj > a.lmaj OR (i.vmaj = a.lmaj AND i.vmin >= a.lmin))
       AND (i.vmaj < a.hmaj OR (i.vmaj = a.hmaj AND i.vmin < a.hmin))
      GROUP BY a.aid ORDER BY a.aid"""),
      (s, dir) => {
        t(s, dir, "part").filter(col("p_partkey") < 300)
          .select(col("p_partkey").as("pid"),
            concat(col("p_partkey") % 7, lit("."), col("p_partkey") % 10)
              .as("v"))
          .createOrReplaceTempView("g_q160_inv")
        t(s, dir, "supplier").filter(col("s_suppkey") < 50)
          .select(col("s_suppkey").as("aid"),
            concat(col("s_suppkey") % 5, lit("."), col("s_suppkey") % 6)
              .as("lo"),
            concat(col("s_suppkey") % 5 + 2, lit("."), col("s_suppkey") % 8)
              .as("hi"))
          .createOrReplaceTempView("g_q160_adv")
        s.sql("""SELECT a.aid, count(*) AS n_affected
                 FROM g_q160_inv p JOIN g_q160_adv a
                 ON version_cmp(p.v, a.lo) >= 0 AND version_cmp(p.v, a.hi) < 0
                 GROUP BY a.aid ORDER BY a.aid""")
      }),

    // The KEYFRAME incremental facade end-to-end — q146's
    // taint-closure device under the round-17 sampling-plan knob
    // (Config.gifKeyframeSampling) with q159's JPEG-surviving
    // construction: standing = 15 master cuts (12 samples, stss
    // {1,4,5,10}); the batch mixes re-cuts of standing footage (9
    // samples, stss {2,3,7,9} — different sample numbers, same
    // keyframe contents), PAIRS of re-cuts of the same footage
    // (within-batch clusters that are also standing hits — the taint
    // rule), fresh singletons, and fresh within-batch pairs
    // (keep-earliest, no taint). Keyframe contents are functions of
    // (base, ordinal) only, so the oracle re-derives every hash,
    // every within-batch pair, every standing hit, the taint
    // closure, and the survivor rule in SQL — without sample
    // numbers, JPEG bytes, or the index artifact. A green row pins
    // the facade dispatch, videoNearDupFilterAgainst against a
    // persisted videoKeyframeHashBandIndex, and runIncremental's
    // cluster semantics in one driver-visible check.
    QueryDef("q161_prep_keyframe_incremental", Some("""
      WITH RECURSIVE
      bd AS (
        SELECT 2000 + b AS doc_id, b AS base FROM range(0, 10) t(b)
        UNION ALL SELECT 2100 + b, b FROM range(0, 10) t(b)
        UNION ALL SELECT 2200 + b, b FROM range(15, 25) t(b)
        UNION ALL SELECT 2300 + b, b FROM range(25, 35) t(b)
        UNION ALL SELECT 2400 + b, b FROM range(25, 35) t(b)),
      sd AS (SELECT 1000 + b AS doc_id, b AS base FROM range(0, 15) t(b)),
      allg AS (SELECT * FROM bd UNION ALL SELECT * FROM sd),
      px AS (SELECT a.doc_id, f.f, y.y, x.x,
               64 + 128 * ((x.x + ('0x' || substr(md5('kf:' || CAST(a.base AS VARCHAR) || ':' || CAST(f.f AS VARCHAR) || ':' || CAST(y.y AS VARCHAR)), 1, 2))::INT % 2) % 2) AS g
             FROM allg a
               CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS f) f
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) y
               CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS x) x),
      h AS MATERIALIZED (SELECT p1.doc_id, p1.f,
              bit_or(CASE WHEN p2.g > p1.g THEN (1::UBIGINT << (p1.y * 8 + p1.x)) ELSE 0::UBIGINT END) AS h
            FROM px p1 JOIN px p2 ON p2.doc_id = p1.doc_id AND p2.f = p1.f
              AND p2.y = p1.y AND p2.x = p1.x + 1
            GROUP BY p1.doc_id, p1.f),
      bh AS (SELECT h.* FROM h JOIN bd USING (doc_id)),
      sh AS (SELECT h.* FROM h JOIN sd USING (doc_id)),
      pr AS MATERIALIZED (
        SELECT a.doc_id AS pa, b.doc_id AS pb
        FROM bh a JOIN bh b ON a.doc_id < b.doc_id AND a.f = b.f
          AND bit_count(xor(a.h, b.h)) <= 3
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3),
      hits AS MATERIALIZED (
        SELECT b.doc_id FROM (
          SELECT DISTINCT bb.doc_id, bb.f
          FROM bh bb JOIN sh ss ON ss.f = bb.f
            AND bit_count(xor(bb.h, ss.h)) <= 3) b
        GROUP BY b.doc_id HAVING count(*) >= 3),
      edges AS (SELECT pa AS s, pb AS d FROM pr UNION SELECT pb, pa FROM pr),
      reach AS (
        SELECT s AS a, s AS b FROM (SELECT DISTINCT s FROM edges) v
        UNION
        SELECT r.a, e.d FROM reach r JOIN edges e ON r.b = e.s),
      clus AS MATERIALIZED (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY a),
      tainted AS (SELECT DISTINCT c.cluster FROM clus c
                  JOIN hits ON c.id = hits.doc_id),
      drops AS (
        SELECT doc_id FROM hits
        UNION SELECT id FROM clus WHERE cluster IN (SELECT cluster FROM tainted)
        UNION SELECT id FROM clus
          WHERE cluster NOT IN (SELECT cluster FROM tainted) AND id <> cluster)
      SELECT doc_id FROM bd
      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      ORDER BY doc_id"""),
      (s, dir) => {
        implicit val sp: org.apache.spark.sql.SparkSession = s
        import s.implicits._
        val standingIds = (0 until 15).map(b => (1000L + b, b.toLong))
        val batchIds =
          (0 until 10).map(b => (2000L + b, b.toLong)) ++
          (0 until 10).map(b => (2100L + b, b.toLong)) ++
          (15 until 25).map(b => (2200L + b, b.toLong)) ++
          (25 until 35).map(b => (2300L + b, b.toLong)) ++
          (25 until 35).map(b => (2400L + b, b.toLong))
        val mkVid = udf { (docId: Long, base: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def altGrid(seed: String): Array[Int] = Array.tabulate(8 * 9) { i =>
            val y = i / 9; val x = i % 9
            val r = java.lang.Byte.toUnsignedInt(
              md.digest(s"$seed:$y".getBytes("UTF-8"))(0)) & 1
            64 + 128 * ((x + r) % 2)
          }
          val keys = (0 until 4).map(j => altGrid(s"kf:$base:$j"))
          if (docId < 2000) { // standing master cut
            val sync = Seq(1, 4, 5, 10)
            graft.operators.Multimodal.syntheticMjpegMp4Keyframed(9, 8,
              (1 to 12).map { n =>
                val j = sync.indexOf(n)
                if (j >= 0) keys(j) else altGrid(s"fillS:$docId:$n")
              }, sync)
          } else { // batch re-cut shape, doc-unique filler
            val sync = Seq(2, 3, 7, 9)
            graft.operators.Multimodal.syntheticMjpegMp4Keyframed(9, 8,
              (1 to 9).map { n =>
                val j = sync.indexOf(n)
                if (j >= 0) keys(j) else altGrid(s"fillB:$docId:$n")
              }, sync)
          }
        }
        val mkText = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          (1 to 7).map { k =>
            "u" + md.digest(s"$docId:$k".getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
          }.mkString(" ")
        }
        val standingVids = standingIds.toDF("doc_id", "base")
          .select(col("doc_id"), mkVid(col("doc_id"), col("base")).as("vid"))
        val standing = standingVids
          .select(col("doc_id"),
            graft.operators.TextNorm.clean(mkText(col("doc_id")))
              .as("clean_text"))
        val batch = batchIds.toDF("doc_id", "base")
          .select(col("doc_id"), mkText(col("doc_id")).as("text"),
            mkVid(col("doc_id"), col("base")).as("vid"))
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft_kf_inc_").toFile.getAbsolutePath
        graft.operators.Multimodal.writeVideoKeyframeHashBandIndex(
          standingVids, "vid", "doc_id", s"$idxDir/idx")
        graft.operators.CorpusPrep.runIncremental(standing, batch,
            cfg = graft.operators.CorpusPrep.Config(gifCol = Some("vid"),
              gifDecoder = graft.operators.Multimodal.Mp4FrameDecoder,
              gifKeyframeSampling = true),
            gifIndex = Some(graft.operators.Multimodal
              .readGifHashBandIndex(s, s"$idxDir/idx")))
          .select("doc_id").orderBy("doc_id")
      }),

    // The interval-join rewrite's FALLBACK branches driver-pinned:
    // q160 only ever exercises branch A (every bound keyable, spans
    // of 2); here three of the four advisory shapes are built to be
    // REJECTED by the narrow-range guard — wide numeric spans
    // (3000+, over maxSpan=1024), a tilde lower bound and a
    // letter-start pair (both version_key-null) — while the
    // inventory mixes keyable points with tilde-start and
    // letter-start versions that only the fallback nested loop can
    // match. Version strings are generated from key arithmetic in
    // four DISJOINT rank spaces the dpkg order provably agrees with
    // (tilde-start < digit-start < letter-start at the first
    // non-digit run; epochs absent; no rc/pre substrings, so the
    // demotion quirk cannot fire), which lets the DuckDB oracle
    // replay version_cmp as pure integer-rank compares without
    // parsing a single version. A hash match pins the three-branch
    // union's EXACTNESS — nothing dropped to the narrow branch,
    // nothing double-counted across branches — through the driver
    // contract, the complement of q160's branch-A pin.
    QueryDef("q162_version_interval_fallback", Some("""
      WITH inv AS (
        SELECT p_partkey AS pid,
          CASE p_partkey % 4
            WHEN 0 THEN 1000 * (p_partkey % 7) + (p_partkey % 10)
            WHEN 1 THEN -1000000 + (p_partkey % 9)
            WHEN 2 THEN 100000000 + (p_partkey % 9)
            ELSE 1000 * (100 + (p_partkey % 800) * 10) + (p_partkey % 10)
          END AS r
        FROM part WHERE p_partkey < 400),
      adv AS (
        SELECT s_suppkey AS aid,
          CASE s_suppkey % 4
            WHEN 0 THEN 1000 * (s_suppkey % 5) + (s_suppkey % 6)
            WHEN 1 THEN 1000 + (s_suppkey % 6)
            WHEN 2 THEN -2000000
            ELSE 99999999
          END AS rlo,
          CASE s_suppkey % 4
            WHEN 0 THEN 1000 * (s_suppkey % 5 + 2) + (s_suppkey % 8)
            WHEN 1 THEN 1000 * (3000 + s_suppkey)
            WHEN 2 THEN 1000 * (s_suppkey % 5 + 1) + (s_suppkey % 6)
            ELSE 100000000 + (s_suppkey % 9)
          END AS rhi
        FROM supplier WHERE s_suppkey < 80)
      SELECT a.aid, CAST(count(*) AS BIGINT) AS n_affected
      FROM inv i JOIN adv a ON i.r >= a.rlo AND i.r < a.rhi
      GROUP BY a.aid ORDER BY a.aid"""),
      (s, dir) => {
        val pid = col("p_partkey")
        t(s, dir, "part").filter(pid < 400)
          .select(pid.as("pid"),
            when(pid % 4 === 0,
              concat(pid % 7, lit("."), pid % 10))
              .when(pid % 4 === 1, concat(lit("~beta"), pid % 9))
              .when(pid % 4 === 2, concat(lit("zz"), pid % 9))
              .otherwise(concat(lit(100) + (pid % 800) * 10, lit("."),
                pid % 10))
              .as("v"))
          .createOrReplaceTempView("g_q162_inv")
        val sid = col("s_suppkey")
        t(s, dir, "supplier").filter(sid < 80)
          .select(sid.as("aid"),
            when(sid % 4 === 0, concat(sid % 5, lit("."), sid % 6))
              .when(sid % 4 === 1, concat(lit("1."), sid % 6))
              .when(sid % 4 === 2, lit("~~"))
              .otherwise(lit("za"))
              .as("lo"),
            when(sid % 4 === 0,
              concat(sid % 5 + 2, lit("."), sid % 8))
              .when(sid % 4 === 1, concat(lit(3000) + sid, lit(".0")))
              .when(sid % 4 === 2, concat(sid % 5 + 1, lit("."), sid % 6))
              .otherwise(concat(lit("zz"), sid % 9))
              .as("hi"))
          .createOrReplaceTempView("g_q162_adv")
        s.sql("""SELECT a.aid, count(*) AS n_affected
                 FROM g_q162_inv p JOIN g_q162_adv a
                 ON version_cmp(p.v, a.lo) >= 0 AND version_cmp(p.v, a.hi) < 0
                 GROUP BY a.aid ORDER BY a.aid""")
      })
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-statistics text scoring: the second-generation quality
  * signals that need a pass over the WHOLE corpus before any row can
  * be scored (unlike the per-row heuristics in q31-q33).
  *
  * Scale shape shared by both operators: the corpus-wide statistic
  * (unigram counts / document frequencies) is ONE token-keyed shuffle
  * with full map-side partial aggregation, and its result is
  * Zipf-bounded — a `minCount`/df floor prunes the hapax tail, so the
  * statistic table is vocabulary-sized (millions of rows at web
  * scale, MBs), not corpus-sized, and broadcasts back onto the
  * exploded token stream for scoring. Corpus-wide scalars (total
  * token count, document count) ride a one-row broadcast cross-join,
  * so the whole operator stays one lazy plan with no driver action.
  * Nothing in the scoring pass shuffles the corpus a second time.
  */
object TextStats {

  private def toks(c: String) =
    filter(split(col(c), " "), t => t =!= "")

  /** Per-document average unigram log-probability under the corpus's
    * own unigram model — the classic fluency/garbage signal (random
    * strings and boilerplate both fall far from the corpus mean).
    * Tokens below `minCount` score `floorLogProb` (the OOV floor)
    * instead of their unreliable tail estimate.
    * Returns (idCol, n_tok, logprob). */
  def unigramLogProb(docs: DataFrame, textCol: String, idCol: String,
      minCount: Long = 5L, floorLogProb: Double = -15.0): DataFrame = {
    val tokens = docs.select(col(idCol), explode(toks(textCol)).as("_tok"))
    val counts = tokens.groupBy("_tok").agg(count(lit(1)).as("_cnt"))
    val totalDf = counts.agg(sum("_cnt").cast("double").as("_total"))
    val vocab = counts.filter(col("_cnt") >= minCount)
    tokens.join(broadcast(vocab), Seq("_tok"), "left_outer")
      .crossJoin(broadcast(totalDf))
      .select(col(idCol),
        coalesce(log(col("_cnt") / col("_total")), lit(floorLogProb)).as("_lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"), round(avg("_lp"), 4).as("logprob"))
  }

  /** Token-distribution drift between two corpus snapshots — the
    * per-token Jensen-Shannon decomposition, the "did the new crawl
    * shift?" diagnostic run before retraining anything on it. Both
    * sides' unigram distributions are add-one-smoothed over the UNION
    * vocabulary (a token present on one side only gets a finite
    * contribution instead of an infinite KL term); each row carries
    * js_contrib = ½·p_a·ln(2·p_a/(p_a+p_b)) + ½·p_b·ln(2·p_b/(p_a+p_b))
    * — non-negative, and summing it over the whole vocabulary IS the
    * JS divergence, so the `topK` rows kept here are the tokens
    * DRIVING the drift, which is the part a human reads. Ordering is
    * by the ROUNDED contribution (desc, ties by token) so the cut is
    * reproducible across engines and runs. Cost: one token count per
    * side (map-side partial aggregation) + a full-outer join on the
    * token — vocabulary-sized, never corpus-sized; the two corpus
    * scalars (totals, union-vocab size) ride as a broadcast one-row
    * cross join like every corpus scalar in this object. The scalar
    * aggregation re-derives the joined vocabulary (the plan runs the
    * full-outer join twice — both vocabulary-sized) rather than
    * caching it: a lazy operator pinning executor memory the caller
    * never asked for is the worse trade; cache upstream if the same
    * snapshots feed many diagnostics.
    * Returns (token, p_a, p_b, js_contrib), rounded to 6. */
  def tokenDivergence(a: DataFrame, b: DataFrame, textCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def counts(df: DataFrame, out: String) =
      df.select(explode(toks(textCol)).as("_tok"))
        .groupBy("_tok").agg(count(lit(1)).as(out))
    val u = counts(a, "_ca").join(counts(b, "_cb"), Seq("_tok"), "full_outer")
      .select(col("_tok").as("token"),
        coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
    val scalars = u.agg(sum("_ca").cast("double").as("_sa"),
      sum("_cb").cast("double").as("_sb"), count(lit(1)).cast("double").as("_v"))
    val pa = (col("_ca") + 1.0) / (col("_sa") + col("_v"))
    val pb = (col("_cb") + 1.0) / (col("_sb") + col("_v"))
    val jc = lit(0.5) * pa * log(lit(2.0) * pa / (pa + pb)) +
      lit(0.5) * pb * log(lit(2.0) * pb / (pa + pb))
    u.crossJoin(broadcast(scalars))
      .select(col("token"), round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
        round(jc, 6).as("js_contrib"))
      .orderBy(desc("js_contrib"), col("token"))
      .limit(topK)
  }

  /** A trained bigram LM: pair counts (`_w1,_w2,_cb` — NOT
    * vocab-bounded), left-occurrence counts (`_w1,_cu` —
    * vocab-sized), and the smoothing vocabulary size as a ONE-ROW
    * frame (`_v`) — kept lazy so constructing/composing a model never
    * runs a driver action; it rides the scoring plan as a broadcast
    * cross-join like every other corpus scalar in this object.
    * `pairs` is the unified token→successor count table all three
    * views derive from (`_w2 IS NULL` rows carry each doc's last
    * token, so `count(distinct _w1)` over it IS the vocabulary size)
    * — it is what lets `collectLocal` collect the model in one pass. */
  final case class BigramLm(bigrams: DataFrame, lefts: DataFrame, vocab: DataFrame,
      pairs: DataFrame) {
    /** Collects the one-row vocab frame — a deliberate action, for
      * inspection/tests; scoring never calls it. */
    def vocabSize: Double = vocab.collect()(0).getDouble(0)
  }

  private def bigramPairs(docs: DataFrame, textCol: String,
      idCol: Option[String]): DataFrame = {
    val withToks = docs.select(
      idCol.map(col).toSeq :+ toks(textCol).as("_a"): _*)
    // guard single-token docs: sequence(1, 0) is DESCENDING in Spark
    val bigramExpr =
      """CASE WHEN size(_a) < 2 THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
         ELSE transform(sequence(1, size(_a) - 1),
           i -> struct(element_at(_a, i) AS w1, element_at(_a, i + 1) AS w2)) END"""
    withToks
      .select(idCol.map(col).toSeq :+ explode_outer(expr(bigramExpr)).as("_bg"): _*)
      .select(idCol.map(col).toSeq ++
        Seq(col("_bg.w1").as("_w1"), col("_bg.w2").as("_w2")): _*)
  }

  /** One row per TOKEN occurrence with its successor (`_w2` null for
    * each doc's last token), so a single aggregate of this stream
    * carries both the bigram counts (non-null `_w2` groups) and the
    * vocabulary (`distinct _w1` — every token occurrence appears as
    * `_w1` exactly once). Zero-token docs contribute nothing (the
    * model has no use for them). */
  private def tokenSuccessors(docs: DataFrame, textCol: String): DataFrame =
    docs.select(toks(textCol).as("_a"))
      // guard empty docs: sequence(1, 0) is DESCENDING in Spark.
      // <= 0, not = 0: null text makes size(_a) = -1, which must also
      // contribute nothing (an = 0 guard would fall through to
      // sequence(1, -1) = [1, 0, -1] and emit junk (null, null)
      // rows into the pair table)
      .select(explode(expr(
        """CASE WHEN size(_a) <= 0 THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
           ELSE transform(sequence(1, size(_a)),
             i -> struct(element_at(_a, i) AS w1,
               CASE WHEN i < size(_a) THEN element_at(_a, i + 1) END AS w2)) END""")).as("_p"))
      .select(col("_p.w1").as("_w1"), col("_p.w2").as("_w2"))

  /** Train a bigram LM over a reference corpus: pair counts, left
    * counts (sum over w2 of c(w1,w2) — self-consistent conditioning
    * denominator), vocabulary size. Fully LAZY — the token→successor
    * stream aggregates ONCE on the pair key (full map-side partial
    * aggregation) and all three views derive from that table, so
    * collecting the model and scoring's V scalar cost no second
    * corpus scan. No id column is required (the model never uses
    * one). */
  def bigramModel(docs: DataFrame, textCol: String): BigramLm = {
    val pairs = tokenSuccessors(docs, textCol)
      .groupBy("_w1", "_w2").agg(count(lit(1)).as("_cb"))
    bigramFromPairs(pairs)
  }

  /** Derive the three model views from a unified pair-count table. */
  private def bigramFromPairs(pairs: DataFrame): BigramLm = {
    val cb = pairs.filter(col("_w2").isNotNull)
    BigramLm(
      bigrams = cb,
      lefts = cb.groupBy("_w1").agg(sum("_cb").cast("double").as("_cu")),
      vocab = pairs.agg(countDistinct("_w1").cast("double").as("_v")),
      pairs = pairs)
  }

  /** Score documents under a (possibly FOREIGN) bigram model with
    * add-k smoothing, P(w2|w1) = (c(w1,w2) + k) / (c(w1→·) + k·V) —
    * the CCNet-style setup: train the model once on a trusted
    * reference corpus (`bigramModel`), then score
    * every crawl batch against it. Unseen bigrams score
    * (k)/(c(w1)+kV); fully unseen left words degrade to 1/V.
    *
    * Scale shape: the pair table is NOT vocab-bounded, so the scoring
    * join on (w1, w2) is a deliberate SHUFFLE join; the left-count
    * table is vocab-sized and broadcasts; V is a literal. Zero-bigram
    * docs (< 2 tokens) stay in the output with n_bigrams = 0 and null
    * logprob (explode_outer — no silent row loss).
    * Returns (idCol, n_bigrams, logprob). */
  def scoreBigramLogProb(docs: DataFrame, textCol: String, idCol: String,
      lm: BigramLm, k: Double = 0.5): DataFrame =
    bigramPairs(docs, textCol, Some(idCol))
      .join(lm.bigrams, Seq("_w1", "_w2"), "left_outer") // shuffle join by design
      .join(broadcast(lm.lefts), Seq("_w1"), "left_outer")
      .crossJoin(broadcast(lm.vocab))
      .select(col(idCol), col("_w1"),
        when(col("_w1").isNotNull,
          log((coalesce(col("_cb"), lit(0L)) + k) /
            (coalesce(col("_cu"), lit(0.0)) + col("_v") * k))).as("_lp"))
      .groupBy(idCol)
      .agg(count(col("_w1")).as("n_bigrams"), round(avg("_lp"), 4).as("logprob"))

  /** Per-document average bigram log-probability under the corpus's
    * OWN model (q84) — `bigramModel` + `scoreBigramLogProb` composed;
    * the word-ORDER fluency signal a unigram model cannot see
    * (scrambled text keeps its unigram score but collapses here).
    * One fully lazy plan, like every operator in this object. */
  def bigramLogProb(docs: DataFrame, textCol: String, idCol: String,
      k: Double = 0.5): DataFrame =
    scoreBigramLogProb(docs, textCol, idCol,
      bigramModel(docs, textCol), k)

  /** A bigram LM collected to driver memory for ROW-LOCAL scoring —
    * what makes the LM gate stream-safe: scoring against DataFrame
    * model views needs a pair-key join plus a per-doc re-aggregation,
    * and that aggregation is stateful under streaming, while a
    * broadcast map lookup scores each row independently. Collecting
    * the pair table is legal because a trained reference model is
    * Zipf-/vocab-bounded by construction (CCNet-style setups ship the
    * reference LM to every scorer node anyway); `collectLocal` still
    * fails loudly past `maxPairs` rather than silently OOMing the
    * driver. */
  final case class LocalBigramLm(pairCounts: Map[(String, String), Long],
      leftCounts: Map[String, Double], vocab: Double)

  /** Collect a model into a LocalBigramLm (see there): the unified
    * pair table is collected ONCE (cached across the bound-check count
    * and the collect) and lefts/vocab derive driver-side — without
    * that, the three views' shared lineage would replay the
    * reference-corpus aggregation per view at every stream build. */
  def collectLocal(lm: BigramLm, maxPairs: Long = 2000000L): LocalBigramLm = {
    // default sized to a realistic reference-LM pair count: each entry
    // is a boxed (String, String) -> Long map cell, ~200-400 bytes of
    // driver heap with per-entry strings, so 2M pairs is roughly
    // 0.5-1 GiB — inside a stock driver. The previous 20M default let
    // the driver OOM BELOW the loud bound.
    val cached = lm.pairs.select("_w1", "_w2", "_cb").cache()
    val rows = try {
      val n = cached.count()
      require(n <= maxPairs,
        s"unified pair table has $n rows — over the $maxPairs driver-collect " +
          "bound; train the reference model with a higher count floor, or " +
          "raise maxPairs AND the driver heap with it (budget ~200-400 bytes " +
          "of driver memory per pair)")
      cached.collect()
    } finally { cached.unpersist(); () }
    val bi = rows.filter(!_.isNullAt(1))
    LocalBigramLm(
      bi.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      // lefts = sum of successor counts per _w1 over the non-null
      // rows — exactly bigramFromPairs' definition, derived here
      // instead of re-aggregated cluster-side
      bi.groupBy(_.getString(0))
        .map { case (w, rs) => w -> rs.map(_.getLong(2)).sum.toDouble },
      rows.iterator.map(_.getString(0)).toSet.size.toDouble)
  }

  /** Append `(nCol, lpCol)` — bigram count and the same smoothed
    * average log-probability `scoreBigramLogProb` computes — as
    * ROW-LOCAL columns via a broadcast LocalBigramLm: no join, no
    * aggregation, safe in a streaming plan. Scores match the batch
    * scorer to within one final rounding digit (same add-k formula,
    * same round-4, but sequential vs partition-merge float summation
    * — a doc whose true average sits within an ulp of a 4th-decimal
    * boundary can round one step apart, so a gate floor EXACTLY at
    * such a value may keep/drop differently than the batch gate;
    * TextStatsSpec pins the tolerance); docs with < 2 tokens get
    * (0, null), the batch scorer's explode_outer contract. A UDF is
    * the deliberate exception to the functions-first rule here: the
    * model is a lookup TABLE, and the join that would replace the
    * lookup is exactly what streaming cannot re-aggregate. */
  def withBigramLogProb(docs: DataFrame, textCol: String,
      local: LocalBigramLm, k: Double = 0.5,
      nCol: String = "n_bigrams", lpCol: String = "logprob"): DataFrame = {
    val clash = docs.columns.toSet.intersect(Set("_lm", nCol, lpCol))
    require(clash.isEmpty,
      s"withBigramLogProb would clobber existing column(s) ${clash.mkString(", ")} " +
        "— rename them first or pass different nCol/lpCol")
    val bc = docs.sparkSession.sparkContext.broadcast(local)
    val score = udf { ts: Seq[String] =>
      if (ts == null || ts.length < 2) (0L, None: Option[Double])
      else {
        val l = bc.value
        var s = 0.0
        var i = 0
        while (i < ts.length - 1) {
          val c = l.pairCounts.getOrElse((ts(i), ts(i + 1)), 0L)
          val cu = l.leftCounts.getOrElse(ts(i), 0.0)
          s += math.log((c + k) / (cu + l.vocab * k))
          i += 1
        }
        val avg = s / (ts.length - 1)
        (ts.length - 1L, Some(BigDecimal(avg)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }
    docs.withColumn("_lm", score(toks(textCol)))
      .withColumn(nCol, col("_lm._1"))
      .withColumn(lpCol, col("_lm._2"))
      .drop("_lm")
  }

  /** Top-k keyword extraction per document: rank tokens by term
    * frequency, breaking ties by corpus rarity (ascending document
    * frequency) then token text — an integer-only ordering, so the
    * ranking is exactly reproducible on any engine (a float tf-idf
    * rank would hinge on last-ulp log differences). The tf·idf value
    * itself is still reported per keyword.
    * Returns (idCol, rank, token, tf, df, tfidf). */
  def keywords(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    require(!Set("token", "tf", "df", "tfidf", "rank").contains(idCol),
      s"idCol '$idCol' collides with keywords' output column names")
    val tokens = docs.select(col(idCol), explode(toks(textCol)).as("token"))
    val df_ = tokens.distinct().groupBy("token").agg(count(lit(1)).as("df"))
    val nDocsDf = docs.agg(count(lit(1)).cast("double").as("_ndocs"))
    val tf = tokens.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    // no broadcast hint: unlike unigramLogProb's floored vocab, the df
    // table here includes every token (hapaxes rank as the RAREST and
    // must stay in the tie-break), so it is corpus-vocabulary-sized —
    // let AQE broadcast it only when it actually fits
    tf.join(df_, Seq("token"))
      .crossJoin(broadcast(nDocsDf))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("bigint").as("rank"), col("token"),
        col("tf"), col("df"),
        round(col("tf") * log(col("_ndocs") / col("df")), 4).as("tfidf"))
  }

  /** BM25 top-k retrieval — the TEXT twin of the ANN probe family:
    * score every corpus doc sharing at least one token with each
    * query and keep the k best per query (Okapi BM25 with the
    * Lucene-style non-negative idf, public knowledge:
    * idf = ln(1 + (N − df + ½)/(df + ½)), term score
    * idf · tf·(k1+1)/(tf + k1·(1 − b + b·len/avgLen)), summed over
    * the query's DISTINCT tokens). The serving shape for
    * decontamination candidate generation, data curation ("find me
    * docs like these"), and eval-set leakage hunts when embeddings
    * don't exist yet.
    *
    * Plan at scale: the corpus tokenizes twice — once exploding into
    * (token, doc, tf) postings (from which the vocabulary-sized df
    * table derives with no second corpus shuffle) and once map-side
    * for per-doc lengths (from which N/avgLen aggregate); the query
    * side is probe-sized by definition and BROADCASTS its distinct
    * (query, token) pairs into that postings scan, so each posting
    * is read once and only query-term postings contribute — never a
    * corpus×queries product. Doc length and the two corpus scalars
    * (N, avgLen) ride the usual one-row broadcast cross join. A
    * per-query window keeps the top k (score desc, ties by id).
    * Stop-word-heavy queries touch hot posting lists — at 100 TB cap
    * them upstream (HotKeys) or drop near-zero-idf terms; both knobs
    * compose in front of this. Returns (qIdCol, idCol, score, rank),
    * score rounded to 4. */
  def bm25TopK(corpus: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, qTextCol: String, qIdCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0 and b in [0,1], got ($k1, $b)")
    // "score"/"rank" are appended by this plan and would silently
    // CLOBBER an id column of the same name; "token" clashes with the
    // exploded postings column
    require(!Set("token", "score", "rank").contains(idCol),
      s"idCol '$idCol' collides with bm25TopK's output/internal column names")
    val tokens = corpus.select(col(idCol), explode(toks(textCol)).as("token"))
    val tf = tokens.groupBy(idCol, "token").agg(count(lit(1)).as("_tf"))
    // df derives FROM tf (one row per (doc, token) already) — a
    // tokens.distinct() here would shuffle the whole exploded corpus
    // a second time for the same counts
    val dfT = tf.groupBy("token").agg(count(lit(1)).as("_df"))
    // greatest(size, 0): size(null) is -1 on this Spark (see the
    // tokenSuccessors note) — a nullable-text corpus would otherwise
    // drag avglen down with -1 "lengths" and skew every norm
    val lens = corpus.select(col(idCol),
      greatest(size(toks(textCol)), lit(0)).cast("double").as("_len"))
    // N/avgLen aggregate the per-doc lengths frame (zero-token docs
    // included, same as aggregating the corpus directly) instead of
    // re-tokenizing the corpus a third time
    val scalars = lens.agg(count(lit(1)).cast("double").as("_n"),
      avg(col("_len")).as("_avglen"))
    val qTokens = queries
      .select(col(qIdCol).as("_qid"), explode(toks(qTextCol)).as("token"))
      .distinct()
    val outQ = if (qIdCol == idCol) s"q_$qIdCol" else qIdCol
    val idf = log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5))
    val norm = col("_tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("_len") / col("_avglen"))
    tf.join(broadcast(qTokens), Seq("token"))
      .join(dfT, Seq("token"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(scalars))
      .groupBy(col("_qid"), col(idCol))
      .agg(sum(idf * col("_tf") * (lit(k1) + 1.0) / norm).as("_score"))
      // rank on the ROUNDED score (ties by id): a float sum's last
      // ulp depends on addition order — across partitions AND across
      // engines — and duplicate docs score exact ties constantly, so
      // an unrounded sort key would make the top-k cut irreproducible
      .withColumn("score", round(col("_score"), 4))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("_qid").orderBy(desc("score"), col(idCol))))
      .filter(col("rank") <= k)
      .select(col("_qid").as(outQ), col(idCol), col("score"), col("rank"))
  }

  /** A persisted BM25 index read back from `readBm25Index`:
    * `postings` (idCol, token, tf, len) with the per-doc length
    * DENORMALIZED onto each posting row so the probe never joins a
    * corpus-sized lengths table; `dfT` (token, df) holds the TRUE
    * document frequency — complete even for terms whose posting
    * lists were capped away, so idf always reflects the real corpus
    * (after deletes, "true" modulo the cap: see
    * `deleteFromBm25Index`'s completeness invariant — whenever the
    * probe gate passes, df is exact); `meta` is one row (ndocs,
    * avglen, max_postings, id_col); `tombstones` holds the deleted
    * doc ids not yet compacted away (None when no
    * `deleteFromBm25Index` ran since the last rebuild/compaction) —
    * probes anti-join it, compaction applies it materially. */
  final case class Bm25Index(postings: DataFrame, dfT: DataFrame,
      meta: DataFrame, tombstones: Option[DataFrame] = None) {
    /** The corpus id column name, recovered from the postings schema
      * (the one column that isn't an index internal) — no driver
      * action needed to build a probe plan. */
    def idCol: String =
      postings.columns.filterNot(Set("token", "tf", "len", "_tb")).head
  }

  /** Bucket-partitioned postings write that stays READABLE even at
    * zero rows: a partitioned parquet write of an empty frame emits
    * NO files at all (there are no partition values), and the
    * resulting dir cannot even be schema-inferred — which is exactly
    * what a maxPostings cap that gates away EVERY list produces
    * (observed: a cap-1 index whose every token crossed df 1 at the
    * append compacted to an unreadable dir). An empty input writes
    * one all-null SCHEMA SENTINEL row into bucket 0 instead: probes
    * join postings on `token`, so a null-token row can never match,
    * score, or df-gate — it exists only to carry the schema
    * (`bm25IndexStats` excludes it from row counts the same way).
    * `dir` lies inside a generation `StandingIndex.rewrite` has just
    * cleared, so no stale `_tb=` dir can survive to make `hasData`
    * true and serve old postings. */
  private def writePostingsBucketed(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = StandingIndex.fs(spark, dir)
    df
      // repartition on the bucket before the partitioned write: without
      // it every task writes a file into every bucket directory
      // (tasks × buckets files — the classic small-files explosion);
      // with it each bucket is one task's output. Write parallelism
      // follows the bucket count — size tokenBuckets to the cluster.
      .repartition(col("_tb"))
      .write.mode("overwrite").partitionBy("_tb").parquet(dir)
    // A zero-row partitioned write leaves no data files and read-back
    // schema inference would fail, so the degenerate case needs one
    // placeholder row. Detect it from the WRITTEN directory (a dynamic
    // partition write creates _tb= dirs only for observed buckets)
    // instead of an isEmpty pre-action: isEmpty re-executed the whole
    // capped-postings chain (window + join) once before the real write
    // re-executed it again — r17 profiling showed the build paying the
    // postings computation twice on every index write.
    val hasData = fs.exists(p) && fs.listStatus(p)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("_tb="))
    if (!hasData)
      spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row.fromSeq(
          df.schema.fields.map(f =>
            if (f.name == "_tb") 0.asInstanceOf[Any] else null).toSeq)),
        df.schema)
        .repartition(col("_tb"))
        .write.mode("overwrite").partitionBy("_tb").parquet(dir)
  }

  /** Marks an unfinished append/delete INSIDE the generation it
    * mutates, so a rebuild or compaction that supersedes that
    * generation takes the marker with it. */
  private val Incomplete = "_append_incomplete"

  /** The served generation `bm25_vN/` and the index read from it:
    * lazy postings/df/meta frames, plus the pending delete tombstones
    * — delete-request-sized by contract — collected EAGERLY into a
    * local frame, so probes built on this read keep working even if a
    * compaction clears the tombstone files before the probe executes
    * (see `StandingIndex.localTombstones`). A generation carrying the
    * incomplete marker is refused. */
  private def open(spark: org.apache.spark.sql.SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, String, Bm25Index) = {
    val fs = StandingIndex.fs(spark, path)
    val gen = StandingIndex.currentDir(fs, path, StandingIndex.Bm25)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$gen/$Incomplete")),
      s"BM25 index at $path has an unfinished append/delete " +
        s"($Incomplete marker in $gen) — its postings/df/meta may " +
        "disagree; rebuild with writeBm25Index rather than serving " +
        "inconsistent scores")
    val tombs = StandingIndex.tombstoneFiles(fs, path)
    (fs, gen, Bm25Index(spark.read.parquet(s"$gen/postings"),
      spark.read.parquet(s"$gen/df"), spark.read.parquet(s"$gen/meta"),
      if (tombs.nonEmpty) Some(StandingIndex.localTombstones(spark, tombs))
      else None))
  }

  /** Build and persist a BM25 postings index — the build-once half of
    * `bm25TopK`, for the 100 TB regime where re-deriving tf/df/doc
    * lengths from the raw corpus on every query batch is the
    * expensive pass. Layout under `path`: one generation dir
    * `bm25_vN/` holding `postings/` (idCol, token, tf, len), `df/`
    * (token, df) and `meta/` (ndocs, avglen, max_postings, id_col),
    * all parquet like the other standing indexes, published by one
    * `_current_vN` pointer;
    * after a `deleteFromBm25Index`, also `_tombstones/` until the next
    * compaction or rebuild.
    *
    * Every build is a `StandingIndex.rewrite` from an empty base: the
    * new generation is written beside the served one, which keeps
    * serving until the pointer swap, so a job that fails mid-rebuild
    * leaves the old index (stats, tombstones and all) as it was. The
    * swap supersedes the old generation — with any incomplete marker a
    * crashed append left in it — and the tombstones the build read, so
    * a complete rebuild is the documented recovery from every
    * refused state. A live (or crashed) compaction holds the rewrite
    * lock, so the build is refused before any filesystem change.
    *
    * Hot postings are capped AT BUILD TIME, concretely: a term whose
    * posting list exceeds `maxPostings` rows (a stop word — df near
    * corpus size, idf near zero) is WHOLE-LIST dropped from
    * `postings/` via HotKeys.cap, with the drop counts published as
    * observed metrics (`graft_bm25_posting_cap`). `df/` is computed
    * BEFORE the cap and kept complete, and the probe re-applies the
    * same rule as a df-gate (`df <= max_postings`), which is what
    * makes `appendBm25Index` sound: a term that only crosses the cap
    * after appends still has its stale on-disk postings, but the
    * df-gate excludes it at probe time — so probe-from-index results
    * are always identical to a fresh rebuild at the same cap.
    *
    * Build cost: one (id, token) shuffle for tf, one token-keyed
    * aggregation for df, one id-keyed join to denormalize lengths,
    * one token-partitioned window for the cap — paid once.
    *
    * `tokenBuckets` hash-partitions `postings/` on
    * pmod(hash(token), tokenBuckets): the probe joins on the bucket
    * column too, so dynamic partition pruning reads ONLY the
    * directories holding query-term postings — a probe touches at
    * most |query terms| of the `tokenBuckets` partitions instead of
    * scanning the corpus-sized postings file, which at 100 TB is the
    * difference between an index lookup and a table scan. */
  def writeBm25Index(corpus: DataFrame, textCol: String, idCol: String,
      path: String, maxPostings: Int = HotKeys.DefaultBucketCap,
      tokenBuckets: Int = 64): Unit = {
    // "score"/"rank" included: the PROBE appends those columns, and a
    // corpus id named either would be silently clobbered there — the
    // build is where the whole lifecycle's naming contract is checked
    require(!Set("token", "tf", "len", "_tb", "score", "rank").contains(idCol),
      s"idCol '$idCol' collides with the index's internal/probe column names")
    require(tokenBuckets >= 1, s"tokenBuckets must be >= 1, got $tokenBuckets")
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val spark = corpus.sparkSession
    val fs = StandingIndex.fs(spark, path)
    StandingIndex.rewrite(fs, path, StandingIndex.Bm25) { (dir, _) =>
      // tf and lens each feed two of the three writes — persist them so
      // the build really is ONE tokenize + one (id, token) shuffle, not
      // a re-execution per write action (DISK-backed: tf is corpus-ish
      // sized and pinning it in memory is not this operator's call)
      val tf = corpus.select(col(idCol), explode(toks(textCol)).as("token"))
        .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // greatest(size, 0): null text must count as length 0, not -1
      val lens = corpus.select(col(idCol),
        greatest(size(toks(textCol)), lit(0)).cast("double").as("len"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // The three table writes are mutually independent (df from tf;
        // postings from tf⋈lens; meta from lens) and all land in the
        // unpublished generation, so they run CONCURRENTLY
        // (Actions.inParallel): overlapping the three actions folds
        // their per-action driver gaps into each other. The shared
        // persisted tf/lens frames compute exactly once under
        // BlockManager's per-block locks.
        Actions.inParallel(
          // true df, BEFORE the posting cap — derived from tf (one row
          // per (doc, token) already), never a second corpus shuffle
          () => tf.groupBy("token").agg(count(lit(1)).as("df"))
            .write.parquet(s"$dir/df"),
          // minPerKey = 1: a singleton posting is the HIGHEST-value row
          // in a retrieval index (max idf), the opposite of an LSH bucket
          () => writePostingsBucketed(
            HotKeys.cap(tf.join(lens, Seq(idCol)), Seq(col("token")), maxPostings,
                minPerKey = 1, metricName = "graft_bm25_posting_cap")
              .select(col(idCol), col("token"), col("tf"), col("len"),
                pmod(hash(col("token")), lit(tokenBuckets)).as("_tb")),
            s"$dir/postings"),
          // ndocs/avglen aggregate per-doc lengths (zero-token docs count)
          () => lens.agg(count(lit(1)).cast("double").as("ndocs"),
              coalesce(avg(col("len")), lit(0.0)).as("avglen"))
            .withColumn("max_postings", lit(maxPostings.toLong))
            .withColumn("token_buckets", lit(tokenBuckets.toLong))
            .withColumn("id_col", lit(idCol))
            .write.parquet(s"$dir/meta"))
      } finally { tf.unpersist(); lens.unpersist(); () }
      Some(())
    }
    ()
  }

  /** Read a persisted BM25 index back (see `open`). */
  def readBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25Index = open(spark, path)._3

  /** The served generation's (ndocs, avglen, max_postings,
    * token_buckets), after checking the build's id column. */
  private def scalars(idx: Bm25Index, idCol: String): (Double, Double, Long, Long) = {
    val m = idx.meta
      .select("ndocs", "avglen", "max_postings", "token_buckets", "id_col")
      .collect()(0)
    require(m.getString(4) == idCol,
      s"index was built with idCol '${m.getString(4)}', got '$idCol'")
    (m.getDouble(0), m.getDouble(1), m.getLong(2), m.getLong(3))
  }

  /** The incomplete-marker bracket around an in-place mutation of the
    * served generation `gen`: the mutations move three tables that
    * must agree, so a crash anywhere inside leaves a LOUD state
    * (reads, appends and deletes refuse while the marker exists —
    * rebuild the index) instead of silently inconsistent scores or a
    * double-counting retry. Plain filesystem artifacts cannot do
    * better without a table format; the marker converts every
    * partial-failure window into an error, and only a complete body
    * clears it. */
  private def mutating(fs: org.apache.hadoop.fs.FileSystem, gen: String)(
      body: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$gen/$Incomplete")
    require(fs.createNewFile(marker),
      s"could not create the $Incomplete marker in $gen (a previous " +
        "append/delete is unfinished, or writers race — both require a " +
        "rebuild)")
    body
    fs.delete(marker, false)
    ()
  }

  /** `gen`'s df table replaced by `df`, written beside and renamed
    * over — a lazy read-and-overwrite of the same dir would corrupt
    * it; mode overwrite also clears a stale `df.tmp`. */
  private def swapDf(fs: org.apache.hadoop.fs.FileSystem, gen: String,
      df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$gen/df.tmp")
    fs.delete(new org.apache.hadoop.fs.Path(s"$gen/df"), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$gen/df.tmp"),
      new org.apache.hadoop.fs.Path(s"$gen/df")), s"rename failed under $gen")
  }

  private def writeMeta(spark: org.apache.spark.sql.SparkSession, gen: String,
      ndocs: Double, avglen: Double, cap: Long, tb: Long, idCol: String): Unit = {
    import spark.implicits._
    Seq((ndocs, avglen, cap, tb, idCol))
      .toDF("ndocs", "avglen", "max_postings", "token_buckets", "id_col")
      .write.mode("overwrite").parquet(s"$gen/meta")
  }

  /** Append a document batch to a persisted BM25 index WITHOUT
    * rescanning the standing corpus. Batch ids must be disjoint from
    * the standing index (same contract as every append here — dedup
    * upstream). The append mutates the served generation IN PLACE,
    * inside the incomplete-marker bracket: batch postings append to
    * its `postings/`; `df/` is rebuilt as old-df ⊕ batch-df summed by
    * token (a vocabulary-sized read + write, never corpus-sized) and
    * renamed over; the two scalars recompute on the driver from the
    * old one-row meta plus the batch's own count/length sum
    * (n' = n + nB, avglen' = (n·avg + ΣlenB) / n'). The batch's own
    * postings are capped at the index's stored `max_postings`; a term
    * whose COMBINED list only now crosses the cap keeps its stale
    * standing postings on disk, but the probe's df-gate (true df vs
    * max_postings) excludes it — results equal a fresh rebuild. */
  def appendBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, textCol: String, idCol: String): Unit = {
    val (fs, gen, old) = open(spark, path)
    val (n0, avg0, cap, tb) = scalars(old, idCol)
    StandingIndex.refuseReAdds(fs, path, batch, "run compactBm25Index " +
      "first (it applies deletions materially and clears the " +
      "tombstones), then append")
    // persisted for the same reason as in writeBm25Index: tf feeds
    // the postings AND the df merge, lens the postings AND the scalar
    // recompute — one batch tokenize, not one per action
    val tf = batch.select(col(idCol), explode(toks(textCol)).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lens = batch.select(col(idCol),
      greatest(size(toks(textCol)), lit(0)).cast("double").as("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The three mutations (postings append; df merge-rename; batch
    // scalars + meta) are mutually independent — postings reads tf⋈
    // lens, the df merge reads old df + tf, meta reads lens — and ALL
    // sit inside the marker bracket, so a failure in any of them
    // leaves the same loud rebuild-required state regardless of which
    // others completed. They run CONCURRENTLY (Actions.inParallel);
    // the df.tmp write + rename-swap stays ONE action closure (the
    // rename must follow its own write). try/finally so a failure
    // cannot leak the two MEMORY_AND_DISK caches.
    try mutating(fs, gen) {
      Actions.inParallel(
        () => HotKeys.cap(tf.join(lens, Seq(idCol)), Seq(col("token")), cap.toInt,
            minPerKey = 1, metricName = "graft_bm25_posting_cap_append")
          .select(col(idCol), col("token"), col("tf"), col("len"),
            pmod(hash(col("token")), lit(tb)).cast("int").as("_tb"))
          .repartition(col("_tb"))
          .write.mode("append").partitionBy("_tb")
          .parquet(s"$gen/postings"),
        () => swapDf(fs, gen, old.dfT
          .unionByName(tf.groupBy("token").agg(count(lit(1)).as("df")))
          .groupBy("token").agg(sum("df").as("df"))),
        () => {
          val batchStats = lens.agg(count(lit(1)).cast("double").as("nb"),
            coalesce(sum(col("len")), lit(0.0)).as("sumb")).collect()(0)
          val n1 = n0 + batchStats.getDouble(0)
          writeMeta(spark, gen, n1,
            if (n1 == 0) 0.0 else (n0 * avg0 + batchStats.getDouble(1)) / n1,
            cap, tb, idCol)
        })
    } finally { tf.unpersist(); lens.unpersist(); () }
  }

  /** Delete documents from a persisted BM25 index WITHOUT rescanning
    * the standing corpus — the takedown/right-to-be-forgotten shape:
    * at 100 TB a removal request cannot cost a corpus re-tokenize, so
    * deletion is a TOMBSTONE plus vocabulary-sized df/meta repair, and
    * the bytes leave at the next `compactBm25Index` (which applies the
    * tombstones materially and clears them).
    *
    * `ids` is the doc-id frame to delete (one column, any name —
    * renamed to the index's id column; nulls and already-tombstoned
    * ids drop, so retries and overlapping requests are safe). The
    * mutation, bracketed by the same incomplete marker as the append
    * so a crash is LOUD, is: (1) append the new ids to `_tombstones/`
    * — probes anti-join it, so the docs stop scoring immediately;
    * (2) decrement the served generation's `df/` by each token's count
    * of deleted-doc posting rows (read from the postings themselves —
    * no corpus access) and rename-swap it; (3) recompute the two meta
    * scalars from the deleted docs' denormalized lengths
    * (n' = n − nD, avglen' = (n·avg − Σlen_deleted)/n').
    *
    * COMPLETENESS INVARIANT — why the probe's plain df-gate stays
    * sound, with no extra bookkeeping: decrements count only ON-DISK
    * rows, so at any moment
    * df = |surviving docs with on-disk rows| + |docs whose rows were
    * cap-dropped at their write| (cap-dropped docs never decrement —
    * they have no rows to count, whether deleted or not). Any write
    * that drops does so because ITS list alone exceeded the cap, so
    * a non-empty dropped set forces df > cap — the gate refuses.
    * Contrapositive: whenever `df <= max_postings`, no write ever
    * dropped this token, every surviving doc's row is physically
    * present, and df equals the true post-delete document frequency.
    * Served lists are therefore always complete with exact idf, and
    * probe results equal a fresh `writeBm25Index` over the corpus
    * minus the deleted docs — up to two honest conservatisms that
    * need a capped list to matter at all: a once-capped term stays
    * gated even if deletions brought its TRUE df back under the cap
    * (the rebuild would serve it; this index can't know the dropped
    * rows without re-tokenizing), and a deleted doc ALL of whose
    * terms were capped contributes length 0 to the avglen repair
    * (its true length is unknowable from the artifact; the doc still
    * leaves ndocs). Ids must currently be indexed — the same trust
    * contract as the append's disjointness (deleting a never-indexed
    * id over-decrements ndocs; deleting a zero-token doc is exact,
    * its true length IS 0).
    *
    * Cost: one probe of postings matched by the broadcast id set, one
    * vocabulary-sized df merge + rename, one meta rewrite — the
    * corpus never re-tokenizes. Writers: the marker excludes
    * concurrent appends/deletes; compaction cannot erase a racing
    * delete unapplied (it clears only the tombstone-file SNAPSHOT it
    * read — see `StandingIndex.rewrite`), and the compaction-lock check here
    * additionally keeps this delete's df rename-swap from yanking
    * files out from under a live compaction's lazy df scan (that
    * race fails the compaction loudly, never corrupts — the check
    * just avoids it). */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): Unit = {
    val (fs, gen, old) = open(spark, path)
    val (n0, avg0, cap, tb) = scalars(old, idCol)
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.mkString(", ")}")
    StandingIndex.refuseIfCompacting(fs, path,
      "deleting now could land tombstones the compaction clears without " +
        "applying; ")
    // new ids only: dedup the request and drop ids already tombstoned,
    // so a retried delete cannot double-decrement df/ndocs. Pinned
    // eagerly — it feeds the tombstone write, the df decrement and the
    // meta sums, and is delete-request-sized by contract.
    val newIds = StandingIndex.withoutTombstones(
      ids.select(col(ids.columns.head).as(idCol))
        .filter(col(idCol).isNotNull).distinct(),
      StandingIndex.tombstoneFiles(fs, path)).localCheckpoint(true)
    // refusable requests are refused BEFORE any mutation: nD and n0
    // are both known here, so a plainly bad request (more ids than
    // ndocs) must not tombstone/df-swap first and only then discover
    // the inconsistency inside the marker bracket — that would brick
    // a servable index into the rebuild-required state over a request
    // that should simply have been rejected
    val nD = newIds.count().toDouble
    if (nD == 0) return
    val n1 = n0 - nD
    require(n1 >= 0,
      s"delete of ${nD.toLong} ids would drive ndocs negative under " +
        s"$path — ids not currently indexed? Refused before any mutation")
    // The three mutations (tombstone append; df decrement-rename;
    // meta repair) are mutually independent and all inside the marker
    // bracket — a crash ANYWHERE leaves the same loud rebuild-required
    // state as a crashed append. The anti-join idempotency above
    // protects against duplicate COMPLETED requests, not against
    // crashes — partial mutations never serve. They run CONCURRENTLY
    // (same rationale as the build/append); the shared persisted
    // `matched` frame computes once under BlockManager's per-block
    // locks. Per-token decrements = the deleted docs' surviving
    // posting rows (one row per (doc, token)); per-doc lengths ride
    // the same matched rows, denormalized and equal across a doc's rows
    val matched = old.postings
      .join(broadcast(newIds), Seq(idCol), "left_semi")
      .select(col(idCol), col("token"), col("len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mutating(fs, gen) {
      Actions.inParallel(
        () => newIds.write.mode("append")
          .parquet(StandingIndex.tombstoneDir(path)),
        () => {
          val dec = matched.groupBy("token").agg(count(lit(1)).as("_dec"))
          swapDf(fs, gen, old.dfT
            .select(col("token"), col("df").as("_df0"))
            .join(dec, Seq("token"), "left")
            .select(col("token"),
              greatest(col("_df0") - coalesce(col("_dec"), lit(0L)), lit(0L)).as("df")))
        },
        // meta repair: nD counts the REQUESTED ids (exact for zero-token
        // docs, which have no rows but really do have length 0, and
        // checked against n0 BEFORE the marker); the length sum comes
        // from each matched doc's first posting row
        () => {
          val sumD = matched.groupBy(idCol).agg(first(col("len")).as("_l"))
            .agg(coalesce(sum("_l"), lit(0.0)).as("s")).collect()(0).getDouble(0)
          writeMeta(spark, gen, n1, if (n1 == 0) 0.0 else (n0 * avg0 - sumD) / n1,
            cap, tb, idCol)
        })
    } finally { matched.unpersist(); () }
  }

  /** Compact a persisted BM25 index's postings — the housekeeping
    * pass appends accumulate toward. Each `appendBm25Index` adds up
    * to `token_buckets` files per touched bucket plus whole-list
    * STALE rows for terms whose combined list only crossed the cap
    * after the append (correctly df-gated at probe, so results are
    * right — but the bytes stay, and after N appends a probe reads N
    * stripes per bucket). Compaction writes the next generation with
    * the probe's own exclusions applied MATERIALLY to its `postings/`
    * — the df-gate (`df <= max_postings`) and the delete tombstones —
    * with one output file per bucket; `df/` and `meta/` are
    * vocabulary-sized and copy over unchanged, so probe results are
    * bit-identical before and after — only the bytes and file counts
    * shrink back to what a fresh rebuild writes.
    * `deleteFromBm25Index` tombstones clear AFTER the swap (only the
    * file snapshot this compaction applied); cleared ids' rows have
    * left the postings for real, and those ids become re-addable.
    *
    * Two rules suffice, no re-cap pass: a token passing the df-gate
    * has a COMPLETE surviving list on disk (the completeness
    * invariant on `deleteFromBm25Index` — a gate-passing token never
    * had a write dropped), so its rows minus the tombstoned ones are
    * exactly the fresh-rebuild list, while every gated token drops
    * whole. Cost: one read + write of the postings (bucket-partitioned
    * both ways, the df semi-join shuffles only the vocabulary-sized
    * key set) plus two small file copies — much cheaper than a
    * rebuild, which re-tokenizes the corpus.
    *
    * Crash-safety is `StandingIndex.rewrite`'s versioned swap: the
    * compacted generation lands in a fresh `bm25_vN/` beside the
    * served one and publishes with one atomic pointer create, so a
    * crash at ANY step boundary leaves a probe-consistent index.
    * Cadence guidance: measure with `bm25IndexStats` (probe cost
    * grows ~linearly in stripes-per-bucket; compact when
    * `maxStripesPerBucket` approaches the per-bucket read
    * parallelism, or when `staleRows` is a material fraction of
    * `rows`). */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (fs, gen, old) = open(spark, path)
    val cap = old.meta.select("max_postings").collect()(0).getLong(0)
    StandingIndex.rewrite(fs, path, StandingIndex.Bm25) { (dir, tombSnapshot) =>
      // the probe's own exclusions, applied MATERIALLY: the df-gate
      // and the delete tombstones of the rewrite's snapshot. One
      // task's output per bucket dir, and the zero-survivor case
      // (every token over-cap) still writes a readable schema-sentinel
      // file
      writePostingsBucketed(StandingIndex.withoutTombstones(old.postings.join(
        old.dfT.filter(col("df") <= cap).select("token"), Seq("token"),
        "left_semi"), tombSnapshot), s"$dir/postings")
      Seq("df", "meta").foreach(t => org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$gen/$t"), fs,
        new org.apache.hadoop.fs.Path(s"$dir/$t"), false, fs.getConf))
      Some(())
    }
    ()
  }

  /** Lifecycle telemetry for a persisted BM25 index, read from the
    * artifact alone — the numbers the compaction-cadence decision
    * needs (SCALE.md): `maxStripesPerBucket` is the probe's
    * worst-case files-opened-per-bucket (each append adds a stripe;
    * compaction returns it to 1), `staleRows` counts the on-disk
    * posting rows the probe's peak-df gate skips (terms whose
    * combined list crossed `max_postings` at some point — bytes
    * compaction reclaims), `tombstonedIds`/`tombstonedRows` count the
    * deleted-but-uncompacted docs and their still-on-disk posting
    * rows (probes anti-join them per query; compaction removes them
    * for real — a growing tombstone set is the other compact-now
    * signal), `bytes`/`files` size the artifact. Cost: one filesystem
    * walk of the postings dir plus one postings⋈df read — no corpus
    * access, no tokenization. */
  final case class Bm25IndexStats(postingsDir: String, buckets: Long,
      files: Long, maxStripesPerBucket: Long, bytes: Long,
      rows: Long, staleRows: Long, ndocs: Double, avglen: Double,
      tombstonedIds: Long = 0L, tombstonedRows: Long = 0L)

  def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25IndexStats = {
    val (fs, gen, idx) = open(spark, path)
    val dir = s"$gen/postings"
    val (files, bytes, perBucket) = StandingIndex.dataFiles(fs, dir)
    val cap = idx.meta.select("max_postings").collect()(0).getLong(0)
    val metaRow = idx.meta.select("ndocs", "avglen").collect()(0)
    // total rows + stale rows (df-gate misses); the null-token schema
    // sentinel (writePostingsBucketed) is not a posting and never
    // probes — exclude it from the row counts
    val postings = idx.postings.filter(col("token").isNotNull)
    val row = postings
      .join(broadcast(idx.dfT.filter(col("df") > cap)
        .select(col("token"), lit(1).as("_stale"))), Seq("token"), "left")
      .agg(count(lit(1)).as("rows"), count(col("_stale")).as("stale"))
      .collect()(0)
    val (tombIds, tombRows) = StandingIndex.tombstoneCounts(postings,
      StandingIndex.tombstoneFiles(fs, path))
    Bm25IndexStats(dir, perBucket.size.toLong, files,
      if (perBucket.isEmpty) 0L else perBucket.values.max,
      bytes, row.getLong(0), row.getLong(1),
      metaRow.getDouble(0), metaRow.getDouble(1), tombIds, tombRows)
  }

  /** LIVE retrieval against the persisted index — the stream twin the
    * other retrieval families here already have (dedup's
    * streamNearDupFilter, the semantic tiers). A BM25 probe ends in a
    * per-query top-k window over a (query, doc) aggregation, which
    * Append-mode streaming cannot express, so the honest shape is
    * per-micro-batch: each arriving query batch runs the ordinary
    * `bm25TopKFromIndex` plan — probe-sized broadcasts, DPP-pruned
    * postings read, results identical to the batch call on the same
    * rows — and `sink` receives (results, batchId). Returns the
    * configured writer; the caller picks trigger/checkpoint and
    * calls `.start()`. Per-batch cost follows the BATCH (its terms'
    * buckets), never the corpus — the serving property the persisted
    * index exists for. */
  def bm25ServeStream(queries: DataFrame, index: Bm25Index,
      qTextCol: String, qIdCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(queries.isStreaming,
      "bm25ServeStream takes a STREAMING query frame — for batch queries call bm25TopKFromIndex")
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(bm25TopKFromIndex(index, batch, qTextCol, qIdCol, k, k1, b), batchId)
    }
  }

  /** BM25 top-k retrieval FROM a persisted index — same scores, ranks
    * and output shape as `bm25TopK` (Okapi, Lucene-style idf, rounded
    * rank cut), but the corpus never tokenizes: the probe is ONE
    * DPP-pruned scan of `postings/` (only the query terms' bucket
    * directories are read) with the query's distinct (query, token)
    * pairs broadcast into it, one scan of `df/` filtered the same
    * way into a broadcast query-term df table, the one-row meta
    * riding the usual broadcast cross join, then the per-query top-k
    * window. The only shuffle is the final (query, doc)
    * partial-aggregated groupBy, bounded by queries × matched docs —
    * at 100 TB the expensive postings build is paid once in
    * `writeBm25Index`, and each query batch costs a few-bucket read.
    *
    * The df-gate (`df <= max_postings`) mirrors the build-time cap so
    * appended indexes score identically to a fresh rebuild — see
    * `writeBm25Index`. */
  def bm25TopKFromIndex(index: Bm25Index, queries: DataFrame,
      qTextCol: String, qIdCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // the id is aliased to a working name BEFORE the token/weight
    // columns appear, so a query id literally named "token" or
    // "weight" cannot collide with them; the output rename restores
    // the probe family's naming contract (q_<name> on idCol clash)
    bm25TopKTerms(index,
      queries.select(col(qIdCol).as("_rmq"), explode(toks(qTextCol)).as("_rmt"))
        .distinct().withColumn("_rmw", lit(1.0)),
      "_rmq", k, tokenCol = "_rmt", weightCol = "_rmw", k1 = k1, b = b)
      .withColumnRenamed("_rmq",
        if (qIdCol == index.idCol) s"q_$qIdCol" else qIdCol)

  /** BM25 top-k from EXPLICIT weighted query terms — the primitive
    * the text probe reduces to (every distinct query token at weight
    * 1.0) and the shape query EXPANSION needs (`rm3ExpandTerms`
    * emits weighted term frames): each term's contribution to the
    * Okapi sum is scaled by its weight, so score(q, d) =
    * Σ_t w_t · idf_t · tf·(k1+1)/norm. Duplicate (query, token)
    * rows collapse ADDITIVELY (what makes combining an original-
    * query part with an expansion part a plain union); null/empty
    * tokens and non-positive weights drop. Same plan shape, df-gate,
    * DPP-pruned postings read, and rounded rank cut as the text
    * probe. */
  def bm25TopKTerms(index: Bm25Index, terms: DataFrame, qIdCol: String,
      k: Int, tokenCol: String = "token", weightCol: String = "weight",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0 and b in [0,1], got ($k1, $b)")
    require(qIdCol != tokenCol && qIdCol != weightCol,
      s"qIdCol '$qIdCol' collides with tokenCol/weightCol")
    val idCol = index.idCol
    val qTokens0 = terms
      .select(col(qIdCol).as("_qid"), col(tokenCol).as("token"),
        col(weightCol).cast("double").as("_tw"))
      // the non-empty filter is also the "likely selective" predicate
      // Spark's PartitionPruning rule requires on the filtering side
      // before it will inject a DPP subquery — without it a caller
      // passing an unfiltered frame loses the partition pruning below
      .filter(col("_qid").isNotNull && col("token").isNotNull &&
        col("token") =!= "" && col("_tw").isNotNull && col("_tw") > 0)
      .groupBy("_qid", "token").agg(sum("_tw").as("_tw"))
    // bucketed index: tag each query token with its postings
    // partition (same pmod(hash) as the build — the bucket count
    // rides the one-row meta, so the plan stays lazy) and join on it
    // too; the broadcast join over the partition column is what lets
    // dynamic partition pruning skip every directory holding no
    // query-term postings
    val hasTb = index.postings.columns.contains("_tb")
    val qTokens = if (!hasTb) qTokens0 else qTokens0
      .crossJoin(broadcast(index.meta.select(col("token_buckets").as("_tbk"))))
      .withColumn("_tb", pmod(hash(col("token")), col("_tbk")).cast("int"))
      .drop("_tbk")
    val joinKeys = if (hasTb) Seq("_tb", "token") else Seq("token")
    val scalars = index.meta.select(col("ndocs").as("_n"),
      col("avglen").as("_avglen"), col("max_postings").as("_maxp"))
    // query-term df: the vocab-sized df table scanned once, filtered
    // map-side by the broadcast query terms, df-gated — tiny result,
    // broadcast back into the postings scan (the gate stays sound
    // under deletes: see deleteFromBm25Index's completeness invariant)
    val qdf = index.dfT
      .join(broadcast(qTokens.select("token").distinct()), Seq("token"))
      .crossJoin(broadcast(scalars.select("_maxp")))
      .filter(col("df") <= col("_maxp"))
      .select(col("token"), col("df").as("_df"))
    val outQ = if (qIdCol == idCol) s"q_$qIdCol" else qIdCol
    val idf = log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("len") / col("_avglen"))
    // deleted-but-uncompacted docs leave via a broadcast anti-join on
    // the tombstones, applied AFTER the query-term match so it touches
    // probe-sized rows, not the postings scan (the tombstone set is
    // delete-request-sized; a delete set too large to broadcast is the
    // signal to compact, which clears it)
    val matched0 = index.postings.join(broadcast(qTokens), joinKeys)
    val matched = index.tombstones match {
      case Some(ts) => matched0.join(
        broadcast(ts.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
      case None => matched0
    }
    matched
      .join(broadcast(qdf), Seq("token"))
      .crossJoin(broadcast(scalars.select("_n", "_avglen")))
      .groupBy(col("_qid"), col(idCol))
      .agg(sum(col("_tw") * idf * col("tf") * (lit(k1) + 1.0) / norm).as("_score"))
      // rounded rank cut for the same reproducibility reason as
      // bm25TopK: a float sum's last ulp depends on addition order
      .withColumn("score", round(col("_score"), 4))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("_qid").orderBy(desc("score"), col(idCol))))
      .filter(col("rank") <= k)
      .select(col("_qid").as(outQ), col(idCol), col("score"), col("rank"))
  }

  /** RM3 pseudo-relevance-feedback expansion (public knowledge:
    * Lavrenko & Croft relevance models; the Anserini/Indri default) —
    * the "my query missed the vocabulary" fix a retrieval loop
    * reaches for right after BM25: probe the index, treat the top
    * `fbDocs` hits as pseudo-relevant, mine their dominant terms, and
    * emit a WEIGHTED term frame mixing the original query with the
    * expansion at `alpha` — ready for `bm25TopKTerms` (which is what
    * `bm25Rm3TopK` composes).
    *
    * Weights, all deterministic-rounded so the whole expansion
    * replays cross-engine: feedback doc d gets relevance
    * w_d = score_d / Σ score (BM25 scores are positive); expansion
    * term weight = round6(Σ_d w_d · tf_{t,d}/dl_d) with the top
    * `fbTerms` kept by (rounded weight, token); the original query
    * contributes its MLE round6(alpha · qtf/|q|), the expansion
    * (1−alpha)·round6(weight); terms in both parts sum additively in
    * the probe. alpha = 1 keeps pure original-query weighting.
    *
    * `corpus` is the PRIMARY doc store (idCol + textCol): the
    * feedback docs' term vectors come from an id-pushdown fetch of
    * |queries|·fbDocs rows — the postings artifact is token-keyed, so
    * reading it by doc would be a corpus-sized scan, exactly what the
    * index route exists to avoid. Everything else is feedback-sized:
    * one index probe, one tiny fetch + tokenize, one per-query window
    * over candidate expansion terms. */
  def rm3ExpandTerms(index: Bm25Index, corpus: DataFrame, textCol: String,
      queries: DataFrame, qTextCol: String, qIdCol: String,
      fbDocs: Int = 10, fbTerms: Int = 10, alpha: Double = 0.5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 1, s"fbTerms must be >= 1, got $fbTerms")
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    require(qIdCol != "token" && qIdCol != "weight",
      s"qIdCol '$qIdCol' collides with the output term-frame column names")
    val idCol = index.idCol
    val outQ = if (qIdCol == idCol) s"q_$qIdCol" else qIdCol
    val w = org.apache.spark.sql.expressions.Window.partitionBy("_qid")
    val orig = queries
      .select(col(qIdCol).as("_qid"), explode(toks(qTextCol)).as("token"))
      .groupBy("_qid", "token").agg(count(lit(1)).as("_qtf"))
      .withColumn("_qlen", sum("_qtf").over(w))
      .select(col("_qid"), col("token"),
        round(lit(alpha) * col("_qtf") / col("_qlen"), 6).as("weight"))
    if (alpha == 1.0) orig.select(col("_qid").as(qIdCol), col("token"), col("weight"))
    else {
      val fb = bm25TopKFromIndex(index, queries, qTextCol, qIdCol,
          fbDocs, k1, b)
        .select(col(outQ).as("_qid"), col(idCol), col("score"))
      // _ws > 0 guard: ROUNDED feedback scores can all be 0.0000 for
      // a near-stop-word query on a huge corpus — 0/0 relevance
      // weights would be NaN, which sorts FIRST under desc through
      // the fbTerms cut and then silently vanishes at the probe's
      // weight filter, with engines disagreeing along the way. Such
      // a query deterministically gets NO expansion (orig-only).
      // localCheckpoint (eager): wdoc feeds the fetch semi-join AND
      // the expansion aggregation, and `terms` below feeds THREE
      // references inside the weighted probe — without pinning, the
      // whole feedback probe and corpus fetch would lazily re-execute
      // per reference (measured: 20 postings scans in one action).
      // Both frames are tiny by contract (|queries|·fbDocs and
      // |queries|·(qterms+fbTerms) rows), and no observe nodes sit
      // below them.
      val wdoc = fb.withColumn("_ws", sum("score").over(w))
        .filter(col("_ws") > 0)
        .select(col("_qid"), col(idCol), (col("score") / col("_ws")).as("_wd"))
        .localCheckpoint(true)
      // the fetch: |queries| x fbDocs ids against the primary store
      val fbTf = corpus
        .join(broadcast(wdoc.select(idCol).distinct()), Seq(idCol), "left_semi")
        .select(col(idCol), explode(toks(textCol)).as("token"))
        .groupBy(idCol, "token").agg(count(lit(1)).as("_tf"))
      val dl = fbTf.groupBy(idCol).agg(sum("_tf").as("_dl"))
      val expTop = fbTf.join(dl, Seq(idCol)).join(wdoc, Seq(idCol))
        .groupBy("_qid", "token")
        .agg(round(sum(col("_wd") * col("_tf") / col("_dl")), 6).as("_ew"))
        .withColumn("_rn", row_number().over(
          w.orderBy(desc("_ew"), col("token"))))
        .filter(col("_rn") <= fbTerms)
        .select(col("_qid"), col("token"),
          (lit(1.0) - lit(alpha)) * col("_ew") as "weight")
      orig.unionByName(expTop)
        .select(col("_qid").as(qIdCol), col("token"), col("weight"))
        .localCheckpoint(true)
    }
  }

  /** BM25 + RM3 in one call: expand with `rm3ExpandTerms`, probe with
    * `bm25TopKTerms` — retrieve → mine feedback vocabulary →
    * re-retrieve with the mixed weighted query. Same output shape and
    * rounded rank cut as every probe; chain `Similarity.rrfFuse` /
    * `mmrRerank` behind it like any other shortlist. */
  def bm25Rm3TopK(index: Bm25Index, corpus: DataFrame, textCol: String,
      queries: DataFrame, qTextCol: String, qIdCol: String, k: Int,
      fbDocs: Int = 10, fbTerms: Int = 10, alpha: Double = 0.5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKTerms(index,
      rm3ExpandTerms(index, corpus, textCol, queries, qTextCol, qIdCol,
        fbDocs, fbTerms, alpha, k1, b),
      qIdCol, k, k1 = k1, b = b)
}

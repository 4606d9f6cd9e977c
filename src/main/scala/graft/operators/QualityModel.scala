package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier over hashed bag-of-tokens features —
  * the learned quality filter the public pipeline recipes reach for
  * once per-row heuristics (q32) and corpus-statistics scores
  * (unigram/bigram LM) stop separating: label a small reference set
  * (curated prose = 1) against raw crawl (= 0), train a LOGISTIC
  * model on hashed token features, and score every crawl doc — the
  * CCNet-/GPT-3-style reference-vs-crawl filter, re-expressed
  * Spark-first.
  *
  * Design choices, all scale- or replay-driven:
  *   - FEATURE HASHING (the "hashing trick"): token → md5-derived
  *     index in [0, dims), value tf/len (L1-normalized counts). The
  *     feature space is fixed-width, so the weight table is
  *     dims-sized (KBs — broadcastable), never vocabulary-sized, and
  *     md5 (not Murmur) keeps every index reproducible in ANY engine
  *     — the same device as every md5 draw in Mixing.
  *   - Hand-rolled batch GRADIENT DESCENT as a bounded driver loop of
  *     DataFrame aggregations, exactly the house trainer style
  *     (k-means, PQ, OPQ, BPE): per iteration ONE feature-keyed
  *     shuffle computes the gradient (full map-side partial
  *     aggregation), the updated weights broadcast back. No RNG
  *     anywhere (zero init, deterministic data order irrelevance:
  *     per-feature sums), so training is REPRODUCIBLE and
  *     repartition-stable.
  *   - Weights and margins round to 6dp at every step boundary, so a
  *     small-fixture training run REPLAYS bit-for-bit as unrolled SQL
  *     (the q121/q129 device — q135 pins two unrolled iterations plus
  *     scoring in DuckDB).
  *
  * Scale shape: featurize is one explode + one (doc, feature)
  * aggregation; each training iteration is one broadcast join + one
  * doc-keyed margin aggregation + one feature-keyed gradient
  * aggregation — iterations are few (logistic on hashed features
  * converges in single digits), and nothing is ever collected but the
  * dims-sized weight table. Scoring is the same join + margin
  * aggregation, one pass, no driver loop. */
object QualityModel {

  /** A trained linear model: `weights` rows (feature: Int, w: Double)
    * for the NON-ZERO features (absent = 0.0), plus the intercept.
    * KB-sized. `losses` is the convergence telemetry `train`
    * returns: the mean logistic loss at the START of each iteration
    * (losses(0) = ln 2 exactly under zero init), round6 like every
    * other step boundary — a non-decreasing tail means the learning
    * rate is too hot or the labels carry no signal. */
  final case class LinearModel(weights: Seq[(Int, Double)], bias: Double,
      dims: Int, losses: Seq[Double] = Nil)

  private def toks(c: String) =
    filter(split(col(c), " "), t => t =!= "")

  /** Engine-portable feature index: first 4 hex chars of md5(token)
    * mod `dims` — replays as
    * ('0x' || substr(md5(t),1,4))::INT % dims in DuckDB. 16 bits of
    * hash before the mod: dims above 65536 would leave indexes
    * unreachable, which the train/score requires guard against. */
  private def featIdx(token: Column, dims: Int): Column =
    pmod(conv(substring(md5(token), 1, 4), 16, 10).cast("int"), lit(dims))

  /** Per-doc hashed features: (idCol, _f, _x) with _x = tf / len —
    * L1-normalized counts, so margins are bounded by max|w| and no
    * document dominates the gradient by sheer length. Zero-token docs
    * contribute no rows (their margin is the bias alone). The length
    * attaches ROW-LOCALLY (size() before the explode) — no window,
    * so the whole featurizer is one explode + one (doc, feature)
    * aggregation, the scale shape SCALE.md states. */
  private def featurize(docs: DataFrame, textCol: String, idCol: String,
      dims: Int): DataFrame =
    docs.select(col(idCol),
        size(toks(textCol)).cast("double").as("_len"),
        explode(toks(textCol)).as("_t"))
      .groupBy(col(idCol), featIdx(col("_t"), dims).as("_f"))
      .agg((count(lit(1)) / first(col("_len"))).as("_x"))

  /** Train by full-batch gradient descent with L2: per iteration,
    * w ← round6(w − lr·(Σ_d (p_d − y_d)·x_{d,f} / n + l2·w)), bias the
    * same with x ≡ 1 — over EVERY labeled doc, including zero-token
    * ones, whose margin is the bias alone (they carry no feature
    * gradient but do push the bias, the true logistic gradient);
    * margins round to 6dp before the sigmoid. Labels must be 0/1
    * (checked); null-label rows are ignored WITHOUT being tokenized
    * (train over "huge frame, small labeled sample" costs the
    * sample). Init is all-zero, so iteration 1's p = 0.5 exactly —
    * which is what lets the unrolled SQL replay start exact. Returns
    * the model with per-iteration convergence telemetry
    * (`LinearModel.losses` — the mean logistic loss BEFORE each
    * update, from the same margins the gradient used, so it costs
    * nothing extra); nothing corpus-sized ever reaches the driver
    * (per-iteration collect is the dims-sized non-zero weight table
    * plus two sentinel rows). Each iteration is ONE Spark action:
    * the margin frame persists and the feature gradient, bias
    * gradient and loss fuse into a single grouped aggregation under
    * sentinel feature ids.
    *
    * `stopDelta` makes the loss telemetry ACTIONABLE: when set, the
    * loop halts as soon as an update bought less than `stopDelta` of
    * round6 loss (or made it worse — the divergence signal), without
    * applying the iteration's own update, and returns WHICHEVER of
    * the final two iterates measured the lower loss: a plateau keeps
    * the current weights; a divergence rolls back one iterate (the
    * trainer measured both losses anyway, so the better model is
    * free — returning the strictly-worse diverged iterate would
    * betray the telemetry that detected it). Either way the result
    * equals a `stopDelta=None` run at the matching iteration count.
    * `losses` always carries every loss actually measured (length =
    * iterations measured, not `iters`). None (the default) preserves
    * the fixed-`iters` behavior bit-for-bit — the replayable-oracle
    * trainings keep their exact unrolled depth. One driver-side
    * comparison per iteration; no extra Spark work. */
  def train(docs: DataFrame, textCol: String, labelCol: String,
      idCol: String = "doc_id", dims: Int = 4096, iters: Int = 5,
      lr: Double = 1.0, l2: Double = 0.0,
      stopDelta: Option[Double] = None): LinearModel = {
    require(dims >= 1 && dims <= 65536,
      s"dims must be in [1, 65536] (16 hash bits feed the mod), got $dims")
    require(!Set("_f", "_x", "_y", "_t", "_len", "_m", "_p", "_r", "_w")
        .contains(idCol),
      s"idCol '$idCol' collides with the trainer's internal column names")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    require(l2 >= 0, s"l2 must be >= 0, got $l2")
    require(stopDelta.forall(_ >= 0),
      s"stopDelta must be >= 0 (minimum round6-loss improvement to " +
        s"continue), got $stopDelta")
    val spark = docs.sparkSession
    import spark.implicits._
    // unlabeled rows never tokenize: the label filter runs BEFORE the
    // featurizer, so training over "huge frame, small curated labeled
    // sample" pays only for the sample
    val labeledDocs = docs.filter(col(labelCol).isNotNull)
    val labeled = labeledDocs
      .select(col(idCol), col(labelCol).cast("double").as("_y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val feats = featurize(labeledDocs, textCol, idCol, dims)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // null-safe (<=>) on purpose: a non-null label like the string
      // 'yes' passes the isNotNull filter above but CASTS to null —
      // under plain =!= its null predicate would skip the bad-count,
      // and the doc would inflate n while contributing a silently
      // ignored null residual (skewing the effective learning rate)
      // one action for both guards (r17: was two separate counts —
      // each a full pass over the labeled frame before it is cached)
      val guardRow = labeled.agg(
        count(lit(1)).as("_n"),
        coalesce(sum(when(!(col("_y") <=> 0.0) && !(col("_y") <=> 1.0), 1L)
          .otherwise(0L)), lit(0L)).as("_bad")).collect()(0)
      val nBad = guardRow.getLong(1)
      require(nBad == 0,
        s"labels must be 0/1 after the double cast; $nBad rows are neither " +
          "(non-numeric labels cast to null)")
      val n = guardRow.getLong(0).toDouble
      require(n > 0, "no labeled rows to train on")
      var w = Map.empty[Int, Double]
      var bias = 0.0
      // one-iterate history for the divergence rollback below
      var prevW = w
      var prevBias = bias
      val losses = scala.collection.mutable.ListBuffer.empty[Double]
      var it = 0
      var halted = false
      while (it < iters && !halted) {
        it += 1
        val wDf = broadcast(
          (if (w.isEmpty) Seq((-1, 0.0)) else w.toSeq) // never-empty literal
            .toDF("_f", "_w"))
        // margins for EVERY labeled doc — zero-token docs (no feature
        // rows) margin at the bias alone, so the bias gradient really
        // is "x ≡ 1 for every doc" as documented. One broadcast join
        // + one doc-keyed sum; the per-doc margin rounds BEFORE the
        // sigmoid so the replay is exact across engines. PERSISTED:
        // the frame feeds the feature gradient, the bias gradient and
        // the loss — without the pin the join + doc-keyed aggregation
        // would re-execute per consumer
        val featSums = feats
          .join(wDf, Seq("_f"), "left")
          .groupBy(idCol)
          .agg(coalesce(sum(col("_x") * col("_w")), lit(0.0)).as("_fm"))
        val margins = labeled
          .join(featSums, Seq(idCol), "left")
          .withColumn("_m", round(coalesce(col("_fm"), lit(0.0)) + lit(bias), 6))
          .withColumn("_p", lit(1.0) / (lit(1.0) + exp(-col("_m"))))
          .withColumn("_r", col("_p") - col("_y"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // ONE action per iteration: the feature gradient (grouped by
          // _f >= 0), the bias gradient (x ≡ 1, sentinel _f = -1) and
          // the pre-update logistic loss (sentinel _f = -2) fuse into
          // a single grouped aggregation — featIdx is non-negative by
          // construction, so the sentinels can never collide
          val rows = feats
            .join(margins.select(col(idCol), col("_r")), Seq(idCol))
            .select(col("_f"), (col("_r") * col("_x")).as("_v"))
            .unionByName(margins.select(lit(-1).as("_f"), col("_r").as("_v")))
            .unionByName(margins.select(lit(-2).as("_f"), {
              // per-doc logistic loss in the SOFTPLUS form
              // ln(1 + e^((1-2y)·m)) — algebraically equal to
              // −(y·ln p + (1−y)·ln(1−p)) but never NULL/∞: at a hot
              // lr the sigmoid saturates to exactly 1.0/0.0 in double
              // and log(0) is NULL in Spark, which would silently
              // DROP the misclassified doc from the loss sum in
              // exactly the divergence case the telemetry exists to
              // reveal; past z=30 softplus(z) = z to double precision
              val z = (lit(1.0) - lit(2.0) * col("_y")) * col("_m")
              when(z > 30.0, z).otherwise(log1p(exp(z))).as("_v")
            }))
            .groupBy("_f").agg(sum(col("_v")).as("_g"))
            .collect()
            .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
            .toMap
          val grad = rows.filter(_._1 >= 0)
          val biasGrad = rows.getOrElse(-1, 0.0)
          losses += BigDecimal(rows.getOrElse(-2, 0.0) / n)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          // loss-driven early stop: L_t is the loss BEFORE update t,
          // so (L_{t-1} - L_t) prices exactly what update t-1 bought.
          // Under delta (or negative — the documented divergence
          // signal), stop WITHOUT applying this iteration's update:
          // the returned weights are the ones whose loss plateaued,
          // and `losses` carries every loss actually measured — the
          // telemetry turned actionable instead of post-hoc
          if (stopDelta.isDefined && losses.length >= 2 &&
              losses(losses.length - 2) - losses.last < stopDelta.get) {
            halted = true
            // divergence ROLLBACK: the halt fired because the last
            // applied update bought less than delta — when it
            // actually made the loss WORSE, the previous iterate is
            // the better model and the trainer just measured both, so
            // return the one with the lower measured loss (zero extra
            // Spark work; a plateau keeps the current iterate)
            if (losses.last > losses(losses.length - 2)) {
              w = prevW
              bias = prevBias
            }
          } else {
            prevW = w
            prevBias = bias
            val keys = (w.keySet ++ grad.keySet).toSeq
            w = keys.map { f =>
              val cur = w.getOrElse(f, 0.0)
              val g = grad.getOrElse(f, 0.0) / n + l2 * cur
              f -> BigDecimal(cur - lr * g)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            }.filter(_._2 != 0.0).toMap
            bias = BigDecimal(bias - lr * (biasGrad / n + l2 * bias))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }
        } finally { margins.unpersist(); () }
      }
      LinearModel(w.toSeq.sortBy(_._1), bias, dims, losses.toList)
    } finally { feats.unpersist(); labeled.unpersist(); () }
  }

  /** Score a frame under a trained (or fixed) model, ROW-LOCALLY:
    * the margin Σ_f w_f·tf_f/len regroups as
    * Σ_token w(h(token))/len, so scoring is one codegen'd pass — the
    * dims-sized weight MAP rides the plan as a literal, each token
    * looks its weight up in place, and the per-row array aggregate
    * replaces the join + doc-keyed shuffle entirely. Zero exchanges
    * means the 100 TB scoring pass is embarrassingly parallel AND
    * the gate is stream-legal verbatim (no aggregation, no state —
    * the same argument as the stream LM gate). Appends `outCol` =
    * round6(σ(round6(margin + bias))); zero-token (and null-text)
    * docs score σ(bias). The margin rounds before the sigmoid for
    * the same cross-engine replay reason as training (the per-row
    * token order is deterministic, so the score is too).
    *
    * Serving/training parity caveat: this regrouping sums PER TOKEN
    * (w/len each step, in token order) while training sums PER
    * FEATURE ((tf/len)·w, in aggregation order). The two sums are
    * equal in real arithmetic but can differ by an ULP in floating
    * point, and round6 at the margin can then flip the last digit at
    * an exact rounding tie. No serving shape can close this gap
    * bitwise, because training's OWN feature-sum order is
    * partial-aggregation-order dependent (Spark does not fix float
    * addition order across partitions) — the parity is empirical
    * (hash-pinned on the q135 fixture), guaranteed-to-6dp only away
    * from exact .0000005 margin ties. */
  def withQualityScore(df: DataFrame, model: LinearModel, textCol: String,
      outCol: String = "quality_score"): DataFrame = {
    require(!df.columns.exists(_.equalsIgnoreCase(outCol)),
      s"input column '$outCol' collides with the score output; pass a different outCol")
    // scoring-path ceiling, tighter than train's dims bound: the
    // weight map rides the plan as a LITERAL (that is what makes the
    // pass zero-exchange and stream-legal), and past a few tens of
    // thousands of entries the generated code risks constant-pool /
    // 64KB-method-size fallback to interpreted evaluation — the
    // quiet 10x nobody notices until the 100 TB pass. Train filters
    // exact zeros already; past this bound, retrain with fewer dims
    // or l2 > 0 (which drives small weights to zero)
    require(model.weights.size <= 32768,
      s"model carries ${model.weights.size} non-zero weights — the " +
        "row-local scorer inlines them as a plan literal and is bounded " +
        "at 32768 entries; retrain with smaller dims or l2 > 0")
    val ts = toks(textCol)
    val len = size(ts)
    val tokenSum =
      if (model.weights.isEmpty) lit(0.0)
      else aggregate(ts, lit(0.0), (acc, t) =>
        acc + coalesce(
          element_at(typedLit(model.weights.toMap), featIdx(t, model.dims)),
          lit(0.0)))
    val m = round(
      when(len > 0, tokenSum / len).otherwise(lit(0.0)) + lit(model.bias), 6)
    df.withColumn(outCol, round(lit(1.0) / (lit(1.0) + exp(-m)), 6))
  }

  /** Score docs under a trained (or fixed) model — delegates to the
    * row-local `withQualityScore` (idCol is retained for source
    * compatibility; the scorer no longer keys on it). */
  def score(docs: DataFrame, model: LinearModel, textCol: String,
      idCol: String = "doc_id", scoreCol: String = "score"): DataFrame =
    withQualityScore(docs, model, textCol, scoreCol)

  /** Calibrate a gate threshold to the OBSERVED score distribution —
    * the CCNet percentile-bucket move, and the correct way to set
    * `Config.minQualityScore`: L1-normalized hashed features keep
    * every margin tight around the bias, so a fixed threshold (0.5)
    * typically sits entirely above or below the score cluster and
    * flips on nothing; the q-quantile of a reference scoring pass
    * (median by default — keep the better half) bites by
    * construction at any corpus size. Exact percentile with the
    * standard (n−1)·q interpolation — the same definition DuckDB's
    * quantile_cont uses, so a calibrated threshold replays
    * bit-for-bit in the q138 oracle. Round6 like every score. One
    * aggregation over the scored frame; run it on the labeled/
    * reference sample, not the full corpus. */
  def calibrateThreshold(scored: DataFrame,
      scoreCol: String = "quality_score", quantile: Double = 0.5): Double = {
    require(quantile >= 0.0 && quantile <= 1.0,
      s"quantile must be in [0, 1], got $quantile")
    // backtick-quoted: a dotted or spaced column name must resolve as
    // a COLUMN (the col()-based sibling APIs accept those), never as
    // a struct-field path or a parse error. A name CONTAINING a
    // backtick would break out of that quoting (parse error at best,
    // misresolution at worst) — refuse it rather than interpolate it
    require(!scoreCol.contains("`"),
      s"scoreCol '$scoreCol' contains a backtick — it cannot be safely " +
        "quoted into the percentile expression; rename the column")
    val v = scored.agg(
        expr(s"percentile(`$scoreCol`, $quantile)").as("_t"))
      .collect()(0)
    require(!v.isNullAt(0),
      s"no non-null '$scoreCol' values to calibrate on")
    BigDecimal(v.getDouble(0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Evaluation harness for a scored frame against held-out 0/1
    * labels — the classifier twin of the retrieval stack's
    * `rankMetrics`/`recallAtK`, answering "is the gate any good"
    * from one pass: confusion-matrix metrics at the gate `threshold`
    * (the same `>=` the facade's qmGateAt applies) plus threshold-free
    * AUC via the Mann–Whitney rank statistic with AVERAGE ranks over
    * ties — integer/half-integer arithmetic end to end, so the
    * number replays exactly in any engine (the q125 device applied
    * to classification).
    *
    * Compose with `Mixing.splitByGroup`: an eval cut drawn per-id
    * over a corpus with near-duplicates OVERSTATES quality (the
    * held-out doc's near-twin sat in training — the classifier has
    * effectively seen the answer), so cut by near-dup cluster /
    * domain group and evaluate the held-out groups only.
    *
    * Scale shape: one groupBy on the (round6) score, one ordered
    * cumulative pass over the DISTINCT scores (bounded by 6dp
    * rounding, not by corpus size — the lone single-partition window
    * is distinct-score-sized), one global aggregate. Labels validate
    * under train's null-safe 0/1 rule. Returns ONE row: (n, n_pos,
    * n_neg, accuracy, precision, recall, f1, auc) — ratio metrics
    * round6; precision/f1 null when nothing was predicted positive,
    * recall null when n_pos = 0, auc null when either class is
    * empty. */
  def evalModel(scored: DataFrame, labelCol: String,
      scoreCol: String = "quality_score", threshold: Double = 0.5): DataFrame = {
    val spark = scored.sparkSession
    // persisted: the validation aggregate and the metrics aggregate
    // are two actions, and without the pin the caller's whole scored
    // plan (typically a full withQualityScore pass plus joins) would
    // execute twice — the same reason train() pins its margins
    // round6 ON ENTRY: the distinct-score bound the ordered pass's
    // scale contract rests on holds because scores carry 6dp — which
    // withQualityScore guarantees but the API does not (any scoreCol
    // is accepted). An unrounded score column would silently turn the
    // single-partition window corpus-sized; rounding here ENFORCES
    // the documented bound for arbitrary callers (identity for
    // already-6dp scores, so the pinned oracles are unchanged)
    val base = scored.filter(col(labelCol).isNotNull)
      .select(col(labelCol).cast("double").as("_y"),
        round(col(scoreCol).cast("double"), 6).as("_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // both input validations in ONE pass: bad labels (train's
    // null-safe 0/1 rule) and null scores. A partially-scored frame
    // (typically a join that missed eval rows) must refuse LOUDLY —
    // silently excluding the null-score rows would report full-eval
    // metrics over whatever subset happened to score, the quiet
    // misreport this harness exists to prevent (withQualityScore
    // never emits null, so a null here is always a caller bug)
    val checks = base.agg(
      coalesce(sum(when(!(col("_y") <=> 0.0) && !(col("_y") <=> 1.0), 1L)),
        lit(0L)).as("bad"),
      coalesce(sum(when(col("_s").isNull, 1L)), lit(0L)).as("nulls"))
      .collect()(0)
    require(checks.getLong(0) == 0,
      s"labels must be 0/1 after the double cast; ${checks.getLong(0)} rows " +
        "are neither (non-numeric labels cast to null)")
    require(checks.getLong(1) == 0,
      s"${checks.getLong(1)} labeled rows have a null '$scoreCol' — the " +
        "eval would silently cover only the scored subset; score every " +
        "eval row first")
    val byScore = base
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_c"), sum(col("_y")).cast("long").as("_pc"))
    // average rank of a tie group = (#rows strictly below) + (c+1)/2 —
    // cumulated over DISTINCT scores, so the ordered window is
    // tie-group-sized, never corpus-sized
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("_s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = byScore
      .withColumn("_ar",
        coalesce(sum(col("_c")).over(wOrd), lit(0L)) +
          (col("_c") + lit(1L)) / lit(2.0))
    val r6 = (c: Column) => round(c, 6)
    ranked.agg(
        sum(col("_c")).as("_n"),
        sum(col("_pc")).as("_np"),
        coalesce(sum(when(col("_s") >= threshold, col("_pc"))), lit(0L)).as("_tp"),
        coalesce(sum(when(col("_s") >= threshold, col("_c") - col("_pc"))),
          lit(0L)).as("_fp"),
        sum(col("_pc") * col("_ar")).as("_prs"))
      .select(
        col("_n").cast("bigint").as("n"),
        col("_np").cast("bigint").as("n_pos"),
        (col("_n") - col("_np")).cast("bigint").as("n_neg"),
        r6((col("_tp") + (col("_n") - col("_np") - col("_fp")))
          / col("_n")).as("accuracy"),
        when(col("_tp") + col("_fp") > 0,
          r6(col("_tp") / (col("_tp") + col("_fp")))).as("precision"),
        when(col("_np") > 0, r6(col("_tp") / col("_np"))).as("recall"),
        when(lit(2) * col("_tp") + col("_fp") + (col("_np") - col("_tp")) > 0,
          r6(lit(2.0) * col("_tp")
            / (lit(2) * col("_tp") + col("_fp") + (col("_np") - col("_tp")))))
          .as("f1"),
        when(col("_np") > 0 && col("_n") - col("_np") > 0,
          r6((col("_prs") - col("_np") * (col("_np") + lit(1L)) / lit(2.0))
            / (col("_np") * (col("_n") - col("_np"))))).as("auc"))
      // EAGER one-row result, so the persisted base can release here
      // rather than leaking until the caller's action
      .localCheckpoint(true)
    } finally { base.unpersist(); () }
  }
}

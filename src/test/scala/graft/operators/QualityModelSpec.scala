package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The trained quality filter: hashed-feature logistic regression,
  * hand-rolled batch gradient descent (the house trainer style). */
class QualityModelSpec extends SparkSpecBase {

  import spark.implicits._

  private val goodVocab = Seq("the", "quick", "brown", "fox", "jumps",
    "over", "lazy", "dog", "reads", "daily", "news", "with", "care")
  private val badVocab = Seq("zzz", "qqq", "xxx", "kkk", "vvv", "www",
    "hhh", "jjj", "ggg", "bbb")

  private def fixture = {
    val good = (0 until 30).map { i =>
      val ws = (0 until 8).map(j => goodVocab((i * 3 + j * 5) % goodVocab.size))
      (i.toLong, ws.mkString(" "), 1)
    }
    val bad = (0 until 30).map { i =>
      val ws = (0 until 8).map(j => badVocab((i * 7 + j * 3) % badVocab.size))
      (100L + i, ws.mkString(" "), 0)
    }
    (good ++ bad).toDF("doc_id", "text", "label")
  }

  test("reference-vs-crawl training separates; deterministic under repartition; model roundtrips") {
    val docs = fixture
    val model = QualityModel.train(docs, "text", "label",
      dims = 256, iters = 8, lr = 2.0)
    val scored = QualityModel.score(docs, model, "text")
      .select(col("doc_id"), col("label"), col("score"))
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    val goodScores = scored.filter(_._1 == 1).map(_._2)
    val badScores = scored.filter(_._1 == 0).map(_._2)
    assert(goodScores.min > badScores.max,
      s"classifier failed to separate: good min ${goodScores.min} vs bad max ${badScores.max}")
    assert(goodScores.min > 0.5 && badScores.max < 0.5,
      s"threshold 0.5 should split the fixture: ${goodScores.min} / ${badScores.max}")

    // determinism: no RNG, per-feature sums — repartitioning the
    // input must yield the identical weight table
    val model2 = QualityModel.train(docs.repartition(7), "text", "label",
      dims = 256, iters = 8, lr = 2.0)
    assert(model2 == model, "training is not repartition-stable")
  }

  test("zero-token docs score sigmoid(bias); guards refuse bad labels and collisions") {
    val docs = fixture
    val model = QualityModel.train(docs, "text", "label",
      dims = 128, iters = 3, lr = 1.0)
    val empty = Seq((999L, "", 0)).toDF("doc_id", "text", "label")
    val s = QualityModel.score(empty, model, "text")
      .select("score").collect()(0).getDouble(0)
    val expected = BigDecimal(1.0 / (1.0 + math.exp(-model.bias)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(s - expected) < 1e-9, s"$s vs $expected")
    // labels must be 0/1
    intercept[IllegalArgumentException] {
      QualityModel.train(docs.withColumn("label", lit(2)), "text", "label",
        dims = 16, iters = 1)
    }
    // score-column collision is case-insensitive
    intercept[IllegalArgumentException] {
      QualityModel.score(docs.withColumn("Score", lit(1.0)), model, "text")
    }
    // L2 shrinks weights toward zero
    val l2Model = QualityModel.train(docs, "text", "label",
      dims = 128, iters = 3, lr = 1.0, l2 = 0.5)
    val norm = model.weights.map(w => math.abs(w._2)).sum
    val l2Norm = l2Model.weights.map(w => math.abs(w._2)).sum
    assert(l2Norm < norm, s"L2 should shrink: $l2Norm vs $norm")
  }

  test("convergence telemetry: per-iteration loss starts at ln 2, decreases, survives the roundtrip; one action per iteration") {
    val docs = fixture.localCheckpoint(true)
    val model = QualityModel.train(docs, "text", "label",
      dims = 256, iters = 6, lr = 2.0)
    assert(model.losses.length == 6, s"want 6 losses, got ${model.losses}")
    // zero init: every margin is exactly 0, p = 0.5, loss = ln 2
    assert(model.losses.head ==
      BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"losses(0) should be round6(ln 2), got ${model.losses.head}")
    // separable fixture at a sane lr: strictly decreasing
    model.losses.toList.sliding(2).foreach { w =>
      assert(w(1) < w(0), s"loss did not decrease: ${model.losses}")
    }
    // one Spark ACTION per gradient pass: the margin frame persists
    // and gradient/bias/loss fuse into a single grouped aggregation —
    // job counts must grow LINEARLY in iters with the same per-iter
    // slope (a re-executed margin subtree would show up as extra
    // jobs), measured via job groups to be robust to fixed overheads
    def jobsFor(group: String, iters: Int): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try QualityModel.train(docs, "text", "label",
        dims = 64, iters = iters, lr = 1.0)
      finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val j1 = jobsFor("qm_jobs_1", 1)
    val j2 = jobsFor("qm_jobs_2", 2)
    val j4 = jobsFor("qm_jobs_4", 4)
    val perIter = j2 - j1
    assert(j4 - j2 == 2 * perIter,
      s"per-iteration job count is not constant: j1=$j1 j2=$j2 j4=$j4")
    // one ACTION per iteration — but AQE materializes each exchange /
    // persist / broadcast stage as its own job, so one collect shows
    // up as ~9 jobs. The bound guards the regression that matters:
    // re-adding a second pass over the margin subtree (the pre-fix
    // shape: separate gradient and bias collects) adds several jobs
    // per iteration and trips it
    assert(perIter <= 10,
      s"per-iteration jobs grew past the single-action shape: $perIter")
  }

  test("evalModel: hand-computed confusion + tie-averaged AUC; degenerate classes go null; leakage guards") {
    // scores/labels chosen so every metric is hand-checkable, with a
    // TIE straddling the classes: ranks ascending are .2->1, .8->2,
    // {.9,.9}->3.5 avg; posRankSum = 2 + 3.5 = 5.5;
    // AUC = (5.5 - 2*3/2) / (2*2) = 0.625
    val scored = Seq((1, 0.9), (0, 0.9), (1, 0.8), (0, 0.2))
      .toDF("label", "quality_score")
    val r = QualityModel.evalModel(scored, "label").collect()(0)
    assert(r.getLong(0) == 4 && r.getLong(1) == 2 && r.getLong(2) == 2)
    assert(r.getDouble(3) == 0.75, s"accuracy ${r.getDouble(3)}") // tp2 tn1
    assert(r.getDouble(4) == 0.666667, s"precision ${r.getDouble(4)}")
    assert(r.getDouble(5) == 1.0, s"recall ${r.getDouble(5)}")
    assert(r.getDouble(6) == 0.8, s"f1 ${r.getDouble(6)}")
    assert(r.getDouble(7) == 0.625, s"auc ${r.getDouble(7)}")
    // a perfectly separating model on the training fixture: AUC 1.0
    val docs = fixture
    val model = QualityModel.train(docs, "text", "label",
      dims = 256, iters = 8, lr = 2.0)
    val full = QualityModel.evalModel(
      QualityModel.withQualityScore(docs, model, "text"), "label").collect()(0)
    assert(full.getDouble(7) == 1.0, s"separable fixture AUC ${full.getDouble(7)}")
    assert(full.getDouble(3) == 1.0 && full.getDouble(6) == 1.0)
    // single-class eval: threshold metrics defined, AUC null
    val onePos = QualityModel.evalModel(
      Seq((1, 0.9), (1, 0.2)).toDF("label", "quality_score"), "label").collect()(0)
    assert(onePos.isNullAt(7), "AUC must be null with one class")
    assert(onePos.getDouble(5) == 0.5, "recall tp/np still defined")
    // labels that cast to null are refused, same rule as train
    intercept[IllegalArgumentException] {
      QualityModel.evalModel(
        Seq(("yes", 0.9), ("no", 0.2)).toDF("label", "quality_score"), "label")
        .collect()
    }
    intercept[IllegalArgumentException] {
      QualityModel.train(fixture.withColumn("label",
        when(col("doc_id") < 5, lit("yes")).otherwise(col("label").cast("string"))),
        "text", "label", dims = 16, iters = 1)
    }
  }

  test("calibrateThreshold: exact quantile of the score distribution, round6; guards") {
    val scored = Seq(0.1, 0.2, 0.3, 0.4).map(s => Tuple1(s))
      .toDF("quality_score")
    // exact percentile with (n-1)q interpolation: median of 4 values
    // = (0.2 + 0.3) / 2
    assert(QualityModel.calibrateThreshold(scored) == 0.25)
    assert(QualityModel.calibrateThreshold(scored, quantile = 0.0) == 0.1)
    assert(QualityModel.calibrateThreshold(scored, quantile = 1.0) == 0.4)
    // a calibrated gate bites by construction: exactly the sub-median
    // half drops at >= t on a distinct-score frame
    val t = QualityModel.calibrateThreshold(scored)
    assert(scored.filter(col("quality_score") >= t).count() == 2)
    intercept[IllegalArgumentException] {
      QualityModel.calibrateThreshold(scored, quantile = 1.5)
    }
    intercept[IllegalArgumentException] {
      QualityModel.calibrateThreshold(
        Seq(Tuple1(null.asInstanceOf[java.lang.Double])).toDF("quality_score"))
    }
    // a backtick in the column name cannot be safely quoted into the
    // percentile expression — refused, never interpolated
    intercept[IllegalArgumentException] {
      QualityModel.calibrateThreshold(
        scored.withColumnRenamed("quality_score", "q`s"), "q`s")
    }
    // dotted/spaced names DO resolve as columns (the quoting works)
    assert(QualityModel.calibrateThreshold(
      scored.withColumnRenamed("quality_score", "my score.v1"),
      "my score.v1") == 0.25)
  }

  test("stopDelta: early exit on a hot lr; halted weights equal the shorter fixed run; None unchanged") {
    val docs = fixture.localCheckpoint(true)
    // deliberately-hot learning rate: the separable fixture overshoots
    // and the loss tail stops improving well before 8 iterations
    val hot = QualityModel.train(docs, "text", "label",
      dims = 64, iters = 8, lr = 50.0, stopDelta = Some(0.0))
    assert(hot.losses.length < 8,
      s"hot-lr run should halt early, ran ${hot.losses.length}: ${hot.losses}")
    val t = hot.losses.length
    // the halt fired because update t-1 bought < delta: the last
    // measured pair is a non-improvement
    assert(hot.losses(t - 2) - hot.losses(t - 1) < 0.0 + 1e-12,
      s"halt without a non-improving tail: ${hot.losses}")
    // the returned model is WHICHEVER of the final two iterates
    // measured the lower loss: plateau keeps the current weights
    // (= t-1 fixed iterations), divergence rolls back one iterate
    // (= t-2) — deterministic trainer, so fixed runs reproduce both
    val k = if (hot.losses(t - 1) > hot.losses(t - 2)) t - 2 else t - 1
    if (k == 0) {
      assert(hot.weights.isEmpty && hot.bias == 0.0,
        s"divergence at iteration 2 must roll back to the zero init: $hot")
    } else {
      val short = QualityModel.train(docs, "text", "label",
        dims = 64, iters = k, lr = 50.0)
      assert(hot.weights == short.weights && hot.bias == short.bias,
        s"halted weights diverge from the fixed $k-iteration run")
    }
    // a huge delta halts at iteration 2 even on a converging run
    val plateau = QualityModel.train(docs, "text", "label",
      dims = 64, iters = 6, lr = 1.0, stopDelta = Some(10.0))
    assert(plateau.losses.length == 2, s"${plateau.losses}")
    assert(plateau.weights == QualityModel.train(docs, "text", "label",
      dims = 64, iters = 1, lr = 1.0).weights)
    // None: fixed-iters behavior bit-for-bit (the oracle trainings)
    val fixed = QualityModel.train(docs, "text", "label",
      dims = 64, iters = 3, lr = 1.0)
    assert(fixed.losses.length == 3)
    intercept[IllegalArgumentException] {
      QualityModel.train(docs, "text", "label", dims = 64, iters = 2,
        stopDelta = Some(-0.1))
    }
  }

  test("evalModel enforces its 6dp bound on entry: unrounded scores collapse to the rounded tie structure") {
    // two scores differing at the 9th decimal are ONE 6dp tie group —
    // without the entry rounding they would be two distinct window
    // rows (and the distinct-score scale bound would silently not
    // hold for arbitrary callers). Tie group {.9, .9}: same fixture
    // arithmetic as the hand-checked eval above -> AUC 0.625
    val scored = Seq((1, 0.900000001), (0, 0.9000000004), (1, 0.8), (0, 0.2))
      .toDF("label", "quality_score")
    val r = QualityModel.evalModel(scored, "label").collect()(0)
    assert(r.getDouble(7) == 0.625, s"auc ${r.getDouble(7)} — entry rounding missing?")
  }

  test("scoring-path ceiling: a model past 32768 non-zero weights is refused") {
    val big = QualityModel.LinearModel(
      (0 until 32769).map(i => i -> 0.1), 0.0, 65536)
    intercept[IllegalArgumentException] {
      QualityModel.withQualityScore(fixture, big, "text")
    }
  }
}

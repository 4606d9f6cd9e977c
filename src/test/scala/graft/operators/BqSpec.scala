package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Binary quantization (BQ1): kernel bit-packing semantics, midrange
  * training determinism, flat-probe recall geometry, the full-width
  * rerank == brute-force identity, the codes-only rerankFrom path,
  * and batch-probe parity with the single-query probe. */
class BqSpec extends SparkSpecBase {

  import graft.functions.VectorExpressions.{bq_encode, bq_hamming}

  private val dim = 16

  // two tight antipodal-ish clusters plus one straggler: sign bits
  // separate them perfectly, so Hamming shortlists are exact here.
  private def corpus = {
    import spark.implicits._
    val rows =
      (0 until 20).map { j =>
        val e = Seq.tabulate(dim)(d =>
          (if (d < 8) 1.0 else -1.0) + ((j * 7 + d * 3) % 5 - 2) * 0.02)
        (100L + j, e)
      } ++ (0 until 20).map { j =>
        val e = Seq.tabulate(dim)(d =>
          (if (d < 8) -1.0 else 1.0) + ((j * 11 + d * 5) % 5 - 2) * 0.02)
        (200L + j, e)
      }
    rows.toDF("vec_id", "e")
  }

  test("bq_encode packs MSB-first with >= threshold; width mismatch is NULL") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, -1.0, 0.0, -2.0, 3.0, -1.0, -1.0, -1.0, 5.0)),
      (2L, Seq(1.0, 2.0)) // wrong width vs the 9-dim thresholds
    ).toDF("id", "v")
    val thr = Seq.fill(9)(0.0)
    val got = df.select(col("id"), bq_encode(col("v"), thr).as("c"))
      .orderBy("id").collect()
    // bits: 1,0,1(0.0 >= 0.0),0,1,0,0,0 -> 0xA8; 9th bit 1 -> 0x80
    assert(got(0).getAs[Array[Byte]]("c").toSeq ==
      Seq(0xA8.toByte, 0x80.toByte))
    assert(got(1).isNullAt(1))
  }

  test("bq_hamming: self is 0, known distance, width mismatch is NULL") {
    import spark.implicits._
    val a = Array[Byte](0xA8.toByte, 0x80.toByte)
    val b = Array[Byte](0x28.toByte, 0x00.toByte)
    val df = Seq((a, a, a), (a, b, a)).toDF("x", "y", "z")
      .withColumn("h", bq_hamming(col("x"), col("y")))
      .withColumn("hm", bq_hamming(col("x"),
        lit(Array[Byte](0x01.toByte)))) // 1 byte vs 2
    val rows = df.select("h", "hm").collect()
    assert(rows(0).getInt(0) == 0)
    assert(rows(1).getInt(0) == 2) // bit 0 and the 9th bit differ
    assert(rows.forall(_.isNullAt(1)))
  }

  test("bqTrain learns midrange thresholds of the NORMALIZED corpus") {
    import spark.implicits._
    // 1-dim-dominant rows: after normalization dim 0 is ±~1; the
    // midrange of a dim whose normalized values span [a, b] is (a+b)/2
    val df = Seq(
      (1L, Seq(3.0, 4.0)),  // normalized (0.6, 0.8)
      (2L, Seq(-3.0, 4.0))  // normalized (-0.6, 0.8)
    ).toDF("vec_id", "e")
    val m = Similarity.bqTrain(df, "e")
    assert(m.dims == 2)
    assert(math.abs(m.thresholds(0) - 0.0) < 1e-12)
    assert(math.abs(m.thresholds(1) - 0.8) < 1e-12)
  }

  test("flat probe: full-width rerank == brute force; tight rerank stays in-cluster; null codes excluded") {
    import spark.implicits._
    val base = corpus
    // a null-embedding row must neither crash the scan nor enter any
    // shortlist (its code is null -> Hamming null -> sorts last)
    val withNull = base.union(
      Seq((999L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "e"))
    val m = Similarity.bqTrain(base, "e")
    val coded = Similarity.bqAssign(withNull, "e", m).cache()
    val q = Seq.tabulate(dim)(d => if (d < 8) 1.0 else -1.0)

    val brute = Similarity.bruteForceTopK(base, "e", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.bqProbe(coded, "e", "vec_id", q, 10, m, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute, "full-width rerank must recover brute force exactly")

    val tight = Similarity.bqProbe(coded, "e", "vec_id", q, 10, m, rerank = 12)
      .collect().map(_.getLong(0)).toSet
    assert(tight.forall(_ < 200L), s"tight shortlist crossed clusters: $tight")
    assert(!tight.contains(999L))
  }

  test("codes-only index + rerankFrom matches the in-frame path; store-drift ids drop") {
    val m = Similarity.bqTrain(corpus, "e")
    val coded = Similarity.bqAssign(corpus, "e", m).cache()
    val q = Seq.tabulate(dim)(d => if (d < 8) -1.0 else 1.0)
    val inFrame = Similarity.bqProbe(coded, "e", "vec_id", q, 8, m, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val codesOnly = coded.select("vec_id", "bq_code")
    val store = corpus.select("vec_id", "e")
    val viaStore = Similarity.bqProbe(codesOnly, "e", "vec_id", q, 8, m,
        rerank = 20, rerankFrom = Some(store))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaStore == inFrame)

    // a store missing half the ids must DROP them (inner join), not
    // fake scores for codes it cannot re-rank
    val holey = store.filter(col("vec_id") % 2 === 0)
    val dropped = Similarity.bqProbe(codesOnly, "e", "vec_id", q, 8, m,
        rerank = 20, rerankFrom = Some(holey))
      .collect().map(_.getLong(0))
    assert(dropped.nonEmpty && dropped.forall(_ % 2 == 0))
  }

  test("ivfBqProbe: full-probe full-rerank == brute force; nprobe=1 prunes to the query's list; codes-only parity") {
    val m = Similarity.bqTrain(corpus, "e")
    val codebook = Seq(
      (1L, Seq.tabulate(dim)(d => if (d < 8) 1.0 else -1.0)),
      (2L, Seq.tabulate(dim)(d => if (d < 8) -1.0 else 1.0)))
    val coded = Similarity.bqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", m).cache()
    val q = Seq.tabulate(dim)(d => if (d < 8) 1.0 else -1.0)

    // probing every list at full rerank width must recover brute force
    // exactly — the prune admits everything, the rerank is exact
    val brute = Similarity.bruteForceTopK(corpus, "e", "vec_id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.ivfBqProbe(coded, "e", "vec_id", q, 10, codebook, m,
        nprobe = 2, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute)

    // nprobe=1 scans ONLY the query's inverted list: every result id
    // is from the 100-cluster (which the codebook maps to list 1)
    val pruned = Similarity.ivfBqProbe(coded, "e", "vec_id", q, 10, codebook, m,
        nprobe = 1, rerank = 100)
      .collect().map(_.getLong(0)).toSet
    assert(pruned.nonEmpty && pruned.forall(_ < 200L),
      s"nprobe=1 leaked the other list: $pruned")

    // codes-only index + external float store == in-frame path,
    // on both the Hamming and the asymmetric ranking
    for (asym <- Seq(false, true)) {
      val inFrame = Similarity.ivfBqProbe(coded, "e", "vec_id", q, 8, codebook,
          m, nprobe = 2, rerank = 20, asymmetric = asym)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaStore = Similarity.ivfBqProbe(
          coded.select("vec_id", "cid", "bq_code"), "e", "vec_id", q, 8,
          codebook, m, nprobe = 2, rerank = 20, asymmetric = asym,
          rerankFrom = Some(corpus.select("vec_id", "e")))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(viaStore == inFrame, s"asymmetric=$asym store path diverged")
    }
  }

  test("ivfBqProbeAll: parity with per-query ivfBqProbe on every probe-sizing path; codes-only store parity") {
    import spark.implicits._
    val m = Similarity.bqTrain(corpus, "e")
    val codebook = Seq(
      (1L, Seq.tabulate(dim)(d => if (d < 8) 1.0 else -1.0)),
      (2L, Seq.tabulate(dim)(d => if (d < 8) -1.0 else 1.0)))
    val coded = Similarity.bqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", m).cache()
    val qids = Seq(101L, 205L, 110L)
    val queries = corpus.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("e"))

    val perQuery = qids.sorted.flatMap { qid =>
      val q = corpus.filter(col("vec_id") === qid)
        .select("e").head().getSeq[Double](0).toSeq
      Similarity.ivfBqProbe(coded, "e", "vec_id", q, 5, codebook, m,
          nprobe = 1, rerank = 12, excludeId = Some(qid))
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
    }
    for (bp <- Seq(None, Some(true), Some(false))) {
      val batch = Similarity.ivfBqProbeAll(coded, "e", "vec_id",
          queries, "qid", "e", codebook, m, k = 5, nprobe = 1, rerank = 12,
          excludeSelf = true, broadcastProbes = bp)
        .orderBy("qid", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(batch == perQuery, s"broadcastProbes=$bp diverged from per-query")
    }

    // codes-only scan + external store == in-frame, asymmetric too
    for (asym <- Seq(false, true)) {
      val inFrame = Similarity.ivfBqProbeAll(coded, "e", "vec_id",
          queries, "qid", "e", codebook, m, k = 5, nprobe = 2, rerank = 12,
          excludeSelf = true, asymmetric = asym)
        .orderBy("qid", "rank").collect().toSeq
      val viaStore = Similarity.ivfBqProbeAll(
          coded.select("vec_id", "cid", "bq_code"), "e", "vec_id",
          queries, "qid", "e", codebook, m, k = 5, nprobe = 2, rerank = 12,
          excludeSelf = true, asymmetric = asym,
          rerankFrom = Some(corpus.select("vec_id", "e")))
        .orderBy("qid", "rank").collect().toSeq
      assert(viaStore == inFrame, s"asymmetric=$asym store path diverged")
    }

    // a wrong-width query must shortlist NOTHING (null code), not crash
    // or return junk — the batch twin of the driver-side dims require
    val widened = queries.unionByName(
      Seq((999L, Seq.fill(dim + 1)(0.5))).toDF("qid", "e"))
    val got = Similarity.ivfBqProbeAll(coded, "e", "vec_id", widened,
        "qid", "e", codebook, m, k = 5, nprobe = 2, rerank = 12)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(999L) && qids.forall(got.contains))
  }

  test("bqProbeAll matches per-query bqProbe; excludeSelf drops the self-match") {
    import spark.implicits._
    val m = Similarity.bqTrain(corpus, "e")
    val coded = Similarity.bqAssign(corpus, "e", m).cache()
    val queries = corpus.filter(col("vec_id").isin(100L, 205L))
    val batch = Similarity.bqProbeAll(coded, "e", "vec_id",
        queries, "vec_id", "e", m, k = 5, rerank = 20, excludeSelf = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1)
    assert(batch.keySet == Set(100L, 205L))
    for (qid <- Seq(100L, 205L)) {
      val qe = corpus.filter(col("vec_id") === qid)
        .head().getSeq[Double](1).toSeq
      val single = Similarity.bqProbe(coded, "e", "vec_id", qe, 5, m,
          rerank = 20, excludeId = Some(qid))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch(qid).sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(got == single, s"batch/single divergence for query $qid")
      assert(!got.exists(_._1 == qid))
    }
  }

  test("bqProbeAll: width-mismatched query yields an empty shortlist, not junk") {
    import spark.implicits._
    val m = Similarity.bqTrain(corpus, "e")
    val coded = Similarity.bqAssign(corpus, "e", m).cache()
    // 15 dims pack into the SAME 2 bytes as the model's 16 — the one
    // width bq_adc_dot cannot catch by byte count, so only the plan's
    // explicit size guard stands between this query and junk scores
    val narrow = Seq((9L, Seq.fill(dim - 1)(1.0))).toDF("qid", "e")
    for (asym <- Seq(false, true)) {
      val out = Similarity.bqProbeAll(coded, "e", "vec_id", narrow,
        "qid", "e", m, k = 5, rerank = 20, asymmetric = asym)
      assert(out.isEmpty,
        s"asymmetric=$asym must return empty for a ${dim - 1}-dim query")
    }
  }

  test("stream BQ lookup carries its band geometry; a mismatched filter refuses instead of no-opping") {
    import spark.implicits._
    val m = Similarity.bqTrain(corpus, "e")             // dim 16 -> 2 code bytes
    val coded = Similarity.bqAssign(corpus, "e", m)
    val oneBand = Similarity.bqSemanticLookup(coded, m, bands = 1)
    assert(oneBand.columns.contains("band_b1"))
    // default bands=0 slices per code byte (2 bands) — a silent
    // width-mismatched equi-join would match nothing; the schema-
    // encoded geometry makes it a loud error
    val err = intercept[IllegalArgumentException] {
      Similarity.streamSemanticFilterBq(corpus, "e", oneBand, m,
        minCosine = 0.9)
    }
    assert(err.getMessage.contains("band geometry"), err.getMessage)
    // matched geometry runs (the filter is plain joins, so a batch
    // frame exercises it): every corpus row collides with itself in
    // the standing lookup at cosine 1 and drops
    assert(Similarity.streamSemanticFilterBq(corpus, "e", oneBand, m,
      minCosine = 0.999, bands = 1).count() == 0L)
  }

  test("asymmetric ADC beats Hamming when query mass concentrates on few dims") {
    import spark.implicits._
    // cluster P: dim0 = +5 with MIXED small signs elsewhere (so
    // Hamming to an all-positive query is ~10); cluster N: dim0 = −5
    // with all-positive small dims (Hamming exactly 1). Cosine truth
    // is P; Hamming shortlists N — the equal-weight failure mode.
    val rows =
      (0 until 20).map { j =>
        val e = Seq.tabulate(dim)(d =>
          if (d == 0) 5.0
          else if ((d + j) % 3 == 0) 0.05 else -0.05)
        (300L + j, e)
      } ++ (0 until 20).map { j =>
        val e = Seq.tabulate(dim)(d => if (d == 0) -5.0 else 0.05)
        (400L + j, e)
      }
    val df = rows.toDF("vec_id", "e")
    val m = Similarity.BqModel.zero(dim)
    val coded = Similarity.bqAssign(df, "e", m).cache()
    val q = Seq.tabulate(dim)(d => if (d == 0) 5.0 else 0.01)

    val truth = Similarity.bruteForceTopK(df, "e", "vec_id", q, 8)
      .collect().map(_.getLong(0)).toSet
    assert(truth.forall(_ < 400L), s"truth should be cluster P, got $truth")

    val ham = Similarity.bqProbe(coded, "e", "vec_id", q, 8, m, rerank = 20)
      .collect().map(_.getLong(0)).toSet
    assert(truth.intersect(ham).isEmpty,
      s"fixture no longer exhibits the Hamming failure: $ham")

    val asym = Similarity.bqProbe(coded, "e", "vec_id", q, 8, m,
        rerank = 20, asymmetric = true)
      .collect().map(_.getLong(0)).toSet
    assert(asym == truth, s"asymmetric shortlist missed truth: $asym")

    // batch parity on the asymmetric path
    val queries = Seq((1L, q)).toDF("qid", "e")
    val batch = Similarity.bqProbeAll(coded, "e", "vec_id", queries,
        "qid", "e", m, k = 8, rerank = 20, asymmetric = true)
      .collect().map(_.getLong(1)).toSet
    assert(batch == truth)

    // the production combination: asymmetric ranking over a
    // codes-only index with the floats in an external store
    val viaStore = Similarity.bqProbe(coded.select("vec_id", "bq_code"),
        "e", "vec_id", q, 8, m, rerank = 20, asymmetric = true,
        rerankFrom = Some(df.select("vec_id", "e")))
      .collect().map(_.getLong(0)).toSet
    assert(viaStore == truth)
  }

  test("recall harness: bruteForceTopKAll matches per-query brute force; recallAtK arithmetic") {
    import spark.implicits._
    val queries = corpus.filter(col("vec_id").isin(100L, 200L))
    val truth = Similarity.bruteForceTopKAll(corpus, "e", "vec_id",
        queries.select(col("vec_id").as("qid"), col("e")),
        "qid", "e", k = 5, excludeSelf = true)
    for (qid <- Seq(100L, 200L)) {
      val qe = corpus.filter(col("vec_id") === qid)
        .head().getSeq[Double](1).toSeq
      val single = Similarity
        .bruteForceTopK(corpus.filter(col("vec_id") =!= qid), "e", "vec_id", qe, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = truth.filter(col("qid") === qid)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch == single, s"batch/single brute-force divergence for $qid")
    }

    // recallAtK on hand-built frames: q1 got 2/3 right, q2 got 0/3
    // (returned nothing), q3 got 3/3
    val t = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("qid", "vec_id")
    val g = Seq((1L, 10L), (1L, 11L), (1L, 99L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("qid", "vec_id")
    val rec = Similarity.recallAtK(g, t, "qid", "vec_id")
      .orderBy("qid").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rec == Seq((1L, 0.6667), (2L, 0.0), (3L, 1.0)))

    // duplicate (query, id) rows in `got` must not fan out the join
    // and inflate recall — same normalization contract as pairMetrics
    val gDup = g.unionByName(Seq((1L, 10L), (1L, 10L)).toDF("qid", "vec_id"))
    val recDup = Similarity.recallAtK(gDup, t, "qid", "vec_id")
      .orderBy("qid").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(recDup == rec, s"duplicates skewed recall: $recDup vs $rec")
  }

  test("calibrateRerank finds a smaller budget for the finer (asymmetric) scorer") {
    import spark.implicits._
    // the asymmetric-fixture geometry: Hamming needs a full-width
    // shortlist to see past the wrong cluster, the asymmetric score
    // does not — calibration should DISCOVER that, not assert it
    val rows =
      (0 until 20).map { j =>
        val e = Seq.tabulate(dim)(d =>
          if (d == 0) 5.0
          else if ((d + j) % 3 == 0) 0.05 else -0.05)
        (300L + j, e)
      } ++ (0 until 20).map { j =>
        val e = Seq.tabulate(dim)(d => if (d == 0) -5.0 else 0.05)
        (400L + j, e)
      }
    val df = rows.toDF("vec_id", "e")
    val m = Similarity.BqModel.zero(dim)
    val coded = Similarity.bqAssign(df, "e", m).cache()
    val queries = Seq((1L, Seq.tabulate(dim)(d => if (d == 0) 5.0 else 0.01)))
      .toDF("qid", "e")
    val truth = Similarity.bruteForceTopKAll(df, "e", "vec_id",
      queries, "qid", "e", k = 8)

    def probe(asym: Boolean)(r: Int) = Similarity.bqProbeAll(
      coded, "e", "vec_id", queries, "qid", "e", m, k = 8, rerank = r,
      asymmetric = asym)

    val cands = Seq(8, 20, 40)
    val (rHam, recHam) = Similarity.calibrateRerank(truth, "qid", "vec_id",
      cands, targetRecall = 1.0)(probe(asym = false))
    val (rAsym, recAsym) = Similarity.calibrateRerank(truth, "qid", "vec_id",
      cands, targetRecall = 1.0)(probe(asym = true))
    assert(recHam == 1.0 && recAsym == 1.0)
    assert(rHam == 40, s"Hamming should need the full-width budget, chose $rHam")
    assert(rAsym <= 20, s"asymmetric should satisfy a smaller budget, chose $rAsym")

    // an unreachable target returns the LAST candidate with its
    // measured recall instead of pretending
    val (rMiss, recMiss) = Similarity.calibrateRerank(truth, "qid", "vec_id",
      Seq(8), targetRecall = 1.0)(probe(asym = false))
    assert(rMiss == 8 && recMiss < 1.0)
  }

  test("banded BQ pair search: within-cluster pairs complete, cross-cluster none") {
    val m = Similarity.bqTrain(corpus, "e")
    // within a cluster the noise never flips a sign, so codes are
    // identical (hamming 0) and banding recall is EXACT; the two
    // clusters are bitwise complements and can never band-collide
    val pairs = Similarity.nearDupPairsBq(corpus, "e", "vec_id", m,
        minCosine = 0.9, bands = 2, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, h, c) =>
      (a / 100) == (b / 100) && h == 0 && c >= 0.9 })
    assert(pairs.length == 2 * (20 * 19) / 2,
      s"expected every within-cluster pair, got ${pairs.length}")

    // bands must divide the code bytes — a ragged split would compare
    // misaligned slices
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDupPairsBq(corpus, "e", "vec_id", m,
        minCosine = 0.9, bands = 3)
    }
    assert(ex.getMessage.contains("byte-aligned"))
  }

  test("bqBandCandidates: band equi-join finds cross-frame pairs, maxHamming prefilters, null codes drop") {
    import spark.implicits._
    val m = Similarity.bqTrain(corpus, "e")
    val standing = Similarity.bqAssign(
      corpus.filter(col("vec_id") < 200), "e", m).select("vec_id", "bq_code")
    val batchRows = corpus.filter(col("vec_id") >= 200)
      .union(Seq((999L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "e"))
    val batch = Similarity.bqAssign(batchRows, "e", m).select("vec_id", "bq_code")

    // clusters are bitwise complements: zero cross-frame collisions
    val none = Similarity.bqBandCandidates(batch, standing, "vec_id", m)
    assert(none.count() == 0)

    // same frame on both sides (as batch vs standing): every pair
    // collides (identical codes), hamming 0; the prefilter at -1..0
    // keeps them, and a null-code row never appears
    val self = Similarity.bqBandCandidates(batch, batch, "vec_id", m,
      maxHamming = 0)
    val rows = self.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.nonEmpty && rows.forall(_._3 == 0))
    assert(!rows.exists(t => t._1 == 999L || t._2 == 999L))
    // distinct pairs: 20 batch ids (minus the null row), both
    // orientations and self-pairs included in a cross join of frames
    assert(rows.length == 20 * 20)
  }

  test("a null-coded row is absent from every shortlist: single query == batch == clean frame (SQ8, BQ)") {
    import spark.implicits._
    // the query's nearest row (100, its own vector) loses its code; a
    // shortlist wider than the corpus must still never score it exactly
    val q = corpus.filter(col("vec_id") === 100L).head().getSeq[Double](1).toSeq
    val queries = Seq((1L, q)).toDF("qid", "e")
    val codebook = Seq(
      (1L, Seq.tabulate(dim)(d => if (d < 8) 1.0 else -1.0)),
      (2L, Seq.tabulate(dim)(d => if (d < 8) -1.0 else 1.0)))
    def split(coded: org.apache.spark.sql.DataFrame, codeCol: String) = (
      coded.withColumn(codeCol, when(col("vec_id") =!= 100L, col(codeCol))).cache(),
      coded.filter(col("vec_id") =!= 100L).cache())
    def single(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def batch(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    def agree(label: String, dirtySingle: Seq[(Long, Double)],
        dirtyBatch: Seq[(Long, Double)], clean: Seq[(Long, Double)]): Unit = {
      assert(clean.nonEmpty && !clean.exists(_._1 == 100L), s"$label clean: $clean")
      assert(dirtySingle == clean, s"$label single-query $dirtySingle != clean $clean")
      assert(dirtyBatch == clean, s"$label batch $dirtyBatch != clean $clean")
    }

    val bq = Similarity.bqTrain(corpus, "e")
    val (bqDirty, bqClean) = split(Similarity.bqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", bq), "bq_code")
    for (asym <- Seq(false, true)) {
      agree(s"bq asymmetric=$asym",
        single(Similarity.bqProbe(bqDirty, "e", "vec_id", q, 5, bq,
          rerank = 100, asymmetric = asym)),
        batch(Similarity.bqProbeAll(bqDirty, "e", "vec_id", queries, "qid", "e",
          bq, k = 5, rerank = 100, asymmetric = asym)),
        single(Similarity.bqProbe(bqClean, "e", "vec_id", q, 5, bq,
          rerank = 100, asymmetric = asym)))
      agree(s"ivf-bq asymmetric=$asym",
        single(Similarity.ivfBqProbe(bqDirty, "e", "vec_id", q, 5, codebook, bq,
          nprobe = 2, rerank = 100, asymmetric = asym)),
        batch(Similarity.ivfBqProbeAll(bqDirty, "e", "vec_id", queries, "qid",
          "e", codebook, bq, k = 5, nprobe = 2, rerank = 100, asymmetric = asym)),
        single(Similarity.ivfBqProbe(bqClean, "e", "vec_id", q, 5, codebook, bq,
          nprobe = 2, rerank = 100, asymmetric = asym)))
    }

    val sq = Similarity.sqTrain(corpus, "e")
    val (sqDirty, sqClean) = split(Similarity.sqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", sq), "sq_code")
    agree("sq8",
      single(Similarity.ivfSqProbe(sqDirty, "e", "vec_id", q, 5, codebook, sq,
        nprobe = 2, rerank = 100)),
      batch(Similarity.ivfSqProbeAll(sqDirty, "e", "vec_id", queries, "qid", "e",
        codebook, sq, k = 5, nprobe = 2, rerank = 100)),
      single(Similarity.ivfSqProbe(sqClean, "e", "vec_id", q, 5, codebook, sq,
        nprobe = 2, rerank = 100)))
  }

  test("model round-trips through parquet; gappy artifact fails loudly") {
    withTempDir("bqmodel") { dir =>
      val m = Similarity.bqTrain(corpus, "e")
      val p = new java.io.File(dir, "bq").getPath
      Similarity.writeBqModel(spark, m, p)
      val back = Similarity.readBqModel(spark, p)
      assert(back == m)

      import spark.implicits._
      val gappy = new java.io.File(dir, "gappy").getPath
      Seq((0, 0.1), (2, 0.3)).toDF("d", "thr")
        .write.parquet(gappy)
      val ex = intercept[IllegalArgumentException] {
        Similarity.readBqModel(spark, gappy)
      }
      assert(ex.getMessage.contains("non-contiguous"))
    }
  }
}

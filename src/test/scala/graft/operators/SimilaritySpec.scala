package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Multi-probe IVF: recall@10 vs brute force on a planted-cluster
  * corpus whose query sits on a Voronoi boundary — the exact geometry
  * where single-probe IVF loses neighbors and the nprobe knob recovers
  * them — plus the k-means codebook trainer on the same corpus. */
class SimilaritySpec extends SparkSpecBase {

  private val dim = 8
  private val nClusters = 8
  private val perCluster = 40

  // centroid c = 10 * unit vector along axis c; separation 10*sqrt(2)
  // dwarfs the +-0.4 deterministic per-dim noise.
  private def planted = {
    import spark.implicits._
    (0 until nClusters).flatMap { c =>
      (0 until perCluster).map { j =>
        val e = Array.tabulate(dim) { d =>
          val noise = ((c * 1000 + j * 13 + d * 7) % 17 - 8) * 0.05
          (if (d == c) 10.0 else 0.0) + noise
        }.toSeq
        (c * 1000L + j, c, e)
      }
    }.toDF("vec_id", "planted_cluster", "e")
  }

  // on the c0/c1 boundary, epsilon-tilted toward c0 so the centroid
  // ranking (and therefore which lists a given nprobe reads) is
  // deterministic: true neighbors split ~evenly across both lists.
  private val query: Seq[Double] =
    Seq.tabulate(dim)(d => if (d == 0) 5.001 else if (d == 1) 5.0 else 0.0)

  private val codebook: Seq[(Long, Seq[Double])] =
    (0 until nClusters).map(c =>
      (c.toLong, Seq.tabulate(dim)(d => if (d == c) 10.0 else 0.0)))

  private def recallAt10(got: Set[Long], truth: Set[Long]): Double =
    truth.intersect(got).size.toDouble / truth.size

  test("nprobe widens recall: 1-probe misses boundary neighbors, 4-probe >= 0.9, all-probe == brute force") {
    val corpus = planted.cache()
    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    // the planted boundary query must actually straddle two clusters,
    // or this test would not exercise multi-probe at all
    val truthClusters = truth.map(_ / 1000).toSet
    assert(truthClusters.size >= 2, s"boundary query should mix clusters, got $truthClusters")

    val assigned = Similarity.ivfAssign(corpus, codebook, "e").cache()
    def got(np: Int): Set[Long] =
      Similarity.ivfProbeVec(assigned, "e", "vec_id", query, 10, codebook, nprobe = np)
        .collect().map(_.getLong(0)).toSet

    val r1 = recallAt10(got(1), truth)
    val r2 = recallAt10(got(2), truth)
    val r4 = recallAt10(got(4), truth)
    assert(r1 < 1.0, s"single probe should miss across the boundary, recall=$r1")
    assert(r1 <= r2 && r2 <= r4, s"recall must be monotone in nprobe: $r1, $r2, $r4")
    assert(r4 >= 0.9, s"recall@10 at nprobe=4 must be >= 0.9, got $r4")
    // probing every list IS brute force — same scores, same tiebreak
    assert(got(nClusters) == truth)
    assigned.unpersist(); corpus.unpersist()
  }

  test("ivfProbe by member id matches ivfProbeVec at the same nprobe") {
    val corpus = planted
    val assigned = Similarity.ivfAssign(corpus, codebook, "e").cache()
    val memberId = 0L // member of cluster 0
    val qvec = corpus.filter(col("vec_id") === memberId)
      .select(col("e")).head().getSeq[Double](0).toSeq
    val viaId = Similarity.ivfProbe(assigned, "e", "vec_id", memberId, 10,
        nprobe = 2, codebook = codebook)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaVec = Similarity.ivfProbeVec(assigned, "e", "vec_id", qvec, 10,
        codebook, nprobe = 2, excludeId = Some(memberId))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaId == viaVec)
    intercept[IllegalArgumentException] {
      Similarity.ivfProbe(assigned, "e", "vec_id", memberId, 10, nprobe = 2)
    }
    assigned.unpersist()
  }

  test("persisted index prunes partitions: an nprobe probe reads only its lists") {
    val corpus = planted
    withTempDir("graft-ivf") { dirFile =>
      val dir = dirFile.getAbsolutePath
      Similarity.writeIndex(Similarity.ivfAssign(corpus, codebook, "e"), dir)
      val index = Similarity.readIndex(spark, dir)
      val probe = Similarity.ivfProbeVec(index, "e", "vec_id", query, 10,
        codebook, nprobe = 2)
      // same answer off the persisted index as off the in-memory one
      val mem = Similarity.ivfProbeVec(
        Similarity.ivfAssign(corpus, codebook, "e"), "e", "vec_id", query, 10,
        codebook, nprobe = 2)
      assert(probe.collect().map(_.getLong(0)).toSeq ==
        mem.collect().map(_.getLong(0)).toSeq)
      // the cid IN (...) filter must reach the scan as PartitionFilters,
      // i.e. the probe physically reads 2 of the 8 list directories
      val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no file scan in the probe plan"))
      assert(scan.partitionFilters.nonEmpty,
        s"cid filter must prune partitions, got plan: ${probe.queryExecution}")
      val totalFiles = scan.relation.location.inputFiles.length
      val readFiles = scan.metrics("numFiles").value // post-pruning, post-collect
      assert(totalFiles >= nClusters, s"index should have $nClusters list dirs")
      assert(readFiles * 4 <= totalFiles,
        s"2-list probe must read a fraction of the index: $readFiles of $totalFiles files")
    }
  }

  test("batch probe (ivfProbeAll) matches per-query probes at the same nprobe") {
    val corpus = planted.cache()
    val assigned = Similarity.ivfAssign(corpus, codebook, "e").cache()
    val qids = Seq(0L, 1001L, 3002L)
    val queries = corpus.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("e"))
    val batch = Similarity.ivfProbeAll(assigned, "e", "vec_id",
        queries, "qid", "e", codebook, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(batch.keySet == qids.toSet)
    qids.foreach { q =>
      val qvec = corpus.filter(col("vec_id") === q)
        .select(col("e")).head().getSeq[Double](0).toSeq
      val solo = Similarity.ivfProbeVec(assigned, "e", "vec_id", qvec, 5,
          codebook, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(batch(q) == solo, s"query $q: batch ${batch(q)} vs solo $solo")
    }

    // colliding id column names stay unambiguous (query id -> q_vec_id),
    // and excludeSelf drops the member query's own cos=1.0 row
    val collide = Similarity.ivfProbeAll(assigned, "e", "vec_id",
      corpus.filter(col("vec_id") === 0L), "vec_id", "e",
      codebook, k = 5, nprobe = 2, excludeSelf = true)
    assert(collide.columns.toSeq == Seq("q_vec_id", "vec_id", "cos", "rank"))
    val rows = collide.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) != 0L),
      "excludeSelf must drop the self-match")
    assigned.unpersist(); corpus.unpersist()
  }

  test("large-batch probe: shuffle-join path matches the broadcast path, without a probe broadcast") {
    val corpus = planted.cache()
    val assigned = Similarity.ivfAssign(corpus, codebook, "e").cache()
    // every corpus member probes the index — the "dedup a whole day's
    // crawl" shape where the probe side outgrows a broadcast
    val queries = corpus.select(col("vec_id").as("qid"), col("e"))
    def run(bcast: Option[Boolean]) = Similarity.ivfProbeAll(assigned, "e", "vec_id",
      queries, "qid", "e", codebook, k = 3, nprobe = 2,
      excludeSelf = false, broadcastProbes = bcast)
    // pin the plan shapes with auto-broadcast off, so the planner
    // can't quietly broadcast the "large" side in this small test
    val sess = corpus.sparkSession
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> sess.conf.getOption(k))
    try {
      saved.foreach { case (k, _) => sess.conf.set(k, "-1") }
      val b = run(bcast = Some(true))
      val s = run(bcast = None)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
      val bRows = rows(b)
      val sRows = rows(s)
      assert(sRows == bRows && bRows.nonEmpty)
      // the forced shuffle path agrees too (three-way equality)
      assert(rows(run(bcast = Some(false))) == bRows)
      val bPlan = b.queryExecution.executedPlan.toString
      val sPlan = s.queryExecution.executedPlan.toString
      // broadcast path: corpus joins a broadcast of the probes;
      // shuffle path: an exchange-partitioned equi-join, no
      // BroadcastHashJoin anywhere (the only remaining broadcast is
      // the KB-sized codebook's nested-loop ranking join)
      assert(bPlan.contains("BroadcastHashJoin"), s"broadcast path plan:\n$bPlan")
      assert(!sPlan.contains("BroadcastHashJoin"),
        s"shuffle path must not broadcast the probe side:\n$sPlan")
      assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"),
        s"shuffle path must shuffle-join on the list id:\n$sPlan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => sess.conf.set(k, v)
        case (k, None)    => sess.conf.unset(k)
      }
      assigned.unpersist(); corpus.unpersist()
    }
  }

  test("nearDupPairsIvf: nprobe=2 recovers a boundary pair single-assignment misses; all-probe == brute force") {
    import spark.implicits._
    // a near-identical pair straddling the c0/c1 Voronoi boundary:
    // each member's single nearest list differs, so nprobe=1 never
    // sees them in one bucket
    val boundary = Seq(
      (900001L, -1, Seq.tabulate(dim)(d => if (d == 0) 5.01 else if (d == 1) 5.0 else 0.0)),
      (900002L, -1, Seq.tabulate(dim)(d => if (d == 0) 5.0 else if (d == 1) 5.01 else 0.0)))
      .toDF("vec_id", "planted_cluster", "e")
    val corpus = planted.unionByName(boundary).cache()
    def pairs(np: Int): Set[(Long, Long)] =
      Similarity.nearDupPairsIvf(corpus, "e", "vec_id", codebook,
          minCosine = 0.9999, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(!p1.contains((900001L, 900002L)),
      "single-assignment should miss the cross-boundary pair (it lands in two different lists)")
    assert(p2.contains((900001L, 900002L)), s"nprobe=2 must recover the boundary pair, got $p2")
    assert(p1.subsetOf(p2), "widening nprobe must only add pairs")

    // multi-assigning to EVERY list makes every pair co-bucketed ->
    // exact brute-force pair set at the same threshold
    val vecs = corpus.select("vec_id", "e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
    val brute = (for {
      (ia, ea) <- vecs; (ib, eb) <- vecs if ia < ib
      dot = ea.zip(eb).map { case (x, y) => x * y }.sum
      na = math.sqrt(ea.map(x => x * x).sum); nb = math.sqrt(eb.map(x => x * x).sum)
      if BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.9999
    } yield (ia, ib)).toSet
    assert(pairs(nClusters) == brute)
    corpus.unpersist()
  }

  test("nearDupPairsIvfPq: slack margin equals the raw variant; practical margin keeps exact scores") {
    import spark.implicits._
    val boundary = Seq(
      (900001L, -1, Seq.tabulate(dim)(d => if (d == 0) 5.01 else if (d == 1) 5.0 else 0.0)),
      (900002L, -1, Seq.tabulate(dim)(d => if (d == 0) 5.0 else if (d == 1) 5.01 else 0.0)))
      .toDF("vec_id", "planted_cluster", "e")
    val corpus = planted.unionByName(boundary).cache()
    val pq = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 16, iters = 3)
    val raw = Similarity.nearDupPairsIvf(corpus, "e", "vec_id", codebook,
        minCosine = 0.9999, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(raw.nonEmpty)

    // sdcMargin >= 2 cannot drop any pair (approx cosine is never
    // < -1), so the coded path must reproduce the raw pair set with
    // bit-identical exact scores — codes steer, floats decide
    val slack = Similarity.nearDupPairsIvfPq(corpus, "e", "vec_id", codebook, pq,
        minCosine = 0.9999, nprobe = 2, sdcMargin = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(slack == raw)

    // an OPQ-rotated model composes with pair search (rotation
    // preserves dots and norms, so SDC in the rotated frame scores the
    // same reconstruction cosines); at slack margin the pair set and
    // the exact scores still equal the raw variant
    val opq = Similarity.pqTrainOpq(corpus, "e", numSubspaces = 4, ksub = 16, iters = 3)
    val slackOpq = Similarity.nearDupPairsIvfPq(corpus, "e", "vec_id", codebook, opq,
        minCosine = 0.9999, nprobe = 2, sdcMargin = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(slackOpq == raw)
    // ...and at a PRACTICAL margin the SDC prefilter actually scores
    // rotated-frame codes: a rotation mishandled on one side would
    // tank this recall, which the slack case alone cannot see
    val practicalOpq = Similarity.nearDupPairsIvfPq(corpus, "e", "vec_id", codebook, opq,
        minCosine = 0.9999, nprobe = 2, sdcMargin = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(practicalOpq.subsetOf(raw))
    assert(practicalOpq.size >= math.ceil(raw.size * 0.9).toInt,
      s"rotated SDC prefilter recall too low: ${practicalOpq.size} of ${raw.size}")

    // a practical margin may only REMOVE pairs (prefilter is a
    // subset), never change a surviving pair's exact score; on this
    // corpus ksub=16 quantization keeps every near-1.0 pair
    val practical = Similarity.nearDupPairsIvfPq(corpus, "e", "vec_id", codebook, pq,
        minCosine = 0.9999, nprobe = 2, sdcMargin = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(practical.subsetOf(raw))
    assert(practical.size >= math.ceil(raw.size * 0.9).toInt,
      s"SDC prefilter recall too low: ${practical.size} of ${raw.size}")
    assert(practical.map(p => (p._1, p._2)).contains((900001L, 900002L)),
      "the boundary pair quantizes near-identically and must survive the prefilter")
    corpus.unpersist()
  }

  test("multi-probe of a missing member id returns empty, like single-probe") {
    val assigned = Similarity.ivfAssign(planted, codebook, "e")
    val single = Similarity.ivfProbe(assigned, "e", "vec_id", 999999L, 10)
    val multi = Similarity.ivfProbe(assigned, "e", "vec_id", 999999L, 10,
      nprobe = 2, codebook = codebook)
    assert(single.count() == 0 && multi.count() == 0)
    assert(multi.columns.toSeq == Seq("vec_id", "cos"))
  }

  test("IVF-PQ: ADC shortlist + exact re-rank hits recall@10 >= 0.9; full-width probe == brute force") {
    val corpus = planted.cache()
    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pq = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 16, iters = 3)
    assert(pq.subDim == 2 && pq.codebooks.forall(_.length == 16))
    val assigned = Similarity.pqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", pq).cache()
    // the compression that matters at 100 TB: M smallints per row,
    // not D floats
    assert(assigned.schema("pq_code").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ShortType))
    assert(assigned.select(max(size(col("pq_code")))).head().getInt(0) == 4)

    val got = Similarity.ivfPqProbe(assigned, "e", "vec_id", query, 10,
        codebook, pq, nprobe = 4, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val recall = recallAt10(got.map(_._1).toSet, truth.map(_._1).toSet)
    assert(recall >= 0.9, s"recall@10 at nprobe=4/rerank=40 must be >= 0.9, got $recall")
    // the re-rank is EXACT: every returned id carries the same cosine
    // brute force assigns it (quantization error affects WHICH rows
    // are shortlisted, never their final scores)
    val exactCos = Similarity.bruteForceTopK(corpus, "e", "vec_id", query, 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, cos) => assert(exactCos(id) == cos, s"id $id") }

    // probing every list with a corpus-wide re-rank IS brute force
    val full = Similarity.ivfPqProbe(assigned, "e", "vec_id", query, 10,
        codebook, pq, nprobe = nClusters, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == truth)
    assigned.unpersist(); corpus.unpersist()
  }

  test("batch IVF-PQ probe matches single-query probes; donor codebooks quantize normalized slices") {
    val corpus = planted.cache()
    // fixed donor codebooks (no k-means) — the oracle-checkable path:
    // 16 spread donors drawn deterministically from the corpus
    val donors = corpus.filter(col("vec_id") % 1000 < 2)
      .orderBy("vec_id").collect().map(_.getSeq[Double](2).toSeq).toSeq
    val pq = Similarity.pqFromVectors(donors, numSubspaces = 4)
    assert(pq.ksub == donors.length && pq.subDim == 2)
    // donor centroids live in the NORMALIZED space (unit sphere), so
    // each donor's own slice reconstructs exactly: a donor's code in
    // every subspace is its own index
    val assigned = Similarity.pqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", pq).cache()
    val donorCodes = assigned.filter(col("vec_id") % 1000 < 2)
      .orderBy("vec_id").select("pq_code").collect()
      .map(_.getSeq[Short](0).toSeq)
    donorCodes.zipWithIndex.foreach { case (codes, i) =>
      assert(codes == Seq.fill(4)(i.toShort), s"donor $i got codes $codes")
    }

    val qids = Seq(0L, 1001L, 3002L)
    val queries = corpus.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("e"))
    val batch = Similarity.ivfPqProbeAll(assigned, "e", "vec_id",
        queries, "qid", "e", codebook, pq, k = 5, nprobe = 2, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(x => (x._2, x._3)).toSeq).toMap
    assert(batch.keySet == qids.toSet)
    qids.foreach { q =>
      val qvec = corpus.filter(col("vec_id") === q)
        .select(col("e")).head().getSeq[Double](0).toSeq
      val solo = Similarity.ivfPqProbe(assigned, "e", "vec_id", qvec, 5,
          codebook, pq, nprobe = 2, rerank = 40)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) == solo, s"query $q: batch ${batch(q)} vs solo $solo")
    }
    assigned.unpersist(); corpus.unpersist()
  }

  test("persisted PQ artifacts probe identically; replicated corpora still train") {
    val corpus = planted.cache()
    val pq = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 8, iters = 2)
    val assigned = Similarity.pqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", pq).cache()
    val direct = Similarity.ivfPqProbe(assigned, "e", "vec_id", query, 10,
        codebook, pq, nprobe = 4, rerank = 40)
      .collect().map(_.toSeq).toSeq
    withTempDir("pq-artifacts") { dirFile =>
      val dir = dirFile.getAbsolutePath
      // the persisted index probes under the codebook and PQ model
      // that coded it
      Similarity.writeIndex(assigned, s"$dir/index")
      val back = Similarity.ivfPqProbe(Similarity.readIndex(spark, s"$dir/index"),
          "e", "vec_id", query, 10, codebook, pq, nprobe = 4, rerank = 40)
        .collect().map(_.toSeq).toSeq
      assert(back == direct)
    }

    // appended batch joins the standing index under the same
    // codebook/model: probes see union rows with unchanged pruning
    withTempDir("pq-append") { dirFile =>
      val dir = dirFile.getAbsolutePath
      val half1 = assigned.filter(col("vec_id") % 2 === 0)
      val half2 = assigned.filter(col("vec_id") % 2 =!= 0)
      Similarity.writeIndex(half1, s"$dir/index")
      Similarity.appendIndex(half2, s"$dir/index")
      val back = Similarity.ivfPqProbe(Similarity.readIndex(spark, s"$dir/index"),
          "e", "vec_id", query, 10, codebook, pq, nprobe = 4, rerank = 40)
        .collect().map(_.toSeq).toSeq
      val whole = Similarity.ivfPqProbe(assigned, "e", "vec_id", query, 10,
          codebook, pq, nprobe = 4, rerank = 40)
        .collect().map(_.toSeq).toSeq
      assert(back == whole)
    }

    // 40x-replicated corpus: hash order clusters replicas adjacently,
    // so sampling WITHOUT the distinct-first step would collect only
    // ~256/40 distinct vectors and starve k=8 seeding outright
    val replicated = (0 until 40)
      .map(i => corpus.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
    assert(Similarity.trainCodebook(replicated, "e", k = nClusters, iters = 1)
      .size == nClusters)
    assert(Similarity.pqTrain(replicated, "e", numSubspaces = 4, ksub = 16,
      iters = 1).ksub == 16)
    assigned.unpersist(); corpus.unpersist()
  }

  test("compactIndex: append stripes coalesce to one file per list; probes bit-identical through the versioned swap") {
    val assigned = Similarity.ivfAssign(planted, codebook, "e").cache()
    def files(dir: java.io.File): Seq[java.io.File] = {
      val fs = dir.listFiles()
      if (fs == null) Nil
      else fs.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    }
    def parquets(dir: java.io.File) =
      files(dir).filter(_.getName.endsWith(".parquet"))
    withTempDir("ivf-compact") { dirFile =>
      val dir = dirFile.getAbsolutePath
      // three daily batches: the write plus two appends stripe every
      // touched list's partition dir
      Similarity.writeIndex(assigned.filter(col("vec_id") % 3 === 0), dir)
      Similarity.appendIndex(assigned.filter(col("vec_id") % 3 === 1), dir)
      Similarity.appendIndex(assigned.filter(col("vec_id") % 3 === 2), dir)
      def probe() = Similarity.ivfProbeVec(Similarity.readIndex(spark, dir),
          "e", "vec_id", query, k = 10, codebook, nprobe = 4)
        .collect().map(_.toSeq).toSeq
      val before = probe()
      val stripesBefore = parquets(new java.io.File(dirFile, "index_v1/cid=0")).size
      assert(stripesBefore >= 3, s"appends should stripe: $stripesBefore files")

      Similarity.compactIndex(spark, dir)

      assert(probe() == before, "compaction changed probe results")
      // fresh one-shot write is the reference: same rows, one file/list
      val fresh = withTempDir("ivf-compact-fresh") { fdir =>
        Similarity.writeIndex(assigned, fdir.getAbsolutePath)
        Similarity.ivfProbeVec(
            Similarity.readIndex(spark, fdir.getAbsolutePath),
            "e", "vec_id", query, k = 10, codebook, nprobe = 4)
          .collect().map(_.toSeq).toSeq
      }
      assert(probe() == fresh, "compacted probe diverged from fresh write")
      // versioned layout: pointer + data dir, the build's generation
      // swept
      assert(new java.io.File(dirFile, "_current_v2").exists())
      val v2 = new java.io.File(dirFile, "index_v2")
      assert(v2.isDirectory)
      assert(!new java.io.File(dirFile, "index_v1").exists(),
        "superseded generation not reclaimed")
      val perList = (0 until nClusters).map(c =>
        parquets(new java.io.File(v2, s"cid=$c")).size)
      assert(perList.forall(_ == 1), s"files per list after compact: $perList")
      assert(!new java.io.File(dirFile, "_compact_inprogress").exists())

      // second cycle rides the versioned dir: append stripes index_v2,
      // compaction swaps to v3 and reclaims v2
      Similarity.appendIndex(assigned.filter(col("vec_id") % 3 === 0), dir)
      assert(parquets(new java.io.File(v2, "cid=0")).size >= 2)
      Similarity.compactIndex(spark, dir)
      assert(new java.io.File(dirFile, "_current_v3").exists())
      assert(!new java.io.File(dirFile, "_current_v2").exists() && !v2.exists())
      // the duplicate-append rows are all there (compaction never
      // dedups — id hygiene is the appender's contract, as documented)
      assert(Similarity.readIndex(spark, dir).count() == assigned.count() +
        assigned.filter(col("vec_id") % 3 === 0).count())
    }
    assigned.unpersist()
    ()
  }

  test("deleteFromIndex: probes equal a fresh write without the ids; compaction applies materially; re-add guarded until then") {
    import spark.implicits._
    val assigned = Similarity.ivfAssign(planted, codebook, "e").cache()
    withTempDir("ivf-delete") { dirFile =>
      val dir = dirFile.getAbsolutePath
      Similarity.writeIndex(assigned.filter(col("vec_id") % 3 =!= 2), dir)
      Similarity.appendIndex(assigned.filter(col("vec_id") % 3 === 2), dir)
      def probe() = Similarity.ivfProbeVec(Similarity.readIndex(spark, dir),
          "e", "vec_id", query, k = 10, codebook, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = probe()
      // telemetry before the delete: the append striped lists, every
      // row servable, no tombstones
      val stats0 = Similarity.indexStats(spark, dir)
      assert(stats0.rows == assigned.count() && stats0.tombstonedIds == 0L &&
        stats0.maxStripesPerList >= 2, s"$stats0")
      // delete the two TOP hits — one from the base write, one from
      // the append if the split allows — so the probe must change
      val gone = before.take(2).map(_._1)
      Similarity.deleteFromIndex(spark, dir, gone.toDF("vec_id"), "vec_id")
      // rows is ON-DISK (same definition as the BM25 twin); servable
      // = rows - tombstonedRows
      val stats1 = Similarity.indexStats(spark, dir)
      assert(stats1.rows == assigned.count() &&
        stats1.tombstonedIds == 2L && stats1.tombstonedRows == 2L, s"$stats1")
      val after = probe()
      assert(after != before, "deleting the top hits must change the probe")
      assert(after.forall(h => !gone.contains(h._1)), s"deleted ids still served: $after")
      // semantic reference: a fresh write over the surviving rows
      // under the same frozen codebook
      val fresh = withTempDir("ivf-delete-fresh") { fdir =>
        Similarity.writeIndex(
          assigned.filter(!col("vec_id").isin(gone: _*)), fdir.getAbsolutePath)
        Similarity.ivfProbeVec(
            Similarity.readIndex(spark, fdir.getAbsolutePath),
            "e", "vec_id", query, k = 10, codebook, nprobe = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
      assert(after == fresh, "tombstoned probe diverged from fresh-write-without")
      // idempotent: re-sending the same delete changes nothing
      Similarity.deleteFromIndex(spark, dir, gone.toDF("vec_id"), "vec_id")
      assert(probe() == fresh)
      // re-adding a tombstoned id is refused until compaction
      intercept[IllegalArgumentException] {
        Similarity.appendIndex(assigned.filter(col("vec_id") === gone.head), dir)
      }
      // compaction reads through the anti-join: rows leave materially,
      // tombstones clear, probes unchanged
      Similarity.compactIndex(spark, dir)
      assert(probe() == fresh, "compaction changed the post-delete probe")
      assert(!new java.io.File(dirFile, "_tombstones").exists(),
        "applied tombstones not cleared")
      assert(Similarity.readIndex(spark, dir).count() == assigned.count() - 2)
      val stats2 = Similarity.indexStats(spark, dir)
      assert(stats2.rows == assigned.count() - 2 &&
        stats2.tombstonedIds == 0L && stats2.tombstonedRows == 0L &&
        stats2.maxStripesPerList == 1L, s"$stats2")
      assert(stats2.bytes > 0 && stats2.files == stats2.lists, s"$stats2")
      // the ids are re-addable now — and the probe returns to the
      // original full-index answer
      Similarity.appendIndex(assigned.filter(col("vec_id").isin(gone: _*)), dir)
      assert(probe() == before, "re-added ids did not restore the probe")
      // writer mutual exclusion: a (stale) compaction lock refuses the
      // delete instead of risking cleared-but-unapplied tombstones
      assert(new java.io.File(dirFile, "_compact_inprogress").createNewFile())
      intercept[IllegalArgumentException] {
        Similarity.deleteFromIndex(spark, dir, Seq(1L).toDF("vec_id"), "vec_id")
      }
      assert(new java.io.File(dirFile, "_compact_inprogress").delete())
      // null/empty requests are no-ops that leave no artifact behind
      Similarity.deleteFromIndex(spark, dir,
        Seq.empty[Long].toDF("vec_id"), "vec_id")
      Similarity.deleteFromIndex(spark, dir,
        Seq(Option.empty[Long]).toDF("vec_id"), "vec_id")
      assert(!new java.io.File(dirFile, "_tombstones").exists())
      assert(probe() == before)
      // deleting by the LIST column is refused — an anti-join on cid
      // would resolve fine and silently erase whole inverted lists
      intercept[IllegalArgumentException] {
        Similarity.deleteFromIndex(spark, dir, Seq(0L).toDF("cid"), "cid")
      }
      // the all-rows-deleted corner: compaction skips (nothing
      // writable), probes stay empty through the anti-join, appends
      // stay refused — and the documented way out is a REBUILD, which
      // resets tombstones/pointers explicitly and restores the probe
      val allIds = assigned.select("vec_id")
      Similarity.deleteFromIndex(spark, dir, allIds, "vec_id")
      assert(probe().isEmpty, "all-deleted index still served rows")
      Similarity.compactIndex(spark, dir)
      assert(new java.io.File(dirFile, "_tombstones").exists(),
        "all-deleted compaction must keep its tombstones")
      intercept[IllegalArgumentException] {
        Similarity.appendIndex(assigned.limit(1), dir)
      }
      Similarity.writeIndex(assigned, dir)
      assert(!new java.io.File(dirFile, "_tombstones").exists(),
        "rebuild must clear the tombstones")
      assert(!new java.io.File(dirFile, "_compact_inprogress").exists())
      assert(probe() == before, "rebuild did not restore the probe")
    }
    assigned.unpersist()
    ()
  }

  test("pqTrain degrades on zero-padded subspaces; shape-mismatched codes score NaN, not partial") {
    import spark.implicits._
    // dims 4-7 identically zero (a padded embedding corpus): subspaces
    // 2 and 3 have ONE distinct slice — training must shrink those
    // codebooks instead of refusing the corpus
    val padded = (0 until 40)
      .map(i => (i.toLong, Seq.tabulate(dim)(d =>
        if (d < 4) 1.0 + ((i * 7 + d * 3) % 11) * 0.1 else 0.0)))
      .toDF("vec_id", "e")
    val pq = Similarity.pqTrain(padded, "e", numSubspaces = 4, ksub = 8, iters = 1)
    assert(pq.codebooks(2).length == 1 && pq.codebooks(3).length == 1,
      s"degenerate subspaces must shrink, got ${pq.codebooks.map(_.length)}")
    assert(pq.codebooks(0).length > 1)
    // probing the padded index at full width + wide re-rank still
    // recovers the exact brute-force top-k
    val assigned = Similarity.pqAssign(
      Similarity.ivfAssign(padded, codebook, "e"), "e", pq)
    val q2 = Seq.tabulate(dim)(d => if (d < 4) 1.5 else 0.0)
    val got = Similarity.ivfPqProbe(assigned, "e", "vec_id", q2, 5, codebook, pq,
      nprobe = nClusters, rerank = 40).collect().map(_.getLong(0)).toSeq
    val truth = Similarity.bruteForceTopK(padded, "e", "vec_id", q2, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == truth)

    // a truncated code array must score NaN (sorts last), never a
    // partial — i.e. smaller — distance that jumps the shortlist
    val adc = assigned
      .select(graft.functions.VectorExpressions.pq_adc(
        typedLit(q2), expr("slice(pq_code, 1, 2)"), pq.codebooks).as("d"))
      .collect().map(_.getDouble(0))
    assert(adc.forall(_.isNaN))
    val sdc = assigned.select(graft.functions.VectorExpressions.pq_sdc_cos(
        expr("slice(pq_code, 1, 2)"), col("pq_code"), pq.codebooks).as("c"))
      .collect().map(_.getDouble(0))
    assert(sdc.forall(_.isNaN))
  }

  test("residual PQ: recall >= direct at fixed M/ksub/nprobe/rerank; full-width == brute force") {
    import spark.implicits._
    // the fixture where residual encoding is SUPPOSED to win (the
    // real-embedding shape): clusters far apart, and within each
    // cluster the vectors vary along one shared direction (u) — after
    // subtracting the coarse centroid the residuals collapse onto a
    // low-dim structure a tiny codebook quantizes finely, while the
    // direct path must spend the same ksub=4 on cluster POSITIONS per
    // subspace and has no budget left for the within-cluster signal
    // that actually ranks the top-k.
    val u = Seq.fill(dim)(1.0 / math.sqrt(dim))
    val lineClusters = (0 until 4).flatMap { c =>
      (0 until 40).map { j =>
        val t = (j - 20) / 20.0
        val e = Seq.tabulate(dim)(d => (if (d == c) 10.0 else 0.0) + 1.5 * t * u(d))
        (c * 1000L + j, e)
      }
    }.toDF("vec_id", "e")
    val cbk: Seq[(Long, Seq[Double])] = (0 until 4).map(c =>
      (c.toLong, Seq.tabulate(dim)(d => if (d == c) 10.0 else 0.0)))
    val q = Seq.tabulate(dim)(d => if (d == 0) 5.001 else if (d == 1) 5.0 else 0.0)
    val corpus = lineClusters.cache()
    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val direct = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 4, iters = 3)
    val res = Similarity.pqTrainResidual(corpus, "e", cbk,
      numSubspaces = 4, ksub = 4, iters = 3)
    assert(!direct.residual && res.residual)
    val ivf = Similarity.ivfAssign(corpus, cbk, "e").cache()
    val aDirect = Similarity.pqAssign(ivf, "e", direct).cache()
    val aRes = Similarity.pqAssignResidual(ivf, "e", cbk, res).cache()
    def recallOf(assigned: org.apache.spark.sql.DataFrame, pq: Similarity.PqModel): Double =
      recallAt10(Similarity.ivfPqProbe(assigned, "e", "vec_id", q, 10,
        cbk, pq, nprobe = 2, rerank = 24)
        .collect().map(_.getLong(0)).toSet, truth)
    val rDirect = recallOf(aDirect, direct)
    val rRes = recallOf(aRes, res)
    assert(rRes >= rDirect,
      s"residual recall ($rRes) must be >= direct ($rDirect) at the same budget")
    assert(rRes >= 0.9, s"residual recall@10 must be >= 0.9, got $rRes")

    // exactness invariant holds for residual too: probing every list
    // with a corpus-wide re-rank IS brute force
    val full = Similarity.ivfPqProbe(aRes, "e", "vec_id", q, 10,
        cbk, res, nprobe = 4, rerank = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(full == truth)

    // batch probe matches the single-query path on the residual index
    val probes = Seq((999L, q)).toDF("q_id", "qe")
    val batch = Similarity.ivfPqProbeAll(aRes, "e", "vec_id", probes, "q_id", "qe",
        cbk, res, k = 10, nprobe = 2, rerank = 24)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val solo = Similarity.ivfPqProbe(aRes, "e", "vec_id", q, 10,
        cbk, res, nprobe = 2, rerank = 24)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch == solo)

    // the residual flag is model identity: the wrong
    // assign/pair-search paths refuse it loudly
    assert(intercept[IllegalArgumentException](
      Similarity.pqAssign(corpus, "e", res)).getMessage.contains("pqAssignResidual"))
    assert(intercept[IllegalArgumentException](
      Similarity.pqAssignResidual(ivf, "e", cbk, direct)).getMessage
      .contains("pqAssign"))
    assert(intercept[IllegalArgumentException](
      Similarity.nearDupPairsIvfPq(corpus, "e", "vec_id", cbk, res, 0.99))
      .getMessage.contains("direct"))

    // a cid outside the codebook cannot be residual-coded: null code,
    // which the nulls-last shortlist ordering keeps out of the way
    val foreign = Similarity.pqAssignResidual(
      ivf.withColumn("cid", lit(777L)), "e", cbk.take(1), res)
    assert(foreign.filter(col("pq_code").isNotNull).count() == 0)
    aDirect.unpersist(); aRes.unpersist(); ivf.unpersist(); corpus.unpersist()
  }

  test("OPQ rotation: recall >= direct at the same budget; rotation persists; full-width == brute force") {
    import spark.implicits._
    // the geometry OPQ exists for: two correlated variation directions
    // (u, w) that each SPAN the fixed subspace slicing, so direct PQ
    // quantizes the same (t, s) signal in every subspace — a 2-D grid
    // per slice that ksub=4 cannot resolve — while the PCA rotation
    // concentrates each direction into one subspace's coordinates.
    val u = Seq.tabulate(dim)(d => if (d == 0) 0.0 else 1.0 / math.sqrt(7))
    val w = Seq.tabulate(dim)(d =>
      if (d == 0) 0.0 else (if (d % 2 == 0) -1.0 else 1.0) / math.sqrt(7))
    val grid = for { ti <- 0 until 20; si <- 0 until 16 } yield {
      val t = (ti - 10) / 10.0; val s = (si - 8) / 8.0
      val e = Seq.tabulate(dim)(d =>
        (if (d == 0) 10.0 else 0.0) + 1.5 * t * u(d) + 1.5 * s * w(d))
      ((ti * 16 + si).toLong, e)
    }
    val corpus = grid.toDF("vec_id", "e").cache()
    val cbk: Seq[(Long, Seq[Double])] =
      Seq((0L, Seq.tabulate(dim)(d => if (d == 0) 10.0 else 0.0)))
    val q = Seq.tabulate(dim)(d =>
      (if (d == 0) 10.0 else 0.0) + 1.35 * u(d) + 1.05 * w(d))
    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val direct = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 4, iters = 3)
    val opq = Similarity.pqTrainOpq(corpus, "e", numSubspaces = 4, ksub = 4, iters = 3)
    assert(opq.rotation.isDefined && !opq.residual)
    // the learned rotation is orthogonal: R R^T = I (what makes ADC in
    // the rotated frame EQUAL every distance in the original one)
    val r = opq.rotation.get
    for (i <- r.indices; j <- r.indices) {
      val dot = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RR^T[$i][$j] = $dot")
    }
    val ivf = Similarity.ivfAssign(corpus, cbk, "e").cache()
    val aDirect = Similarity.pqAssign(ivf, "e", direct)
    val aOpq = Similarity.pqAssign(ivf, "e", opq).cache()
    def recallOf(assigned: org.apache.spark.sql.DataFrame, pq: Similarity.PqModel): Double =
      recallAt10(Similarity.ivfPqProbe(assigned, "e", "vec_id", q, 10,
        cbk, pq, nprobe = 1, rerank = 24)
        .collect().map(_.getLong(0)).toSet, truth)
    val rDirect = recallOf(aDirect, direct)
    val rOpq = recallOf(aOpq, opq)
    assert(rOpq >= rDirect,
      s"OPQ recall ($rOpq) must be >= direct ($rDirect) at the same budget")
    assert(rOpq >= 0.8 && rOpq - rDirect >= 0.5,
      s"fixture must show the rotation win: direct=$rDirect opq=$rOpq")

    // exact re-rank invariant: corpus-wide shortlist IS brute force
    val full = Similarity.ivfPqProbe(aOpq, "e", "vec_id", q, 10,
        cbk, opq, nprobe = 1, rerank = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(full == truth)

    // batch probe rotates the query column identically
    val probes = Seq((999L, q)).toDF("q_id", "qe")
    val batch = Similarity.ivfPqProbeAll(aOpq, "e", "vec_id", probes, "q_id", "qe",
        cbk, opq, k = 10, nprobe = 1, rerank = 24)
      .collect().map(r2 => (r2.getLong(1), r2.getDouble(2))).toSeq
    val solo = Similarity.ivfPqProbe(aOpq, "e", "vec_id", q, 10,
        cbk, opq, nprobe = 1, rerank = 24)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    assert(batch == solo)
    aOpq.unpersist(); ivf.unpersist(); corpus.unpersist()
  }

  test("OPQ+residual composition: recall >= residual >= direct at a fixed budget; artifact round-trips both flags") {
    import spark.implicits._
    // the FAISS-style OPQ→IVFPQ stack's home geometry: coarse clusters
    // far apart (what residual encoding removes) AND within-cluster
    // structure on a ±1 hypercube along four Hadamard directions, each
    // spanning ALL eight coordinates. Raw slices mix all four cube
    // axes (a blurred multi-level cloud ksub=4 cannot code), while the
    // residual PCA recovers the axes and the eigenvalue allocation
    // pairs them two-per-subspace — each rotated subspace then holds
    // exactly 4 distinct corner values, which ksub=4 codes with ~zero
    // error. Per-corner jittered replicas make the top-10 a ranking
    // problem, not a membership one.
    val had = Seq(
      Seq(1, 1, 1, 1, 1, 1, 1, 1), Seq(1, -1, 1, -1, 1, -1, 1, -1),
      Seq(1, 1, -1, -1, 1, 1, -1, -1), Seq(1, -1, -1, 1, 1, -1, -1, 1))
      .map(_.map(_ / math.sqrt(8.0)))
    val amps = Seq(0.9, 0.75, 0.6, 0.45)
    val grid = for {
      c <- 0 until 4; corner <- 0 until 16; rep <- 0 until 8
    } yield {
      val signs = Seq.tabulate(4)(i => if (((corner >> i) & 1) == 0) 1.0 else -1.0)
      val e = Seq.tabulate(dim) { d =>
        val cube = (0 until 4).map(i => amps(i) * signs(i) * had(i)(d)).sum
        val jitter = ((c * 7919 + corner * 131 + rep * 17 + d * 13) % 23 - 11) * 0.002
        (if (d == c) 10.0 else 0.0) + cube + jitter
      }
      (c * 1000L + corner * 8 + rep, e)
    }
    val corpus = grid.toDF("vec_id", "e").cache()
    val cbk: Seq[(Long, Seq[Double])] = (0 until 4).map(c =>
      (c.toLong, Seq.tabulate(dim)(d => if (d == c) 10.0 else 0.0)))
    // just inside cluster 0's all-plus corner: true top-10 = that
    // corner's 8 replicas + the 2 nearest replicas across the smallest
    // (g4) face — ranking them needs per-subspace corner resolution
    val q = Seq.tabulate(dim)(d =>
      (if (d == 0) 10.0 else 0.0) +
        0.9 * (0 until 4).map(i => amps(i) * had(i)(d)).sum)
    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    val direct = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 4, iters = 3)
    val res = Similarity.pqTrainResidual(corpus, "e", cbk,
      numSubspaces = 4, ksub = 4, iters = 3)
    val both = Similarity.pqTrainOpqResidual(corpus, "e", cbk,
      numSubspaces = 4, ksub = 4, iters = 3)
    assert(both.residual && both.rotation.isDefined)
    // the learned rotation stays orthogonal (RR^T = I) — the property
    // that makes rotated-frame ADC distances equal original ones
    val r = both.rotation.get
    for (i <- r.indices; j <- r.indices) {
      val dot = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RR^T[$i][$j] = $dot")
    }
    val ivf = Similarity.ivfAssign(corpus, cbk, "e").cache()
    val aDirect = Similarity.pqAssign(ivf, "e", direct)
    val aRes = Similarity.pqAssignResidual(ivf, "e", cbk, res)
    val aBoth = Similarity.pqAssignResidual(ivf, "e", cbk, both).cache()
    // rerank barely above k (one corner-group of slack): the shortlist
    // ORDER (pure ADC quality) decides recall, not the re-rank's slack
    def recallOf(assigned: org.apache.spark.sql.DataFrame, pq: Similarity.PqModel): Double =
      recallAt10(Similarity.ivfPqProbe(assigned, "e", "vec_id", q, 10,
        cbk, pq, nprobe = 1, rerank = 16)
        .collect().map(_.getLong(0)).toSet, truth)
    val rDirect = recallOf(aDirect, direct)
    val rRes = recallOf(aRes, res)
    val rBoth = recallOf(aBoth, both)
    assert(rBoth >= rRes && rRes >= rDirect,
      s"recall must order composed ($rBoth) >= residual ($rRes) >= direct ($rDirect)")
    assert(rBoth >= 0.9, s"composed recall@10 must be >= 0.9, got $rBoth")
    assert(rBoth - rRes >= 0.15,
      s"fixture must show the composition win: residual=$rRes composed=$rBoth")

    // exactness invariant: every list + corpus-wide re-rank IS brute force
    val full = Similarity.ivfPqProbe(aBoth, "e", "vec_id", q, 10,
        cbk, both, nprobe = 4, rerank = 2000)
      .collect().map(_.getLong(0)).toSet
    assert(full == truth)

    // batch probe rotates each probed list's shifted query identically
    val probes = Seq((999L, q)).toDF("q_id", "qe")
    val batch = Similarity.ivfPqProbeAll(aBoth, "e", "vec_id", probes, "q_id", "qe",
        cbk, both, k = 10, nprobe = 2, rerank = 24)
      .collect().map(r2 => (r2.getLong(1), r2.getDouble(2))).toSeq
    val solo = Similarity.ivfPqProbe(aBoth, "e", "vec_id", q, 10,
        cbk, both, nprobe = 2, rerank = 24)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    assert(batch == solo)

    // the composed model still refuses the paths residual models refuse
    assert(intercept[IllegalArgumentException](
      Similarity.pqAssign(corpus, "e", both)).getMessage.contains("pqAssignResidual"))
    assert(intercept[IllegalArgumentException](
      Similarity.nearDupPairsIvfPq(corpus, "e", "vec_id", cbk, both, 0.99))
      .getMessage.contains("direct"))
    aBoth.unpersist(); ivf.unpersist(); corpus.unpersist()
  }

  test("alternating OPQ refinement: Procrustes descent beats the PCA-blind parametric rotation") {
    import spark.implicits._
    // the geometry the PARAMETRIC trainer cannot see: a ±1 hypercube
    // over dims 1..7 (dim 0 carries the constant offset) pushed
    // through a chain of 45° plane rotations straddling every
    // subspace boundary. The cube's covariance is ISOTROPIC, so the
    // rotated cloud's covariance is STILL (near-)diagonal — PCA's
    // eigenbasis degenerates to a jitter-ordered permutation, which
    // cannot undo a 45° mix (and chaining the planes leaves no
    // 2-dim regrouping that would). The alternating refinement
    // descends the actual sample quantization error, which does see
    // the mixed corners.
    def mixPlanes(v: Array[Double]): Array[Double] = {
      val w = v.clone()
      val c = math.cos(math.Pi / 4); val s = math.sin(math.Pi / 4)
      for (p <- 1 until 7) {
        val a = w(p); val b = w(p + 1)
        w(p) = c * a - s * b
        w(p + 1) = s * a + c * b
      }
      w
    }
    val grid = for { corner <- 0 until 128; rep <- 0 until 8 } yield {
      val z = Array.tabulate(dim)(d =>
        if (d == 0) 0.0 else if (((corner >> (d - 1)) & 1) == 0) 1.0 else -1.0)
      val x = mixPlanes(z)
      val e = Seq.tabulate(dim) { d =>
        val jitter = ((corner * 131 + rep * 17 + d * 13) % 23 - 11) * 0.002
        (if (d == 0) 10.0 else 0.0) + x(d) + jitter
      }
      (corner * 8L + rep, e)
    }
    val corpus = grid.toDF("vec_id", "e").cache()
    val cbk: Seq[(Long, Seq[Double])] =
      Seq((0L, Seq.tabulate(dim)(d => if (d == 0) 10.0 else 0.0)))

    val param = Similarity.pqTrainOpq(corpus, "e", numSubspaces = 4, ksub = 4,
      iters = 3)
    val np = Similarity.pqTrainOpq(corpus, "e", numSubspaces = 4, ksub = 4,
      iters = 3, opqIters = 4)
    // opqIters = 0 is the parametric trainer, bit for bit
    assert(Similarity.pqTrainOpq(corpus, "e", numSubspaces = 4, ksub = 4,
      iters = 3, opqIters = 0) == param)
    // the refined rotation must STAY orthogonal (Procrustes returns
    // V·Uᵀ; this is what keeps rotated-frame ADC distances exact)
    val r = np.rotation.get
    for (i <- r.indices; j <- r.indices) {
      val dot = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RR^T[$i][$j] = $dot")
    }

    // the refinement's actual objective: sample quantization error
    // strictly drops vs the parametric rotation at the same budget
    val vecs = grid.map(_._2)
    def quantErr(model: Similarity.PqModel): Double = {
      val rot = model.rotation.get
      vecs.map { v0 =>
        val n = math.sqrt(v0.map(x => x * x).sum)
        val v = v0.map(_ / n)
        val y = rot.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
        (0 until model.numSubspaces).map { m =>
          val slice = y.slice(m * model.subDim, (m + 1) * model.subDim)
          model.codebooks(m).map(ce =>
            slice.zip(ce).map { case (a, b) => (a - b) * (a - b) }.sum).min
        }.sum
      }.sum
    }
    val errParam = quantErr(param)
    val errNp = quantErr(np)
    assert(errNp < errParam * 0.5,
      s"alternation must at least halve the quantization error on the " +
        s"mixing fixture: parametric=$errParam refined=$errNp")

    // and the error win is a recall win: MEAN recall@10 over one
    // query per corner (amplitude 0.9, so the own-corner replicas +
    // cross-face neighbors must be ranked, not just found) at a
    // near-zero-slack rerank. Exact truth is computed driver-side —
    // the fixture is 1024 × 8 doubles.
    val queries = (0 until 128).map { corner =>
      val zq = Array.tabulate(dim)(d =>
        if (d == 0) 0.0 else if (((corner >> (d - 1)) & 1) == 0) 0.9 else -0.9)
      val xq = mixPlanes(zq)
      (corner.toLong, Seq.tabulate(dim)(d => (if (d == 0) 10.0 else 0.0) + xq(d)))
    }
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truthBy = queries.map { case (qid, qv) =>
      qid -> grid.map { case (id, e) => (id, cosine(qv, e)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    }.toMap
    val probes = queries.toDF("q_id", "qe")
    val ivf = Similarity.ivfAssign(corpus, cbk, "e").cache()
    def meanRecall(model: Similarity.PqModel): Double = {
      val got = Similarity.ivfPqProbeAll(
        Similarity.pqAssign(ivf, "e", model), "e", "vec_id", probes,
        "q_id", "qe", cbk, model, k = 10, nprobe = 1, rerank = 12)
        .collect().groupBy(_.getLong(0))
        .map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
      queries.map { case (qid, _) =>
        recallAt10(got.getOrElse(qid, Set.empty), truthBy(qid))
      }.sum / queries.size
    }
    val rParam = meanRecall(param)
    val rNp = meanRecall(np)
    assert(rNp >= rParam,
      s"refined recall ($rNp) must be >= parametric ($rParam)")
    // the descent lands in a good local minimum (the cube symmetry
    // has several), not the global one — 0.8 mean recall vs the
    // parametric 0.70 is the honest, deterministic pin
    assert(rNp >= 0.8 && rNp - rParam >= 0.1,
      s"fixture must show the alternation win: parametric=$rParam refined=$rNp")

    // the composed trainer takes the same knob: rotation stays orthogonal
    val npRes = Similarity.pqTrainOpqResidual(corpus, "e", cbk,
      numSubspaces = 4, ksub = 4, iters = 3, opqIters = 2)
    assert(npRes.residual && npRes.rotation.isDefined)
    val rr = npRes.rotation.get
    for (i <- rr.indices; j <- rr.indices) {
      val dot = rr(i).zip(rr(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    ivf.unpersist(); corpus.unpersist()
  }

  test("Procrustes solve: orthogonal and trace-optimal on random, SPD, rank-deficient, and zero cross-moments") {
    // driver-side numeric robustness of the alternation's core: the
    // returned R must be orthogonal for ANY input (rank-deficient
    // cross-moments arise whenever the quantizer reconstructs a data
    // direction to a constant), and tr(R·M) must beat the trace of
    // every cheap alternative rotation (identity, axis permutations,
    // sign flips) — the optimality Procrustes exists for.
    val n = 12
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
        .map(s => ((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5)
    def orthoCheck(r: Seq[Seq[Double]]): Unit =
      for (i <- 0 until n; j <- 0 until n) {
        val dot = r(i).zip(r(j)).map { case (a, b) => a * b }.sum
        assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
          s"RR^T[$i][$j] = $dot")
      }
    def trace(r: Seq[Seq[Double]], m: Array[Array[Double]]): Double =
      (0 until n).map(i => (0 until n).map(j => r(i)(j) * m(j)(i)).sum).sum

    // (a) dense pseudo-random M: orthogonal, and tr(R·M) beats
    // identity, a cyclic permutation, and a sign flip
    val it = lcg(0x5eed5eedL)
    val rand = Array.fill(n, n)(it.next())
    val rRand = Similarity.procrustesRotation(rand)
    orthoCheck(rRand)
    val ident = Seq.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    val perm = Seq.tabulate(n, n)((i, j) => if (j == (i + 1) % n) 1.0 else 0.0)
    val flip = Seq.tabulate(n, n)((i, j) => if (i == j) (if (i % 2 == 0) 1.0 else -1.0) else 0.0)
    val best = trace(rRand, rand)
    for (q <- Seq(ident, perm, flip))
      assert(best >= trace(q, rand) - 1e-9, s"Procrustes must beat trace ${trace(q, rand)}")

    // (b) SPD M (= A·Aᵀ): the optimum IS the identity
    val spd = Array.tabulate(n, n)((i, j) =>
      (0 until n).map(k => rand(i)(k) * rand(j)(k)).sum)
    val rSpd = Similarity.procrustesRotation(spd)
    orthoCheck(rSpd)
    for (i <- 0 until n)
      assert(math.abs(rSpd(i)(i) - 1.0) < 1e-6, s"SPD optimum is I, got R[$i][$i]=${rSpd(i)(i)}")

    // (c) rank-1 M: most singular values are 0 — the Gram–Schmidt
    // completion must still deliver a full orthogonal matrix
    val u1 = Array.tabulate(n)(i => i + 1.0)
    val rank1 = Array.tabulate(n, n)((i, j) => u1(i) * u1(j) * 0.01)
    orthoCheck(Similarity.procrustesRotation(rank1))

    // (d) zero M: every direction degenerate; R is SOME orthogonal
    // matrix (any maximizes tr(R·0)) — it must not NaN or throw
    orthoCheck(Similarity.procrustesRotation(Array.fill(n, n)(0.0)))
  }

  test("SQ8: full-budget probe is brute force; tight budget stays exact; codes-only; degenerate dims; artifact") {
    import spark.implicits._
    val corpus = planted.cache()
    val sq = Similarity.sqTrain(corpus, "e")
    assert(sq.dims == dim)
    // D bytes per row — the 8x compression the codec exists for
    val assigned = Similarity.sqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", sq).cache()
    val lens = assigned.select(length(col("sq_code"))).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(lens == Set(dim), s"SQ codes must be D bytes, got lengths $lens")

    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // all lists + corpus-wide rerank == brute force (exact re-rank
    // makes the SQ shortlist a superset of the truth)
    val full = Similarity.ivfSqProbe(assigned, "e", "vec_id", query, 10,
        codebook, sq, nprobe = nClusters, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == truth)
    // 256 levels/dim is near-exact: ZERO-slack rerank (= k) already
    // recovers brute force on the boundary query — the budget PQ
    // needs 4x slack for
    val tight = Similarity.ivfSqProbe(assigned, "e", "vec_id", query, 10,
        codebook, sq, nprobe = 4, rerank = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(tight == truth,
      s"SQ8 at rerank=k must already match brute force, got $tight vs $truth")

    // codes-only index: the float-free frame probes identically with
    // the primary store joined back by id
    val store = corpus.select(col("vec_id"), col("e"))
    val codesOnly = Similarity.ivfSqProbe(
        assigned.select("vec_id", "cid", "sq_code"), "e", "vec_id", query, 10,
        codebook, sq, nprobe = 4, rerank = 10, rerankFrom = Some(store))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(codesOnly == tight)

    // null and width-mismatched embeddings code to NULL (never a
    // truncated code that could fake a near match)
    val odd = Seq((9001L, null.asInstanceOf[Seq[Double]]),
      (9002L, Seq(1.0, 2.0))).toDF("vec_id", "e")
    val oddCodes = Similarity.sqAssign(odd, "e", sq)
    assert(oddCodes.filter(col("sq_code").isNotNull).count() == 0)

    // a degenerate dimension has delta = 0: codes stay exact, probe
    // unaffected. The dim must be constant AFTER normalization —
    // which a raw constant is not (norms vary per row) — so pin the
    // one value normalization preserves: zero.
    val flat = corpus.withColumn("e",
      concat(slice(col("e"), 1, dim - 1), array(lit(0.0))))
    val sqFlat = Similarity.sqTrain(flat, "e")
    assert(sqFlat.deltas.last == 0.0)
    val aFlat = Similarity.sqAssign(
      Similarity.ivfAssign(flat, codebook, "e"), "e", sqFlat)
    val qFlat = query.dropRight(1) :+ 0.0
    val truthFlat = Similarity.bruteForceTopK(flat, "e", "vec_id", qFlat, 10)
      .collect().map(_.getLong(0)).toSeq
    val gotFlat = Similarity.ivfSqProbe(aFlat, "e", "vec_id", qFlat, 10,
        codebook, sqFlat, nprobe = nClusters, rerank = 1000)
      .collect().map(_.getLong(0)).toSeq
    assert(gotFlat == truthFlat)

    // batch probe matches the single-query path, on both the in-frame
    // and the codes-only store-joined index
    val probes = Seq((999L, query)).toDF("q_id", "qe")
    val solo = Similarity.ivfSqProbe(assigned, "e", "vec_id", query, 10,
        codebook, sq, nprobe = 2, rerank = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = Similarity.ivfSqProbeAll(assigned, "e", "vec_id", probes,
        "q_id", "qe", codebook, sq, k = 10, nprobe = 2, rerank = 12)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batch == solo)
    val batchCodesOnly = Similarity.ivfSqProbeAll(
        assigned.select("vec_id", "cid", "sq_code"), "e", "vec_id", probes,
        "q_id", "qe", codebook, sq, k = 10, nprobe = 2, rerank = 12,
        rerankFrom = Some(store))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batchCodesOnly == solo)
    assigned.unpersist(); corpus.unpersist()
  }

  test("residual SQ8: fine within-cluster structure below the direct quantizer's step is recovered") {
    import spark.implicits._
    // the geometry by_residual exists for: coarse clusters far apart
    // (their offsets dominate each dim's min..max range, so direct
    // SQ's Δ = range/255 lands ABOVE the within-cluster jitter and
    // collapses whole clusters to one code) with fine within-cluster
    // structure that residual coding — range = the residual cloud —
    // resolves with a Δ two orders finer.
    val grid = for { c <- 0 until 4; rep <- 0 until 40 } yield {
      val e = Seq.tabulate(dim) { d =>
        val jitter = ((c * 997 + rep * 13 + d * 7) % 17 - 8) * 0.0025
        (if (d == c) 10.0 else 0.0) + jitter
      }
      (c * 1000L + rep, e)
    }
    val corpus = grid.toDF("vec_id", "e").cache()
    val cbk: Seq[(Long, Seq[Double])] = (0 until 4).map(c =>
      (c.toLong, Seq.tabulate(dim)(d => if (d == c) 10.0 else 0.0)))
    // query inside cluster 0, off-center in the jitter dimensions:
    // the true top-10 are the jitter-nearest replicas, a ranking the
    // collapsed direct codes cannot see. The within-cluster cosine
    // gaps sit BELOW the probes' 4-decimal exact-score rounding (that
    // is the point — the structure is finer than anything the direct
    // quantizer OR a rounded score can see), so the truth must be
    // computed driver-side at full precision, and with k = rerank the
    // probe output SET is exactly its ADC shortlist — recall measures
    // shortlist quality, the thing by_residual buys.
    val q = Seq.tabulate(dim)(d => (if (d == 0) 10.0 else 0.0) +
      (((d * 11) % 13) - 6) * 0.002)
    def cosd(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truth = grid.map { case (id, e) => (id, cosd(q, e)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet

    val direct = Similarity.sqTrain(corpus, "e")
    val res = Similarity.sqTrainResidual(corpus, "e", cbk)
    assert(res.residual && !direct.residual)
    // the residual cloud really is two orders tighter per dim
    assert(res.deltas.max < direct.deltas.max / 50,
      s"residual delta ${res.deltas.max} vs direct ${direct.deltas.max}")

    val ivf = Similarity.ivfAssign(corpus, cbk, "e").cache()
    val aDirect = Similarity.sqAssign(ivf, "e", direct)
    val aRes = Similarity.sqAssignResidual(ivf, "e", cbk, res).cache()
    def recallOf(assigned: org.apache.spark.sql.DataFrame, m: Similarity.SqModel): Double =
      recallAt10(Similarity.ivfSqProbe(assigned, "e", "vec_id", q, 10,
        cbk, m, nprobe = 1, rerank = 10)
        .collect().map(_.getLong(0)).toSet, truth)
    val rDirect = recallOf(aDirect, direct)
    val rRes = recallOf(aRes, res)
    assert(rRes >= rDirect, s"residual ($rRes) must be >= direct ($rDirect)")
    assert(rRes == 1.0 && rRes - rDirect >= 0.3,
      s"fixture must show the by_residual win: direct=$rDirect residual=$rRes")

    // full-width probing + corpus-wide rerank degrades to EXACTLY the
    // engine's own brute force (both rank by the same rounded exact
    // cosine, ties by id)
    val full = Similarity.ivfSqProbe(aRes, "e", "vec_id", q, 10,
        cbk, res, nprobe = 4, rerank = 1000)
      .collect().map(_.getLong(0)).toSet
    val bruteSet = Similarity.bruteForceTopK(corpus, "e", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(full == bruteSet)

    // batch probe matches the single-query path on the residual index
    val probes = Seq((9999L, q)).toDF("q_id", "qe")
    val batch = Similarity.ivfSqProbeAll(aRes, "e", "vec_id", probes, "q_id", "qe",
        cbk, res, k = 10, nprobe = 2, rerank = 16)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val solo = Similarity.ivfSqProbe(aRes, "e", "vec_id", q, 10,
        cbk, res, nprobe = 2, rerank = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch == solo)

    // the flag is model identity: the wrong assign/pair-search paths
    // refuse it loudly
    assert(intercept[IllegalArgumentException](
      Similarity.sqAssign(corpus, "e", res)).getMessage.contains("sqAssignResidual"))
    assert(intercept[IllegalArgumentException](
      Similarity.sqAssignResidual(ivf, "e", cbk, direct)).getMessage
      .contains("sqAssign"))
    assert(intercept[IllegalArgumentException](
      Similarity.nearDupPairsIvfSq(corpus, "e", "vec_id", cbk, res, 0.99))
      .getMessage.contains("direct"))
    // a cid outside the codebook cannot be residual-coded: null code
    val foreign = Similarity.sqAssignResidual(
      ivf.withColumn("cid", lit(777L)), "e", cbk.take(1), res)
    assert(foreign.filter(col("sq_code").isNotNull).count() == 0)
    aRes.unpersist(); ivf.unpersist(); corpus.unpersist()
  }

  test("SQ8 kernel invariants: half-step error bound in range, clamp out of range, byte round-trip") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.VectorOps
    val dims = 16
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
        .map(s => ((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5)
    val it = lcg(0xabcdef99L)
    val mins = Array.fill(dims)(it.next() * 2 - 1)
    val maxs = mins.map(_ + math.abs(it.next()) * 3 + 0.001)
    val deltas = mins.zip(maxs).map { case (a, b) => (b - a) / 255.0 }
    val mm = new GenericArrayData(Array[Any](
      new GenericArrayData(mins), new GenericArrayData(deltas)))
    // in-range vectors: |dequant − v| <= Δ/2 per dim (the uniform
    // quantizer's defining bound), codes round-trip through the
    // signed-byte representation
    for (trial <- 0 until 200) {
      val v = Array.tabulate(dims)(d => mins(d) + math.abs(it.next() * 2) % 1.0 * (maxs(d) - mins(d)))
      val code = VectorOps.sqEncode(new GenericArrayData(v), mm)
      assert(code != null && code.length == dims)
      var d = 0
      while (d < dims) {
        val deq = mins(d) + (code(d) & 0xff).toDouble * deltas(d)
        assert(math.abs(deq - v(d)) <= deltas(d) / 2 + 1e-12,
          s"trial $trial dim $d: |$deq - ${v(d)}| > ${deltas(d) / 2}")
        d += 1
      }
    }
    // out-of-range values clamp to the nearest bound, never wrap
    val lo = Array.tabulate(dims)(d => mins(d) - 5.0)
    val hi = Array.tabulate(dims)(d => maxs(d) + 5.0)
    assert(VectorOps.sqEncode(new GenericArrayData(lo), mm)
      .forall(b => (b & 0xff) == 0))
    assert(VectorOps.sqEncode(new GenericArrayData(hi), mm)
      .forall(b => (b & 0xff) == 255))
    // the ADC cosine of a vector against its own code approaches 1
    val v = Array.tabulate(dims)(d => mins(d) + 0.37 * (maxs(d) - mins(d)))
    val selfCos = VectorOps.sqAdcCos(new GenericArrayData(v),
      VectorOps.sqEncode(new GenericArrayData(v), mm), mm)
    assert(selfCos > 0.999, s"self-ADC cosine $selfCos")
    // and the ADC-L2 of a shifted zero against its own residual code
    // is bounded by the total squared half-step
    val l2 = VectorOps.sqAdcL2(new GenericArrayData(v),
      VectorOps.sqEncode(new GenericArrayData(v), mm), mm)
    val bound = deltas.map(dl => (dl / 2) * (dl / 2)).sum
    assert(l2 <= bound + 1e-12, s"self ADC-L2 $l2 > $bound")
  }

  test("SQ8 pair search: slack margin equals the raw IVF tier; tight margin loses nothing at 256 levels") {
    import spark.implicits._
    val corpus = planted.cache()
    val sq = Similarity.sqTrain(corpus, "e")
    // margin >= 2 provably disables the prefilter: equality with the
    // raw-vector pair search, bit for bit
    val raw = Similarity.nearDupPairsIvf(corpus, "e", "vec_id", codebook,
        minCosine = 0.9, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val slack = Similarity.nearDupPairsIvfSq(corpus, "e", "vec_id", codebook, sq,
        minCosine = 0.9, nprobe = 2, sdcMargin = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(slack == raw && raw.nonEmpty)
    // at 256 levels/dim the DEFAULT margin (0.02) already keeps every
    // true pair — the tighter prefilter PQ cannot afford
    val tight = Similarity.nearDupPairsIvfSq(corpus, "e", "vec_id", codebook, sq,
        minCosine = 0.9, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tight == raw,
      s"default-margin SQ pair search dropped ${(raw -- tight).size} true pairs")
    corpus.unpersist()
  }

  test("codes-only index: rerankFrom probes a float-free index identically to in-frame") {
    import spark.implicits._
    val corpus = planted.cache()
    val pq = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 8, iters = 2)
    val assigned = Similarity.pqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", pq).cache()
    val inFrame = Similarity.ivfPqProbe(assigned, "e", "vec_id", query, 10,
        codebook, pq, nprobe = 4, rerank = 40)
      .collect().map(_.toSeq).toSeq
    val store = corpus.select(col("vec_id"), col("e"))
    withTempDir("pq-codes-only") { dirFile =>
      val dir = dirFile.getAbsolutePath
      // the storage win pqAssign promises: the written index carries
      // (id, cid, code) only — no float column at all
      Similarity.writeIndex(assigned.select("vec_id", "cid", "pq_code"), s"$dir/index")
      val index = Similarity.readIndex(spark, s"$dir/index")
      assert(!index.columns.contains("e"))
      val got = Similarity.ivfPqProbe(index, "e", "vec_id", query, 10,
          codebook, pq, nprobe = 4, rerank = 40, rerankFrom = Some(store))
        .collect().map(_.toSeq).toSeq
      assert(got == inFrame)
      // batch path over the same float-free index
      val probes = Seq((999L, query), (998L, corpus.filter(col("vec_id") === 3001L)
        .select("e").head().getSeq[Double](0).toSeq)).toDF("q_id", "qe")
      def batch(df: org.apache.spark.sql.DataFrame, rf: Option[org.apache.spark.sql.DataFrame]) =
        Similarity.ivfPqProbeAll(df, "e", "vec_id", probes, "q_id", "qe",
          codebook, pq, k = 5, nprobe = 4, rerank = 40, rerankFrom = rf)
          .collect().map(_.toSeq).toSeq
      assert(batch(index, Some(store)) == batch(assigned, None))
      // an id the store lacks cannot score a fake match — it drops
      val gappy = store.filter(col("vec_id") =!= inFrame.head.head.asInstanceOf[Long])
      val dropped = Similarity.ivfPqProbe(index, "e", "vec_id", query, 10,
          codebook, pq, nprobe = 4, rerank = 40, rerankFrom = Some(gappy))
        .collect().map(_.toSeq).toSeq
      assert(!dropped.map(_.head).contains(inFrame.head.head) &&
        dropped.map(_.head).toSet.subsetOf(
          Similarity.bruteForceTopK(corpus, "e", "vec_id", query, 50)
            .collect().map(r => r.get(0)).toSet))
    }
    assigned.unpersist(); corpus.unpersist()
  }

  test("null pq_code rows sort LAST in the ADC shortlist, never consuming rerank slots") {
    // rows appended to an index without pqAssign (or a foreign index)
    // carry null codes -> null _adc; plain asc is NULLS FIRST, which
    // would seat them AHEAD of every scored candidate. The contract:
    // a null-coded row behaves as if absent from the shortlist.
    val corpus = planted.cache()
    val pq = Similarity.pqTrain(corpus, "e", numSubspaces = 4, ksub = 16, iters = 3)
    val assigned = Similarity.pqAssign(
      Similarity.ivfAssign(corpus, codebook, "e"), "e", pq)
    // null out EVERY code in list c1 — the second-probed list. Under
    // the nulls-first bug the rerank=40 shortlist would be exactly
    // those 40 null rows; under the contract they never enter it.
    val corrupted = assigned.withColumn("pq_code",
      when(col("cid") === 1L, lit(null)).otherwise(col("pq_code"))).cache()
    val clean = corrupted.filter(col("pq_code").isNotNull)
    def top(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqProbe(df, "e", "vec_id", query, 10, codebook, pq,
        nprobe = 2, rerank = 40).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(corrupted) == top(clean))
    def topAll(df: org.apache.spark.sql.DataFrame) = {
      import spark.implicits._
      val probes = Seq((999L, query)).toDF("q_id", "qe")
      Similarity.ivfPqProbeAll(df, "e", "vec_id", probes, "q_id", "qe",
        codebook, pq, k = 10, nprobe = 2, rerank = 40)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    }
    assert(topAll(corrupted) == topAll(clean))
    corrupted.unpersist(); corpus.unpersist()
  }

  test("trainCodebook recovers planted clusters and serves multi-probe") {
    val corpus = planted.cache()
    val trained = Similarity.trainCodebook(corpus, "e", k = nClusters, iters = 3)
    assert(trained.size == nClusters)
    assert(trained.forall(_._2.forall(v => !v.isNaN && !v.isInfinite)))

    // purity: every planted cluster's members land in ONE trained list
    val assigned = Similarity.ivfAssign(corpus, trained, "e").cache()
    val purity = assigned.groupBy("planted_cluster")
      .agg(countDistinct("cid").as("k")).collect().map(_.getLong(1))
    assert(purity.forall(_ == 1L),
      s"each planted cluster should map to one trained centroid, got ${purity.toSeq}")

    // and the trained codebook answers the boundary query as well as
    // the true centroids do
    val truth = Similarity.bruteForceTopK(corpus, "e", "vec_id", query, 10)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.ivfProbeVec(assigned, "e", "vec_id", query, 10,
        trained, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(recallAt10(got, truth) >= 0.9)
    assigned.unpersist(); corpus.unpersist()
  }

  test("pairMetrics: orientation/dup/self/null normalization, exact ratios, empty-side conventions") {
    import spark.implicits._
    // (6,5) reversed and (1,2) repeated must count once each; the
    // self-pair and the null row never count on either side
    val got = Seq((1L, 2L), (2L, 1L), (3L, 4L), (6L, 5L), (9L, 9L))
      .toDF("id_a", "id_b")
      .unionByName(Seq((Some(7L), None: Option[Long])).toDF("id_a", "id_b"))
    val truth = Seq((2L, 1L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val row = Similarity.pairMetrics(got, truth).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((3L, 3L, 2L)))
    assert(row.getDouble(3) == 0.6667 && row.getDouble(4) == 0.6667)

    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r1 = Similarity.pairMetrics(empty, truth).collect()(0)
    assert(r1.getLong(0) == 0L && r1.getDouble(3) == 1.0 && r1.getDouble(4) == 0.0)
    val r2 = Similarity.pairMetrics(got, empty).collect()(0)
    assert(r2.getLong(1) == 0L && r2.getDouble(3) == 0.0 && r2.getDouble(4) == 1.0)
  }

  test("degenerate-vector hygiene: zero-norm rows never rank, null queries probe nothing, width mismatches code null") {
    import spark.implicits._
    val clean = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0)))
    val dirty = clean ++ Seq(
      (90L, Seq(0.0, 0.0, 0.0, 0.0)),  // zero norm -> cosine NaN
      (91L, Seq(1.0, 0.0)))            // wrong width
    val df = dirty.toDF("vec_id", "e")
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    // NaN sorts FIRST under desc in Spark — without the guard 90
    // would be rank 1; 91's partial-prefix cosine (1.0!) would be 2nd
    val top = Similarity.bruteForceTopK(df, "e", "vec_id", q, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L), s"degenerate rows ranked: $top")
    // the batch ground-truth generator applies the same rule
    val truth = Similarity.bruteForceTopKAll(df, "e", "vec_id",
        Seq((7L, q)).toDF("qid", "e"), "qid", "e", k = 2)
      .collect().map(_.getLong(1)).toSeq
    assert(truth == Seq(1L, 2L), s"ground truth poisoned: $truth")
    // IVF: width-mismatched rows get a null cid (never probed), and a
    // wrong-width/null batch query probes nothing instead of scoring
    // partial cosines against arbitrary lists
    val codebook: Seq[(Long, Seq[Double])] =
      Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
    val assigned = Similarity.ivfAssign(df, codebook, "e")
    assert(assigned.filter(col("vec_id") === 91L)
      .select("cid").collect()(0).isNullAt(0))
    val badQueries = Seq((7L, Some(Seq(1.0, 0.0))), (8L, None))
      .toDF("qid", "e")
    assert(Similarity.ivfProbeAll(assigned, "e", "vec_id", badQueries,
      "qid", "e", codebook, k = 2).isEmpty)
    // PQ: a width-mismatched row codes NULL (like sq/bq), never a
    // valid-looking all-zeros code, and a null-coded row cannot pass
    // an under-full shortlist into the exact stage
    val pq = Similarity.pqFromVectors(clean.map(_._2), numSubspaces = 2)
    val coded = Similarity.pqAssign(df, "e", pq)
    assert(coded.filter(col("vec_id") === 91L)
      .select("pq_code").collect()(0).isNullAt(0))
    val probed = Similarity.ivfPqProbeAll(
        Similarity.ivfAssign(Similarity.pqAssign(df.filter(col("vec_id") =!= 91L), "e", pq),
          codebook, "e"),
        "e", "vec_id", Seq((7L, q)).toDF("qid", "e"), "qid", "e",
        codebook, pq, k = 3, nprobe = 2, rerank = 8)
      .collect().map(_.getLong(1)).toSet
    assert(!probed.contains(90L),
      s"zero-norm row survived the exact stage: $probed")
    // a NULL query embedding must yield empty results, not a crashed job
    assert(Similarity.ivfPqProbeAll(
      Similarity.ivfAssign(Similarity.pqAssign(clean.toDF("vec_id", "e"), "e", pq),
        codebook, "e"),
      "e", "vec_id", Seq((8L, Option.empty[Seq[Double]])).toDF("qid", "e"),
      "qid", "e", codebook, pq, k = 2).isEmpty)
  }

  test("mmrRerank: diversity beats a redundant higher-relevance hit; lambda=1 is the identity") {
    import spark.implicits._
    // A is the best hit, B a near-copy of A, C less relevant but
    // orthogonal: at lambda 0.7 the second pick must be C
    // (0.7*0.60 - 0 = 0.42 beats 0.7*0.98 - 0.3*~1 = 0.386)
    val store = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.999, 0.05)), (12L, Seq(0.0, 1.0)),
      (20L, Seq(1.0, 1.0)), (21L, Seq(1.0, 0.9)))
      .toDF("vec_id", "e")
    val short = Seq(
      (1L, 10L, 0.99), (1L, 11L, 0.98), (1L, 12L, 0.60),
      // second query exercises the group walk across a boundary
      (2L, 20L, 0.9), (2L, 21L, 0.8),
      // a candidate missing from the store cannot be diversity-checked
      (2L, 99L, 0.95))
      .toDF("qid", "vec_id", "cos")
    def picks(lambda: Double) = Similarity.mmrRerank(short, "qid", "vec_id",
        "cos", store, "vec_id", "e", k = 2, lambda = lambda)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._3).map(_._2).toSeq }
    val mmr = picks(0.7)
    assert(mmr(1L) == Seq(10L, 12L), s"query 1 picks: ${mmr(1L)}")
    assert(mmr(2L) == Seq(20L, 21L), s"query 2 picks: ${mmr(2L)}")
    // lambda = 1: pure relevance order survives
    val rel = picks(1.0)
    assert(rel(1L) == Seq(10L, 11L), s"lambda=1 picks: ${rel(1L)}")
    // a shortlist past maxShortlist is refused, not silently truncated
    val err = intercept[org.apache.spark.SparkException] {
      Similarity.mmrRerank(short, "qid", "vec_id", "cos", store,
        "vec_id", "e", k = 2, maxShortlist = 2).collect()
    }
    assert(err.getMessage.contains("maxShortlist") ||
      Option(err.getCause).exists(_.getMessage.contains("maxShortlist")))
    // NaN relevance (a zero-norm vector's cosine) drops instead of
    // poisoning the greedy walk (NaN sorts first under desc)
    val nanShort = short.unionByName(
      Seq((1L, 13L, Double.NaN)).toDF("qid", "vec_id", "cos"))
    val nanStore = store.unionByName(
      Seq((13L, Seq(0.0, 0.0))).toDF("vec_id", "e"))
    val withNan = Similarity.mmrRerank(nanShort, "qid", "vec_id", "cos",
        nanStore, "vec_id", "e", k = 2, lambda = 0.7)
      .filter(org.apache.spark.sql.functions.col("qid") === 1L)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2).map(_._1)
    assert(withNan.toSeq == Seq(10L, 12L), s"NaN row leaked: ${withNan.toSeq}")
  }

  test("rrfFuse: hybrid lexical+semantic fusion, and the fuse -> mmrRerank chain") {
    import spark.implicits._
    // doc 10 is the best hit in BOTH rankings; 11 is lexical-mostly,
    // 12 semantic-only, 13 lexical-only
    val docs = Seq(
      (1L, "apple banana cherry"),
      (10L, "apple banana cherry date"),
      (11L, "apple banana melon"),
      (12L, "unrelated words entirely here"),
      (13L, "apple date fig grape")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (10L, Seq(0.99, 0.1)), (11L, Seq(0.7, 0.7)),
      (12L, Seq(0.95, 0.2)), (13L, Seq(0.0, 1.0))).toDF("vec_id", "e")
    val path = java.nio.file.Files.createTempDirectory("graft_rrf_")
      .toFile.getAbsolutePath
    TextStats.writeBm25Index(docs.filter(col("doc_id") =!= 1L), "text",
      "doc_id", path, tokenBuckets = 2)
    val lex = TextStats.bm25TopKFromIndex(TextStats.readBm25Index(spark, path),
      docs.filter(col("doc_id") === 1L).select(col("doc_id").as("qid"), col("text")),
      "text", "qid", k = 3)
    val sem = Similarity.bruteForceTopKAll(emb.filter(col("vec_id") =!= 1L),
        "e", "vec_id",
        emb.filter(col("vec_id") === 1L).select(col("vec_id").as("qid"), col("e")),
        "qid", "e", k = 3)
      .withColumnRenamed("vec_id", "doc_id")
    val fused = Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id", "rank", k = 4)
    val rows = fused.collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._3)
    assert(rows.map(_._1).toSeq == Seq(10L, 11L, 12L, 13L),
      s"fused order: ${rows.toSeq}")
    // the both-lists doc scores 1/61 + 1/61; single-list docs can
    // never reach it — the hybrid property, exactly
    assert(rows.head._2 == math.rint(2.0 / 61.0 * 1e6) / 1e6,
      s"rank-1 score ${rows.head._2}")
    assert(rows.tail.forall(_._2 < rows.head._2))
    // chain the diversity re-rank behind the fusion: 10 is picked
    // first; 13 (orthogonal embedding) beats the higher-fused but
    // near-duplicate 11 and 12 at lambda 0.5
    val reranked = Similarity.mmrRerank(fused, "qid", "doc_id", "rrf_score",
        emb, "vec_id", "e", k = 2, lambda = 0.5)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2).map(_._1)
    assert(reranked.toSeq == Seq(10L, 13L), s"mmr chain picks: ${reranked.toSeq}")
    // weighted RRF: a 3x lexical weight lifts the lexical-only doc 13
    // over the semantic-only doc 12
    val weighted = Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id", "rank",
        k = 4, weights = Some(Seq(3.0, 1.0)))
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2).map(_._1)
    assert(weighted.toSeq == Seq(10L, 11L, 13L, 12L),
      s"weighted fusion order: ${weighted.toSeq}")
    assert(intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id", weights = Some(Seq(1.0)))
    }.getMessage.contains("weights"))
    // withSources: per-list provenance columns, null where absent,
    // fused ranking unchanged
    val sourced = Similarity.rrfFuse(Seq(lex, sem), "qid", "doc_id", "rank",
      k = 4, withSources = true)
    assert(sourced.columns.toSeq ==
      Seq("qid", "doc_id", "rrf_score", "rank", "rank_in_0", "rank_in_1"))
    val srows = sourced.collect().map(r => r.getLong(1) ->
      ((if (r.isNullAt(4)) None else Some(r.getLong(4))),
        (if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    assert(srows(10L) == ((Some(1L), Some(1L))), s"both-lists doc: ${srows(10L)}")
    assert(srows(12L)._1.isEmpty && srows(12L)._2.nonEmpty,
      s"semantic-only doc: ${srows(12L)}")
    assert(srows(13L)._1.nonEmpty && srows(13L)._2.isEmpty,
      s"lexical-only doc: ${srows(13L)}")
    assert(sourced.select("qid", "doc_id", "rrf_score", "rank")
      .collect().map(_.toSeq).toSet == fused.collect().map(_.toSeq).toSet,
      "withSources changed the fused ranking")
  }

  test("rankMetrics: reciprocal rank and binary nDCG@k; missing queries score zero") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("qid", "vec_id")
    val got = Seq(
      (1L, 99L, 1), (1L, 98L, 2), (1L, 10L, 3), // first hit at rank 3
      (2L, 20L, 1), (2L, 21L, 2))               // perfect ranking
      .toDF("qid", "vec_id", "rank")            // query 3 retrieved nothing
    val m = Similarity.rankMetrics(got, truth, "qid", "vec_id", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(m(1L)._1 == 0.333333, s"rr(1) = ${m(1L)._1}")
    // dcg = 1/log2(4) = 0.5 against idcg = 1/log2(2) = 1
    assert(m(1L)._2 == 0.5, s"ndcg(1) = ${m(1L)._2}")
    assert(m(2L) == ((1.0, 1.0)), s"q2 = ${m(2L)}")
    assert(m(3L) == ((0.0, 0.0)), s"q3 = ${m(3L)}")
    // a hit beyond the ndcg cut still counts for rr, not for dcg
    val late = Similarity.rankMetrics(
        Seq((1L, 10L, 4)).toDF("qid", "vec_id", "rank"),
        Seq((1L, 10L)).toDF("qid", "vec_id"), "qid", "vec_id", k = 3)
      .collect()(0)
    assert(late.getDouble(1) == 0.25 && late.getDouble(2) == 0.0,
      s"late hit: ${late}")
  }

  test("mmrRerank: width-mismatched candidates drop before selection") {
    import spark.implicits._
    // 14's stored embedding is 3-wide against the group majority of 2:
    // its pairwise cosines would be NaN, so it could never accrue a
    // diversity penalty — despite being the single most relevant
    // candidate it must DROP, not win every walk on pure relevance
    val store = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.999, 0.05)), (12L, Seq(0.0, 1.0)),
      (14L, Seq(0.5, 0.5, 0.5)))
      .toDF("vec_id", "e")
    val short = Seq(
      (1L, 14L, 0.999), (1L, 10L, 0.99), (1L, 11L, 0.98), (1L, 12L, 0.60))
      .toDF("qid", "vec_id", "cos")
    val picks = Similarity.mmrRerank(short, "qid", "vec_id", "cos", store,
        "vec_id", "e", k = 2, lambda = 0.7)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2).map(_._1)
    assert(picks.toSeq == Seq(10L, 12L),
      s"width-mismatched candidate leaked into the walk: ${picks.toSeq}")
  }
}

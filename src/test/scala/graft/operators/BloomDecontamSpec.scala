package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Bloom-prefiltered benchmark decontamination: the compiled
  * bloom_might_contain kernel's no-false-negative contract against
  * stat.bloomFilter builds, bounded false positives, and the central
  * claim — the bloom tier returns results IDENTICAL to the broadcast
  * tier at any fpp (false positives die in the exact join). */
class BloomDecontamSpec extends SparkSpecBase {

  import graft.functions.TextExpressions.bloom_might_contain

  // 8 bench docs + 40 corpus docs; corpus docs 100-107 copy a bench
  // doc's text with a 1-word suffix (containment ~1), 108-119 share a
  // half-prefix (containment ~0.5), the rest are private vocabulary.
  private def fixture = {
    import spark.implicits._
    val benchRows = (0 until 8).map { b =>
      (b.toLong, (0 until 12).map(i => s"bench${b}tok$i").mkString(" "))
    }
    val corpusRows = (0 until 40).map { j =>
      val id = 100L + j
      val text =
        if (j < 8) benchRows(j)._2 + s" extra$j"
        else if (j < 20) {
          val b = j % 8
          ((0 until 6).map(i => s"bench${b}tok$i") ++
            (0 until 6).map(i => s"own${j}tok$i")).mkString(" ")
        } else (0 until 12).map(i => s"own${j}tok$i").mkString(" ")
      (id, text)
    }
    (benchRows.toDF("doc_id", "text"), corpusRows.toDF("doc_id", "text"))
  }

  test("bloom_might_contain: no false negatives, bounded false positives, NULL passthrough") {
    import spark.implicits._
    val members = (0 until 200).map(i => s"member-$i")
    val filter = members.toDF("s").stat.bloomFilter("s", members.size.toLong, 0.01)
    val baos = new java.io.ByteArrayOutputStream()
    filter.writeTo(baos)
    val bytes = baos.toByteArray

    val probes = members.map(m => (m, true)) ++
      (0 until 500).map(i => (s"outsider-$i", false)) :+
      (null.asInstanceOf[String], false)
    val got = probes.toDF("s", "member")
      .select(col("s"), col("member"), bloom_might_contain(col("s"), bytes).as("hit"))
      .collect()

    // every member MUST hit (a miss would mean the kernel hashes
    // differently than the builder — the whole contract)
    assert(got.filter(r => !r.isNullAt(0) && r.getBoolean(1)).forall(_.getBoolean(2)))
    // non-members mostly miss (hashing is deterministic, so this is a
    // fixed count for fixed strings; 2% of 500 is a generous 1%-fpp bound)
    val fps = got.count(r => !r.isNullAt(0) && !r.getBoolean(1) && r.getBoolean(2))
    assert(fps <= 10, s"$fps false positives out of 500 at fpp=0.01")
    // NULL in -> NULL out (not false)
    assert(got.filter(_.isNullAt(0)).forall(_.isNullAt(2)))
  }

  test("bloom tier == broadcast tier on containment AND decontaminate survivors") {
    val (bench, corpus) = fixture
    val direct = Dedup.benchmarkContainment(corpus, "text", "doc_id",
        bench, "text", "doc_id", n = 3, minContainment = 0.4)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(direct.nonEmpty, "fixture must produce contaminated pairs")
    for (fpp <- Seq(0.5, 0.01)) { // even an awful filter changes nothing
      val bloomed = Dedup.benchmarkContainment(corpus, "text", "doc_id",
          bench, "text", "doc_id", n = 3, minContainment = 0.4,
          benchBloomFpp = Some(fpp))
        .orderBy("doc_id", "bench_id").collect().toSeq
      assert(bloomed == direct, s"fpp=$fpp diverged from the broadcast tier")
    }
    val survDirect = Dedup.decontaminate(corpus, "text", "doc_id",
        bench, "text", "doc_id", n = 3, minContainment = 0.8)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val survBloom = Dedup.decontaminate(corpus, "text", "doc_id",
        bench, "text", "doc_id", n = 3, minContainment = 0.8,
        benchBloomFpp = Some(0.01))
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(survBloom == survDirect)
    // the near-copies (100-107) are dropped, private-vocab docs survive
    assert((100L until 108L).forall(!survBloom.contains(_)))
    assert((120L until 140L).forall(survBloom.contains))
  }

  test("bloomNgramGate: any-hit drops at n, maxHits tolerates, null text passes, batch facade routes it") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val bloom = Dedup.buildShingleBloom(bench, "text", n = 4, fpp = 1e-6)
    val docs = Seq(
      // carries one bench 4-shingle verbatim -> any-hit drops it
      (10L, "prefix words then alpha beta gamma delta and trailing tail"),
      // shares only 3-grams with the bench, never a full 4-shingle
      (11L, "alpha beta gamma XX delta epsilon zeta YY unrelated closing"),
      (12L, "entirely private vocabulary with no benchmark overlap at all"),
      (13L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")

    val kept = Dedup.bloomNgramGate(docs, "text", bloom, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L, 13L), s"got $kept")

    // maxHits = 1 tolerates the single colliding shingle
    val tol = Dedup.bloomNgramGate(docs, "text", bloom, n = 4, maxHits = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tol == Set(10L, 11L, 12L, 13L))

    // facade route: the gate runs on clean_text inside run(); the
    // bench bloom is built over the SAME normalization
    val cfg0 = CorpusPrep.Config(minChars = 20)
    val normBench = bench.select(lower(col("text")).as("text"))
    val bloomNorm = Dedup.buildShingleBloom(normBench, "text", n = 4, fpp = 1e-6)
    val out = CorpusPrep.run(docs.filter(col("text").isNotNull),
      cfg = cfg0.copy(ngramBloom = Some(bloomNorm), ngramBloomN = 4,
        sampleRate = Some(lit(1.0)), metricPrefix = Some("bloom_prep")))
    val survivors = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(survivors == Set(11L, 12L))
    // the new stages publish survivor counts like every other stage
    // (metrics populate on out's OWN QueryExecution action above)
    val m = out.queryExecution.observedMetrics
    assert(m("bloom_prep_ngram").getAs[Long]("rows") == 2L)
    assert(m("bloom_prep_sampled").getAs[Long]("rows") == 2L)
  }

  test("SQL surface: bloom_might_contain resolves with a binary literal, rejects non-constant filters") {
    import spark.implicits._
    val members = Seq("alpha", "beta")
    val filter = members.toDF("s").stat.bloomFilter("s", 2L, 0.01)
    val baos = new java.io.ByteArrayOutputStream()
    filter.writeTo(baos)
    val hexLit = "X'" + baos.toByteArray.map("%02X".format(_)).mkString + "'"
    (members :+ "outsider-zzz").toDF("s").createOrReplaceTempView("bloom_sql_probe")
    val got = spark.sql(
        s"SELECT s, bloom_might_contain(s, $hexLit) AS hit FROM bloom_sql_probe")
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("alpha") && got("beta") && !got("outsider-zzz"))
    intercept[Exception] {
      spark.sql("SELECT bloom_might_contain(s, cast(s AS BINARY)) FROM bloom_sql_probe")
        .collect()
    }
  }

  test("fpp bounds are validated loudly") {
    val (bench, corpus) = fixture
    for (bad <- Seq(0.0, 1.0, -0.1)) {
      intercept[IllegalArgumentException] {
        Dedup.benchmarkContainment(corpus, "text", "doc_id",
          bench, "text", "doc_id", benchBloomFpp = Some(bad))
      }
    }
  }

  test("semanticDecontaminate: near-bench drops, nulls and width-mismatches keep, oversized bench refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bench = Seq((1L, Some(Seq(1.0, 0.0, 0.0, 0.0)))).toDF("vec_id", "e")
    val corpus = Seq(
      (10L, Some(Seq(0.99, 0.1, 0.0, 0.0))),   // cos ~0.995 -> drops
      (11L, Some(Seq(0.0, 1.0, 0.0, 0.0))),    // orthogonal -> keeps
      (12L, None),                              // null emb -> keeps
      (13L, Some(Seq(1.0, 0.0))))               // wrong width -> keeps
      .toDF("vec_id", "e")
    val kept = Dedup.semanticDecontaminate(corpus, "e", bench, "e",
        minCosine = 0.8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L, 13L), s"got $kept")
    // an empty bench is a no-op, not an error
    val none = Dedup.semanticDecontaminate(corpus, "e",
        bench.filter(col("vec_id") < 0), "e", minCosine = 0.8)
      .count()
    assert(none == 4L)
    // a "benchmark" past maxBench is a corpus — refused loudly
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticDecontaminate(corpus, "e", corpus, "e",
        minCosine = 0.8, maxBench = 2)
    }.getMessage.contains("maxBench"))
    // a zero-norm bench embedding gives cosine NaN against every row,
    // and Spark orders NaN above all values — without the NaN guard it
    // would "hit" (drop) the whole corpus
    val zeroBench = Seq((1L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "e")
    assert(Dedup.semanticDecontaminate(corpus, "e", zeroBench, "e",
      minCosine = 0.8).count() == 4L)
    // a null ELEMENT inside a bench embedding is a described error,
    // not a bare NPE
    val gappy = Seq((1L, Seq[java.lang.Double](1.0, null, 0.0, 0.0)))
      .toDF("vec_id", "e")
    assert(intercept[IllegalArgumentException] {
      Dedup.semanticDecontaminate(corpus, "e", gappy, "e", minCosine = 0.8)
    }.getMessage.contains("null element"))
  }

  test("semanticDecontaminateLarge: parity with the literal path; null/width rules hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // bench vectors sit on distinct sign patterns; contaminated corpus
    // rows are sign-identical near-copies (band collision certain),
    // clean rows are orthogonal or below the cosine bar
    val bench = Seq(
      (100L, Some(Seq(1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0))),
      (101L, Some(Seq(-1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0))),
      (102L, Some(Seq(1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0))))
      .toDF("bid", "be")
    val corpus = Seq(
      (10L, Some(Seq(0.98, 1.02, -1.0, 0.97, -1.01, 1.0, 1.0, -0.99))), // ~bench 100
      (11L, Some(Seq(-1.01, 0.99, 1.0, -1.0, 1.02, -0.98, 1.0, 1.0))),  // ~bench 101
      (12L, Some(Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0))),        // clean
      (13L, Some(Seq(-1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0))),   // clean
      (14L, None),                                                      // null -> keeps
      (15L, Some(Seq(1.0, 1.0, -1.0))))                                 // width -> keeps
      .toDF("vec_id", "e")
    val literal = Dedup.semanticDecontaminate(corpus, "e",
        bench, "be", minCosine = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val large = Dedup.semanticDecontaminateLarge(corpus, "e", "vec_id",
        bench, "be", minCosine = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(literal == Set(12L, 13L, 14L, 15L), s"literal kept $literal")
    assert(large == literal, s"route divergence: large kept $large, literal $literal")
    // zero-norm bench vectors must not nuke the corpus on this route
    // either (their cosine is NaN at verify)
    val zeroBench = Seq((1L, Seq.fill(8)(0.0))).toDF("bid", "be")
    assert(Dedup.semanticDecontaminateLarge(corpus, "e", "vec_id",
      zeroBench, "be", minCosine = 0.9).count() == corpus.count())
    // the bench needs no id column at all — the internal content key
    // makes duplicated bench vectors harmless
    val noId = bench.select("be").unionByName(bench.select("be"))
    assert(Dedup.semanticDecontaminateLarge(corpus, "e", "vec_id",
        noId, "be", minCosine = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet == literal)
  }
}

package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Corpus-statistics scoring pinned on hand-computable fixtures. */
class TextStatsSpec extends SparkSpecBase {

  import spark.implicits._

  test("unigramLogProb: hand-computed model, OOV floor for rare tokens") {
    // corpus: "a" x6, "b" x3, "z" x1 -> total 10
    val docs = Seq(
      (1L, "a a a b"), (2L, "a a a b b"), (3L, "z")
    ).toDF("doc_id", "text")
    val out = TextStats.unigramLogProb(docs, "text", "doc_id",
      minCount = 2L, floorLogProb = -9.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lpA = math.log(6 / 10.0); val lpB = math.log(3 / 10.0)
    def r4(x: Double) = math.rint(x * 10000) / 10000
    assert(out(1L)._1 == 4 && out(1L)._2 == r4((3 * lpA + lpB) / 4))
    assert(out(2L)._1 == 5 && out(2L)._2 == r4((3 * lpA + 2 * lpB) / 5))
    // "z" has count 1 < minCount -> OOV floor
    assert(out(3L) == (1L, -9.0))
  }

  test("bigramLogProb: hand-computed smoothed model; zero-bigram docs survive") {
    val docs = Seq(
      (1L, "a b a"), (2L, "b a"), (3L, "x"), (4L, "")
    ).toDF("doc_id", "text")
    // bigrams: doc1 (a,b),(b,a); doc2 (b,a) -> c(a,b)=1, c(b,a)=2
    // left counts: a->1, b->2; V = |{a,b,x}| = 3; k = 0.5
    val pAB = (1 + 0.5) / (1 + 0.5 * 3)
    val pBA = (2 + 0.5) / (2 + 0.5 * 3)
    def r4(x: Double) = math.rint(x * 10000) / 10000
    val out = TextStats.bigramLogProb(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out(1L) == ((2L, Some(r4((math.log(pAB) + math.log(pBA)) / 2)))))
    assert(out(2L) == ((1L, Some(r4(math.log(pBA))))))
    assert(out(3L) == ((0L, None)), "single-token doc must survive with 0 bigrams")
    assert(out(4L) == ((0L, None)), "empty doc must survive with 0 bigrams")

    // the order signal: in a corpus dominated by fluent word order, a
    // scrambled doc (same unigrams — order-blind q73 scores it
    // identically to its twin) collapses under the bigram model
    val corpus = ((1L to 9L).map(i => (i, "the cat sat on the mat")) :+
      (10L, "mat the on sat cat the")).toDF("doc_id", "text")
    val scores = TextStats.bigramLogProb(corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(10L) < scores(1L),
      s"scrambled doc must score below the fluent docs: $scores")
    assert(scores(1L) == scores(9L))
  }

  test("foreign-model bigram scoring: smoothed floors for unseen pairs; LM round-trips") {
    // reference model: (a,b)=3, (b,a)=1; lefts a->3, b->1; V=2
    val ref = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val lm = TextStats.bigramModel(ref, "text")
    assert(lm.vocabSize == 2.0)
    def r4(x: Double) = math.rint(x * 10000) / 10000

    // seen pair + unseen pair with seen left: (3.5/4), (0.5/2)
    val got = TextStats.scoreBigramLogProb(
      Seq((10L, "a b z")).toDF("doc_id", "text"), "text", "doc_id", lm).collect()(0)
    assert(got.getLong(1) == 2L)
    assert(got.getDouble(2) == r4((math.log(3.5 / 4) + math.log(0.25)) / 2))
    // fully unseen left word degrades to 1/V
    val g2 = TextStats.scoreBigramLogProb(
      Seq((11L, "z q")).toDF("doc_id", "text"), "text", "doc_id", lm).collect()(0)
    assert(g2.getDouble(2) == r4(math.log(0.5)))

    // training needs no id column
    assert(TextStats.bigramModel(ref.select("text"), "text").vocabSize == 2.0)
  }

  test("row-local scorer matches the batch scorer doc for doc") {
    val ref = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val lm = TextStats.bigramModel(ref, "text")
    val local = TextStats.collectLocal(lm)
    assert(local.vocab == 2.0 &&
      local.pairCounts == Map(("a", "b") -> 3L, ("b", "a") -> 1L) &&
      local.leftCounts == Map("a" -> 3.0, "b" -> 1.0))
    val docs = Seq(
      (10L, "a b z"), (11L, "z q"), (12L, "a"), (13L, ""),
      (14L, "a b a b a b"), (15L, "q a b q z a"))
      .toDF("doc_id", "text")
    val batch = TextStats.scoreBigramLogProb(docs, "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val local_ = TextStats.withBigramLogProb(docs, "text", local)
      .select("doc_id", "n_bigrams", "logprob")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(local_.keySet == batch.keySet)
    for ((id, (nb, lp)) <- batch) {
      val (nl, ll) = local_(id)
      assert(nl == nb, s"doc $id bigram count: $nl vs $nb")
      // both round to 4 decimals; summation order differs (sequential
      // vs partition-merge), so allow one final-digit step
      (lp, ll) match {
        case (None, None) =>
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) <= 1.01e-4, s"doc $id logprob: $b vs $a")
        case other => fail(s"doc $id null mismatch: $other")
      }
    }

    // the collect bound fails loudly, not with a driver OOM
    val e = intercept[IllegalArgumentException](
      TextStats.collectLocal(lm, maxPairs = 1))
    assert(e.getMessage.contains("driver-collect bound"))
    // the raise-it hint must carry the heap math: the bound protects
    // driver memory, so raising it without more heap just moves the OOM
    assert(e.getMessage.contains("driver heap") ||
      e.getMessage.contains("driver memory"))
  }

  test("null-text docs contribute nothing to the model or its artifact") {
    val docs = Seq((1L, "a b"), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    val lm = TextStats.bigramModel(docs, "text")
    // vocab counts only the real tokens; a null-text doc must not add
    // a junk (null, null) group to the unified pairs table
    assert(lm.vocabSize == 2.0)
    assert(lm.pairs.filter(col("_w1").isNull).count() == 0,
      "null text must emit no token-successor rows")
    assert(lm.pairs.count() == 2) // (a,b) and the last-token (b,null)
  }

  test("keywords: tf-first ranking with rarity and token tie-breaks") {
    val docs = Seq(
      (1L, "x x y y common"), // tf tie x/y -> rarer (lower df) first
      (2L, "y common common"),
      (3L, "common x")
    ).toDF("doc_id", "text")
    // df: x=2, y=2, common=3
    val out = TextStats.keywords(docs, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // doc 1: x tf2 / y tf2 tie, df tie (2 vs 2) -> token asc: x then y
    assert(out((1L, 1L)) == "x" && out((1L, 2L)) == "y")
    // doc 2: common tf2 first, then y (tf1, df2 beats nothing else)
    assert(out((2L, 1L)) == "common" && out((2L, 2L)) == "y")
    // doc 3: tf tie common/x -> x rarer (df2 < df3)
    assert(out((3L, 1L)) == "x" && out((3L, 2L)) == "common")
  }

  test("plans: vocab and df broadcast back; no second corpus shuffle for scoring") {
    val docs = (1L to 200L).map(i => (i, s"tok${i % 17} tok${i % 5} filler common words here"))
      .toDF("doc_id", "text")
    val plan = TextStats.unigramLogProb(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("tokenDivergence: identical corpora contribute ~0, a one-side token drives the drift, sum is the JS bound") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val b = Seq((3L, "alpha beta gamma alpha"), (4L, "beta gamma NOVEL"))
      .toDF("doc_id", "text")

    // identical snapshots: every contribution is exactly 0
    val same = TextStats.tokenDivergence(a, a, "text")
      .collect().map(_.getDouble(3))
    assert(same.forall(_ == 0.0))

    val rows = TextStats.tokenDivergence(a, b, "text", topK = 10).collect()
    // the two one-side tokens (delta only in a, NOVEL only in b) must
    // outrank every shared token
    val ranked = rows.map(_.getString(0)).toSeq
    assert(ranked.take(2).toSet == Set("delta", "NOVEL"), s"got $ranked")
    // contributions are non-negative and bounded: sum(js) <= ln(2)
    val js = rows.map(_.getDouble(3))
    assert(js.forall(_ >= 0.0) && js.sum <= math.log(2.0) + 1e-9)
    // hand-check one smoothed frequency: union vocab = 5 tokens,
    // side a has 7 tokens, alpha appears 2x -> p_a = (2+1)/(7+5)
    val alpha = rows.find(_.getString(0) == "alpha").get
    assert(math.abs(alpha.getDouble(1) - 3.0 / 12.0) < 1e-6)
  }

  test("bm25TopK: scores match the closed form, zero-overlap docs absent, id-collision rename") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "apple banana apple"),
      (11L, "banana cherry"),
      (12L, "durian durian durian")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry cherry")).toDF("doc_id", "text")

    val got = TextStats.bm25TopK(corpus, "text", "doc_id",
        queries, "text", "doc_id", k = 5)
      .orderBy("rank").collect()
    // doc 12 shares no token with the query and must be absent
    assert(got.map(_.getLong(1)).toSeq == Seq(11L, 10L) ||
      got.map(_.getLong(1)).toSeq == Seq(10L, 11L))
    assert(got.forall(_.getLong(0) == 1L))
    // q_<name> rename on the id collision
    assert(got.head.schema.fieldNames.head == "q_doc_id")

    // closed form, independent arithmetic: N=3, avglen=8/3,
    // idf(t) = ln(1 + (N - df + .5)/(df + .5)), every query token
    // counted ONCE (distinct), k1=1.2, b=0.75
    def idf(df: Double) = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def term(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8.0 / 3.0)))
    val exp10 = idf(1) * term(2, 3) // apple only
    val exp11 = idf(1) * term(1, 2) // cherry only
    val byId = got.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(byId(10L) - exp10) < 5e-5, s"${byId(10L)} vs $exp10")
    assert(math.abs(byId(11L) - exp11) < 5e-5, s"${byId(11L)} vs $exp11")
  }

  test("writeBm25Index refuses maxPostings < 1 on the driver: no job, no generation, no lock") {
    val corpus = Seq((1L, "apple banana"), (2L, "banana cherry")).toDF("doc_id", "text")
    withTempDir("bm25-cap0") { dir =>
      val (e, jobs) = countJobs(intercept[IllegalArgumentException] {
        TextStats.writeBm25Index(corpus, "text", "doc_id", dir.getAbsolutePath,
          maxPostings = 0)
      })
      assert(e.getMessage.contains("maxPostings must be >= 1"), e.getMessage)
      assert(jobs == 0, s"refusal ran $jobs jobs first")
      assert(dir.list().isEmpty, s"left behind: ${dir.list().mkString(", ")}")
    }
  }

  test("bm25 index: write/read probe equals bm25TopK; append equals a fresh rebuild") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "apple banana apple"),
      (11L, "banana cherry"),
      (12L, "durian durian durian"),
      (13L, "apple durian fig"),
      (14L, "cherry fig fig grape")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry cherry"), (2L, "fig grape"))
      .toDF("doc_id", "text").select(col("doc_id").as("qid"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val direct = rows(TextStats.bm25TopK(corpus, "text", "doc_id",
      queries, "text", "qid", k = 3))

    withTempDir("bm25-idx") { dir =>
      TextStats.writeBm25Index(corpus, "text", "doc_id", dir.getAbsolutePath)
      val idx = TextStats.readBm25Index(spark, dir.getAbsolutePath)
      assert(idx.idCol == "doc_id")
      val probe = TextStats.bm25TopKFromIndex(idx, queries, "text", "qid", k = 3)
      assert(rows(probe) == direct)
      // the postings scan must carry a dynamic-pruning partition
      // filter on the token bucket — the plan shape that turns a
      // 100 TB probe into a few-directory read
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"postings scan lost its DPP partition filter:\n$plan")
    }

    // append path: index built on docs 10-12, docs 13-14 appended —
    // probe must equal the fresh full-corpus index (and the direct op)
    withTempDir("bm25-idx-app") { dir =>
      TextStats.writeBm25Index(corpus.filter(col("doc_id") <= 12),
        "text", "doc_id", dir.getAbsolutePath)
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        corpus.filter(col("doc_id") > 12), "text", "doc_id")
      val idx = TextStats.readBm25Index(spark, dir.getAbsolutePath)
      assert(rows(TextStats.bm25TopKFromIndex(idx, queries, "text", "qid",
        k = 3)) == direct)
      // the merged df is the true corpus df (banana stayed at 2,
      // apple/cherry/durian/fig grew across the append boundary)
      val dfm = idx.dfT.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dfm == Map("apple" -> 2L, "banana" -> 2L, "cherry" -> 2L,
        "durian" -> 2L, "fig" -> 2L, "grape" -> 1L))
      // scalars recomputed on the driver match the corpus
      val m = idx.meta.collect()(0)
      assert(m.getAs[Double]("ndocs") == 5.0)
      assert(math.abs(m.getAs[Double]("avglen") - 15.0 / 5) < 1e-12)
    }

    // cap + df-gate: with maxPostings = 1, every df>1 term's list is
    // whole-list dropped at build AND df-gated at probe; only the
    // singleton term 'grape' can contribute — and a term whose list
    // only crosses the cap AFTER an append (fig: df 1 -> 2) is gated
    // identically to the fresh rebuild even though its stale standing
    // posting is still on disk
    def gated(dir: java.io.File) = rows(TextStats.bm25TopKFromIndex(
      TextStats.readBm25Index(spark, dir.getAbsolutePath),
      queries, "text", "qid", k = 3))
    val fresh = withTempDir("bm25-idx-cap") { dir =>
      TextStats.writeBm25Index(corpus, "text", "doc_id",
        dir.getAbsolutePath, maxPostings = 1)
      val g = gated(dir)
      assert(g.map(t => (t._1, t._2)) == Seq((2L, 14L)), s"got $g")
      g
    }
    withTempDir("bm25-idx-cap-app") { dir =>
      TextStats.writeBm25Index(corpus.filter(col("doc_id") <= 12),
        "text", "doc_id", dir.getAbsolutePath, maxPostings = 1)
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        corpus.filter(col("doc_id") > 12), "text", "doc_id")
      assert(gated(dir) == fresh)
    }
  }

  test("rm3 expansion: feedback vocabulary recalls docs the raw query misses; alpha=1 degenerates; weighted probe reduces to the text probe") {
    import spark.implicits._
    // doc 12 shares NO term with the query — only the feedback
    // vocabulary of the true hits (10, 11) can reach it ("cells"
    // rides in via doc 10)
    val corpus = Seq(
      (10L, "solar panels convert sunlight with photovoltaic cells"),
      (11L, "solar panels on rooftops gather sunlight efficiently"),
      (12L, "photovoltaic cells degrade slowly over decades"),
      (13L, "wind turbines are unrelated generation hardware"),
      (14L, "cooking recipes with garlic and rosemary tonight"))
      .toDF("doc_id", "text")
    val queries = Seq((1L, "solar panels")).toDF("qid", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(1)).toSet
    withTempDir("bm25-rm3") { dir =>
      TextStats.writeBm25Index(corpus, "text", "doc_id",
        dir.getAbsolutePath, tokenBuckets = 2)
      val idx = TextStats.readBm25Index(spark, dir.getAbsolutePath)
      val plain = TextStats.bm25TopKFromIndex(idx, queries, "text", "qid", k = 5)
      assert(ids(plain) == Set(10L, 11L), s"plain probe: ${ids(plain)}")
      // the weighted-terms primitive at weight 1 IS the text probe
      val terms1 = queries.select(col("qid"),
          explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
        .distinct().withColumn("weight", lit(1.0))
      val viaTerms = TextStats.bm25TopKTerms(idx, terms1, "qid", k = 5)
      assert(viaTerms.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet ==
        plain.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet)
      // RM3: the expanded query reaches doc 12 through the feedback
      // terms, and the true hits stay on top
      val rm3 = TextStats.bm25Rm3TopK(idx, corpus, "text", queries, "text",
        "qid", k = 5, fbDocs = 2, fbTerms = 5, alpha = 0.5)
      assert(ids(rm3).contains(12L), s"expansion missed doc 12: ${ids(rm3)}")
      assert(rm3.orderBy("rank").collect().take(2).map(_.getLong(1)).toSet
        == Set(10L, 11L), "original hits displaced from the top")
      assert(!ids(rm3).contains(14L), "unrelated doc pulled in")
      // alpha = 1: pure original-query weighting — same docs, same
      // ranking as the plain probe (uniform MLE scales every score)
      val a1 = TextStats.bm25Rm3TopK(idx, corpus, "text", queries, "text",
        "qid", k = 5, fbDocs = 2, fbTerms = 5, alpha = 1.0)
      assert(a1.collect().map(r => (r.getLong(1), r.getInt(3))).toSet ==
        plain.collect().map(r => (r.getLong(1), r.getInt(3))).toSet)
      // a query id literally named "weight" must not collide with the
      // term frame's working columns (regression: the refactored text
      // probe once overwrote it with the constant weight)
      val wq = queries.withColumnRenamed("qid", "weight")
      val wres = TextStats.bm25TopKFromIndex(idx, wq, "text", "weight", k = 5)
      assert(wres.columns.head == "weight" && ids(wres) == Set(10L, 11L),
        s"id-named-weight probe broke: ${wres.columns.toSeq} ${ids(wres)}")
    }
  }

  test("compactBm25Index: stale over-cap lists drop, append stripes coalesce, probes invariant") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "apple banana apple"),
      (11L, "banana cherry"),
      (12L, "durian durian durian"),
      (13L, "apple durian fig"),
      (14L, "cherry fig fig grape")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry cherry"), (2L, "fig grape"))
      .toDF("doc_id", "text").select(col("doc_id").as("qid"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    def listFiles(dir: java.io.File): Seq[java.io.File] = {
      val fs = dir.listFiles()
      if (fs == null) Nil
      else fs.toSeq.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))
    }
    withTempDir("bm25-compact") { dir =>
      // maxPostings = 1: apple df 1->2 and fig df 1->2 cross the cap
      // only at the append, leaving stale standing postings on disk
      TextStats.writeBm25Index(corpus.filter(col("doc_id") <= 12),
        "text", "doc_id", dir.getAbsolutePath, maxPostings = 1,
        tokenBuckets = 2)
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        corpus.filter(col("doc_id") > 12), "text", "doc_id")
      def probe() = rows(TextStats.bm25TopKFromIndex(
        TextStats.readBm25Index(spark, dir.getAbsolutePath),
        queries, "text", "qid", k = 3))
      val before = probe()
      val postingsDir = new java.io.File(dir, "bm25_v1/postings")
      val parquetsBefore = listFiles(postingsDir)
        .filter(_.getName.endsWith(".parquet"))
      val staleBefore = spark.read
        .parquet(new java.io.File(dir, "bm25_v1/postings").getAbsolutePath)
        .join(spark.read.parquet(new java.io.File(dir, "bm25_v1/df").getAbsolutePath)
          .filter(col("df") > 1).select("token"), Seq("token"), "left_semi")
        .count()
      assert(staleBefore > 0, "fixture regressed: no stale over-cap rows to compact")

      // pre-compaction stats: stale rows visible, stripes > 1 in the
      // appended buckets — the cadence telemetry compaction acts on
      val statsBefore = TextStats.bm25IndexStats(spark, dir.getAbsolutePath)
      assert(statsBefore.postingsDir.endsWith("/bm25_v1/postings"))
      assert(statsBefore.staleRows == staleBefore,
        s"stats staleRows ${statsBefore.staleRows} != direct count $staleBefore")
      assert(statsBefore.maxStripesPerBucket >= 2,
        s"append should stripe a bucket: $statsBefore")
      assert(statsBefore.files == parquetsBefore.size &&
        statsBefore.bytes > 0 && statsBefore.rows > 0)

      TextStats.compactBm25Index(spark, dir.getAbsolutePath)

      val after = probe()
      assert(after == before, s"compaction changed probe results:\n$before\n$after")
      // fresh rebuild at the same cap is the semantic reference
      val fresh = withTempDir("bm25-compact-fresh") { fdir =>
        TextStats.writeBm25Index(corpus, "text", "doc_id",
          fdir.getAbsolutePath, maxPostings = 1, tokenBuckets = 2)
        rows(TextStats.bm25TopKFromIndex(
          TextStats.readBm25Index(spark, fdir.getAbsolutePath),
          queries, "text", "qid", k = 3))
      }
      assert(after == fresh, s"compacted probe diverged from rebuild")
      // the swap is versioned: the pointer names bm25_v2, the build's
      // generation and its bytes are reclaimed
      val stats = TextStats.bm25IndexStats(spark, dir.getAbsolutePath)
      assert(stats.postingsDir.endsWith("/bm25_v2/postings"), stats.postingsDir)
      assert(new java.io.File(dir, "_current_v2").exists())
      assert(!postingsDir.exists(), "superseded postings/ dir not reclaimed")
      // the stale lists are physically gone and the stripes coalesced
      assert(stats.staleRows == 0, s"${stats.staleRows} stale rows survived")
      assert(stats.maxStripesPerBucket == 1L, s"stripes survived: $stats")
      val parquetsAfter = listFiles(new java.io.File(stats.postingsDir))
        .filter(_.getName.endsWith(".parquet"))
      assert(parquetsAfter.size < parquetsBefore.size,
        s"no coalescing: ${parquetsBefore.size} -> ${parquetsAfter.size}")
      // no markers left behind; the index is servable
      assert(!new java.io.File(dir, "bm25_v2/_append_incomplete").exists())
      assert(!new java.io.File(dir, "_compact_inprogress").exists())

      // a SECOND append+compact cycle rides the versioned dir: the
      // append stripes bm25_v2, the compaction swaps to v3. The
      // append deliberately pushes EVERY remaining under-cap token
      // (grape, banana) over df 1, so this compaction's survivor set
      // is ZERO rows — the pathological case where a partitioned
      // write emits no files at all; the schema-sentinel write must
      // keep the index readable and the (empty) probes unchanged
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        Seq((30L, "grape banana")).toDF("doc_id", "text"), "text", "doc_id")
      val v2Before = probe()
      TextStats.compactBm25Index(spark, dir.getAbsolutePath)
      assert(probe() == v2Before, "second-cycle compaction changed probes")
      val stats2 = TextStats.bm25IndexStats(spark, dir.getAbsolutePath)
      assert(stats2.postingsDir.endsWith("/bm25_v3/postings"), stats2.postingsDir)
      assert(stats2.rows == 0 && stats2.staleRows == 0,
        s"zero-survivor compaction should reclaim every posting row: $stats2")
      assert(!new java.io.File(dir, "_current_v2").exists())
      assert(!new java.io.File(dir, "bm25_v2").exists())

      // a REBUILD is the next generation and clears the old pointers
      TextStats.writeBm25Index(corpus, "text", "doc_id",
        dir.getAbsolutePath, maxPostings = 1, tokenBuckets = 2)
      val statsR = TextStats.bm25IndexStats(spark, dir.getAbsolutePath)
      assert(statsR.postingsDir.endsWith("/bm25_v4/postings"), statsR.postingsDir)
      assert(!new java.io.File(dir, "_current_v3").exists())
      assert(!new java.io.File(dir, "bm25_v3").exists())
      assert(probe() == fresh, "rebuild over a compacted root diverged")
    }
  }

  test("deleteFromBm25Index: tombstoned probe equals a rebuild without the docs; compaction applies materially; re-add guarded until then") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "apple banana apple"),
      (11L, "banana cherry"),
      (12L, "durian durian durian"),
      (13L, "apple durian fig"),
      (14L, "cherry fig fig grape")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry cherry"), (2L, "fig grape"))
      .toDF("doc_id", "text").select(col("doc_id").as("qid"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    def freshOver(docs: org.apache.spark.sql.DataFrame) =
      withTempDir("bm25-del-fresh") { fdir =>
        TextStats.writeBm25Index(docs, "text", "doc_id",
          fdir.getAbsolutePath, tokenBuckets = 2)
        rows(TextStats.bm25TopKFromIndex(
          TextStats.readBm25Index(spark, fdir.getAbsolutePath),
          queries, "text", "qid", k = 3))
      }
    withTempDir("bm25-del") { dir =>
      TextStats.writeBm25Index(corpus.filter(col("doc_id") <= 12),
        "text", "doc_id", dir.getAbsolutePath, tokenBuckets = 2)
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        corpus.filter(col("doc_id") > 12), "text", "doc_id")
      def probe() = rows(TextStats.bm25TopKFromIndex(
        TextStats.readBm25Index(spark, dir.getAbsolutePath),
        queries, "text", "qid", k = 3))
      val full = probe()
      // delete one base doc and one appended doc in one request
      TextStats.deleteFromBm25Index(spark, dir.getAbsolutePath,
        Seq(11L, 13L).toDF("id"), "doc_id")
      val fresh = freshOver(corpus.filter(!col("doc_id").isin(11L, 13L)))
      assert(probe() == fresh,
        "tombstoned probe diverged from a rebuild without the docs")
      assert(probe() != full, "deleting scoring docs must change the probe")
      val idx = TextStats.readBm25Index(spark, dir.getAbsolutePath)
      assert(idx.tombstones.isDefined)
      // df repaired to the true post-delete document frequencies
      val dfm = idx.dfT.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(dfm == Map("apple" -> 1L, "banana" -> 1L, "cherry" -> 1L,
        "durian" -> 1L, "fig" -> 1L, "grape" -> 1L), s"df after delete: $dfm")
      // meta repaired from the denormalized lengths (survivors 3+3+4)
      val m = idx.meta.collect()(0)
      assert(m.getAs[Double]("ndocs") == 3.0)
      assert(math.abs(m.getAs[Double]("avglen") - 10.0 / 3) < 1e-12)
      // telemetry sees the pending deletion (docs 11+13 hold 2+3 rows)
      val stats = TextStats.bm25IndexStats(spark, dir.getAbsolutePath)
      assert(stats.tombstonedIds == 2L && stats.tombstonedRows == 5L, s"$stats")
      // idempotent: re-sending a deleted id is a complete no-op
      TextStats.deleteFromBm25Index(spark, dir.getAbsolutePath,
        Seq(11L).toDF("id"), "doc_id")
      assert(TextStats.readBm25Index(spark, dir.getAbsolutePath)
        .meta.collect()(0).getAs[Double]("ndocs") == 3.0)
      assert(probe() == fresh)
      // re-adding a tombstoned id is refused until compaction
      intercept[IllegalArgumentException] {
        TextStats.appendBm25Index(spark, dir.getAbsolutePath,
          corpus.filter(col("doc_id") === 11), "text", "doc_id")
      }
      // compaction removes the rows materially and clears tombstones;
      // probes bit-identical through it
      TextStats.compactBm25Index(spark, dir.getAbsolutePath)
      assert(probe() == fresh, "compaction changed the post-delete probe")
      assert(!new java.io.File(dir, "_tombstones").exists(),
        "applied tombstones not cleared")
      val stats2 = TextStats.bm25IndexStats(spark, dir.getAbsolutePath)
      assert(stats2.tombstonedIds == 0L && stats2.tombstonedRows == 0L)
      // survivors hold 2 (doc 10) + 1 (doc 12) + 3 (doc 14) rows
      assert(stats2.rows == 6L, s"deleted rows survived compaction: $stats2")
      // the id is re-addable now; the index equals a fresh build over
      // the re-added corpus
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        corpus.filter(col("doc_id") === 11), "text", "doc_id")
      assert(probe() == freshOver(corpus.filter(col("doc_id") =!= 13)),
        "re-added doc did not restore rebuild equivalence")
      // deleting a ZERO-TOKEN doc is exact (its true length is 0): the
      // scalars return to their pre-append values
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        Seq((15L, "")).toDF("doc_id", "text"), "text", "doc_id")
      TextStats.deleteFromBm25Index(spark, dir.getAbsolutePath,
        Seq(15L).toDF("id"), "doc_id")
      val m2 = TextStats.readBm25Index(spark, dir.getAbsolutePath)
        .meta.collect()(0)
      assert(m2.getAs[Double]("ndocs") == 4.0)
      assert(math.abs(m2.getAs[Double]("avglen") - 12.0 / 4) < 1e-12)
      assert(probe() == freshOver(corpus.filter(col("doc_id") =!= 13)))
    }

    // the completeness invariant's conservative edge: a term capped at
    // its write keeps df = |surviving on-disk| + |cap-dropped| — here
    // zig is cap-dropped at build (df 3 > 2), so deleting two of its
    // docs leaves df at 4 (> cap, gated) even though the TRUE
    // post-delete df is 2, which a fresh rebuild would serve. Terms
    // that never dropped stay exact through the same delete.
    withTempDir("bm25-del-gated") { dir =>
      val base = Seq((20L, "zig alpha"), (21L, "zig beta"), (22L, "zig gamma"))
        .toDF("doc_id", "text")
      TextStats.writeBm25Index(base, "text", "doc_id", dir.getAbsolutePath,
        maxPostings = 2, tokenBuckets = 2)
      TextStats.appendBm25Index(spark, dir.getAbsolutePath,
        Seq((23L, "zig delta")).toDF("doc_id", "text"), "text", "doc_id")
      TextStats.deleteFromBm25Index(spark, dir.getAbsolutePath,
        Seq(20L, 21L).toDF("id"), "doc_id")
      val idx = TextStats.readBm25Index(spark, dir.getAbsolutePath)
      val zigDf = idx.dfT.filter(col("token") === "zig")
        .collect()(0).getLong(1)
      assert(zigDf == 4L, s"cap-dropped docs must not decrement df, got $zigDf")
      val zq = Seq((1L, "zig")).toDF("qid", "text")
      assert(TextStats.bm25TopKFromIndex(idx, zq, "text", "qid", k = 5)
        .isEmpty, "a once-capped term must stay gated after deletes")
      // the never-capped term scores exactly as a fresh rebuild over
      // the survivors: df, scalars and postings all repaired exactly
      val dq = Seq((1L, "delta")).toDF("qid", "text")
      val got = TextStats.bm25TopKFromIndex(idx, dq, "text", "qid", k = 5)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      val freshD = withTempDir("bm25-del-gated-fresh") { fdir =>
        TextStats.writeBm25Index(
          Seq((22L, "zig gamma"), (23L, "zig delta")).toDF("doc_id", "text"),
          "text", "doc_id", fdir.getAbsolutePath, maxPostings = 2,
          tokenBuckets = 2)
        TextStats.bm25TopKFromIndex(
            TextStats.readBm25Index(spark, fdir.getAbsolutePath),
            dq, "text", "qid", k = 5)
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
      assert(got == freshD, s"never-capped term drifted: $got vs $freshD")
    }
  }

  test("compaction crash boundaries: every intermediate filesystem state stays probe-consistent") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "apple banana apple"), (11L, "banana cherry"),
      (12L, "apple durian fig"), (13L, "cherry fig fig grape")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry"), (2L, "fig grape"))
      .toDF("doc_id", "text").select(col("doc_id").as("qid"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    withTempDir("bm25-crash") { dir =>
      val path = dir.getAbsolutePath
      TextStats.writeBm25Index(corpus, "text", "doc_id", path,
        maxPostings = 2, tokenBuckets = 2)
      def probe() = rows(TextStats.bm25TopKFromIndex(
        TextStats.readBm25Index(spark, path), queries, "text", "qid", k = 3))
      val expected = probe()
      def copyDir(from: java.io.File, to: java.io.File): Unit = {
        to.mkdirs()
        from.listFiles().foreach { f =>
          if (f.isDirectory) copyDir(f, new java.io.File(to, f.getName))
          else java.nio.file.Files.copy(f.toPath,
            new java.io.File(to, f.getName).toPath)
        }
      }
      // simulate a compaction killed at each step boundary, replaying
      // compactBm25Index's exact step order by hand (lock → new dir
      // write → pointer create → stale-pointer delete → old-dir
      // delete) and asserting the read/probe path at every state; the
      // build published bm25_v1, so the compaction writes bm25_v2
      // 1. lock created, nothing else: reads are NOT blocked (the
      //    lock is writer mutual exclusion only)
      assert(new java.io.File(dir, "_compact_inprogress").createNewFile())
      assert(probe() == expected, "state 1 (lock only) broke probes")
      // 2. new dir fully written, pointer NOT yet created: readers
      //    must still resolve the OLD dir (the new one is invisible)
      copyDir(new java.io.File(dir, "bm25_v1"),
        new java.io.File(dir, "bm25_v2"))
      assert(TextStats.bm25IndexStats(spark, path)
        .postingsDir.endsWith("/bm25_v1/postings"), "pointerless dir became visible")
      assert(probe() == expected, "state 2 (dir, no pointer) broke probes")
      // 3. pointer created, old dir still present: readers resolve v2
      assert(new java.io.File(dir, "_current_v2").createNewFile())
      assert(TextStats.bm25IndexStats(spark, path)
        .postingsDir.endsWith("/bm25_v2/postings"), "pointer not honored")
      assert(probe() == expected, "state 3 (pointer + old dir) broke probes")
      // 4. stale pointer deleted, then old dir deleted (housekeeping),
      //    lock still behind: probes fine; a rerun refuses LOUDLY while
      //    the stale lock exists
      assert(new java.io.File(dir, "_current_v1").delete())
      assert(probe() == expected, "state 4a (stale pointer gone) broke probes")
      def rmRf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmRf)
        f.delete(); ()
      }
      rmRf(new java.io.File(dir, "bm25_v1"))
      assert(probe() == expected, "state 4 (old dir gone) broke probes")
      val refused = intercept[IllegalArgumentException] {
        TextStats.compactBm25Index(spark, path)
      }
      assert(refused.getMessage.contains("_compact_inprogress"))
      // 5. the documented recovery: delete the stale lock, rerun —
      //    compaction proceeds from the crashed state to a clean v2
      assert(new java.io.File(dir, "_compact_inprogress").delete())
      TextStats.compactBm25Index(spark, path)
      assert(probe() == expected, "post-recovery compaction broke probes")
      assert(TextStats.bm25IndexStats(spark, path)
        .postingsDir.endsWith("/bm25_v3/postings"))
      assert(!new java.io.File(dir, "_current_v2").exists())
      assert(!new java.io.File(dir, "bm25_v2").exists())
      assert(!new java.io.File(dir, "_compact_inprogress").exists())
    }
  }
}

package graft.streaming

import graft.SparkSpecBase
import graft.operators.Multimodal

/** Stream intake tiers match their batch twins; multimodal plumbing. */
class StreamingSpec extends SparkSpecBase {

  val sfDir = "/root/testdata/sf0.001"

  test("multimodal: meta decode + frame sampling plumbing") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("blob", org.apache.spark.sql.functions.col("text").cast("binary"))

    val stats = Multimodal.mediaStats(docs, "blob", Seq("source")).collect()
    assert(stats.length == 20)
    assert(stats.forall(r => r.getAs[Long]("n") == r.getAs[Long]("n_decoded")))

    val frames = Multimodal.sampleFrames(docs.limit(5), "blob", 4).collect()
    assert(frames.length == 20) // 5 docs x 4 frames
    assert(frames.map(_.getAs[Int]("frame_idx")).toSet == Set(0, 1, 2, 3))
    // deterministic digests
    val again = Multimodal.sampleFrames(docs.limit(5), "blob", 4).collect()
    assert(frames.map(_.getAs[String]("frame_digest")).toSeq ==
      again.map(_.getAs[String]("frame_digest")).toSeq)
  }

  test("streaming corpus intake: gates + watermarked exact dedup on the digest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("prep-stream") { dir =>
      // 1+2 normalize to the same digest (case/whitespace), 3 is a
      // distinct doc, 4 fails the length gate, 5 is pure repetition
      val rows = Seq(
        (1L, "2026-01-01 00:00:01", "The  Quick Brown Fox Jumps Over The Lazy Dog Again"),
        (2L, "2026-01-01 00:00:02", "the quick brown fox jumps over the lazy dog again"),
        (3L, "2026-01-01 00:00:03", "a completely different document body that passes the gates"),
        (4L, "2026-01-01 00:00:04", "too short"),
        (5L, "2026-01-01 00:00:05", "spam spam spam spam spam spam spam spam spam spam"))
        .toDF("doc_id", "ts", "text")
        .withColumn("ts", to_timestamp(col("ts")))
      rows.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)

      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          graft.operators.CorpusPrep.Config(minChars = 20, maxRepetition = 0.5))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id, clean_text FROM prep_stream")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // one survivor per digest (first arrival of the 1/2 pair), 3
      // survives, 4/5 gated
      assert(got.keySet == Set(1L, 3L), s"got ${got.keySet}")
      assert(got(1L) == "the quick brown fox jumps over the lazy dog again")
      // corpus-statistic stages are refused loudly, not silently wrong
      intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          graft.operators.CorpusPrep.Config(maxHotSpans = Some(3)))
      }
      ()
    }
  }

  test("streaming n-gram Bloom decontamination drops the benchmark-colliding doc") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("prep-stream-bloom") { dir =>
      val rows = Seq(
        // contains a bench 4-shingle after normalization
        (1L, "2026-01-01 00:00:01", "Intro then ALPHA beta GAMMA delta closing words here today"),
        (2L, "2026-01-01 00:00:02", "a completely different document body that passes the gates"))
        .toDF("doc_id", "ts", "text")
        .withColumn("ts", to_timestamp(col("ts")))
      rows.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      // bench bloom built over text normalized like the corpus side
      val bloom = graft.operators.Dedup.buildShingleBloom(
        Seq("alpha beta gamma delta epsilon").toDF("text"), "text",
        n = 4, fpp = 1e-6)

      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          graft.operators.CorpusPrep.Config(minChars = 20,
            ngramBloom = Some(bloom), ngramBloomN = 4))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_bloom")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_bloom")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(2L), s"got $got")
      ()
    }
  }

  test("streaming sampleRate draws identically to the batch sampler on the same rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("prep-stream-sample") { dir =>
      val rows = (1L to 40L).map(i =>
        (i, "2026-01-01 00:00:01", s"a sufficiently long unique document body number $i"))
        .toDF("doc_id", "ts", "text")
        .withColumn("ts", to_timestamp(col("ts")))
      rows.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          graft.operators.CorpusPrep.Config(minChars = 20,
            sampleRate = Some(lit(0.5))))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_sample")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_sample")
        .collect().map(_.getLong(0)).toSet
      // the batch twin on the same ids, same salt
      val expect = graft.operators.Mixing.stratifiedSample(
          rows, "doc_id", lit(0.5), salt = "corpusprep")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect, s"stream $got vs batch $expect")
      assert(got.nonEmpty && got.size < 40)
      ()
    }
  }

  test("streaming trained-quality gate drops the junk doc the batch gate drops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("prep-stream-qm") { dir =>
      // reference-vs-crawl training fixture: curated prose = 1,
      // junk-alphabet docs = 0
      val labeled = ((1 to 20).map(i =>
          (i.toLong, "the quick brown fox jumps over the lazy dog daily", 1)) ++
        (1 to 20).map(i =>
          (100L + i, "zzz qqq xxx kkk vvv www hhh jjj ggg bbb uuu ooo", 0)))
        .toDF("doc_id", "text", "label")
      val model = graft.operators.QualityModel.train(labeled, "text", "label",
        dims = 256, iters = 6, lr = 2.0)
      val rows = Seq(
        (1L, "2026-01-01 00:00:01", "the quick brown fox jumps over the lazy dog daily"),
        (2L, "2026-01-01 00:00:02", "zzz qqq xxx kkk vvv www hhh jjj ggg bbb uuu ooo"))
        .toDF("doc_id", "ts", "text")
        .withColumn("ts", to_timestamp(col("ts")))
      rows.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val cfg = graft.operators.CorpusPrep.Config(minChars = 20,
        maxRepetition = 0.9, qualityModel = Some(model), minQualityScore = 0.5)
      val batchIds = graft.operators.CorpusPrep.run(
          rows.drop("ts"), "text", "doc_id", cfg)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchIds == Set(1L), s"batch: $batchIds")
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts", cfg)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_qm")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_qm")
        .collect().map(_.getLong(0)).toSet
      assert(got == batchIds, s"stream $got != batch $batchIds")
    }
  }

  test("streaming LM gate drops the gibberish doc the batch gate drops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    withTempDir("prep-stream-lm") { dir =>
      // the reference model knows fluent english-ish bigrams; doc 2
      // is shuffled gibberish over a disjoint alphabet
      val ref = (1 to 30).map(i =>
        (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text")
      val lm = graft.operators.TextStats.bigramModel(ref, "text")
      val rows = Seq(
        (1L, "2026-01-01 00:00:01", "the quick brown fox jumps over the lazy dog again"),
        (2L, "2026-01-01 00:00:02", "zq xv qq vx zz qx vz xq zv qv xx vv zqx vxq"))
        .toDF("doc_id", "ts", "text")
        .withColumn("ts", to_timestamp(col("ts")))
      rows.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)

      // with an 11-word vocab, fully-unseen bigrams floor at
      // log(1/V) ~= -2.4 while fluent text scores ~-0.3 — the floor
      // sits between
      val cfg = graft.operators.CorpusPrep.Config(minChars = 20,
        maxRepetition = 0.9, lmModel = Some(lm), minLmLogProb = -1.5)
      // batch twin first: doc 1 passes the floor, doc 2 drops
      val batchIds = graft.operators.CorpusPrep.run(
          rows.drop("ts"), "text", "doc_id", cfg)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchIds == Set(1L), s"batch: $batchIds")

      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts", cfg)
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_lm")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_lm")
        .collect().map(_.getLong(0)).toSet
      assert(got == batchIds, s"stream $got != batch $batchIds")
    }
  }

  test("streaming near-dup intake tier matches runIncremental on the same intake") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // standing = an already-prepared corpus (normalized clean_text)
    val standing = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again today"),
      (102L, "pack my box with five dozen liquor jugs before the morning train leaves"),
      (103L, "entirely unrelated standing document describing spark streaming state stores"))
      .toDF("doc_id", "clean_text")
    val index = graft.operators.Dedup.dedupIndex(standing, "clean_text", "doc_id")
      .localCheckpoint()
    // intake: 1 = exact dup of 101 (case/whitespace only), 2 = near
    // dup of 102 (one appended word, Jaccard 10/11), 3 fresh, 4
    // shares words with 102 but sits far below the 0.8 threshold
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "The  Quick Brown Fox Jumps Over The Lazy Dog Again and again today"),
      (2L, "2026-01-01 00:00:02", "pack my box with five dozen liquor jugs before the morning train leaves okay"),
      (3L, "2026-01-01 00:00:03", "a genuinely fresh crawl document with brand new interesting content"),
      (4L, "2026-01-01 00:00:04", "pack my box with cheap wine bottles before the evening bus arrives maybe"))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
    val cfg = graft.operators.CorpusPrep.Config()

    // batch truth: the incremental new-vs-old tiers over the SAME intake
    val batchSurvivors = graft.operators.CorpusPrep.runIncremental(
        standing, intake.drop("ts"), "text", "doc_id", cfg, oldIndex = Some(index))
      .collect().map(_.getAs[Long]("doc_id")).toSet

    withTempDir("prep-stream-nd") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts", cfg,
          standing = Some(standing), standingIndex = Some(index))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_nd")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_nd")
        .collect().map(_.getLong(0)).toSet
      assert(got == batchSurvivors, s"stream $got vs batch $batchSurvivors")
      // and the fixture exercised BOTH standing tiers, not a vacuous
      // everything-survives parity
      assert(got == Set(3L, 4L),
        s"1 should drop on the digest tier and 2 on the near tier: $got")
      // a mismatched index config fails loudly at stream construction
      intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          cfg.copy(shingleN = 4),
          standing = Some(standing), standingIndex = Some(index))
      }
      ()
    }
  }

  test("stream semantic tier drops standing near-dups by ADC against the byte lookup; null embs pass; nprobe is the recall knob") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val Sim = graft.operators.Similarity
    // standing corpus with embeddings; a two-member corpus makes the
    // SQ bounds the members themselves, so codes dequantize EXACTLY
    // and the stream tier's ADC decisions equal semanticIncremental's
    // exact-rerank decisions — a real parity pin, not an approx one
    val standing = Seq(
      (201L, "the standing corpus document about thursday meetings and scheduling",
        Seq(5.01, 5.0, 0.0, 0.0)),
      (203L, "a standing report on quarterly revenue and financial projections",
        Seq(0.0, 0.0, 9.0, 0.0)))
      .toDF("doc_id", "clean_text", "emb")
    val codebook: Seq[(Long, Seq[Double])] = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0)))
    val sq = Sim.sqTrain(standing, "emb")
    val sqIndex = Sim.sqAssign(Sim.ivfAssign(standing, codebook, "emb"), "emb", sq)
    val lookup = Sim.sqSemanticLookup(sqIndex, sq).localCheckpoint()
    // intake: 11 paraphrases 201 ACROSS the c0/c1 Voronoi boundary
    // (different text, near-identical embedding — only the semantic
    // tier can see it, and only at nprobe=2); 12 is novel; 13 has no
    // embedding and must pass untouched
    val intake = Seq(
      (11L, "2026-01-01 00:00:01",
        "they rescheduled the gathering for three pm on thursday afternoon",
        Some(Seq(5.0, 5.01, 0.0, 0.0))),
      (12L, "2026-01-01 00:00:02",
        "a genuinely fresh crawl document with brand new interesting content",
        Some(Seq(0.0, 0.0, 0.0, 7.0))),
      (13L, "2026-01-01 00:00:03",
        "a document that arrived without any embedding attached to it at all",
        None))
      .toDF("doc_id", "ts", "text", "emb")
      .withColumn("ts", to_timestamp(col("ts")))
    val cfgSem = graft.operators.CorpusPrep.Config(embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), sqModel = Some(sq))

    // batch truth on the same intake: the exact-rerank incremental path
    val batchSurvivors = graft.operators.CorpusPrep.semanticIncremental(
        intake.filter(col("emb").isNotNull).select("doc_id", "emb"), sqIndex,
        cfg = cfgSem.copy(nprobe = 2))
      .collect().map(_.getAs[Long]("doc_id")).toSet

    withTempDir("prep-stream-sem") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      def run(nprobe: Int, name: String): Set[Long] = {
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
          .parquet(dir.getAbsolutePath)
        val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
            cfgSem.copy(nprobe = nprobe),
            semanticLookup = Some(lookup))
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        spark.sql(s"SELECT doc_id FROM $name")
          .collect().map(_.getLong(0)).toSet
      }
      // nprobe=2 sees across the boundary: 11 drops, 12 and the
      // embedding-less 13 survive — matching the exact batch path
      val got2 = run(2, "prep_stream_sem2")
      assert(got2 == Set(12L, 13L), s"semantic stream survivors: $got2")
      assert(got2 - 13L == batchSurvivors,
        s"stream $got2 (minus the no-emb row) vs batch $batchSurvivors")
      // nprobe=1 misses the boundary pair — the usual IVF recall knob
      assert(run(1, "prep_stream_sem1") == Set(11L, 12L, 13L))
      // config errors are loud: embCol without a lookup, and a lookup
      // without its model
      intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(
          spark.readStream
            .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
            .parquet(dir.getAbsolutePath), "text", "ts", cfgSem)
      }
      intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(
          spark.readStream
            .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
            .parquet(dir.getAbsolutePath), "text", "ts",
          cfgSem.copy(sqModel = None), semanticLookup = Some(lookup))
      }
      // a residual model cannot ride the tier (ADC-cosine verify only)
      val sqRes = Sim.sqTrainResidual(standing, "emb", codebook)
      intercept[IllegalArgumentException] {
        Sim.sqSemanticLookup(Sim.sqAssignResidual(
          Sim.ivfAssign(standing, codebook, "emb"), "emb", codebook, sqRes), sqRes)
      }
      ()
    }
  }

  test("stream BQ semantic tier matches semanticIncremental's BQ route on a sign-pattern fixture") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val Sim = graft.operators.Similarity
    // ±-pattern standing vectors: every component has equal magnitude,
    // so the ±1/√D reconstruction IS the normalized vector and the
    // stream tier's ADC cosine equals the batch route's exact cosine —
    // a true parity pin, same trick as the SQ tier's exact-bounds
    // fixture. Thresholds (midrange) land strictly between the two
    // sign patterns, never ON a value.
    val standing = Seq(
      (201L, Seq(5.0, 5.0, -5.0, -5.0)),
      (203L, Seq(-5.0, -5.0, 5.0, 5.0)))
      .toDF("doc_id", "emb")
    val bqm = Sim.bqTrain(standing, "emb")
    val standingCoded = Sim.bqAssign(standing, "emb", bqm)
      .select("doc_id", "bq_code")
    val lookup = Sim.bqSemanticLookup(standingCoded, bqm).localCheckpoint()
    // intake: 11 paraphrases 201 (same sign pattern -> guaranteed
    // band collision and cosine ~1); 12 is novel (different pattern,
    // no band collision); 13 has no embedding and must pass untouched
    val intake = Seq(
      (11L, "2026-01-01 00:00:01",
        "they rescheduled the gathering for three pm on thursday afternoon",
        Some(Seq(5.01, 4.99, -5.0, -5.0))),
      (12L, "2026-01-01 00:00:02",
        "a genuinely fresh crawl document with brand new interesting content",
        Some(Seq(0.0, 0.0, 0.0, 7.0))),
      (13L, "2026-01-01 00:00:03",
        "a document that arrived without any embedding attached to it at all",
        None))
      .toDF("doc_id", "ts", "text", "emb")
      .withColumn("ts", to_timestamp(col("ts")))
    val cfgBq = graft.operators.CorpusPrep.Config(embCol = Some("emb"),
      minCosine = 0.999, bqModel = Some(bqm))
    // batch truth: the codes-only standing index + float store route
    val batchSurvivors = graft.operators.CorpusPrep.semanticIncremental(
        intake.filter(col("emb").isNotNull).select("doc_id", "emb"),
        standingCoded, cfg = cfgBq,
        embStore = Some(standing.select("doc_id", "emb")))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(batchSurvivors == Set(12L), s"batch BQ route: $batchSurvivors")
    withTempDir("prep-stream-bq") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          cfgBq, semanticLookup = Some(lookup))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_bq")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_bq")
        .collect().map(_.getLong(0)).toSet
      // stream survivors = batch survivors + the embedding-less row
      assert(got == Set(12L, 13L), s"stream BQ survivors: $got")
      assert(got - 13L == batchSurvivors,
        s"stream $got (minus the no-emb row) vs batch $batchSurvivors")
      // config errors are loud: BOTH codecs with a lookup, and BQ
      // with a codebook (the band lookup has no inverted lists)
      intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(
          spark.readStream
            .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
            .parquet(dir.getAbsolutePath), "text", "ts",
          cfgBq.copy(sqModel = Some(Sim.SqModel(Seq(0.0), Seq(1.0), residual = false))),
          semanticLookup = Some(lookup))
      }
      intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(
          spark.readStream
            .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
            .parquet(dir.getAbsolutePath), "text", "ts",
          cfgBq.copy(codebook = Some(Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))))),
          semanticLookup = Some(lookup))
      }
      ()
    }
  }

  test("prepStream runs the embedding decontamination tier live, without a semantic lookup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val benchEmb = Seq((100L, Seq(5.0, 5.01, 0.0, 0.0))).toDF("bid", "e")
    val intake = Seq(
      (1L, "2026-01-01 00:00:01",
        "which city serves as the french seat of government these days",
        Some(Seq(5.01, 5.0, 0.0, 0.0))),     // paraphrased leak -> drops
      (2L, "2026-01-01 00:00:02",
        "completely different content that survives every stage fine",
        Some(Seq(0.0, 0.0, 9.0, 0.0))),
      (3L, "2026-01-01 00:00:03",
        "a document that arrived without any embedding attached at all",
        None))                                // null emb -> keeps
      .toDF("doc_id", "ts", "text", "emb")
      .withColumn("ts", to_timestamp(col("ts")))
    withTempDir("prep-stream-semdecon") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, emb ARRAY<DOUBLE>")
        .parquet(dir.getAbsolutePath)
      // embCol WITHOUT a semanticLookup is valid when it serves the
      // benchEmb tier alone
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          graft.operators.CorpusPrep.Config(minChars = 20,
            embCol = Some("emb"), benchEmb = Some(benchEmb),
            benchEmbCol = "e", benchMinCosine = 0.999))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_semdecon")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val got = spark.sql("SELECT doc_id FROM prep_stream_semdecon")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(2L, 3L), s"stream survivors: $got")
    }
  }

  test("bm25ServeStream: per-batch results equal the batch probe; batch frames refused") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val TS = graft.operators.TextStats
    val corpus = Seq(
      (10L, "apple banana apple"),
      (11L, "banana cherry"),
      (12L, "durian durian durian"),
      (13L, "apple durian fig")).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry cherry"), (2L, "durian fig"))
      .toDF("qid", "text")
    withTempDir("bm25-serve") { dir =>
      TS.writeBm25Index(corpus, "text", "doc_id", s"$dir/idx", tokenBuckets = 4)
      val idx = TS.readBm25Index(spark, s"$dir/idx")
      def tuples(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val expected = tuples(TS.bm25TopKFromIndex(idx, queries, "text", "qid", k = 3))
      queries.coalesce(1).write.mode("overwrite").parquet(s"$dir/q")
      val got = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[(Long, Long, Double, Int), java.lang.Boolean]())
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = TS.bm25ServeStream(
          spark.readStream.schema("qid BIGINT, text STRING").parquet(s"$dir/q"),
          idx, "text", "qid", k = 3) { (res, _) =>
          plans.add(res.queryExecution.executedPlan.toString)
          tuples(res).foreach(got.add); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == expected,
        s"stream serve diverged: ${got.asScala.toSet} vs $expected")
      // the SERVING property pinned where it matters: the per-micro-
      // batch probe plan keeps its dynamic-partition-pruning filter on
      // the postings buckets (a foreachBatch plan could lose the
      // subquery without anyone noticing — the batch-side spec alone
      // would not catch that)
      assert(plans.asScala.nonEmpty &&
        plans.asScala.forall(_.toLowerCase.contains("dynamicpruning")),
        s"micro-batch probe lost the DPP partition filter:\n${plans.asScala.headOption.getOrElse("")}")
      // a batch frame is refused loudly
      assert(intercept[IllegalArgumentException] {
        TS.bm25ServeStream(queries, idx, "text", "qid", k = 3)((_, _) => ())
      }.getMessage.contains("STREAMING"))

      // DELETION reaches the serving stream: tombstone a doc and the
      // per-micro-batch probes stop returning it, identically to the
      // batch probe on the post-delete index (batch==stream parity for
      // the takedown path — a served index must not resurrect deleted
      // docs in any serving mode)
      TS.deleteFromBm25Index(spark, s"$dir/idx", Seq(13L).toDF("id"), "doc_id")
      val idx2 = TS.readBm25Index(spark, s"$dir/idx")
      val expected2 = tuples(TS.bm25TopKFromIndex(idx2, queries, "text", "qid", k = 3))
      assert(expected2.forall(_._2 != 13L) && expected2 != expected,
        "fixture regressed: doc 13 should have scored before the delete")
      val got2 = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[(Long, Long, Double, Int), java.lang.Boolean]())
      val q2 = TS.bm25ServeStream(
          spark.readStream.schema("qid BIGINT, text STRING").parquet(s"$dir/q"),
          idx2, "text", "qid", k = 3) { (res, _) =>
          tuples(res).foreach(got2.add); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination(120000)
      assert(got2.asScala.toSet == expected2,
        s"post-delete stream serve diverged: ${got2.asScala.toSet} vs $expected2")
    }
  }

  test("prepStream image tier: the standing hash index filters intake per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val incG = Array.tabulate(72)(i => ((i % 9) * 28) & 0xff)
    val decG = Array.tabulate(72)(i => (255 - (i % 9) * 28) & 0xff)
    val a = graft.operators.Multimodal.syntheticGrayBmp(9, 8, incG)
    val b = graft.operators.Multimodal.syntheticGrayBmp(9, 8, decG)
    val standing = Seq((100L, a)).toDF("doc_id", "img")
    val idx = graft.operators.Dedup.hashBandIndex(
      graft.operators.Multimodal.withPerceptualHash(standing, "img", "ph")(spark),
      "ph")
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "first intake document passing every text gate fine", a),
      (2L, "2026-01-01 00:00:02", "second intake document also passing the gates well", b))
      .toDF("doc_id", "ts", "text", "img")
      .withColumn("ts", to_timestamp(col("ts")))
    withTempDir("prep-stream-img") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, img BINARY")
        .parquet(s"$dir/in")
      val out = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
        cfg = graft.operators.CorpusPrep.Config(minChars = 20,
          imageCol = Some("img")),
        imageIndex = Some(idx))
      val q = out.writeStream.format("memory").queryName("prep_img_stream")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val kept = spark.table("prep_img_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // doc 1's image matches the standing corpus (hamming 0) -> drops
      assert(kept == Set(2L), s"stream image tier kept $kept")
      // without the index the config is refused loudly, not skipped
      assert(intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          cfg = graft.operators.CorpusPrep.Config(imageCol = Some("img")))
      }.getMessage.contains("imageIndex"))
    }
  }

  test("prepStream audio tier: the standing fingerprint index filters intake per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def envWav(amps: Seq[Int]): Array[Byte] = {
      val s = new Array[Short](amps.length * 8)
      for (w <- amps.indices; j <- 0 until 8)
        s(w * 8 + j) = (if ((w * 8 + j) % 2 == 0) amps(w) else -amps(w)).toShort
      graft.operators.Multimodal.syntheticPcmWav(s)
    }
    val ampsA = Seq.tabulate(65)(w => 100 * (w + 1))
    val a = envWav(ampsA)
    val near = envWav(ampsA.updated(0, 300)) // fingerprint hamming 1
    val far = envWav(ampsA.reverse)
    val standing = Seq((100L, a)).toDF("doc_id", "aud")
    val idx = graft.operators.Dedup.hashBandIndex(
      graft.operators.Multimodal.withAudioFingerprint(standing, "aud", "fp")(spark),
      "fp")
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "first intake document passing every text gate fine", near),
      (2L, "2026-01-01 00:00:02", "second intake document also passing the gates well", far))
      .toDF("doc_id", "ts", "text", "aud")
      .withColumn("ts", to_timestamp(col("ts")))
    withTempDir("prep-stream-aud") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING, aud BINARY")
        .parquet(s"$dir/in")
      val out = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
        cfg = graft.operators.CorpusPrep.Config(minChars = 20,
          audioCol = Some("aud")),
        audioIndex = Some(idx))
      val q = out.writeStream.format("memory").queryName("prep_aud_stream")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val kept = spark.table("prep_aud_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // doc 1's fingerprint sits at hamming 1 of standing -> drops
      assert(kept == Set(2L), s"stream audio tier kept $kept")
      // without the index the config is refused loudly, not skipped
      assert(intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          cfg = graft.operators.CorpusPrep.Config(audioCol = Some("aud")))
      }.getMessage.contains("audioIndex"))
    }
  }

  test("prepStream releases its standing-corpus caches when the stream terminates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val standing = Seq(
      (201L, "the standing corpus document about caching lifetimes in streams"))
      .toDF("doc_id", "clean_text")
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "a fresh intake document that survives every standing tier"))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
    val cfg = graft.operators.CorpusPrep.Config()
    withTempDir("prep-stream-caches") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val (frame, caches) = graft.operators.CorpusPrep.prepStreamWithCaches(
        stream, "text", "ts", cfg, standing = Some(standing))
      // the standing lookups are registered as cached at build time...
      assert(caches.frames.nonEmpty &&
        caches.frames.forall(_.storageLevel != StorageLevel.NONE))
      val q = frame.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_caches")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      caches.releaseOnTermination(q)
      q.awaitTermination(120000)
      assert(spark.sql("SELECT doc_id FROM prep_stream_caches").count() == 1)
      // ...and released by the listener once the query terminates (the
      // listener bus is async — poll briefly)
      val deadline = System.currentTimeMillis() + 30000
      while (caches.frames.exists(_.storageLevel != StorageLevel.NONE) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(caches.frames.forall(_.storageLevel == StorageLevel.NONE),
        "standing-corpus caches must be unpersisted after stream termination")
      // the already-terminated race: registering AFTER the query died
      // must still release (the termination event can never arrive)
      val (frame2, caches2) = graft.operators.CorpusPrep.prepStreamWithCaches(
        stream, "text", "ts", cfg, standing = Some(standing))
      assert(caches2.frames.forall(_.storageLevel != StorageLevel.NONE))
      val q2 = frame2.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_caches2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination(120000)
      caches2.releaseOnTermination(q2) // query already terminated
      assert(caches2.frames.forall(_.storageLevel == StorageLevel.NONE),
        "late registration must settle directly via the isActive check")
      // a stream without a standing corpus holds no caches at all
      val (_, none) = graft.operators.CorpusPrep.prepStreamWithCaches(
        stream, "text", "ts", cfg)
      assert(none.frames.isEmpty)
      none.unpersist() // no-op, must not throw
    }
  }

  test("intraNearDup drops within-stream band twins; off by default; short docs never collide") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1 and 2 are near-dups of each other (one word appended — they
    // share LSH bands at the default config); 3 is dissimilar; 4/5 are
    // DIFFERENT signature-less short docs (fewer words than shingleN)
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "2026-01-01 00:00:02", "the quick brown fox jumps over the lazy dog again and again today okay"),
      (3L, "2026-01-01 00:00:03", "a completely different report about quarterly revenue and planning"),
      (4L, "2026-01-01 00:00:04", "tiny doc"),
      (5L, "2026-01-01 00:00:05", "other stub"))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
    // batch truth at the same knobs: 1/2 collapse, everything else stays
    val batchKept = graft.operators.CorpusPrep.run(intake.drop("ts"),
        cfg = graft.operators.CorpusPrep.Config(minChars = 5))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(batchKept == Set(1L, 3L, 4L, 5L))
    def runStream(cfg: graft.operators.CorpusPrep.Config, name: String): Set[Long] =
      withTempDir(s"prep-stream-$name") { dir =>
        intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
          .parquet(dir.getAbsolutePath)
        val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts", cfg)
          .writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("memory").queryName(s"prep_stream_$name")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        spark.sql(s"SELECT doc_id FROM prep_stream_$name")
          .collect().map(_.getLong(0)).toSet
      }
    val off = runStream(graft.operators.CorpusPrep.Config(minChars = 5), "intra_off")
    assert(off == Set(1L, 2L, 3L, 4L, 5L),
      s"without intraNearDup the stream keeps both twins: $off")
    val on = runStream(graft.operators.CorpusPrep.Config(minChars = 5,
      intraNearDup = true), "intra_on")
    // survivor IDENTITY among same-batch twins is shuffle-arbitrary
    // (the documented greedy-arrival rule degenerates inside one
    // micro-batch, same as the digest tier) — the surviving CONTENT
    // set is what the tier guarantees: exactly one of the twins, and
    // the short docs must not collapse onto a shared empty-signature
    // band
    assert(on.intersect(Set(1L, 2L)).size == 1 && Set(3L, 4L, 5L).subsetOf(on) &&
      on.size == batchKept.size, s"intra tier should drop one twin: $on")
    // batch paths refuse the stream-only flag instead of ignoring it
    assert(intercept[IllegalArgumentException] {
      graft.operators.CorpusPrep.run(intake.drop("ts"),
        cfg = graft.operators.CorpusPrep.Config(intraNearDup = true))
    }.getMessage.contains("stream-only"))
  }

  test("streamIntraBandDedup passes null-text rows through untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // without the null bypass a null text yields null signature AND
    // null salted band keys, so every null-text row would "duplicate"
    // every other and all but one would silently drop
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "2026-01-01 00:00:02", "the quick brown fox jumps over the lazy dog again and again today okay"),
      (3L, "2026-01-01 00:00:03", null.asInstanceOf[String]),
      (4L, "2026-01-01 00:00:04", null.asInstanceOf[String]),
      (5L, "2026-01-01 00:00:05", null.asInstanceOf[String]))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
    withTempDir("intra-null") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
        .withWatermark("ts", "10 minutes")
      val q = graft.operators.Dedup.streamIntraBandDedup(stream, "text")
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("intra_null")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val kept = spark.sql("SELECT doc_id FROM intra_null")
        .collect().map(_.getLong(0)).toSet
      assert(Set(3L, 4L, 5L).subsetOf(kept) && kept.intersect(Set(1L, 2L)).size == 1,
        s"null-text rows must pass through while twins still collapse: $kept")
    }
  }

  /** transformWithState (the verified intra tier's engine) is only
    * supported on the RocksDB state store — scope the provider to the
    * test so the HDFS-backed default stays for every other suite. */
  def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streamIntraVerifiedDedup keeps band-collision false positives the greedy tier drops") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Doc 2 is ENGINEERED to collide with doc 1 on LSH band 0 at the
    // default knobs (numHashes=4, rowsPerBand=2) while sharing only 4
    // of 22 shingles (exact Jaccard 4/22 ~ 0.18): doc 1's text is a
    // prefix of doc 2's, and the filler suffix was searched offline so
    // both band-0 minhashes of doc 2 take their minima on the shared
    // prefix shingles. Docs 3/4 are true near-dups (Jaccard 11/12).
    val collA = "alpha beta gamma delta epsilon zeta"
    val collB = "alpha beta gamma delta epsilon zeta harbor river yonder " +
      "glacier meadow lantern delta2 jungle nectar candle bridge prairie " +
      "cinder anchor echo ocean tundra forest"
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", collA),
      (2L, "2026-01-01 00:00:02", collB),
      (3L, "2026-01-01 00:00:03", "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "2026-01-01 00:00:04", "the quick brown fox jumps over the lazy dog again and again today okay"),
      (5L, "2026-01-01 00:00:05", null.asInstanceOf[String]),
      (6L, "2026-01-01 00:00:06", "tiny doc"))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
    def run(name: String, tier: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Set[Long] =
      withTempDir(s"intra-ver-$name") { dir =>
        intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
          .parquet(dir.getAbsolutePath)
          .withWatermark("ts", "10 minutes")
        val q = tier(stream).writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("memory").queryName(s"intra_ver_$name")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        spark.sql(s"SELECT doc_id FROM intra_ver_$name")
          .collect().map(_.getLong(0)).toSet
      }
    // the greedy tier falls for the engineered collision: one of 1/2 drops
    val greedy = run("greedy",
      graft.operators.Dedup.streamIntraBandDedup(_, "text"))
    assert(greedy.intersect(Set(1L, 2L)).size == 1,
      s"fixture must band-collide under the greedy tier: $greedy")
    // the verified tier checks exact Jaccard: 2 survives, the true
    // near-dup 4 still drops, and the SURVIVOR among 3/4 is the
    // earlier event time deterministically (not shuffle-arbitrary)
    val verified = withRocksDb(run("verified",
      graft.operators.Dedup.streamIntraVerifiedDedup(_, "text", "ts")))
    // without RocksDB the operator refuses loudly instead of failing
    // deep inside query planning
    withTempDir("intra-ver-refuse") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val st = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath).withWatermark("ts", "10 minutes")
      assert(intercept[IllegalArgumentException] {
        graft.operators.Dedup.streamIntraVerifiedDedup(st, "text", "ts")
      }.getMessage.contains("RocksDB"))
    }
    assert(verified == Set(1L, 2L, 3L, 5L, 6L),
      s"verified tier must keep the dissimilar band-collider and null/short " +
        s"bypass rows while dropping the true near-dup twin: $verified")
  }

  test("streamIntraVerifiedDedup evicts state past the watermark horizon") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = ms.toDF().toDF("doc_id", "ts", "text")
      .withWatermark("ts", "10 minutes")
    withRocksDb { withTempDir("intra-ver-state") { dir =>
      val out = graft.operators.Dedup.streamIntraVerifiedDedup(
        input, "text", "ts")
      val q = out.writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("intra_ver_state")
        .option("checkpointLocation", dir.getAbsolutePath)
        .start()
      try {
        // batch 1: three distinct docs seed 2 bands x 3 groups of state
        ms.addData(
          (1L, ts("2026-01-01 00:00:01"), "alpha beta gamma delta epsilon zeta"),
          (2L, ts("2026-01-01 00:00:02"), "one two three four five six seven"),
          (3L, ts("2026-01-01 00:00:03"), "red orange yellow green blue indigo violet"))
        q.processAllAvailable()
        // batch 2 advances the watermark an hour past batch 1...
        ms.addData((4L, ts("2026-01-01 01:00:00"), "salmon trout herring mackerel sardine"))
        q.processAllAvailable()
        // ...and batch 3's watermark (batch-2 max - 10 min) passes every
        // batch-1 timeout, so those groups must be evicted, not retained
        ms.addData((5L, ts("2026-01-01 02:00:00"), "granite basalt marble slate quartzite"))
        q.processAllAvailable()
        val kept = spark.sql("SELECT doc_id FROM intra_ver_state")
          .collect().map(_.getLong(0)).toSet
        assert(kept == Set(1L, 2L, 3L, 4L, 5L), s"all-distinct docs must survive: $kept")
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        // docs 4 and 5 are the only ones inside the final horizon: at
        // most 2 bands x 2 docs of state across the two passes; the
        // un-evicted total would be 2 bands x 5 docs = 10
        assert(stateRows > 0 && stateRows <= 4,
          s"batch-1 band groups must time out of the state store: $stateRows")
      } finally q.stop()
    } }
  }

  test("prepStream routes the verified intra tier; batch paths refuse it; tiers are exclusive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val intake = Seq(
      (1L, "2026-01-01 00:00:01", "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "2026-01-01 00:00:02", "the quick brown fox jumps over the lazy dog again and again today okay"),
      (3L, "2026-01-01 00:00:03", "a completely different report about quarterly revenue and planning"))
      .toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
    withRocksDb { withTempDir("prep-stream-verified") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      val stream = spark.readStream
        .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
        .parquet(dir.getAbsolutePath)
      val q = graft.operators.CorpusPrep.prepStream(stream, "text", "ts",
          graft.operators.CorpusPrep.Config(intraNearDupVerified = true))
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("prep_stream_verified")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val kept = spark.sql("SELECT doc_id FROM prep_stream_verified")
        .collect().map(_.getLong(0)).toSet
      // unlike the greedy tier ("one of the twins"), the verified tier
      // pins the EARLIER event time as within-batch survivor
      assert(kept == Set(1L, 3L), s"verified facade tier must keep 1 and 3: $kept")
    } }
    assert(intercept[IllegalArgumentException] {
      graft.operators.CorpusPrep.run(intake.drop("ts"),
        cfg = graft.operators.CorpusPrep.Config(intraNearDupVerified = true))
    }.getMessage.contains("stream-only"))
    withTempDir("prep-stream-both-tiers") { dir =>
      intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
      assert(intercept[IllegalArgumentException] {
        graft.operators.CorpusPrep.prepStream(
          spark.readStream.schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
            .parquet(dir.getAbsolutePath), "text", "ts",
          graft.operators.CorpusPrep.Config(
            intraNearDup = true, intraNearDupVerified = true))
      }.getMessage.contains("alternative tiers"))
    }
  }

  test("heavy-hitters sketch aggregates over a stream (state-store round-trip) with batch parity") {
    import org.apache.spark.sql.functions._
    // Complete mode over AvailableNow: every group's final sketch is
    // visible; the TypedImperativeAggregate's serialize/deserialize
    // is exercised by the state store between micro-batches
    val stream = spark.readStream.schema(
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sfDir)
      .filter(col("user_id") < 20)
    val q = stream.groupBy("user_id")
      .agg(graft.functions.HeavyHittersAgg.heavyHitters(col("event_type"), 16).as("hh"))
      .select(col("user_id"), col("hh.err").as("err"), explode(col("hh.items")).as("it"))
      .select(col("user_id"), col("err"), col("it.item"), col("it.count"))
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("stream_hh")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.sql("SELECT * FROM stream_hh")
      .collect().map(r => (r.getLong(0), r.getString(2)) -> ((r.getLong(1), r.getLong(3)))).toMap
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id") < 20)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> ((0L, r.getLong(2)))).toMap
    // exact regime (5 distinct types << 16): stream == plain counts, err 0
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("intra-tier drop precision/recall vs the batch exact rule, measured on one intake") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The documented greedy/false-positive trade as a NUMBER: replay
    // one intake through both within-stream tiers and score each
    // tier's DROP decisions against the batch rule's (exact Jaccard
    // >= 0.8, cluster, keep-earliest). Doc-level precision/recall is
    // the right granularity — a stream tier emits survivor decisions,
    // not pairs, and pairMetrics' id_a =!= id_b contract rules out a
    // self-pair encoding. Fixture: the engineered band collider from
    // the verified-tier test (docs 1/2, Jaccard ~0.18, band-0
    // collision) plus a true near-dup pair (3/4) and bypass rows.
    val collA = "alpha beta gamma delta epsilon zeta"
    val collB = "alpha beta gamma delta epsilon zeta harbor river yonder " +
      "glacier meadow lantern delta2 jungle nectar candle bridge prairie " +
      "cinder anchor echo ocean tundra forest"
    val rows = Seq(
      (1L, "2026-01-01 00:00:01", collA),
      (2L, "2026-01-01 00:00:02", collB),
      (3L, "2026-01-01 00:00:03", "the quick brown fox jumps over the lazy dog again and again today"),
      (4L, "2026-01-01 00:00:04", "the quick brown fox jumps over the lazy dog again and again today okay"),
      (5L, "2026-01-01 00:00:05", null.asInstanceOf[String]),
      (6L, "2026-01-01 00:00:06", "tiny doc"))
    val allIds = rows.map(_._1).toSet
    val intake = rows.toDF("doc_id", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))

    // batch truth: exact-verified pairs -> clusters -> keep min id
    // (== earliest arrival here), everything else is a true drop
    val truthKept = graft.operators.Dedup.dropNearDuplicates(
        intake, "doc_id",
        graft.operators.Dedup.duplicateClusters(
          graft.operators.Dedup.jaccardNearDupPairs(
            intake, "text", "doc_id", minJaccard = 0.8)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val truthDrops = allIds -- truthKept
    assert(truthDrops == Set(4L), s"fixture truth drift: $truthDrops")

    def drops(name: String,
        tier: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Set[Long] =
      withTempDir(s"intra-pm-$name") { dir =>
        intake.coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
        val stream = spark.readStream
          .schema("doc_id BIGINT, ts TIMESTAMP, text STRING")
          .parquet(dir.getAbsolutePath)
          .withWatermark("ts", "10 minutes")
        val q = tier(stream).writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .format("memory").queryName(s"intra_pm_$name")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        allIds -- spark.sql(s"SELECT doc_id FROM intra_pm_$name")
          .collect().map(_.getLong(0)).toSet
      }
    def pr(got: Set[Long]): (Double, Double) = (
      if (got.isEmpty) 1.0 else got.intersect(truthDrops).size.toDouble / got.size,
      if (truthDrops.isEmpty) 1.0
      else got.intersect(truthDrops).size.toDouble / truthDrops.size)

    val greedyDrops = drops("greedy",
      graft.operators.Dedup.streamIntraBandDedup(_, "text"))
    val verifiedDrops = withRocksDb(drops("verified",
      graft.operators.Dedup.streamIntraVerifiedDedup(_, "text", "ts")))
    val (gp, gr) = pr(greedyDrops)
    val (vp, vr) = pr(verifiedDrops)
    info(f"greedy tier:   precision $gp%.2f recall $gr%.2f (drops $greedyDrops)")
    info(f"verified tier: precision $vp%.2f recall $vr%.2f (drops $verifiedDrops)")
    // the measured trade: the greedy tier buys statelessness with
    // false-positive drops (precision < 1); the verified tier's exact
    // check restores precision 1 at identical recall on this intake
    assert(gp < 1.0 && gr == 1.0, s"greedy ($gp, $gr) drops $greedyDrops")
    assert(vp == 1.0 && vr == 1.0, s"verified ($vp, $vr) drops $verifiedDrops")
  }

  test("GIF stream intake: gifNearDupMicroBatch over micro-batches == the batch filter on the same fixture") {
    import spark.implicits._
    import graft.operators.Multimodal
    val a = Array.tabulate(72)(i => (i * 7) % 256)
    val b = a.map(v => (v + 96) % 256)
    val c = a.map(v => (v + 160) % 256)
    val d = Array.tabulate(72)(i => 255 - (i * 7) % 256)
    val e = d.map(v => (v + 96) % 256)
    val f = d.map(v => (v + 160) % 256)
    def flip1(fr: Array[Int]): Array[Int] = {
      val g = fr.clone(); g(0) = 255; g(1) = 0; g
    }
    def gif(frames: Array[Int]*): Array[Byte] =
      Multimodal.syntheticGrayGif(9, 8, frames)
    val standing = Seq((201L, gif(a, b, c)), (203L, gif(d, e, f)))
      .toDF("gid", "anim")
    // intake: 1 and 2 are 1-bit re-encodes of the standing animations
    // (drop), 3 shares 203's frames positionally SHIFTED (keep), 4 is
    // far from everything (keep) — 1/3 land in micro-batch one, 2/4
    // in micro-batch two, so drops happen in BOTH batches
    val batchOne = Seq((1L, gif(flip1(a), flip1(b), flip1(c))),
      (3L, gif(f, d, e))).toDF("gid", "anim")
    val batchTwo = Seq((2L, gif(flip1(d), flip1(e), flip1(f))),
      (4L, gif(a.reverse, b.reverse, c.reverse))).toDF("gid", "anim")
    withTempDir("gif-stream") { dir =>
      val root = dir.getAbsolutePath
      Multimodal.writeGifHashBandIndex(standing, "anim", "gid",
        s"$root/idx", metricName = "graft_gif_stream_idx_cap")(spark)
      batchOne.coalesce(1).write.parquet(s"$root/in")
      batchTwo.coalesce(1).write.mode("append").parquet(s"$root/in")
      // the recipe: read the index ONCE at stream start, persist it,
      // probe every micro-batch through the packaged batch filter
      val idx = Multimodal.readGifHashBandIndex(spark, s"$root/idx")
        .persist()
      val keptIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      var batches = 0
      val body = Multimodal.gifNearDupMicroBatch("anim", "gid", idx) {
        (kept, _) =>
          batches += 1
          kept.select("gid").collect().foreach(r => keptIds.add(r.getLong(0)))
          ()
      }(spark)
      val q = spark.readStream
        .schema("gid BIGINT, anim BINARY")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .writeStream
        .foreachBatch(body)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // PARITY: the micro-batched kept set equals the batch filter's
      // kept set over the union fixture — the recipe IS the batch
      // operator per micro-batch, not a weaker twin
      val batchKept = Multimodal.gifNearDupFilterAgainst(
          batchOne.unionByName(batchTwo), "anim", "gid", idx)(spark)
        .select("gid").collect().map(_.getLong(0)).toSet
      import scala.jdk.CollectionConverters._
      assert(keptIds.asScala.toSet == batchKept,
        s"stream kept ${keptIds.asScala.toSet} vs batch kept $batchKept")
      assert(batchKept == Set(3L, 4L), s"fixture truth drift: $batchKept")
      assert(batches >= 2, s"fixture must exercise >1 micro-batch: $batches")
      idx.unpersist()
      // the width guard fires at STREAM BUILD, not first batch
      val err = intercept[IllegalArgumentException] {
        Multimodal.gifNearDupMicroBatch("anim", "gid", idx, nFrames = 8) {
          (_, _) => ()
        }(spark)
      }
      assert(err.getMessage.contains("sample width"), err.getMessage)
    }
  }

  test("video stream intake: videoNearDupMicroBatch filters re-cuts against a keyframe index across micro-batches") {
    import spark.implicits._
    import graft.operators.Multimodal
    val md = java.security.MessageDigest.getInstance("MD5")
    def grid(seed: String): Array[Int] = Array.tabulate(72) { i =>
      java.lang.Byte.toUnsignedInt(
        md.digest(s"$seed:${i / 9}:${i % 9}".getBytes("UTF-8"))(0))
    }
    def footage(base: String): Seq[Array[Int]] =
      (0 until 4).map(j => grid(s"vsm:$base:$j"))
    def master(base: String): Array[Byte] =
      Multimodal.syntheticMjpegMp4Keyframed(9, 8,
        (1 to 12).map { n =>
          val j = Seq(1, 4, 5, 10).indexOf(n)
          if (j >= 0) footage(base)(j) else grid(s"vsmFillS:$base:$n")
        }, Seq(1, 4, 5, 10))
    def recut(base: String, salt: String): Array[Byte] =
      Multimodal.syntheticMjpegMp4Keyframed(9, 8,
        (1 to 9).map { n =>
          val j = Seq(2, 3, 7, 9).indexOf(n)
          if (j >= 0) footage(base)(j) else grid(s"vsmFill:$salt:$n")
        }, Seq(2, 3, 7, 9))
    val standing = Seq((201L, master("A")), (203L, master("B")))
      .toDF("vid", "clip")
    // 1 and 2 are RE-CUTS of the standing footage (different sync
    // tables — only keyframe alignment can drop them); 3 and 4 are
    // fresh footage; split so drops land in both micro-batches
    val batchOne = Seq((1L, recut("A", "r1")), (3L, recut("C", "r3")))
      .toDF("vid", "clip")
    val batchTwo = Seq((2L, recut("B", "r2")), (4L, recut("D", "r4")))
      .toDF("vid", "clip")
    withTempDir("video-stream") { dir =>
      val root = dir.getAbsolutePath
      Multimodal.writeVideoKeyframeHashBandIndex(standing, "clip", "vid",
        s"$root/idx", metricName = "graft_video_stream_idx_cap")(spark)
      batchOne.coalesce(1).write.parquet(s"$root/in")
      batchTwo.coalesce(1).write.mode("append").parquet(s"$root/in")
      val idx = Multimodal.readGifHashBandIndex(spark, s"$root/idx")
        .persist()
      val keptIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val body = Multimodal.videoNearDupMicroBatch("clip", "vid", idx) {
        (kept, _) =>
          kept.select("vid").collect().foreach(r => keptIds.add(r.getLong(0)))
          ()
      }(spark)
      val q = spark.readStream
        .schema("vid BIGINT, clip BINARY")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in")
        .writeStream
        .foreachBatch(body)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val batchKept = Multimodal.videoNearDupFilterAgainst(
          batchOne.unionByName(batchTwo), "clip", "vid", idx)(spark)
        .select("vid").collect().map(_.getLong(0)).toSet
      import scala.jdk.CollectionConverters._
      assert(keptIds.asScala.toSet == batchKept,
        s"stream kept ${keptIds.asScala.toSet} vs batch kept $batchKept")
      assert(batchKept == Set(3L, 4L), s"fixture truth drift: $batchKept")
      idx.unpersist()
      val err = intercept[IllegalArgumentException] {
        Multimodal.videoNearDupMicroBatch("clip", "vid", idx, nFrames = 8) {
          (_, _) => ()
        }(spark)
      }
      assert(err.getMessage.contains("sample width"), err.getMessage)
    }
  }
}

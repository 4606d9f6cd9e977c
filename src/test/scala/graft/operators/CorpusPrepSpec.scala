package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The one-call prep pipeline: normalization, gates, exact dedup, and
  * near-dup clustering compose into the expected survivor set. */
class CorpusPrepSpec extends SparkSpecBase {

  import spark.implicits._

  test("end-to-end prep: gates, exact dups, near dups, survivors") {
    val docs = Seq(
      // 1+2: exact dups after normalization (case/whitespace differ)
      (1L, "The  Quick Brown Fox Jumps Over The Lazy Dog Again Today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      // 3: near-dup of 1 (one word changed)
      (3L, "the quick brown fox jumps over the lazy dog again tonight"),
      // 4: unique and long enough
      (4L, "completely different content that survives every stage fine"),
      // 5: too short -> gated
      (5L, "too short"),
      // 6: pathological repetition -> gated
      (6L, "spam spam spam spam spam spam spam spam spam spam spam spam")
    ).toDF("doc_id", "text")

    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, maxRepetition = 0.5, minJaccard = 0.5,
      metricPrefix = Some("graft_prep")))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 falls to exact dedup (1 is min id), 3 to near-dup clustering,
    // 5/6 to the gates; 1 and 4 survive
    assert(kept == Set(1L, 4L))
    // survivors carry the cleaned text
    val clean1 = out.filter(col("doc_id") === 1).select("clean_text")
      .collect()(0).getString(0)
    assert(clean1 == "the quick brown fox jumps over the lazy dog again today")

    val (in, outN, pct) = CorpusPrep.yieldStats(docs, out)
    assert(in == 6 && outN == 2 && math.abs(pct - 66.67) < 0.1)

    // per-stage survivor counts ride observed metrics — "where did my
    // docs go" with no extra pass
    out.collect() // metrics populate on THIS QueryExecution's action
    val m = out.queryExecution.observedMetrics
    assert(m("graft_prep_gated").getAs[Long]("rows") == 4L)   // 5,6 gated
    assert(m("graft_prep_exact").getAs[Long]("rows") == 3L)   // 2 exact-dup
    assert(m("graft_prep_neardup").getAs[Long]("rows") == 2L) // 3 near-dup
  }

  test("rowLocalGate runs the normalize chain once per row") {
    // written as plain filters, pushdown inlined clean_text into every
    // gate conjunct: 6 nfc_normalize calls in the executed plan
    withTempDir("gate-plan") { dir =>
      Seq((1L, "The  Quick Brown Fox Jumps Over The Lazy Dog"),
        (2L, "too short"), (3L, "spam spam spam spam spam spam spam spam"))
        .toDF("doc_id", "text").write.parquet(dir.getPath + "/docs")
      val docs = spark.read.parquet(dir.getPath + "/docs")
      val gated = CorpusPrep.rowLocalGate(
        docs.withColumn("clean_text", TextNorm.clean(col("text"))),
        CorpusPrep.Config(minChars = 20, maxRepetition = 0.5), "text")
      assert(gated.columns.toSeq == Seq("doc_id", "text", "clean_text"))
      assert(gated.select("doc_id", "clean_text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq ==
        Seq(1L -> "the quick brown fox jumps over the lazy dog"))
      val plan = gated.queryExecution.executedPlan
      val calls = plan.collect {
        case _: org.apache.spark.sql.execution.FileSourceScanExec => 0
        case p => p.expressions.map(_.collect {
          case n: graft.functions.NfcNormalizeExpr => n }.size).sum
      }.sum
      assert(calls == 1, s"$calls nfc_normalize calls outside the scan:\n$plan")
    }
  }

  test("repetitionGates: fine repetition signals gate on the RAW text; misspelled names and non-fractions refuse") {
    // raw structure matters: doc 11's duplicated LINES are invisible
    // after clean()'s whitespace squeeze, so the gate must judge the
    // original text column
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta\neta theta iota kappa lambda mu"),
      (11L, "one two three four five six\none two three four five six\nseven eight nine ten eleven twelve"),
      (12L, "solid unique prose with plenty of distinct words here\nand a second line that repeats nothing at all today")
    ).toDF("doc_id", "text")
    val cfg = CorpusPrep.Config(minChars = 20,
      repetitionGates = Map("dup_line_frac" -> 0.2))
    val kept = CorpusPrep.run(docs, cfg = cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L), s"got $kept")
    // stream twin: the gate is row-local, so prepStream carries it
    // verbatim through the same rowLocalGate
    val gatedStream = CorpusPrep.rowLocalGate(
      docs.withColumn("clean_text", TextNorm.clean(col("text"))), cfg, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedStream == Set(10L, 12L), s"got $gatedStream")
    // the trace names the signal that fired — a debugging user sees
    // WHICH repetition rule dropped the doc, not just "gated"
    val tr = CorpusPrep.prepTrace(docs, Seq(10L, 11L).toDF("id"), cfg = cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2)).getOrElse("")))).toMap
    assert(tr(10L)._1 == "kept", s"${tr(10L)}")
    assert(tr(11L)._1 == "gated" &&
      tr(11L)._2.contains("violated dup_line_frac>0.2"), s"${tr(11L)}")
    // misspelled signal names refuse against the REAL field list
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        repetitionGates = Map("dup_lines_frac" -> 0.2)))
    }
    assert(e.getMessage.contains("dup_lines_frac") &&
      e.getMessage.contains("dup_line_frac"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        repetitionGates = Map("dup_line_frac" -> 1.5)))
    }
    assert(e2.getMessage.contains("fraction"), e2.getMessage)
    // top_* signals can exceed 1.0 for overlapping repeats (the
    // Dolma/Gopher arithmetic), so thresholds above 1 are LEGAL
    // there — a user must be able to set a gate that tolerates them
    val tolerant = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        minChars = 20,
        repetitionGates = Map("top_2gram_char_frac" -> 1.5)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tolerant == Set(10L, 11L, 12L), s"got $tolerant")
    val e3 = intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        repetitionGates = Map("top_2gram_char_frac" -> -0.1)))
    }
    assert(e3.getMessage.contains(">= 0"), e3.getMessage)
  }

  test("prepTrace: first-drop stage and evidence per id; kept set equals run()'s") {
    val docs = Seq(
      (1L, "The  Quick Brown Fox Jumps Over The Lazy Dog Again Today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "the quick brown fox jumps over the lazy dog again tonight"),
      (4L, "completely different content that survives every stage fine"),
      (5L, "too short"),
      (6L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (7L, "held out benchmark passage that must never reach training data")
    ).toDF("doc_id", "text")
    val bench = Seq((100L,
      "held out benchmark passage that must never reach training data"))
      .toDF("doc_id", "text")
    val cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.5,
      minJaccard = 0.5, benchmark = Some(bench), minContainment = 0.5)
    val trace = CorpusPrep.prepTrace(docs,
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 99L).toDF("id"), cfg = cfg)
    val byId = trace.collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)).getOrElse("")))
      .toMap
    assert(byId.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 99L),
      s"one row per traced id: $byId")
    assert(byId(99L)._1 == "absent")
    assert(byId(5L)._1 == "gated" && byId(5L)._2.contains("clean_len=9"),
      s"${byId(5L)}")
    assert(byId(6L)._1 == "gated")
    assert(byId(2L)._1 == "exact" && byId(2L)._2.contains("kept doc 1"),
      s"${byId(2L)}")
    assert(byId(3L)._1 == "neardup" && byId(3L)._2.contains("survivor: 1"),
      s"${byId(3L)}")
    assert(byId(7L)._1 == "decontam", s"${byId(7L)}")
    assert(byId(1L)._1 == "kept" && byId(4L)._1 == "kept")

    // the no-drift pin: under a RICHER config (sampling active, so
    // the sampled branch and its draw detail execute), trace's kept
    // set must equal run()'s survivor set on the same input
    val cfgS = cfg.copy(sampleRate = Some(lit(0.6)))
    val traceS = CorpusPrep.prepTrace(docs,
      docs.select("doc_id"), cfg = cfgS)
    val keptS = traceS.filter(col("stage") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val runS = CorpusPrep.run(docs, cfg = cfgS)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptS == runS, s"trace kept $keptS vs run kept $runS")
    val sampledOut = traceS.filter(col("stage") === "sampled").collect()
    sampledOut.foreach(r => assert(r.getString(2).contains("sample draw"), r.toString))
    assert(sampledOut.map(_.getLong(0)).toSet ==
      Set(1L, 4L).diff(runS), "sampled drops = dedup survivors minus run's kept")
  }

  test("prepTraceStream: stream-trace kept set equals prepStream survivors; standing-tier evidence") {
    // standing corpus: a prepared frame (run output carries clean_text)
    val standingRaw = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again today"),
      (102L, "completely different standing content that stays resident here"))
      .toDF("doc_id", "text")
    val standing = CorpusPrep.run(standingRaw,
      cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9))
      .localCheckpoint(true)
    // standing image index, PERSISTED + read back — the facade takes
    // readHashBandIndex output verbatim (the drop-in contract)
    val grays = Array.tabulate(8 * 9)(i => (i * 3) % 256)
    val img = Multimodal.syntheticGrayBmp(9, 8, grays)
    withTempDir("trace-hbi") { hd =>
      val hPath = hd.getAbsolutePath
      Dedup.writeHashBandIndex(
        Multimodal.withPerceptualHash(
          Seq((101L, img)).toDF("doc_id", "img"), "img", "ph")(spark),
        "ph", "doc_id", hPath)
      val imageIndex = Dedup.readHashBandIndex(spark, hPath)
      val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val batch = Seq(
        // 1: exact digest of standing 101 -> exact_standing
        (1L, "the quick brown fox jumps over the lazy dog again today", null.asInstanceOf[Array[Byte]], ts),
        // 2: near-dup of standing 101 -> neardup (names 101 + jaccard)
        (2L, "the quick brown fox jumps over the lazy dog again tonight", null.asInstanceOf[Array[Byte]], ts),
        // 3: gated
        (3L, "too short", null.asInstanceOf[Array[Byte]], ts),
        // 4: fresh text + fresh-enough image -> kept (or sample-dropped)
        (4L, "entirely novel intake document with original prose inside", null.asInstanceOf[Array[Byte]], ts),
        // 6: fresh text but the STANDING image -> image tier
        (6L, "novel words here but the picture matches standing content", img, ts)
      ).toDF("doc_id", "text", "img", "ts")
      val cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9,
        minJaccard = 0.5, imageCol = Some("img"),
        sampleRate = Some(lit(0.6)))

      // the live stream's survivor set, via a real file stream
      withTempDir("trace-stream") { sd =>
        batch.coalesce(1).write.mode("overwrite").parquet(s"${sd.getAbsolutePath}/in")
        val stream = spark.readStream
          .schema("doc_id BIGINT, text STRING, img BINARY, ts TIMESTAMP")
          .parquet(s"${sd.getAbsolutePath}/in")
        val (out, caches) = CorpusPrep.prepStreamWithCaches(stream, "text", "ts",
          cfg, standing = Some(standing), imageIndex = Some(imageIndex))
        val q = out.writeStream.format("memory").queryName("trace_stream_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        caches.unpersist()
        val streamKept = spark.table("trace_stream_out")
          .select("doc_id").collect().map(_.getLong(0)).toSet

        val trace = CorpusPrep.prepTraceStream(batch,
          Seq(1L, 2L, 3L, 4L, 6L, 99L).toDF("id"), "text", cfg = cfg,
          standing = Some(standing), imageIndex = Some(imageIndex))
        val byId = trace.collect()
          .map(r => r.getLong(0) -> ((r.getString(1),
            Option(r.getString(2)).getOrElse(""))))
          .toMap
        assert(byId(99L)._1 == "absent")
        assert(byId(3L)._1 == "gated", s"${byId(3L)}")
        assert(byId(1L)._1 == "exact_standing", s"${byId(1L)}")
        assert(byId(2L)._1 == "neardup" &&
          byId(2L)._2.contains("standing doc 101") &&
          byId(2L)._2.contains("jaccard"), s"${byId(2L)}")
        assert(byId(6L)._1 == "image" && byId(6L)._2.contains("hamming 0"),
          s"${byId(6L)}")
        assert(byId(4L)._1 == "kept" || byId(4L)._1 == "sampled", s"${byId(4L)}")
        // THE no-drift pin: trace's kept set == the live stream's
        // survivor set on the same rows and lookups. Exact-set parity
        // requires a TWIN-FREE batch (this fixture): with in-batch
        // digest twins, the stream's survivor is arrival-dependent
        // and parity is content-level (the caveat the trace's own
        // evidence states — pinned below)
        val traceKept = byId.collect { case (id, ("kept", _)) => id }.toSet
        assert(traceKept == streamKept,
          s"trace kept $traceKept vs stream kept $streamKept")
      }
    }
    // the intra tiers refuse deterministically-untraceable configs
    intercept[IllegalArgumentException] {
      CorpusPrep.prepTraceStream(standingRaw, Seq(1L).toDF("id"), "text",
        cfg = CorpusPrep.Config(intraNearDup = true))
    }
    // within-batch digest twins: content-level trace with the honest
    // arrival-order caveat in the evidence
    val twins = Seq(
      (11L, "identical twin content that is long enough to pass gates"),
      (12L, "identical twin content that is long enough to pass gates"))
      .toDF("doc_id", "text")
    val tw = CorpusPrep.prepTraceStream(twins, Seq(12L).toDF("id"), "text")
      .collect()(0)
    assert(tw.getString(1) == "exact" && tw.getString(2).contains("doc 11") &&
      tw.getString(2).contains("first ARRIVAL"), tw.toString)
    // second input, the row-local front on: the LM knows all five
    // reference sentences, the quality model labels the lorem one
    // crawl junk, the n-gram Bloom holds the pangram, the bench
    // embedding sits next to the sphinx doc — so each front tier owns
    // exactly one drop, in stage order
    val fox = "the quick brown fox jumps over the lazy dog again"
    val lorem = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val pack = "pack my box with five dozen liquor jugs now please"
    val sphinx = "sphinx of black quartz judge my vow today and tomorrow"
    val wizards = "the five boxing wizards jump quickly over every fence"
    val ref = Seq(fox, lorem, pack, sphinx, wizards).flatMap(Seq.fill(30)(_))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val labeled = (Seq(fox, pack, sphinx, wizards).flatMap(t => Seq.fill(10)((t, 1))) ++
      Seq.fill(40)((lorem, 0))).zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }
    val cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9,
      lmModel = Some(TextStats.bigramModel(ref, "text")), minLmLogProb = -2.5,
      qualityModel = Some(QualityModel.train(labeled.toDF("doc_id", "text", "label"),
        "text", "label", dims = 256, iters = 6, lr = 2.0)),
      minQualityScore = 0.5,
      ngramBloom = Some(Dedup.buildShingleBloom(
        Seq("pack my box with five dozen liquor jugs").toDF("text"), "text",
        n = 4, fpp = 1e-6)), ngramBloomN = 4,
      embCol = Some("emb"),
      benchEmb = Some(Seq((100L, Seq(5.0, 5.01, 0.0, 0.0))).toDF("bid", "e")),
      benchEmbCol = "e", benchMinCosine = 0.999)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val batch = Seq(
      (1L, fox, Seq(0.0, 0.0, 9.0, 0.0), ts),
      (2L, "zq xv qq vx zz qx vz xq zv qv xx vv zqx vxq", Seq(0.0, 0.0, 0.0, 7.0), ts),
      (3L, lorem, Seq(0.0, 9.0, 0.0, 0.0), ts),
      (4L, pack, Seq(0.0, 0.0, 3.0, 4.0), ts),
      (5L, sphinx, Seq(5.01, 5.0, 0.0, 0.0), ts),
      (6L, wizards, Seq(1.0, 0.0, 0.0, 1.0), ts),
      (7L, "too short", Seq(1.0, 1.0, 1.0, 1.0), ts)
    ).toDF("doc_id", "text", "emb", "ts")
    withTempDir("trace-front") { sd =>
      batch.coalesce(1).write.parquet(s"${sd.getAbsolutePath}/in")
      val q = CorpusPrep.prepStream(spark.readStream
          .schema("doc_id BIGINT, text STRING, emb ARRAY<DOUBLE>, ts TIMESTAMP")
          .parquet(s"${sd.getAbsolutePath}/in"), "text", "ts", cfg)
        .writeStream.format("memory").queryName("trace_front_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val streamKept = spark.table("trace_front_out")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val stage = CorpusPrep.prepTraceStream(batch, (1L to 7L).toDF("id"),
          "text", cfg = cfg)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(stage == Map(1L -> "kept", 2L -> "lm", 3L -> "qm", 4L -> "ngram",
        5L -> "semdecontam", 6L -> "kept", 7L -> "gated"), s"$stage")
      val traceKept = stage.collect { case (id, "kept") => id }.toSet
      assert(traceKept == streamKept,
        s"trace kept $traceKept vs stream kept $streamKept")
    }
  }

  test("prepTraceIncremental: kept set equals runIncremental's; per-route evidence incl. the taint rule") {
    val w = (1 to 20).map(i => s"w$i")
    def doc(repl: (Int, String)*): String = {
      val m = repl.toMap
      (1 to 20).map(i => m.getOrElse(i, s"w$i")).mkString(" ")
    }
    val standingRaw = Seq(
      (101L, doc()),
      (102L, "completely different standing content that stays resident and calm here"))
      .toDF("doc_id", "text")
    val standing = CorpusPrep.run(standingRaw,
      cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.95))
      .localCheckpoint(true)
    // standing image index (in-memory form — the facade's argument
    // shape). Controlled dHash hamming via single-bit tweaks: base
    // grays ascend by 7 within rows 0-3, and setting (g(y,x), g(y,x+1))
    // to (255, 0) flips EXACTLY dHash bit y*8+x (the neighbors'
    // comparisons keep their sign). 8's image sits at hamming 2 from
    // standing (direct hit at <= 3); 9's at hamming 2 from 8's but 4
    // from standing — near-dup of a hit, not a hit itself: the taint
    // case.
    val grays = Array.tabulate(8 * 9)(i => (i * 7) % 256)
    def tweaked(bits: (Int, Int)*): Array[Byte] = {
      val g = grays.clone()
      bits.foreach { case (y, x) => g(y * 9 + x) = 255; g(y * 9 + x + 1) = 0 }
      Multimodal.syntheticGrayBmp(9, 8, g)
    }
    val imgA = Multimodal.syntheticGrayBmp(9, 8, grays)
    val imgHam2 = tweaked((0, 0), (1, 0))
    val imgHam4 = tweaked((0, 0), (1, 0), (2, 0), (3, 0))
    val imageIndex = Dedup.hashBandIndex(
      Multimodal.withPerceptualHash(
        Seq((101L, imgA)).toDF("doc_id", "img"), "img", "ph")(spark), "ph")
      .localCheckpoint(true)
    val nullImg = null.asInstanceOf[Array[Byte]]
    val batch = Seq(
      // 1: exact digest of standing 101 -> exact_standing
      (1L, doc(), nullImg),
      // 2/21: identical twins -> 21 drops at 'exact', survivor min-id 2
      (2L, "identical twin content that is long enough to pass the gates", nullImg),
      (21L, "identical twin content that is long enough to pass the gates", nullImg),
      // 3: near-dup of standing 101 (one word) -> neardup names 101
      (3L, doc(10 -> "zz"), nullImg),
      // 4: near 101 (contaminated); 5: near 4 but NOT near 101 ->
      // the TAINT rule drops the whole {4, 5} cluster
      (4L, doc(5 -> "xx"), nullImg),
      (5L, doc(5 -> "xx", 15 -> "yy"), nullImg),
      // 6: gated
      (6L, "too short", nullImg),
      // 7: fresh and unique -> kept
      (7L, "entirely novel intake document with original prose inside it", nullImg),
      // 8: fresh text, STANDING image -> image direct hit
      (8L, "fresh words one describing a picture already known to us", imgHam2),
      // 9: fresh text, image near 8's -> image cluster tainted via 8
      (9L, "fresh words two describing a slightly edited known picture", imgHam4)
    ).toDF("doc_id", "text", "img")
    // rowsPerBand = 1: four 1-row bands, so a 0.7-jaccard pair's
    // candidate recall is ~1 − (1−j)^4 ≈ 99.3% — the 2×2 default
    // deterministically missed one fixture pair (LSH recall, not a
    // bug; the trace must agree with the operator EITHER way, and the
    // per-route assertions below need the candidates found)
    val cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.95,
      minJaccard = 0.6, rowsPerBand = 1, imageCol = Some("img"))
    val incKept = CorpusPrep.runIncremental(standing, batch, cfg = cfg,
        imageIndex = Some(imageIndex))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val trace = CorpusPrep.prepTraceIncremental(standing, batch,
      Seq(1L, 2L, 21L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 99L).toDF("id"),
      cfg = cfg, imageIndex = Some(imageIndex))
    val byId = trace.collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        Option(r.getString(2)).getOrElse(""))))
      .toMap
    assert(byId(99L)._1 == "absent")
    assert(byId(6L)._1 == "gated", s"${byId(6L)}")
    assert(byId(1L)._1 == "exact_standing", s"${byId(1L)}")
    assert(byId(21L)._1 == "exact" && byId(21L)._2.contains("doc 2"),
      s"${byId(21L)}")
    assert(byId(3L)._1 == "neardup" &&
      byId(3L)._2.contains("standing doc 101"), s"${byId(3L)}")
    assert(byId(4L)._1 == "neardup" &&
      byId(4L)._2.contains("standing doc 101"), s"${byId(4L)}")
    // 5 is NOT within minJaccard of standing — it drops only through
    // its cluster with 4, and that cluster is TAINTED (no survivor)
    assert(byId(5L)._1 == "neardup" && byId(5L)._2.contains("tainted"),
      s"${byId(5L)}")
    assert(byId(8L)._1 == "image" && byId(8L)._2.contains("own image"),
      s"${byId(8L)}")
    assert(byId(9L)._1 == "image" && byId(9L)._2.contains("tainted"),
      s"${byId(9L)}")
    assert(byId(2L)._1 == "kept" && byId(7L)._1 == "kept")
    // THE no-drift pin: the trace's kept set is the operator's own
    // verdict (the dedup boundary IS dropIncrementalDuplicates)
    val traceKept = byId.collect { case (id, ("kept", _)) => id }.toSet
    assert(traceKept == incKept, s"trace kept $traceKept vs inc $incKept")
  }

  test("trained quality gate drops low scorers in run, runIncremental, and the trace") {
    val labeled = ((1 to 20).map(i =>
        (i.toLong, "the quick brown fox jumps over the lazy dog daily", 1)) ++
      (1 to 20).map(i =>
        (100L + i, "zzz qqq xxx kkk vvv www hhh jjj ggg bbb uuu ooo", 0)))
      .toDF("doc_id", "text", "label")
    val model = QualityModel.train(labeled, "text", "label",
      dims = 256, iters = 6, lr = 2.0)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog daily"),
      (2L, "daily dog over the quick brown fox lazy jumps news"),
      (3L, "zzz qqq xxx kkk vvv www hhh jjj ggg bbb uuu ooo")
    ).toDF("doc_id", "text")
    val cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9,
      qualityModel = Some(model), minQualityScore = 0.5,
      metricPrefix = Some("graft_qm"))
    val out = CorpusPrep.run(docs, cfg = cfg)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), s"batch kept $kept")
    out.collect()
    assert(out.queryExecution.observedMetrics("graft_qm_qm")
      .getAs[Long]("rows") == 2L, "qm survivor metric")
    // incremental: the same gate runs on the batch front half
    val inc = CorpusPrep.runIncremental(out,
      Seq((10L, "reads the daily news with great care and attention today"),
          (11L, "qqq zzz kkk xxx www vvv jjj hhh bbb ggg ooo uuu"))
        .toDF("doc_id", "text"), cfg = cfg)
    val incKept = inc.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incKept == Set(10L), s"incremental kept $incKept")
    // the trace names the stage and the doc's actual score
    val tr = CorpusPrep.prepTrace(docs, Seq(3L).toDF("id"), cfg = cfg)
      .collect()(0)
    assert(tr.getString(1) == "qm", tr.toString)
    assert(tr.getString(2).contains("quality score") &&
      tr.getString(2).contains("below minQualityScore"), tr.toString)
  }

  test("minQualityQuantile routes calibrateThreshold through the facade: frame route == call-site calibration, self-calibration bites, guards") {
    val labeled = ((1 to 20).map(i =>
        (i.toLong, "the quick brown fox jumps over the lazy dog daily", 1)) ++
      (1 to 20).map(i =>
        (100L + i, "zzz qqq xxx kkk vvv www hhh jjj ggg bbb uuu ooo", 0)))
      .toDF("doc_id", "text", "label")
    val model = QualityModel.train(labeled, "text", "label",
      dims = 256, iters = 6, lr = 2.0)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog daily"),
      (2L, "daily dog over the quick brown fox lazy jumps news"),
      (3L, "zzz qqq xxx kkk vvv www hhh jjj ggg bbb uuu ooo")
    ).toDF("doc_id", "text")
    val base = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9,
      qualityModel = Some(model))
    // frame route == the call-site calibration it replaces (the
    // designated frame is scored on textCol verbatim, so the
    // threshold is IDENTICAL — the q138 switch's same-hash argument)
    val viaConfig = CorpusPrep.run(docs, cfg = base.copy(
        minQualityQuantile = Some(0.5),
        qualityCalibrationFrame = Some(labeled)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val thr = QualityModel.calibrateThreshold(
      QualityModel.withQualityScore(labeled, model, "text"))
    val viaCallSite = CorpusPrep.run(docs,
        cfg = base.copy(minQualityScore = thr))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaConfig == viaCallSite && viaConfig == Set(1L, 2L),
      s"config route $viaConfig != call-site $viaCallSite")
    // self-calibration (no frame): the median of the batch's own
    // clean_text scores — the junk doc sits below it by construction
    val selfCal = CorpusPrep.run(docs,
        cfg = base.copy(minQualityQuantile = Some(0.5)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(selfCal == Set(1L, 2L), s"self-calibrated kept $selfCal")
    // runIncremental takes the quantile route too
    val incKept = CorpusPrep.runIncremental(
        CorpusPrep.run(docs, cfg = base),
        Seq((10L, "reads the daily news with great care and attention today"),
            (11L, "qqq zzz kkk xxx www vvv jjj hhh bbb ggg ooo uuu"))
          .toDF("doc_id", "text"),
        cfg = base.copy(minQualityQuantile = Some(0.5),
          qualityCalibrationFrame = Some(labeled)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incKept == Set(10L), s"incremental quantile route kept $incKept")
    // the trace gates at the CALIBRATED threshold and says so
    val tr = CorpusPrep.prepTrace(docs, Seq(3L).toDF("id"),
        cfg = base.copy(minQualityQuantile = Some(0.5),
          qualityCalibrationFrame = Some(labeled)))
      .collect()(0)
    assert(tr.getString(1) == "qm", tr.toString)
    assert(tr.getString(2).contains(s"below minQualityScore=$thr"),
      s"trace must name the calibrated threshold: $tr")
    // guards: quantile without a model; quantile over a hand-set
    // threshold; a traced stream config without the calibration frame
    intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        minQualityQuantile = Some(0.5)))
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = base.copy(minQualityScore = 0.7,
        minQualityQuantile = Some(0.5)))
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.prepTraceStream(docs, Seq(3L).toDF("id"), "text",
        cfg = base.copy(minQualityQuantile = Some(0.5)))
    }
    // a calibration frame without the quantile would be silently
    // ignored (fixed-0.5 gate) — refused instead
    intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = base.copy(
        qualityCalibrationFrame = Some(labeled)))
    }
  }

  test("LM-quality gate drops gibberish under a foreign bigram model; persisted model identical") {
    // reference corpus: fluent repeated prose -> high bigram mass
    val ref = (1L to 20L).map(i => (i, "the cat sat on the mat near the door"))
      .toDF("doc_id", "text")
    val lm = TextStats.bigramModel(ref, "text")
    val docs = Seq(
      (1L, "the cat sat on the mat near the door"),   // fluent: every bigram seen
      (2L, "door the mat on near sat the cat the"),   // same unigrams, scrambled order
      (3L, "the cat sat on the mat near the door"))
      .toDF("doc_id", "text")
    def runWith(m: TextStats.BigramLm) = CorpusPrep.run(docs,
      cfg = CorpusPrep.Config(minChars = 10, lmModel = Some(m),
        minLmLogProb = -1.5, metricPrefix = Some("graft_lm")))
    val out = runWith(lm)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 2's unigram profile is identical to 1's — only the ORDER signal
    // can reject it; 3 then falls to exact dedup against 1
    assert(kept == Set(1L), s"got $kept")
    out.collect()
    val m = out.queryExecution.observedMetrics
    assert(m("graft_lm_gated").getAs[Long]("rows") == 3L)
    assert(m("graft_lm_lm").getAs[Long]("rows") == 2L,
      "the LM stage must report its own survivor count")
    assert(m("graft_lm_exact").getAs[Long]("rows") == 1L)

    // zero-bigram docs carry no signal and must pass the gate
    val tiny = Seq((7L, "solitarylongtoken")).toDF("doc_id", "text")
    val keptTiny = CorpusPrep.run(tiny, cfg = CorpusPrep.Config(
        minChars = 5, lmModel = Some(lm), minLmLogProb = -1.0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptTiny == Set(7L), "a no-bigram doc must not be judged by the LM gate")
  }

  test("decontamination stage drops survivors containing a benchmark doc") {
    val docs = Seq(
      // survives every dedup stage but CONTAINS the benchmark question
      (1L, "Intro text then What Is The Capital Of France Today and trailing filler words"),
      // clean of benchmark content
      (2L, "completely different content that survives every stage fine"),
      (3L, "another unique document with enough length to pass the gates")
    ).toDF("doc_id", "text")
    // benchmark uses different case/spacing — the stage must normalize
    // it the same way as the corpus before shingling
    val bench = Seq((100L, "what  is the capital of FRANCE today"))
      .toDF("doc_id", "text")

    val without = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20))
    assert(without.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, benchmark = Some(bench), minContainment = 0.8))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))

    // the Bloom scale tier must keep the same survivors
    val bloomed = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, benchmark = Some(bench), minContainment = 0.8,
      benchBloomFpp = Some(0.01)))
    assert(bloomed.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("embedding-tier decontamination drops the paraphrased leak shingles cannot see") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      // a PARAPHRASE of the benchmark question: zero shingle overlap,
      // near-identical embedding — only the embedding tier sees it
      (1L, "which city serves as the french seat of government these days",
        Seq(5.01, 5.0, 0.0, 0.0)),
      (2L, "completely different content that survives every stage fine",
        Seq(0.0, 0.0, 9.0, 0.0)),
      (3L, "another unique document with enough length to pass the gates",
        Seq(0.0, 0.0, 0.0, 7.0))
    ).toDF("doc_id", "text", "emb")
    val benchEmb = Seq((100L, Seq(5.0, 5.01, 0.0, 0.0))).toDF("bid", "e")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        embCol = Some("emb"), benchEmb = Some(benchEmb), benchEmbCol = "e",
        benchMinCosine = 0.999))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L), s"got $out")
    // benchEmb without embCol is a loud config error
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        benchEmb = Some(benchEmb), benchEmbCol = "e"))
    }.getMessage.contains("embCol"))
    // the large-bench route (banded-BQ probe + exact verify) keeps the
    // same survivors when selected via benchEmbLarge — and it has no
    // driver-literal bench bound
    val large = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        embCol = Some("emb"), benchEmb = Some(benchEmb), benchEmbCol = "e",
        benchMinCosine = 0.999, benchEmbLarge = true))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(large == Set(2L, 3L), s"large route kept $large")
    // the flag without the bench frame is a loud config error, not a
    // silently skipped stage
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        embCol = Some("emb"), benchEmbLarge = true))
    }.getMessage.contains("benchEmb"))
  }

  test("image tier: perceptual near-dups collapse keep-earliest; undecodable payloads keep") {
    import spark.implicits._
    // two docs share EXACT pixels (different text — no text tier can
    // see the duplication), one has an opposite-gradient image
    // (dHash Hamming 64), one an undecodable payload
    val inc = Array.tabulate(72)(i => ((i % 9) * 28) & 0xff)
    val dec = Array.tabulate(72)(i => (255 - (i % 9) * 28) & 0xff)
    val a = graft.operators.Multimodal.syntheticGrayBmp(9, 8, inc)
    val b = graft.operators.Multimodal.syntheticGrayBmp(9, 8, dec)
    val docs = Seq(
      (1L, "first document with enough plain text to pass the gates", a),
      (2L, "a completely different second text body that also passes", a),
      (3L, "third document again distinct prose passing all the gates", b),
      (4L, "fourth doc whose image payload is not decodable at all ok",
        Array[Byte](1, 2, 3)))
      .toDF("doc_id", "text", "img")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        imageCol = Some("img")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L, 4L), s"got $out")
    // the incremental path needs a PREBUILT standing hash index —
    // without one it refuses loudly instead of silently skipping
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(
        docs.withColumn("clean_text", col("text")), docs,
        cfg = CorpusPrep.Config(imageCol = Some("img")))
    }.getMessage.contains("imageIndex"))
    // with the index: batch rows near a standing image drop, internal
    // image dups collapse keep-earliest, genuinely new images keep
    val standing = Seq(
      (1L, "standing corpus document with plenty of words here", a))
      .toDF("doc_id", "clean_text", "img")
    val sIdx = graft.operators.Dedup.hashBandIndex(
      graft.operators.Multimodal.withPerceptualHash(standing, "img", "ph")(spark),
      "ph")
    val batch = Seq(
      (5L, "a totally new fifth document text that passes the gate", a),
      (6L, "a sixth brand new document body that also passes gates", b),
      (7L, "a seventh distinct document wording that passes gates", b))
      .toDF("doc_id", "text", "img")
    val incKept = CorpusPrep.runIncremental(standing, batch,
        cfg = CorpusPrep.Config(minChars = 20, imageCol = Some("img")),
        imageIndex = Some(sIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incKept == Set(6L), s"incremental image tier kept $incKept")
    // tainted-cluster rule: Y is near X (hamming 2) but NOT near the
    // standing image (hamming 4); X is near standing (hamming 2) —
    // the {X, Y} cluster must drop WHOLE (Y is a transitive near-dup
    // of standing content), while Z (hamming 8 from everything, no
    // partners) keeps. bmpForBits builds an image whose dHash is
    // exactly the given bit pattern (per-row gray walk: +1 for a set
    // bit, -1 for a clear one).
    def bmpForBits(bits: Long): Array[Byte] = {
      val g = Array.ofDim[Int](72)
      for (y <- 0 until 8) {
        var v = 128
        g(y * 9) = v
        for (x <- 0 until 8) {
          v = if (((bits >> (y * 8 + x)) & 1L) == 1L) v + 1 else v - 1
          g(y * 9 + x + 1) = v
        }
      }
      graft.operators.Multimodal.syntheticGrayBmp(9, 8, g)
    }
    val base = 0x0123456789ABCDEFL
    val st2 = Seq((200L, "standing number two corpus document with ample words", bmpForBits(base)))
      .toDF("doc_id", "clean_text", "img")
    val sIdx2 = graft.operators.Dedup.hashBandIndex(
      graft.operators.Multimodal.withPerceptualHash(st2, "img", "ph")(spark), "ph")
    val chain = Seq(
      (10L, "the x document whose image is close to standing content",
        bmpForBits(base ^ 3L)),                     // 2 bits from standing
      (11L, "the y document near x but not near the standing image!",
        bmpForBits(base ^ 3L ^ (3L << 10))),        // 2 from X, 4 from standing
      (12L, "the z document with a genuinely distinct image payload",
        bmpForBits(base ^ 0x00FF000000000000L)))    // 8 bits from everything
      .toDF("doc_id", "text", "img")
    val chainKept = CorpusPrep.runIncremental(st2, chain,
        cfg = CorpusPrep.Config(minChars = 20, imageCol = Some("img")),
        imageIndex = Some(sIdx2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(chainKept == Set(12L), s"tainted cluster leaked: kept $chainKept")
  }

  /** Envelope WAV from per-window amplitudes — the audio twin of the
    * image tests' synthetic BMPs (see MultimodalSpec). */
  private def envWav(amps: Seq[Int]): Array[Byte] = {
    val s = new Array[Short](amps.length * 8)
    for (w <- amps.indices; j <- 0 until 8)
      s(w * 8 + j) = (if ((w * 8 + j) % 2 == 0) amps(w) else -amps(w)).toShort
    graft.operators.Multimodal.syntheticPcmWav(s)
  }

  test("audio tier: envelope near-dups collapse keep-earliest; incremental probes the standing index; misconfigs refuse") {
    import spark.implicits._
    val ampsA = Seq.tabulate(65)(w => 100 * (w + 1))
    val a = envWav(ampsA)
    val a2 = envWav(ampsA.updated(0, 300)) // fingerprint hamming 1 from a
    val c = envWav(ampsA.reverse) // hamming 64 from a
    val docs = Seq(
      (1L, "first document with enough plain text to pass the gates", a),
      (2L, "a completely different second text body that also passes", a2),
      (3L, "third document again distinct prose passing all the gates", c),
      (4L, "fourth doc whose audio payload is not decodable at all ok",
        Array[Byte](1, 2, 3)))
      .toDF("doc_id", "text", "aud")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        audioCol = Some("aud")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L, 4L), s"got $out")
    // misconfig refusals: audioCol without index (incremental), and
    // index without audioCol — both loud, mirroring the image tier
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(
        docs.withColumn("clean_text", col("text")), docs,
        cfg = CorpusPrep.Config(audioCol = Some("aud")))
    }.getMessage.contains("audioIndex"))
    val standing = Seq(
      (1L, "standing corpus document with plenty of words here", a))
      .toDF("doc_id", "clean_text", "aud")
    val sIdx = graft.operators.Dedup.hashBandIndex(
      graft.operators.Multimodal.withAudioFingerprint(standing, "aud", "fp")(spark),
      "fp")
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(standing, docs,
        cfg = CorpusPrep.Config(), audioIndex = Some(sIdx))
    }.getMessage.contains("audioCol"))
    // with the index: batch rows near a standing fingerprint drop,
    // internal audio dups collapse keep-earliest, new audio keeps
    val batch = Seq(
      (5L, "a totally new fifth document text that passes the gate", a2),
      (6L, "a sixth brand new document body that also passes gates", c),
      (7L, "a seventh distinct document wording that passes gates", c))
      .toDF("doc_id", "text", "aud")
    val incKept = CorpusPrep.runIncremental(standing, batch,
        cfg = CorpusPrep.Config(minChars = 20, audioCol = Some("aud")),
        audioIndex = Some(sIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incKept == Set(6L), s"incremental audio tier kept $incKept")
  }

  test("image and audio tiers compose in one prep config") {
    import spark.implicits._
    val incG = Array.tabulate(72)(i => ((i % 9) * 28) & 0xff)
    val decG = Array.tabulate(72)(i => (255 - (i % 9) * 28) & 0xff)
    val imgA = graft.operators.Multimodal.syntheticGrayBmp(9, 8, incG)
    val imgB = graft.operators.Multimodal.syntheticGrayBmp(9, 8, decG)
    val ampsA = Seq.tabulate(65)(w => 100 * (w + 1))
    val audA = envWav(ampsA)
    val audA2 = envWav(ampsA.updated(0, 300))
    val audC = envWav(ampsA.reverse)
    // 2 duplicates 1 by IMAGE only; 3 duplicates 1 by AUDIO only;
    // 4 is distinct in both modalities — survivors keep-earliest
    val docs = Seq(
      (1L, "first document with enough plain text to pass the gates", imgA, audA),
      (2L, "a completely different second text body that also passes", imgA, audC),
      (3L, "third document again distinct prose passing all the gates", imgB, audA2),
      // alternating gradients/envelopes: dHash/fingerprint 0x5555…,
      // hamming 32 from both the all-set and all-clear signatures
      (4L, "fourth genuinely distinct document in both of the medias",
        graft.operators.Multimodal.syntheticGrayBmp(9, 8,
          Array.tabulate(72)(i => if ((i % 9) % 2 == 0) 40 else 200)),
        envWav(Seq.tabulate(65)(w => if (w % 2 == 0) 100 else 200))))
      .toDF("doc_id", "text", "img", "aud")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        imageCol = Some("img"), audioCol = Some("aud")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 4L), s"got $out")
  }

  test("gif tier: positional animation clusters collapse keep-earliest; incremental probes the standing index with the taint rule; stream refuses") {
    // controlled per-frame dHash fixtures: ascending-by-7 gray grids;
    // setting cell pairs to (255, 0) at row r, cols {0,2,4} flips
    // exactly dHash bits {8r, 8r+2, 8r+4} — so hamming distances are
    // engineered, not hoped for
    def frame(shift: Int) = Array.tabulate(72)(i => ((i * 7) + shift) % 256)
    def rowFlip(f: Array[Int], r: Int): Array[Int] = {
      val g = f.clone()
      Seq(0, 2, 4).foreach { x => g(r * 9 + x) = 255; g(r * 9 + x + 1) = 0 }
      g
    }
    val baseFrames = Seq(frame(0), frame(96), frame(160))
    val gifS = Multimodal.syntheticGrayGif(9, 8, baseFrames)
    // X: 3 bits flipped per frame (hamming 3 from S — within radius);
    // Y: 6 bits from S (outside), 3 from X (within) — the taint chain
    val gifX = Multimodal.syntheticGrayGif(9, 8, baseFrames.map(rowFlip(_, 0)))
    val gifY = Multimodal.syntheticGrayGif(9, 8,
      baseFrames.map(f => rowFlip(rowFlip(f, 0), 1)))
    val gifB = Multimodal.syntheticGrayGif(9, 8,
      Seq(frame(0).reverse, frame(96).reverse, frame(160).reverse))
    // texts: all pass the gates, none near-dup each other
    val docs = Seq(
      (1L, "the first document talks about entirely maritime navigation topics", gifS),
      (2L, "a second text concerning volcanic geology and mineral formations", gifX),
      (3L, "third entry describing renaissance painting techniques in detail", gifB)
    ).toDF("doc_id", "text", "gif")
    val cfg = CorpusPrep.Config(gifCol = Some("gif"),
      metricPrefix = Some("graft_gifrun"))
    val out = CorpusPrep.run(docs, cfg = cfg)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 and 2 are the same animation re-encoded (hamming 3/frame):
    // min-id keeps 1; 3 is a different animation
    assert(kept == Set(1L, 3L), s"run kept $kept")
    out.collect()
    assert(out.queryExecution.observedMetrics("graft_gifrun_gif")
      .getAs[Long]("rows") == 2L, "gif survivor metric")
    // the trace names the stage and the cluster survivor
    val tr = CorpusPrep.prepTrace(docs, Seq(2L).toDF("id"),
        cfg = cfg.copy(metricPrefix = None))
      .collect()(0)
    assert(tr.getString(1) == "gif", tr.toString)
    assert(tr.getString(2).contains("1"), s"survivor evidence: $tr")
    // incremental: standing = {S}; batch X hits standing directly,
    // batch Y only via X (the taint rule), batch B keeps
    val standing = Seq((0L, "standing corpus text about maritime things",
        gifS)).toDF("doc_id", "clean_text", "gif")
    val gifIdx = Multimodal.gifHashBandIndex(
      standing.select(col("gif")), "gif")(spark)
    val batch = Seq(
      (10L, "batch text number ten concerning volcanic geology formations", gifX),
      (11L, "batch text eleven about renaissance painting and fresco work", gifY),
      (12L, "batch text twelve on quantum computing error correction codes", gifB)
    ).toDF("doc_id", "text", "gif")
    val inc = CorpusPrep.runIncremental(standing, batch,
        cfg = CorpusPrep.Config(gifCol = Some("gif")),
        gifIndex = Some(gifIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc == Set(12L), s"incremental kept $inc")
    // the incremental trace distinguishes the three gif sub-reasons
    val trInc = CorpusPrep.prepTraceIncremental(standing, batch,
        Seq(10L, 11L, 12L).toDF("id"),
        cfg = CorpusPrep.Config(gifCol = Some("gif")),
        gifIndex = Some(gifIdx))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(trInc(10L)._1 == "gif" && trInc(10L)._2.contains("standing"),
      s"${trInc(10L)}")
    assert(trInc(11L)._1 == "gif" && trInc(11L)._2.contains("tainted"),
      s"${trInc(11L)}")
    assert(trInc(12L)._1 == "kept", s"${trInc(12L)}")
    // misconfigs refuse: gifCol without index, index without column,
    // and the stream path entirely
    intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(standing, batch,
        cfg = CorpusPrep.Config(gifCol = Some("gif")))
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(standing, batch, gifIndex = Some(gifIdx))
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.prepTraceStream(batch, Seq(10L).toDF("id"), "text",
        cfg = CorpusPrep.Config(gifCol = Some("gif")))
    }
  }

  test("gif tier facade knobs: gifMaxShift clusters a re-cut through run(); gifDecoder rides AVI payloads through the same config") {
    // frames REALIZING prescribed pairwise-distant dHashes (a gray
    // walk stepping +1/-1 per target bit): constant-offset gray ramps
    // are useless here — shifting all values mod 256 moves only the
    // wrap points, leaving dHashes 3-4 bits apart
    def gridFor(h: Long): Array[Int] = {
      val g = new Array[Int](72)
      for (y <- 0 until 8) {
        g(y * 9) = 128
        for (x <- 0 until 8) {
          val bit = (h >>> (y * 8 + x)) & 1L
          g(y * 9 + x + 1) = g(y * 9 + x) + (if (bit == 1L) 1 else -1)
        }
      }
      g
    }
    def dh(g: Array[Int]): Long = {
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (g(y * 9 + x + 1) > g(y * 9 + x)) h |= 1L << (y * 8 + x)
      h
    }
    // fixture distances PINNED, not hoped: every frame pair is > 3
    // bits apart, so exact-positional matching finds nothing and any
    // pairing below comes from the shift tolerance alone
    val fs = Seq(0xFFFFL, 0xFFFF0000L, 0xFFFF00000000L,
      0xFFFF000000000000L, 0x00FF00FF00FF00FFL).map(gridFor)
    for (i <- fs.indices; j <- fs.indices if i < j)
      assert(java.lang.Long.bitCount(dh(fs(i)) ^ dh(fs(j))) > 3,
        s"fixture frames $i/$j too close")
    val tBase = "first document text talking about maritime navigation topics"
    val tCut = "second text concerning volcanic geology and mineral formations"
    val base = Multimodal.syntheticGrayGif(9, 8, Seq(fs(0), fs(1), fs(2), fs(3)))
    val recut = Multimodal.syntheticGrayGif(9, 8, Seq(fs(1), fs(2), fs(3), fs(4)))
    val docs = Seq((1L, tBase, base), (2L, tCut, recut))
      .toDF("doc_id", "text", "gif")
    val strict = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        gifCol = Some("gif"), metricPrefix = Some("graft_gifshift0")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict == Set(1L, 2L), s"strict kept $strict")
    val shifted = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        gifCol = Some("gif"), gifMaxShift = 1,
        metricPrefix = Some("graft_gifshift1")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shifted == Set(1L), s"shifted kept $shifted")
    // the SAME corpus as uncompressed AVI payloads, decoded through
    // the seam by config alone — no operator-level plumbing
    val aviDocs = Seq(
      (1L, tBase, Multimodal.syntheticGrayAvi(9, 8,
        Seq(fs(0), fs(1), fs(2), fs(3)))),
      (2L, tCut, Multimodal.syntheticGrayAvi(9, 8,
        Seq(fs(1), fs(2), fs(3), fs(4)))))
      .toDF("doc_id", "text", "gif")
    val aviShifted = CorpusPrep.run(aviDocs, cfg = CorpusPrep.Config(
        gifCol = Some("gif"), gifMaxShift = 1,
        gifDecoder = Multimodal.AviFrameDecoder,
        metricPrefix = Some("graft_gifshiftavi")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aviShifted == Set(1L), s"avi shifted kept $aviShifted")
  }

  test("segmented-audio tier: positional clip clusters collapse keep-earliest; incremental probes the standing index with the taint rule; shift knob; stream refuses") {
    // prescribed-hash clips: window amplitudes walk +-1 per
    // fingerprint bit (AudioSegmentSpec's device), so every segment
    // hash — and every pairwise hamming — is a construction
    def ampsOf(hash: Long): Array[Int] = {
      val a = new Array[Int](65); a(0) = 128
      (0 until 64).foreach(i =>
        a(i + 1) = a(i) + (if (((hash >>> i) & 1L) == 1L) 1 else -1))
      a
    }
    def clip(hashes: Long*): Array[Byte] = {
      val samples = new Array[Short](hashes.length * 520)
      hashes.zipWithIndex.foreach { case (h, s) =>
        val amps = ampsOf(h)
        for (w <- 0 until 65; j <- 0 until 8) {
          val gi = s * 520 + w * 8 + j
          val m = amps(w) * 77
          samples(gi) = (if (gi % 2 == 0) m else -m).toShort
        }
      }
      Multimodal.syntheticPcmWav(samples)
    }
    def hOf(label: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.nio.ByteBuffer.wrap(md.digest(label.getBytes("UTF-8"))).getLong
    }
    val Seq(h1, h2, h3, h4, h5, h6, h7, h8, hX) =
      Seq("c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8", "cX").map(hOf)
    val audS = clip(h1, h2, h3, h4)
    // X: 1 bit per segment from S (within radius 3); Y: 4 bits from
    // S (outside), 3 from X (within) — the taint chain
    val audX = clip(h1 ^ 1L, h2 ^ 1L, h3 ^ 1L, h4 ^ 1L)
    val audY = clip(h1 ^ 15L, h2 ^ 15L, h3 ^ 15L, h4 ^ 15L)
    val audB = clip(h5, h6, h7, h8)
    val segCfg = CorpusPrep.Config(audioSegCol = Some("aud"),
      audioSegmentFrames = 520L, audioMaxSegments = 4)
    val docs = Seq(
      (1L, "the first document talks about entirely maritime navigation topics", audS),
      (2L, "a second text concerning volcanic geology and mineral formations", audX),
      (3L, "third entry describing renaissance painting techniques in detail", audB)
    ).toDF("doc_id", "text", "aud")
    val out = CorpusPrep.run(docs,
      cfg = segCfg.copy(metricPrefix = Some("graft_asrun")))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"run kept $kept")
    out.collect()
    assert(out.queryExecution.observedMetrics("graft_asrun_audioseg")
      .getAs[Long]("rows") == 2L, "audioseg survivor metric")
    // the trace names the stage and the cluster survivor
    val tr = CorpusPrep.prepTrace(docs, Seq(2L).toDF("id"), cfg = segCfg)
      .collect()(0)
    assert(tr.getString(1) == "audioseg", tr.toString)
    assert(tr.getString(2).contains("1"), s"survivor evidence: $tr")
    // the shift knob routes through the same config: a
    // prepended-intro re-cut clusters at audioSegMaxShift = 1 only
    val recut = Seq(
      (20L, "fourth text studies the migration of arctic seabirds in winter", audS),
      (21L, "fifth text collects observations on desert reptile hydration", clip(hX, h1, h2, h3))
    ).toDF("doc_id", "text", "aud")
    val keptNoShift = CorpusPrep.run(recut, cfg = segCfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNoShift == Set(20L, 21L), s"no-shift kept $keptNoShift")
    val keptShift = CorpusPrep.run(recut,
        cfg = segCfg.copy(audioSegMaxShift = 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptShift == Set(20L), s"shift kept $keptShift")
    // incremental: standing = {S}; batch X hits standing directly,
    // batch Y only via X (the taint rule), batch B keeps
    val standing = Seq((0L, "standing corpus text about maritime things",
        audS)).toDF("doc_id", "clean_text", "aud")
    val segIdx = Multimodal.audioSegmentHashBandIndex(
      standing.select(col("aud")), "aud", 520L, 4)(spark)
    val batch = Seq(
      (10L, "batch text number ten concerning volcanic geology formations", audX),
      (11L, "batch text eleven about renaissance painting and fresco work", audY),
      (12L, "batch text twelve on quantum computing error correction codes", audB)
    ).toDF("doc_id", "text", "aud")
    val inc = CorpusPrep.runIncremental(standing, batch, cfg = segCfg,
        audioSegIndex = Some(segIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc == Set(12L), s"incremental kept $inc")
    val trInc = CorpusPrep.prepTraceIncremental(standing, batch,
        Seq(10L, 11L, 12L).toDF("id"), cfg = segCfg,
        audioSegIndex = Some(segIdx))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(trInc(10L)._1 == "audioseg" && trInc(10L)._2.contains("standing"),
      s"${trInc(10L)}")
    assert(trInc(11L)._1 == "audioseg" && trInc(11L)._2.contains("tainted"),
      s"${trInc(11L)}")
    assert(trInc(12L)._1 == "kept", s"${trInc(12L)}")
    // misconfigs refuse: audioSegCol without index, index without
    // column, and the stream path entirely
    intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(standing, batch, cfg = segCfg)
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(standing, batch, audioSegIndex = Some(segIdx))
    }
    intercept[IllegalArgumentException] {
      CorpusPrep.prepTraceStream(batch, Seq(10L).toDF("id"), "text",
        cfg = segCfg)
    }
  }

  test("audioseg trace: a metadata-decoding clip the PcmDecoder cannot open surfaces as undecodable_pcm on its kept row; decodable and non-audio rows stay null") {
    // a real WAV (PCM decodes), a real MP3 (metadata walk decodes,
    // the JDK PcmDecoder has no MPEG codec), and non-audio junk
    val wav = Multimodal.syntheticPcmWav(
      Array.tabulate[Short](2080)(i => ((i * 31) % 2001 - 1000).toShort))
    val mp3 = Multimodal.syntheticMp3(100)
    val junk = "not audio at all, just opaque bytes".getBytes("UTF-8")
    val docs = Seq(
      (1L, "the first document talks about entirely maritime navigation topics", wav),
      (2L, "a second text concerning volcanic geology and mineral formations", mp3),
      (3L, "third entry describing renaissance painting techniques in detail", junk)
    ).toDF("doc_id", "text", "aud")
    val cfg = CorpusPrep.Config(audioSegCol = Some("aud"),
      audioSegmentFrames = 520L, audioMaxSegments = 4)
    // all three keep (undecodable keeps — the tier never judged 2
    // and 3), but the trace must SAY the tier never judged doc 2
    val tr = CorpusPrep.prepTrace(docs, Seq(1L, 2L, 3L).toDF("id"),
        cfg = cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2))))).toMap
    assert(tr.values.forall(_._1 == "kept"), s"got $tr")
    assert(tr(2L)._2.exists(_.startsWith("undecodable_pcm")), s"${tr(2L)}")
    assert(tr(2L)._2.exists(_.contains("cfg.audioDecoder")),
      s"the plug-in path must be named: ${tr(2L)}")
    assert(tr(1L)._2.isEmpty, s"decodable clip must stay null: ${tr(1L)}")
    assert(tr(3L)._2.isEmpty, s"non-audio junk must stay null: ${tr(3L)}")

    // the incremental trace carries the same stamp
    val standing = Seq((0L, "standing corpus text about maritime things",
      wav)).toDF("doc_id", "clean_text", "aud")
    val segIdx = Multimodal.audioSegmentHashBandIndex(
      standing.select(col("aud")), "aud", 520L, 4)(spark)
    val itr = CorpusPrep.prepTraceIncremental(standing, docs,
        Seq(2L, 3L).toDF("id"), cfg = cfg, audioSegIndex = Some(segIdx))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2))))).toMap
    assert(itr(2L)._1 == "kept" &&
      itr(2L)._2.exists(_.startsWith("undecodable_pcm")), s"$itr")
    assert(itr(3L)._1 == "kept" && itr(3L)._2.isEmpty, s"$itr")

    // the flag primitive itself: metadata-ok + pcm-closed semantics
    val flags = Multimodal.withPcmUndecodable(
        docs.select(col("doc_id"), col("aud")), "aud")(spark)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags == Map(1L -> false, 2L -> true, 3L -> false), s"$flags")
  }

  test("gifKeyframeSampling: the frame tier's sampling plan switches to sync samples — a re-cut collapses that uniform sampling keeps; incremental probes a keyframe index") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def grid(seed: String): Array[Int] = Array.tabulate(72) { i =>
      java.lang.Byte.toUnsignedInt(
        md.digest(s"$seed:${i / 9}:${i % 9}".getBytes("UTF-8"))(0))
    }
    val k = (0 until 4).map(i => grid(s"cpkf$i"))
    val vidA = Multimodal.syntheticMjpegMp4Keyframed(9, 8,
      (1 to 12).map {
        case 1 => k(0); case 4 => k(1); case 5 => k(2); case 10 => k(3)
        case n => grid(s"cpfillA$n")
      }, Seq(1, 4, 5, 10))
    val vidB = Multimodal.syntheticMjpegMp4Keyframed(9, 8,
      (1 to 9).map {
        case 2 => k(0); case 3 => k(1); case 7 => k(2); case 9 => k(3)
        case n => grid(s"cpfillB$n")
      }, Seq(2, 3, 7, 9))
    val vidC = Multimodal.syntheticMjpegMp4Keyframed(9, 8,
      (1 to 10).map(n => grid(s"cpother$n")), Seq(1, 3, 6, 8))
    val docs = Seq(
      (1L, "the first document talks about entirely maritime navigation topics", vidA),
      (2L, "a second text concerning volcanic geology and mineral formations", vidB),
      (3L, "third entry describing renaissance painting techniques in detail", vidC)
    ).toDF("doc_id", "text", "vid")
    val kfCfg = CorpusPrep.Config(gifCol = Some("vid"),
      gifDecoder = Multimodal.Mp4FrameDecoder, gifKeyframeSampling = true)
    val kept = CorpusPrep.run(docs, cfg = kfCfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"keyframe plan must collapse the re-cut: $kept")
    // same corpus, uniform plan: the re-cut samples different frames
    // and survives — the knob is the difference
    val keptUniform = CorpusPrep.run(docs, cfg = kfCfg.copy(
        gifKeyframeSampling = false))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptUniform == Set(1L, 2L, 3L), s"got $keptUniform")
    // trace names the tier and the survivor under the keyframe plan
    val tr = CorpusPrep.prepTrace(docs, Seq(2L).toDF("id"), cfg = kfCfg)
      .collect()(0)
    assert(tr.getString(1) == "gif" && tr.getString(2).contains("1"),
      s"trace: $tr")
    // incremental: standing = {A}; the batch re-cut hits the
    // KEYFRAME standing index and drops, the unrelated clip keeps
    val standing = Seq((0L, "standing corpus text about maritime things",
      vidA)).toDF("doc_id", "clean_text", "vid")
    val kfIdx = Multimodal.videoKeyframeHashBandIndex(
      standing.select(col("vid")), "vid")(spark)
    val incKept = CorpusPrep.runIncremental(standing,
        docs.filter(col("doc_id") > 1L), cfg = kfCfg,
        gifIndex = Some(kfIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incKept == Set(3L), s"got $incKept")
  }

  test("maxHotSpans gate drops only docs over the repeated-span budget") {
    val boilerA = "this content is provided without any warranty whatsoever"
    val boilerB = "all trademarks belong to their respective legal owners"
    val docs = Seq(
      (1L, s"$boilerA plus a perfectly original first discussion"),
      (2L, s"$boilerB and a different but also original argument"),
      (3L, s"$boilerA $boilerB"), // nothing but boilerplate
      (4L, "entirely unique prose with no shared span content here"))
      .toDF("doc_id", "text")
    // each 8-word boiler -> 6 hot 3-spans at df>=2; doc 3 carries ~12
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, maxHotSpans = Some(8), spanMinDf = 2))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("cutHotSpans excises boilerplate; a pure-boilerplate doc falls to the length gate") {
    val boilerA = "this content is provided without any warranty whatsoever"
    val boilerB = "all trademarks belong to their respective legal owners"
    val docs = Seq(
      (1L, s"$boilerA plus a perfectly original first discussion"),
      (2L, s"$boilerB and a different but also original argument"),
      (3L, s"$boilerA $boilerB"), // nothing but boilerplate
      (4L, "entirely unique prose with no shared span content here"))
      .toDF("doc_id", "text")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
        minChars = 20, cutHotSpans = true, spanMinDf = 2))
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // unlike maxHotSpans (which would DROP docs 1-3), the surgery
    // keeps the prose and only the all-boilerplate doc dies (gate)
    assert(out.keySet == Set(1L, 2L, 4L))
    assert(out(1L) == "plus a perfectly original first discussion", out(1L))
    assert(out(2L) == "and a different but also original argument", out(2L))
    assert(out(4L) == "entirely unique prose with no shared span content here")

    // incremental path refuses the flag loudly instead of silently
    // breaking its O(batch) contract
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.runIncremental(docs, docs,
        cfg = CorpusPrep.Config(cutHotSpans = true))
    }
    assert(e.getMessage.contains("cutHotSpans"))
  }

  test("keepPreference picks the near-dup survivor by source rank") {
    val docs = Seq(
      (1L, "crawl", "the same duplicated paragraph of text appears here verbatim"),
      (2L, "curated", "the same duplicated paragraph of text appears here verbatim!"),
      (3L, "crawl", "a completely different document that survives on its own"))
      .toDF("doc_id", "source", "text")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, minJaccard = 0.7,
      keepPreference = Some(array_position(lit(Array("curated", "crawl")), col("source")))))
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("redactPii config swaps the scrub for the full PII pass") {
    val docs = Seq(
      (1L, "Reach me at Bob.Smith@corp.example.org or 192.168.0.17 ref 4111111111111111 thanks"))
      .toDF("doc_id", "text")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 10, redactPii = true))
    val clean = out.select("clean_text").collect()(0).getString(0)
    assert(clean == "reach me at <EMAIL> or <IP> ref <ID> thanks", s"got: $clean")
  }

  test("sampleRate stage downsamples deterministically after dedup") {
    val docs = (1L to 400L).map { i =>
      (i, s"unique document number $i with enough length to pass the gates " +
        s"and token variety alpha$i beta$i gamma$i delta$i")
    }.toDF("doc_id", "text")
    val out = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, sampleRate = Some(lit(0.25))))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(math.abs(kept.size / 400.0 - 0.25) < 0.08, s"rate ${kept.size / 400.0}")
    // identical draw on a rerun (deterministic md5-uniform)
    val again = CorpusPrep.run(docs, cfg = CorpusPrep.Config(
      minChars = 20, sampleRate = Some(lit(0.25))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == again)
    // sampling happens last: no sampleRate keeps all 400
    assert(CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20)).count() == 400)
  }

  test("semantic stage collapses embedding near-dups text dedup cannot see; nprobe is the recall knob") {
    // paraphrases: text tiers see nothing in common, embeddings are
    // near-identical — and they straddle the c0/c1 Voronoi boundary
    // so IVF single-assignment puts them in DIFFERENT lists
    val docs = Seq(
      (1L, "the meeting was moved to thursday afternoon at three",
        Seq(5.01, 5.0, 0.0, 0.0)),
      (2L, "they rescheduled the gathering for three pm on thursday",
        Seq(5.0, 5.01, 0.0, 0.0)),
      (3L, "a completely unrelated report about quarterly revenue numbers",
        Seq(0.0, 0.0, 9.0, 0.0)))
      .toDF("doc_id", "text", "emb")
    val codebook: Seq[(Long, Seq[Double])] = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0)))

    def kept(cfg: CorpusPrep.Config): Set[Long] =
      CorpusPrep.run(docs, cfg = cfg).select("doc_id")
        .collect().map(_.getLong(0)).toSet

    // no semantic stage: all three survive (texts share no shingles)
    assert(kept(CorpusPrep.Config(minChars = 20)) == Set(1L, 2L, 3L))
    // sign-LSH semantic stage: 1/2 share the all-positive sign bucket
    assert(kept(CorpusPrep.Config(minChars = 20,
      embCol = Some("emb"), minCosine = 0.999, signBits = 4)) == Set(1L, 3L))
    // IVF semantic stage: single-assignment misses the boundary pair...
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 1)) == Set(1L, 2L, 3L))
    // ...and nprobe=2 recovers it
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 2)) == Set(1L, 3L))

    // PQ-compressed semantic tier: at slack margin (prefilter off) the
    // survivors EQUAL the raw IVF path at the same nprobe — pair state
    // carries codes, final scores stay exact
    val pq = Similarity.pqFromVectors(
      docs.select("emb").collect().map(_.getSeq[Double](0).toSeq).toSeq,
      numSubspaces = 2)
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 2,
      pqModel = Some(pq), sdcMargin = 2.0)) == Set(1L, 3L))
    // a practical margin keeps the boundary pair here too (the donor
    // codebooks quantize these vectors near-exactly)
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 2,
      pqModel = Some(pq), sdcMargin = 0.1)) == Set(1L, 3L))
    // pqModel without a codebook is a config error, not silent sign-LSH
    val err = intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        embCol = Some("emb"), pqModel = Some(pq))).collect()
    }
    assert(err.getMessage.contains("codebook"))

    // the PQ tier's observed cap metric must not collide with the raw
    // tier's when both preps publish metrics in one session
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 2,
      pqModel = Some(pq), sdcMargin = 2.0,
      metricPrefix = Some("pq_prep"))) == Set(1L, 3L))

    // an OPQ-rotated model rides the same facade route (rotation
    // preserves the SDC scores, q96 pins the arithmetic): survivors
    // still equal the raw path at slack margin
    val dims = docs.select("emb").head().getSeq[Double](0).length
    val reversal = (0 until dims).map(i =>
      Seq.tabulate(dims)(j => if (j == dims - 1 - i) 1.0 else 0.0))
    val pqRot = Similarity.pqFromVectors(
        docs.select("emb").collect().map(_.getSeq[Double](0).toSeq.reverse).toSeq,
        numSubspaces = 2)
      .copy(rotation = Some(reversal))
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 2,
      pqModel = Some(pqRot), sdcMargin = 2.0)) == Set(1L, 3L))

    // SQ8 codec rides the same route: near-exact dequant prefilter
    // keeps the boundary pair even at a TIGHT margin
    val sqm = Similarity.sqTrain(docs, "emb")
    assert(kept(CorpusPrep.Config(minChars = 20, embCol = Some("emb"),
      minCosine = 0.999, codebook = Some(codebook), nprobe = 2,
      sqModel = Some(sqm), sdcMargin = 0.02)) == Set(1L, 3L))
    // the codecs are alternatives, not a stack
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        embCol = Some("emb"), codebook = Some(codebook),
        pqModel = Some(pq), sqModel = Some(sqm))).collect()
    }.getMessage.contains("alternative"))
    // sqModel without a codebook is the same config error as pqModel's
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.run(docs, cfg = CorpusPrep.Config(minChars = 20,
        embCol = Some("emb"), sqModel = Some(sqm))).collect()
    }.getMessage.contains("codebook"))
  }

  test("semanticIncremental probes a standing IVF-PQ index; codes-only index + embStore equals the in-frame path") {
    // standing corpus: two docs in different inverted lists
    val standing = Seq(
      (1L, Seq(5.01, 5.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 9.0, 0.0)))
      .toDF("doc_id", "emb")
    val codebook: Seq[(Long, Seq[Double])] = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 10.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 10.0, 0.0)), (3L, Seq(0.0, 0.0, 0.0, 10.0)))
    val pq = Similarity.pqFromVectors(
      standing.select("emb").collect().map(_.getSeq[Double](0).toSeq).toSeq,
      numSubspaces = 2)
    val indexed = Similarity.pqAssign(
      Similarity.ivfAssign(standing, codebook, "emb"), "emb", pq)
    // batch: 10 paraphrases standing doc 1 across the c0/c1 Voronoi
    // boundary (same fixture geometry as the run() semantic test); 11
    // is novel
    val batch = Seq(
      (10L, Seq(5.0, 5.01, 0.0, 0.0)),
      (11L, Seq(0.0, 0.0, 0.0, 7.0)))
      .toDF("doc_id", "emb")
    def kept(index: org.apache.spark.sql.DataFrame,
        store: Option[org.apache.spark.sql.DataFrame], nprobe: Int): Set[Long] =
      CorpusPrep.semanticIncremental(batch, index,
          cfg = CorpusPrep.Config(embCol = Some("emb"), minCosine = 0.999,
            codebook = Some(codebook), pqModel = Some(pq), nprobe = nprobe),
          embStore = store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // in-frame path: the index carries the floats
    assert(kept(indexed, None, 2) == Set(11L))
    // nprobe=1 misses the boundary match — the usual IVF recall knob
    assert(kept(indexed, None, 1) == Set(10L, 11L))
    // codes-only path: the index frame holds (id, cid, code) ONLY —
    // floats live in one external store — and survivors are identical
    val codesOnly = indexed.select("doc_id", "cid", "pq_code")
    assert(!codesOnly.columns.contains("emb"))
    assert(kept(codesOnly, Some(standing), 2) == Set(11L))
    assert(kept(codesOnly, Some(standing), 1) == Set(10L, 11L))
    // config errors are loud: no embCol, and no codec/codebook
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.semanticIncremental(batch, codesOnly)
    }.getMessage.contains("embCol"))
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.semanticIncremental(batch, codesOnly,
        cfg = CorpusPrep.Config(embCol = Some("emb"), codebook = Some(codebook)))
    }.getMessage.contains("pqModel"))

    // SQ8 codec: the standing index carries sq codes instead and the
    // same in-frame / codes-only routes return identical survivors
    val sqm = Similarity.sqTrain(standing, "emb")
    val sqIndexed = Similarity.sqAssign(
      Similarity.ivfAssign(standing, codebook, "emb"), "emb", sqm)
    def keptSq(index: org.apache.spark.sql.DataFrame,
        store: Option[org.apache.spark.sql.DataFrame], nprobe: Int): Set[Long] =
      CorpusPrep.semanticIncremental(batch, index,
          cfg = CorpusPrep.Config(embCol = Some("emb"), minCosine = 0.999,
            codebook = Some(codebook), sqModel = Some(sqm), nprobe = nprobe),
          embStore = store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSq(sqIndexed, None, 2) == Set(11L))
    assert(keptSq(sqIndexed, None, 1) == Set(10L, 11L))
    val sqCodesOnly = sqIndexed.select("doc_id", "cid", "sq_code")
    assert(keptSq(sqCodesOnly, Some(standing), 2) == Set(11L))
    // both codecs at once is a loud config error here too
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.semanticIncremental(batch, sqCodesOnly,
        cfg = CorpusPrep.Config(embCol = Some("emb"), codebook = Some(codebook),
          pqModel = Some(pq), sqModel = Some(sqm)))
    }.getMessage.contains("exactly ONE codec"))

    // BQ codec: the standing index carries D-BIT packed codes, no
    // codebook, candidates from the band-keyed equi-join; same
    // exact-cosine verify, so survivors match the IVF routes on this
    // fixture (batch 10 is a paraphrase of standing 1 with identical
    // signs -> band collision guaranteed; 11 is novel)
    val bqm = Similarity.bqTrain(standing, "emb")
    val bqIndexed = Similarity.bqAssign(standing, "emb", bqm)
    def keptBq(index: org.apache.spark.sql.DataFrame,
        store: Option[org.apache.spark.sql.DataFrame]): Set[Long] =
      CorpusPrep.semanticIncremental(batch, index,
          cfg = CorpusPrep.Config(embCol = Some("emb"), minCosine = 0.999,
            bqModel = Some(bqm)),
          embStore = store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBq(bqIndexed, None) == Set(11L))
    val bqCodesOnly = bqIndexed.select("doc_id", "bq_code")
    assert(keptBq(bqCodesOnly, Some(standing)) == Set(11L))
    // BQ is the lookup codec only — the batch semantic tier refuses it
    assert(intercept[IllegalArgumentException] {
      CorpusPrep.run(
        Seq((1L, "some long enough text to pass the gates easily today", Seq(1.0, 2.0)))
          .toDF("doc_id", "text", "emb"),
        cfg = CorpusPrep.Config(minChars = 10, embCol = Some("emb"),
          bqModel = Some(bqm)))
    }.getMessage.contains("nearDupPairsBq"))
  }

  test("runIncremental: batch prepped like run, deduped against the standing corpus") {
    val oldDocs = Seq(
      (1L, "The Quick Brown Fox Jumps Over The Lazy Dog Again Today"),
      (2L, "completely different content that survives every stage fine")
    ).toDF("doc_id", "text")
    val standing = CorpusPrep.run(oldDocs, cfg = CorpusPrep.Config(minChars = 20))
    assert(standing.count() == 2)

    val batch = Seq(
      // exact dup of standing 1 after normalization -> drop
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      // near dup of standing 1 -> drop
      (11L, "the quick brown fox jumps over the lazy dog again tonight"),
      // fails the length gate -> drop before any dedup
      (12L, "too short"),
      // genuinely new -> survives
      (13L, "a brand new document about watermarks state and eviction paths")
    ).toDF("doc_id", "text")

    val kept = CorpusPrep.runIncremental(standing, batch,
        cfg = CorpusPrep.Config(minChars = 20, minJaccard = 0.5,
          numHashes = 8, rowsPerBand = 2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(13L))

    // with the standing corpus's stored index: identical result
    val path = java.nio.file.Files.createTempDirectory("graft-prep-ix").toString + "/ix"
    Dedup.dedupIndex(standing, "clean_text", "doc_id",
      shingleN = 3, numHashes = 8, rowsPerBand = 2).write.parquet(path)
    val viaIx = CorpusPrep.runIncremental(standing, batch,
        cfg = CorpusPrep.Config(minChars = 20, minJaccard = 0.5,
          numHashes = 8, rowsPerBand = 2),
        oldIndex = Some(spark.read.parquet(path)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIx == kept)
  }

  test("the three traces stay within their job budgets") {
    // the fixtures of the three trace tests above (the stream one with
    // its image index in memory). Each budget sits below the job count
    // of the traces that found first drops with one exceptAll per
    // stage boundary (46 / 59 / 96); one first-drop aggregate runs
    // 38 / 41 / 87
    val docs = Seq(
      (1L, "The  Quick Brown Fox Jumps Over The Lazy Dog Again Today"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "the quick brown fox jumps over the lazy dog again tonight"),
      (4L, "completely different content that survives every stage fine"),
      (5L, "too short"),
      (6L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (7L, "held out benchmark passage that must never reach training data")
    ).toDF("doc_id", "text")
    val bench = Seq((100L,
      "held out benchmark passage that must never reach training data"))
      .toDF("doc_id", "text")
    val cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.5,
      minJaccard = 0.5, benchmark = Some(bench), minContainment = 0.5,
      sampleRate = Some(lit(0.6)))
    val (batchRows, batchJobs) = countJobs(CorpusPrep.prepTrace(docs,
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 99L).toDF("id"), cfg = cfg).collect())
    assert(batchRows.length == 8)

    val standingRaw = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again today"),
      (102L, "completely different standing content that stays resident here"))
      .toDF("doc_id", "text")
    val standing = CorpusPrep.run(standingRaw,
      cfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9))
      .localCheckpoint(true)
    val img = Multimodal.syntheticGrayBmp(9, 8,
      Array.tabulate(8 * 9)(i => (i * 3) % 256))
    val imageIndex = Dedup.hashBandIndex(
      Multimodal.withPerceptualHash(
        Seq((101L, img)).toDF("doc_id", "img"), "img", "ph")(spark), "ph")
      .localCheckpoint(true)
    val nullImg = null.asInstanceOf[Array[Byte]]
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today", nullImg),
      (2L, "the quick brown fox jumps over the lazy dog again tonight", nullImg),
      (3L, "too short", nullImg),
      (4L, "entirely novel intake document with original prose inside", nullImg),
      (6L, "novel words here but the picture matches standing content", img)
    ).toDF("doc_id", "text", "img")
    val sCfg = CorpusPrep.Config(minChars = 20, maxRepetition = 0.9,
      minJaccard = 0.5, imageCol = Some("img"), sampleRate = Some(lit(0.6)))
    val ids = Seq(1L, 2L, 3L, 4L, 6L, 99L).toDF("id")
    val (streamRows, streamJobs) = countJobs(CorpusPrep.prepTraceStream(batch,
      ids, "text", cfg = sCfg, standing = Some(standing),
      imageIndex = Some(imageIndex)).collect())
    assert(streamRows.length == 6)
    val (incRows, incJobs) = countJobs(CorpusPrep.prepTraceIncremental(
      standing, batch, ids, cfg = sCfg, imageIndex = Some(imageIndex)).collect())
    assert(incRows.length == 6)

    info(s"jobs: prepTrace $batchJobs, prepTraceStream $streamJobs, " +
      s"prepTraceIncremental $incJobs")
    assert(batchJobs <= 42, s"prepTrace ran $batchJobs jobs")
    assert(streamJobs <= 50, s"prepTraceStream ran $streamJobs jobs")
    assert(incJobs <= 91, s"prepTraceIncremental ran $incJobs jobs")
  }
}

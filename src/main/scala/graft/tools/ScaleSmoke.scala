package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Mixing, Similarity}

/** Scale smoke: replicate the sf0.1 documents corpus N times (half the
  * replicas byte-identical — a worst-realistic duplication profile —
  * half perturbed) and run the dedup layer's heavy shapes end to end.
  * Prints one timing line per operator. This is evidence, not a gate:
  * the shapes (map-side signatures, capped bucket expansion, no
  * self-joins) must scale linearly in rows here, or they won't scale
  * on a cluster either.
  * Usage: runMain graft.tools.ScaleSmoke [multiplier] */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.build("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val docs = (0 until mult).map { i =>
      base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        // even replicas identical (pure dup pressure), odd perturbed
        (if (i % 2 == 0) col("text")
         else concat(col("text"), lit(s" replica$i"))).as("text"))
    }.reduce(_ unionByName _).cache()
    val n = docs.count()
    println(s"[smoke] corpus: $n docs (${mult}x sf0.1)")

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[smoke] $name: $rows rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    timed("exact_dedup")(
      Dedup.exactGroups(docs, "text", "doc_id").count())
    timed("minhash_lsh_candidates")(
      Dedup.minhashNearDupCandidates(docs, "text", "doc_id").count())
    timed("jaccard_neardup(0.5)")(
      Dedup.jaccardNearDupPairs(docs, "text", "doc_id", minJaccard = 0.5).count())
    timed("jaccard_via_lsh(0.5)")(
      Dedup.minhashJaccardPairs(docs, "text", "doc_id", minJaccard = 0.5).count())
    timed("simhash_signatures")(
      docs.select(Dedup.simhash64Text(col("text")).as("sh"))
        .agg(count(col("sh"))).collect()(0).getLong(0))
    timed("dup_clusters")(
      Dedup.duplicateClusters(
        Dedup.minhashNearDupCandidates(docs, "text", "doc_id")).count())

    // the 13 repetition-quality signals: row-local compiled kernel,
    // zero shuffle — throughput must track the scan
    timed("repetition_stats(13 signals)")(
      docs.select(graft.functions.TextExpressions
          .repetition_stats(col("text")).as("r"))
        .filter(col("r.dup_line_frac") >= 0).count())
    timed("repeated_spans(df>=8)")(
      Dedup.repeatedSpans(docs, "text", "doc_id", minDf = 8).count())
    timed("span_removal(df>=8)")(
      Dedup.removeRepeatedSpans(docs, "text", "doc_id", n = 3, minDf = 8)
        .agg(sum("n_removed")).collect()(0).getLong(0))
    timed("bigram_logprob")(
      graft.operators.TextStats.bigramLogProb(docs, "text", "doc_id").count())
    // heavy hitters over the exploded token stream: vocabulary-sized
    // groups, sketch-bounded state — the shape the aggregate exists for
    timed("heavy_hitters(tokens per source-shard, cap=64)")(
      docs.select((col("doc_id") % 64).as("shard"),
          explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("shard")
        .agg(graft.functions.HeavyHittersAgg.heavyHitters(col("tok"), 64).as("hh"))
        .select(explode(col("hh.items"))).count())
    timed("temperature_mix(alpha=0.7)")(
      graft.operators.Mixing.temperatureMix(
        docs.withColumn("source", col("doc_id") % 10), "source", "doc_id",
        alpha = 0.7, budget = n).count())
    timed("seq_pack(512tok,64shards)")(
      graft.operators.Packing.packGreedy(
          docs.select(col("doc_id"), (col("doc_id") % 64).as("shard"),
            size(Dedup.tokens(col("text"))).cast("bigint").as("nt")),
          col("nt"), Seq(col("shard")), col("doc_id"), 512)
        .groupBy("shard", "bin").count().count())
    timed("weighted_mix(w=1.5)")(
      graft.operators.Mixing.weightedMix(docs, "doc_id", lit(1.5)).count())
    // incremental dedup: a 5%-of-corpus batch against the rest — the
    // recurring cost must follow the batch, not the standing corpus
    // BPE: the corpus pass is one word count; every merge round then
    // works the Zipf-bounded vocab table, not the corpus
    timed("bpe_learn(16 merges)")(
      graft.operators.Bpe.learn(docs, "text", numMerges = 16).merges.count())
    timed("incremental_dedup(5% batch)") {
      val batch = docs.filter(col("doc_id") % 20 === 3)
      val standing = docs.filter(col("doc_id") % 20 =!= 3)
      Dedup.dropIncrementalDuplicates(standing, batch, "text", "doc_id").count()
    }
    // decontamination: bench = 2000 docs; the broadcast tier ships
    // their exploded shingles, the Bloom tier prefilters the corpus
    // explode map-side and lets the exact join verify survivors only
    val bench = base.filter(col("doc_id") % 50 === 11).limit(2000).cache()
    bench.count()
    timed("decontam(broadcast)")(
      Dedup.benchmarkContainment(docs, "text", "doc_id", bench, "text",
        "doc_id", n = 3, minContainment = 0.5).count())
    timed("decontam(bloom fpp=0.01)")(
      Dedup.benchmarkContainment(docs, "text", "doc_id", bench, "text",
        "doc_id", n = 3, minContainment = 0.5,
        benchBloomFpp = Some(0.01)).count())
    // the row-local tier: one map-side pass, the only stream-legal one
    timed("decontam(ngram bloom gate, n=3)") {
      val bytes = Dedup.buildShingleBloom(bench, "text", n = 3, fpp = 1e-4)
      Dedup.bloomNgramGate(docs, "text", bytes, n = 3).count()
    }
    // pair-search recall harness: LSH candidates vs exact pairs —
    // one orientation-normalized equi-join over both pair sets
    timed("pair_metrics(lsh vs exact@0.5)") {
      Similarity.pairMetrics(
        Dedup.minhashNearDupCandidates(docs, "text", "doc_id"),
        Dedup.jaccardNearDupPairs(docs, "text", "doc_id", minJaccard = 0.5))
        .collect()(0).getLong(2)
    }
    // token-denominated sampling: every source capped at 100k tokens;
    // under-budget strata skip the window sort entirely
    timed("token_budget_take(100k tok/source)") {
      Mixing.tokenBudgetTake(
        docs.withColumn("source", col("doc_id") % 10)
          .withColumn("nt", size(Dedup.tokens(col("text"))).cast("bigint")),
        Seq("source"), "doc_id", "nt", budget = 100000L).count()
    }
    // big-stratum fast path: same budgets, but over-budget strata
    // sort only the ~slack*budget prefiltered mass
    timed("token_budget_prefiltered(100k tok/source)") {
      Mixing.tokenBudgetTakePrefiltered(
        docs.withColumn("source", col("doc_id") % 10)
          .withColumn("nt", size(Dedup.tokens(col("text"))).cast("bigint")),
        Seq("source"), "doc_id", "nt", budget = 100000L).count()
    }
    // image near-dup facade: synthetic 9x8 BMPs (decode cost real,
    // payload tiny) through dHash + Hamming banding. ONE image
    // recipe shared by the pair search and the standing-filter cases
    // below — the all-dup premise of the standing filter depends on
    // both sides producing identical payloads.
    val mkImg = udf { (docId: Long) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val base = docId % 997
      val grays = Array.tabulate(72) { i =>
        java.lang.Byte.toUnsignedInt(
          md.digest(s"$base:${i / 9}:${i % 9}".getBytes("UTF-8"))(0))
      }
      graft.operators.Multimodal.syntheticGrayBmp(9, 8, grays)
    }
    timed("image_neardup(synthetic bmps)") {
      implicit val sp: org.apache.spark.sql.SparkSession = spark
      graft.operators.Multimodal.imageNearDupPairs(
        docs.select(col("doc_id"), mkImg(col("doc_id")).as("img")),
        "img", "doc_id").count()
    }
    // standing-probe shape for images: the index build pays the
    // standing decode ONCE; the per-batch filter (four band-slot
    // equi-joins + a row-local Hamming exists) decodes only the batch
    locally {
      implicit val sp: org.apache.spark.sql.SparkSession = spark
      var imgIdx: org.apache.spark.sql.DataFrame = null
      timed("image_hash_index_build(95%)") {
        imgIdx = graft.operators.Dedup.hashBandIndex(
          graft.operators.Multimodal.withPerceptualHash(
            docs.filter(col("doc_id") % 20 =!= 3)
              .select(col("doc_id"), mkImg(col("doc_id")).as("img")),
            "img", "ph"), "ph").cache()
        imgIdx.count()
      }
      timed("image_hash_standing_filter(5% batch)") {
        graft.operators.Dedup.hashNearDupFilterAgainst(
          graft.operators.Multimodal.withPerceptualHash(
            docs.filter(col("doc_id") % 20 === 3)
              .select(col("doc_id"), mkImg(col("doc_id")).as("img")),
            "img", "ph"), "ph", imgIdx).count()
      }
      imgIdx.unpersist()
      ()
    }
    // corpus drift: JS decomposition between the two halves — one
    // count per side + one vocabulary-sized full-outer join
    timed("token_divergence(halves, top100)")(
      graft.operators.TextStats.tokenDivergence(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text").count())
    // BM25 retrieval: 16 query docs against the full corpus — the
    // probe-sized query terms broadcast into one postings scan
    timed("bm25_topk(16 queries)") {
      graft.operators.TextStats.bm25TopK(docs, "text", "doc_id",
        base.limit(16).select(col("doc_id").as("qid"), col("text")),
        "text", "qid", k = 10).count()
    }
    // persisted BM25 index: the build is the expensive pass (paid
    // once); a probe from the artifact is a filtered postings scan
    val bm25Dir = java.nio.file.Files.createTempDirectory("smoke_bm25_")
      .toFile.getAbsolutePath
    timed("bm25_index_build") {
      graft.operators.TextStats.writeBm25Index(docs, "text", "doc_id", bm25Dir)
      graft.operators.TextStats.readBm25Index(spark, bm25Dir).postings.count()
    }
    timed("bm25_index_probe(16 queries)") {
      graft.operators.TextStats.bm25TopKFromIndex(
        graft.operators.TextStats.readBm25Index(spark, bm25Dir),
        base.limit(16).select(col("doc_id").as("qid"), col("text")),
        "text", "qid", k = 10).count()
    }
    // append + compact: the between-rebuilds lifecycle — append cost
    // follows the batch, compaction is one postings read+write
    timed("bm25_index_append(5% batch)") {
      graft.operators.TextStats.appendBm25Index(spark, bm25Dir,
        docs.filter(col("doc_id") % 20 === 3)
          .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("text")),
        "text", "doc_id")
      graft.operators.TextStats.readBm25Index(spark, bm25Dir).dfT.count()
    }
    timed("bm25_index_compact") {
      graft.operators.TextStats.compactBm25Index(spark, bm25Dir)
      // readBm25Index resolves the post-compaction versioned dir
      graft.operators.TextStats.readBm25Index(spark, bm25Dir).postings.count()
    }
    // delete: the takedown leg — tombstone write + vocabulary-sized
    // df repair, never a corpus re-tokenize; the follow-up probe pays
    // one extra broadcast anti-join over probe-sized rows
    timed("bm25_index_delete(1% ids)") {
      graft.operators.TextStats.deleteFromBm25Index(spark, bm25Dir,
        docs.filter(col("doc_id") % 100 === 7).select("doc_id"), "doc_id")
      graft.operators.TextStats.readBm25Index(spark, bm25Dir).dfT.count()
    }
    timed("bm25_index_probe_post_delete(16 queries)") {
      graft.operators.TextStats.bm25TopKFromIndex(
        graft.operators.TextStats.readBm25Index(spark, bm25Dir),
        base.limit(16).select(col("doc_id").as("qid"), col("text")),
        "text", "qid", k = 10).count()
    }
    timed("bm25_index_compact_post_delete") {
      graft.operators.TextStats.compactBm25Index(spark, bm25Dir)
      graft.operators.TextStats.readBm25Index(spark, bm25Dir).postings.count()
    }

    // ---- hash-band signature index lifecycle (the third family) ----
    // standing signatures are simhash64 over the replicated corpus —
    // the same artifact the image/audio/simhash intake filters probe;
    // the lifecycle legs mirror the BM25 block above
    val hbiDir = java.nio.file.Files.createTempDirectory("smoke_hbi_")
      .toFile.getAbsolutePath
    val signed = docs.select(col("doc_id"),
      Dedup.simhash64Text(col("text")).as("sig")).cache()
    val hbiBatch = signed.filter(col("doc_id") % 20 === 11)
      .select((col("doc_id") + lit(800000000L)).as("doc_id"), col("sig"))
    timed("hash_index_write") {
      Dedup.writeHashBandIndex(signed, "sig", "doc_id", hbiDir)
      Dedup.readHashBandIndex(spark, hbiDir).count()
    }
    timed("hash_index_filter(5% batch)") {
      Dedup.hashNearDupFilterAgainst(hbiBatch, "sig",
        Dedup.readHashBandIndex(spark, hbiDir)).count()
    }
    timed("hash_index_delete(1% ids)") {
      Dedup.deleteFromHashBandIndex(spark, hbiDir,
        signed.filter(col("doc_id") % 100 === 7).select("doc_id"), "doc_id")
      Dedup.readHashBandIndex(spark, hbiDir).count()
    }
    timed("hash_index_filter_post_delete(5% batch)") {
      Dedup.hashNearDupFilterAgainst(hbiBatch, "sig",
        Dedup.readHashBandIndex(spark, hbiDir)).count()
    }
    timed("hash_index_compact_post_delete") {
      Dedup.compactHashBandIndex(spark, hbiDir)
      Dedup.readHashBandIndex(spark, hbiDir).count()
    }
    // growth: reconstruct the surviving signature frame from the
    // artifact's own (id, hash) rows, union a 5% batch, re-run the
    // capped write — no external signature frame, corpus never
    // re-hashed; cost is one signature-sized read + one capped write
    timed("hash_index_rebuild_grow(5% batch)") {
      Dedup.rebuildHashBandIndex(spark, hbiDir, hbiBatch, "sig", "doc_id")
      Dedup.readHashBandIndex(spark, hbiDir).count()
    }
    timed("hash_index_stats+policy") {
      val st = Dedup.hashBandIndexStats(spark, hbiDir)
      graft.operators.IndexMaintenance.logHealth(
        graft.operators.IndexMaintenance.healthOf(st))
      st.rows
    }
    signed.unpersist()

    // ---- positional GIF index lifecycle (the fourth family) --------
    // 50k synthetic 3-frame animations (9x8 gray, the q141/q143
    // device): the decode-once story measured — the write pays the
    // full corpus decode ONCE; every later probe / delete / growth
    // touches only the persisted longs (growth decodes only its own
    // batch)
    val gifIdxDir = java.nio.file.Files.createTempDirectory("smoke_gifidx_")
      .toFile.getAbsolutePath
    val mkGif = udf { (docId: Long) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val base = docId % 5000
      val frames = (0 until 3).map { f =>
        Array.tabulate(72)(i => java.lang.Byte.toUnsignedInt(
          md.digest(s"$base:$f:$i".getBytes("UTF-8"))(0)))
      }
      graft.operators.Multimodal.syntheticGrayGif(9, 8, frames)
    }
    val gifCorpus = docs.select(col("doc_id")).limit(50000)
      .select(col("doc_id"), mkGif(col("doc_id")).as("gif"))
      .localCheckpoint(true) // pin the encode: each leg must not re-pay it
    val gifBatch = gifCorpus.filter(col("doc_id") % 20 === 11)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("gif"))
    timed("gif_index_write(50k anims, corpus decode)") {
      graft.operators.Multimodal.writeGifHashBandIndex(
        gifCorpus, "gif", "doc_id", gifIdxDir)(spark)
      graft.operators.Multimodal.readGifHashBandIndex(spark, gifIdxDir).count()
    }
    timed("gif_index_filter(5% batch)") {
      graft.operators.Multimodal.gifNearDupFilterAgainst(gifBatch, "gif",
        "doc_id",
        graft.operators.Multimodal.readGifHashBandIndex(spark, gifIdxDir))(
        spark).count()
    }
    timed("gif_index_delete(1% ids)") {
      Dedup.deleteFromHashBandIndex(spark, gifIdxDir,
        gifCorpus.filter(col("doc_id") % 100 === 7).select("doc_id"),
        "doc_id")
      graft.operators.Multimodal.readGifHashBandIndex(spark, gifIdxDir).count()
    }
    timed("gif_index_rebuild_grow(5% batch decode only)") {
      graft.operators.Multimodal.rebuildGifHashBandIndex(spark, gifIdxDir,
        gifBatch, "gif", "doc_id")
      graft.operators.Multimodal.readGifHashBandIndex(spark, gifIdxDir).count()
    }
    timed("gif_index_stats+policy") {
      val st = Dedup.hashBandIndexStats(spark, gifIdxDir)
      graft.operators.IndexMaintenance.logHealth(
        graft.operators.IndexMaintenance.healthOf(st))
      st.rows
    }

    // ---- segmented-audio positional index lifecycle (the audio twin
    // of the gif block): 50k four-segment clips (md5-derived window
    // amplitudes — the q150 device), decode paid ONCE at write;
    // probe/delete/growth touch only the persisted longs ------------
    val audIdxDir = java.nio.file.Files.createTempDirectory("smoke_audidx_")
      .toFile.getAbsolutePath
    val mkClip = udf { (docId: Long) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val base = docId % 5000
      val samples = new Array[Short](4 * 520)
      var seg = 0
      while (seg < 4) {
        var w = 0
        while (w < 65) {
          val a = java.lang.Byte.toUnsignedInt(
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
    val audCorpus = docs.select(col("doc_id")).limit(50000)
      .select(col("doc_id"), mkClip(col("doc_id")).as("aud"))
      .localCheckpoint(true) // pin the encode: each leg must not re-pay it
    val audBatch = audCorpus.filter(col("doc_id") % 20 === 11)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("aud"))
    timed("audioseg_index_write(50k clips, corpus decode)") {
      graft.operators.Multimodal.writeAudioSegmentHashBandIndex(
        audCorpus, "aud", "doc_id", audIdxDir, 520L, 4)(spark)
      graft.operators.Multimodal.readAudioSegmentHashBandIndex(
        spark, audIdxDir, 520L).count()
    }
    timed("audioseg_index_filter(5% batch, maxShift=1)") {
      graft.operators.Multimodal.audioNearDupFilterAgainst(audBatch, "aud",
        "doc_id",
        graft.operators.Multimodal.readAudioSegmentHashBandIndex(
          spark, audIdxDir, 520L),
        520L, 4, maxShift = 1)(spark).count()
    }
    timed("audioseg_index_delete(1% ids)") {
      Dedup.deleteFromHashBandIndex(spark, audIdxDir,
        audCorpus.filter(col("doc_id") % 100 === 7).select("doc_id"),
        "doc_id")
      graft.operators.Multimodal.readAudioSegmentHashBandIndex(
        spark, audIdxDir, 520L).count()
    }
    timed("audioseg_index_rebuild_grow(5% batch decode only)") {
      graft.operators.Multimodal.rebuildAudioSegmentHashBandIndex(
        spark, audIdxDir, audBatch, "aud", "doc_id", 520L, 4)
      graft.operators.Multimodal.readAudioSegmentHashBandIndex(
        spark, audIdxDir, 520L).count()
    }
    timed("audioseg_index_stats+policy") {
      val st = Dedup.hashBandIndexStats(spark, audIdxDir)
      graft.operators.IndexMaintenance.logHealth(
        graft.operators.IndexMaintenance.healthOf(st))
      st.rows
    }

    // ---- ANN layer on a replicated embedding corpus -----------------
    val baseEmb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val emb = (0 until mult * 5).map { i =>
      baseEmb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _).cache()
    val nv = emb.count()
    println(s"[smoke] embeddings: $nv vectors")
    val query = baseEmb.filter(col("vec_id") === 0)
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect()(0).getSeq[Double](0)
    timed("ann_brute_topk")(
      Similarity.bruteForceTopK(emb, "embedding", "vec_id", query, 10).count())
    timed("ann_bucketed_topk(8bit)")(
      Similarity.bucketedTopK(emb, "embedding", "vec_id", query, 10, bits = 8).count())
    // IVF: index once (map-side codebook assignment), probe many
    val embD = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val codebook = embD.filter(col("vec_id").between(1, 64))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    var assigned: org.apache.spark.sql.DataFrame = null
    timed("ann_ivf_index(64c)") {
      assigned = Similarity.ivfAssign(embD, codebook, "e").cache()
      assigned.count()
    }
    timed("ann_ivf_probe") {
      Similarity.ivfProbe(assigned, "e", "vec_id", queryVecId = 0, k = 10).count()
    }
    // multi-probe: 4 nearest inverted lists — ~4x the single-probe scan,
    // recovering neighbors across Voronoi boundaries
    timed("ann_ivf_probe(nprobe=4)") {
      Similarity.ivfProbe(assigned, "e", "vec_id", queryVecId = 0, k = 10,
        nprobe = 4, codebook = codebook).count()
    }
    // batch probe with a large probe side (1% of the corpus probing
    // the index): broadcastProbes=false partitions BOTH sides on the
    // list id — no executor ever holds the whole probe set, the shape
    // that survives a day's-crawl-sized batch where the broadcast
    // path would OOM
    timed("ann_ivf_probe_all(shuffle, 1% batch)") {
      Similarity.ivfProbeAll(assigned, "e", "vec_id",
        assigned.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", codebook, k = 3, nprobe = 2,
        excludeSelf = true, broadcastProbes = Some(false)).count()
    }
    // MMR diversity pass over the batch-probe shortlists: per-query
    // greedy inside one query-partitioned walk
    timed("ann_mmr_rerank(1% batch, k=3 of 10)") {
      val short = Similarity.ivfProbeAll(assigned, "e", "vec_id",
        assigned.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", codebook, k = 10, nprobe = 2,
        excludeSelf = true, broadcastProbes = Some(false))
      Similarity.mmrRerank(short, "qid", "vec_id", "cos",
        embD, "vec_id", "e", k = 3).count()
    }
    // trained codebook (k-means|| init + Lloyd) instead of sampled vectors
    timed("ann_ivf_train(16c,2it)") {
      Similarity.trainCodebook(emb.limit(20000), "embedding", k = 16, iters = 2).size.toLong
    }
    // IVF-PQ: codes quantize the NORMALIZED vectors — M smallints per
    // row instead of D floats — so the probed list scan reads the code
    // column through the compiled ADC kernel and only the rerank
    // shortlist touches raw embeddings
    var pqModel: Similarity.PqModel = null
    timed("ann_pq_train(m=8,k=16,2it)") {
      pqModel = Similarity.pqTrain(embD, "e", numSubspaces = 8, ksub = 16,
        iters = 2, maxTrainRows = 20000)
      pqModel.numSubspaces.toLong
    }
    var pqAssigned: org.apache.spark.sql.DataFrame = null
    timed("ann_pq_assign") {
      pqAssigned = Similarity.pqAssign(assigned, "e", pqModel).cache()
      pqAssigned.count()
    }
    timed("ann_ivf_pq_probe(nprobe=4,rerank=64)") {
      Similarity.ivfPqProbe(pqAssigned, "e", "vec_id", query, 10, codebook,
        pqModel, nprobe = 4, rerank = 64).count()
    }
    // codes-only index: the list scan reads (id, cid, code) — no float
    // column anywhere in the index — and the rerank shortlist joins
    // the primary store by id
    timed("ann_ivf_pq_probe(codes-only,rerankFrom)") {
      Similarity.ivfPqProbe(pqAssigned.select("vec_id", "cid", "pq_code"),
        "e", "vec_id", query, 10, codebook, pqModel, nprobe = 4, rerank = 64,
        rerankFrom = Some(embD)).count()
    }
    // residual encoding: same train/assign/probe shapes plus one
    // KB-sized broadcast centroid join at assign time
    var resModel: Similarity.PqModel = null
    timed("ann_pq_train_residual(m=8,k=16,2it)") {
      resModel = Similarity.pqTrainResidual(embD, "e", codebook,
        numSubspaces = 8, ksub = 16, iters = 2, maxTrainRows = 20000)
      resModel.numSubspaces.toLong
    }
    timed("ann_pq_assign_residual+probe") {
      val aRes = Similarity.pqAssignResidual(assigned, "e", codebook, resModel)
      Similarity.ivfPqProbe(aRes, "e", "vec_id", query, 10, codebook,
        resModel, nprobe = 4, rerank = 64).count()
    }
    // OPQ: driver-side PCA over the bounded sample + rotated coding;
    // probes rotate the query, so plan shape matches the direct path
    var opqModel: Similarity.PqModel = null
    timed("ann_pq_train_opq(m=8,k=16,2it)") {
      opqModel = Similarity.pqTrainOpq(embD, "e",
        numSubspaces = 8, ksub = 16, iters = 2, maxTrainRows = 20000)
      opqModel.numSubspaces.toLong
    }
    timed("ann_pq_assign_opq+probe") {
      val aOpq = Similarity.pqAssign(assigned, "e", opqModel)
      Similarity.ivfPqProbe(aOpq, "e", "vec_id", query, 10, codebook,
        opqModel, nprobe = 4, rerank = 64).count()
    }
    // alternating refinement: each extra iter = one sample scan for
    // the Procrustes moments + one per-subspace k-means round
    timed("ann_pq_train_opq_np(m=8,k=16,2it,opqIters=2)") {
      Similarity.pqTrainOpq(embD, "e", numSubspaces = 8, ksub = 16,
        iters = 2, maxTrainRows = 20000, opqIters = 2).numSubspaces.toLong
    }
    // the composed production stack: rotate the residual cloud, then
    // residual-encode in the rotated frame
    var bothModel: Similarity.PqModel = null
    timed("ann_pq_train_opq_residual(m=8,k=16,2it)") {
      bothModel = Similarity.pqTrainOpqResidual(embD, "e", codebook,
        numSubspaces = 8, ksub = 16, iters = 2, maxTrainRows = 20000)
      bothModel.numSubspaces.toLong
    }
    timed("ann_pq_assign_opq_residual+probe") {
      val aBoth = Similarity.pqAssignResidual(assigned, "e", codebook, bothModel)
      Similarity.ivfPqProbe(aBoth, "e", "vec_id", query, 10, codebook,
        bothModel, nprobe = 4, rerank = 64).count()
    }
    // SQ8: D bytes/row (8x compression), near-exact ADC — train is
    // one per-dim min/max aggregation, no k-means
    var sqModel: Similarity.SqModel = null
    timed("ann_sq_train") {
      sqModel = Similarity.sqTrain(embD, "e")
      sqModel.dims.toLong
    }
    timed("ann_sq_assign+probe(nprobe=4,rerank=16)") {
      val aSq = Similarity.sqAssign(assigned, "e", sqModel)
      Similarity.ivfSqProbe(aSq, "e", "vec_id", query, 10, codebook,
        sqModel, nprobe = 4, rerank = 16).count()
    }
    // by_residual SQ: train over the residual cloud (one broadcast
    // centroid join + the same min/max agg), probe with per-list
    // shifted queries through the ADC-L2 kernel
    timed("ann_sq_train_residual+assign+probe") {
      val sqRes = Similarity.sqTrainResidual(embD, "e", codebook)
      val aRes = Similarity.sqAssignResidual(assigned, "e", codebook, sqRes)
      Similarity.ivfSqProbe(aRes, "e", "vec_id", query, 10, codebook,
        sqRes, nprobe = 4, rerank = 16).count()
    }
    timed("ann_ivf_pq_probe_all(shuffle, 1% batch)") {
      Similarity.ivfPqProbeAll(pqAssigned, "e", "vec_id",
        pqAssigned.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", codebook, pqModel, k = 3, nprobe = 2, rerank = 12,
        excludeSelf = true, broadcastProbes = Some(false)).count()
    }
    // the same crawl-sized batch against a FLOAT-FREE index: the list
    // scan carries codes only and the queries x rerank shortlist
    // joins the primary store by id (AQE sizes it at runtime)
    timed("ann_ivf_pq_probe_all(codes-only,rerankFrom, 1% batch)") {
      Similarity.ivfPqProbeAll(
        pqAssigned.select("vec_id", "cid", "pq_code"), "e", "vec_id",
        pqAssigned.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", codebook, pqModel, k = 3, nprobe = 2, rerank = 12,
        excludeSelf = true, broadcastProbes = Some(false),
        rerankFrom = Some(embD)).count()
    }
    // pair search over the same lists: the replicated corpus is one
    // giant near-dup family per base vector, so the in-bucket
    // expansion works millions of pairs — raw collects full vectors
    // per bucket, PQ collects codes and SDC-prefilters before the
    // exact verify join
    timed("ann_neardup_ivf(raw, cos>=0.99)") {
      Similarity.nearDupPairsIvf(embD, "e", "vec_id", codebook,
        minCosine = 0.99, nprobe = 2).count()
    }
    timed("ann_neardup_ivf_pq(sdc, cos>=0.99)") {
      Similarity.nearDupPairsIvfPq(embD, "e", "vec_id", codebook, pqModel,
        minCosine = 0.99, nprobe = 2, sdcMargin = 0.05).count()
    }
    // SQ8 pair search: D bytes per side in the expansion; the tight
    // default margin (near-exact two-sided dequant) prefilters harder
    // than PQ's 0.05 can
    timed("ann_neardup_ivf_sq(sdc, cos>=0.99)") {
      Similarity.nearDupPairsIvfSq(embD, "e", "vec_id", codebook, sqModel,
        minCosine = 0.99, nprobe = 2).count()
    }
    timed("ann_ivf_sq_probe_all(shuffle, 1% batch)") {
      val aSq = Similarity.sqAssign(assigned, "e", sqModel)
      Similarity.ivfSqProbeAll(aSq, "e", "vec_id",
        aSq.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", codebook, sqModel, k = 3, nprobe = 2, rerank = 12,
        excludeSelf = true, broadcastProbes = Some(false)).count()
    }
    // BQ1: D bits/row (64x) — flat Hamming scan, no inverted lists;
    // the shortlist is coarse, so rerank gets slack. Train is the
    // same min/max agg as SQ (midrange thresholds).
    var bqModel: Similarity.BqModel = null
    timed("ann_bq_train") {
      bqModel = Similarity.bqTrain(embD, "e")
      bqModel.dims.toLong
    }
    var bqCoded: org.apache.spark.sql.DataFrame = null
    timed("ann_bq_assign") {
      bqCoded = Similarity.bqAssign(embD, "e", bqModel).cache()
      bqCoded.count()
    }
    timed("ann_bq_probe(flat,rerank=64)") {
      Similarity.bqProbe(bqCoded, "e", "vec_id", query, 10, bqModel,
        rerank = 64).count()
    }
    timed("ann_bq_probe(codes-only,rerankFrom)") {
      Similarity.bqProbe(bqCoded.select("vec_id", "bq_code"), "e", "vec_id",
        query, 10, bqModel, rerank = 64, rerankFrom = Some(embD)).count()
    }
    // batch BQ is a deliberate broadcast-nested-loop (flat scan has
    // no equi-key): probe-sized batches only — 100 queries here, not
    // the 1% crawl batch the IVF paths absorb
    timed("ann_bq_probe_all(100 queries)") {
      Similarity.bqProbeAll(bqCoded, "e", "vec_id",
        embD.filter(col("vec_id").between(0, 99))
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", bqModel, k = 3, rerank = 12, excludeSelf = true).count()
    }
    // IVF-BQ (IndexBinaryIVF): the same sign codes under the coarse
    // lists — the single probe scans ~nprobe/K of the codes, and the
    // batch probe gets the equi-key the flat scan lacks, so the 1%
    // crawl batch that bqProbeAll could never broadcast shuffles on
    // the list id like every other IVF path
    var ivfBqCoded: org.apache.spark.sql.DataFrame = null
    timed("ann_ivf_bq_assign") {
      ivfBqCoded = Similarity.bqAssign(assigned, "e", bqModel).cache()
      ivfBqCoded.count()
    }
    timed("ann_ivf_bq_probe(nprobe=4,rerank=64)") {
      Similarity.ivfBqProbe(ivfBqCoded, "e", "vec_id", query, 10, codebook,
        bqModel, nprobe = 4, rerank = 64).count()
    }
    timed("ann_ivf_bq_probe_all(shuffle, 1% batch)") {
      Similarity.ivfBqProbeAll(ivfBqCoded, "e", "vec_id",
        ivfBqCoded.filter(col("vec_id") % 100 === 7)
          .select(col("vec_id").as("qid"), col("e")),
        "qid", "e", codebook, bqModel, k = 3, nprobe = 2, rerank = 12,
        excludeSelf = true, broadcastProbes = Some(false)).count()
    }
    // large-bench semantic decontamination: a 2k-vector bench as a
    // coded probe batch (train + two coded passes + banded candidates
    // + exact verify); the replicated corpus shares vectors with the
    // bench, so the drop load is realistic, not a no-op
    timed("semantic_decontam_large(2k bench)") {
      Dedup.semanticDecontaminateLarge(embD, "e", "vec_id",
        baseEmb.limit(2000).select(
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("be")),
        "be", minCosine = 0.95).count()
    }

    // ---- join/agg shapes on a replicated event stream ---------------
    val baseEv0 = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    val baseEv = baseEv0
      .select(col("event_id"), col("user_id"),
        graft.functions.EventTime.eventMs(baseEv0).as("ems"), col("value"))
    val ev = (0 until mult).map { i =>
      baseEv.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
        (col("user_id") + lit(i * 1000L)).as("user_id"),
        col("ems"), col("value"))
    }.reduce(_ unionByName _).cache()
    val ne = ev.count()
    println(s"[smoke] events: $ne rows")
    // as-of: right side = 20 per-user checkpoints spread over the span
    val states = ev.groupBy(col("user_id"),
        (col("ems") - (col("ems") % 100000000L)).as("rt"))
      .agg(max("value").as("px"))
    // count the MATCHED column: a bare count() lets Catalyst prune
    // the window entirely (it only needs the side filter), which
    // would time the union, not the as-of resolution
    timed("asof_backward")(
      graft.operators.AsOfJoin.asOfBackward(ev, states,
        "user_id", "user_id", "ems", "rt", Seq("px"), prefix = "r_")
        .agg(count("r_px")).collect()(0).getLong(0))
    // range join: 200 no-equi-key windows over the whole stream
    val wins = ev.orderBy(desc("value"), col("event_id")).limit(200)
      .select(col("event_id").as("window_id"), col("ems").as("ws"),
        (col("ems") + 7200000L).as("we"))
    timed("range_join(200win)")(
      graft.operators.RangeJoin.intervalJoin(ev, wins, "ems", "ws", "we",
        width = 3600000L).count())
    // bounded top-k per key: heap aggregate vs the full window sort
    timed("topk_agg(k=10)")(
      ev.groupBy("user_id")
        .agg(graft.functions.TopKAgg.topK(col("value"), col("event_id"), 10).as("t"))
        .select(explode(col("t"))).count())
    timed("topk_window(k=10)") {
      import org.apache.spark.sql.expressions.Window
      ev.withColumn("rnk", row_number().over(
          Window.partitionBy("user_id").orderBy(desc("value"))))
        .filter(col("rnk") <= 10).count()
    }

    // consumer vuln scan at fleet scale: the inventory side (the
    // thing that grows) streams through a broadcast of the DB ranges
    val basePart = spark.read.parquet("/root/testdata/sf0.1/part.parquet")
      .select(concat(lit("ns"), col("p_partkey") % 5).as("namespace"),
        concat(lit("f"), col("p_partkey") % 2000).as("feature"),
        concat(col("p_partkey") % 4, lit("."), col("p_partkey") % 10).as("version"))
    val inv = (0 until mult * 5).map(_ => basePart).reduce(_ unionByName _)
    val ranges = spark.read.parquet("/root/testdata/sf0.1/supplier.parquet")
      .select(concat(lit("ns"), col("s_suppkey") % 5).as("namespace"),
        concat(lit("f"), col("s_suppkey") % 2000).as("feature"),
        concat(lit("V-"), col("s_suppkey")).as("vul_name"),
        lit("High").as("severity"),
        concat(col("s_suppkey") % 3 + 1, lit("."), col("s_suppkey") % 7).as("fixed_version"),
        lit(graft.core.PkgVersion.MinSentinel).as("min_ver"))
    timed(s"vuln_scan(${mult * 5}x part inventory)")(
      graft.operators.VulnMatch.affected(inv, ranges).count())

    // the NO-EQUI-KEY version interval join — the shape the injected
    // VersionIntervalJoinRule exists for. Rewritten: ranges explode
    // to version_key buckets, the join hash-partitions. The naive
    // nested loop is timed on a 2% inventory sample (a full naive run
    // is the quadratic disaster the rule removes); compare per-row.
    val vinv = inv.select(col("version")).cache()
    val nInv = vinv.count()
    // advisory-like NARROW ranges (one major, a 3-minor window —
    // ~4% selectivity): the realistic profile where bucket pruning
    // pays; the rewrite touches only the affected major's buckets
    val vranges = ranges.limit(2000)
      .select(col("vul_name"),
        (col("vul_name").substr(lit(3), lit(9)).cast("long") % 5).as("_m"),
        (col("vul_name").substr(lit(3), lit(9)).cast("long") % 6).as("_n"))
      .select(col("vul_name"),
        concat(col("_m"), lit("."), col("_n")).as("lo"),
        concat(col("_m"), lit("."), col("_n") + 3).as("hi"))
      .cache()
    vranges.count()
    vinv.createOrReplaceTempView("smoke_vij_inv")
    vranges.createOrReplaceTempView("smoke_vij_rng")
    timed(s"version_interval_join(rewritten, ${nInv} x 2000, no equi key)") {
      spark.sql("""SELECT count(*) FROM smoke_vij_inv i JOIN smoke_vij_rng r
                   ON version_cmp(i.version, r.lo) >= 0
                  AND version_cmp(i.version, r.hi) < 0""")
        .collect()(0).getLong(0)
    }
    timed("version_interval_join(naive nested loop, 2% sample)") {
      spark.conf.set("spark.graft.versionIntervalJoin.enabled", "false")
      try {
        vinv.sample(0.02, seed = 7).createOrReplaceTempView("smoke_vij_inv2")
        spark.sql("""SELECT count(*) FROM smoke_vij_inv2 i JOIN smoke_vij_rng r
                     ON version_cmp(i.version, r.lo) >= 0
                    AND version_cmp(i.version, r.hi) < 0""")
          .collect()(0).getLong(0)
      } finally spark.conf.set("spark.graft.versionIntervalJoin.enabled", "true")
    }

    // keyframe-sampled video tier: 20k MJPEG clips (6 samples, 4
    // non-uniform keyframes each; ~200 distinct footage groups so the
    // pair output stays bounded), the decode priced where it runs
    val mkKf = udf { (docId: Long) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val base = docId % 200
      val sync = Seq(1, 3, 4, 6)
      val frames = (1 to 6).map { n =>
        val j = sync.indexOf(n)
        val seed = if (j >= 0) s"kf:$base:$j" else s"fill:$docId:$n"
        Array.tabulate(8 * 9) { i =>
          val y = i / 9; val x = i % 9
          val r = java.lang.Byte.toUnsignedInt(
            md.digest(s"$seed:$y".getBytes("UTF-8"))(0)) & 1
          64 + 128 * ((x + r) % 2)
        }
      }
      graft.operators.Multimodal.syntheticMjpegMp4Keyframed(
        9, 8, frames, sync)
    }
    val kfCorpus = docs.select(col("doc_id")).limit(20000)
      .select(col("doc_id"), mkKf(col("doc_id")).as("v")).cache()
    kfCorpus.count()
    val kfIdxDir = java.nio.file.Files.createTempDirectory("smoke_kfidx_")
      .toFile.getAbsolutePath
    timed("video_keyframe_index_write(20k mjpeg clips)") {
      graft.operators.Multimodal.writeVideoKeyframeHashBandIndex(
        kfCorpus, "v", "doc_id", kfIdxDir)(spark)
      graft.operators.Multimodal.readGifHashBandIndex(spark, kfIdxDir).count()
    }
    timed("video_keyframe_filter(5% batch)") {
      val idx = graft.operators.Multimodal.readGifHashBandIndex(spark, kfIdxDir)
      graft.operators.Multimodal.videoNearDupFilterAgainst(
        kfCorpus.filter(col("doc_id") % 20 === 11)
          .select((col("doc_id") + lit(800000000L)).as("doc_id"), col("v")),
        "v", "doc_id", idx)(spark).count()
    }

    spark.stop()
  }
}

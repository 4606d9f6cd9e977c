package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** BPE merge learning pinned on the classic hand-derivable corpus:
  * known merge sequence, deterministic ties, correct non-overlapping
  * fold, vocabulary-join segmentation with OOV fallback. */
class BpeSpec extends SparkSpecBase {

  import spark.implicits._

  // word counts: low x3, lower x1, lowest x1 -> every word starts
  // l o w ... </w>; the (l,o) and (o,w) pairs both appear 5 times,
  // so the lexicographic tie-break decides and the sequence is fully
  // predictable
  private lazy val docs = Seq(
    (1L, "low low lower"),
    (2L, "lowest low")
  ).toDF("doc_id", "text")

  test("learns the hand-computed merge sequence with deterministic ties") {
    val learned = Bpe.learn(docs, "text", numMerges = 4)
    val merges = learned.merges.orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    // round 0: (l,o)=5 ties (o,w)=5 -> 'l' < 'o' wins; round 1:
    // (lo,w)=5 unique; round 2: (low,</w>)=3 beats er/est chains
    assert(merges(0) == (0, "l", "o", 5L))
    assert(merges(1) == (1, "lo", "w", 5L))
    assert(merges(2) == (2, "low", "</w>", 3L))
    assert(merges(3)._2 == "low" && merges(3)._3 == "e")
    assert(merges.length == 4)
    // the vocab reflects the merges: 'low' is now one token
    val lowSyms = learned.vocab.filter(col("word") === "low")
      .select("syms").collect()(0).getSeq[String](0)
    assert(lowSyms == Seq("low</w>"))
  }

  test("merge fold is left-to-right non-overlapping") {
    val learned = Bpe.learn(Seq((1L, "aaaa aaaa")).toDF("doc_id", "text"),
      "text", numMerges = 1)
    val m = learned.merges.collect()(0)
    assert((m.getString(1), m.getString(2)) == ("a", "a"))
    val syms = learned.vocab.select("syms").collect()(0).getSeq[String](0)
    // aaaa -> aa aa </w> (not aa a a or overlapping aaa)
    assert(syms == Seq("aa", "aa", "</w>"))
  }

  test("repartitioning does not change the learned sequence") {
    val a = Bpe.learn(docs, "text", 3).merges.orderBy("rank")
      .collect().map(_.toSeq).toSeq
    val b = Bpe.learn(docs.repartition(7), "text", 3).merges.orderBy("rank")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("segment tokenizes via the vocab join with char fallback for OOV") {
    val learned = Bpe.learn(docs, "text", 3)
    val out = Bpe.segment(
      Seq((10L, "low lower zap")).toDF("doc_id", "text"),
      "text", "doc_id", learned.vocab)
      .collect()(0)
    val subwords = out.getAs[scala.collection.Seq[String]]("subwords")
    // low -> [low</w>]; lower -> [low, e, r, </w>] (after 3 merges);
    // zap is OOV -> char split
    assert(subwords == Seq("low</w>", "low", "e", "r", "</w>", "z", "a", "p", "</w>"))
    assert(out.getAs[Long]("n_words") == 3L)
    assert(out.getAs[Long]("n_subwords") == 9L)
  }

  test("batched learning is byte-identical to the sequential learner, in far fewer rounds") {
    // 32 words over pairwise-disjoint alphabets; each word is its
    // two-char bigram tripled ("ababab"), so the in-word pair (15)
    // outranks its reversal (10) and the end-of-word pair (5) —
    // giving the batcher 32 mutually disjoint top pairs per scan
    val chars = (0x4E00 until 0x4E00 + 64).map(_.toChar)
    val wordList = (0 until 32).map(i => s"${chars(2 * i)}${chars(2 * i + 1)}" * 3)
    val corpus = Seq.tabulate(5)(d => (d.toLong, wordList.mkString(" ")))
      .toDF("doc_id", "text")

    val seq = Bpe.learn(corpus, "text", numMerges = 32, batchMerges = 1)
    val bat = Bpe.learn(corpus, "text", numMerges = 32, batchMerges = 32)
    val seqMerges = seq.merges.orderBy("rank").collect().map(_.toSeq).toSeq
    val batMerges = bat.merges.orderBy("rank").collect().map(_.toSeq).toSeq
    assert(batMerges == seqMerges) // same pairs, same order, same counts
    assert(seq.rounds == 32)
    assert(bat.rounds * 4 <= seq.rounds, s"only ${seq.rounds}/${bat.rounds} round win")

    // and the learned vocabularies tokenize identically
    def segmented(v: org.apache.spark.sql.DataFrame) =
      Bpe.segment(corpus, "text", "doc_id", v)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(segmented(bat.vocab) == segmented(seq.vocab))
  }

  test("batching stays sequential-equivalent when top pairs overlap (the guard closes the batch)") {
    // (l,o) and (o,w) tie at the top and share 'o': the batch must
    // close instead of accepting both, or it would diverge from the
    // sequential learner (which prefers the created (lo,w) pair next)
    val seq = Bpe.learn(docs, "text", numMerges = 4, batchMerges = 1)
      .merges.orderBy("rank").collect().map(_.toSeq).toSeq
    val bat = Bpe.learn(docs, "text", numMerges = 4, batchMerges = 8)
      .merges.orderBy("rank").collect().map(_.toSeq).toSeq
    assert(bat == seq)
  }

  test("tie guard: an equal-count overlapping pair AFTER the candidate closes the batch") {
    // {azq, az, mm}x50: (a,z)=100 tops; the 50-count tie group holds
    // (m,</w>) lex-first AND (z,</w>), which overlaps the accepted
    // (a,z) but sorts after (m,</w>) so plain maxSkipped never sees
    // it. Its mass reappears as the created (az,</w>), which ties 50
    // and wins the sequential tie-break — the batch must stop after
    // (a,z) instead of accepting (m,</w>).
    val corpus = (0 until 50).map(i => (i.toLong, "azq az mm")).toDF("doc_id", "text")
    val seq = Bpe.learn(corpus, "text", numMerges = 4, batchMerges = 1)
      .merges.orderBy("rank").collect().map(_.toSeq).toSeq
    val bat = Bpe.learn(corpus, "text", numMerges = 4, batchMerges = 8)
      .merges.orderBy("rank").collect().map(_.toSeq).toSeq
    assert(bat == seq, s"\n  seq=$seq\n  bat=$bat")
    // the rank-1 merge is the CREATED pair, which the unguarded batch
    // would have displaced with (m, </w>)
    assert(seq(1)(1) == "az" && seq(1)(2) == "</w>", s"got ${seq(1)}")
  }

  test("self-merge acceptance closes the batch: created pairs outrank later candidates") {
    // {"abbbbbb"x35, "a"x42}: (b,b)@175 tops the scan and is a
    // SELF-merge. Applying it turns the b-runs into bb-runs, creating
    // (bb,bb)@70 — bounded only by the ACCEPTED pair's own count, so
    // maxSkipped never sees it — which outranks (a,</w>)@42, the pair
    // an unguarded batch would accept next from the stale scan. The
    // guard must close the batch at (b,b) and let the re-count find
    // (bb,bb) at rank 1.
    val corpus = Seq((1L, (Seq.fill(35)("abbbbbb") ++ Seq.fill(42)("a")).mkString(" ")))
      .toDF("doc_id", "text")
    val seq = Bpe.learn(corpus, "text", numMerges = 5, batchMerges = 1)
      .merges.orderBy("rank").collect().map(_.toSeq).toSeq
    assert(seq(0).drop(1).take(2) == Seq("b", "b"))
    assert(seq(1).drop(1).take(2) == Seq("bb", "bb"), s"got ${seq(1)}")
    for (batch <- Seq(2, 8)) {
      val bat = Bpe.learn(corpus, "text", numMerges = 5, batchMerges = batch)
        .merges.orderBy("rank").collect().map(_.toSeq).toSeq
      assert(bat == seq, s"batch $batch diverged:\n  seq=$seq\n  bat=$bat")
    }
  }

  test("seeded property: batched == sequential on run-heavy two-char corpora") {
    // long same-char runs make SELF-merges the top pairs round after
    // round — the regime where created (ss,s)/(ss,ss) pairs carry
    // counts the scanned rows cannot bound (85/60k random corpora of
    // this shape diverged under the unguarded batch rule)
    for (seed <- Seq(3L, 19L)) {
      val rnd = new scala.util.Random(seed)
      val words = (0 until 8).map { _ =>
        val len = 1 + rnd.nextInt(7)
        (0 until len).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
      }
      val text = words.flatMap(w => Seq.fill(1 + rnd.nextInt(60))(w)).mkString(" ")
      val corpus = Seq((1L, text)).toDF("doc_id", "text")
      val seq = Bpe.learn(corpus, "text", numMerges = 10, batchMerges = 1)
        .merges.orderBy("rank").collect().map(_.toSeq).toSeq
      for (batch <- Seq(4, 16)) {
        val bat = Bpe.learn(corpus, "text", numMerges = 10, batchMerges = batch)
          .merges.orderBy("rank").collect().map(_.toSeq).toSeq
        assert(bat == seq, s"seed $seed batch $batch diverged:\n  seq=$seq\n  bat=$bat")
      }
    }
  }

  test("seeded property: batched == sequential on random overlap-heavy corpora") {
    // small alphabet -> top pairs constantly share symbols, the
    // adversarial regime for the disjoint-batch guard: any hole in
    // the close-the-batch rule shows up as a diverged merge table
    for (seed <- Seq(1L, 7L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val words = (0 until 40).map { _ =>
        val len = 2 + rnd.nextInt(5)
        (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }
      val corpus = (0 until 25).map { i =>
        (i.toLong, (0 until 8).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val seq = Bpe.learn(corpus, "text", numMerges = 12, batchMerges = 1)
        .merges.orderBy("rank").collect().map(_.toSeq).toSeq
      // every batch width must land the identical table — the tie
      // guard's behavior differs with the acceptance horizon
      for (batch <- Seq(2, 8)) {
        val bat = Bpe.learn(corpus, "text", numMerges = 12, batchMerges = batch)
          .merges.orderBy("rank").collect().map(_.toSeq).toSeq
        assert(bat == seq, s"seed $seed batch $batch diverged:\n  seq=$seq\n  bat=$bat")
      }
    }
  }

  test("Learned segment applies merge rules to OOV words instead of char-splitting") {
    // merges learned from {low x3, lower, lowest}: rank0 (l,o), rank1
    // (lo,w), rank2 (low,</w>), rank3 (low,e). The OOV word "lowe"
    // must replay ranks 0,1,3 -> [lowe, </w>]; the vocab-only segment
    // would char-split it to [l,o,w,e,</w>]
    val learned = Bpe.learn(docs, "text", numMerges = 4)
    val probe = Seq((10L, "low lowe")).toDF("doc_id", "text")
    val out = Bpe.segment(probe, "text", "doc_id", learned).collect()(0)
    assert(out.getAs[scala.collection.Seq[String]]("subwords") ==
      Seq("low</w>", "lowe", "</w>"))
    assert(out.getAs[Long]("n_words") == 2L)
    assert(out.getAs[Long]("n_subwords") == 3L)
    // chars never seen in training stay a char split (no rule applies)
    val zap = Bpe.segment(Seq((11L, "zap")).toDF("doc_id", "text"),
      "text", "doc_id", learned).collect()(0)
    assert(zap.getAs[scala.collection.Seq[String]]("subwords") ==
      Seq("z", "a", "p", "</w>"))
    // the merge table alone (empty vocab: every word goes down the
    // OOV merge-rule path) segments exactly like the full tokenizer
    val emptyVocab = learned.vocab.filter(lit(false))
    val words = Seq((12L, "low lower zap")).toDF("doc_id", "text")
    def seg(l: Bpe.Learned) =
      Bpe.segment(words, "text", "doc_id", l).collect().map(_.toSeq).toSeq
    assert(seg(Bpe.Learned(learned.merges, emptyVocab, 0)) == seg(learned))
  }

  test("applyMerges reproduces the trained segmentation for every vocab word") {
    // lowest-rank-first inference == training-order application: pin
    // it over the full vocabulary of an overlap-heavy random corpus
    val rnd = new scala.util.Random(13L)
    val words = (0 until 30).map { _ =>
      (0 until 1 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    }
    val corpus = (0 until 20).map { i =>
      (i.toLong, (0 until 6).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val learned = Bpe.learn(corpus, "text", numMerges = 15)
    val ranks = learned.merges.select("left", "right", "rank").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val vocab = learned.vocab.select("word", "syms").collect()
    assert(vocab.nonEmpty)
    vocab.foreach { r =>
      val w = r.getString(0)
      val trained = r.getSeq[String](1)
      assert(Bpe.applyMerges(w, ranks) == trained,
        s"word '$w': kernel ${Bpe.applyMerges(w, ranks)} vs trained $trained")
    }
  }

  test("segment keeps zero-word docs: empty subwords, not silent row loss") {
    val learned = Bpe.learn(docs, "text", 3)
    val mixed = Seq((10L, "low"), (11L, ""), (12L, "   "), (13L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Bpe.segment(mixed, "text", "doc_id", learned.vocab)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[scala.collection.Seq[String]]("subwords"),
          r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords")))).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L)) // every doc survives
    assert(out(10L) == ((Seq("low</w>"), 1L, 1L)))
    for (id <- Seq(11L, 12L, 13L))
      assert(out(id) == ((Seq.empty[String], 0L, 0L)), s"doc $id: ${out(id)}")
  }

  test("symbols with quotes and backslashes survive the merge literal") {
    // the most frequent pair involves the quote/backslash word, so
    // its characters land inside the generated merge expression
    val tricky = Seq((1L, """d'n d'n d'n a\b a\b""")).toDF("doc_id", "text")
    val learned = Bpe.learn(tricky, "text", numMerges = 2)
    assert(learned.merges.count() == 2)
    // no analysis exception, and the vocab still covers both words
    assert(learned.vocab.count() == 2)
  }
}

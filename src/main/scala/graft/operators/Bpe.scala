package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding (BPE) merge learning — the
  * tokenizer-prep step of a training-data pipeline, on the classic
  * word-frequency formulation (Sennrich et al., 2016):
  *
  *  1. ONE corpus pass builds the word-frequency table — after which
  *     everything operates on the Zipf-bounded vocabulary (100k-ish
  *     rows at web scale), never the corpus again;
  *  2. each round aggregates weighted adjacent-pair counts over the
  *     symbolized vocabulary (map-side partial sums, one small
  *     shuffle) and collects a bounded lookahead of top pairs to the
  *     driver (the codebook-literal trade: KBs, bounded), from which
  *     it accepts a BATCH of up to `batchMerges` merges whose
  *     sequential equivalence is provable (below);
  *  3. the whole batch applies as ONE map-side left-to-right fold
  *     over each word's symbol array (a HOF `aggregate`, no UDF),
  *     and the frame is localCheckpoint'ed so round k+1 does not
  *     replay rounds 1..k.
  *
  * Batching rule — result is IDENTICAL to one-merge-at-a-time
  * learning, not an approximation. Scanning candidates in (count
  * desc, left asc, right asc) order: a pair is ACCEPTED if neither
  * symbol touches an already-accepted pair's symbols (disjoint
  * merges commute and leave each other's counts unchanged), and is
  * SKIPPED otherwise. The batch CLOSES at the first non-overlapping
  * candidate whose count is <= the largest skipped count, because a
  * pair the sequential learner could come to prefer mid-batch is
  * either (a) a still-live overlapping pair — skipped, so its count
  * is in `maxSkipped` — or (b) a pair CREATED by an accepted merge
  * (x, l+r) / (l+r, y), whose count is bounded by the current count
  * of (x, l) / (r, y) — overlapping pairs, so under `maxSkipped`
  * whenever they were scanned as SKIPS.
  *
  * That bound has one hole: when the bounding pre-pair is the
  * ACCEPTED pair itself, its count never entered `maxSkipped`. By
  * pairwise disjointness of accepted pairs, (x, l) / (r, y) can
  * only coincide with an accepted pair in the SELF-MERGE case
  * l == r == s: merging (s, s) turns runs of s into runs of ss,
  * creating (ss, s) / (ss, ss) pairs bounded only by count(s, s) —
  * which can beat every remaining candidate (corpus {"abbbbbb"x35,
  * "a"x42}: after (b,b)@175, the created (bb,bb)@70 outranks
  * (a,</w>)@42, which the unguarded batch would accept). So a
  * self-merge acceptance CLOSES the batch: its created-pair counts
  * are only knowable after the re-count. Second guard, same shape:
  * if an accepted merge's concatenated string l+r collides with a
  * LIVE symbol string (tracked driver-side: "</w>" plus every merge
  * ever accepted — initial symbols are single chars and cannot be
  * hit by a 2+-char concat), occurrences created by the merge would
  * CONFLATE with pre-existing pairs of that string and stale their
  * scanned counts, so the acceptance closes the batch too. (An
  * occurrence of l|r covering exactly those chars with no
  * boundary-crossing merge evolves autonomously, so the same char
  * window cannot segment both as l|r and as one symbol — a 150k-
  * corpus randomized search found the collision unreachable — but
  * the guard is a free driver-side set probe, so it is kept as
  * defense in depth.)
  *
  * TIES need one more guard: a candidate's acceptance is also
  * vetoed when any pair of the SAME count later in the scan overlaps
  * the already-accepted symbols — such a pair never reached
  * `maxSkipped` (it sorts after the candidate), yet the pair an
  * earlier accepted merge creates out of it can TIE the candidate's
  * count and win the sequential tie-break lexically (e.g. corpus
  * {azq, az, mm}×50: after accepting (a,z), the created (az,</w>)
  * ties (m,</w>) at 50 and sorts first — the batch must stop before
  * (m,</w>), which only the tie-group look-ahead can see). For the
  * same reason a candidate whose tie group may extend beyond the
  * collected lookahead is not accepted (except the scan head, which
  * is always sequential's next pick). With both guards every
  * accepted pair is exactly the pair the sequential learner would
  * pick at that rank, with the same recorded count — pinned by
  * BpeSpec's hand-built tie corpus and seeded property tests. Worst
  * case (adjacent hot pairs everywhere) degrades to one merge per
  * round — never worse than the sequential learner. The round win is
  * workload-shaped (tools.BpeRounds measures it; disjoint-rich
  * corpora close full batches per round), the equivalence is not.
  *
  * Ties break (count desc, left asc, right asc) so the learned merge
  * sequence is total-ordered and identical on every run/partitioning.
  *
  * `segment` then tokenizes a corpus by joining its words against the
  * learned word→symbols table (broadcast — vocabulary-sized) with a
  * character-split fallback for OOV words: O(1) plan depth however
  * many merges were learned, instead of replaying the merge chain
  * per row. */
object Bpe {

  /** @param rounds number of count-aggregate rounds (= Spark job
    *               round-trips) the learner used — the batching win
    *               is `merges.count() / rounds`. */
  final case class Learned(merges: DataFrame, vocab: DataFrame, rounds: Int)

  /** Non-empty whitespace words of a text column. */
  private def words(c: Column): Column = filter(split(c, " "), w => w =!= "")

  /** Initial symbolization: per-character symbols plus the
    * end-of-word marker as a final symbol. */
  private val charSplit: String => String =
    col => s"concat(transform(sequence(1, length($col)), i -> substring($col, i, 1)), array('</w>'))"

  /** Merge every (l, r) pair of a pairwise-DISJOINT batch
    * left-to-right, non-overlapping, in the `_syms_in` symbol-array
    * column — the BPE replacement fold. One pass applying a disjoint
    * batch is equivalent to chaining the per-pair folds: no symbol of
    * one pair occurs in another, so no application can create or
    * consume another pair's occurrence. */
  private def mergePairs(pairs: Seq[(String, String)]): Column = {
    // escape backslashes BEFORE quotes: corpus symbols are arbitrary
    // text and both characters are live in a SQL string literal
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    // fold: if the accumulator ends with some l and the next symbol is
    // its r, replace the tail with the merged symbol, else append
    val cases = pairs.map { case (l, r) =>
      val (lq, rq) = (esc(l), esc(r))
      s"""WHEN size(acc) > 0 AND element_at(acc, -1) = '$lq' AND x = '$rq'
           THEN concat(slice(acc, 1, size(acc) - 1), array('$lq$rq'))"""
    }.mkString("\n      ")
    expr(s"""aggregate(_syms_in, CAST(array() AS ARRAY<STRING>), (acc, x) ->
      CASE $cases
           ELSE concat(acc, array(x)) END)""")
  }

  /** The driver-side batch-acceptance scan — the entire sequential-
    * equivalence argument (object doc: disjointness, `maxSkipped`
    * close, self-merge close, live-symbol-collision close, tie-group
    * look-ahead) lives in this one function. `rows` is the lookahead
    * of top pairs in (count desc, left asc, right asc) order;
    * `liveSyms` is READ for the collision guard and EXTENDED with
    * each accepted merge. Extracted from `learn`'s round loop
    * byte-for-byte so the adversarial property harness (BpeFuzzSpec)
    * can drive it with plain-Scala pair counts at corpus volumes a
    * Spark learn loop could never fuzz. */
  private[operators] def acceptBatch(rows: IndexedSeq[(String, String, Long)],
      want: Int, lookahead: Int,
      liveSyms: scala.collection.mutable.Set[String]): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var maxSkipped = 0L // pair counts are >= 1
    var closed = false
    var i = 0
    // accept a candidate; a self-merge or a concat colliding with a
    // live symbol string creates pairs whose counts the scanned
    // rows cannot bound (object doc), so either CLOSES the batch
    def accept(l: String, r: String, n: Long): Unit = {
      accepted += ((l, r, n)); used += l; used += r; used += (l + r)
      if (l == r || liveSyms(l + r)) closed = true
      liveSyms += (l + r)
    }
    while (i < rows.length && !closed && accepted.length < want) {
      val (l, r, n) = rows(i)
      if (used(l) || used(r)) maxSkipped = math.max(maxSkipped, n)
      else if (n <= maxSkipped) closed = true
      else if (accepted.isEmpty) accept(l, r, n)
      else {
        // tie guard: an equal-count pair LATER in the scan that
        // overlaps the accepted symbols can spawn a created pair
        // tying this candidate and winning the sequential
        // tie-break — it never reaches maxSkipped, so look ahead
        // through the candidate's tie group explicitly; a tie
        // group possibly truncated by the lookahead is equally
        // unsafe
        var j = i + 1
        var tieDanger = false
        while (j < rows.length && rows(j)._3 == n && !tieDanger) {
          if (used(rows(j)._1) || used(rows(j)._2)) tieDanger = true
          j += 1
        }
        if (!tieDanger && j == rows.length && rows.last._3 == n &&
            rows.length == lookahead) tieDanger = true
        if (tieDanger) closed = true
        else accept(l, r, n)
      }
      i += 1
    }
    accepted.toSeq
  }

  /** Learn `numMerges` merges over `textCol`. Returns the ordered
    * merge table (rank, left, right, merged, pair_count) — identical
    * to the one the one-merge-at-a-time learner produces, at any
    * `batchMerges` — and the final word→symbols vocabulary
    * (word, count, syms).
    *
    * @param batchMerges max merges accepted per count-aggregate round
    *                    (1 = the classic sequential learner). The
    *                    batching rule in the object doc keeps the
    *                    output byte-identical while cutting driver
    *                    round-trips by up to this factor. */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
      vocabPartitions: Int = 8, batchMerges: Int = 16): Learned = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(batchMerges >= 1, s"batchMerges must be >= 1, got $batchMerges")
    val spark = docs.sparkSession
    // 1. corpus pass -> word frequencies (the only full-corpus scan).
    // The vocab table is small (Zipf), so it coalesces to a few
    // partitions — per-round cost is otherwise dominated by task
    // overhead over near-empty partitions (measured 16 merges on the
    // 100k-doc smoke: 61 s at 32 partitions -> 3.3 s at 8)
    val wordFreq = docs
      .select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("count"))
    var vocab = wordFreq
      .withColumn("syms", expr(charSplit("word")))
      .coalesce(vocabPartitions)
      .localCheckpoint()

    // lookahead past batchMerges so the skipped-pair counts that
    // close the batch are visible; still KBs on the driver
    val lookahead = math.max(batchMerges * 4, 64)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // live multi-char symbol strings, for the collision guard: initial
    // symbols are single chars (never equal to a 2+-char concat) plus
    // the end-of-word marker; every accepted merge adds one
    val liveSyms = scala.collection.mutable.Set[String]("</w>")
    var rounds = 0
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      // 2. weighted adjacent-pair counts over the symbolized vocab
      val top = vocab
        .select(col("count"), explode(expr(
          // guard single-symbol words: sequence(1, 0) is DESCENDING
          // in Spark ([1, 0]), not empty
          """CASE WHEN size(syms) < 2 THEN CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>)
             ELSE transform(sequence(1, size(syms) - 1),
               i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r)) END""")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("count").as("n"))
        .orderBy(desc("n"), asc("l"), asc("r"))
        .limit(lookahead)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // greedy disjoint batch under the sequential-equivalence rule
        val want = math.min(batchMerges, numMerges - merges.length)
        val rows = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toIndexedSeq
        val accepted = acceptBatch(rows, want, lookahead, liveSyms)
        accepted.foreach { case (l, r, n) => merges += ((merges.length, l, r, n)) }
        // 3. apply the whole batch in ONE map-side fold; checkpoint to
        // keep lineage flat across rounds
        vocab = vocab
          .withColumnRenamed("syms", "_syms_in")
          .withColumn("syms", mergePairs(accepted.toSeq.map(p => (p._1, p._2))))
          .drop("_syms_in")
          .localCheckpoint()
        rounds += 1
      }
    }
    import spark.implicits._
    val mergesDf = merges.toSeq
      .toDF("rank", "left", "right", "pair_count")
      .withColumn("merged", concat(col("left"), col("right")))
      .select("rank", "left", "right", "merged", "pair_count")
    Learned(mergesDf, vocab, rounds)
  }

  /** Per-word exploded token stream: (idCol, _pos, word).
    * posexplode_outer keeps zero-word (empty/null text) docs as a
    * single null-word row, so they come out with subwords=[] and
    * n_words=0 instead of silently vanishing from a per-doc report.
    * posexplode (vs plain explode) keeps the word position:
    * collect_list order is partition-dependent, so the subword stream
    * must be re-sorted by position or the output would be
    * nondeterministic. */
  private def tokenStream(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), posexplode_outer(words(col(textCol))))
      .withColumnRenamed("pos", "_pos").withColumnRenamed("col", "word")

  /** Reassemble per-doc subword arrays from a (idCol, _pos, word,
    * _syms) stream. The CASE keeps the placeholder null-word row OUT
    * of the collect_list (collect_list skips nulls) — flatten() over
    * an array containing a null element would null the whole doc. */
  private def reassemble(tokens: DataFrame, idCol: String): DataFrame =
    tokens.groupBy(idCol)
      .agg(expr("""flatten(transform(array_sort(collect_list(
            CASE WHEN _pos IS NOT NULL THEN struct(_pos, _syms) END)), x -> x._syms))""")
          .as("subwords"),
        count(col("word")).as("n_words"))
      .withColumn("n_subwords", size(col("subwords")).cast("bigint"))

  /** Tokenize a corpus with a learned vocabulary: words join the
    * (broadcast) word→symbols table; OOV words fall back to the
    * character split. Returns one row per doc with the subword array
    * and counts — the shape a tokenizer-throughput estimator needs.
    * One corpus scan + one broadcast join, independent of how many
    * merges were learned. For real OOV tokenization (applying the
    * learned merge RULES to unseen words) use the `Learned` overload
    * below; this one is the vocab-only fast path. */
  def segment(docs: DataFrame, textCol: String, idCol: String,
      vocab: DataFrame): DataFrame = {
    val v = broadcast(vocab.select(col("word").as("_w"), col("syms").as("_vsyms")))
    reassemble(
      tokenStream(docs, textCol, idCol)
        .join(v, col("word") === col("_w"), "left_outer")
        .withColumn("_syms",
          when(col("word").isNotNull, coalesce(col("_vsyms"), expr(charSplit("word"))))),
      idCol)
  }

  /** The standard BPE inference kernel: segment one word by applying
    * the learned merge table lowest-rank-first, each application the
    * same left-to-right non-overlapping fold as `mergePairs`. This
    * replays the training-time merge order exactly — a merge at rank
    * k can only create pairs involving the symbol it makes, and every
    * learned pair over that symbol necessarily has rank > k (the
    * symbol did not exist earlier), so "lowest rank still applicable"
    * IS the training order restricted to this word. In-vocab words
    * therefore reproduce their trained segmentation byte-for-byte
    * (BpeSpec pins this over the whole vocabulary) and unseen words
    * get the subwords the trained tokenizer implies — the point of
    * subword tokenization ("lowest" segments via the merges learned
    * from "low"/"lowest"-free corpora, not into characters).
    * Code-point split (not UTF-16 chars), matching `charSplit`'s
    * SQL substring semantics for supplementary-plane text. */
  private[operators] def applyMerges(word: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = word.codePoints().iterator()
      while (it.hasNext) b += new String(Character.toChars(it.next()))
      b += "</w>"
      b
    }
    var more = syms.length > 1
    while (more) {
      var best = Int.MaxValue; var bl: String = null; var br: String = null
      var i = 0
      while (i < syms.length - 1) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < best) { best = rk; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) more = false
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (out.nonEmpty && out.last == bl && syms(j) == br)
            out(out.length - 1) = bl + br
          else out += syms(j)
          j += 1
        }
        syms = out
        more = syms.length > 1
      }
    }
    syms.toSeq
  }

  /** Tokenize a corpus with a fully learned tokenizer: in-vocab words
    * take the broadcast word→symbols fast path; OOV words get the
    * learned merge RULES applied (`applyMerges`), not a character
    * split — so token counts and packing budgets stay honest on
    * exactly the novel text a fresh crawl batch is full of.
    *
    * Scale shape: the merge table is numMerges-bounded (KBs–MBs) and
    * ships as a task broadcast; the kernel runs once per DISTINCT
    * OOV word (one word-keyed partial-agg shuffle of OOV occurrences
    * only — Zipf-bounded output), never per occurrence; the result
    * joins back un-hinted so AQE broadcasts it when it fits and
    * falls back to a shuffle join when a crawl's OOV vocabulary is
    * genuinely huge. Two corpus scans total (the token stream feeds
    * both the main join and the OOV-word census). */
  def segment(docs: DataFrame, textCol: String, idCol: String,
      learned: Learned): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks: Map[(String, String), Int] = learned.merges
      .select("left", "right", "rank").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val bcRanks = spark.sparkContext.broadcast(ranks)
    val v = broadcast(learned.vocab.select(col("word").as("_w"), col("syms").as("_vsyms")))
    val tokens = tokenStream(docs, textCol, idCol)
    val oovSyms = tokens
      .join(v, col("word") === col("_w"), "left_anti")
      .filter(col("word").isNotNull)
      .select("word").distinct()
      .as[String]
      .mapPartitions { it =>
        val m = bcRanks.value
        it.map(w => (w, applyMerges(w, m)))
      }
      .toDF("_ow", "_osyms")
    reassemble(
      tokens
        .join(v, col("word") === col("_w"), "left_outer")
        .join(oovSyms, col("word") === col("_ow"), "left_outer")
        .withColumn("_syms",
          when(col("word").isNotNull, coalesce(col("_vsyms"), col("_osyms")))),
      idCol)
  }
}

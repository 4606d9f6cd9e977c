package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable corpus-deduplication operators — the library form of the
  * q30/q35/q36/q38 query shapes (see SCALE.md §4 for the 100 TB
  * rationale: signatures map-side, candidates via key groupBys with
  * bucket-local pair expansion, never self-joins). */
object Dedup {

  /** Non-empty whitespace tokens of a text column. */
  def tokens(text: Column): Column =
    filter(split(text, " "), x => x =!= "")

  /** Distinct word n-shingles of a text column (empty below n tokens;
    * NULL text -> NULL, standard null-propagation — callers that need
    * the empty-array-on-NULL convention wrap with coalesce).
    * Compiled kernel (functions.TextOps) — stays in whole-stage
    * codegen; the interpreted-HOF formulation of the same thing was
    * the round-1 bench hotspot. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextExpressions.shingles(text, n)

  /** MinHash signature (k md5-min hex values over n-shingles) straight
    * from the text column in one compiled pass; null when the doc has
    * no shingles. */
  def minhashSigText(text: Column, shingleN: Int, k: Int): Column =
    graft.functions.TextExpressions.minhash_sig(text, shingleN, k)

  /** Exact-duplicate groups by content digest: (digest, ids, n). `n`
    * is always the TRUE group size; `ids` lists at most `maxIds`
    * members (smallest first) — a viral doc replicated millions of
    * times would otherwise put a GB-sized id array in one row, the
    * last uncapped per-group array in the dedup layer. The dedup
    * DECISION paths never read `ids` (they rank with a window); this
    * is the reporting surface. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String,
      maxIds: Int = 8192): DataFrame = {
    require(maxIds >= 1, s"maxIds must be >= 1, got $maxIds")
    import org.apache.spark.sql.expressions.Window
    // rank BEFORE collecting (the window sort streams and spills), so
    // the aggregation buffer never holds more than maxIds ids — a
    // post-agg slice would still build the full array first
    val w = Window.partitionBy("digest")
    df.select(md5(col(textCol)).as("digest"), col(idCol))
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_r", row_number().over(w.orderBy(idCol)))
      .filter(col("_n") > 1 && col("_r") <= maxIds)
      .groupBy("digest")
      .agg(sort_array(collect_list(col(idCol))).as("ids"),
        first(col("_n")).as("n"))
  }

  /** Approximate Jaccard threshold of a banded-LSH configuration —
    * the similarity at which the s-curve `P(candidate) = 1-(1-s^r)^b`
    * crosses ~50%: `t ≈ (1/b)^(1/r)` with `b = numHashes/rowsPerBand`
    * bands of `r = rowsPerBand` rows. Tuning guide:
    *
    *   numHashes rowsPerBand bands  threshold  shape
    *        4         2        2      0.71     cheap, soft curve
    *       16         4        4      0.71     sharper at same t
    *       32         4        8      0.59     recall-leaning
    *       64         8        8      0.77     precision-leaning
    *      128         4       32      0.42     aggressive recall
    *
    * More bands at fixed r lowers the threshold (catches lower
    * similarity); more rows per band at fixed b raises it and
    * sharpens the curve. LshCalibrationSpec verifies empirical
    * candidate recall tracks the analytic s-curve. */
  def lshThreshold(numHashes: Int, rowsPerBand: Int): Double = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    math.pow(rowsPerBand.toDouble / numHashes, 1.0 / rowsPerBand)
  }

  /** Pick an LSH configuration for a target Jaccard: the
    * (numHashes, rowsPerBand) whose s-curve threshold sits AT OR
    * BELOW `minJaccard` (recall first — a threshold above the target
    * systematically misses true pairs, which no exact-verify stage
    * can recover; a threshold below it only costs false candidates
    * that the verify stage filters), and among those the HIGHEST
    * threshold (fewest false candidates = least verify work), ties
    * broken by fewest hashes (cheapest signatures), then fewest rows
    * per band. `maxHashes` caps signature cost — the driver-side
    * enumeration is O(maxHashes log maxHashes) and runs once.
    * Returns (numHashes, rowsPerBand) to pass straight to
    * minhashJaccardPairs / lshCandidatePairs. */
  def planLsh(minJaccard: Double, maxHashes: Int = 128): (Int, Int) = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    require(maxHashes >= 1, s"maxHashes must be >= 1, got $maxHashes")
    val candidates = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
      k = r * b
      t = lshThreshold(k, r)
      if t <= minJaccard
    } yield (t, k, r)
    require(candidates.nonEmpty,
      s"no (numHashes <= $maxHashes, rowsPerBand) config reaches threshold <= " +
        s"$minJaccard — raise maxHashes (b = ceil(1/minJaccard) single-row " +
        "bands always qualify once allowed)")
    val (_, k, r) = candidates.minBy { case (t, k, r) => (-t, k, r) }
    (k, r)
  }

  /** THE band-key formula — md5 over the '|'-joined signature values
    * of each band. Single definition shared by every banded path
    * (lshCandidatePairs, dropIncrementalDuplicates), because stored
    * band indexes are only reusable across operators while the
    * formula stays bit-identical. `h(i)` supplies the i-th signature
    * value. */
  private[operators] def bandKeyCols(h: Int => Column, k: Int,
      rowsPerBand: Int): Seq[Column] = {
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"numHashes ($k) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    (0 until k / rowsPerBand).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r => h(b * rowsPerBand + r)): _*))
    }
  }

  /** Banded-LSH candidate pairs from signature columns: bands of
    * `rowsPerBand` hashes, pairs expanded bucket-locally via a
    * spill-safe band-keyed sort-merge self-join (`id_a < id_b`; see
    * Similarity.pairsInBuckets for why joins, not array expansion,
    * and why only the left branch observes). A degenerate band shared
    * by more than `maxBucket` docs is dropped before pair expansion
    * (HotKeys.cap — windowed count, logged drops), so one hot band
    * can never go quadratic. See `lshThreshold` for picking
    * (k, rowsPerBand). */
  def lshCandidatePairs(sig: DataFrame, idCol: String, k: Int, rowsPerBand: Int,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_lsh_band_cap"): DataFrame = {
    val bandCols = bandKeyCols(i => col(s"h$i"), k, rowsPerBand)
    val bands = sig
      .select(col(idCol).as("_id"), explode(array(bandCols: _*)).as("band"))
    val (capL, capR) = HotKeys.capPair(bands, Seq(col("band")), maxBucket,
      metricName = metricName)
    capL.select(col("band"), col("_id").as("id_a"))
      .hint("merge")
      .join(capR.select(col("band"), col("_id").as("id_b")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** End-to-end near-dup candidates for a text corpus (compiled
    * signature kernel; candidates via band-key groupBy; hot bands
    * capped at `maxBucket`). */
  def minhashNearDupCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_lsh_band_cap"): DataFrame = {
    val sig = df
      .select(col(idCol), minhashSigText(col(textCol), shingleN, numHashes).as("_hs"))
      .filter(col("_hs").isNotNull)
      .select(col(idCol) +:
        (0 until numHashes).map(i => element_at(col("_hs"), i + 1).as(s"h$i")): _*)
    lshCandidatePairs(sig, idCol, numHashes, rowsPerBand, maxBucket, metricName)
  }

  /** n-gram Jaccard near-duplicate pairs — the single-scan inverted
    * index of q35 in library form: each exploded shingle row carries
    * (id, shingle-set size), pairs expand bucket-locally via a
    * spill-safe shingle-keyed sort-merge self-join (see
    * Similarity.pairsInBuckets), the pair groupBy carries the set
    * sizes so the denominator needs no lookback join. Shingles with
    * document frequency above `maxDf` (stop-phrase shingles — the
    * inverted-index scale-killer) are dropped before pair expansion,
    * with logged drop counts. */
  def jaccardNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.7,
      maxDf: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_shingle_df_cap"): DataFrame = {
    val exploded = df
      .select(col(idCol), shingles(col(textCol), n).as("_shs"))
      .select(col(idCol).as("_id"), size(col("_shs")).as("_n"),
        explode(col("_shs")).as("sh"))
    val (capL, capR) = HotKeys.capPair(exploded, Seq(col("sh")), maxDf,
      metricName = metricName)
    capL.select(col("sh"), col("_id").as("id_a"), col("_n").as("na"))
      .hint("merge")
      .join(capR.select(col("sh"), col("_id").as("id_b"), col("_n").as("nb")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Corpus-level repeated-span detection — the exact-substring dedup
    * signal (spans occurring verbatim across many documents are
    * boilerplate: license headers, navigation chrome, templated
    * paragraphs). Word `n`-spans present in at least `minDf` distinct
    * documents are "hot"; returns one row per affected document:
    * (idCol, n_hot_spans, max_span_df). Callers drop or trim flagged
    * docs, or feed the counts into a quality score.
    *
    * Scale: the span document-frequency is one shuffle on the span
    * key, and because the compiled shingle kernel already emits
    * per-document DISTINCT spans, the df aggregation is a plain
    * count — no distinct-agg rewrite, full map-side partial
    * aggregation. The join back is span-keyed against only the hot
    * spans (df >= minDf prunes the long tail before the join), then
    * one id-keyed groupBy. Never all-pairs. */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDf: Int = 3): DataFrame = {
    val sh = df.select(col(idCol), explode(shingles(col(textCol), n)).as("_span"))
    // per-doc spans are distinct (kernel contract), so count(1) IS the
    // distinct-document frequency
    val hot = sh.groupBy("_span")
      .agg(count(lit(1)).as("span_df"))
      .filter(col("span_df") >= minDf)
    sh.join(hot, "_span")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hot_spans"),
        max(col("span_df")).cast("bigint").as("max_span_df"))
  }

  /** Repeated-span REMOVAL — the surgical form of `repeatedSpans`
    * (the "dedup the spans, keep the docs" prescription of Lee et
    * al., ACL'22): every word `n`-span occurring in at least `minDf`
    * DISTINCT documents is cut from every document, and the text
    * reassembles from the surviving tokens — boilerplate (license
    * headers, navigation chrome, templated paragraphs) excised while
    * the surrounding prose survives. A token is removed iff covered
    * by at least one hot-span occurrence; ALL occurrences cut
    * (cross-doc boilerplate has no canonical "first" in a
    * distributed corpus). Returns the input columns plus `outCol`
    * (the cleaned text) and `n_removed` (tokens cut).
    *
    * Scale: positional spans explode map-side; the span document
    * frequency is a (doc, span)-distinct + span-keyed count (the
    * positional stream repeats spans within a doc, so the distinct
    * is load-bearing); only HOT spans (df >= minDf prunes the Zipf
    * tail) join back to the positional stream, and the per-doc
    * hot-start list rides one id-keyed groupBy + join. The cut
    * itself is a map-side array rebuild — coverage checks cost
    * O(|tokens|·|hot starts|) per doc, and hot starts are few by
    * construction (they are boilerplate, not content). */
  def removeRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDf: Int = 3, outCol: String = "clean_text"): DataFrame = {
    require(n >= 1 && minDf >= 2, s"need n >= 1 ($n) and minDf >= 2 ($minDf)")
    require(!df.columns.contains(outCol),
      s"output column $outCol collides with the input schema")
    val clash = df.columns.toSeq.intersect(
      Seq("_toks", "_p", "_span", "_starts", "_kept", "n_removed"))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(",")} collide with span-removal internal names; rename them first")
    val withToks = df.withColumn("_toks", tokens(col(textCol)))
    // positional n-spans: start p (0-based) covers tokens [p, p+n)
    val spans = withToks.select(col(idCol), posexplode(expr(
        s"""CASE WHEN size(_toks) < $n THEN CAST(array() AS ARRAY<STRING>)
           ELSE transform(sequence(0, size(_toks) - $n),
             i -> array_join(slice(_toks, i + 1, $n), ' ')) END""")))
      .withColumnRenamed("pos", "_p").withColumnRenamed("col", "_span")
    val hot = spans.select(col(idCol), col("_span")).distinct()
      .groupBy("_span").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf)
      .select("_span")
    val hotStarts = spans.join(hot, "_span")
      .groupBy(col(idCol))
      .agg(collect_list(col("_p")).as("_starts"))
    withToks.join(hotStarts, Seq(idCol), "left_outer")
      .withColumn("_starts", coalesce(col("_starts"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("_kept", expr(
        s"""transform(filter(transform(_toks, (t, i) -> named_struct('t', t, 'i', i)),
              x -> NOT exists(_starts, s -> x.i >= s AND x.i < s + $n)), x -> x.t)"""))
      .withColumn(outCol, array_join(col("_kept"), " "))
      .withColumn("n_removed", (size(col("_toks")) - size(col("_kept"))).cast("bigint"))
      .drop("_toks", "_starts", "_kept")
  }

  /** Candidates-then-verify near-dup: MinHash/LSH proposes candidate
    * pairs, exact shingle-set Jaccard verifies ONLY those pairs. At
    * high duplication rates this beats the full inverted index
    * (`jaccardNearDupPairs`) by orders of work: the inverted index
    * scores every shingle co-occurrence (O(sum bucket^2) rows into the
    * pair aggregation), while this path pays two id-keyed joins over
    * |candidates| rows. Trade-off: recall follows the LSH s-curve
    * (`lshThreshold`) instead of being exact — pick
    * (numHashes, rowsPerBand) so the threshold sits at or below
    * `minJaccard`. ScaleSmoke measures both on a 50k-doc corpus.
    * EAGER (candidates localCheckpoint once for the touched-id prune
    * and both verify joins); like dropIncrementalDuplicates' internal
    * checkpoints, the band-cap observed metric fires during that
    * materialization and is not re-delivered on downstream actions. */
  def minhashJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.7,
      numHashes: Int = 4, rowsPerBand: Int = 2,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_lsh_verify_band_cap"): DataFrame = {
    // localCheckpoint (eager, same as dropIncrementalDuplicates): the
    // candidate pairs feed the touched-id prune AND both verify joins;
    // without truncation each reference would re-run the LSH banding
    val cands = minhashNearDupCandidates(df, textCol, idCol, n, numHashes,
      rowsPerBand, maxBucket, metricName).localCheckpoint()
    // semi-join prune BEFORE shingling (the dropIncrementalDuplicates
    // pattern): only candidate-touched rows compute and shuffle their
    // shingle arrays — the operator's largest intermediate — so verify
    // cost follows the CANDIDATE count, not the corpus
    val touched = cands.select(col("id_a").as("_tid"))
      .unionByName(cands.select(col("id_b").as("_tid"))).distinct()
    val sh = df.join(touched, col(idCol) === col("_tid"), "left_semi")
      .select(col(idCol).as("_sid"), shingles(col(textCol), n).as("_shs"))
    cands
      .join(sh.select(col("_sid").as("_ida"), col("_shs").as("_sa")),
        col("id_a") === col("_ida"))
      .join(sh.select(col("_sid").as("_idb"), col("_shs").as("_sb")),
        col("id_b") === col("_idb"))
      .withColumn("_shared", size(array_intersect(col("_sa"), col("_sb"))))
      .withColumn("jaccard", col("_shared").cast("double") /
        (size(col("_sa")) + size(col("_sb")) - col("_shared")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Duplicate clusters from near-dup candidate pairs: connected
    * components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14), returning (id, cluster) with cluster = the component's
    * minimum id.
    *
    * Shape at scale: each round is two key-partitioned groupBy+join
    * passes over the edge list — no driver-side graph — and the edge
    * set contracts toward a star forest, so rounds grow with LOG of
    * the component size, not its diameter: the min-label propagation
    * this replaced needed O(diameter) shuffles (a 10k-hop near-dup
    * chain = 10k rounds); star contraction closes the same chain in
    * ~log2 rounds (DedupClustersSpec pins a 512-chain in <= 13). The
    * fixpoint check is exact (edge-set equality), near-clique
    * components still converge in 2-3 rounds, and frames are
    * localCheckpoint'ed each round to keep lineage flat.
    *
    * The pair rows are pinned once (`localCheckpoint` of the two id
    * columns) and both paths read that pin, so the pairs' plan —
    * typically a whole LSH verify, gates included — executes exactly
    * once.
    *
    * Small-graph fast path: when the pinned PAIR ROW count is at most
    * `localEdgeLimit` (default 2M rows — the same bounded-collect
    * argument as the IVF codebook literal, and gated by an exact
    * count taken while streaming, never a guess), the component
    * computation is union-find on the driver: microseconds instead of
    * ~8 scheduled shuffles per star round. Pair rows are counted
    * before deduplication (both orientations and self-loops count),
    * so the count is >= the distinct edge count and the limit errs
    * toward the star path; labels are exact on either path. Candidate
    * PAIRS are quadratic in bucket size and capped by HotKeys, so a
    * corpus must be enormous before its near-dup edge list outgrows
    * the driver — and when it does, the star path takes over
    * automatically. Pair rows stream through toLocalIterator in one
    * pass (nodes and edges together), but the union-find map itself
    * holds every distinct node: budget a few hundred MB of driver heap
    * at the 2M cap, or lower the limit (0 forces the distributed
    * path) on a small driver. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      localEdgeLimit: Int = 2000000): DataFrame =
    duplicateClustersWithRounds(pairs, idA, idB, maxIter, localEdgeLimit)._1

  /** large-star: for every node u, hook each STRICTLY LARGER neighbor
    * v onto m = min(neighbors(u) + u). Input/output are canonical
    * (u > v) directed edges; symmetrized internally. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("_mn"))
      .select(col("u"), least(col("u"), col("_mn")).as("m"))
    sym.filter(col("v") > col("u")).join(mins, "u")
      .select(col("v").as("u"), col("m").as("v")) // v > u >= m, stays canonical
      .distinct()
  }

  /** small-star: for every node u over its smaller neighbors N(u),
    * hook u and each v in N(u) onto m = min(N(u)). Canonical in,
    * canonical out. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("u").agg(min("v").as("m"))
    val withM = edges.join(mins, "u")
    withM.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v")) // m < v < u
      .union(withM.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Driver-side exact union-find over a streamed edge list: find
    * with path compression, union by attachment, then one pass to
    * label every member with its component MINIMUM. Strings are
    * compared in UTF-8 BINARY order — `String.compareTo`'s UTF-16
    * code-unit order disagrees with Spark's UTF8String order above
    * the BMP (supplementary characters), and the driver path must
    * pick the same canonical minimum as the cluster-side
    * least/greatest it stands in for (pinned by a supplementary-char
    * test). Other id types use their natural Comparable order, which
    * matches Spark's. */
  private def cmpLikeSpark(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xb.length, yb.length)
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      xb.length - yb.length
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Labels every node of the streamed pair rows, or None once more
    * than `limit` rows arrive (the caller falls back to the star
    * path). Each row registers both ids as nodes — a self-loop-only
    * node keeps a self-labeled row — and unions them. */
  private def unionFindLabels(pairRows: Iterator[org.apache.spark.sql.Row],
      limit: Int): Option[Seq[(Any, Any)]] = {
    val parent = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    var rows = 0L
    while (pairRows.hasNext) {
      if (rows >= limit) return None
      val p = pairRows.next()
      rows += 1
      val (a, b) = (p.get(0), p.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ru, rv) = (find(a), find(b))
      if (ru != rv) parent(if (cmpLikeSpark(ru, rv) > 0) ru else rv) =
        if (cmpLikeSpark(ru, rv) > 0) rv else ru
    }
    Some(parent.keys.toVector.map(id => id -> find(id)))
  }

  private[operators] def duplicateClustersWithRounds(pairs: DataFrame,
      idA: String, idB: String, maxIter: Int,
      localEdgeLimit: Int = 2000000): (DataFrame, Int) = {
    // the ONE execution of the pairs' plan: both ids at their common
    // (union-widened) type, so the driver map compares like values
    val idType = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).schema("id").dataType
    val pinned = pairs
      .select(col(idA).cast(idType).as("a"), col(idB).cast(idType).as("b"))
      .localCheckpoint()
    // streamed via toLocalIterator so the peak driver footprint is the
    // hash map plus one partition, not the full Row array besides it;
    // more than localEdgeLimit rows abandons the stream for the star
    // path. Union-by-min keeps the root at the component minimum
    // throughout, so labels match the distributed fixpoint exactly
    import scala.jdk.CollectionConverters._
    unionFindLabels(pinned.toLocalIterator().asScala, localEdgeLimit) match {
      case Some(labelSeq) =>
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("cluster", idType)))
        val rows = labelSeq.map { case (id, cl) => org.apache.spark.sql.Row(id, cl) }
        (pairs.sparkSession.createDataFrame(rows.asJava, schema), 0)
      case None => starClusters(pinned, maxIter)
    }
  }

  /** The distributed path over pinned (a, b) pair rows: star rounds to
    * the fixpoint, then one label per node. */
  private def starClusters(pinned: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // every input node keeps a label row even if its only edges were
    // self-loops (parity with the propagation formulation it replaced)
    val nodes = pinned.select(col("a").as("id"))
      .union(pinned.select(col("b").as("id"))).distinct()
    var edges = pinned
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val edgeCount = edges.count()
    var iter = 0
    var converged = edgeCount == 0
    var prevCount = edgeCount
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // both sides are distinct sets: equal size + empty except = equal
      // (the previous round's count is remembered, not recomputed)
      val nextCount = next.count()
      converged = nextCount == prevCount &&
        next.except(edges).limit(1).count() == 0
      edges = next
      prevCount = nextCount
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters stopped at maxIter=$maxIter before the star " +
          "fixpoint: unconverged components are SPLIT into several " +
          "clusters and dropNearDuplicates will keep extra 'canonical' " +
          "rows. Raise maxIter (rounds grow with log component size).")
    // at the star fixpoint every edge points straight at its component
    // min (one outgoing edge per non-root node; the min-agg is a no-op
    // then, and keeps labels unique even on a truncated run); nodes
    // absent from the edge set (self-loop-only) label as themselves
    val labels = nodes
      .join(edges.groupBy(col("u").as("id")).agg(min("v").as("_m")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("_m"), col("id")).as("cluster"))
    (labels, iter)
  }

  /** Keep one canonical row per duplicate cluster (the minimum id)
    * plus every row that was never a candidate — the standard "drop
    * near-duplicates" completion over `duplicateClusters` output. */
  def dropNearDuplicates(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    df.join(clusters.withColumnRenamed("id", "_cid"), col(idCol) === col("_cid"), "left")
      .filter(col("_cid").isNull || col(idCol) === col("cluster"))
      .drop("_cid", "cluster")

  /** `dropNearDuplicates` with an explicit survivor rule: within each
    * duplicate cluster the row MINIMIZING `preference` survives (ties
    * broken by `idCol`, so the choice is total and deterministic) —
    * e.g. `preference = array_position(lit(sourceRanking), col
    * ("source"))` keeps the most-curated source's copy instead of the
    * arbitrary minimum id. Rows never seen as candidates survive
    * untouched. One extra shuffle vs the plain rule: a cluster-keyed
    * min-struct aggregation (partial map-side) instead of the free
    * id==cluster filter. */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, clusters: DataFrame,
      preference: Column): DataFrame = {
    val joined = df
      .join(clusters.withColumnRenamed("id", "_cid"), col(idCol) === col("_cid"), "left")
    val winners = joined.filter(col("_cid").isNotNull)
      .groupBy("cluster")
      .agg(min(struct(preference.as("_p"), col(idCol).as("_id"))).as("_w"))
      .select(col("_w._id").as("_keep"))
    joined
      .join(winners, col(idCol) === col("_keep"), "left_semi")
      .union(joined.filter(col("_cid").isNull))
      .drop("_cid", "cluster")
  }

  /** The standing corpus's dedup index: one row per doc with its
    * content digest and LSH band keys — everything the incremental
    * path needs from yesterday's corpus EXCEPT the text (the exact
    * verify reads text only for candidate-touched docs). The `_cfg`
    * column pins the banding parameters so a mismatched reuse fails
    * loudly instead of silently probing foreign bands. */
  def dedupIndex(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2): DataFrame =
    docs.select(col(idCol),
        md5(col(textCol)).as("_digest"),
        minhashSigText(col(textCol), shingleN, numHashes).as("_hs"))
      .withColumn("_bands", when(col("_hs").isNotNull,
        array(bandKeyCols(i => element_at(col("_hs"), i + 1),
          numHashes, rowsPerBand): _*)))
      .drop("_hs")
      // the config pin includes the TEXT COLUMN: an index hashed over
      // raw text reused against a clean_text probe would silently
      // match nothing (same digests/bands formula, different input)
      .withColumn("_cfg", lit(s"$textCol/$shingleN/$numHashes/$rowsPerBand"))

  /** Persist / reload the dedup index (plain parquet — at 100 TB this
    * is the artifact that makes tomorrow's incremental run cost
    * O(batch): digests and band keys are deterministic, so the stored
    * index is yesterday's computation reused verbatim). */
  def writeDedupIndex(docs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2): Unit =
    dedupIndex(docs, textCol, idCol, shingleN, numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(path)

  def readDedupIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The `_cfg` pin every index consumer shares: a supplied index must
    * carry exactly this call's banding config (INCLUDING the hashed
    * text column) or the probe would silently search foreign bands. */
  private def requireIndexCfg(oldIndex: Option[DataFrame], textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int): Unit =
    oldIndex.foreach { ix =>
      val cfg = s"$textCol/$shingleN/$numHashes/$rowsPerBand"
      val found = ix.select("_cfg").limit(1).collect()
      require(found.isEmpty || found(0).getString(0) == cfg,
        s"dedup index was built with cfg ${found.headOption.map(_.getString(0)).getOrElse("?")}, " +
        s"this call uses $cfg")
    }

  /** STATIC half of the streaming near-dup intake tier: one row per
    * LSH band of the standing corpus carrying the member SHINGLE sets
    * a live probe needs for the exact-Jaccard verify — band keys from
    * the persisted dedup index when supplied (`_cfg`-pinned, no
    * re-hashing), recomputed otherwise. Hot bands are capped at
    * `maxBucket` rows BEFORE any member array exists (plain windowed
    * count — no observed metric here, because this frame re-executes
    * as the static side of every micro-batch join and CollectMetrics
    * names must stay unique per execution). Build it once at stream
    * start and `.cache()` it: the lookup is standing-corpus-sized (it
    * carries shingles for the verify — the price of exact-Jaccard
    * semantics in a per-row streaming decision), so this tier fits a
    * standing corpus the cluster can hold; past that, intake dedups
    * exact-only and the near tier runs in `runIncremental` at
    * compaction cadence. */
  def bandVerifyLookup(standing: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      oldIndex: Option[DataFrame] = None): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    requireIndexCfg(oldIndex, textCol, shingleN, numHashes, rowsPerBand)
    val bands = oldIndex match {
      case Some(ix) => ix.filter(col("_bands").isNotNull)
        .select(col(idCol).as("_bid"), explode(col("_bands")).as("band"))
      case None => standing
        .select(col(idCol).as("_bid"),
          minhashSigText(col(textCol), shingleN, numHashes).as("_hs"))
        .filter(col("_hs").isNotNull)
        .select(col("_bid"), explode(array(bandKeyCols(
          i => element_at(col("_hs"), i + 1), numHashes, rowsPerBand): _*)).as("band"))
    }
    // no minPerKey floor (unlike HotKeys.cap): a standing band with a
    // SINGLE member is still a collision target — the probing stream
    // row is its second member
    val capped = bands
      .withColumn("_bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band")))
      .filter(col("_bn") <= maxBucket)
      .drop("_bn")
    capped
      .join(standing.select(col(idCol).as("_sid"),
        shingles(col(textCol), shingleN).as("_shs")), col("_bid") === col("_sid"))
      .groupBy("band")
      .agg(collect_list(col("_shs")).as("_members"))
  }

  /** STREAM half of the near-dup intake tier: drop stream rows whose
    * text shares an LSH band with a standing doc AND verifies at
    * `minJaccard`+ exact shingle Jaccard against it — the live twin
    * of `dropIncrementalDuplicates`' new-vs-old path (the standing
    * survivor wins; new-NEW near-dups inside the stream are left for
    * the batch tier, whose cluster semantics need a corpus pass).
    * Shape: the stream row's B = numHashes/rowsPerBand band keys are
    * computed map-side and each probes the lookup through its own
    * stream-static LEFT equi-join (B bounded small joins — never an
    * exploded stream that would need re-aggregation, which Append
    * mode disallows without state); a row survives when NO probed
    * band member verifies. Same verify expression as the batch tier:
    * exact Jaccard over the shared shingle kernel. */
  /** WITHIN-STREAM near-dup approximation — the opt-in stand-in for
    * the new-NEW tier that `streamNearDupFilter` (new-vs-STANDING)
    * deliberately leaves to the batch pass. Each row's B =
    * numHashes/rowsPerBand LSH band keys are computed map-side, then
    * the stream runs B chained `dropDuplicatesWithinWatermark` steps,
    * one per band INDEX: a row is dropped when band i matches a
    * surviving earlier row's band i inside the watermark horizon.
    *
    * Honest semantics vs the batch tier, for the caller to weigh:
    *  - GREEDY ARRIVAL-ORDER survivors, not the cluster rule: the
    *    batch tier clusters transitively then keeps min-id (or
    *    keepPreference); here the first arrival of each band wins and
    *    there is no cluster, so survivor identity differs even when
    *    the surviving CONTENT set matches.
    *  - FALSE-POSITIVE drops are possible: the batch tier verifies
    *    every band candidate with exact Jaccard; a per-row stream
    *    cannot see the other doc's shingles, so a band collision
    *    between genuinely dissimilar docs (probability ~ j^rowsPerBand
    *    per band at actual similarity j, summed over B bands) drops a
    *    doc the batch tier would keep. Raise rowsPerBand to buy
    *    precision with recall, exactly like batch LSH tuning.
    *  - RECALL is the LSH candidate recall: a true near-dup pair
    *    sharing no band survives, and pairs straddling the watermark
    *    horizon are never compared.
    * State: B stores, each watermark-horizon × distinct band values.
    * A row whose text is too short to carry a signature (fewer than
    * shingleN words) gets a content-salted key instead, so signature-
    * less rows never collapse onto one shared empty-band value —
    * exact same-content twins are the digest tier's job, not ours.
    * NULL-text rows bypass the tier entirely (there is no content to
    * band on; without the bypass a null signature AND a null salted
    * key would make every null-text row a "duplicate" of every other
    * and silently drop all but one). */
  def streamIntraBandDedup(stream: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    val nb = numHashes / rowsPerBand
    val withSig = stream.filter(col(textCol).isNotNull).withColumn("_ihs",
      graft.functions.TextExpressions.minhash_sig(col(textCol), shingleN, numHashes))
    val bandCols = bandKeyCols(i => element_at(col("_ihs"), i + 1),
      numHashes, rowsPerBand)
    val withBands = (0 until nb).foldLeft(withSig)((d, i) =>
      d.withColumn(s"_ib$i",
        when(size(col("_ihs")) === numHashes, bandCols(i))
          .otherwise(md5(concat(lit(s"graft-nosig-$i|"), col(textCol))))))
    val deduped = (0 until nb).foldLeft(withBands)((d, i) =>
      d.dropDuplicatesWithinWatermark(s"_ib$i"))
    deduped.drop((0 until nb).map(i => s"_ib$i") :+ "_ihs": _*)
      .unionByName(stream.filter(col(textCol).isNull))
  }

  /** One remembered doc of a band group in the VERIFIED within-stream
    * tier: its sorted-distinct xxhash64 shingle hashes and event-time
    * millis (for watermark eviction). */
  private[graft] case class IntraVerEntry(sh: Array[Long], t: Long)
  /** Watermark-bounded state of one band group: every doc seen in the
    * horizon (newest first, capped) plus the eviction timer currently
    * registered for the group. */
  private[graft] case class IntraVerState(entries: List[IntraVerEntry],
      timer: Long)

  /** The per-band StatefulProcessor behind `streamIntraVerifiedDedup`:
    * keyed by one band's LSH key, remembers the shingle-hash sets of
    * docs seen inside the watermark horizon and emits only arrivals
    * whose exact Jaccard against every remembered set stays below
    * `minJaccard`. Dropped docs seed state too (the streaming shadow
    * of batch transitive clustering). An event-time timer at
    * max-entry-time + 1 evicts the group the first micro-batch after
    * the watermark passes its newest doc. */
  private class IntraVerProcessor(shIdx: Int, tsIdx: Int,
      tsColName: String, minJaccard: Double, maxStatePerBand: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, org.apache.spark.sql.Row, org.apache.spark.sql.Row] {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[IntraVerState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[IntraVerState]("bandDocs",
        Encoders.product[IntraVerState], TTLConfig.NONE)
    private def eventMs(r: Row): Long = r.get(tsIdx) match {
      case t: java.sql.Timestamp => t.getTime
      case t: java.time.Instant  => t.toEpochMilli
      case other => throw new IllegalArgumentException(
        s"$tsColName must be a TimestampType event-time column, got $other")
    }
    private def save(entries: List[IntraVerEntry], prevTimer: Long,
        wm: Long): Unit =
      if (entries.isEmpty) {
        st.clear()
        if (prevTimer > 0) getHandle.deleteTimer(prevTimer)
      } else {
        val timer = math.max(entries.map(_.t).max + 1, wm + 1)
        st.update(IntraVerState(entries, timer))
        if (timer != prevTimer) {
          if (prevTimer > 0) getHandle.deleteTimer(prevTimer)
          getHandle.registerTimer(timer)
        }
      }
    override def handleInputRows(key: String, rows: Iterator[Row],
        tv: TimerValues): Iterator[Row] = {
      val wm = tv.getCurrentWatermarkInMs()
      val prev = if (st.exists()) st.get() else IntraVerState(Nil, 0L)
      var entries = prev.entries.filter(_.t >= wm)
      // event-time order (lexicographic shingle tiebreak) makes the
      // within-batch survivor deterministic
      val ord = rows.toSeq.sortWith { (a, b) =>
        val ta = eventMs(a); val tb = eventMs(b)
        if (ta != tb) ta < tb
        else {
          val sa = a.getSeq[Long](shIdx); val sb = b.getSeq[Long](shIdx)
          sa.zip(sb).find { case (x, y) => x != y }
            .map { case (x, y) => x < y }
            .getOrElse(sa.length < sb.length)
        }
      }
      val kept = scala.collection.mutable.ArrayBuffer.empty[Row]
      ord.foreach { r =>
        val sh = r.getSeq[Long](shIdx).toArray
        val dup = entries.exists(e => jaccardSorted(e.sh, sh) >= minJaccard)
        if (!dup) kept += r
        // dropped docs seed state too: the streaming shadow of batch
        // transitive clustering
        entries = (IntraVerEntry(sh, eventMs(r)) :: entries)
          .take(maxStatePerBand)
      }
      save(entries, prev.timer, wm)
      kept.iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Row] = {
      // the timer sits at max-entry-time + 1, so by firing time every
      // entry is past the watermark; the filter stays for the race
      // where fresh rows re-armed the group in this same batch
      if (st.exists()) {
        val wm = tv.getCurrentWatermarkInMs()
        // prevTimer = 0: the fired timer no longer exists to delete
        save(st.get().entries.filter(_.t >= wm), 0L, wm)
      }
      Iterator.empty
    }
  }

  /** Exact Jaccard of two sorted-distinct long arrays (merge walk). */
  private[graft] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val uni = a.length + b.length - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }

  /** VERIFIED within-stream near-dup tier — the stateful upgrade of
    * `streamIntraBandDedup` that closes its documented false-positive
    * gap: instead of dropping on a bare band-key collision, each band
    * group keeps the SHINGLE-HASH SETS of the docs it has seen
    * (watermark-bounded `transformWithState` state, one pass per
    * band index) and an arrival drops only when its exact Jaccard
    * against a remembered set reaches `minJaccard` — the same verify
    * rule as the batch tier, so a band collision between genuinely
    * dissimilar docs now SURVIVES.
    *
    * Remaining honest deltas vs the batch cluster rule:
    *  - survivors are arrival-order (event-time order within a
    *    micro-batch, making the within-batch survivor DETERMINISTIC,
    *    unlike the greedy tier's shuffle-arbitrary pick), not min-id;
    *  - a DROPPED doc's shingles still enter state, so a later doc
    *    matching only the dropped one drops too — the streaming
    *    shadow of batch transitive clustering — but a doc dropped in
    *    an earlier band pass never seeds LATER passes' state (chained
    *    shape, same as the greedy tier);
    *  - recall is still LSH-candidate recall within the watermark
    *    horizon; and past `maxStatePerBand` remembered docs a band
    *    evicts oldest-first, trading MISSED drops (false keeps) —
    *    never false drops.
    * State per band group: at most `maxStatePerBand` × (8 bytes ×
    * distinct shingles + 8); exact-Jaccard identity holds up to
    * 64-bit shingle-hash collisions (~2^-64 per pair, deterministic).
    * Signature-less docs (fewer than `shingleN` words) and NULL text
    * bypass untouched — there is no shingle set to verify, and their
    * exact twins are the digest tier's job.
    *
    * Built on `transformWithState` (one pass per band, each declaring
    * `tsCol` as its output event-time column — the Spark-4 contract
    * that lets stateful passes CHAIN without tripping the global-
    * watermark correctness check that rejects chained
    * `flatMapGroupsWithState`). That API requires the RocksDB state
    * store provider; the operator fails loudly at build time when
    * `spark.sql.streaming.stateStore.providerClass` is not set to it.
    * `stream` must carry a watermark on `tsCol` already (the standard
    * prepStream shape); each pass re-tags `tsCol` as its OUTPUT
    * event-time column, which is what propagates the watermark into
    * the next pass. */
  def streamIntraVerifiedDedup(stream: DataFrame, textCol: String,
      tsCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.8,
      numHashes: Int = 4, rowsPerBand: Int = 2,
      maxStatePerBand: Int = 64): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.OutputMode
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    require(maxStatePerBand >= 1, s"maxStatePerBand must be >= 1, got $maxStatePerBand")
    val provider = stream.sparkSession.conf.get(
      "spark.sql.streaming.stateStore.providerClass", "")
    require(provider.contains("RocksDBStateStoreProvider"),
      "streamIntraVerifiedDedup builds on transformWithState, which Spark " +
        "supports only with the RocksDB state store — set spark.sql.streaming." +
        "stateStore.providerClass to org.apache.spark.sql.execution.streaming." +
        s"state.RocksDBStateStoreProvider (currently: '$provider')")
    val nb = numHashes / rowsPerBand
    val origCols = stream.columns.toSeq
    val tagged = stream.withColumn("_ivsh",
      when(col(textCol).isNotNull, sort_array(array_distinct(
        transform(shingles(col(textCol), shingleN), s => xxhash64(s))))))
    val bypass = tagged
      .filter(coalesce(size(col("_ivsh")), lit(0)) === 0).drop("_ivsh")
    val sigged = tagged.filter(size(col("_ivsh")) > 0)
      .withColumn("_ivhs", minhashSigText(col(textCol), shingleN, numHashes))
    val bandCols = bandKeyCols(i => element_at(col("_ivhs"), i + 1),
      numHashes, rowsPerBand)
    val withBands = (0 until nb).foldLeft(sigged)((d, i) =>
      d.withColumn(s"_ivb$i", bandCols(i))).drop("_ivhs")
    val passed = (0 until nb).foldLeft(withBands) { (cur, i) =>
      val schema = cur.schema
      val rowEnc = Encoders.row(schema)
      val bandIdx = schema.fieldIndex(s"_ivb$i")
      val proc = new IntraVerProcessor(schema.fieldIndex("_ivsh"),
        schema.fieldIndex(tsCol), tsCol, minJaccard, maxStatePerBand)
      cur.groupByKey(_.getString(bandIdx))(Encoders.STRING)
        .transformWithState[Row](proc, tsCol, OutputMode.Append())(rowEnc)
    }
    passed.drop((0 until nb).map(i => s"_ivb$i") :+ "_ivsh": _*)
      .unionByName(bypass.select(origCols.map(col): _*))
  }

  def streamNearDupFilter(stream: DataFrame, textCol: String, lookup: DataFrame,
      shingleN: Int = 3, minJaccard: Double = 0.8,
      numHashes: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    val nb = numHashes / rowsPerBand
    val withSig = stream
      .withColumn("_qshs", shingles(col(textCol), shingleN))
      .withColumn("_qhs", minhashSigText(col(textCol), shingleN, numHashes))
    val bandCols = bandKeyCols(i => element_at(col("_qhs"), i + 1),
      numHashes, rowsPerBand)
    val withBands = (0 until nb).foldLeft(withSig)(
      (d, i) => d.withColumn(s"_qb$i", bandCols(i)))
    val joined = (0 until nb).foldLeft(withBands) { (d, i) =>
      d.join(lookup.select(col("band").as(s"_pb$i"), col("_members").as(s"_pm$i")),
        col(s"_qb$i") === col(s"_pb$i"), "left_outer")
    }
    def hit(i: Int): Column = coalesce(
      exists(col(s"_pm$i"), m => {
        val shared = size(array_intersect(col("_qshs"), m))
        shared.cast("double") / (size(col("_qshs")) + size(m) - shared) >= minJaccard
      }), lit(false))
    joined
      .filter(!(0 until nb).map(hit).reduce(_ || _))
      .drop((0 until nb).flatMap(i => Seq(s"_qb$i", s"_pb$i", s"_pm$i")) ++
        Seq("_qshs", "_qhs"): _*)
  }

  /** Incremental dedup: drop NEW-batch rows that duplicate an
    * EXISTING corpus (exactly or near) or earlier-kept rows of their
    * own batch, leaving the old corpus untouched — the everyday
    * 100 TB operation ("dedup today's crawl against the corpus")
    * without re-clustering yesterday's data.
    *
    * Tiers:
    *  1. exact — digest anti-join vs old, then min-id per digest
    *     within the batch;
    *  2. near — band keys (MinHash/LSH) for the batch probe against
    *     the bands of old + kept-new; only candidate-touched docs are
    *     shingled for the exact-Jaccard verify (a semi-join prunes
    *     the old side BEFORE the expensive shingling, so verify cost
    *     follows the candidate count, not the corpus);
    *  3. resolve — a new row adjacent to an old row drops
    *     (old survivor wins); new-new near-dup clusters (connected
    *     components) keep their minimum id unless the cluster also
    *     touches old, in which case the whole cluster drops — exactly
    *     the full-rerun semantics where the old member is the
    *     cluster's canonical survivor.
    *
    * At scale the old side's band keys are a precomputed index (the
    * signature columns are deterministic, so yesterday's bands are
    * reusable verbatim — persist them like `Similarity.writeIndex`);
    * recomputing them here keeps the operator self-contained.
    * Ids must be unique ACROSS both inputs. Returns surviving new
    * rows with their original columns.
    *
    * Note: the operator is EAGER — the three internally-reused frames
    * (exact survivors, candidates, verified pairs) are
    * localCheckpoint'ed, because each feeds several downstream
    * branches and the CC iteration; without truncation the whole
    * upstream recomputes per branch per round (measured 110 s -> 6 s
    * on the 100k-doc ScaleSmoke corpus). */
  def dropIncrementalDuplicates(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 3, minJaccard: Double = 0.8,
      numHashes: Int = 4, rowsPerBand: Int = 2,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      oldIndex: Option[DataFrame] = None,
      keepPreference: Option[Column] = None): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    import org.apache.spark.sql.expressions.Window

    // a supplied index (writeDedupIndex/readDedupIndex) replaces the
    // old side's digest+band recomputation; its banding config must
    // match this call's or the probe would search foreign bands
    requireIndexCfg(oldIndex, textCol, shingleN, numHashes, rowsPerBand)

    // tier 1: exact. The survivor frame feeds four downstream
    // branches (bands, candidate join, shingle verify, final
    // anti-join) and, transitively, the CC iteration — localCheckpoint
    // truncates the lineage so the window+anti-join runs once, not
    // once per branch per CC round.
    val oldDig = oldIndex
      .map(_.select(col("_digest")).distinct())
      .getOrElse(oldDocs.select(md5(col(textCol)).as("_digest")).distinct())
    val keptExact = newDocs
      .withColumn("_digest", md5(col(textCol)))
      .join(oldDig, Seq("_digest"), "left_anti")
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_digest").orderBy(col(idCol))))
      .filter(col("_rn") === 1)
      .drop("_digest", "_rn")
      .localCheckpoint()

    // tier 2: band candidates (probe = new bands, build = old + new)
    def bandsOf(df: DataFrame): DataFrame = {
      val sig = df.select(col(idCol).as("_id"),
        minhashSigText(col(textCol), shingleN, numHashes).as("_hs"))
        .filter(col("_hs").isNotNull)
      val bandCols = bandKeyCols(i => element_at(col("_hs"), i + 1),
        numHashes, rowsPerBand)
      sig.select(col("_id"), explode(array(bandCols: _*)).as("band"))
    }
    val newBands = bandsOf(keptExact)
    val oldBands = oldIndex
      .map(_.filter(col("_bands").isNotNull)
        .select(col(idCol).as("_id"), explode(col("_bands")).as("band")))
      .getOrElse(bandsOf(oldDocs))
    val allBands = HotKeys.cap(
      oldBands.withColumn("_new", lit(false))
        .unionByName(newBands.withColumn("_new", lit(true))),
      Seq(col("band")), maxBucket, metricName = "graft_incr_band_cap")
    val cand = newBands
      .join(allBands.select(col("band"), col("_id").as("_oid"), col("_new")), Seq("band"))
      .filter(col("_id") =!= col("_oid"))
      // canonicalize new-new pairs (a<b) so each in-batch pair is
      // verified once, not once per direction; new-old pairs keep the
      // probe orientation (id_new is always the batch side)
      .filter(!col("_new") || col("_id") < col("_oid"))
      .select(col("_id").as("id_new"), col("_oid").as("id_other"),
        col("_new").as("other_new"))
      .distinct()
      .localCheckpoint() // reused by candIds and the two verify joins

    // verify: shingle ONLY candidate-touched docs, then exact Jaccard
    val candIds = cand.select(col("id_new").as("_vid"))
      .union(cand.select(col("id_other"))).distinct()
    val corpus = oldDocs.select(col(idCol), col(textCol))
      .unionByName(keptExact.select(col(idCol), col(textCol)))
    val sh = corpus.join(candIds, col(idCol) === col("_vid"), "left_semi")
      .select(col(idCol).as("_sid"), shingles(col(textCol), shingleN).as("_shs"))
    val verified = cand
      .join(sh.select(col("_sid").as("id_new"), col("_shs").as("_sa")), Seq("id_new"))
      .join(sh.select(col("_sid").as("id_other"), col("_shs").as("_sb")), Seq("id_other"))
      .withColumn("_shared", size(array_intersect(col("_sa"), col("_sb"))))
      .filter(col("_shared").cast("double") /
        (size(col("_sa")) + size(col("_sb")) - col("_shared")) >= minJaccard)
      .select(col("id_new"), col("id_other"), col("other_new"))
      .localCheckpoint() // contaminated + nn both read it; CC iterates over nn

    // tier 3: resolve
    val contaminated = verified.filter(!col("other_new"))
      .select(col("id_new").as("_drop")).distinct()
    val nn = verified.filter(col("other_new"))
      .select(col("id_new").as("id_a"), col("id_other").as("id_b"))
    val clusters = duplicateClusters(nn)
    val tainted = clusters
      .join(contaminated, col("id") === col("_drop"), "left_semi")
      .select("cluster").distinct()
    val untainted = clusters.join(tainted, Seq("cluster"), "left_anti")
    val keepers = keepPreference match {
      case None =>
        untainted.groupBy("cluster").agg(min("id").as("id")).select("id")
      case Some(pref) =>
        // same survivor rule as dropNearDuplicatesBy: the row
        // minimizing the preference wins, ties by id
        untainted
          .join(keptExact.select(col(idCol).as("id"), pref.as("_p")), Seq("id"))
          .groupBy("cluster")
          .agg(min(struct(col("_p"), col("id"))).as("_w"))
          .select(col("_w.id").as("id"))
    }
    val clusterDrops = clusters.select("id").except(keepers)
      .select(col("id").as("_drop"))
    keptExact.join(contaminated.unionByName(clusterDrops).distinct(),
      col(idCol) === col("_drop"), "left_anti")
  }

  /** Benchmark-decontamination containment search (q57's operator in
    * library form): |shingles(corpus doc) ∩ shingles(bench doc)| /
    * |shingles(bench doc)| for every (corpus, benchmark) pair sharing
    * at least one shingle, kept at `minContainment`+. The benchmark
    * side is small by definition (a few thousand docs), so it
    * BROADCASTS; the corpus side is ONE exploded scan joined map-side —
    * never a self-join — the only shape that holds when the corpus is
    * 100 TB. Output: (idCol, bench_id, containment). */
  /** `benchBloomFpp`: the SCALE tier for benchmark suites whose
    * exploded shingle set is too big to broadcast (tens of millions
    * of shingles and up). `None` (default) broadcasts the bench side
    * — correct while it fits. `Some(fpp)` instead builds a Bloom
    * filter over the DISTINCT bench shingles (driver-held but
    * bits-sized: ~10 bits/shingle at 1% fpp — 100M shingles is
    * ~120 MB where the broadcast join side would be many GBs of
    * strings) and prefilters the corpus explode MAP-SIDE through the
    * compiled bloom_might_contain kernel, so only the contaminated
    * rows plus an fpp-sized sliver of false positives ever reach the
    * shuffle join — which then verifies EXACTLY, so results are
    * identical to the broadcast path at any fpp (q109 pins this:
    * same oracle as the direct containment). Without the prefilter
    * the non-broadcast fallback would shuffle the ENTIRE exploded
    * corpus on the shingle key — the one thing that cannot happen at
    * 100 TB. */
  def benchmarkContainment(corpus: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String = "text",
      benchIdCol: String = "doc_id",
      n: Int = 3, minContainment: Double = 0.5,
      benchBloomFpp: Option[Double] = None): DataFrame = {
    val cs = corpus.select(col(idCol), explode(shingles(col(textCol), n)).as("sh"))
    val bs = bench
      .select(col(benchIdCol).as("bench_id"), shingles(col(benchTextCol), n).as("_shs"))
      .filter(size(col("_shs")) > 0)
      .select(col("bench_id"), size(col("_shs")).as("_bn"), explode(col("_shs")).as("sh"))
    val joined = benchBloomFpp match {
      case None => cs.join(broadcast(bs), "sh")
      case Some(fpp) =>
        // one shared builder (buildShingleBloom): distinct bench
        // shingles, a counting pass to size the filter honestly, then
        // the serialized bits. The prefiltered corpus side is
        // contaminated + fpp-sliver sized; no broadcast hint — AQE
        // sees both REAL post-filter sizes
        val bytes = buildShingleBloom(bench, benchTextCol, n, fpp)
        cs.filter(graft.functions.TextExpressions.bloom_might_contain(
            col("sh"), bytes))
          .join(bs, "sh")
    }
    joined
      .groupBy(col(idCol), col("bench_id"), col("_bn"))
      .agg(count(lit(1)).as("_shared"))
      .filter(col("_shared").cast("double") / col("_bn") >= minContainment)
      .select(col(idCol), col("bench_id"),
        round(col("_shared").cast("double") / col("_bn"), 4).as("containment"))
  }

  /** Drop corpus rows contaminated by a benchmark set: anti-join on
    * the distinct contaminated ids from `benchmarkContainment`. */
  /** Build the serialized Bloom filter over a benchmark's distinct
    * word n-shingles — the static artifact behind bloomNgramGate (and
    * reusable for benchmarkContainment's bloom tier if persisted).
    * Driver-held but bits-sized (~10 bits/shingle at 1% fpp); build
    * once per benchmark release, pass the bytes anywhere — including
    * into a STREAM, which a join-based containment can never enter. */
  def buildShingleBloom(bench: DataFrame, textCol: String = "text",
      n: Int = 13, fpp: Double = 1e-4): Array[Byte] = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val sh = bench.select(explode(shingles(col(textCol), n)).as("sh")).distinct()
    val items = math.max(sh.count(), 1L)
    val bloom = sh.stat.bloomFilter("sh", items, fpp)
    val baos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(baos)
    baos.toByteArray
  }

  /** Count of a text's distinct n-shingles that hit the Bloom filter
    * — pure map-side (compiled shingles + bloom_might_contain
    * kernels), NULL text -> NULL. */
  def bloomNgramHits(text: Column, bloomBytes: Array[Byte], n: Int): Column =
    size(filter(shingles(text, n),
      s => graft.functions.TextExpressions.bloom_might_contain(s, bloomBytes)))

  /** N-gram-collision decontamination gate (the GPT-3-style rule,
    * public knowledge: drop a training doc if any of its 13-grams
    * appears in an eval set): keep rows with at most `maxHits`
    * distinct n-shingles hitting the benchmark Bloom filter. The
    * decision is ROW-LOCAL — one map-side pass through two compiled
    * kernels, no join, no aggregation — so unlike the containment
    * join this gate runs in a STREAM unchanged (prepStream routes it
    * via Config.ngramBloom), and in batch it is the cheap first-pass
    * tier in front of (or instead of) exact containment.
    *
    * Honest semantics, stated: (1) the rule is union-of-benchmark —
    * "any hit anywhere", not per-benchmark-doc containment; that IS
    * the published n-gram rule at the usual n=13, where a single
    * collision is damning, but at small n it over-drops common
    * phrases — size n accordingly. (2) Bloom false positives only
    * OVER-drop, never leak contamination (no false negatives); at
    * filter fpp p a clean doc with m shingles false-drops with
    * P <= 1-(1-p)^m under maxHits=0, so build the filter at an fpp
    * sized to your m (the 1e-4 default holds P under ~1% for
    * 100-shingle docs). NULL text passes (nothing to collide). */
  def bloomNgramGate(df: DataFrame, textCol: String,
      bloomBytes: Array[Byte], n: Int = 13, maxHits: Int = 0): DataFrame = {
    require(maxHits >= 0, s"maxHits must be >= 0, got $maxHits")
    df.filter(col(textCol).isNull ||
      bloomNgramHits(col(textCol), bloomBytes, n) <= maxHits)
  }

  /** SEMANTIC decontamination — the embedding tier of the family
    * (broadcast containment / Bloom prefilter / row-local n-gram gate
    * cover the TEXT side): drop corpus rows whose embedding scores
    * cosine ≥ `minCosine` against ANY benchmark embedding — the
    * paraphrased-eval-question leak the shingle tiers cannot see.
    * The benchmark side is small by definition, so it collects to the
    * driver (loudly bounded by `maxBench` — a "benchmark" past that
    * size is a corpus, and belongs on the banded/IVF pair-search
    * paths: Similarity.bqBandCandidates or ivfProbeAll against the
    * bench as the probe batch) and rides the plan as an array
    * LITERAL: the decision is a row-local `exists` over the compiled
    * cosine kernel — ONE corpus pass inside whole-stage codegen, no
    * join, no corpus×bench row blowup, stream-legal like every other
    * row-local gate. Null or width-mismatched embeddings KEEP (null
    * cosine never satisfies ≥) — the gates own those rows. */
  def semanticDecontaminate(corpus: DataFrame, embCol: String,
      bench: DataFrame, benchEmbCol: String, minCosine: Double,
      maxBench: Int = 10000): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    // null bench embeddings drop BEFORE the bound check, so they can
    // neither mask an oversized bench nor enter the literal
    val vecs = bench.select(benchEmbCol)
      .filter(col(benchEmbCol).isNotNull)
      .limit(maxBench + 1).collect()
      .map(_.getSeq[Any](0).map { v =>
        require(v != null,
          s"benchmark embedding in '$benchEmbCol' contains a null element")
        v.asInstanceOf[Number].doubleValue()
      }.toSeq)
    require(vecs.length <= maxBench,
      s"benchmark side exceeds maxBench=$maxBench embeddings — that is a " +
        "corpus, not a benchmark; use semanticDecontaminateLarge (the " +
        "banded-BQ probe route)")
    if (vecs.isEmpty) corpus
    else {
      val dims = vecs.head.length
      require(vecs.forall(_.length == dims),
        s"benchmark embeddings have mixed widths (${vecs.map(_.length).distinct.sorted.mkString(",")})")
      val benchLit = typedLit(vecs.toSeq)
      val e = transform(col(embCol), x => x.cast("double"))
      // explicit width guard: the compiled cosine kernel dots over the
      // SHORTER length (norms over each full vector), so a truncated
      // row could fake a match instead of keeping. And an explicit NaN
      // guard: a zero-norm vector on either side gives cosine NaN, and
      // Spark's NaN-safe ordering puts NaN ABOVE every value — without
      // the guard one all-zero benchmark embedding would "hit" (and
      // silently drop) the entire corpus
      def hit(b: Column): Column = {
        val c = Similarity.cosine(e, b)
        !isnan(c) && c >= minCosine
      }
      corpus.filter(size(col(embCol)) =!= dims ||
        !coalesce(exists(benchLit, hit), lit(false)))
    }
  }

  /** Oversized-bench twin of `semanticDecontaminate` — the route its
    * bound-check error names. When the "benchmark" is itself
    * corpus-sized (a full eval-suite embedding dump, a held-out
    * split), a driver literal is off the table; here the bench runs
    * as a CODED PROBE BATCH: both sides BQ-encode (D bits/row —
    * `model` defaults to midrange training on the corpus,
    * deterministic like every codec here), band-collision candidates
    * come from the capped equi-join (`Similarity.bqBandCandidates` —
    * never an all-pairs product), and an EXACT cosine verify at
    * `minCosine` (per-pair width guard, NaN guard) decides the drop.
    * Corpus rows with a null/width-mismatched embedding KEEP (null
    * codes never band), matching the literal path's rule. The bench
    * needs NO id column: the operator keys bench vectors by a
    * content digest internally (identical vectors collapse —
    * harmless, they are redundant); bench embeddings with null
    * ELEMENTS drop from the bench (they cannot code — unlike the
    * literal path, which refuses them loudly at collect time).
    *
    * idCol contract, stated: the drop is realized as an anti-join on
    * the CORPUS id (the literal path is row-local and needs none), so
    * idCol must be non-null — a contaminated corpus row with a NULL
    * id cannot be matched by the anti-join and KEEPS. Same id-keyed
    * contract as `decontaminate`; key-fill null ids upstream.
    *
    * Honest recall contract, stated: the literal path is EXACT; this
    * route inherits the sign-LSH banding recall — a contaminated
    * pair colliding in no band (full-code Hamming > bands−1 and
    * unlucky beyond the s-curve) is missed. At the high `minCosine`
    * decontamination runs at (≥ ~0.9), near-dup pairs have small
    * Hamming and banding recall is near-certain; lower thresholds
    * should raise `bands`. A SECOND recall term is the bucket cap:
    * `bqBandCandidates` drops over-`maxBucket` band buckets WHOLE
    * (on either side, with observed drop counts under
    * `graft_semantic_decontam_cap`) — a corpus region or bench
    * cluster dense enough to blow a band's bucket silently
    * under-decontaminates; watch the drop metric and raise
    * `maxBucket` (or `bands`, which thins buckets) when it fires.
    * The parity fixture in BloomDecontamSpec pins literal == large
    * where both run.
    *
    * Scale shape: one coded pass per side, band-keyed capped
    * equi-join, float cosines only for the candidate pairs, one
    * distinct + anti-join on the corpus id — no corpus×bench blowup
    * anywhere. */
  def semanticDecontaminateLarge(corpus: DataFrame, embCol: String,
      idCol: String, bench: DataFrame, benchEmbCol: String,
      minCosine: Double,
      model: Option[Similarity.BqModel] = None, bands: Int = 0,
      maxBucket: Int = HotKeys.DefaultBucketCap): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    val m = model.getOrElse(Similarity.bqTrain(corpus, embCol))
    val corpusCoded = Similarity.bqAssign(
      corpus.select(col(idCol), col(embCol)), embCol, m)
    // content-keyed bench: a null or unstable user id must not be able
    // to silently disconnect the candidate and verify branches
    val bemb = bench.select(col(benchEmbCol).as("_be"))
      .filter(col("_be").isNotNull &&
        !exists(col("_be"), x => x.isNull))
      .withColumn("_bid", md5(to_json(struct(col("_be")))))
      .dropDuplicates("_bid")
    val benchCoded = Similarity.bqAssign(bemb, "_be", m)
      .select(col("_bid").as(idCol), col("bq_code"))
    val cands = Similarity.bqBandCandidates(benchCoded, corpusCoded, idCol,
      m, bands, maxBucket = maxBucket,
      metricName = "graft_semantic_decontam_cap")
    val asD = (c: org.apache.spark.sql.Column) =>
      transform(c, x => x.cast("double"))
    val cos = Similarity.cosine(asD(col("_ce")), asD(col("_be")))
    val hits = cands
      .join(corpus.select(col(idCol).as("id_b"), col(embCol).as("_ce")), "id_b")
      .join(bemb.select(col("_bid").as("id_a"), col("_be")), "id_a")
      // per-pair width guard (the kernel dots over the shorter length)
      // + NaN guard (zero-norm vectors must not drop the corpus) —
      // the same two rules the literal path compiles into its kernel
      .filter(size(col("_ce")) === size(col("_be")))
      .filter(!isnan(cos) && cos >= minCosine)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  def decontaminate(corpus: DataFrame, textCol: String, idCol: String,
      bench: DataFrame, benchTextCol: String = "text",
      benchIdCol: String = "doc_id",
      n: Int = 3, minContainment: Double = 0.8,
      benchBloomFpp: Option[Double] = None): DataFrame = {
    val contaminated = benchmarkContainment(corpus, textCol, idCol,
      bench, benchTextCol, benchIdCol, n, minContainment, benchBloomFpp)
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** SimHash64 of a token array: per-token md5-derived 64-bit hash,
    * bitwise majority vote. A compiled Catalyst expression
    * (functions.SimHash64Expr) with a ThreadLocal digest — it runs
    * map-side per document inside whole-stage codegen, so only one
    * long per doc ever shuffles. NULL tokens array -> NULL. */
  def simhash64(tokensCol: Column): Column =
    graft.functions.TextExpressions.simhash64(tokensCol)

  /** SimHash64 straight from the text column — tokenization happens
    * inside the compiled kernel, so the plan has no interpreted
    * tokenizer lambda at all (preferred form at scale). */
  def simhash64Text(text: Column): Column =
    graft.functions.TextExpressions.simhash64_text(text)

  /** The band layout of every 64-bit signature family (SimHash text,
    * image dHash, audio fingerprint, the positional frame and segment
    * signatures): four 16-bit slots, slot `k` holding bits
    * [16k, 16k+16) of `h`. Two signatures within 3 bits agree on at
    * least one slot (pigeonhole), which is what makes every band
    * search and probe here exact at `maxHamming <= 3`. */
  private[operators] def hashBand(h: Column, k: Int): Column =
    shiftrightunsigned(h, 16 * k).bitwiseAND(lit(65535L))

  /** `h`'s four band slots as `posexplode` rows (slot, band value). */
  private[operators] def explodeBands(h: Column): Column =
    posexplode(array((0 until 4).map(hashBand(h, _)): _*))

  /** `ids` + the non-null signatures of `hashCol` as long `_h` — the
    * classic layout's signature frame. */
  private def signatures(df: DataFrame, hashCol: String,
      ids: Column*): DataFrame =
    df.select(ids :+ col(hashCol).cast("long").as("_h"): _*)
      .filter(col("_h").isNotNull)

  /** The in-memory probe artifact of every hash-band layout: `sig`'s
    * (posCols..., `_h`) rows explode into band rows, over-cap bands
    * drop whole (`HotKeys.cap`, observed drops), and each
    * (posCols..., `_k`, `_band`) collects its candidate hashes as
    * `_hs`. `posCols` is `Nil` for the classic layout and
    * `Seq("sample_pos")` for the positional one, whose probes only
    * ever compare same-position signatures. */
  private[operators] def bandIndex(sig: DataFrame, posCols: Seq[String],
      maxBucket: Int, metricName: String): DataFrame = {
    val keys = posCols ++ Seq("_k", "_band")
    val bands = sig
      .select(posCols.map(col) ++ Seq(col("_h"), explodeBands(col("_h"))): _*)
      .toDF(posCols ++ Seq("_h", "_k", "_band"): _*)
    HotKeys.cap(bands, keys.map(col), maxBucket, minPerKey = 1,
        metricName = metricName)
      .groupBy(keys.head, keys.tail: _*)
      .agg(collect_list("_h").as("_hs"))
  }

  /** The four-slot probe join every hash-band probe runs: `probe`
    * (carrying a long `_h`) left-joins, per slot `k`, the index's
    * candidate list for its own band value as `_cand$k` (null when the
    * band has none). For the positional layout `posCol` names the
    * probe column that must also equal the index's `sample_pos`.
    * `broadcastIndex` hints the index to every executor — right
    * whenever the capped index fits memory; pass false for an index
    * over billions of signatures and the joins take Spark's own
    * strategy. Adds the `_b$k`/`_cand$k` (and `_p$k`) working
    * columns. */
  private[operators] def probeBands(probe: DataFrame, index: DataFrame,
      posCol: Option[String], broadcastIndex: Boolean): DataFrame =
    (0 until 4).foldLeft(probe) { (cur, k) =>
      val side = index.filter(col("_k") === k).select(
        posCol.map(_ => col("sample_pos").as(s"_p$k")).toSeq ++
          Seq(col("_band").as(s"_b$k"), col("_hs").as(s"_cand$k")): _*)
      val onBand = col(s"_b$k") <=> hashBand(col("_h"), k)
      cur.join(if (broadcastIndex) broadcast(side) else side,
        posCol.fold(onBand)(p => col(s"_p$k") === col(p) && onBand), "left")
    }

  /** After `probeBands`: does any candidate sit within `maxHamming`
    * bits of the row's `_h`. */
  private[operators] def bandHit(maxHamming: Int): Column =
    (0 until 4).map(k =>
        coalesce(exists(col(s"_cand$k"),
          h => bit_count(h.bitwiseXOR(col("_h"))) <= maxHamming), lit(false)))
      .reduce(_ || _)

  /** Hamming-banded near-dup pairs over ANY 64-bit signature column
    * (simhash64, perceptual image hash, audio fingerprint...): the
    * four 16-bit blocks are band keys — pigeonhole guarantees EXACT
    * recall at hamming <= 3 (a pair differing in <= 3 bits agrees on
    * at least one block); larger `maxHamming` keeps the same bands
    * and accepts partial recall. Pair expansion is bucket-local with
    * the signature carried through the bucket (never all-pairs), hot
    * bands capped with observed drop counts, cross-band duplicates
    * collapsed. Returns (id_a, id_b, hamming). */
  def hashNearDupPairs(df: DataFrame, hashCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_hash_band_cap"): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val bands = signatures(df, hashCol, col(idCol).as("_id"))
      .select(col("_id"), col("_h"), explodeBands(col("_h")))
      .toDF("_id", "_h", "k", "band")
    // spill-safe band-keyed sort-merge self-join (see
    // Similarity.pairsInBuckets); `id_a < id_b` orients pairs and
    // drops duplicate-id self-pairs; hamming is per-pair
    // deterministic, so the distance filter runs BEFORE the distinct
    // and far pairs never enter the dedup shuffle
    val (capL, capR) = HotKeys.capPair(bands, Seq(col("k"), col("band")),
      maxBucket, metricName = metricName)
    capL.select(col("k"), col("band"), col("_id").as("id_a"), col("_h").as("_ha"))
      .hint("merge")
      .join(capR.select(col("k"), col("band"), col("_id").as("id_b"),
        col("_h").as("_hb")), Seq("k", "band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("bigint").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Band index over a standing corpus's 64-bit signatures (simhash,
    * perceptual dHash, audio fingerprint): one row per (band slot,
    * band value) with the COLLECTED candidate hashes — the
    * probe-side artifact `hashNearDupFilterAgainst` joins. Hot bands
    * are capped BEFORE collection (observed drops, same HotKeys
    * contract as every bucket here), so a list is at most `maxBucket`
    * longs — the index is bands-keyed, bounded, and broadcastable for
    * any realistic standing corpus slice. This in-memory form keys
    * candidate lists by hash VALUE alone (no ids), so it cannot
    * forget a document; for a STANDING artifact that must honor
    * takedown requests, persist with `writeHashBandIndex` — its
    * id-carrying layout gives this family the same tombstone /
    * material-compaction lifecycle as the BM25 and IVF indexes
    * (`deleteFromHashBandIndex` / `compactHashBandIndex`), and
    * `readHashBandIndex` returns exactly this shape for the probes
    * and facades. */
  def hashBandIndex(standing: DataFrame, hashCol: String,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_hash_index_cap"): DataFrame =
    bandIndex(signatures(standing, hashCol), Nil, maxBucket, metricName)

  /** Drop rows whose signature sits within `maxHamming` of ANY
    * standing signature — the batch-vs-standing (and STREAM-vs-
    * standing) twin of `hashNearDupPairs`, built so the whole check
    * is append-mode legal: four stream-static EQUI-joins (one per
    * 16-bit band slot of the row's own hash) pull the standing
    * band's capped candidate list, and the drop decision is a
    * row-local `exists` of `bit_count(xor) <= maxHamming` over the
    * joined arrays — no stream aggregation, no state, no
    * watermark. Recall at `maxHamming <= 3` is exact by the same
    * pigeonhole as the pair search FOR PAIRS WHOSE SHARED BAND
    * SURVIVES the index's hot-band cap: `hashBandIndex` drops
    * over-cap bands whole (all-or-nothing, with observed drop
    * counts), so a batch hash ALL of whose colliding bands were hot
    * can miss even a hamming-0 standing twin — raise the index's
    * `maxBucket` (or treat its observed drops as the recall audit)
    * when that matters. Null signatures KEEP (nothing to
    * compare — the gates own those rows; for images that is the
    * undecodable-payload rule). Works identically on a batch frame —
    * the plan is plain joins + a filter either way. This is the
    * operator the prep facade's image tier points streams at: hash
    * row-locally (`Multimodal.withPerceptualHash`), build
    * `hashBandIndex` over yesterday's corpus, filter the intake.
    *
    * `broadcastIndex` (default true) hints the index to every
    * executor — right whenever the capped index fits memory, and what
    * keeps the stream path's per-batch cost at the batch. An index
    * over BILLIONS of standing signatures (4 rows × 8 bytes each
    * before capping) outgrows a broadcast: pass false there and the
    * four joins fall back to Spark's own strategy (shuffle in batch;
    * for a stream at that scale, pre-partition the index and accept
    * the per-batch static-side cost, or shard the filter). */
  def hashNearDupFilterAgainst(df: DataFrame, hashCol: String,
      index: DataFrame, maxHamming: Int = 3,
      broadcastIndex: Boolean = true): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val clash = df.columns.toSeq
      .intersect(Seq("_h") ++ (0 until 4).flatMap(k => Seq(s"_b$k", s"_cand$k")))
    require(clash.isEmpty,
      s"input columns ${clash.mkString(",")} collide with hashNearDupFilterAgainst's working names")
    probeBands(df.withColumn("_h", col(hashCol).cast("long")), index, None,
        broadcastIndex)
      .filter(col("_h").isNull || !bandHit(maxHamming))
      .drop("_h" +: (0 until 4).flatMap(k => Seq(s"_b$k", s"_cand$k")): _*)
  }

  // ------------------------------------------------------------------
  // Persisted hash-band index with the full deletion lifecycle, for
  // both layouts: classic (image dHash / audio fingerprint / SimHash
  // text) and positional (the `Multimodal` sampler tiers, whose rows
  // also carry `sample_pos`; the `*Frame` cores take the position
  // columns as `posCols`). Same takedown contract as BM25 and IVF:
  // tombstone deletes applied by every read immediately, material
  // removal + snapshot-safe tombstone clearing at compaction, and
  // telemetry from the artifact alone. The lock, version swap and
  // tombstone devices are the siblings' own (StandingIndex).
  // ------------------------------------------------------------------

  /** The served version dir ("no pointer" refuses). */
  private def currentHashIndexDir(fs: org.apache.hadoop.fs.FileSystem,
      path: String): String =
    StandingIndex.currentDir(fs, path, StandingIndex.HashBand)

  /** Persist a hash-band index WITH the document ids — the layout
    * that lets this index family FORGET: one exploded row per
    * (band slot `_k`, band value `_band`, doc `idCol`, signature
    * `_h`), capped per band all-or-nothing exactly like
    * `hashBandIndex` (an over-cap band drops WHOLE, with observed
    * drop counts — the id column does not change which bands
    * survive), plus the generation's one-row build record
    * `bands_vN/_meta` (ndocs / band counts / cap / layout) that stats,
    * deletes, growth and positional reads check against, derived from
    * observed metrics riding the data write — the whole build is ONE
    * Spark action plus the record write. The artifact is
    * signature-sized — at most 4 rows × (id + 8 bytes) per indexed
    * doc — never pixel/sample/text-sized, the same reason the
    * fingerprints were cheap to shuffle in the first place. `outFiles` bounds the data-file
    * count (default 4 — the artifact is bands-keyed and bounded, and
    * a probe's read re-collects the WHOLE frame, so file count is
    * pure open-cost; `hashBandIndexStats.files` vs
    * `IndexMaintenance`'s stripe threshold stays meaningful only
    * because writes and compactions bound it here).
    *
    * VERSIONED FROM BIRTH, like every standing-index family: the
    * data lands in `bands_v1/` and the atomic
    * `_current_v1` pointer create publishes it — so no state of this
    * index ever mixes root-level data files with a nested version
    * dir, and every compaction crash boundary leaves readers on a
    * complete older version (a half-written `bands_vN` is a sibling
    * the resolver never names). A rebuild over an existing index is
    * the same versioned rewrite as growth and compaction, from an
    * empty base: the new `bands_vN` is written beside the served
    * version, which keeps serving until the pointer swap — so a job
    * that fails mid-rebuild leaves the old index serving. Each
    * generation holds its own record: `_meta` is written inside
    * `bands_vN` before the pointer, so the pointer publishes data and
    * record together and no crash leaves a served generation without
    * one. The swap then clears the old versions (records included),
    * pointers and tombstones (deleted ids become re-addable; a crash
    * before that clear leaves them pending until a rerun). A live (or
    * crashed) compaction holds the rewrite lock, so the rebuild is
    * refused before any filesystem change; clearing a stale lock by
    * hand is the documented recovery.
    *
    * NO APPEND LEG, by contract rather than omission: appending rows
    * into a band that was cap-dropped at build would serve a PARTIAL
    * candidate list (the dropped rows are gone from the artifact),
    * silently violating the all-or-nothing cap honesty every probe's
    * recall argument rests on — and unlike the BM25 side there is no
    * probe-time df-gate to re-exclude the band. Growing the standing
    * side is therefore a REBUILD over the new signature frame, which
    * is signature-sized (4 rows × ~16 bytes per doc, one explode +
    * one capped write — the 50k-doc smoke rebuilds in ~2 s), never
    * media- or text-sized — and it needs NO external bookkeeping:
    * `rebuildHashBandIndex` reconstructs the surviving signature
    * frame from the artifact's own (id, `_h`) rows, unions the new
    * batch, and re-runs this write. */
  def writeHashBandIndex(standing: DataFrame, hashCol: String, idCol: String,
      path: String, maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_hash_index_write_cap",
      outFiles: Int = 4): Unit = {
    // the collision guard must fire BEFORE the frame prep: selecting
    // idCol next to hashCol.as("_h") with idCol == "_h" would die as
    // an ambiguous-column AnalysisException instead of this refusal
    requireIdCol(idCol)
    writeHashBandIndexFrame(signatures(standing, hashCol, col(idCol)), idCol,
      Nil, hashCol, path, maxBucket, metricName, outFiles)
  }

  private def requireIdCol(idCol: String): Unit =
    require(!Set("_k", "_band", "_h", "_hs", "sample_pos").contains(idCol),
      s"idCol '$idCol' collides with the family's internal/reserved column " +
        "names (sample_pos is the positional layout's key)")

  /** Family-shared write core over a PREPARED signature frame —
    * (idCol, posCols..., `_h`) — so the POSITIONAL layout (the
    * `Multimodal` sampler tiers, which key bands by sampled
    * position as well) runs the exact same cap / versioned-rewrite /
    * pointer / record machinery as the classic
    * single-hash family: `posCols` is empty for the classic layout
    * and `Seq("sample_pos")` for the positional one. Everything
    * downstream of the frame prep is shared — the two layouts cannot
    * drift. */
  private[operators] def writeHashBandIndexFrame(base: DataFrame,
      idCol: String, posCols: Seq[String], hashColName: String,
      path: String, maxBucket: Int, metricName: String,
      outFiles: Int, sampleCap: Long = -1L): Unit = {
    requireIdCol(idCol)
    require(outFiles >= 1, s"outFiles must be >= 1, got $outFiles")
    requireCap(maxBucket)
    val spark = base.sparkSession
    val fs = StandingIndex.fs(spark, path)
    // a rewrite from an empty base (see writeHashBandIndex); the
    // housekeeping is name-scoped, so anything else at the root
    // survives untouched (the root itself is never read as parquet —
    // only bands_vN is — so a surviving stranger is inert)
    StandingIndex.rewrite(fs, path, StandingIndex.HashBand) { (dir, _) =>
      Some(writeBandsVersion(spark, fs, base, idCol, posCols, hashColName,
        path, dir, maxBucket, metricName, outFiles, sampleCap))
    }
    ()
  }

  /** A cap below one drops every band (each holds at least one row):
    * refused on the driver, before the lock and before any job. */
  private def requireCap(maxBucket: Int): Unit =
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket " +
      "(every band holds at least one row, so the cap would drop them all)")

  /** A generation's build record, one row at `bands_vN/_meta` under the
    * on-disk column names. `pos_col`/`sample_cap` record the
    * positional layout's shape ("" / -1 for the classic family) so
    * growth and positional reads refuse a different sampling width;
    * `hash_col` is the SOURCE column the signatures were computed from
    * (fleet-report legibility, never a probe semantic). */
  private[operators] final case class HashIndexMeta(ndocs: Long,
      total_bands: Long, cap_dropped_bands: Long, max_bucket: Long,
      id_col: String, pos_col: String, sample_cap: Long, hash_col: String)

  /** The record of the served generation `gen`, the one reader of
    * `_meta`. */
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      gen: String): HashIndexMeta = {
    import spark.implicits._
    spark.read.parquet(metaDir(fs, path, gen)).as[HashIndexMeta].head()
  }

  /** `gen`'s record dir. A generation without one — a root written
    * before each generation held its own record — still serves classic
    * probes; everything that needs the record (stats, deletes, growth,
    * positional reads, compaction's copy) refuses here, naming the
    * rebuild. */
  private def metaDir(fs: org.apache.hadoop.fs.FileSystem, path: String,
      gen: String): String = {
    val dir = s"$gen/_meta"
    require(fs.exists(new org.apache.hadoop.fs.Path(dir)),
      s"index at $path has no _meta record in its served generation " +
        s"$gen — stats, deletes, growth and positional reads need it; " +
        "rebuild with writeHashBandIndex (or the tier's Multimodal write)")
    dir
  }

  /** Shared VERSIONED band write — the core of both
    * `writeHashBandIndex` (a rewrite from an empty base) and
    * `rebuildHashBandIndex` (v_{max+1}, under the compaction lock),
    * so the cap semantics, metric names, zero-survivor refusal and
    * exact statistics cannot drift between the two paths. Explodes
    * the (idCol, `_h`) frame into four 16-bit band rows, caps bands
    * all-or-nothing (HotKeys.cap's window shape via HotKeys.counted,
    * minPerKey = 1), writes the version dir `dir`, and records its
    * exact (ndocs, totalBands, capDroppedBands) in `dir/_meta` — the
    * statistics ride the write as observed metrics (the band write is
    * ONE Spark action).
    * Exactness device: observe forbids distinct aggregates, so a
    * row_number over the same band partition marks exactly ONE row
    * per band and integer sums of the marker count bands EXACTLY —
    * no float-accumulation bound to argue at any scale (the ordered
    * window adds a per-band sort to the rare (re)build path).
    * A ZERO-survivor result is REFUSED (the half-written version dir
    * deleted first): publishing it would serve an unreadable or
    * empty index; callers guarantee the surrounding state stays safe
    * (the write path has not created its pointer yet; the rebuild
    * path still serves the previous version). */
  private def writeBandsVersion(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, base: DataFrame, idCol: String,
      posCols: Seq[String], hashCol: String, path: String, dir: String,
      maxBucket: Int, metricName: String, outFiles: Int,
      sampleCap: Long): Unit = {
    // PERSIST the signature frame for the duration of the write: it is
    // signature-sized (~16 bytes per doc/frame) so the cache is cheap,
    // and it keeps the DEGRADED paths artifact-sized — the
    // zero-survivor isEmpty check and the metrics-timeout fallback
    // recounts below re-execute `base`, which for the positional (GIF)
    // family is the lazy decode of the standing corpus: without the
    // cache, a wedged listener bus would re-decode every animation two
    // more times, betraying the decode-once contract on exactly the
    // long builds most likely to miss the delivery window. (Lazy — the
    // happy path stays ONE action; the write populates the cache.)
    base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // a "band" is keyed by (posCols..., _k, _band): empty posCols is
    // the classic single-hash layout; Seq("sample_pos") keys the
    // positional (GIF) layout so a probe only ever compares
    // same-position frames
    val bandKeys = posCols.map(col) ++ Seq(col("_k"), col("_band"))
    val bands = base.select(Seq(col(idCol)) ++ posCols.map(col) ++
        Seq(col("_h"), explodeBands(col("_h"))): _*)
      .toDF(Seq(idCol) ++ posCols ++ Seq("_h", "_k", "_band"): _*)
      .select(Seq(col("_k"), col("_band")) ++ posCols.map(col) ++
        Seq(col(idCol), col("_h")): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bandKeys: _*)
    val first = row_number()
      .over(w.orderBy(col(idCol), col("_h"))) === 1
    val ob = org.apache.spark.sql.Observation(metricName)
    HotKeys.counted(bands, bandKeys)
      .withColumn("_first", first)
      .observe(ob,
        coalesce(sum(when(col("_key_n") > maxBucket, 1).otherwise(0)),
          lit(0L)).as("dropped_rows"),
        coalesce(sum(when(col("_first") && col("_key_n") > maxBucket, 1)
          .otherwise(0)), lit(0L)).as("hot_keys_est"),
        coalesce(max(col("_key_n")), lit(0L)).as("max_key_rows"),
        count(lit(1)).as("rows_total"),
        coalesce(sum(when(col("_first"), 1).otherwise(0)), lit(0L))
          .as("bands_total"),
        coalesce(sum(when(col("_key_n") <= maxBucket, 1).otherwise(0)),
          lit(0L)).as("kept_rows"))
      .filter(col("_key_n") <= maxBucket)
      .drop("_key_n", "_first")
      .repartition(outFiles, col("_k"), col("_band"))
      .write.mode("overwrite").parquet(dir)
    // metrics can be LOST in exactly one corner (HotKeys.cap's own
    // documented caveat): a ZERO-survivor write lets AQE's
    // empty-relation propagation prune the CollectMetrics node before
    // anything is observed, and `Observation.get` blocks indefinitely.
    // "No data file in the written dir" already PROVES kept == 0 with
    // no waiting (FileFormatWriter only opens a file when a row
    // arrives); when data exists the metrics node executed, and a
    // bounded wait on the observation's future guards the async
    // listener-bus delivery, falling back to explicit recount jobs.
    val hasData = StandingIndex.dataFiles(fs, dir)._1 > 0
    def refuse(hadInput: Boolean): Nothing = {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      if (hadInput)
        throw new IllegalArgumentException(
          s"every band under $path exceeded maxBucket=$maxBucket — the " +
            "all-or-nothing cap would drop the whole index; raise " +
            "maxBucket or reconsider the signature")
      else if (posCols.nonEmpty)
        throw new IllegalArgumentException(
          s"no indexable rows for $path — the standing frame is empty or " +
            s"no '$hashCol' payload decoded to any frame (undecodable " +
            "animations emit zero frames by contract; the gates own those " +
            "rows, but an index over them would be empty)")
      else
        throw new IllegalArgumentException(
          s"no indexable rows for $path — the standing frame is empty " +
            s"or every '$hashCol' is null")
    }
    if (!hasData) refuse(!base.isEmpty)
    val (ndocs, totalBands, droppedBands, keptRows) =
      try {
        val m = scala.concurrent.Await.result(ob.future,
          scala.concurrent.duration.Duration(60, "s"))
        // every signature row (doc, or sampled frame in the positional
        // layout) emits exactly 4 band rows pre-cap
        (m.getAs[Long]("rows_total") / 4, m.getAs[Long]("bands_total"),
          m.getAs[Long]("hot_keys_est"), m.getAs[Long]("kept_rows"))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          val keyNames = posCols ++ Seq("_k", "_band")
          val nd = base.count()
          val tb = bands.select(keyNames.head, keyNames.tail: _*)
            .distinct().count()
          val written = spark.read.parquet(dir)
          val kb = written.select(keyNames.head, keyNames.tail: _*)
            .distinct().count()
          (nd, tb, tb - kb, written.count())
      }
    // the writer CAN emit footer-only files for an all-dropped result
    // (observed: one empty part file), so "data file exists" does not
    // prove survivors — the explicit kept count does
    if (keptRows == 0L) refuse(ndocs > 0L)
    import spark.implicits._
    Seq(HashIndexMeta(ndocs, totalBands, droppedBands, maxBucket, idCol,
        posCols.headOption.getOrElse(""), sampleCap, hashCol)).toDF()
      .coalesce(1).write.parquet(s"$dir/_meta")
    } finally { base.unpersist(); () }
  }

  /** Read a persisted hash-band index back in the PROBE shape —
    * (`_k`, `_band`, `_hs`), exactly what `hashNearDupFilterAgainst`
    * and the facades' `imageIndex`/`audioIndex` arguments take, so a
    * persisted index is a drop-in for the in-memory `hashBandIndex`.
    * Resolves the compaction version pointer and applies pending
    * `deleteFromHashBandIndex` tombstones as a broadcast anti-join on
    * the id BEFORE re-collecting the candidate lists — a deleted
    * doc's signature leaves a list only when NO surviving doc shares
    * that (band, hash), which is exactly the fresh-rebuild-minus-docs
    * semantics (hash values are not ids; sharing is the reason the
    * in-memory form could not delete). Tombstones are read EAGERLY
    * (StandingIndex.localTombstones); the DATA files carry the reader
    * exposure stated on StandingIndex.rewrite — re-call
    * readHashBandIndex and the plan resolves the new version. A
    * classic read never opens the generation's `_meta` record, so a
    * root whose generation has none still serves probes.
    *
    * Cap honesty (the df-gate analog): a band cap-dropped at BUILD
    * does not resurrect on delete, even if the deletions brought its
    * true size back under the cap — this artifact no longer has the
    * dropped rows. Rebuild when that recall matters; the observed
    * drop counts and `hashBandIndexStats.capDroppedBands` are the
    * audit.
    *
    * Read once, CACHE across micro-batches: the returned frame pays a
    * `groupBy(_k, _band).collect_list` shuffle of the signature-sized
    * artifact on every execution, so a stream probing a persisted
    * index per-micro-batch should call this once at stream build and
    * `persist()` (or `localCheckpoint`) the result — the frame is
    * immutable between deletes/compactions, and re-reading per batch
    * re-shuffles it for nothing. Re-call only after a delete or
    * compaction (which is when the candidate lists actually change). */
  def readHashBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    readHashBandIndexFrame(spark, path, Nil)

  /** Generation `gen`'s rows, refused unless the artifact's layout
    * is `posCols`' — SCHEMA-DERIVED, not record-derived, so a classic
    * read needs no `_meta`. A mix-up would silently merge candidate
    * lists across positions (or probe a phantom position key). */
  private def bandsOf(spark: org.apache.spark.sql.SparkSession,
      path: String, gen: String, posCols: Seq[String]): DataFrame = {
    val data = spark.read.parquet(gen)
    val missing = posCols.filterNot(data.columns.contains)
    require(missing.isEmpty,
      s"index at $path does not carry position column(s) " +
        s"${missing.mkString(", ")} — it is a classic hash-band index; " +
        "read or grow it with Dedup.readHashBandIndex / rebuildHashBandIndex")
    require(posCols.nonEmpty || !data.columns.contains("sample_pos"),
      s"index at $path carries a sample_pos column — it is a POSITIONAL " +
        "index; read or grow it through its tier's Multimodal entry points " +
        "(e.g. readGifHashBandIndex / rebuildGifHashBandIndex) — or, if " +
        "this is a pre-r15 classic index whose idCol was literally named " +
        "sample_pos (a name now reserved family-wide), rebuild it under a " +
        "different id column name")
    data
  }

  /** Family-shared read core: resolve the version, apply tombstones,
    * re-collect candidate lists keyed by (posCols..., `_k`, `_band`).
    * The family check is schema-derived (see `bandsOf`): a positional
    * artifact read through the classic entry point (or vice versa) is
    * refused loudly instead of silently merging candidate lists
    * across frame positions. */
  private[operators] def readHashBandIndexFrame(
      spark: org.apache.spark.sql.SparkSession,
      path: String, posCols: Seq[String],
      expectSampleCap: Option[Long] = None): DataFrame = {
    val fs = StandingIndex.fs(spark, path)
    val gen = currentHashIndexDir(fs, path)
    val data = bandsOf(spark, path, gen, posCols)
    // sampling-width guard (positional family): a probe built at a
    // different nFrames than the index would compare DIFFERENT frames
    // per position — silent mixed sampling
    expectSampleCap.foreach { want =>
      val built = readMeta(spark, fs, path, gen).sample_cap
      require(built == want,
        s"index at $path was built with sample width $built (nFrames); " +
          s"this read expects $want — probe with the build's width, or " +
          "rebuild the index at the new width")
    }
    val live = StandingIndex.withoutTombstones(data,
      StandingIndex.tombstoneFiles(fs, path))
    val keys = posCols ++ Seq("_k", "_band")
    live.groupBy(keys.head, keys.tail: _*).agg(collect_list("_h").as("_hs"))
  }

  /** Delete documents from a persisted hash-band index — the takedown
    * path the in-memory form cannot have, and the exact shape of
    * `Similarity.deleteFromIndex`: a TOMBSTONE (`_tombstones/` under
    * the index root) that `readHashBandIndex` applies immediately
    * (every probe built on a read stops matching the ids' signatures
    * at once — a deleted doc's fingerprint no longer suppresses new
    * intake as "duplicate of a deleted doc"), with the bytes leaving
    * at the next `compactHashBandIndex`. No stats/meta repair is
    * needed (band lists carry no corpus statistics — unlike BM25's
    * df), so the tombstone IS the whole deletion. Duplicate and
    * already-deleted ids are harmless (the anti-join is idempotent).
    * `idCol` must be the indexed ID column and specifically NOT a
    * band/slot column — tombstoning by `_band` would silently erase
    * whole candidate lists, so that mix-up is refused here. */
  def deleteFromHashBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): Unit = {
    // tombstoning by band, hash or frame position would silently
    // delete every doc sharing it
    requireIdCol(idCol)
    // refuse a wrong id column BEFORE the first tombstone lands (the
    // BM25 sibling's id_col check): the tombstone-column consistency
    // guard below only fires once tombstones exist, so an unchecked
    // first delete with a mistyped column would persist a tombstone
    // frame every later read's anti-join dies on — a poisoned index
    // over a refusable request
    val fs = StandingIndex.fs(spark, path)
    val builtWith =
      readMeta(spark, fs, path, currentHashIndexDir(fs, path)).id_col
    require(builtWith == idCol,
      s"index at $path was built with idCol '$builtWith', got '$idCol'")
    StandingIndex.refuseIfCompacting(fs, path)
    StandingIndex.appendTombstones(fs, path, ids, idCol)
  }

  /** Compact a persisted hash-band index: apply pending tombstones
    * MATERIALLY (the deleted docs' rows leave the four band lists for
    * real) and clear exactly the tombstone-file SNAPSHOT this rewrite
    * read. Crash-safety is `StandingIndex.rewrite`'s
    * versioned swap, TIGHTENED by the versioned-from-birth layout: the
    * rewrite lands in `bands_vN/` — a SIBLING of the servable
    * `bands_v(N-1)/`, never nested inside any read path. No
    * cap re-application: bands were capped all-or-nothing at build,
    * deletes only shrink lists, and cap-dropped bands stay dropped
    * (see `readHashBandIndex`'s honesty contract) — so a
    * post-compaction probe is bit-identical to a pre-compaction probe
    * over the same tombstones — and the new generation carries the
    * served one's `_meta` record over unchanged, so stats keep reporting
    * the build's counts. `outFiles` bounds the rewrite's file
    * count to the write-side default, so `IndexMaintenance`'s stripe
    * signal CLEARS after a compaction instead of re-firing forever.
    * An index whose EVERY row is deleted skips the rewrite (the
    * empty-dir corner both siblings refuse) and keeps its
    * tombstones — probes stay correct through the anti-join; the way
    * out is a rebuild (`writeHashBandIndex`, which clears them). */
  def compactHashBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, outFiles: Int = 4): Unit = {
    require(outFiles >= 1, s"outFiles must be >= 1, got $outFiles")
    val fs = StandingIndex.fs(spark, path)
    require(StandingIndex.versions(fs, path).nonEmpty,
      s"no published version pointer under $path — either a rebuild " +
        "crashed before publishing, or this dir was not written by " +
        "writeHashBandIndex (the layout is versioned from birth); " +
        "rebuild with writeHashBandIndex")
    StandingIndex.rewrite(fs, path, StandingIndex.HashBand) { (dir, tombSnapshot) =>
      val gen = currentHashIndexDir(fs, path)
      val meta = metaDir(fs, path, gen)
      val data = StandingIndex.withoutTombstones(
        spark.read.parquet(gen), tombSnapshot)
      if (data.isEmpty) None
      else {
        data.repartition(outFiles, col("_k"), col("_band"))
          .write.mode("overwrite").parquet(dir)
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(meta), fs,
          new org.apache.hadoop.fs.Path(s"$dir/_meta"), false, fs.getConf)
        Some(())
      }
    }
    ()
  }

  /** GROW a persisted hash-band index from its own rows — the path
    * that retires the external-bookkeeping requirement the no-append
    * contract used to impose ("keep the (id, hash) frame around"):
    * the artifact itself carries one (id, `_h`) pair per surviving
    * band row, so this rebuild reconstructs the surviving signature
    * frame FROM the current version (minus pending tombstones),
    * unions the new docs' signatures, and re-runs the capped
    * versioned write. Cost is one signature-sized artifact read plus
    * one capped write — the standing corpus is never re-hashed and
    * its media/text never touched, which is the whole point: growth
    * now needs nothing but the index and the new batch.
    *
    * Why a rebuild and not an append (the contract on
    * `writeHashBandIndex` still holds): appending into a band that
    * was cap-dropped at build would serve a PARTIAL candidate list
    * with no probe-time gate to re-exclude it. The rebuild re-caps
    * every band over the full reconstructed frame, so all-or-nothing
    * honesty survives growth.
    *
    * Equivalence: the result is writeHashBandIndex over
    * (surviving standing signatures ∪ new batch) — EXACT when the
    * prior build cap-dropped nothing (`capDroppedBands == 0`, the
    * common case, auditable from stats). When bands HAD been
    * dropped: a doc that survived in >= 1 band is reconstructed
    * WHOLE (the explode re-derives all four bands from `_h`), so the
    * only divergence from a true fresh-over-union build is docs
    * whose EVERY band was over cap — those are absent from the
    * artifact and stay absent, a loss the build already announced in
    * its drop metrics. Tombstoned ids leave for real (materialized
    * into the rewrite; the snapshot of tombstone files it applied is
    * cleared after the swap), so deleted ids become re-addable —
    * fresh-minus-deleted semantics, same as the siblings' rebuilds.
    *
    * NON-DESTRUCTIVE by construction: the rewrite lands as the NEXT
    * `bands_vN` while the current version — this rebuild's only
    * source — keeps serving, and the atomic pointer create is the
    * swap (the compaction device, under the same
    * `_compact_inprogress` lock, so deletes/compactions/rebuilds
    * mutually refuse). The grown generation's `_meta` record is
    * written inside it before the pointer, so a crash at ANY boundary
    * leaves a complete servable index whose record describes it;
    * rerun with the same batch. A grown frame whose every band would
    * be cap-dropped is refused with the OLD version untouched.
    *
    * The union deduplicates on (id, `_h`): re-submitting an
    * already-indexed doc with the same hash is a no-op; the same id
    * with a DIFFERENT hash keeps both rows (this index has no
    * id-uniqueness invariant — delete first to re-hash a doc).
    * `maxBucket` defaults to the index's own build-time cap (from
    * the served generation's `_meta`); an explicit one below 1 is
    * refused before anything is read. */
  def rebuildHashBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame, hashCol: String, idCol: String,
      maxBucket: Option[Int] = None,
      metricName: String = "graft_hash_index_rebuild_cap",
      outFiles: Int = 4): Unit = {
    // same eager guard as writeHashBandIndex: refuse before the frame
    // prep's select can die ambiguous
    requireIdCol(idCol)
    rebuildHashBandIndexFrame(spark, path,
      signatures(newDocs, hashCol, col(idCol)), idCol, Nil, maxBucket,
      metricName, outFiles, hashCol)
  }

  /** Family-shared growth-rebuild core over a PREPARED new-signature
    * frame — (idCol, posCols..., `_h`) — the exact machinery of
    * `rebuildHashBandIndex`, with the positional layout reached
    * through the `Multimodal` sampler tiers' rebuilds (which decode
    * the new batch's signatures first). The reconstructed
    * surviving frame carries the position columns straight from the
    * artifact's own rows, so growth keys bands identically to the
    * build. The family check is schema-derived like the read side's:
    * growing a positional artifact through the classic entry point
    * (or vice versa) is refused before any write (the refusal
    * releases the rewrite lock; the served index is untouched). */
  private[operators] def rebuildHashBandIndexFrame(
      spark: org.apache.spark.sql.SparkSession,
      path: String, newSig: DataFrame, idCol: String, posCols: Seq[String],
      maxBucket: Option[Int],
      metricName: String, outFiles: Int,
      hashColName: String = "_h", sampleCap: Long = -1L): Unit = {
    maxBucket.foreach(requireCap)
    val fs = StandingIndex.fs(spark, path)
    val meta = readMeta(spark, fs, path, currentHashIndexDir(fs, path))
    val posCol = posCols.headOption.getOrElse("")
    require(meta.id_col == idCol,
      s"index at $path was built with idCol '${meta.id_col}', got '$idCol'")
    require(meta.pos_col == posCol,
      s"index at $path was built with position column " +
        s"'${meta.pos_col}' — this growth call expects '$posCol' (classic " +
        "and positional indexes grow through their own entry points)")
    // a positional index must grow with the SAME frame-sampling width
    // it was built with: a wider/narrower nFrames would make probe
    // positions mean different things for old vs new animations —
    // silent mixed sampling, refused here from the build-time record
    require(meta.sample_cap == sampleCap,
      s"index at $path was built with sample width ${meta.sample_cap} " +
        s"(nFrames); this growth call uses $sampleCap — grow with the " +
        "build's width, or rebuild from scratch at the new width")
    val cap = maxBucket.getOrElse(meta.max_bucket.toInt)
    // the compaction-shaped NON-DESTRUCTIVE rewrite (see the scaladoc
    // on rebuildHashBandIndex)
    StandingIndex.rewrite(fs, path, StandingIndex.HashBand) {
        (dir, tombSnapshot) =>
      val data = bandsOf(spark, path, currentHashIndexDir(fs, path), posCols)
      val sigCols = Seq(col(idCol)) ++ posCols.map(col) :+ col("_h")
      val unioned = StandingIndex.withoutTombstones(data, tombSnapshot)
        .select(sigCols: _*)
        .unionByName(newSig.select(sigCols: _*))
        .distinct()
      Some(writeBandsVersion(spark, fs, unioned, idCol, posCols, hashColName,
        path, dir, cap, metricName, outFiles, sampleCap))
    }
    ()
  }

  /** Lifecycle telemetry for a persisted hash-band index, from the
    * artifact alone — the third `rows`-aligned stats twin
    * (`TextStats.bm25IndexStats` / `Similarity.indexStats`), so ONE
    * compaction-cadence policy can feed on all three families:
    * `rows` counts ON-DISK rows, servable = rows − tombstonedRows.
    * `capDroppedBands`/`maxBucket`/`ndocs`/`posCol`/`hashCol` come
    * from the served generation's `_meta` record (a compaction carries
    * its build's record over) — capDroppedBands is the standing recall
    * audit `readHashBandIndex`'s cap-honesty contract points at. Cost:
    * one filesystem walk + one artifact read; the media/corpus is
    * never touched. */
  final case class HashBandIndexStats(indexDir: String, bands: Long,
      rows: Long, files: Long, bytes: Long,
      tombstonedIds: Long, tombstonedRows: Long,
      capDroppedBands: Long, maxBucket: Long, ndocs: Long,
      posCol: String = "", hashCol: String = "")

  def hashBandIndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): HashBandIndexStats = {
    val fs = StandingIndex.fs(spark, path)
    val dir = currentHashIndexDir(fs, path)
    val meta = readMeta(spark, fs, path, dir)
    val (files, bytes, _) = StandingIndex.dataFiles(fs, dir)
    val data = spark.read.parquet(dir)
    // the positional layout keys bands by sampled position too —
    // counting (_k, _band) alone there would under-report bands to
    // the health policy
    val bandKeyCols = (Seq(meta.pos_col).filter(_.nonEmpty) ++
      Seq("_k", "_band")).map(col)
    val agg0 = data.agg(count(lit(1)).as("n"),
      count_distinct(bandKeyCols.head, bandKeyCols.tail: _*).as("b"))
      .collect()(0)
    val (tombIds, tombRows) = StandingIndex.tombstoneCounts(data,
      StandingIndex.tombstoneFiles(fs, path))
    HashBandIndexStats(dir, agg0.getLong(1), agg0.getLong(0), files, bytes,
      tombIds, tombRows, meta.cap_dropped_bands, meta.max_bucket,
      meta.ndocs, meta.pos_col, meta.hash_col)
  }
}

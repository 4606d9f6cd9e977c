package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorExpressions => VE}

/** Approximate-nearest-neighbor operators over an embedding column
  * (`array<float>`) — library form of q37-q39. Baseline: brute-force
  * cosine against a broadcast query vector; scale path: sign-LSH
  * bucketing so probes search ~n/2^bits rows (SCALE.md §4). */
object Similarity {

  /** Cosine similarity between two double-array columns — a compiled
    * Catalyst kernel (functions.CosineSim): one primitive-double pass
    * per row inside whole-stage codegen, with accumulation order (and
    * therefore bits) identical to the aggregate(zip_with(...)) HOF
    * formulation it replaced. */
  def cosine(a: Column, b: Column): Column = VE.cosine_sim(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force top-k against one query vector: the query is a
    * literal broadcast into the plan; one map-side pass + ordered
    * limit. */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val q = typedLit(query)
    // width guard: the cosine kernel scores unequal lengths over the
    // common prefix, so a mismatched row would carry a plausible
    // partial score. NaN guard: a zero-norm vector scores cosine NaN,
    // and Spark sorts NaN ABOVE every real value under desc — without
    // the filter it would take rank 1 for every query (and poison the
    // ground truth this function generates for the recall harness)
    exactTopK(df.filter(size(col(embCol)) === query.length), embCol, idCol, q, k)
  }

  /** Sign-LSH bucket key from the first `bits` dimensions. */
  def signBucket(embCol: Column, bits: Int): Column =
    concat_ws("", transform(slice(embCol, 1, bits),
      x => when(x >= lit(0f), "1").otherwise("0")))

  /** Bucketed ANN: assign buckets once, search only the query's
    * bucket. Returns top-k within the bucket — the recall/latency
    * trade the bucketed path buys at scale. */
  def bucketedTopK(df: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, bits: Int): DataFrame = {
    val queryBucket = query.take(bits).map(v => if (v >= 0) "1" else "0").mkString
    bruteForceTopK(
      df.filter(signBucket(col(embCol), bits) === queryBucket),
      embCol, idCol, query, k)
  }

  /** IVF index build: assign every vector to its nearest codebook
    * centroid in a single map-side pass — the codebook is a literal
    * inside the generated code (NearestCentroid expression), so
    * assignment shuffles NOTHING. A codebook is small by definition
    * (k-means output, KBs), which is why materializing it driver-side
    * is the correct trade, unlike collecting a data-sized dimension.
    * Cache or write the result once; every probe then reads one
    * inverted list (~n/K vectors). */
  def ivfAssign(df: DataFrame, codebook: Seq[(Long, Seq[Double])],
      embCol: String, cidCol: String = "cid"): DataFrame = {
    val dims = codebook.head._2.length
    // float input casts (the kernel's ExpectsInputTypes wants
    // array<double>); width-mismatched rows get a NULL cid — never
    // probed — instead of a common-prefix nearest centroid
    df.withColumn(cidCol,
      when(size(col(embCol)) === dims,
        VE.nearest_centroid(asDouble(col(embCol)), codebook)))
  }

  /** Inverted lists ranked by squared-L2 distance of their centroid to
    * the query (ties by cid) — the driver-side step of multi-probe: the
    * codebook is KBs by definition, so ranking it costs nothing and the
    * cluster-side plan stays a pushdown-friendly `cid IN (...)` scan. */
  private[operators] def rankInvertedLists(
      codebook: Seq[(Long, Seq[Double])], query: Seq[Double]): Seq[Long] =
    codebook.map { case (cid, ce) =>
      var s = 0.0; var i = 0
      val n = math.min(ce.length, query.length)
      while (i < n) { val d = ce(i) - query(i); s += d * d; i += 1 }
      (s, cid)
    }.sortBy(identity).map(_._2)

  /** `rankInvertedLists` as a per-row column: an array of
    * (squared-L2 distance, cid) structs over a literal codebook,
    * sorted ascending (struct field order ranks by distance, ties by
    * cid) — ONE definition for every operator that ranks a row's
    * embedding against the inverted lists, so the distance formula
    * and tie rule cannot drift between the pair-search variants and
    * the stream tier. */
  private def rankedListsCol(emb: Column,
      codebook: Seq[(Long, Seq[Double])]): Column =
    array_sort(transform(typedLit(codebook), c => struct(
      aggregate(zip_with(asDouble(emb), c.getField("_2"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v).as("d"),
      c.getField("_1").as("cid"))))

  /** The ANN probe family's closed codec type. Every probe — one query
    * or a batch, inverted lists or a flat scan — runs ONE list ranking,
    * probe join, shortlist and exact re-rank over it, and a case knows
    * only its own parts:
    *  - its kernel: the score of a row's code against a prepared query
    *    (Flat: the exact `cosine`; SQ8: `sq_adc_cos`, or `sq_adc_l2`
    *    for residual models; PQ: `pq_adc`; BQ: `bq_hamming`, or
    *    `bq_adc_dot` when asymmetric) and that score's sort direction;
    *  - its query preparation: normalize, shift by each probed list's
    *    normalized centroid (residual models), rotate (OPQ), encode
    *    (BQ Hamming) — on the driver for a single query, as columns
    *    for a batch;
    *  - whether its score is already the exact cosine (Flat) or keeps
    *    a shortlist of the `rerank` best scores (default max(4k, 32))
    *    for an exact-cosine re-rank;
    *  - its argument checks (query and residual-codebook width).
    *
    * Shared rules: lists rank by the RAW squared-L2 distance of their
    * centroid to the query (ties by cid) and the scan reads only the
    * `nprobe` nearest (`cid IN (...)`, partition-prunable on a
    * `writeIndex`ed index). Null shortlist scores DROP, so a null-coded
    * row behaves as if absent from the shortlist (a NaN score, which
    * would lead a descending sort, is nulled first; PQ drops NaN too).
    * With a `rerankFrom` store (a frame of `idCol` + `embCol`) the scan
    * never reads `embCol` — the index may be codes only — and the
    * shortlist joins the store by id (broadcast for one query;
    * AQE-sized for a batch); ids the store lacks drop. NaN exact
    * cosines (zero-norm rows) drop before the final sort, where Spark
    * would rank NaN first. A batch probe ranks each query's lists
    * against the broadcast codebook; `broadcastProbes` sizes its join
    * to the corpus (None: AQE decides at the ranking's window shuffle;
    * Some(true): broadcast; Some(false): shuffle both sides on the list
    * id — results are identical on every path). A wrong-width batch
    * query probes nothing, except under PQ, whose batch fails the job
    * loudly (`assert_true`), as its single query does on the driver.
    * Batch output is (qIdCol, idCol, cos, rank), the query id renamed
    * `q_<name>` when the two id columns share a name; `excludeSelf`
    * drops each member query's self-match. */
  private[operators] sealed trait Codec

  /** Raw vectors: the score is the exact cosine, so nothing shortlists. */
  private[operators] case object Flat extends Codec

  private[operators] sealed abstract class Coded(val model: String,
      val scoreName: String) extends Codec {
    def codeCol: String
    def dims: Int
    def residual: Boolean = false
    /** Score of `codeCol` against the prepared query column `q`. */
    def score(q: Column): Column
    def order: Column
    def keep: Column = col(scoreName).isNotNull
    /** OPQ rotation into the codebooks' frame (identity elsewhere). */
    def turn(v: Seq[Double]): Seq[Double] = v
    def turnCol(v: Column): Column = v
    /** The prepared single query, as a literal. */
    def queryLit(qn: Seq[Double]): Column = typedLit(turn(qn))
    /** Batch query columns carried through the list ranking, and the
      * one `score` reads. */
    def queryCols: Seq[String] = Seq("_qn")
    def batchQuery: String = "_qn"
    /** Batch wrong-width guard over the normalized `_qn`. */
    def guard(probes: DataFrame, qEmbCol: String): DataFrame =
      probes.withColumn("_qn", when(size(col("_qn")) === dims, col("_qn")))
    def check(query: Option[Seq[Double]], lists: Option[Lists]): Unit = {
      query.foreach(q => require(q.length == dims,
        s"query has ${q.length} dims but the $model codes $dims"))
      require(!residual || lists.forall(_.codebook.forall(_._2.length == dims)),
        s"coarse centroid dims != $model dims ($dims) — the residual query " +
          "shift would silently truncate or null-pad")
    }
  }

  /** The codecs with a code-vs-code (SDC) pair search: a direct code
    * assign and the two-sided approximate cosine. */
  private[operators] sealed trait Sdc {
    def tag: String
    def assign(df: DataFrame, embCol: String): DataFrame
    def sdc(a: Column, b: Column): Column
  }

  private[operators] final case class Sq8(m: SqModel, codeCol: String)
      extends Coded("SqModel", "_sqc") with Sdc {
    def dims: Int = m.dims
    def tag: String = "sq"
    def assign(df: DataFrame, embCol: String): DataFrame = sqAssign(df, embCol, m, codeCol)
    def sdc(a: Column, b: Column): Column = VE.sq_sdc_cos(a, b, m.mm)
    override def residual: Boolean = m.residual
    def score(q: Column): Column =
      if (m.residual) VE.sq_adc_l2(q, col(codeCol), m.mm)
      else { val a = VE.sq_adc_cos(q, col(codeCol), m.mm); when(!isnan(a), a) }
    def order: Column =
      if (m.residual) asc_nulls_last(scoreName) else desc_nulls_last(scoreName)
  }

  private[operators] final case class Pq(m: PqModel, codeCol: String)
      extends Coded("PqModel", "_adc") with Sdc {
    def dims: Int = m.dims
    def tag: String = "pq"
    def assign(df: DataFrame, embCol: String): DataFrame = pqAssign(df, embCol, m, codeCol)
    def sdc(a: Column, b: Column): Column = VE.pq_sdc_cos(a, b, m.codebooks)
    override def residual: Boolean = m.residual
    def score(q: Column): Column = VE.pq_adc(q, col(codeCol), m.codebooks)
    def order: Column = asc_nulls_last(scoreName)
    override def keep: Column = col(scoreName).isNotNull && !isnan(col(scoreName))
    override def turn(v: Seq[Double]): Seq[Double] = m.rotation.fold(v)(rotateVec(_, v))
    override def turnCol(v: Column): Column = m.rotation.fold(v)(VE.mat_vec(_, v))
    override def guard(probes: DataFrame, qEmbCol: String): DataFrame = probes
      .filter(col(qEmbCol).isNotNull)
      // assert_true returns null when the predicate holds, so the
      // filter keeps every valid row and cannot be pruned away
      .filter(assert_true(size(col(qEmbCol)) === dims,
        lit(s"probe embedding dims != PqModel dims ($dims)")).isNull)
  }

  private[operators] final case class Bq(m: BqModel, codeCol: String,
      asymmetric: Boolean) extends Coded("BqModel", "_bqh") {
    def dims: Int = m.dims
    def score(q: Column): Column =
      if (asymmetric) { val a = VE.bq_adc_dot(q, col(codeCol)); when(!isnan(a), a) }
      else VE.bq_hamming(q, col(codeCol)).cast("double")
    def order: Column =
      if (asymmetric) desc_nulls_last(scoreName) else asc_nulls_last(scoreName)
    // Hamming scores the query's code: bq_encode of a literal folds to
    // the code literal at optimization
    override def queryLit(qn: Seq[Double]): Column =
      if (asymmetric) typedLit(qn) else VE.bq_encode(typedLit(qn), m.thresholds)
    override def queryCols: Seq[String] = Seq("_qn", "_qc")
    override def batchQuery: String = if (asymmetric) "_qn" else "_qc"
    override def guard(probes: DataFrame, qEmbCol: String): DataFrame =
      super.guard(probes, qEmbCol)
        .withColumn("_qc", VE.bq_encode(col("_qn"), m.thresholds))
  }

  /** A probe's inverted lists: the coarse codebook, the probe width
    * and the list column; `broadcastProbes` sizes a batch probe join. */
  private[operators] final case class Lists(codebook: Seq[(Long, Seq[Double])],
      nprobe: Int, cidCol: String, broadcastProbes: Option[Boolean] = None)

  /** The family's shared argument checks; returns the shortlist size. */
  private def checkProbe(fn: String, codec: Codec, k: Int, rerank: Int,
      lists: Option[Lists], query: Option[Seq[Double]]): Int = {
    lists.foreach { l =>
      require(l.codebook.nonEmpty, s"$fn needs the codebook to rank inverted lists")
      require(l.nprobe >= 1, s"nprobe must be >= 1, got ${l.nprobe}")
    }
    codec match {
      case Flat => k
      case c: Coded =>
        c.check(query, lists)
        val rr = if (rerank > 0) rerank else math.max(4 * k, 32)
        require(rr >= k, s"rerank ($rr) must be >= k ($k)")
        rr
    }
  }

  /** Exact-cosine top-k of `rows` against the query column `q`. A NaN
    * score folds to null in the projection, and nulls sort last, so
    * dropping them after the limit keeps the same rows; a NaN filter
    * below the limit would be pushed into the scan or join and run
    * the cosine a second time per row. */
  private def exactTopK(rows: DataFrame, embCol: String, idCol: String,
      q: Column, k: Int): DataFrame =
    rows.select(col(idCol), nanvl(round(cosine(asDouble(col(embCol)), q), 4),
        lit(null).cast("double")).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
      .filter(col("cos").isNotNull)

  /** Per-query exact-cosine top-k of (`_qid`, `_qe`)-carrying rows. */
  private def exactTopKAll(rows: DataFrame, embCol: String, idCol: String,
      qIdCol: String, k: Int): DataFrame =
    rows.select(col("_qid"), col(idCol),
        round(cosine(asDouble(col(embCol)), col("_qe")), 4).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("_qid").orderBy(desc("cos"), col(idCol))))
      .filter(col("rank") <= k)
      .select(col("_qid").as(if (qIdCol == idCol) s"q_$qIdCol" else qIdCol),
        col(idCol), col("cos"), col("rank"))

  private def dropSelf(joined: DataFrame, idCol: String,
      excludeSelf: Boolean): DataFrame =
    if (excludeSelf) joined.filter(!(col(idCol) <=> col("_qid"))) else joined

  /** The single-query probe over `codec` (see Codec). */
  private def probeOne(fn: String, scan: DataFrame, embCol: String,
      idCol: String, query: Seq[Double], k: Int, codec: Codec,
      lists: Option[Lists], excludeId: Option[Long], rerank: Int = 0,
      rerankFrom: Option[DataFrame] = None): DataFrame = {
    val rr = checkProbe(fn, codec, k, rerank, lists, Some(query))
    val cids = lists.fold(Seq.empty[Long])(l =>
      rankInvertedLists(l.codebook, query).take(l.nprobe))
    val base = lists.fold(scan)(l => scan.filter(col(l.cidCol).isin(cids: _*)))
    val scoped = excludeId.fold(base)(id => base.filter(col(idCol) =!= id))
    codec match {
      case Flat =>
        // width guard: the cosine kernel scores unequal lengths over
        // the common prefix — a plausible partial score
        exactTopK(scoped.filter(size(col(embCol)) === query.length),
          embCol, idCol, typedLit(query), k)
      case c: Coded =>
        val qn = normalizeVec(query)
        val out = (s: Column) => col(idCol) +:
          rerankFrom.fold(Seq(col(embCol)))(_ => Nil) :+ s.as(c.scoreName)
        val scored = lists.filter(_ => c.residual).fold(
            scoped.select(out(c.score(c.queryLit(qn))): _*)) { l =>
          // residual: each probed list scores ITS shifted query
          // (q̂ − ĉ, rotated for OPQ), computed here and joined on the
          // list id from a KB-sized broadcast lookup, so the kernel and
          // its model literal appear once however wide the probe
          val spark = scan.sparkSession
          import spark.implicits._
          val cmap = l.codebook.toMap
          val shifted = cids.map(cid => (cid, c.turn(
            qn.zip(normalizeVec(cmap(cid))).map { case (a, b) => a - b })))
            .toDF("_scid", "_qs")
          scoped.join(broadcast(shifted), col(l.cidCol) === col("_scid"))
            .select(out(c.score(col("_qs"))): _*)
        }
        // every row `keep` drops sorts last (nulls-last orders; NaN
        // sorts above every number), so filtering after the limit keeps
        // the same rows — and keeps the filter off the scan, where it
        // would re-run an in-plan encode chain outside codegen
        val shortlist = scored.orderBy(c.order, col(idCol)).limit(rr).filter(c.keep)
        exactTopK(rerankFrom.fold(shortlist)(store => shortlist.hint("broadcast")
            .join(store.select(col(idCol), col(embCol)), Seq(idCol))),
          embCol, idCol, typedLit(query), k)
    }
  }

  /** The batch probe over `codec` (see Codec). Without `lists` the
    * probe side broadcasts against the whole scan (a nested loop —
    * probe-sized batches only). */
  private def probeBatch(fn: String, scan: DataFrame, embCol: String,
      idCol: String, queries: DataFrame, qIdCol: String, qEmbCol: String,
      k: Int, codec: Codec, lists: Option[Lists], excludeSelf: Boolean,
      rerank: Int = 0, rerankFrom: Option[DataFrame] = None): DataFrame = {
    val rr = checkProbe(fn, codec, k, rerank, lists, None)
    val q0 = queries.select(col(qIdCol), asDouble(col(qEmbCol)).as(qEmbCol))
    val (probes, qCols, listQ) = codec match {
      case Flat =>
        // a null or wrong-width query probes nothing: zip_with would
        // null-pad it, and its NULL list distances sort FIRST
        val d = lists.get.codebook.head._2.length
        (q0.withColumn(qEmbCol, when(size(col(qEmbCol)) === d, col(qEmbCol)))
          .filter(col(qEmbCol).isNotNull), Nil, Nil)
      case c: Coded =>
        val shift = if (c.residual) zip_with(col("_qn"), col("_cn"), (a, b) => a - b)
          else col("_qn")
        (c.guard(withNormalized(q0, qEmbCol, "_qn"), qEmbCol), c.queryCols,
          c.turnCol(shift).as("_qn") +: c.queryCols.tail.map(col))
    }
    val embSel = rerankFrom.fold(Seq(col(embCol)))(_ => Nil)
    val scoped = dropSelf(lists match {
      case Some(l) =>
        val spark = scan.sparkSession
        import spark.implicits._
        // _cn (the normalized centroid) is what residual shifts subtract
        val cb = l.codebook.map { case (cid, ce) => (cid, ce, normalizeVec(ce)) }
          .toDF("_cbid", "_ce", "_cn")
        val dist = aggregate(zip_with(col(qEmbCol), col("_ce"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
        val ranked = probes.join(broadcast(cb), lit(true))
          .select(Seq(col(qIdCol), col(qEmbCol)) ++ qCols.map(col) ++
            Seq(col("_cbid"), col("_cn"), dist.as("_d")): _*)
          .withColumn("_r", row_number().over(
            Window.partitionBy(qIdCol).orderBy(col("_d"), col("_cbid"))))
          .filter(col("_r") <= l.nprobe)
          .select(Seq(col(qIdCol).as("_qid"), col(qEmbCol).as("_qe")) ++ listQ :+
            col("_cbid"): _*)
        val on = col(l.cidCol) === col("_cbid")
        l.broadcastProbes match {
          case Some(true) => scan.join(broadcast(ranked), on)
          case Some(false) => scan.join(ranked.repartition(col("_cbid")), on)
          case None => scan.join(ranked, on)
        }
      case None =>
        val c = codec.asInstanceOf[Coded]
        scan.select(col(idCol) +: embSel :+ col(c.codeCol): _*)
          .join(broadcast(probes.select(Seq(col(qIdCol).as("_qid"),
            col(qEmbCol).as("_qe")) ++ qCols.map(col): _*)), lit(true))
    }, idCol, excludeSelf)
    codec match {
      case Flat => exactTopKAll(scoped, embCol, idCol, qIdCol, k)
      case c: Coded =>
        // the flat scan (bqProbeAll) keeps every joined column and
        // ranks into `_hr`, the plan shape q103/q104 are checked against
        val (kept, rankCol) =
          if (lists.isEmpty) (scoped.columns.toSeq.map(col), "_hr")
          else (Seq(col("_qid"), col(idCol)) ++ embSel :+ col("_qe"), "_ar")
        val shortlist = scoped
          .select(kept :+ c.score(col(c.batchQuery)).as(c.scoreName): _*)
          .filter(c.keep)
          .withColumn(rankCol, row_number().over(
            Window.partitionBy("_qid").orderBy(c.order, col(idCol))))
          .filter(col(rankCol) <= rr)
        exactTopKAll(rerankFrom.fold(shortlist)(store =>
            shortlist.join(store.select(col(idCol), col(embCol)), Seq(idCol))),
          embCol, idCol, qIdCol, k)
    }
  }

  /** IVF probe with an explicit query vector (the serving shape: the
    * query is not a corpus member) over raw vectors — see Codec.
    * nprobe is THE recall/latency knob: nprobe=1 reads ~n/K vectors
    * but misses neighbors across a Voronoi boundary; nprobe=p
    * multiplies work by p and recovers them (SimilaritySpec pins
    * recall@10 >= 0.9 at nprobe=4 where nprobe=1 demonstrably
    * misses). */
  def ivfProbeVec(assigned: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, codebook: Seq[(Long, Seq[Double])],
      nprobe: Int = 1, cidCol: String = "cid",
      excludeId: Option[Long] = None): DataFrame =
    probeOne("ivfProbeVec", assigned, embCol, idCol, query, k, Flat,
      Some(Lists(codebook, nprobe, cidCol)), excludeId)

  /** IVF probe over an assigned (indexed) corpus, query-by-member:
    * cosine top-k within the probe's inverted list(s). With the default
    * nprobe=1 the query row's own cid selects the single list via a
    * broadcast self-probe (no driver round-trip). With nprobe > 1 a
    * `codebook` is required: the query vector is fetched once (one
    * bounded single-row job, same order of cost as the codebook literal
    * itself) and the probe widens to the nprobe nearest lists via
    * ivfProbeVec. */
  def ivfProbe(assigned: DataFrame, embCol: String, idCol: String,
      queryVecId: Long, k: Int, cidCol: String = "cid",
      nprobe: Int = 1, codebook: Seq[(Long, Seq[Double])] = Nil): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    if (nprobe == 1) {
      val probe = assigned.filter(col(idCol) === queryVecId)
        .select(col(cidCol).as("_pcid"), col(embCol).as("_qe"))
      exactTopK(assigned.join(broadcast(probe), col(cidCol) === col("_pcid"))
          .filter(col(idCol) =!= queryVecId),
        embCol, idCol, asDouble(col("_qe")), k)
    } else {
      require(codebook.nonEmpty,
        "multi-probe (nprobe > 1) needs the codebook to rank inverted lists")
      val qrow = assigned.filter(col(idCol) === queryVecId)
        .select(asDouble(col(embCol))).limit(1).collect().headOption
      qrow.filterNot(_.isNullAt(0)).map(_.getSeq[Double](0).toSeq) match {
        case Some(query) =>
          ivfProbeVec(assigned, embCol, idCol, query, k, codebook, nprobe, cidCol,
            excludeId = Some(queryVecId))
        case None =>
          // parity with the nprobe=1 path: a missing member (or a null
          // embedding) probes nothing instead of crashing
          assigned.select(col(idCol), lit(0.0).as("cos")).limit(0)
      }
    }
  }

  /** Batch IVF probe — the throughput shape: MANY query vectors
    * answered in one distributed plan, no driver round-trip per query
    * (e.g. dedup-against-index of a whole new document batch); see
    * Codec for the list ranking, the `broadcastProbes` sizing and the
    * output. Single-query `ivfProbeVec` stays the low-latency path. */
  def ivfProbeAll(assigned: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      codebook: Seq[(Long, Seq[Double])], k: Int, nprobe: Int = 1,
      cidCol: String = "cid", excludeSelf: Boolean = false,
      broadcastProbes: Option[Boolean] = None): DataFrame =
    probeBatch("ivfProbeAll", assigned, embCol, idCol, queries, qIdCol, qEmbCol,
      k, Flat, Some(Lists(codebook, nprobe, cidCol, broadcastProbes)), excludeSelf)

  /** Persist an assigned IVF index bucketed by inverted list: parquet
    * partitioned by the centroid id, so a probe's `cid IN (...)`
    * filter becomes PARTITION PRUNING at the scan — an nprobe-list
    * probe physically reads only nprobe directories out of K, which is
    * the on-disk analogue of "search ~n/K vectors per list"
    * (SimilaritySpec pins the pruned scan in the plan).
    *
    * Every write is a `StandingIndex.rewrite` from an empty base into
    * a fresh `index_vN/`: the served generation keeps serving until the
    * pointer swap, so a job that fails mid-rebuild leaves the old index
    * (and its pending tombstones) as it was. After the swap the old
    * generations and the tombstones the rebuild read are gone, which
    * is also the documented way OUT of the all-rows-deleted state
    * compaction skips. A live (or crashed) compaction holds the
    * rewrite lock, so the rebuild is refused before any change. */
  def writeIndex(assigned: DataFrame, path: String,
      cidCol: String = "cid"): Unit = {
    val fs = StandingIndex.fs(assigned.sparkSession, path)
    StandingIndex.rewrite(fs, path, StandingIndex.Ivf) { (dir, _) =>
      assigned.write.partitionBy(cidCol).parquet(dir)
      Some(())
    }
    ()
  }

  /** Append a new batch to a persisted index — the daily-crawl shape:
    * assign (and PQ-code) the batch against the SAME codebook/model
    * that built the index, then append; each new file lands inside
    * its list's partition directory, so probes prune exactly as
    * before and never rewrite the standing index. Append cost follows
    * the batch. The caller owns codebook staleness: appending under a
    * retrained codebook mis-lists every old vector — persist the
    * codebook/model with the index (writeCodebook/writePqModel) and
    * rebuild when drift warrants it. */
  def appendIndex(assignedBatch: DataFrame, path: String,
      cidCol: String = "cid"): Unit = {
    val fs = StandingIndex.fs(assignedBatch.sparkSession, path)
    StandingIndex.refuseReAdds(fs, path, assignedBatch, "run compactIndex " +
      "first (it removes the deleted rows materially and clears the " +
      "tombstones), then append; if EVERY row of the index was deleted, " +
      "rebuild with writeIndex instead (compaction skips an all-deleted " +
      "index)")
    assignedBatch.write.mode("append").partitionBy(cidCol)
      .parquet(currentIndexDir(fs, path))
  }

  /** Delete vectors from a persisted IVF index — the ANN twin of
    * `TextStats.deleteFromBm25Index`, and the takedown shape: at
    * 100 TB a removal request cannot cost an index rebuild, so
    * deletion is a TOMBSTONE (`_tombstones/` under the index root,
    * beside the generations) that `readIndex` applies as a broadcast
    * anti-join;
    * every probe built on `readIndex` stops returning the ids
    * immediately, and the bytes leave at the next `compactIndex`
    * (which reads through the same anti-join, so its rewrite removes
    * the rows materially, then clears the tombstones).
    *
    * Unlike the BM25 side there is NO df/meta repair: IVF probes
    * score each candidate independently (no corpus-level statistics),
    * so dropping the rows IS the whole deletion — probe results equal
    * a fresh `writeIndex` over the surviving assignments under the
    * same frozen codebook/model (centroids do not unlearn the deleted
    * vectors; retrain + rebuild when drift warrants, the same
    * staleness contract as `appendIndex`). Duplicate and
    * already-deleted ids are harmless (the anti-join is idempotent),
    * so retries are safe. `idCol` must be the indexed ID column, and
    * specifically NOT the centroid/list column: an anti-join on `cid`
    * would resolve fine and silently erase whole inverted lists, so
    * that mix-up is refused here (on a wrong-but-absent column name,
    * `readIndex` fails loudly at the join instead). Compaction can
    * never erase a racing delete unapplied (it clears only the
    * tombstone-file snapshot it read), and the lock check below just
    * avoids starting a delete under a live compaction. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String,
      cidCol: String = "cid"): Unit = {
    require(idCol != cidCol,
      s"idCol '$idCol' is the centroid/list column — tombstoning by list " +
        "would silently delete every vector in the named lists; pass the " +
        "indexed ID column")
    val fs = StandingIndex.fs(spark, path)
    StandingIndex.refuseIfCompacting(fs, path)
    StandingIndex.appendTombstones(fs, path, ids, idCol)
  }

  /** The servable generation, `index_vN/`. */
  private def currentIndexDir(fs: org.apache.hadoop.fs.FileSystem,
      path: String): String =
    StandingIndex.currentDir(fs, path, StandingIndex.Ivf)

  /** Read a persisted IVF index back for probing (resolves the
    * compaction version pointer — see `compactIndex` — and applies
    * any pending `deleteFromIndex` tombstones as a broadcast
    * anti-join, so every probe and the compaction rewrite itself see
    * the post-delete index; the anti-join sits above the scan and
    * does not disturb the centroid-partition pruning probes rely on).
    * The tombstone ids are collected EAGERLY (see
    * `StandingIndex.localTombstones`). */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val fs = StandingIndex.fs(spark, path)
    StandingIndex.withoutTombstones(spark.read.parquet(currentIndexDir(fs, path)),
      StandingIndex.tombstoneFiles(fs, path))
  }

  /** Compact a persisted IVF index — the housekeeping pass
    * `appendIndex` accumulates toward, and the ANN twin of
    * `TextStats.compactBm25Index`: each append lands one file per
    * touched inverted-list partition, so after N daily batches a
    * probe of one list opens N files. Compaction rewrites the data
    * with ONE file per list (repartition on the centroid id before
    * the partitioned write), reading through `readIndex` — so pending
    * `deleteFromIndex` tombstones are applied MATERIALLY (the rows
    * leave, then the tombstones clear and the ids become re-addable).
    * No other semantic gate (the ANN index has no posting cap), so
    * probe results are BIT-IDENTICAL before and after. One corner: an
    * index whose every row is deleted skips the rewrite (a zero-row
    * partitioned write emits an unreadable dir) and KEEPS its
    * tombstones — probes stay correct through the anti-join, and the
    * way OUT of that degenerate state is a rebuild: `writeIndex`
    * supersedes the old generation and clears the tombstones
    * (spec-pinned), after which the ids are re-addable.
    *
    * Crash-safety is `StandingIndex.rewrite`'s versioned swap: the
    * rewrite lands in a fresh `index_vN/` beside the servable one and
    * publishes with one atomic pointer create. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      cidCol: String = "cid"): Unit = {
    val fs = StandingIndex.fs(spark, path)
    StandingIndex.rewrite(fs, path, StandingIndex.Ivf) { (dir, tombSnapshot) =>
      val data = StandingIndex.withoutTombstones(
        spark.read.parquet(currentIndexDir(fs, path)), tombSnapshot)
      require(data.columns.contains(cidCol),
        s"index at $path has no '$cidCol' column — wrong cidCol?")
      // a partitioned write of ZERO rows emits no files (no partition
      // values) and the new dir could not even be schema-inferred —
      // an empty index has nothing to coalesce anyway, so skip the
      // swap and leave the servable layout untouched
      if (data.isEmpty) None
      else {
        data.repartition(col(cidCol)).write.partitionBy(cidCol).parquet(dir)
        Some(())
      }
    }
    ()
  }

  /** Lifecycle telemetry for a persisted IVF index, read from the
    * artifact alone — the ANN twin of `TextStats.bm25IndexStats` and
    * the numbers the compaction-cadence decision needs: each append
    * adds a stripe (one file) to every touched inverted-list
    * partition, so `maxStripesPerList` is the probe's worst-case
    * files-opened-per-list (compaction returns it to 1);
    * `tombstonedIds`/`tombstonedRows` count pending deletions (rows
    * probes anti-join away and compaction removes for real — the
    * second compact-now signal); `rows` counts ON-DISK rows, the
    * SAME definition as `Bm25IndexStats.rows` so the two twins feed
    * one cadence policy (servable = rows − tombstonedRows on both
    * sides); `lists` the populated partitions. Cost: one filesystem
    * walk plus one index read — no embedding math. */
  final case class IvfIndexStats(indexDir: String, lists: Long,
      files: Long, maxStripesPerList: Long, bytes: Long,
      rows: Long, tombstonedIds: Long, tombstonedRows: Long)

  def indexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndexStats = {
    val fs = StandingIndex.fs(spark, path)
    val dir = currentIndexDir(fs, path)
    val (files, bytes, perList) = StandingIndex.dataFiles(fs, dir)
    val data = spark.read.parquet(dir)
    val (tombIds, tombRows) = StandingIndex.tombstoneCounts(data,
      StandingIndex.tombstoneFiles(fs, path))
    IvfIndexStats(dir, perList.size.toLong, files,
      if (perList.isEmpty) 0L else perList.values.max,
      bytes, data.count(), tombIds, tombRows)
  }

  /** Persist a coarse codebook — WITHOUT it a persisted index cannot
    * rank inverted lists next session, so the codebook is part of the
    * index artifact, not session state. KB-sized parquet. */
  def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      codebook: Seq[(Long, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    codebook.toDF("cid", "ce").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def readCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(Long, Seq[Double])] =
    spark.read.parquet(path).select("cid", "ce").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      .sortBy(_._1)

  /** Persist a PQ model ((subspace, code, centroid) rows — KBs like
    * the coarse codebook). A PQ-coded index is unreadable without the
    * exact model that coded it, so persist them together. */
  def writePqModel(spark: org.apache.spark.sql.SparkSession,
      model: PqModel, path: String): Unit = {
    import spark.implicits._
    val cbRows = for {
      s <- 0 until model.numSubspaces
      c <- model.codebooks(s).indices
    } yield (s, c, model.codebooks(s)(c), model.residual)
    // rotation rows ride in the same table under s = -1 (code = row
    // index) — one artifact, one read, no sidecar file to lose
    val rotRows = model.rotation.toSeq.flatMap(_.zipWithIndex.map {
      case (row, i) => (-1, i, row, model.residual) })
    (cbRows ++ rotRows).toDF("s", "code", "ce", "res").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Read a persisted PQ model back; fails loudly on a gappy artifact
    * (missing subspace, code or rotation row) or mixed residual flags
    * rather than mis-scoring silently. */
  def readPqModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val raw = spark.read.parquet(path)
    val (rotRows, rows) = raw.select("s", "code", "ce").collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Double](2).toSeq))).toSeq
      .partition(_._1 < 0)
    val rotation = if (rotRows.isEmpty) None
      else Some(contiguous(rotRows.map(_._2), s"PQ model rotation at $path"))
    val codebooks = contiguous(rows.groupBy(_._1).toSeq.map { case (s, cs) =>
      (s, contiguous(cs.map(_._2), s"PQ model subspace $s at $path")) },
      s"PQ model at $path")
    val dsub = codebooks.head.head.length
    require(codebooks.forall(_.forall(_.length == dsub)),
      s"PQ model at $path mixes centroid dimensions")
    PqModel(codebooks.length, dsub, codebooks,
      residualFlag(raw, s"PQ model at $path"), rotation)
  }

  /** SQ8 scalar-quantization model (FAISS-style uniform per-dim,
    * public knowledge): each dimension of the NORMALIZED vector maps
    * linearly from [min_d, max_d] onto a byte — D bytes per row vs
    * 8·D raw, the 8× compression tier BETWEEN raw floats and PQ
    * (M bytes, lossier) in the SCALE.md playbook. 256 levels per
    * dimension resolve far finer than PQ's ksub centroids per
    * dsub-dim subspace, so ADC recall is near-exact at tight rerank
    * budgets. Training is ONE deterministic aggregation — no
    * k-means — which makes the ENTIRE train + assign + probe
    * pipeline DuckDB-replayable (q99), donor-free. */
  /** `residual`, when set, is the FAISS-style by_residual composition
    * (public knowledge): codes quantize (normalized vector −
    * normalized centroid of the row's inverted list) — a per-list
    * cloud whose per-dim RANGE is far smaller than the whole
    * sphere's, so the same 256 levels land a far finer Δ exactly
    * where coarse offsets would otherwise eat the budget. Train with
    * sqTrainResidual, assign with sqAssignResidual; probes score the
    * ADC **squared L2** of each probed list's shifted query (q̂ − ĉ)
    * against the dequantized residual — the identity
    * ||q̂ − (ĉ + r̂)||² = ||(q̂ − ĉ) − r̂||² holds for L2 but NOT for
    * cosine (cosine is not shift-invariant), so the residual branch
    * ranks by L2 where the direct branch ranks by approximate
    * cosine; final scores are exact cosines either way. Pair search
    * refuses residual models (codes alone cannot carry the per-list
    * cross terms, same reason as PQ's SDC). */
  final case class SqModel(mins: Seq[Double], maxs: Seq[Double],
      residual: Boolean = false) {
    require(mins.nonEmpty && mins.length == maxs.length,
      s"SqModel needs matching per-dim bounds, got ${mins.length}/${maxs.length}")
    require(mins.zip(maxs).forall { case (a, b) => a <= b },
      "SqModel needs min <= max per dimension")
    def dims: Int = mins.length
    /** Δ_d = (max_d − min_d)/255; a constant dimension has Δ = 0 and
      * always codes (and dequantizes) exactly. */
    def deltas: Seq[Double] = mins.zip(maxs).map { case (a, b) => (b - a) / 255.0 }
    /** The (mins, deltas) pair the sq_* kernels take as their model
      * literal. */
    def mm: (Seq[Double], Seq[Double]) = (mins, deltas)
  }

  /** Train the SQ8 model: per-dimension min/max over the normalized
    * corpus. One narrow shuffle (posexplode feeds a (dim)-keyed
    * min/max whose map-side partial aggregation collapses every
    * partition to D rows); the driver collects D rows, never data.
    * Rows at a different width than the probed dims are excluded —
    * they cannot be coded by a D-wide model anyway (sqAssign nulls
    * them). */
  def sqTrain(df: DataFrame, embCol: String): SqModel = {
    val (dims, _) = probeDims(df, embCol, 1, "sqTrain")
    sqStats(normedVecs(df, embCol), dims, "sqTrain", residual = false)
  }

  /** Train the RESIDUAL SQ8 model (see SqModel.residual): per-dim
    * min/max over the SAME residual cloud the residual PQ trainer
    * uses (normalized vector − normalized centroid of its
    * ivfAssign-rule list). Still one deterministic aggregation — no
    * k-means anywhere in the residual-SQ pipeline, so train, assign
    * AND probe replay in DuckDB donor-free (q101). */
  def sqTrainResidual(df: DataFrame, embCol: String,
      codebook: Seq[(Long, Seq[Double])]): SqModel = {
    val (dims, _) = probeDims(df, embCol, 1, "sqTrainResidual")
    val residuals = residualFrame(df, embCol, codebook, dims, "sqTrainResidual")
    sqStats(residuals, dims, "sqTrainResidual", residual = true)
  }

  /** Shared SQ training core over a single-column (`_n`) vector
    * frame: posexplode feeds a (dim)-keyed min/max whose map-side
    * partial aggregation collapses every partition to D rows; the
    * driver collects D rows, never data. */
  private def sqStats(vecFrame: DataFrame, dims: Int, fn: String,
      residual: Boolean): SqModel = {
    val stats = vecFrame
      .filter(size(col("_n")) === dims)
      .select(posexplode(col("_n")).as(Seq("_d", "_v")))
      .groupBy("_d").agg(min("_v").as("mn"), max("_v").as("mx"))
      .orderBy("_d").collect()
    require(stats.length == dims &&
        stats.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"$fn expected $dims contiguous dims, got ${stats.length}")
    SqModel(stats.map(_.getDouble(1)).toSeq, stats.map(_.getDouble(2)).toSeq,
      residual)
  }

  /** Attach the SQ8 code column: the normalized vector byte-quantized
    * under the model — D bytes per row, pure map-side (the model
    * rides inside sq_encode's generated code). Null embeddings and
    * width-mismatched rows get a null code (never a truncated one).
    * Write with `writeIndex` as usual; like PQ codes, the raw float
    * column can be dropped from the written index when `rerankFrom`
    * re-ranks from the primary store. */
  def sqAssign(df: DataFrame, embCol: String, model: SqModel,
      codeCol: String = "sq_code"): DataFrame = {
    require(!model.residual,
      "residual models code (vector − list centroid); assign them with " +
        "sqAssignResidual over an ivfAssign'ed frame")
    withNormalized(df, embCol, "_sq_n")
      .withColumn(codeCol,
        when(col(embCol).isNotNull, VE.sq_encode(col("_sq_n"), model.mm)))
      .drop("_sq_n")
  }

  /** Attach the RESIDUAL SQ8 code column to an ivfAssign'ed frame:
    * byte-quantize (normalized vector − normalized centroid of the
    * row's `cidCol` list) under the residual model. Same D-byte shape
    * and null contracts as sqAssign; a row whose cid is missing from
    * the codebook (index/codebook drift) gets a NULL code, same as
    * pqAssignResidual. The centroid lookup is a KB-sized broadcast
    * join; coding stays map-side codegen. */
  def sqAssignResidual(assigned: DataFrame, embCol: String,
      codebook: Seq[(Long, Seq[Double])], model: SqModel,
      codeCol: String = "sq_code", cidCol: String = "cid"): DataFrame = {
    require(model.residual,
      "sqAssignResidual needs a residual model (sqTrainResidual); direct " +
        "models assign with sqAssign")
    require(codebook.nonEmpty, "sqAssignResidual needs the coarse codebook")
    require(codebook.forall(_._2.length == model.dims),
      s"coarse centroid dims != SqModel dims (${model.dims}) — the residual " +
        "subtraction would truncate or null-pad instead of failing loudly")
    require(assigned.columns.contains(cidCol),
      s"sqAssignResidual needs the inverted-list column '$cidCol' — run ivfAssign first")
    withNormalized(assigned, embCol, "_sq_n")
      .join(broadcast(normCentroids(assigned.sparkSession, codebook)),
        col(cidCol) === col("_rcid"), "left")
      .withColumn(codeCol,
        when(col(embCol).isNotNull && col("_rcn").isNotNull,
          VE.sq_encode(
            zip_with(col("_sq_n"), col("_rcn"), (a, b) => a - b), model.mm)))
      .drop("_sq_n", "_rcid", "_rcn")
  }

  /** IVF-SQ8 probe, single query (see Codec): the list scan scores the
    * D-byte code column map-side (`sq_adc_cos`; the raw embeddings
    * never enter it). SQ8's approximation is near-exact, so tight
    * rerank budgets (= k) already recover brute-force answers on
    * realistic corpora (SimilaritySpec). */
  def ivfSqProbe(assigned: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, codebook: Seq[(Long, Seq[Double])],
      sq: SqModel, nprobe: Int = 1, rerank: Int = 0,
      cidCol: String = "cid", codeCol: String = "sq_code",
      excludeId: Option[Long] = None,
      rerankFrom: Option[DataFrame] = None): DataFrame =
    probeOne("ivfSqProbe", assigned, embCol, idCol, query, k, Sq8(sq, codeCol),
      Some(Lists(codebook, nprobe, cidCol)), excludeId, rerank, rerankFrom)

  /** Persist an SQ model — (dim, min, max) rows, KBs. Like PQ, a
    * coded index is unreadable without the exact model that coded
    * it: persist them together. */
  def writeSqModel(spark: org.apache.spark.sql.SparkSession,
      model: SqModel, path: String): Unit = {
    import spark.implicits._
    model.mins.indices.map(i => (i, model.mins(i), model.maxs(i), model.residual))
      .toDF("d", "mn", "mx", "res").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Read a persisted SQ model; fails loudly on a gappy artifact. */
  def readSqModel(spark: org.apache.spark.sql.SparkSession, path: String): SqModel = {
    val raw = spark.read.parquet(path)
    val rows = contiguous(raw.select("d", "mn", "mx").collect()
      .map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2)))), s"SQ model at $path")
    SqModel(rows.map(_._1), rows.map(_._2), residualFlag(raw, s"SQ model at $path"))
  }

  /** The model readers' index check: `rows` keyed 0..n-1 with no gap,
    * as a Seq in key order — a gappy artifact fails loudly rather than
    * mis-scoring silently. */
  private def contiguous[A](rows: Seq[(Int, A)], what: String): Seq[A] = {
    val sorted = rows.sortBy(_._1)
    require(sorted.nonEmpty, s"$what is empty")
    require(sorted.map(_._1) == sorted.indices,
      s"$what has non-contiguous indices: ${sorted.map(_._1)}")
    sorted.map(_._2)
  }

  /** The residual flag is model identity (a residual-coded index is
    * garbage down the direct path), so it must be UNANIMOUS across an
    * artifact's rows; artifacts written before the flag existed (no
    * `res` column) are direct by construction. */
  private def residualFlag(raw: DataFrame, what: String): Boolean =
    raw.columns.contains("res") && {
      val flags = raw.select("res").distinct().collect().map(_.getBoolean(0))
      require(flags.length == 1,
        s"$what mixes residual flags across rows — corrupted artifact")
      flags.head
    }

  /** BQ1 binary quantization (FAISS IndexBinary-style, public
    * knowledge): one SIGN BIT per dimension of the normalized vector —
    * D bits per row, the 64× rung below SQ8's D bytes on the
    * compression ladder (floats 8D bytes → SQ8 D bytes → PQ M bytes →
    * BQ D/8 bytes). Candidates rank by Hamming distance (popcount of
    * XOR — the cheapest distance in the library; on the unit sphere
    * Hamming between sign codes estimates the angle, the sign-LSH
    * collision bound), then an exact-cosine re-rank recovers true
    * scores — so BQ is a SHORTLIST device, coarser than SQ8/PQ but
    * cheap enough that a FLAT scan over the whole corpus is the
    * standard shape (no inverted lists needed: 768-dim floats are
    * 3 KB/row, BQ codes 96 B/row).
    *
    * `thresholds` is the per-dim split point: 0.0 everywhere is plain
    * sign binarization (`BqModel.zero`); `bqTrain` learns per-dim
    * MIDRANGE thresholds ((min+max)/2 of the normalized corpus) to
    * rebalance dimensions whose mass sits off-center. Midrange — not
    * the textbook mean — is deliberate: min/max are FP-ORDER-
    * INDEPENDENT aggregates, so the trained thresholds (and therefore
    * every persisted code) are bit-reproducible under any cluster
    * reduction order, where a floating-point mean varies run-to-run
    * with partition scheduling at 1000 executors. Reproducible codes
    * are what make the artifact appendable (appendIndex) and the
    * whole train+assign+probe pipeline DuckDB-replayable (q102). */
  final case class BqModel(thresholds: Seq[Double]) {
    require(thresholds.nonEmpty, "BqModel needs at least one dimension")
    def dims: Int = thresholds.length
    def codeBytes: Int = (dims + 7) / 8
  }

  object BqModel {
    /** Plain sign binarization — no training pass. */
    def zero(dims: Int): BqModel = {
      require(dims >= 1, s"dims must be >= 1, got $dims")
      BqModel(Seq.fill(dims)(0.0))
    }
  }

  /** Train the BQ model: per-dim midrange over the normalized corpus
    * — the SAME one-aggregation min/max pass SQ8 training runs (see
    * BqModel for why midrange, not mean). Donor-free and
    * deterministic, so the oracle replays training too. */
  def bqTrain(df: DataFrame, embCol: String): BqModel = {
    val (dims, _) = probeDims(df, embCol, 1, "bqTrain")
    val s = sqStats(normedVecs(df, embCol), dims, "bqTrain", residual = false)
    BqModel(s.mins.zip(s.maxs).map { case (a, b) => (a + b) / 2.0 })
  }

  /** Attach the packed BQ code column: sign bits of the normalized
    * vector under the model's thresholds — ceil(D/8) bytes per row,
    * pure map-side (the thresholds ride inside bq_encode's generated
    * code). Null embeddings and width-mismatched rows get a null code
    * (never a truncated one). Write with `writeIndex`; like PQ/SQ
    * codes, the float column can be dropped from the written index
    * when `rerankFrom` re-ranks from the primary store. */
  def bqAssign(df: DataFrame, embCol: String, model: BqModel,
      codeCol: String = "bq_code"): DataFrame =
    withNormalized(df, embCol, "_bq_n")
      .withColumn(codeCol,
        when(col(embCol).isNotNull, VE.bq_encode(col("_bq_n"), model.thresholds)))
      .drop("_bq_n")

  /** BQ flat probe, single query (see Codec): ONE map-side Hamming
    * pass over the code column (D/8 bytes per row — no inverted lists;
    * at 64× compression the flat scan IS the scale shape), exact-cosine
    * re-rank of the shortlist. BQ's Hamming shortlist is coarser than
    * SQ8/PQ ADC — size `rerank` generously (the default is a lower
    * bound, not a recommendation); SimilaritySpec pins that a
    * full-width rerank recovers brute force exactly.
    *
    * `asymmetric = true` ranks the shortlist by the float-query ×
    * ±1-reconstruction dot (`bq_adc_dot`) instead of code-vs-code
    * Hamming: each dimension then contributes proportionally to the
    * query's actual weight there, so near-zero query dims stop
    * outvoting the discriminative ones — Hamming's failure mode when
    * the query's mass concentrates on few dims (BqSpec pins a fixture
    * where Hamming provably shortlists the wrong cluster and the
    * asymmetric score recovers brute-force recall at the same
    * rerank). Identical storage and scan bytes. */
  def bqProbe(coded: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, model: BqModel, rerank: Int = 0,
      codeCol: String = "bq_code", excludeId: Option[Long] = None,
      rerankFrom: Option[DataFrame] = None,
      asymmetric: Boolean = false): DataFrame =
    probeOne("bqProbe", coded, embCol, idCol, query, k,
      Bq(model, codeCol, asymmetric), None, excludeId, rerank, rerankFrom)

  /** IVF-BQ probe, single query (the FAISS IndexBinaryIVF layout,
    * public knowledge; see Codec): when one standing IVF index already
    * serves PQ/SQ codes, the same layout carries BQ codes too, and the
    * coarse prune cuts the Hamming pass to ~nprobe/K of the corpus —
    * recall then compounds BOTH approximations (list prune AND sign
    * coarseness), so size nprobe/rerank by measuring with recallAtK,
    * not by the flat-scan numbers. */
  def ivfBqProbe(coded: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, codebook: Seq[(Long, Seq[Double])],
      model: BqModel, nprobe: Int = 1, rerank: Int = 0,
      cidCol: String = "cid", codeCol: String = "bq_code",
      excludeId: Option[Long] = None,
      rerankFrom: Option[DataFrame] = None,
      asymmetric: Boolean = false): DataFrame =
    probeOne("ivfBqProbe", coded, embCol, idCol, query, k,
      Bq(model, codeCol, asymmetric), Some(Lists(codebook, nprobe, cidCol)),
      excludeId, rerank, rerankFrom)

  /** Batch BQ probe over the flat scan (see Codec): queries normalize
    * and encode cluster-side, then broadcast against the coded corpus —
    * a nested loop (a flat binary scan has no equi-key), so the query
    * batch must be probe-sized; crawl-scale batches belong on the
    * IVF-coded paths, where list pruning gives the join an equi-key. */
  def bqProbeAll(coded: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String, model: BqModel,
      k: Int, rerank: Int = 0, codeCol: String = "bq_code",
      excludeSelf: Boolean = false,
      rerankFrom: Option[DataFrame] = None,
      asymmetric: Boolean = false): DataFrame =
    probeBatch("bqProbeAll", coded, embCol, idCol, queries, qIdCol, qEmbCol, k,
      Bq(model, codeCol, asymmetric), None, excludeSelf, rerank, rerankFrom)

  /** Hamming-banded near-dup PAIR search over packed BQ codes — the
    * arbitrary-width generalization of Dedup.hashNearDupPairs' 64-bit
    * banding, for embeddings: candidates collide on one of `bands`
    * byte-aligned code slices (pigeonhole: a pair with Hamming <=
    * bands−1 agrees on at least one band — EXACT recall in that
    * radius; beyond it recall is partial and maxHamming only accepts,
    * never finds), the full-code Hamming prefilter runs inside the
    * band bucket on CODES ONLY (D/8 bytes per side — floats never
    * enter the pair expansion), and survivors verify by exact cosine
    * joined back from the corpus by id. Hot bands are capped with
    * observed drop counts (HotKeys.capPair) and the expansion is the
    * same spill-safe band-keyed sort-merge self-join as every pair
    * path here. Returns (id_a, id_b, hamming, cos) at cos >=
    * minCosine. This is SimHash text near-dup's shape for embeddings:
    * one standing coded corpus, band-local candidate generation,
    * never all-pairs. */
  def nearDupPairsBq(df: DataFrame, embCol: String, idCol: String,
      model: BqModel, minCosine: Double, bands: Int = 4,
      maxHamming: Int = -1, maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_bq_band_cap"): DataFrame = {
    require(bands >= 2, s"bands must be >= 2, got $bands")
    val mh = if (maxHamming >= 0) maxHamming else bands - 1
    val bandsDf = bqBandRows(bqAssign(df.select(col(idCol), col(embCol)), embCol, model),
      idCol, "bq_code", model, bands)
    val (capL, capR) = HotKeys.capPair(bandsDf, Seq(col("k"), col("band")),
      maxBucket, metricName = metricName)
    val pairs = capL
      .select(col("k"), col("band"), col("_id").as("id_a"), col("_c").as("_ca"))
      .hint("merge")
      .join(capR.select(col("k"), col("band"), col("_id").as("id_b"),
        col("_c").as("_cb")), Seq("k", "band"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), VE.bq_hamming(col("_ca"), col("_cb")).as("hamming"))
      .filter(col("hamming") <= mh)
      .distinct()
    pairs
      .join(df.select(col(idCol).as("id_a"), col(embCol).as("_ea")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(embCol).as("_eb")), "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"),
        round(cosine(asDouble(col("_ea")), asDouble(col("_eb"))), 4).as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= minCosine)
  }

  /** Byte-aligned band geometry of a BQ code: the band count (`bands`,
    * or one-byte bands when 0) and the bytes per band. */
  private def bqBands(model: BqModel, bands: Int): (Int, Int) = {
    val nb = if (bands > 0) bands else model.codeBytes
    require(nb >= 1 && model.codeBytes % nb == 0,
      s"codeBytes ${model.codeBytes} is not divisible into $nb byte-aligned bands")
    (nb, model.codeBytes / nb)
  }

  private def bandSlices(code: Column, nb: Int, bpb: Int): Seq[Column] =
    (0 until nb).map(b => substring(code, b * bpb + 1, bpb))

  /** The non-null codes of `coded` as (`_id`, `_c`, k, band) rows, one
    * per band slice — the equi-key of every BQ band join. */
  private def bqBandRows(coded: DataFrame, idCol: String, codeCol: String,
      model: BqModel, bands: Int): DataFrame = {
    val (nb, bpb) = bqBands(model, bands)
    coded.select(col(idCol).as("_id"), col(codeCol).as("_c"))
      .filter(col("_c").isNotNull)
      .select(col("_id"), col("_c"), posexplode(array(bandSlices(col("_c"), nb, bpb): _*)))
      .toDF("_id", "_c", "k", "band")
  }

  /** Band-collision candidates between a CODED batch and a CODED
    * standing corpus — nearDupPairsBq's self-join across two frames,
    * and the shape that makes batch-vs-standing BQ scale: the band
    * slice is an EQUI-KEY, so this is an ordinary capped equi-join
    * (each side explodes into `bands` rows of D/8/bands bytes), where
    * the flat bqProbeAll is a broadcast nested loop that only
    * probe-sized batches can afford. Recall is the banding contract: a
    * pair with Hamming <= bands−1 collides with certainty (pigeonhole);
    * beyond that, collision probability is the sign-LSH s-curve
    * 1−(1−(1−h/D)^(D/bands))^bands — MORE bands of FEWER bits catch
    * farther pairs at more candidate volume (one-byte bands are a
    * generous default; both sides' hot bands are capped with observed
    * drops). `maxHamming` (full-code, inside the bucket, codes only) is
    * an optional prefilter — Int.MaxValue disables it and leaves
    * acceptance entirely to the caller's exact verify. Returns (id_a =
    * batch id, id_b = standing id, hamming), distinct. */
  def bqBandCandidates(batchCoded: DataFrame, standingCoded: DataFrame,
      idCol: String, model: BqModel, bands: Int = 0,
      maxHamming: Int = Int.MaxValue,
      maxBucket: Int = HotKeys.DefaultBucketCap,
      metricName: String = "graft_bq_lookup_cap",
      codeCol: String = "bq_code"): DataFrame = {
    def banded(df: DataFrame) = bqBandRows(df, idCol, codeCol, model, bands)
    // each side capped independently (a hot band is a different
    // failure on the standing side — a degenerate corpus region —
    // than on the batch side, and the metrics should say which);
    // minPerKey = 1 because a lone row on one side still pairs with
    // the other side, unlike a self-join
    val l = HotKeys.cap(banded(batchCoded), Seq(col("k"), col("band")),
      maxBucket, minPerKey = 1, metricName = s"${metricName}_batch")
    val r = HotKeys.cap(banded(standingCoded), Seq(col("k"), col("band")),
      maxBucket, minPerKey = 1, metricName = s"${metricName}_standing")
    l.select(col("k"), col("band"), col("_id").as("id_a"), col("_c").as("_ca"))
      .join(r.select(col("k"), col("band"), col("_id").as("id_b"),
        col("_c").as("_cb")), Seq("k", "band"))
      .select(col("id_a"), col("id_b"), VE.bq_hamming(col("_ca"), col("_cb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact cosine top-k for a BATCH of query vectors — the ground
    * truth every approximate probe is judged against. The query side
    * broadcasts against the corpus (one full scan scoring Q cosines
    * per row, a per-query window keeps the top k), so the batch must
    * be evaluation-sized — which is exactly its job: ANN evaluation
    * runs on a SAMPLE of queries, never the crawl (at 100 TB the
    * full-corpus exact scan is the thing the whole ANN layer exists
    * to avoid; paying it once over a few hundred sampled queries to
    * calibrate nprobe/rerank is the documented playbook step). Output
    * and `excludeSelf` as in the batch probes (see Codec). */
  def bruteForceTopKAll(df: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val probes = queries
      .select(col(qIdCol).as("_qid"), asDouble(col(qEmbCol)).as("_qe"))
    val joined = df.select(col(idCol), col(embCol))
      .join(broadcast(probes), lit(true))
    // width guard per (row, query) pair: the cosine kernel scores a
    // mismatched pair over the common prefix — a truncated row can
    // fake cosine 1.0 into the ground truth
    exactTopKAll(dropSelf(joined, idCol, excludeSelf)
        .filter(size(col(embCol)) === size(col("_qe"))),
      embCol, idCol, qIdCol, k)
  }

  /** Per-query recall of an approximate result set against a ground
    * truth — both as (queryCol, idCol, ...) frames, the shape every
    * probe-All/bruteForceTopKAll emits. recall(q) = |got ∩ truth| /
    * |truth| for query q; queries present in `truth` but absent from
    * `got` (a probe that returned nothing) score 0.0 rather than
    * disappearing. Cost: one equi-join on (query, id) + one
    * aggregation — truth is evaluation-sized by construction (it came
    * from a sampled exact scan), so this is a cheap diagnostic to run
    * after every index build; SCALE.md's model-selection table says
    * measure before paying train cost, and this is the measuring
    * device. */
  def recallAtK(got: DataFrame, truth: DataFrame, queryCol: String,
      idCol: String): DataFrame = {
    // distinct matches pairMetrics' normalization contract: duplicate
    // (query, id) rows in `got` would fan out the left join, inflating
    // both the hit sum and the truth count
    val g = got.select(col(queryCol).as("_gq"), col(idCol).as("_gid"))
      .distinct()
      .withColumn("_hit", lit(1))
    truth.select(col(queryCol).as("_tq"), col(idCol).as("_tid"))
      .join(g, col("_tq") === col("_gq") && col("_tid") === col("_gid"), "left")
      .groupBy(col("_tq").as(queryCol))
      .agg(round(sum(coalesce(col("_hit"), lit(0)))
        .cast("double") / count(lit(1)), 4).as("recall"))
  }

  /** Rank-AWARE retrieval metrics — per-query reciprocal rank and
    * binary nDCG@k of a ranked result set against a relevant-pair
    * truth set; `recallAtK` says WHETHER the relevant docs were
    * found, this says WHERE they landed (the metric pair every
    * retrieval eval reports; public knowledge: Järvelin & Kekäläinen
    * 2002 for DCG). `got` is any (queryCol, idCol, rankCol) ranking
    * (every ranker here); `truth` any (queryCol, idCol) relevant
    * set — binary relevance, the shape `bruteForceTopKAll` emits.
    * rr(q) = 1/rank of the first relevant hit; ndcg(q) =
    * Σ_{relevant hits at rank r ≤ k} 1/log2(r+1), normalized by the
    * ideal prefix Σ_{i=1..min(k,|relevant|)} 1/log2(i+1). Queries in
    * `truth` with no retrieved hit score 0.0 on both (they do not
    * disappear — same rule as recallAtK); duplicate (query, id) rows
    * in `got` collapse to their best rank. Both metrics are ROUNDED
    * (6dp): ranks are integers and the log2 sums have ≤ k terms, so
    * the rounded values replay exactly cross-engine (the q125
    * oracle). Mean-MRR / mean-nDCG are one `avg()` over the output.
    * Cost: truth is evaluation-sized by construction — one equi-join
    * + two tiny aggregations. Output: (queryCol, rr, ndcg). */
  def rankMetrics(got: DataFrame, truth: DataFrame, queryCol: String,
      idCol: String, rankCol: String = "rank", k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!Set("rr", "ndcg").contains(queryCol),
      s"queryCol '$queryCol' collides with rankMetrics' output column names")
    val g = got.select(col(queryCol).as("_gq"), col(idCol).as("_gid"),
        col(rankCol).cast("long").as("_rank"))
      .filter(col("_gq").isNotNull && col("_gid").isNotNull &&
        col("_rank").isNotNull && col("_rank") >= 1)
      .groupBy("_gq", "_gid").agg(min("_rank").as("_rank"))
    val t = truth.select(col(queryCol).as("_tq"), col(idCol).as("_tid"))
      .filter(col("_tq").isNotNull && col("_tid").isNotNull)
      .distinct()
    val perQ = t
      .join(g, col("_tq") === col("_gq") && col("_tid") === col("_gid"), "left")
      .groupBy(col("_tq").as(queryCol))
      .agg(count(lit(1)).as("_nrel"),
        min("_rank").as("_first"),
        sum(when(col("_rank") <= k,
          lit(1.0) / log2(col("_rank") + 1))).as("_dcg"))
    // ideal DCG from the truth size alone: the best possible ranking
    // fills ranks 1..min(k, |relevant|) with relevant docs. nrel >= 1
    // by construction, so the normalizer is never zero.
    val idcg = aggregate(sequence(lit(1L), least(col("_nrel"), lit(k.toLong))),
      lit(0.0), (acc, i) => acc + lit(1.0) / log2(i + 1))
    perQ.select(col(queryCol),
      round(coalesce(lit(1.0) / col("_first"), lit(0.0)), 6).as("rr"),
      round(coalesce(col("_dcg"), lit(0.0)) / idcg, 6).as("ndcg"))
  }

  /** Precision/recall of a PAIR search against a reference pair set —
    * the pair-search twin of recallAtK, closing the harness over the
    * other half of the ANN surface (nearDupPairs* / hashNearDupPairs /
    * minhashNearDupCandidates emit (id_a, id_b) frames; probes emit
    * (query, id) ones). Both inputs are orientation-normalized
    * ((least, greatest) per pair) and deduplicated first, so callers
    * can pass frames with mixed orientation or repeats. Output: ONE
    * row (n_got, n_truth, n_hit, precision, recall) — empty `truth`
    * yields recall 1.0 (nothing to find) and empty `got` precision
    * 1.0 (nothing claimed), both with n_* = 0, so the row is always
    * well-defined. Cost: two aggregations + one equi-join on the
    * normalized pair key; `truth` is evaluation-sized by construction
    * (exact pair sets come from a SAMPLED corpus slice — at 100 TB
    * you measure the banding/margin recall on a sample, exactly as
    * recallAtK measures probe recall on sampled queries — while `got`
    * may be the full candidate set). */
  def pairMetrics(got: DataFrame, truth: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    def norm(df: DataFrame, a: String, b: String) = df
      .select(least(col(idA), col(idB)).as(a), greatest(col(idA), col(idB)).as(b))
      .filter(col(a).isNotNull && col(b).isNotNull && col(a) =!= col(b))
      .distinct()
    val g = norm(got, "_ga", "_gb")
    val t = norm(truth, "_ta", "_tb")
    val hit = g.join(t, col("_ga") === col("_ta") && col("_gb") === col("_tb"))
    // three small aggregates combined via a one-row cross join — each
    // side is a single count, so the join is trivially broadcast
    val gc = g.agg(count(lit(1)).as("n_got"))
    val tc = t.agg(count(lit(1)).as("n_truth"))
    val hc = hit.agg(count(lit(1)).as("n_hit"))
    gc.crossJoin(tc).crossJoin(hc)
      .select(col("n_got"), col("n_truth"), col("n_hit"),
        round(when(col("n_got") === 0, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_got")), 4).as("precision"),
        round(when(col("n_truth") === 0, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_truth")), 4).as("recall"))
  }

  /** Pick the smallest rerank budget that reaches `targetRecall` —
    * the closed loop over the recall harness: build ground truth ONCE
    * with bruteForceTopKAll over a sampled query batch, then call
    * this with the candidate budgets (ascending) and a `probeFn` that
    * runs YOUR probe at a given rerank (any of the probe family,
    * partially applied). Each candidate costs one probe evaluation
    * plus one recall join — evaluation-sized by construction, so
    * sweeping a handful of budgets is cheap next to one index build.
    * Returns (budget, measured mean recall) for the FIRST candidate
    * at or above target, or the last candidate with its recall when
    * none reaches it (the caller decides whether that model is worth
    * shipping — a budget this sweep can't satisfy usually means the
    * codec is too coarse, not that rerank needs to grow). This is the
    * "measure before you pay" step of the model-selection playbook
    * made executable: SCALE.md's recall numbers are fixture maxima;
    * this measures YOUR corpus. */
  def calibrateRerank(truth: DataFrame, queryCol: String, idCol: String,
      candidates: Seq[Int], targetRecall: Double)
      (probeFn: Int => DataFrame): (Int, Double) = {
    require(candidates.nonEmpty, "calibrateRerank needs at least one candidate budget")
    require(candidates == candidates.sorted,
      s"candidates must ascend (smallest acceptable budget wins), got $candidates")
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val t = truth.cache()
    try {
      var last = (candidates.head, 0.0)
      val it = candidates.iterator
      while (it.hasNext) {
        val r = it.next()
        val meanRow = recallAtK(probeFn(r), t, queryCol, idCol)
          .agg(avg("recall")).collect()(0)
        require(!meanRow.isNullAt(0),
          "calibrateRerank: truth frame is empty — ground truth must come " +
            "from a non-empty sampled query batch (bruteForceTopKAll)")
        val mean = meanRow.getDouble(0)
        last = (r, mean)
        if (mean >= targetRecall) return last
      }
      last
    } finally { t.unpersist(); () }
  }

  /** Reciprocal-rank fusion of two or more ranked shortlists — the
    * standard hybrid-retrieval combiner (public knowledge: Cormack,
    * Clarke & Büttcher, SIGIR 2009): score(q, id) = Σ over lists of
    * 1/(k0 + rank), which fuses a lexical ranking
    * (`bm25TopKFromIndex`) with a semantic one (the ANN probe family)
    * without any score normalization — only the integer RANKS enter,
    * so rankers with incomparable score scales compose soundly, and
    * the fused score replays exactly in any engine that reproduces
    * the input rankings (the q120 oracle device). A (query, id)
    * absent from a list simply contributes nothing for that list.
    * k0 = 60 is the published default; larger flattens the rank
    * discount.
    *
    * Input contract: each frame is a RANKING — (queryCol, idCol,
    * rankCol) with rank >= 1, one row per (query, id) — exactly what
    * every ranker here emits. Defensively, duplicate (query, id)
    * rows within one list collapse to their best (minimum) rank
    * rather than summing twice; null ids/queries/ranks drop (an
    * unrankable row cannot be fused).
    *
    * Output: (queryCol, idCol, rrf_score, rank) with the same
    * ROUNDED-score rank cut (6 decimals, ties by id) every ranker
    * here uses — the cut cannot flip with float addition order.
    * (Coarseness note: adjacent single-list ranks differ by
    * 1/((k0+r)(k0+r+1)), which falls under the rounding quantum only
    * past depth ~1350 at k0=60 — deeper shortlists than any rerank
    * here runs; ties there break by id, identically in any engine.)
    *
    * Scale shape: inputs are rank-bounded shortlists (≤ k rows per
    * query per list) by construction, so everything here is
    * shortlist-sized: a union, two partial-aggregated groupBys and
    * one per-query window — no corpus-sized anything. Chain
    * `mmrRerank` behind it for diversity.
    *
    * `weights` (optional, one per list, positive) scales each list's
    * contribution — weighted RRF, the standard lexical-vs-semantic
    * balance knob in hybrid search; unweighted RRF is weights = all
    * ones. Weighted sums of 3+ terms reintroduce float addition-order
    * sensitivity at the last ulp; the 6-decimal rounding absorbs it
    * for any realistic list count.
    *
    * `withSources = true` appends one PROVENANCE column per input
    * list — `rank_in_0` … `rank_in_{n-1}`, the (collapsed) rank the
    * fused row held in that list, null where absent — so fusion
    * debugging and weight tuning read straight off the output ("why
    * did this doc win? lexical 2, semantic absent") instead of
    * re-running each ranker. Zero extra passes: the per-list ranks
    * are conditional aggregates of the same groupBy that sums the
    * fused score. */
  def rrfFuse(shortlists: Seq[DataFrame], queryCol: String, idCol: String,
      rankCol: String = "rank", k: Int = 10, k0: Int = 60,
      weights: Option[Seq[Double]] = None,
      withSources: Boolean = false): DataFrame = {
    require(shortlists.nonEmpty, "rrfFuse needs at least one ranked shortlist")
    require(k >= 1, s"k must be >= 1, got $k")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    weights.foreach { ws =>
      require(ws.length == shortlists.length,
        s"got ${ws.length} weights for ${shortlists.length} shortlists")
      require(ws.forall(w => w > 0.0 && !w.isNaN && !w.isInfinity),
        s"weights must be positive finite, got $ws")
    }
    require(!Set("rrf_score", "rank", "_rrf_rank", "_li", "_s").contains(queryCol) &&
      !Set("rrf_score", "rank", "_rrf_rank", "_li", "_s").contains(idCol),
      s"queryCol/idCol collide with rrfFuse's working/output column names " +
        "(rrf_score, rank)")
    require(!withSources || Seq(queryCol, idCol).forall(!_.startsWith("rank_in_")),
      "queryCol/idCol collide with withSources' rank_in_<i> output columns")
    val tagged = shortlists.zipWithIndex.map { case (df, i) =>
      df.select(col(queryCol), col(idCol),
          col(rankCol).cast("long").as("_rrf_rank"), lit(i).as("_li"))
        .filter(col(queryCol).isNotNull && col(idCol).isNotNull &&
          col("_rrf_rank").isNotNull && col("_rrf_rank") >= 1)
    }.reduce(_ unionByName _)
    val w = weights.fold(lit(1.0))(ws =>
      element_at(typedLit(ws), col("_li") + 1))
    val sourceCols = if (!withSources) Seq.empty else
      shortlists.indices.map(i =>
        min(when(col("_li") === i, col("_rrf_rank"))).as(s"rank_in_$i"))
    tagged
      .groupBy(col(queryCol), col(idCol), col("_li"))
      .agg(min(col("_rrf_rank")).as("_rrf_rank"))
      .groupBy(col(queryCol), col(idCol))
      .agg(sum(w / (lit(k0) + col("_rrf_rank"))).as("_s"), sourceCols: _*)
      .withColumn("rrf_score", round(col("_s"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(queryCol).orderBy(desc("rrf_score"), col(idCol))))
      .filter(col("rank") <= k)
      .select((Seq(col(queryCol), col(idCol), col("rrf_score"), col("rank")) ++
        shortlists.indices.filter(_ => withSources)
          .map(i => col(s"rank_in_$i"))): _*)
  }

  /** Maximal-Marginal-Relevance re-rank of a probe shortlist — the
    * diversity pass a data-curation retrieval loop needs ("find docs
    * like these" returns 50 near-copies of the best hit without it;
    * public knowledge: Carbonell & Goldstein 1998). Takes any
    * (queryCol, idCol, scoreCol) frame the probe family emits, joins
    * each candidate's embedding from `store` (AQE-sized — shortlists
    * are rerank-bounded by construction), and per query greedily
    * keeps `k` rows maximizing
    * λ·relevance − (1−λ)·max(0, max cosine to the already-kept set)
    * — the clamp means only POSITIVE similarity penalizes; a
    * candidate anti-correlated with everything kept competes on
    * relevance alone rather than collecting a negative-cosine bonus.
    * λ = 1 reproduces the relevance order; λ → 0 maximizes spread.
    *
    * Scale shape: ONE shuffle partitioned on the query id with the
    * greedy walk running inside `mapPartitions` over rows sorted by
    * (query, relevance) — each group buffered is one SHORTLIST (≤
    * `maxShortlist`, enforced loudly), never a corpus slice, and the
    * quadratic O(shortlist²·D) greedy cost is per-query-bounded the
    * same way every rerank here is. Ties are broken by the incoming
    * relevance order, so the output is deterministic whenever the
    * input ranking is (which every probe here guarantees via its
    * rounded-score sort). Candidates with no embedding in `store`
    * drop at the join; within each query's shortlist, rows whose
    * embedding width differs from the group's MAJORITY width drop
    * before selection (a mismatched pair's cosine is undefined, so
    * such a row could never be diversity-penalized — it would compete
    * on pure relevance while being un-checkable; majority width, ties
    * to the width seen earliest in relevance order, is the
    * deterministic group standard that also survives a corrupt
    * top-ranked row).
    * Pairwise cosines are rounded (HALF_UP, 6 decimals) before the
    * max-sim update, so the walk — already single-threaded and
    * deterministic per query — is also exactly replayable by any
    * engine that reproduces the inputs (the q121 oracle device).
    * Output: (queryCol, idCol, scoreCol, mmr_rank). */
  def mmrRerank(shortlist: DataFrame, queryCol: String, idCol: String,
      scoreCol: String, store: DataFrame, storeIdCol: String,
      embCol: String, k: Int, lambda: Double = 0.7,
      maxShortlist: Int = 4096): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    require(maxShortlist >= k, s"maxShortlist ($maxShortlist) must be >= k ($k)")
    val joined = shortlist
      .select(col(queryCol), col(idCol), col(scoreCol).cast("double").as(scoreCol))
      .join(store.select(col(storeIdCol).as(idCol),
        asDouble(col(embCol)).as("_me")), Seq(idCol))
      // NaN relevance (a zero-norm store vector scores cosine NaN, and
      // NaN sorts FIRST under desc, so it reliably enters shortlists)
      // is un-rankable — drop it like a missing embedding
      .filter(col("_me").isNotNull && col(scoreCol).isNotNull &&
        !isnan(col(scoreCol)))
      .select(col(queryCol), col(idCol), col(scoreCol), col("_me"))
      .repartition(col(queryCol))
      // id tie-break keeps the walk deterministic even when scores tie
      .sortWithinPartitions(col(queryCol), col(scoreCol).desc, col(idCol))
    val outSchema = org.apache.spark.sql.types.StructType(
      joined.schema.fields.take(3) :+
        org.apache.spark.sql.types.StructField("mmr_rank",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    joined.mapPartitions { it =>
      def cos(a: Array[Double], b: Array[Double]): Double = {
        if (a.length != b.length) return Double.NaN
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      def round6(x: Double): Double =
        // HALF_UP (away from zero), matching Spark's and DuckDB's
        // round() convention so the oracle replay shares the tie rule
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      def select(group0: Vector[(Row, Array[Double])]): Iterator[Row] = {
        // width gate (see scaladoc): majority width wins; the group
        // arrives in relevance order, and LinkedHashMap + maxBy keep
        // the FIRST max, so ties break to the earliest-seen width
        val group = if (group0.isEmpty) group0 else {
          val widths = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
          group0.foreach { g =>
            widths.update(g._2.length, widths.getOrElse(g._2.length, 0) + 1) }
          val std = widths.maxBy(_._2)._1
          group0.filter(_._2.length == std)
        }
        val n = group.length
        val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
        // flag array, not kept.contains: a linear scan inside the
        // O(n·k) selection loop would add another factor of k
        val taken = new Array[Boolean](n)
        val maxSim = Array.fill(n)(Double.NegativeInfinity)
        var exhausted = false
        while (!exhausted && kept.length < math.min(k, n)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val rel = group(i)._1.getDouble(2)
              val pen = if (kept.isEmpty) 0.0
                else (1.0 - lambda) * math.max(maxSim(i), 0.0)
              val s = lambda * rel - pen
              // strict > keeps the first (highest-relevance) row on ties
              if (s > bestScore) { best = i; bestScore = s }
            }
            i += 1
          }
          // defensive: NaN relevance is filtered upstream, but if every
          // remaining score still manages to be un-comparable, stop
          // rather than dereference index -1
          if (best < 0) exhausted = true
          else {
            kept += best; taken(best) = true
            var j = 0
            while (j < n) {
              if (!taken(j)) {
                val s = cos(group(best)._2, group(j)._2)
                if (!s.isNaN) {
                  val r = round6(s)
                  if (r > maxSim(j)) maxSim(j) = r
                }
              }
              j += 1
            }
          }
        }
        kept.iterator.zipWithIndex.map { case (idx, r) =>
          Row.fromSeq(group(idx)._1.toSeq.take(3) :+ (r + 1))
        }
      }
      new Iterator[Row] {
        private var pending: Iterator[Row] = Iterator.empty
        private var buf = Vector.empty[(Row, Array[Double])]
        private var curKey: Any = null
        private var started = false
        private def flush(): Iterator[Row] = { val g = buf; buf = Vector.empty; select(g) }
        private def fill(): Unit = {
          while (pending.isEmpty && it.hasNext) {
            val r = it.next()
            val key = r.get(0)
            val emb = r.getSeq[Double](3).toArray
            if (!started || key == curKey) {
              started = true; curKey = key
              buf = buf :+ (r -> emb)
              require(buf.length <= maxShortlist,
                s"shortlist for query $key exceeds maxShortlist=$maxShortlist — " +
                  "mmrRerank takes probe SHORTLISTS, not corpus slices")
            } else {
              pending = flush(); curKey = key; buf = Vector(r -> emb)
            }
          }
          if (pending.isEmpty && buf.nonEmpty) pending = flush()
        }
        def hasNext: Boolean = { fill(); pending.hasNext }
        def next(): Row = { fill(); pending.next() }
      }
    }(Encoders.row(outSchema))
  }

  /** Persist a BQ model — (dim, threshold) rows, KBs. Like PQ/SQ, a
    * coded index is unreadable without the exact model that coded it:
    * persist them together. */
  def writeBqModel(spark: org.apache.spark.sql.SparkSession,
      model: BqModel, path: String): Unit = {
    import spark.implicits._
    model.thresholds.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("d", "thr").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Read a persisted BQ model; fails loudly on a gappy artifact. */
  def readBqModel(spark: org.apache.spark.sql.SparkSession, path: String): BqModel =
    BqModel(contiguous(spark.read.parquet(path).select("d", "thr").collect()
      .map(r => (r.getInt(0), r.getDouble(1))), s"BQ model at $path"))

  /** One-shot IVF ANN (index + probe in one plan; amortized use goes
    * through ivfAssign once + ivfProbe per query). `centroids` is a
    * (cid, ce) DataFrame — collected as the codebook literal. */
  def ivfTopK(df: DataFrame, centroids: DataFrame, embCol: String, idCol: String,
      queryVecId: Long, k: Int): DataFrame = {
    val codebook = centroids.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    ivfProbe(ivfAssign(df, codebook, embCol), embCol, idCol, queryVecId, k)
  }

  private def sqDist(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Train an IVF codebook with k-means on the corpus itself, so IVF
    * is usable without an externally supplied codebook. Init is the
    * k-means‖ shape: ONE cluster-side job oversamples 32k vectors in
    * deterministic hash order, then a driver-side farthest-first sweep
    * over that (codebook-sized) sample picks the k seeds — so two
    * seeds never land in one well-separated cluster, the failure mode
    * plain sampled init hits (pinned by SimilaritySpec's purity test).
    * Then `iters` Lloyd rounds: each is one zero-shuffle map-side
    * assignment (the current codebook rides as a literal inside
    * `nearest_centroid`'s generated code) plus one (cid, dim)-keyed
    * mean — k x dim cells collected per round, i.e. codebook-sized,
    * never data-sized. An emptied cluster keeps its previous centroid.
    * At 100 TB you'd train on a sample (`df.sample(...)` upstream) —
    * the plan shape is unchanged. */
  def trainCodebook(df: DataFrame, embCol: String, k: Int,
      iters: Int = 5): Seq[(Long, Seq[Double])] = {
    require(k >= 1 && iters >= 0, s"need k >= 1 ($k) and iters >= 0 ($iters)")
    val vecs = df.select(asDouble(col(embCol)).as("_e")).filter(col("_e").isNotNull)
    // distinct BEFORE seeding: on a heavily duplicated corpus (this
    // library's home turf) duplicate sample vectors would let
    // farthest-first pick the same point twice (max-min distance 0),
    // silently pinning two identical centroids forever — and the
    // distinct must logically run BEFORE the hash-ordered limit too:
    // hash order clusters a vector's replicas adjacently, so at
    // duplication rate R the raw 32k oversample holds only ~32k/R
    // distinct vectors — a 50x-replicated corpus starves k=16 seeding
    // outright (pinned by SimilaritySpec). But an unconditional
    // full-corpus distinct is a data-sized shuffle, so PROBE first:
    // one zero-shuffle TakeOrdered job collects the smallest-hash
    // `target` rows. Replica adjacency means any duplication relevant
    // to the sample shows up inside that window, and a dup-free probe
    // IS the distinct sample (each distinct vector hashing below the
    // window edge contributes exactly one row), so the full distinct
    // is paid only when duplication is actually observed — which is
    // precisely when map-side partial aggregation crushes that
    // shuffle's volume to per-partition-distinct counts. Either
    // branch yields the identical sample. Lloyd iterations still run
    // over the FULL corpus, so centroids stay duplication-weighted.
    val target = 32 * k
    val probe = vecs
      .orderBy(xxhash64(col("_e")), col("_e"))
      .limit(target)
      .collect().map(_.getSeq[Double](0).toSeq)
    val sample =
      if (probe.distinct.length == probe.length) probe
      else vecs
        .distinct()
        .orderBy(xxhash64(col("_e")), col("_e"))
        .limit(target)
        .collect().map(_.getSeq[Double](0).toSeq).distinct
    require(sample.length >= k,
      s"need at least $k DISTINCT vectors in the init sample to train, got ${sample.length}")
    val seeds = scala.collection.mutable.ArrayBuffer(sample.head)
    while (seeds.size < k)
      seeds += sample.maxBy(p => seeds.iterator.map(s => sqDist(p, s)).min)
    var codebook: Seq[(Long, Seq[Double])] =
      seeds.toSeq.zipWithIndex.map { case (e, i) => (i.toLong, e) }
    for (_ <- 0 until iters) {
      val means = vecs
        .withColumn("_cid",
          VE.nearest_centroid(col("_e"), codebook))
        .select(col("_cid"), posexplode(col("_e")).as(Seq("_pos", "_v")))
        .groupBy("_cid", "_pos").agg(avg("_v").as("_m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
      codebook = codebook.map { case (cid, ce) => (cid, means.getOrElse(cid, ce)) }
    }
    codebook
  }

  /** A trained product-quantization model: `codebooks(m)(code)` is
    * the `subDim`-dim centroid of subspace `m` — the whole model is
    * M × ksub × subDim doubles (KBs), the codebook-literal trade.
    * Codes quantize the L2-NORMALIZED vector: on the unit sphere
    * squared L2 is monotone with cosine (||q̂−x̂||² = 2 − 2·cos), so
    * an ADC shortlist ranked by approximate L2 IS a cosine shortlist,
    * which is what lets the exact-cosine re-rank recover the true
    * top-k from it. With `residual` set, codes quantize the RESIDUAL
    * (normalized vector − normalized coarse centroid of the row's
    * inverted list) instead — FAISS-style IVFPQ: each list's residual
    * distribution is far tighter than the whole sphere, so the same
    * M × ksub budget covers it with less quantization error, buying
    * ADC-shortlist recall. Train with pqTrainResidual, assign with
    * pqAssignResidual; probes shift the query by each probed list's
    * centroid (q − c is scored against the residual codebooks, which
    * is exactly ||q − (c + r̂)||²). Pair search (SDC) cannot carry
    * the per-list cross terms, so nearDupPairsIvfPq refuses residual
    * models.
    *
    * `rotation`, when set, is an ORTHOGONAL D×D matrix (rows are the
    * rotated basis) applied to the normalized vector BEFORE subspace
    * slicing — the OPQ idea (parametric/PCA variant, public
    * knowledge): decorrelate dimensions and spread variance across
    * subspaces so the same M × ksub budget quantizes with less error.
    * Orthogonality preserves L2, so ADC distances in the rotated
    * frame equal distances in the original one; codes-vs-codes SDC is
    * unaffected (both sides rotated). Train with pqTrainOpq; pqAssign
    * and the probes apply the rotation transparently.
    *
    * residual AND rotation together are the FAISS-style OPQ→IVFPQ
    * stack: rotate FIRST, then residual-encode in the rotated frame.
    * Because R is linear and orthogonal, R·v̂ − R·ĉ = R·(v̂ − ĉ) — so
    * assign rotates the residual, and a probe rotates each probed
    * list's shifted query (q̂ − ĉ_list) once, driver-side; every plan
    * shape is identical to the residual-only model. Train with
    * pqTrainOpqResidual (the rotation is learned on the RESIDUAL
    * distribution — the thing actually being quantized), assign with
    * pqAssignResidual. */
  final case class PqModel(numSubspaces: Int, subDim: Int,
      codebooks: Seq[Seq[Seq[Double]]], residual: Boolean = false,
      rotation: Option[Seq[Seq[Double]]] = None) {
    require(codebooks.length == numSubspaces,
      s"expected $numSubspaces codebooks, got ${codebooks.length}")
    require(rotation.forall(r => r.length == numSubspaces * subDim &&
        r.forall(_.length == numSubspaces * subDim)),
      "rotation must be a dims x dims matrix")
    def dims: Int = numSubspaces * subDim
    /** Largest per-subspace codebook. Subspaces can be SMALLER than
      * the trainer's ksub (pqTrain shrinks a degenerate dim block to
      * its distinct-slice count), and subspace 0 is not special, so
      * head.length would misreport capacity. */
    def ksub: Int = codebooks.map(_.length).max
  }

  private def normalizeVec(q: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n == 0) q else q.map(_ / n)
  }

  /** Driver-side y = R·v for a query, in the compiled mat_vec kernel's
    * left-to-right accumulation order, so rotated values are
    * bit-identical across both. */
  private def rotateVec(r: Seq[Seq[Double]], v: Seq[Double]): Seq[Double] =
    r.map(row => row.zip(v).map { case (a, b) => a * b }.sum)

  /** Probe the corpus's embedding width and validate the subspace
    * split; returns (dims, dsub). One bounded single-row job. */
  private def probeDims(df: DataFrame, embCol: String, numSubspaces: Int,
      fn: String): (Int, Int) = {
    require(numSubspaces >= 1, s"numSubspaces must be >= 1, got $numSubspaces")
    val dimRow = df.select(size(col(embCol)).as("_d")).filter(col("_d") > 0)
      .limit(1).collect()
    require(dimRow.nonEmpty, s"$fn needs at least one non-empty embedding")
    val dims = dimRow(0).getInt(0)
    require(dims % numSubspaces == 0,
      s"embedding dim $dims is not divisible into $numSubspaces subspaces")
    (dims, dims / numSubspaces)
  }

  private def requireKsub(ksub: Int): Unit =
    require(ksub >= 1 && ksub <= 256,
      s"ksub must be in [1, 256] (codes are byte-sized by design), got $ksub")

  /** Append `outCol` = the L2-normalized double-array of `embCol`;
    * zero vectors pass through unscaled (no NaN codes). The norm is
    * staged as its own column so the per-element division does not
    * re-evaluate the dot product per element. */
  private def withNormalized(df: DataFrame, embCol: String, outCol: String): DataFrame = {
    val e = asDouble(col(embCol))
    df.withColumn("_nrm", sqrt(VE.dot_product(e, e)))
      .withColumn(outCol,
        when(col("_nrm") === 0.0, e).otherwise(transform(e, x => x / col("_nrm"))))
      .drop("_nrm")
  }

  /** The non-null embeddings of `df`, normalized, as one `_n` column —
    * the vector frame every trainer reads. */
  private def normedVecs(df: DataFrame, embCol: String): DataFrame =
    withNormalized(df.select(col(embCol)).filter(col(embCol).isNotNull), embCol, "_n")
      .select(col("_n"))

  /** Train PQ codebooks: per-subspace k-means over ONE bounded,
    * deterministic hash-ordered sample of the normalized corpus
    * (localCheckpoint'ed, so the M × iters Lloyd jobs rescan the
    * sample, never the corpus — PQ codebooks converge on a sample by
    * design; raise `maxTrainRows` if ksub grows). Reuses
    * `trainCodebook` per subspace, inheriting its farthest-first
    * seeding and deterministic tie-breaks. */
  def pqTrain(df: DataFrame, embCol: String, numSubspaces: Int,
      ksub: Int = 16, iters: Int = 5, maxTrainRows: Int = 65536): PqModel = {
    requireKsub(ksub)
    val (_, dsub) = probeDims(df, embCol, numSubspaces, "pqTrain")
    // distinct logically BEFORE the hash-ordered limit: hash order
    // clusters a vector's replicas adjacently, so on a heavily
    // duplicated corpus (this library's home turf) the first
    // maxTrainRows rows would be ~maxTrainRows/dupRate distinct
    // vectors — too few to seed ksub centroids. But an unconditional
    // full-corpus distinct is a data-sized shuffle, so probe first
    // exactly as trainCodebook does (see there): materialize the raw
    // zero-shuffle TakeOrdered sample, count duplication INSIDE it
    // (replica adjacency puts any sample-relevant duplication in the
    // window), and pay the corpus distinct only when dups are
    // observed — which is when map-side partial aggregation crushes
    // that shuffle anyway. Either branch checkpoints the identical
    // sample, so the M x iters Lloyd jobs rescan the sample, never
    // the corpus.
    PqModel(numSubspaces, dsub, trainSubspaceCodebooks(normedVecs(df, embCol),
      numSubspaces, dsub, ksub, iters, maxTrainRows))
  }

  /** The bounded deterministic sample every PQ trainer draws (see the
    * pqTrain comment): checkpointed raw TakeOrdered window, full
    * distinct only when the window observes duplication. */
  private def boundedSample(vecFrame: DataFrame, maxTrainRows: Int): DataFrame = {
    val raw = vecFrame
      .orderBy(xxhash64(col("_n")), col("_n"))
      .limit(maxTrainRows)
      .localCheckpoint()
    val dupProbe = raw
      .select(count(lit(1)).as("_n_rows"), countDistinct(col("_n")).as("_n_dist"))
      .collect()(0)
    if (dupProbe.getLong(0) == dupProbe.getLong(1)) raw
    else {
      // the probe window is superseded — release its checkpoint blocks
      // now instead of waiting for driver GC of the orphaned frame
      raw.unpersist()
      vecFrame
        .distinct()
        .orderBy(xxhash64(col("_n")), col("_n"))
        .limit(maxTrainRows)
        .localCheckpoint()
    }
  }

  /** Shared PQ training core over a single-column (`_n`) vector frame:
    * bounded deterministic sample, then per-subspace k-means. */
  private def trainSubspaceCodebooks(vecFrame: DataFrame, numSubspaces: Int,
      dsub: Int, ksub: Int, iters: Int, maxTrainRows: Int): Seq[Seq[Seq[Double]]] = {
    val sample = boundedSample(vecFrame, maxTrainRows)
    (0 until numSubspaces).map { s =>
      val slices = sample.select(slice(col("_n"), s * dsub + 1, dsub).as("_e"))
      // a degenerate subspace (a constant or zero-padded dim block —
      // common in real embedding corpora) has fewer distinct slices
      // than ksub; train it with the centroids that EXIST rather than
      // refusing the whole corpus. Duplicate centroids would add no
      // information, and ADC/SDC score per-subspace codebook sizes
      // independently, so a smaller codebook in one subspace is fine.
      val kEff = math.max(1L,
        math.min(ksub.toLong, slices.distinct().count())).toInt
      trainCodebook(slices, "_e", kEff, iters).sortBy(_._1).map(_._2)
    }
  }

  /** Normalized-centroid lookup frame for residual coding: one
    * (cid, normalized centroid) row per inverted list — KB-sized,
    * always broadcast. */
  private def normCentroids(spark: org.apache.spark.sql.SparkSession,
      codebook: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    codebook.map { case (cid, ce) => (cid, normalizeVec(ce)) }.toDF("_rcid", "_rcn")
  }

  /** Train RESIDUAL PQ codebooks (FAISS-style IVFPQ): each training
    * vector is normalized, assigned to its nearest coarse centroid
    * (the SAME raw-vector rule ivfAssign uses, so assign-time
    * residuals match), and the per-subspace k-means runs over
    * (normalized vector − normalized centroid) — a per-list cloud far
    * tighter than the whole unit sphere, so the same M × ksub budget
    * quantizes it with less error and the ADC shortlist ranks closer
    * to the true cosine order (SimilaritySpec pins recall ≥ the
    * direct model at fixed M/ksub/nprobe/rerank). The returned model
    * carries `residual = true`; assign with pqAssignResidual, probe
    * with the usual ivfPqProbe/ivfPqProbeAll (they shift the query by
    * each probed list's centroid). */
  def pqTrainResidual(df: DataFrame, embCol: String,
      codebook: Seq[(Long, Seq[Double])], numSubspaces: Int,
      ksub: Int = 16, iters: Int = 5, maxTrainRows: Int = 65536): PqModel = {
    requireKsub(ksub)
    val (dims, dsub) = probeDims(df, embCol, numSubspaces, "pqTrainResidual")
    val residuals = residualFrame(df, embCol, codebook, dims, "pqTrainResidual")
    PqModel(numSubspaces, dsub,
      trainSubspaceCodebooks(residuals, numSubspaces, dsub, ksub, iters, maxTrainRows),
      residual = true)
  }

  /** The residual training cloud both residual trainers share: each
    * non-null vector normalized, coarse-assigned by the SAME raw-vector
    * rule ivfAssign uses (so assign-time residuals match), minus its
    * list's normalized centroid — one single-column (`_n`) frame. */
  private def residualFrame(df: DataFrame, embCol: String,
      codebook: Seq[(Long, Seq[Double])], dims: Int, fn: String): DataFrame = {
    require(codebook.nonEmpty, s"$fn needs the coarse codebook")
    require(codebook.forall(_._2.length == dims),
      s"coarse centroid dims != embedding dims ($dims) — residuals would " +
        "truncate or null-pad instead of failing loudly")
    withNormalized(
        df.select(col(embCol)).filter(col(embCol).isNotNull), embCol, "_nv")
      .withColumn("_rcid", VE.nearest_centroid(asDouble(col(embCol)), codebook))
      .join(broadcast(normCentroids(df.sparkSession, codebook)), Seq("_rcid"))
      .select(zip_with(col("_nv"), col("_rcn"), (a, b) => a - b).as("_n"))
  }

  /** Cyclic-Jacobi eigendecomposition of a symmetric matrix (driver
    * side; the input is a D×D covariance, KBs at embedding dims).
    * Returns (eigenvalues, eigenvectors-as-ROWS), unsorted. */
  private def symmetricEigen(a: Array[Array[Double]]):
      (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    val m = a.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      for (i <- 0 until n; j <- 0 until n if i != j) s += m(i)(j) * m(i)(j)
      s
    }
    var sweep = 0
    while (sweep < 50 && offDiag() > 1e-18) {
      for (p <- 0 until n - 1; q <- p + 1 until n if math.abs(m(p)(q)) > 1e-15) {
        val theta = (m(q)(q) - m(p)(p)) / (2 * m(p)(q))
        val t =
          if (theta == 0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
        val c = 1 / math.sqrt(t * t + 1)
        val s = t * c
        var i = 0
        while (i < n) {
          val mip = m(i)(p); val miq = m(i)(q)
          m(i)(p) = c * mip - s * miq
          m(i)(q) = s * mip + c * miq
          i += 1
        }
        i = 0
        while (i < n) {
          val mpi = m(p)(i); val mqi = m(q)(i)
          m(p)(i) = c * mpi - s * mqi
          m(q)(i) = s * mpi + c * mqi
          i += 1
        }
        i = 0
        while (i < n) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
          i += 1
        }
      }
      sweep += 1
    }
    // columns of v are eigenvectors; return them as rows
    (Array.tabulate(n)(i => m(i)(i)), Array.tabulate(n, n)((i, j) => v(j)(i)))
  }

  /** Sample moments accumulated CLUSTER-SIDE in one pass: count, sum,
    * and the upper-triangle Gram matrix. Per-partition imperative
    * accumulation (the one shape RDD aggregation is for — the
    * alternative, exploding D² covariance cells per row through a
    * groupBy, shuffles sample×D² values); what reaches the driver is
    * the D(D+3)/2 + 1 doubles of the moments, KBs–MBs at any embedding
    * width, NEVER the sample itself. Rows at the wrong width are
    * skipped, mirroring the old collect-side filter. */
  private def sampleMoments(vecFrame: DataFrame,
      dims: Int): (Long, Array[Double], Array[Double]) = {
    type Acc = (Long, Array[Double], Array[Double])
    val zero: Acc = (0L, new Array[Double](dims),
      new Array[Double](dims * (dims + 1) / 2))
    vecFrame.select(col("_n")).rdd.treeAggregate(zero)(
      seqOp = { case (acc @ (n, s, g), row) =>
        val xSeq = row.getSeq[Double](0)
        if (xSeq.length != dims) acc
        else {
          val x = xSeq.toArray
          var i = 0; var idx = 0
          while (i < dims) {
            val xi = x(i)
            s(i) += xi
            var j = i
            while (j < dims) { g(idx) += xi * x(j); idx += 1; j += 1 }
            i += 1
          }
          (n + 1, s, g)
        }
      },
      combOp = { case ((n1, s1, g1), (n2, s2, g2)) =>
        var i = 0
        while (i < dims) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < g1.length) { g1(i) += g2(i); i += 1 }
        (n1 + n2, s1, g1)
      })
  }

  /** PCA rotation with eigenvalue allocation over a single-column
    * (`_n`) vector frame — the shared core of both OPQ trainers. The
    * covariance is computed cluster-side (sampleMoments); only the
    * D×D Jacobi eigendecomposition stays on the driver, and THAT is
    * O(D³) per sweep — hence the loud D cap rather than a silent
    * minutes-long stall at large embedding widths. */
  private def pcaAllocRotation(sample: DataFrame, dims: Int,
      numSubspaces: Int, dsub: Int, fn: String): Seq[Seq[Double]] = {
    require(dims <= 1024,
      s"$fn's driver-side Jacobi eigendecomposition is O(D³) per sweep — " +
        s"D=$dims exceeds the 1024 cap. Reduce the embedding width upstream " +
        "or train without rotation (pqTrain/pqTrainResidual)")
    val (n, sums, gram) = sampleMoments(sample, dims)
    require(n > 0, s"$fn needs sample vectors at the probed dims")
    // cov = E[x xᵀ] − m mᵀ (population covariance, same normalization
    // as the former collect-side two-pass)
    val cov = Array.ofDim[Double](dims, dims)
    var idx = 0
    var i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        val c = gram(idx) / n - (sums(i) / n) * (sums(j) / n)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1; j += 1
      }
      i += 1
    }
    val (eigvals, eigvecs) = symmetricEigen(cov)
    // eigenvalue allocation: visit directions by decreasing variance,
    // always into the least-loaded (log-product) unfilled subspace
    val order = eigvals.indices.sortBy(k => -eigvals(k))
    val logs = Array.fill(numSubspaces)(0.0)
    val buckets = Array.fill(numSubspaces)(List.empty[Int])
    order.foreach { k =>
      val open = (0 until numSubspaces).filter(buckets(_).length < dsub)
      val mIdx = open.minBy(logs)
      buckets(mIdx) = k :: buckets(mIdx)
      logs(mIdx) += math.log(math.max(eigvals(k), 1e-12))
    }
    buckets.toSeq.flatMap(_.reverse.map(k => eigvecs(k).toSeq))
  }

  /** Procrustes cross-moments of OPQ's alternating step: M = Σ x·ŷᵀ
    * over the sample, where ŷ is the per-subspace nearest-centroid
    * reconstruction of R·x under the CURRENT codebooks. Accumulated
    * cluster-side (the same treeAggregate shape as sampleMoments — the
    * driver collects the D² matrix, KBs–MBs, never the sample);
    * per-row cost is D² rotate + M·ksub·dsub quantize + D² outer,
    * train-time only and sample-bounded. Rows at the wrong width are
    * skipped, mirroring sampleMoments. */
  private def procrustesMoments(sample: DataFrame, rot: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], dims: Int, dsub: Int): Array[Array[Double]] = {
    val rotA = rot.map(_.toArray).toArray
    val booksA = books.map(_.map(_.toArray).toArray).toArray
    val flat = sample.select(col("_n")).rdd.treeAggregate(
      new Array[Double](dims * dims))(
      seqOp = { (m, row) =>
        val xSeq = row.getSeq[Double](0)
        if (xSeq.length != dims) m
        else {
          val x = xSeq.toArray
          // y = R·x, same left-to-right accumulation as mat_vec
          val y = new Array[Double](dims)
          var i = 0
          while (i < dims) {
            val r = rotA(i); var s = 0.0; var j = 0
            while (j < dims) { s += r(j) * x(j); j += 1 }
            y(i) = s; i += 1
          }
          // ŷ = concat of each subspace's nearest centroid to its slice
          val yhat = new Array[Double](dims)
          var sub = 0
          while (sub < booksA.length) {
            val cb = booksA(sub); val off = sub * dsub
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cb.length) {
              val ce = cb(c); var d2 = 0.0; var j = 0
              while (j < dsub && j < ce.length) {
                val t = y(off + j) - ce(j); d2 += t * t; j += 1
              }
              if (d2 < bestD) { bestD = d2; best = c }
              c += 1
            }
            val ce = cb(best); var j = 0
            while (j < dsub && j < ce.length) { yhat(off + j) = ce(j); j += 1 }
            sub += 1
          }
          i = 0
          while (i < dims) {
            val xi = x(i); val rowOff = i * dims; var j = 0
            while (j < dims) { m(rowOff + j) += xi * yhat(j); j += 1 }
            i += 1
          }
          m
        }
      },
      combOp = { (m1, m2) =>
        var i = 0
        while (i < m1.length) { m1(i) += m2(i); i += 1 }
        m1
      })
    Array.tabulate(dims, dims)((i, j) => flat(i * dims + j))
  }

  /** Orthogonal-Procrustes solve: the R maximizing tr(R·M) over
    * orthogonal matrices is V·Uᵀ for the SVD M = U·S·Vᵀ. The SVD
    * comes from the existing Jacobi eigensolver (MᵀM = V·Λ·Vᵀ, then
    * uᵢ = M·vᵢ/sᵢ); null directions (sᵢ ≈ 0 — a data subspace the
    * quantizer reconstructs to a constant) are completed by
    * Gram–Schmidt against the resolved columns, and one modified-GS
    * hygiene pass keeps U orthonormal under repeated singular values,
    * so the returned R is orthogonal to working precision — the
    * property that makes rotated-frame ADC distances equal original
    * ones. Driver-side O(D³), same cap as pcaAllocRotation. */
  private[operators] def procrustesRotation(m: Array[Array[Double]]): Seq[Seq[Double]] = {
    val n = m.length
    val mtm = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < n) { s += m(k)(i) * m(k)(j); k += 1 }
      s
    }
    val (eigvals, eigvecs) = symmetricEigen(mtm)
    val order = eigvals.indices.sortBy(k => -eigvals(k))
    val v = order.map(k => eigvecs(k)).toArray
    val sVals = order.map(k => math.sqrt(math.max(eigvals(k), 0.0))).toArray
    val sMax = if (sVals.isEmpty) 0.0 else sVals.max
    val tol = 1e-12 * math.max(sMax, 1.0)
    val u = Array.ofDim[Array[Double]](n)
    for (k <- 0 until n if sVals(k) > tol) {
      val vk = v(k)
      u(k) = Array.tabulate(n) { i =>
        var s = 0.0; var j = 0
        while (j < n) { s += m(i)(j) * vk(j); j += 1 }
        s / sVals(k)
      }
    }
    // modified Gram–Schmidt over resolved columns, then complete the
    // null directions from the standard basis
    def mgs(vec: Array[Double], against: Seq[Array[Double]]): Array[Double] = {
      val w = vec.clone()
      against.foreach { a =>
        var dot = 0.0; var i = 0
        while (i < n) { dot += w(i) * a(i); i += 1 }
        i = 0
        while (i < n) { w(i) -= dot * a(i); i += 1 }
      }
      w
    }
    val done = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (k <- 0 until n) {
      val cand =
        if (u(k) != null) mgs(u(k), done.toSeq)
        else {
          // first standard-basis vector with usable residual
          (0 until n).iterator.map { e =>
            val ev = Array.tabulate(n)(i => if (i == e) 1.0 else 0.0)
            mgs(ev, done.toSeq)
          }.find(w => math.sqrt(w.map(x => x * x).sum) > 1e-8).get
        }
      val nrm = math.sqrt(cand.map(x => x * x).sum)
      require(nrm > 1e-12, "procrustesRotation: degenerate basis completion")
      done += cand.map(_ / nrm)
    }
    val uq = done.toArray
    // R = V·Uᵀ: R(i)(j) = Σ_k v_k(i) · u_k(j)
    Seq.tabulate(n, n) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < n) { s += v(k)(i) * uq(k)(j); k += 1 }
      s
    }
  }

  /** OPQ's alternating (non-parametric) refinement — Ge et al.'s
    * OPQ-NP, public knowledge: starting from the parametric PCA
    * rotation, repeat `opqIters` times { fix codebooks, re-fit R by
    * orthogonal Procrustes against the sample's reconstructions; fix
    * R, retrain codebooks in the new frame }. Each step cannot
    * increase the sample quantization error, so the refined model
    * quantizes at least as tightly as the parametric one at the same
    * M × ksub budget (SimilaritySpec pins a strict recall win on a
    * mixing-rotation fixture whose isotropic covariance blinds PCA).
    * Cost is train-time only: opqIters × (one sample scan for the
    * moments + one per-subspace k-means round). */
  private def refineOpqRotation(sample: DataFrame, dims: Int,
      numSubspaces: Int, dsub: Int, ksub: Int, iters: Int,
      maxTrainRows: Int, init: Seq[Seq[Double]], opqIters: Int):
      (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    require(opqIters >= 0, s"opqIters must be >= 0, got $opqIters")
    var rot = init
    var books = trainSubspaceCodebooks(
      sample.select(VE.mat_vec(rot, col("_n")).as("_n")),
      numSubspaces, dsub, ksub, iters, maxTrainRows)
    var it = 0
    while (it < opqIters) {
      rot = procrustesRotation(procrustesMoments(sample, rot, books, dims, dsub))
      books = trainSubspaceCodebooks(
        sample.select(VE.mat_vec(rot, col("_n")).as("_n")),
        numSubspaces, dsub, ksub, iters, maxTrainRows)
      it += 1
    }
    (rot, books)
  }

  /** Train an OPQ-rotated PQ model (the parametric/PCA variant, public
    * knowledge): PCA-rotate the normalized sample, allocate principal
    * directions to subspaces balancing the per-subspace eigenvalue
    * PRODUCT (greedy on the log-sum — the standard eigenvalue-
    * allocation rule), and train the subspace codebooks in the
    * rotated frame. Correlated dimensions that a fixed slicing would
    * split across subspaces (quantizing the same variation twice,
    * badly) land together, so the same M × ksub budget covers the
    * data with less error — SimilaritySpec pins recall ≥ direct PQ at
    * the same budget. The covariance is aggregated cluster-side (the
    * driver collects D(D+3)/2 moments, not the sample); only the
    * O(D³)-per-sweep Jacobi eigendecomposition runs on the driver,
    * capped loudly at D=1024. The rotation is persisted with the
    * model and applied transparently by pqAssign and the probes.
    *
    * `opqIters` > 0 adds the alternating (non-parametric) refinement
    * (see refineOpqRotation): when the corpus's covariance carries no
    * usable signal — near-isotropic embeddings are common after
    * whitening — the PCA init is blind, and the Procrustes↔k-means
    * alternation still descends the actual quantization error.
    * opqIters = 0 (the default) is bit-identical to the parametric
    * trainer. */
  def pqTrainOpq(df: DataFrame, embCol: String, numSubspaces: Int,
      ksub: Int = 16, iters: Int = 5, maxTrainRows: Int = 65536,
      opqIters: Int = 0): PqModel = {
    requireKsub(ksub)
    val (dims, dsub) = probeDims(df, embCol, numSubspaces, "pqTrainOpq")
    val sample = boundedSample(normedVecs(df, embCol), maxTrainRows)
    val init = pcaAllocRotation(sample, dims, numSubspaces, dsub, "pqTrainOpq")
    val (rotation, books) = refineOpqRotation(sample, dims, numSubspaces,
      dsub, ksub, iters, maxTrainRows, init, opqIters)
    PqModel(numSubspaces, dsub, books,
      residual = false, rotation = Some(rotation))
  }

  /** Train the composed OPQ→IVFPQ model (rotation AND residual — the
    * FAISS-style production stack, public knowledge): build the
    * residual cloud exactly as pqTrainResidual does, learn the PCA
    * rotation ON THE RESIDUALS (they are what gets quantized — the
    * whole-sphere principal directions are dominated by coarse-cluster
    * positions the residual subtraction already removed), then train
    * the subspace codebooks over the ROTATED residuals. Because R is
    * linear and orthogonal, R·v̂ − R·ĉ = R·(v̂ − ĉ): assign rotates
    * each row's residual (pqAssignResidual, compiled mat_vec), and a
    * probe rotates each probed list's shifted query driver-side — no
    * per-list rotated centroids, no new plan shapes. SimilaritySpec
    * pins recall(OPQ+residual) ≥ recall(residual) ≥ recall(direct) at
    * a fixed M/ksub/nprobe/rerank budget.
    *
    * `opqIters` > 0 runs the alternating refinement over the residual
    * cloud (see refineOpqRotation); 0 (the default) is bit-identical
    * to the parametric composition. */
  def pqTrainOpqResidual(df: DataFrame, embCol: String,
      codebook: Seq[(Long, Seq[Double])], numSubspaces: Int,
      ksub: Int = 16, iters: Int = 5, maxTrainRows: Int = 65536,
      opqIters: Int = 0): PqModel = {
    requireKsub(ksub)
    val (dims, dsub) = probeDims(df, embCol, numSubspaces, "pqTrainOpqResidual")
    val residuals = residualFrame(df, embCol, codebook, dims, "pqTrainOpqResidual")
    val sample = boundedSample(residuals, maxTrainRows)
    val init = pcaAllocRotation(sample, dims, numSubspaces, dsub,
      "pqTrainOpqResidual")
    val (rotation, books) = refineOpqRotation(sample, dims, numSubspaces,
      dsub, ksub, iters, maxTrainRows, init, opqIters)
    PqModel(numSubspaces, dsub, books,
      residual = true, rotation = Some(rotation))
  }

  /** Build a PqModel from explicit donor vectors (normalized, then
    * sliced per subspace; `codebooks(m)(i)` comes from `vectors(i)`)
    * — the externally-supplied-codebook path, and what makes the PQ
    * pipeline oracle-checkable (a fixed codebook needs no k-means on
    * the oracle side). */
  def pqFromVectors(vectors: Seq[Seq[Double]], numSubspaces: Int): PqModel = {
    require(vectors.nonEmpty, "pqFromVectors needs at least one donor vector")
    val dims = vectors.head.length
    require(dims % numSubspaces == 0,
      s"vector dim $dims is not divisible into $numSubspaces subspaces")
    val dsub = dims / numSubspaces
    val normed = vectors.map(normalizeVec)
    PqModel(numSubspaces, dsub,
      (0 until numSubspaces).map(s => normed.map(_.slice(s * dsub, (s + 1) * dsub))))
  }

  /** Attach the PQ code column: per subspace, the nearest codebook
    * centroid of the NORMALIZED vector's slice — M smallints per row
    * instead of D floats, the compression that keeps a 100 TB ANN
    * index scannable (64-dim floats: 256 B/row raw vs 8 B/row coded
    * at M=4). Pure map-side (the codebooks ride inside
    * nearest_centroid's generated code); null embeddings get a null
    * code. Write the result with `writeIndex` as usual — the raw
    * embedding column can be dropped from the written index when
    * exact re-rank reads it from the primary store instead. */
  def pqAssign(df: DataFrame, embCol: String, model: PqModel,
      codeCol: String = "pq_code"): DataFrame = {
    require(!model.residual,
      "residual models code (vector − list centroid); assign them with " +
        "pqAssignResidual over an ivfAssign'ed frame")
    val normed = withNormalized(df, embCol, "_pq_n")
    // OPQ rotation before slicing (see PqModel.rotation); a dims-
    // mismatched vector rotates to NULL, hence a null code
    val framed = model.rotation.fold(normed)(r =>
      normed.withColumn("_pq_n", VE.mat_vec(r, col("_pq_n"))))
    framed
      .withColumn(codeCol,
        when(col(embCol).isNotNull && col("_pq_n").isNotNull &&
          size(col("_pq_n")) === model.dims, pqCodes(model, col("_pq_n"))))
      // the explicit width check matters for DIRECT models (rotation
      // models already null on mismatch via mat_vec): slice() past a
      // short vector yields empty subspaces whose nearest centroid is
      // index 0 at distance 0 — a valid-LOOKING code for a garbage
      // row, where sq_encode/bq_encode return NULL
      .drop("_pq_n")
  }

  /** Attach the RESIDUAL PQ code column to an ivfAssign'ed frame: per
    * subspace, the nearest residual-codebook centroid of (normalized
    * vector − normalized centroid of the row's `cidCol` list). Same
    * M-smallints shape and null-embedding contract as pqAssign; a row
    * whose cid is missing from the codebook (index/codebook drift)
    * gets a NULL code — it sorts out of every ADC shortlist instead
    * of scoring against the wrong list's frame of reference. The
    * centroid lookup is a KB-sized broadcast join; coding itself
    * stays map-side codegen. */
  def pqAssignResidual(assigned: DataFrame, embCol: String,
      codebook: Seq[(Long, Seq[Double])], model: PqModel,
      codeCol: String = "pq_code", cidCol: String = "cid"): DataFrame = {
    require(model.residual,
      "pqAssignResidual needs a residual model (pqTrainResidual); direct " +
        "models assign with pqAssign")
    require(codebook.nonEmpty, "pqAssignResidual needs the coarse codebook")
    require(codebook.forall(_._2.length == model.dims),
      s"coarse centroid dims != PqModel dims (${model.dims}) — the residual " +
        "subtraction would truncate or null-pad instead of failing loudly")
    require(assigned.columns.contains(cidCol),
      s"pqAssignResidual needs the inverted-list column '$cidCol' — run ivfAssign first")
    // OPQ composition: rotate the residual (R·(v̂ − ĉ) — identical to
    // residual-of-rotated because R is linear); a dims-mismatched row
    // rotates to NULL, hence a null code, same contract as pqAssign
    val resid = zip_with(col("_pq_n"), col("_rcn"), (a, b) => a - b)
    withNormalized(assigned, embCol, "_pq_n")
      .join(broadcast(normCentroids(assigned.sparkSession, codebook)),
        col(cidCol) === col("_rcid"), "left")
      .withColumn("_pq_r", model.rotation.fold(resid)(r => VE.mat_vec(r, resid)))
      .withColumn(codeCol,
        when(col(embCol).isNotNull && col("_rcn").isNotNull &&
          col("_pq_r").isNotNull && size(col("_pq_n")) === model.dims,
          pqCodes(model, col("_pq_r"))))
      .drop("_pq_n", "_pq_r", "_rcid", "_rcn")
  }

  /** Per subspace, the nearest codebook centroid of `v`'s slice — the
    * M-smallint PQ code (the codebooks ride inside nearest_centroid's
    * generated code). */
  private def pqCodes(model: PqModel, v: Column): Column =
    array((0 until model.numSubspaces).map { s =>
      VE.nearest_centroid(slice(v, s * model.subDim + 1, model.subDim),
        model.codebooks(s).zipWithIndex.map { case (ce, i) => (i.toLong, ce) })
        .cast("smallint")
    }: _*)

  /** IVF-PQ probe, single query vector (see Codec): the list scan
    * scores ADC (`pq_adc`) over the M-smallint code column — the raw
    * embeddings never enter it. Recall follows rerank and nprobe
    * (SimilaritySpec pins recall@10 ≥ 0.9 on the fixture corpus); the
    * FINAL scores are exact cosines, so results are deterministic and
    * oracle-comparable wherever the shortlist contains the true top-k.
    * A query of the wrong width fails loudly: against a wrong model
    * every ADC score is NaN and the shortlist would be arbitrary. */
  def ivfPqProbe(assigned: DataFrame, embCol: String, idCol: String,
      query: Seq[Double], k: Int, codebook: Seq[(Long, Seq[Double])],
      pq: PqModel, nprobe: Int = 1, rerank: Int = 0,
      cidCol: String = "cid", codeCol: String = "pq_code",
      excludeId: Option[Long] = None,
      rerankFrom: Option[DataFrame] = None): DataFrame =
    probeOne("ivfPqProbe", assigned, embCol, idCol, query, k, Pq(pq, codeCol),
      Some(Lists(codebook, nprobe, cidCol)), excludeId, rerank, rerankFrom)

  /** Batch IVF-PQ probe (see Codec): ivfProbeAll's throughput shape
    * with the PQ scan economics — probed lists score ADC against the
    * code column and only the shortlisted rows read raw embeddings.
    * A wrong-width query fails the job (`assert_true`). */
  def ivfPqProbeAll(assigned: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      codebook: Seq[(Long, Seq[Double])], pq: PqModel, k: Int,
      nprobe: Int = 1, rerank: Int = 0, cidCol: String = "cid",
      codeCol: String = "pq_code", excludeSelf: Boolean = false,
      broadcastProbes: Option[Boolean] = None,
      rerankFrom: Option[DataFrame] = None): DataFrame =
    probeBatch("ivfPqProbeAll", assigned, embCol, idCol, queries, qIdCol, qEmbCol,
      k, Pq(pq, codeCol), Some(Lists(codebook, nprobe, cidCol, broadcastProbes)),
      excludeSelf, rerank, rerankFrom)

  /** Near-duplicate embedding pairs above a cosine threshold, searched
    * bucket-locally (no O(n^2) cross join): bucket by hyperplane
    * signs, expand pairs anchor-first inside the bucket (streaming —
    * see pairsInBuckets), then score. A bucket with more than
    * `maxBucket` vectors (degenerate hyperplane cut) is dropped before
    * the vector arrays are collected, with drop counts logged via
    * observed metrics. */
  def nearDupPairs(df: DataFrame, embCol: String, idCol: String,
      bits: Int, minCosine: Double,
      maxBucket: Int = 8192): DataFrame = {
    val bucketed = df.select(col(idCol).as("_id"), asDouble(col(embCol)).as("_e"),
      signBucket(col(embCol), bits).as("_bucket"))
    pairsInBuckets(bucketed, minCosine, maxBucket, "graft_embedding_bucket_cap")
  }

  /** IVF-bucketed near-duplicate pairs — the codebook-aware variant
    * of `nearDupPairs` with a RECALL knob: every vector lands in its
    * `nprobe` nearest inverted lists (multi-assignment, ranked
    * against the codebook literal entirely inside codegen), so a
    * near-pair straddling a Voronoi boundary still shares a list at
    * nprobe >= 2 where single-assignment would miss it. Pairs are
    * still generated strictly bucket-locally (never all-pairs), hot
    * lists are capped with observed drop counts, and a pair that
    * co-occurs in several shared lists dedups to one row. Work scales
    * as nprobe x the single-assignment search. */
  def nearDupPairsIvf(df: DataFrame, embCol: String, idCol: String,
      codebook: Seq[(Long, Seq[Double])], minCosine: Double,
      nprobe: Int = 1, maxBucket: Int = 8192): DataFrame = {
    require(codebook.nonEmpty, "nearDupPairsIvf needs a codebook")
    require(nprobe >= 1 && nprobe <= codebook.size,
      s"nprobe must be in [1, ${codebook.size}], got $nprobe")
    val ranked = rankedListsCol(col(embCol), codebook)
    val bucketed = df.select(col(idCol).as("_id"), asDouble(col(embCol)).as("_e"),
      explode(transform(slice(ranked, 1, nprobe), p => p.getField("cid"))).as("_bucket"))
    pairsInBuckets(bucketed, minCosine, maxBucket, "graft_ivf_bucket_cap")
      // a pair sharing several of its nprobe lists must not double-count
      .dropDuplicates("id_a", "id_b")
  }

  /** PQ-coded near-duplicate pairs — `nearDupPairsIvf` with the IVF-PQ
    * scan economics carried into PAIR search: the bucket arrays and the
    * pair expansion hold (id, M-byte code) rows instead of (id, D-float
    * vector) rows (64-dim doubles at M=4: 512 B -> 8 B per row), and
    * in-bucket pairs score by SDC approximate cosine straight off the
    * codes (`pq_sdc_cos`). Only pairs with approx >= minCosine −
    * sdcMargin survive to the exact stage, which joins the raw
    * embeddings back BY ID and re-scores exact cosine — bit-identical
    * to `nearDupPairsIvf` for every pair the prefilter keeps.
    * sdcMargin is the recall knob: SDC pays quantization error on
    * both sides, so a near-threshold true pair can score under
    * minCosine; sdcMargin >= 2 disables the prefilter outright (approx
    * cosine is never < −1), making the result EQUAL to
    * `nearDupPairsIvf` at the same nprobe (SimilaritySpec). Ids must
    * be unique, hot lists cap with observed drop counts, a pair sharing
    * several lists dedups to one row. Direct models only: SDC scores
    * codes alone and cannot carry a residual model's per-list cross
    * terms. */
  def nearDupPairsIvfPq(df: DataFrame, embCol: String, idCol: String,
      codebook: Seq[(Long, Seq[Double])], pq: PqModel, minCosine: Double,
      nprobe: Int = 1, maxBucket: Int = 8192,
      sdcMargin: Double = 0.1): DataFrame =
    sdcPairs(Pq(pq, "_code"), df, embCol, idCol, codebook, minCosine,
      nprobe, maxBucket, sdcMargin)

  /** SQ8-coded near-duplicate pairs — nearDupPairsIvfPq's plan over
    * D-byte SQ8 codes and the dequant-cosine SDC kernel (`sq_sdc_cos`):
    * 8× less per-bucket state than raw doubles, and at 256 levels per
    * dimension the two-sided SDC error is tiny, so the default margin
    * is 0.02 where PQ needs 0.1 — a tighter prefilter, fewer
    * exact-verify rows. */
  def nearDupPairsIvfSq(df: DataFrame, embCol: String, idCol: String,
      codebook: Seq[(Long, Seq[Double])], sq: SqModel, minCosine: Double,
      nprobe: Int = 1, maxBucket: Int = 8192,
      sdcMargin: Double = 0.02): DataFrame =
    sdcPairs(Sq8(sq, "_code"), df, embCol, idCol, codebook, minCosine,
      nprobe, maxBucket, sdcMargin)

  /** The coded pair search behind nearDupPairsIvfPq/Sq: multi-assign
    * every row to its `nprobe` nearest lists, expand in-bucket pairs
    * over codes through the spill-safe sort-merge self-join of
    * pairsInBuckets (see its Scaladoc), prefilter by SDC, verify exact
    * by id. */
  private def sdcPairs(c: Coded with Sdc, df: DataFrame, embCol: String,
      idCol: String, codebook: Seq[(Long, Seq[Double])], minCosine: Double,
      nprobe: Int, maxBucket: Int, sdcMargin: Double): DataFrame = {
    require(codebook.nonEmpty, s"nearDupPairsIvf${c.tag.capitalize} needs a codebook")
    require(nprobe >= 1 && nprobe <= codebook.size,
      s"nprobe must be in [1, ${codebook.size}], got $nprobe")
    require(sdcMargin >= 0.0, s"sdcMargin must be >= 0, got $sdcMargin")
    require(!c.residual,
      "SDC scores codes alone and cannot carry the per-list centroid cross " +
        s"terms a residual model needs — train a direct ${c.tag}Train model " +
        "for pair search")
    val ranked = rankedListsCol(col(embCol), codebook)
    val bucketed = c.assign(df.select(col(idCol), col(embCol)), embCol)
      .select(col(idCol).as("_id"), col("_code"),
        explode(transform(slice(ranked, 1, nprobe), p => p.getField("cid"))).as("_bucket"))
    val (capL, capR) = HotKeys.capPair(bucketed, Seq(col("_bucket")), maxBucket,
      metricName = s"graft_ivf_${c.tag}_bucket_cap")
    val candidates = capL
      .select(col("_bucket"), col("_id").as("id_a"), col("_code").as("_ca"))
      .hint("merge")
      .join(capR.select(col("_bucket"), col("_id").as("id_b"), col("_code").as("_cb")),
        Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), c.sdc(col("_ca"), col("_cb")).as("_approx"))
      .filter(col("_approx") >= minCosine - sdcMargin)
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol), asDouble(col(embCol)).as("_e"))
    candidates
      .join(vecs.select(col(idCol).as("id_a"), col("_e").as("_ea")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("_e").as("_eb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("_ea"), col("_eb")), 4).as("cos"))
      // NaN guard: NaN >= threshold is TRUE under Spark's ordering —
      // a zero-norm vector would otherwise "match" every candidate
      .filter(!isnan(col("cos")) && col("cos") >= minCosine)
  }

  /** Batch IVF-SQ8 probe (see Codec): probed lists score the D-byte
    * code column; each query's shortlist re-ranks exact. */
  def ivfSqProbeAll(assigned: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      codebook: Seq[(Long, Seq[Double])], sq: SqModel, k: Int,
      nprobe: Int = 1, rerank: Int = 0, cidCol: String = "cid",
      codeCol: String = "sq_code", excludeSelf: Boolean = false,
      broadcastProbes: Option[Boolean] = None,
      rerankFrom: Option[DataFrame] = None): DataFrame =
    probeBatch("ivfSqProbeAll", assigned, embCol, idCol, queries, qIdCol, qEmbCol,
      k, Sq8(sq, codeCol), Some(Lists(codebook, nprobe, cidCol, broadcastProbes)),
      excludeSelf, rerank, rerankFrom)

  /** Batch IVF-BQ probe (see Codec) — the equi-key throughput shape for
    * sign codes: where bqProbeAll is a broadcast nested loop, this
    * joins the ranked probes to the coded corpus ON THE LIST ID, so
    * each corpus row is read once, only probed lists contribute, and a
    * crawl-sized query batch can take the shuffle path. */
  def ivfBqProbeAll(coded: DataFrame, embCol: String, idCol: String,
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      codebook: Seq[(Long, Seq[Double])], model: BqModel, k: Int,
      nprobe: Int = 1, rerank: Int = 0, cidCol: String = "cid",
      codeCol: String = "bq_code", excludeSelf: Boolean = false,
      broadcastProbes: Option[Boolean] = None,
      rerankFrom: Option[DataFrame] = None,
      asymmetric: Boolean = false): DataFrame =
    probeBatch("ivfBqProbeAll", coded, embCol, idCol, queries, qIdCol, qEmbCol,
      k, Bq(model, codeCol, asymmetric),
      Some(Lists(codebook, nprobe, cidCol, broadcastProbes)), excludeSelf,
      rerank, rerankFrom)

  /** STATIC half of the stream semantic tier (Dedup.bandVerifyLookup's
    * shape for embeddings): per inverted list, the SQ8 codes of its
    * standing members collected into one array — D BYTES per standing
    * doc (8× less resident state than float vectors; this frame is
    * cached for the stream's lifetime, so the compression is exactly
    * what lets a large standing corpus fit). Hot lists over `maxList`
    * drop — a degenerate centroid's list would otherwise make every
    * probing row pay its scan. A single-member list is kept (the
    * probing stream row is its second member; same rationale as
    * bandVerifyLookup's no-floor rule). Direct models only: the
    * row-local verify scores the stream row's float vector against
    * member codes by ADC cosine, and residual codes would need the
    * per-list query shift plus an L2→cosine bridge that row-local
    * verification cannot carry honestly. */
  def sqSemanticLookup(standingIndex: DataFrame, sq: SqModel,
      cidCol: String = "cid", codeCol: String = "sq_code",
      maxList: Int = 8192): DataFrame = {
    require(!sq.residual,
      "the stream semantic tier verifies rows against member codes by direct " +
        "ADC cosine — build the lookup from a direct sqTrain model")
    standingIndex
      .filter(col(codeCol).isNotNull)
      .withColumn("_ln", count(lit(1)).over(
        Window.partitionBy(cidCol)))
      .filter(col("_ln") <= maxList)
      .groupBy(col(cidCol).as("cid"))
      .agg(collect_list(col(codeCol)).as("_members"))
  }

  /** STREAM half of the semantic tier: drop stream rows whose
    * embedding scores ADC cosine ≥ `minCosine` against ANY standing
    * member of one of its `nprobe` nearest inverted lists — live
    * semantic dedup of intake against a standing corpus with ZERO
    * stream state (the shape of Dedup.streamNearDupFilter, see
    * `slotFilter`: the probed list ids are computed map-side against
    * the codebook literal).
    *
    * Honest semantics: the drop decision is APPROXIMATE on one side —
    * the row's float vector scores against the standing docs' 8-bit
    * codes, so quantization error enters once (ADC), bounded by the
    * half-step bound SimilaritySpec pins. A near-threshold true match
    * can score under `minCosine` by that error; recall follows
    * `nprobe` exactly as in every IVF probe. Rows with null or
    * wrong-width embeddings pass through untouched (the gates own
    * those decisions). Per-row cost is nprobe × the probed lists'
    * member counts through the interpreted HOF — the price of zero
    * state; cap with sqSemanticLookup's `maxList`. */
  def streamSemanticFilter(stream: DataFrame, embCol: String, lookup: DataFrame,
      codebook: Seq[(Long, Seq[Double])], sq: SqModel, minCosine: Double,
      nprobe: Int = 1): DataFrame = {
    require(codebook.nonEmpty, "streamSemanticFilter needs the coarse codebook")
    require(nprobe >= 1 && nprobe <= codebook.size,
      s"nprobe must be in [1, ${codebook.size}], got $nprobe")
    require(!sq.residual,
      "the stream semantic tier verifies by direct ADC cosine — residual " +
        "models cannot ride it (see sqSemanticLookup)")
    val ranked = rankedListsCol(col(embCol), codebook)
    val members = lookup.select(col("cid"), col("_members"))
    slotFilter(withNormalized(stream, embCol, "_sqv"),
      (0 until nprobe).map(i => (element_at(ranked, i + 1).getField("cid"), members)),
      Seq("_sqv")) { m =>
      val c = VE.sq_adc_cos(col("_sqv"), m, sq.mm)
      // !isnan: NaN >= threshold is TRUE under Spark's ordering
      !isnan(c) && c >= minCosine
    }
  }

  /** Standing-side lookup for the STREAM BQ semantic tier: the
    * standing D-bit codes exploded into byte-aligned band slices and
    * grouped per (band index, band value) — the same equi-key
    * `bqBandCandidates` gives the batch route, precomputed once and
    * cached for the stream's lifetime (prepStream's StreamCaches
    * contract). `bands` mirrors Config.bqBands (0 = one-byte bands);
    * a (k, band) group larger than `maxBand` is dropped whole — the
    * hot-band cap of the batch route, applied at lookup build so no
    * micro-batch ever joins a degenerate band. Codes are the ONLY
    * payload (D/8 bytes per member): the stream verify is asymmetric,
    * so no standing floats are ever resident. */
  def bqSemanticLookup(standingCoded: DataFrame, model: BqModel,
      codeCol: String = "bq_code", bands: Int = 0,
      maxBand: Int = 8192): DataFrame = {
    val (nb, bpb) = bqBands(model, bands)
    standingCoded
      .filter(col(codeCol).isNotNull)
      .select(col(codeCol).as("_c"))
      .select(col("_c"), posexplode(array(bandSlices(col("_c"), nb, bpb): _*)))
      .toDF("_c", "k", "band")
      .withColumn("_ln", count(lit(1)).over(Window.partitionBy("k", "band")))
      .filter(col("_ln") <= maxBand)
      .groupBy(col("k"), col("band"))
      .agg(collect_list(col("_c")).as("_members"))
      // band geometry encoded in the SCHEMA (band_b<count>): the
      // stream filter validates it with a pure schema check, so a
      // lookup built at one band count can never silently no-op
      // against a Config carrying another (a width-mismatched binary
      // equi-join matches nothing — zero drops, zero errors)
      .withColumnRenamed("band", s"band_b$nb")
  }

  /** STREAM half of the BQ semantic tier — the live form of
    * `semanticIncremental`'s BQ route, sharing its band geometry: a
    * stream row normalizes and sign-encodes map-side, each of its
    * byte-aligned band slices probes the cached standing lookup (see
    * `slotFilter`), and the verify scores the float query against each
    * member's ±1/√D reconstruction (`bq_adc_dot` / √D — a true cosine
    * estimate, since the reconstruction is unit-norm). Zero stream
    * state; recall is the banding s-curve of `bqBandCandidates`
    * (a standing near-dup within Hamming <= bands−1 collides with
    * certainty). `maxHamming` (full-code) optionally prefilters
    * members inside the verify, mirroring Config.bqMaxHamming. Rows
    * with null or wrong-width embeddings pass through untouched. */
  def streamSemanticFilterBq(stream: DataFrame, embCol: String,
      lookup: DataFrame, model: BqModel, minCosine: Double,
      bands: Int = 0, maxHamming: Int = Int.MaxValue): DataFrame = {
    val (nb, bpb) = bqBands(model, bands)
    require(lookup.columns.contains(s"band_b$nb"),
      s"lookup band geometry mismatch: this filter slices $nb bands but the " +
        s"lookup was built with ${lookup.columns.find(_.startsWith("band_b"))
          .map(_.stripPrefix("band_b")).getOrElse("an unknown count")} " +
        "(bqSemanticLookup's `bands` and Config.bqBands must agree)")
    val withQ = withNormalized(stream, embCol, "_bqv")
      // width guard: bq_adc_dot only NaNs when the BYTE count differs
      .withColumn("_bqv", when(size(col("_bqv")) === model.dims, col("_bqv")))
      .withColumn("_bqc", VE.bq_encode(col("_bqv"), model.thresholds))
    val sqrtD = math.sqrt(model.dims.toDouble)
    slotFilter(withQ, bandSlices(col("_bqc"), nb, bpb).zipWithIndex.map { case (b, i) =>
        (b, lookup.filter(col("k") === i).select(col(s"band_b$nb"), col("_members"))) },
      Seq("_bqv", "_bqc")) { m =>
      val adc = VE.bq_adc_dot(col("_bqv"), m)
      val cosOk = !isnan(adc) && (adc / sqrtD >= minCosine)
      if (maxHamming == Int.MaxValue) cosOk
      else coalesce(VE.bq_hamming(col("_bqc"), m) <= maxHamming, lit(false)) && cosOk
    }
  }

  /** The stream semantic tiers' shared probe (after Dedup's
    * bandVerifyLookup/streamNearDupFilter shape): each slot's key (a
    * probed list id, or a code band) probes its (key, `_members`)
    * lookup through its own stream-static LEFT equi-join, and a row
    * drops when `verify` holds for any member of any slot — a row-local
    * `exists`, never an exploded stream needing re-aggregation, which
    * Append mode disallows without state. `scratch` names the query
    * columns to drop after. */
  private def slotFilter(withQ: DataFrame, slots: Seq[(Column, DataFrame)],
      scratch: Seq[String])(verify: Column => Column): DataFrame = {
    val n = slots.length
    val joined = slots.zipWithIndex.foldLeft(withQ) { case (d, ((key, lookup), i)) =>
      d.withColumn(s"_sk$i", key)
        .join(lookup.toDF(s"_lk$i", s"_pm$i"), col(s"_sk$i") === col(s"_lk$i"), "left_outer")
    }
    joined
      .filter(!(0 until n).map(i => coalesce(exists(col(s"_pm$i"), verify), lit(false)))
        .reduce(_ || _))
      .drop((0 until n).flatMap(i => Seq(s"_sk$i", s"_lk$i", s"_pm$i")) ++ scratch: _*)
  }

  /** Shared in-bucket pair expansion: cap hot buckets, then expand
    * ordered pairs as a bucket-keyed SORT-MERGE SELF-JOIN
    * (`id_a < id_b` — which also keeps duplicate ids from emitting
    * self-pairs), score cosine, threshold. The join formulation is
    * deliberate and empirically forced (ScaleSmoke, 100k replicated
    * vectors): every array-side expansion — flatten-all-pairs AND
    * anchor-first nested Generates — OOM'd an executor, because the
    * quadratic pair stream materializes faster than the consumer
    * drains it, while SMJ streams the pair space and SPILLS a hot
    * key's buffered group to disk, so the cap bounds quadratic WORK,
    * not survival. Two quirks the shape must respect: (1) the cap's
    * observed metric must appear in ONE branch only (HotKeys.capPair
    * — AQE drops a CollectMetrics duplicated across join branches),
    * with both branches sharing one window subtree so ReuseExchange
    * shuffles the input once; (2) the join is hinted to merge so tiny
    * test corpora don't pick a broadcast join, whose build-side
    * execution also loses observed metrics. */
  private def pairsInBuckets(bucketed: DataFrame, minCosine: Double,
      maxBucket: Int, metricName: String): DataFrame = {
    val (left, right) = HotKeys.capPair(bucketed, Seq(col("_bucket")), maxBucket,
      metricName = metricName)
    left.select(col("_bucket"), col("_id").as("id_a"), col("_e").as("_ea"))
      .hint("merge")
      .join(right.select(col("_bucket"), col("_id").as("id_b"), col("_e").as("_eb")),
        Seq("_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("_ea"), col("_eb")), 4).as("cos"))
      // NaN guard: NaN >= threshold is TRUE under Spark's ordering —
      // a zero-norm vector would otherwise "match" every candidate
      .filter(!isnan(col("cos")) && col("cos") >= minCosine)
  }
}

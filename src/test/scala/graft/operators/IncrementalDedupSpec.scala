package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Incremental dedup of a new batch against a standing corpus: every
  * drop reason exercised on a hand-built fixture, old rows never
  * touched, and batch-only behavior sane when either side is empty. */
class IncrementalDedupSpec extends SparkSpecBase {

  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val other =
    "completely unrelated content about distributed query engines and parquet files"
  private val third =
    "a third subject entirely concerning streaming watermarks and state eviction"

  // old corpus: two established docs
  private lazy val olds = Seq(
    (100L, base),
    (101L, other)
  ).toDF("doc_id", "text")

  // new batch covering each fate
  private lazy val news = Seq(
    (1L, base),                                // exact dup of old -> drop
    (2L, base.replace("today", "tonight")),    // near-dup of old -> drop
    (3L, base.replace("today", "tonight) x")), // near-dup of 2 (chain to old) -> drop
    (4L, third),                               // near pair with 5, no old contact
    (5L, third.replace("eviction", "expiry")), // -> cluster {4,5}, keep 4
    (6L, "some fresh unique document about vulnerability feeds and oval parsing"),
    (7L, "some fresh unique document about vulnerability feeds and oval parsing") // exact dup of 6 in-batch
  ).toDF("doc_id", "text")

  private def survivors(o: org.apache.spark.sql.DataFrame,
      n: org.apache.spark.sql.DataFrame): Set[Long] =
    Dedup.dropIncrementalDuplicates(o, n, "text", "doc_id",
      shingleN = 3, minJaccard = 0.5, numHashes = 8, rowsPerBand = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("each drop tier applies; pure-new clusters keep min id") {
    assert(survivors(olds, news) == Set(4L, 6L))
  }

  test("empty old corpus degrades to within-batch dedup") {
    val empty = olds.filter(lit(false))
    // 1 survives (its near-chain 2,3 collapses onto it), 4 survives,
    // 6 survives its exact twin 7
    assert(survivors(empty, news) == Set(1L, 4L, 6L))
  }

  test("empty batch yields nothing; disjoint batch passes through whole") {
    assert(survivors(olds, news.filter(lit(false))).isEmpty)
    val disjoint = Seq((11L, third), (12L, "yet another entirely distinct run of words here"))
      .toDF("doc_id", "text")
    assert(survivors(olds, disjoint) == Set(11L, 12L))
  }

  test("matches a full re-run restricted to the batch (old-first preference)") {
    // full-corpus rerun with 'old wins' preference: survivors among
    // NEW ids must equal the incremental result
    val all = olds.withColumn("_old", lit(0)).unionByName(news.withColumn("_old", lit(1)))
    val pairs = Dedup.minhashJaccardPairs(all, "text", "doc_id",
      minJaccard = 0.5, numHashes = 8, rowsPerBand = 2)
    val clusters = Dedup.duplicateClusters(pairs)
    // exact tier of the full rerun: keep old-first then min id per digest
    val exactKept = all
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("_old"), col("doc_id"))))
      .filter(col("_rn") === 1).drop("_rn")
    val full = Dedup.dropNearDuplicatesBy(exactKept, "doc_id", clusters,
      struct(col("_old"), col("doc_id")))
      .filter(col("_old") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(full == survivors(olds, news))
  }

  test("persisted dedup index reproduces the direct path; cfg mismatch rejected") {
    val path = java.nio.file.Files.createTempDirectory("graft-dedup-ix").toString + "/ix"
    Dedup.dedupIndex(olds, "text", "doc_id",
      shingleN = 3, numHashes = 8, rowsPerBand = 2).write.parquet(path)
    val ix = spark.read.parquet(path)
    val viaIndex = Dedup.dropIncrementalDuplicates(olds, news, "text", "doc_id",
        shingleN = 3, minJaccard = 0.5, numHashes = 8, rowsPerBand = 2,
        oldIndex = Some(ix))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == survivors(olds, news))
    // mismatched banding config must fail loudly, not probe foreign bands
    intercept[IllegalArgumentException] {
      Dedup.dropIncrementalDuplicates(olds, news, "text", "doc_id",
        shingleN = 3, minJaccard = 0.5, numHashes = 4, rowsPerBand = 2,
        oldIndex = Some(ix))
    }
  }
}

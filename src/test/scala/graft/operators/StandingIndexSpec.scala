package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Fault injection on the shared standing-index lifecycle: a versioned
  * rewrite that dies mid-write, BM25 and IVF rebuilds whose job fails,
  * and a BM25 append that dies inside its incomplete-marker bracket.
  * Each must leave a state that is either still servable (the rewrite
  * and the rebuilds) or loudly refused (the append), and the
  * documented recovery must restore a fresh build's results. */
class StandingIndexSpec extends SparkSpecBase {

  import spark.implicits._

  test("a rewrite that throws mid-write publishes nothing; a rerun takes the next version and reclaims the orphan") {
    withTempDir("si-rewrite") { dir =>
      val path = dir.getAbsolutePath
      val assigned = (0L until 12L).map(i => (i % 3, i, Seq(i.toDouble, 1.0)))
        .toDF("cid", "vec_id", "e")
      Similarity.writeIndex(assigned, path)
      Similarity.compactIndex(spark, path)
      Similarity.deleteFromIndex(spark, path, Seq(4L, 7L).toDF("vec_id"), "vec_id")
      def ids() = Similarity.readIndex(spark, path)
        .select("vec_id").as[Long].collect().sorted.toSeq
      val expected = (0L until 12L).filterNot(Set(4L, 7L))
      assert(ids() == expected)
      val fs = StandingIndex.fs(spark, path)

      val boom = intercept[IllegalStateException] {
        StandingIndex.rewrite(fs, path, StandingIndex.Ivf) { (out, _) =>
          assigned.limit(3).write.parquet(s"$out/cid=0")
          throw new IllegalStateException("killed mid-write")
        }
      }
      assert(boom.getMessage == "killed mid-write")
      assert(!new java.io.File(dir, "_compact_inprogress").exists(), "lock leaked")
      assert(!new java.io.File(dir, "_current_v3").exists(), "pointer published")
      assert(new java.io.File(dir, "index_v3").exists(), "the orphan is the case under test")
      assert(Similarity.indexStats(spark, path).indexDir.endsWith("/index_v2"))
      assert(ids() == expected, "reads left the old version")
      assert(StandingIndex.tombstoneFiles(fs, path).nonEmpty,
        "the snapshot was cleared without being applied")

      Similarity.compactIndex(spark, path)
      val st = Similarity.indexStats(spark, path)
      assert(st.indexDir.endsWith("/index_v3"), s"$st")
      assert(st.rows == expected.size && st.tombstonedIds == 0L, s"$st")
      assert(ids() == expected)
      assert(!new java.io.File(dir, "index_v2").exists())
      assert(!new java.io.File(dir, "_current_v2").exists())
      // the orphan's partial rows are gone: one file per list, three lists
      assert(st.lists == 3L && st.files == 3L, s"$st")
    }
  }

  test("an append that fails inside the marker bracket is refused on read until a rebuild restores fresh-build results") {
    val corpus = Seq(
      (10L, "apple banana apple"), (11L, "banana cherry"),
      (12L, "apple durian fig"), (13L, "cherry fig fig grape")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry"), (2L, "fig grape")).toDF("qid", "text")
    def rows(path: String) = TextStats.bm25TopKFromIndex(
        TextStats.readBm25Index(spark, path), queries, "text", "qid", k = 3)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val fresh = withTempDir("si-bm25-fresh") { dir =>
      TextStats.writeBm25Index(corpus, "text", "doc_id", dir.getAbsolutePath)
      rows(dir.getAbsolutePath)
    }
    withTempDir("si-bm25-crash") { dir => withTempDir("si-bm25-batch") { bdir =>
      val path = dir.getAbsolutePath
      TextStats.writeBm25Index(corpus.filter(col("doc_id") <= 11), "text",
        "doc_id", path)
      val failOn13 = udf { (id: Long, s: String) =>
        if (id == 13L) throw new IllegalStateException("bad row") else s
      }
      // read back from parquet so the UDF runs in a task inside the
      // bracket (over a local relation the optimizer would fold it
      // before the marker lands)
      corpus.filter(col("doc_id") > 11).write.mode("overwrite")
        .parquet(bdir.getAbsolutePath)
      val batch = spark.read.parquet(bdir.getAbsolutePath)
        .withColumn("text", failOn13(col("doc_id"), col("text")))
      intercept[Exception] {
        TextStats.appendBm25Index(spark, path, batch, "text", "doc_id")
      }
      // the marker sits in the generation the append mutated
      assert(new java.io.File(dir, "bm25_v1/_append_incomplete").exists())
      val refused = intercept[IllegalArgumentException](
        TextStats.readBm25Index(spark, path))
      assert(refused.getMessage.contains("_append_incomplete"))
      TextStats.writeBm25Index(corpus, "text", "doc_id", path)
      assert(!new java.io.File(dir, "bm25_v1").exists(),
        "the marked generation was not superseded")
      assert(!new java.io.File(dir, "bm25_v2/_append_incomplete").exists())
      assert(rows(path) == fresh)
    }}
  }

  /** `frame` read back from parquet, so a column poisoned on top fails
    * in a task of the write job (over a local relation the optimizer
    * would fold it while planning). */
  private def viaParquet(frame: org.apache.spark.sql.DataFrame,
      dir: java.io.File): org.apache.spark.sql.DataFrame = {
    frame.write.mode("overwrite").parquet(dir.getAbsolutePath)
    spark.read.parquet(dir.getAbsolutePath)
  }

  test("a BM25 rebuild whose job fails leaves the old index serving the same survivors with the same stats") {
    val corpus = Seq(
      (10L, "apple banana apple"), (11L, "banana cherry"),
      (12L, "apple durian fig"), (13L, "cherry fig fig grape")
    ).toDF("doc_id", "text")
    val queries = Seq((1L, "apple cherry"), (2L, "fig grape")).toDF("qid", "text")
    def probeAt(path: String) = TextStats.bm25TopKFromIndex(
        TextStats.readBm25Index(spark, path), queries, "text", "qid", k = 3)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val fresh = withTempDir("si-bm25-fail-fresh") { dir =>
      TextStats.writeBm25Index(corpus, "text", "doc_id", dir.getAbsolutePath,
        tokenBuckets = 2)
      probeAt(dir.getAbsolutePath)
    }
    withTempDir("si-bm25-fail") { dir => withTempDir("si-bm25-poison") { pdir =>
      val path = dir.getAbsolutePath
      def rows() = probeAt(path)
      TextStats.writeBm25Index(corpus, "text", "doc_id", path, tokenBuckets = 2)
      TextStats.deleteFromBm25Index(spark, path, Seq(11L).toDF("id"), "doc_id")
      val before = rows()
      val statsBefore = TextStats.bm25IndexStats(spark, path)
      assert(before.nonEmpty && statsBefore.tombstonedIds == 1L, s"$statsBefore")
      val poisoned = viaParquet(corpus, pdir).withColumn("text",
        when(col("doc_id") === 13L, raise_error(lit("poisoned text")).cast("string"))
          .otherwise(col("text")))
      intercept[Exception] {
        TextStats.writeBm25Index(poisoned, "text", "doc_id", path, tokenBuckets = 2)
      }
      assert(rows() == before, "the failed rebuild took the index down")
      // same generation, same tombstones, no writer lock left behind
      assert(TextStats.bm25IndexStats(spark, path) == statsBefore)
      assert(!new java.io.File(dir, "_compact_inprogress").exists())
      // a corrected rebuild replaces it and supersedes the tombstones
      TextStats.writeBm25Index(corpus, "text", "doc_id", path, tokenBuckets = 2)
      assert(TextStats.bm25IndexStats(spark, path).tombstonedIds == 0L)
      assert(rows() == fresh, "the corrected rebuild diverged from a fresh build")
    }}
  }

  test("an IVF rebuild whose job fails leaves the old index serving the same survivors with the same stats") {
    withTempDir("si-ivf-fail") { dir => withTempDir("si-ivf-poison") { pdir =>
      val path = dir.getAbsolutePath
      val assigned = (0L until 12L).map(i => (i % 3, i, Seq(i.toDouble, 1.0)))
        .toDF("cid", "vec_id", "e")
      def ids() = Similarity.readIndex(spark, path)
        .select("vec_id").as[Long].collect().sorted.toSeq
      Similarity.writeIndex(assigned, path)
      Similarity.deleteFromIndex(spark, path, Seq(4L).toDF("vec_id"), "vec_id")
      val before = ids()
      val statsBefore = Similarity.indexStats(spark, path)
      assert(before == (0L until 12L).filterNot(_ == 4L) &&
        statsBefore.tombstonedIds == 1L, s"$statsBefore")
      val poisoned = viaParquet(assigned, pdir).withColumn("e",
        when(col("vec_id") === 7L,
          raise_error(lit("poisoned embedding")).cast("array<double>"))
          .otherwise(col("e")))
      intercept[Exception] { Similarity.writeIndex(poisoned, path) }
      assert(ids() == before, "the failed rebuild took the index down")
      assert(Similarity.indexStats(spark, path) == statsBefore)
      assert(!new java.io.File(dir, "_compact_inprogress").exists())
      // a corrected rebuild replaces it and supersedes the tombstones
      Similarity.writeIndex(assigned, path)
      assert(ids() == (0L until 12L))
      assert(Similarity.indexStats(spark, path).tombstonedIds == 0L)
    }}
  }
}

package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Fault injection on the shared standing-index lifecycle: a versioned
  * rewrite that dies mid-write, and a BM25 append that dies inside its
  * incomplete-marker bracket. Both must leave a state that is either
  * still servable (the rewrite) or loudly refused (the append), and the
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
        StandingIndex.rewrite(fs, path, "index_v", Some(path)) { (out, _) =>
          assigned.limit(3).write.parquet(s"$out/cid=0")
          throw new IllegalStateException("killed mid-write")
        }
      }
      assert(boom.getMessage == "killed mid-write")
      assert(!new java.io.File(dir, "_compact_inprogress").exists(), "lock leaked")
      assert(!new java.io.File(dir, "_current_v2").exists(), "pointer published")
      assert(new java.io.File(dir, "index_v2").exists(), "the orphan is the case under test")
      assert(Similarity.indexStats(spark, path).indexDir.endsWith("/index_v1"))
      assert(ids() == expected, "reads left the old version")
      assert(StandingIndex.tombstoneFiles(fs, path).nonEmpty,
        "the snapshot was cleared without being applied")

      Similarity.compactIndex(spark, path)
      val st = Similarity.indexStats(spark, path)
      assert(st.indexDir.endsWith("/index_v2"), s"$st")
      assert(st.rows == expected.size && st.tombstonedIds == 0L, s"$st")
      assert(ids() == expected)
      assert(!new java.io.File(dir, "index_v1").exists())
      assert(!new java.io.File(dir, "_current_v1").exists())
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
      assert(new java.io.File(dir, "_append_incomplete").exists())
      val refused = intercept[IllegalArgumentException](
        TextStats.readBm25Index(spark, path))
      assert(refused.getMessage.contains("_append_incomplete"))
      TextStats.writeBm25Index(corpus, "text", "doc_id", path)
      assert(!new java.io.File(dir, "_append_incomplete").exists())
      assert(rows(path) == fresh)
    }}
  }
}

package graft.operators

import graft.SparkSpecBase

class ParallelismSpec extends SparkSpecBase {

  test("widen leaves a subquery-bearing scan alone and runs no job") {
    import spark.implicits._
    withTempDir("widen-subquery") { dir =>
      val path = s"${dir.getAbsolutePath}/t"
      (1L to 20L).toDF("id").coalesce(1).write.parquet(path)
      spark.read.parquet(path).createOrReplaceTempView("widen_t")
      // one scan partition, no exchange in the main plan: AQE wraps it
      // only because of the scalar subquery
      val df = spark.sql(
        "SELECT id FROM widen_t WHERE id > (SELECT avg(id) FROM widen_t)")
      val (out, jobs) = countJobs(Parallelism.widen(df))
      assert(out eq df)
      assert(jobs == 0, s"widen ran $jobs job(s)")
    }
  }
}

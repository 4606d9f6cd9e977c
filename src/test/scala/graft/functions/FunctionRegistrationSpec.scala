package graft.functions

import graft.SparkSpecBase
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession

/** One list of native SQL functions: a session built without the
  * extension resolves every name through `VulFunctions.register`, and
  * repeated session builds and query runs never replace a registered
  * function. */
class FunctionRegistrationSpec extends SparkSpecBase {

  private val nativeNames = Seq("version_cmp", "version_key", "version_valid",
    "cve_year", "shingles", "minhash_sig", "simhash64", "simhash64_text",
    "nfc_normalize", "bloom_might_contain", "repetition_stats",
    "parse_range_expr", "range_contains", "cosine_sim", "dot_product",
    "top_k", "heavy_hitters")

  test("a session built without the extension resolves every native function in SQL") {
    (nativeNames :+ "version_parse").foreach { name =>
      val described = spark.sql(s"DESCRIBE FUNCTION $name").collect()
        .map(_.getString(0)).mkString("\n")
      assert(!described.contains("not found"), s"$name: $described")
    }
  }

  test("session builds and query runs log no function replacement") {
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("registry-replacements", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered function")) replaced.add(msg)
      }
    }
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry")
      .asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try {
      // GraftSession.build on this spec's session would reset its
      // confs for every later spec in the JVM: build a second session
      // on the same context instead, then hand the spec's back
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        val built = graft.GraftSession.build()
        assert(graft.GraftSession.build() eq built)
      } finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
      val q = graft.SparkEntry.queries("q08_multi_join")
      q(spark, "/root/testdata/sf0.001")
      q(spark, "/root/testdata/sf0.001")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(replaced.isEmpty, s"${replaced.size} replacements, e.g. ${replaced.peek}")
  }
}

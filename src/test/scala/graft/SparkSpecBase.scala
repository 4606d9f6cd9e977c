package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for Spark suites: one lazy session per JVM. */
trait SparkSpecBase extends AnyFunSuite {
  lazy implicit val spark: SparkSession = SparkSpecBase.session

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  /** Run `f` with a fresh temp directory, recursively deleted after. */
  def withTempDir[T](prefix: String)(f: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try f(dir) finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  /** Write `body` to `dir/rel`, creating parent directories. */
  def writeFile(dir: java.io.File, rel: String, body: String): Unit = {
    val f = new java.io.File(dir, rel)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, body)
  }

  /** Run `f` and count the Spark jobs it starts (from any thread that
    * inherits the caller's job group). */
  def countJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = f
      TestListenerBus.drain(sc)
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.VulFunctions.register(s)
    s
  }
}

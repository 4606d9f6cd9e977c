package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpecBase

/** Session-extension registration + physical-plan regression guards
  * for the scale-critical properties documented in SCALE.md. */
class ExtensionsAndPlansSpec extends SparkSpecBase {

  test("GraftExtensions injects version_cmp") {
    // a second getOrCreate in this JVM would just return (and a close
    // would kill) the shared test session, so exercise the injection
    // against a fresh registry via the bridge
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val registry = GraftBridge.functionRegistryOf(new GraftExtensions)
    val e = registry.lookupFunction(new FunctionIdentifier("version_cmp"),
      Seq(Literal("1.0~rc1"), Literal("1.0")))
    assert(e.eval(null) == -1)
    val e2 = registry.lookupFunction(new FunctionIdentifier("version_cmp"),
      Seq(Literal("2.9.1-6.el7.4"), Literal("2.9.1-6.el7_2.2")))
    assert(e2.eval(null) == 1)
  }

  test("GraftExtensions refuses version_cmp with the wrong arity") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val registry = GraftBridge.functionRegistryOf(new GraftExtensions)
    val e = intercept[IllegalArgumentException] {
      registry.lookupFunction(new FunctionIdentifier("version_cmp"),
        Seq(Literal("1.0")))
    }
    assert(e.getMessage == "version_cmp requires exactly 2 arguments, got 1")
  }

  test("GraftExtensions injects repetition_stats") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    val registry = GraftBridge.functionRegistryOf(new GraftExtensions)
    val e = registry.lookupFunction(new FunctionIdentifier("repetition_stats"),
      Seq(Literal("aa bb\naa bb")))
    val row = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(row.getDouble(0) == 0.5) // dup_line_frac: one dup of two
  }

  test("GraftExtensions injects bloom_might_contain; non-constant filter rejected") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    import spark.implicits._
    val registry = GraftBridge.functionRegistryOf(new GraftExtensions)
    val filter = Seq("alpha").toDF("s").stat.bloomFilter("s", 1L, 0.01)
    val baos = new java.io.ByteArrayOutputStream()
    filter.writeTo(baos)
    val e = registry.lookupFunction(new FunctionIdentifier("bloom_might_contain"),
      Seq(Literal("alpha"), Literal(baos.toByteArray)))
    assert(e.eval(null) == true)
    intercept[IllegalArgumentException] {
      registry.lookupFunction(new FunctionIdentifier("bloom_might_contain"),
        Seq(Literal("alpha"),
          org.apache.spark.sql.catalyst.expressions.AttributeReference(
            "b", org.apache.spark.sql.types.BinaryType)()))
    }
  }

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("star join streams the fact side through broadcast hash joins") {
    val p = plan("q08_multi_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("year-floor filter reaches the parquet scan") {
    val p = plan("q02_filter_year")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"))
  }

  test("enrichment pipeline broadcasts the dimension") {
    assert(plan("q52_enrich_pipeline").contains("BroadcastHashJoin"))
  }

  test("version_cmp stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = spark.range(4).select(
      VersionExpressions.version_cmp(col("id").cast("string"), lit("2")).as("c"))
    val p = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks WholeStageCodegen spans in compact plans
    assert(p.contains("*(1) Project [version_cmp"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(-1, -1, 0, 1))
  }

  test("no query plan contains a ScalaUDF or a cartesian product") {
    // the whole driver inventory: every scalar leaf is native/codegen'd
    // and every join has an equi-condition or a broadcast side
    for ((name, run) <- graft.SparkEntry.queries) {
      val p = run(spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"$name has a ScalaUDF in its plan")
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("scans prune to the referenced columns only") {
    // a scan reading all columns for a narrow projection would be the
    // first thing to break 100 TB reads — pin the pruned ReadSchema
    assert(plan("q43_simhash_neardup")
      .contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    assert(plan("q38_ann_buckets")
      .contains("ReadSchema: struct<embedding:array<float>>"))
    assert(plan("q31_token_stats")
      .contains("ReadSchema: struct<text:string,lang:string>"))
  }

  test("q51's range filter folds its constant chain and stays codegen'd") {
    val q = graft.SparkEntry.queries("q51_range_filter")(spark, "/root/testdata/sf0.001")
    val optimized = q.queryExecution.optimizedPlan.toString
    // parse_range_expr(literal) constant-folds into an array literal
    assert(!optimized.contains("parse_range_expr"))
    q.collect() // finalize the adaptive plan so codegen spans print
    val physical = q.queryExecution.executedPlan.toString
    // the filter runs inside a WholeStageCodegen span, no ScalaUDF
    assert(physical.contains("*(1) Filter range_contains"))
    assert(!physical.contains("ScalaUDF"))
  }

  test("range_contains matches the core grammar semantics end to end") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      Tuple1("1.2.9"), Tuple1("9.0.43"), Tuple1("9.0.44"), Tuple1("10.1")))
      .toDF("v")
      .select(col("v"), RangeExpressions.range_contains(
        RangeExpressions.parse_range_expr(lit(">= 9.0.0, < 9.0.44 || >= 10.0.0")),
        col("v")).as("in"))
    val got = df.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got == Map("1.2.9" -> false, "9.0.43" -> true,
      "9.0.44" -> false, "10.1" -> true))
    // SQL registration path
    val sql = spark.sql(
      "SELECT range_contains(parse_range_expr('>=1.0 <2.0'), '1.5') a, " +
      "range_contains(parse_range_expr('>=1.0 <2.0'), '2.5') b").collect()(0)
    assert(sql.getBoolean(0) && !sql.getBoolean(1))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17-measured session perf knobs (VERDICT r17 ask #7): a
  * refactor that silently reverts either one re-introduces a measured
  * regression — codegen-cache thrash (A/B 0.72x on the 10 heavies)
  * or eager full-plan stringification between jobs (A/B 0.83x on the
  * facade six). Asserted on `GraftSession.configs` (the data `build`
  * applies) so the test JVM never constructs a second session. */
class GraftSessionSpec extends AnyFunSuite {

  private def conf(key: String): Option[String] =
    GraftSession.configs("32").collectFirst { case (`key`, v) => v }

  test("codegen cache sized for multi-plan queries (r17 A/B 0.72x)") {
    assert(conf("spark.sql.codegen.cache.maxEntries").contains("10000"))
  }

  test("plan stringification capped (r17 A/B, facade six 0.83x)") {
    assert(conf("spark.sql.maxPlanStringLength").contains("16384"))
  }

  test("AQE stays on and shuffle partitions follow the cpu knob") {
    assert(conf("spark.sql.adaptive.enabled").contains("true"))
    assert(conf("spark.sql.shuffle.partitions").contains("32"))
    assert(GraftSession.configs("8")
      .collectFirst { case ("spark.sql.shuffle.partitions", v) => v }
      .contains("8"))
  }
}

package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The floors gate's pure decision logic against a doctored floors
  * file — the r16 verdict's ask: the gate must pass a deliberately
  * busy host for the STABLE queries (whose noise band is the global
  * factor) AND the volatile lifecycle heavies (whose recorded spread
  * widens their band), while still catching a seeded 3x plan
  * regression on a stable query. */
class TimeQueriesGateSpec extends AnyFunSuite {

  test("gate: per-query band = max(factor, recorded spread); stable stays tight, volatile widens, seeded 3x regression still fails") {
    val floors = Map("q_stable" -> 1.0, "q_volatile" -> 10.0,
      "q_err" -> -1.0)
    val bands = Map("q_stable" -> 1.1, "q_volatile" -> 2.7)

    // busy-host scenario: stable at 1.9x (inside factor 2.0),
    // volatile at 2.6x (outside 2.0 but inside ITS recorded 2.7 band)
    val busy = TimeQueries.gate(floors, bands, factor = 2.0,
      Seq("q_stable" -> 1.9, "q_volatile" -> 26.0))
    assert(busy.forall(_.pass), s"busy host must pass: $busy")
    assert(busy.find(_.name == "q_stable").get.allowedFactor == 2.0,
      "a sub-factor spread must NOT tighten below the global factor")
    assert(busy.find(_.name == "q_volatile").get.allowedFactor == 2.7)

    // seeded regression: the stable query at 3x its floor FAILS even
    // while the volatile one sits inside its band
    val seeded = TimeQueries.gate(floors, bands, factor = 2.0,
      Seq("q_stable" -> 3.0, "q_volatile" -> 26.0))
    assert(!seeded.find(_.name == "q_stable").get.pass,
      "a 3x regression on a stable query must fail the gate")
    assert(seeded.find(_.name == "q_volatile").get.pass)

    // but a volatile query past EVEN its wide band still fails —
    // the band is measured, not an exemption
    val blown = TimeQueries.gate(floors, bands, factor = 2.0,
      Seq("q_volatile" -> 28.0))
    assert(!blown.head.pass)

    // a query with no recorded band gates on the factor alone; a
    // recorded-as-erroring floor (-1) is never gated
    val noBand = TimeQueries.gate(floors, Map.empty, 2.0,
      Seq("q_volatile" -> 21.0, "q_err" -> 100.0))
    assert(!noBand.head.pass && noBand(1).pass)

    // sub-second absolute grace: a 0.3 s floor measured at 0.9 s
    // (3x — cold-JVM JIT, not a plan change) passes because the
    // limit never drops below MinGateSec; past the absolute grace
    // it still fails, and a >= 1 s floor gets no grace at all
    val tiny = TimeQueries.gate(Map("q_tiny" -> 0.3), Map.empty, 2.0,
      Seq("q_tiny" -> 0.9))
    assert(tiny.head.pass, s"sub-second grace must absorb JIT: $tiny")
    val tinyBlown = TimeQueries.gate(Map("q_tiny" -> 0.3), Map.empty, 2.0,
      Seq("q_tiny" -> 1.2))
    assert(!tinyBlown.head.pass)
    assert(!TimeQueries.gate(Map("q_one" -> 1.0), Map.empty, 2.0,
      Seq("q_one" -> 2.5)).head.pass,
      "floors >= MinGateSec/factor keep the pure ratio gate")
  }

  test("loadFloors: Bench artifact shape carries queries + spread; flat map carries floors only; doctored file round-trips") {
    val f = java.nio.file.Files.createTempFile("floors_", ".json")
    java.nio.file.Files.write(f,
      """{"metric":"total","value":3.0,"unit":"sec",
         "queries":{"q_a":1.0,"q_b":2.0},
         "medians":{"q_a":1.1,"q_b":5.4},
         "spread":{"q_a":1.1,"q_b":2.7},
         "heavy":["q_b"],"sf":"/x"}""".getBytes("UTF-8"))
    val (floors, bands) = TimeQueries.loadFloors(f.toString)
    assert(floors == Map("q_a" -> 1.0, "q_b" -> 2.0))
    assert(bands == Map("q_a" -> 1.1, "q_b" -> 2.7))
    // the doctored-floors end-to-end: gate rows off the parsed file
    val rows = TimeQueries.gate(floors, bands, 2.0,
      Seq("q_a" -> 2.5, "q_b" -> 5.0))
    assert(!rows.head.pass && rows(1).pass, s"got $rows")

    val flat = java.nio.file.Files.createTempFile("floors_flat_", ".json")
    java.nio.file.Files.write(flat,
      """{"q_a":0.5,"q_b":1.5}""".getBytes("UTF-8"))
    val (floors2, bands2) = TimeQueries.loadFloors(flat.toString)
    assert(floors2 == Map("q_a" -> 0.5, "q_b" -> 1.5) && bands2.isEmpty)
    java.nio.file.Files.delete(f)
    java.nio.file.Files.delete(flat)
  }

  test("requireAction: the gate refuses floors recorded under another bench action; a missing field reads as count") {
    val noop = java.nio.file.Files.createTempFile("floors_noop_", ".json")
    java.nio.file.Files.write(noop,
      """{"action":"noop","queries":{"q_a":1.0}}""".getBytes("UTF-8"))
    val legacy = java.nio.file.Files.createTempFile("floors_legacy_", ".json")
    java.nio.file.Files.write(legacy, """{"queries":{"q_a":1.0}}""".getBytes("UTF-8"))
    try {
      TimeQueries.requireAction(noop.toString, "noop")
      TimeQueries.requireAction(legacy.toString, "count")
      val e = intercept[IllegalArgumentException] {
        TimeQueries.requireAction(legacy.toString, "noop")
      }
      assert(e.getMessage.contains("'count'") && e.getMessage.contains("'noop'"),
        e.getMessage)
      intercept[IllegalArgumentException] {
        TimeQueries.requireAction(noop.toString, "count")
      }
    } finally {
      java.nio.file.Files.delete(noop)
      java.nio.file.Files.delete(legacy)
    }
  }
}

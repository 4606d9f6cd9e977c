package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The floors-merge policy on doctored artifacts: min floors,
  * material-swing cross-window widening, sub-second noise ignored,
  * never-clean queries preserved as ungated. */
class MergeFloorsSpec extends AnyFunSuite {

  test("merge: min floors; cross-window ratio only on material swings; in-run bands kept; never-clean stays -1") {
    val w1 = (Map("q_heavy" -> 4.0, "q_tiny" -> 0.2, "q_mid" -> 2.0,
      "q_err" -> -1.0), Map("q_heavy" -> 1.3))
    val w2 = (Map("q_heavy" -> 8.6, "q_tiny" -> 0.6, "q_mid" -> 2.4,
      "q_err" -> -1.0), Map("q_mid" -> 1.4))
    val m = MergeFloors.merge(Seq(w1, w2))

    // floors are the cross-window min
    assert(m.floors("q_heavy") == 4.0 && m.floors("q_tiny") == 0.2 &&
      m.floors("q_mid") == 2.0)
    // heavy: 4.0 -> 8.6 is material (floor >= 1s, delta >= 0.75s):
    // spread becomes the 2.15 cross-window envelope, beating the 1.3
    // in-run band
    assert(math.abs(m.spread("q_heavy") - 8.6 / 4.0) < 1e-9)
    // tiny: a 3x swing on a 0.2s floor is scheduler noise, NOT a
    // band — the gate's global factor + absolute grace own it
    assert(m.spread("q_tiny") == 1.0)
    // mid: delta 0.4s < 0.75s -> immaterial; the recorded in-run
    // band survives
    assert(m.spread("q_mid") == 1.4)
    // a query that never ran clean stays ungated (-1 floor)
    assert(m.floors("q_err") == -1.0 && m.spread("q_err") == 1.0)

    // merging is cumulative: folding the merged result in as a
    // prior window never loses the envelope
    val again = MergeFloors.merge(Seq((m.floors, m.spread),
      (Map("q_heavy" -> 5.0), Map.empty[String, Double])))
    assert(again.floors("q_heavy") == 4.0)
    assert(math.abs(again.spread("q_heavy") - 8.6 / 4.0) < 1e-9)
  }

  test("main: same-action inputs merge and the output records the action; mixed actions refuse") {
    val dir = java.nio.file.Files.createTempDirectory("merge_floors_")
    def artifact(name: String, body: String): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      f.toString
    }
    val a = artifact("a.json", """{"action":"noop","queries":{"q_a":1.0}}""")
    val b = artifact("b.json", """{"action":"noop","queries":{"q_a":2.0}}""")
    // written before the field existed: recorded under count
    val old = artifact("old.json", """{"queries":{"q_a":1.5}}""")
    val out = dir.resolve("out.json").toString
    try {
      MergeFloors.main(Array(out, a, b))
      val merged = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(out))
      assert(merged.get("action").asText == "noop")
      assert(merged.get("queries").get("q_a").asDouble == 1.0)
      val e = intercept[IllegalArgumentException] {
        MergeFloors.main(Array(out, old, a))
      }
      assert(e.getMessage.contains("old.json: count") &&
        e.getMessage.contains("a.json: noop"), e.getMessage)
    } finally {
      dir.toFile.listFiles().foreach(_.delete())
      java.nio.file.Files.delete(dir)
    }
  }
}

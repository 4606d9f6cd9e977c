package graft.tools

/** Merge clean full-sweep Bench artifacts into `bench_floors.json` —
  * the floors-recording step, in-tree so the policy cannot drift:
  *
  *   runMain graft.tools.MergeFloors <out> <artifact1> <artifact2>...
  *
  * Policy (documented in .claude/skills/verify/SKILL.md): per query,
  * floor = min across the input windows (the best clean min is the
  * honest floor), spread = max of every recorded in-run band AND the
  * cross-window max/min ratio — the latter only when the swing is
  * MATERIAL (floor >= `MaterialFloorSec` and absolute delta >=
  * `MaterialDeltaSec`), because on sub-second queries the
  * cross-window ratio measures scheduler/JIT noise the gate's
  * global factor and absolute grace already absorb, and folding it
  * in would only blunt the gate. Feeding the previous
  * bench_floors.json as one of the inputs makes recording
  * cumulative: volatile lifecycle heavies converge to their true
  * cross-window envelope instead of resetting to one window's luck.
  * Metadata (sentinel, sf, heavy) is carried from the LAST input —
  * the most recent recording context. Inputs must be same-shape
  * (full sweeps): merging a subset artifact would record fake
  * missing-query gaps, so inputs missing >10% of the union are
  * refused. They must also share one timed action
  * (TimeQueries.recordedAction — a missing `action` field reads as
  * `count`), which
  * the output records in its own `action` field. */
object MergeFloors {
  val MaterialFloorSec = 1.0
  val MaterialDeltaSec = 0.75

  final case class Merged(floors: Map[String, Double],
      spread: Map[String, Double])

  /** The pure merge, separated so a spec can pin it on doctored
    * artifacts. Each input is (queries, spread). Negative floor
    * samples (recorded-as-erroring) are ignored for the min but
    * preserved as -1 if a query NEVER ran clean. */
  def merge(inputs: Seq[(Map[String, Double], Map[String, Double])]): Merged = {
    val names = inputs.flatMap(_._1.keys).distinct.sorted
    val floors = Map.newBuilder[String, Double]
    val spreads = Map.newBuilder[String, Double]
    names.foreach { q =>
      val vals = inputs.flatMap(_._1.get(q)).filter(_ > 0)
      if (vals.isEmpty) {
        floors += q -> -1.0
        spreads += q -> 1.0
      } else {
        val lo = vals.min
        val hi = vals.max
        val inRun = inputs.flatMap(_._2.get(q)).filter(_ >= 1.0)
          .foldLeft(1.0)(math.max)
        val cross =
          if (lo >= MaterialFloorSec && hi - lo >= MaterialDeltaSec) hi / lo
          else 1.0
        floors += q -> lo
        spreads += q -> math.max(inRun, cross)
      }
    }
    Merged(floors.result(), spreads.result())
  }

  /** The one action every input was recorded under, as (file,
    * action) pairs; refuses a mix — a floor is only comparable with
    * runs timed the same way. */
  def commonAction(recorded: Seq[(String, String)]): String = {
    val actions = recorded.map(_._2).distinct
    require(actions.size == 1,
      "inputs were recorded under different bench actions (" +
        recorded.map { case (f, a) => s"$f: $a" }.mkString(", ") +
        ") — floors merge only sweeps of one action")
    actions.head
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: MergeFloors <out.json> <benchArtifact1> <benchArtifact2>...")
    val out = args.head
    val files = args.tail.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def numMap(node: com.fasterxml.jackson.databind.JsonNode):
        Map[String, Double] = {
      if (node == null) return Map.empty
      val b = Map.newBuilder[String, Double]
      node.fields().forEachRemaining { e =>
        if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    }
    val parsed = files.map { f =>
      val root = mapper.readTree(new java.io.File(f))
      require(root.has("queries"), s"$f is not a Bench artifact (no queries)")
      (f, root, numMap(root.get("queries")), numMap(root.get("spread")))
    }
    val union = parsed.flatMap(_._3.keys).distinct.size
    parsed.foreach { case (f, _, qs, _) =>
      require(qs.size >= union * 0.9,
        s"$f covers ${qs.size} of $union queries — looks like a SUBSET " +
          "artifact; floors merge only full sweeps (same-shape rule)")
    }
    val action = commonAction(parsed.map(p => p._1 -> TimeQueries.recordedAction(p._2)))
    val m = merge(parsed.map(p => (p._3, p._4)))
    val last = parsed.last._2.asInstanceOf[
      com.fasterxml.jackson.databind.node.ObjectNode]
    def put(field: String, vals: Map[String, Double]): Unit = {
      val n = last.putObject(field)
      vals.toSeq.sortBy(_._1).foreach { case (k, v) =>
        n.put(k, math.rint(v * 1000) / 1000): Unit
      }
    }
    put("queries", m.floors)
    put("spread", m.spread)
    last.put("action", action)
    last.put("floors_note", s"MergeFloors over ${files.size} full sweeps: " +
      "floor=min; spread=max(in-run bands, cross-window ratio when " +
      s"floor>=${MaterialFloorSec}s and delta>=${MaterialDeltaSec}s)")
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(mapper.writeValueAsString(last)) finally w.close()
    println(s"[floors] merged ${files.size} sweeps, ${m.floors.size} " +
      s"queries -> $out")
  }
}

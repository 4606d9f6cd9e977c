package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Connected-component clustering over candidate pairs — the dedup
  * completion step: transitive groups collapse to one canonical id. */
class DedupClustersSpec extends SparkSpecBase {

  import spark.implicits._

  test("transitive pairs collapse to min-id components") {
    // components: {1,2,3} via 1-2, 2-3; {5,6}; 9 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("an 8-node chain converges within maxIter") {
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 8L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("a 512-node chain closes in O(log n) star rounds, not O(diameter)") {
    // the pathological shape for min-label propagation: diameter 511.
    // star contraction must label every node 1 within ~log2(512)+slack
    // rounds — the property that makes CC usable on 100 TB chains.
    val n = 512L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localEdgeLimit = 0 forces the distributed star path — the test
    // pins the star algorithm's round count, not the driver fast path
    val (labels, rounds) =
      Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b", maxIter = 25,
        localEdgeLimit = 0)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to n).toSet)
    assert(got.values.toSet == Set(1L), "chain must collapse to one component")
    assert(rounds <= 13, s"expected <= log2(512)+4 rounds, took $rounds")
  }

  test("driver union-find fast path matches the distributed star path") {
    // irregular mix: two chains, a clique, self-loop, isolated pair;
    // plus repeated rows, both orientations and a repeated self-loop
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 30L), (40L, 41L),
        (1L, 2L), (2L, 1L), (22L, 21L), (30L, 30L), (41L, 40L)))
      .toDF("id_a", "id_b")
    val driverRows = Dedup.duplicateClusters(pairs) // under the limit
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val viaDriver = driverRows.toMap
    val viaStar =
      Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b", 25, 0)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driverRows.length == viaDriver.size, "one label row per node")
    assert(viaDriver == viaStar)
    assert(viaDriver(10L) == 1L && viaDriver(22L) == 20L && viaDriver(30L) == 30L)
  }

  test("localEdgeLimit counts pair rows, not distinct edges") {
    // 6 rows, 2 distinct non-loop edges: a limit of 5 takes the star
    // path (rounds > 0), 6 the driver path (0 rounds), same labels
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L), (3L, 2L))
      .toDF("id_a", "id_b")
    val (atRows, r6) = Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b", 25, 6)
    val (belowRows, r5) = Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b", 25, 5)
    assert(r6 == 0 && r5 > 0)
    assert(atRows.collect().toSet == belowRows.collect().toSet)
  }

  test("the small-graph path executes the pairs' plan once") {
    // a deterministic counting UDF over the pairs counts every row the
    // pairs' plan produces: one execution adds exactly the row count
    val rows = spark.sparkContext.longAccumulator("pair-rows")
    val tick = udf { (x: Long) => rows.add(1); x }
    val base = Seq((1L, 2L), (2L, 3L), (3L, 2L), (7L, 7L), (5L, 6L))
      .toDF("id_a", "id_b")
    val pairs = base.select(tick(col("id_a")).as("id_a"), col("id_b"))
    val got = Dedup.duplicateClusters(pairs).collect()
    assert(got.length == 6)
    assert(rows.value == 5L, s"pairs' plan produced ${rows.value} rows, not 5")
  }

  test("union-find matches a reference closure on seeded random graphs") {
    val rnd = new scala.util.Random(20260812L)
    for (_ <- 1 to 5) {
      val pairs = Seq.fill(40 + rnd.nextInt(60))(
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      // reference: naive min-label iteration to fixpoint, in plain Scala
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      var label = nodes.map(i => i -> i).toMap
      var changed = true
      while (changed) {
        changed = false
        pairs.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m) { label += a -> m; changed = true }
          if (label(b) != m) { label += b -> m; changed = true }
        }
      }
      val got = Dedup.duplicateClusters(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == label, s"mismatch on graph: $pairs")
    }
  }

  test("string ids above the BMP: driver path picks the same min as Spark's binary order") {
    // U+FFFD sorts BEFORE U+10000 in UTF-8 binary order (Spark's
    // least/greatest), but AFTER it in String.compareTo's UTF-16
    // code-unit order — the driver path must agree with Spark
    val hi = "𐀀" // U+10000
    val pairs = Seq(("�", hi), ("z", "y")).toDF("id_a", "id_b")
    val viaDriver = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaStar = Dedup.duplicateClustersWithRounds(pairs, "id_a", "id_b", 25, 0)._1
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaDriver == viaStar)
    assert(viaDriver(hi) == "�" && viaDriver("�") == "�")
    assert(viaDriver("z") == "y")
  }

  test("self-loop-only nodes keep a self-labeled row (parity with propagation)") {
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }

  test("end to end: LSH candidates -> clusters -> canonical survivors") {
    val docs = (
      (1 to 3).map(i => (i.toLong, "group one duplicate text body alpha")) ++
      (11 to 12).map(i => (i.toLong, "group two duplicate text body beta")) ++
      (21 to 24).map(i => (i.toLong, s"unique document number $i with own words $i")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupCandidates(docs, "text", "doc_id")
    val clusters = Dedup.duplicateClusters(pairs, "id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // one survivor per dup group (the min id), all uniques kept
    assert(kept == Set(1L, 11L, 21L, 22L, 23L, 24L))
  }

  test("dropNearDuplicatesBy keeps the preferred source's copy, not the min id") {
    val docs = Seq(
      (1L, "crawl", "group one duplicate text body alpha"),
      (2L, "crawl", "group one duplicate text body alpha"),
      (3L, "curated", "group one duplicate text body alpha"),
      (9L, "crawl", "a unique never-candidate document kept as is"))
      .toDF("doc_id", "source", "text")
    val clusters = Dedup.duplicateClusters(
      Dedup.minhashNearDupCandidates(docs, "text", "doc_id"))
    val kept = Dedup.dropNearDuplicatesBy(docs, "doc_id", clusters,
        array_position(lit(Array("curated", "crawl")), col("source")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // plain rule would keep doc 1; preference keeps the curated doc 3
    assert(kept == Set(3L, 9L), s"got $kept")
    // ties in preference fall back to min id: all-crawl cluster keeps 1
    val tied = Dedup.dropNearDuplicatesBy(
      docs.filter(col("doc_id") =!= 3L), "doc_id",
      Dedup.duplicateClusters(Dedup.minhashNearDupCandidates(
        docs.filter(col("doc_id") =!= 3L), "text", "doc_id")),
      array_position(lit(Array("curated", "crawl")), col("source")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tied == Set(1L, 9L), s"got $tied")
  }
}

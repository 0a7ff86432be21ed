package graft

import graft.operators.{Dedup, DriverGate, IterUtils}

/** The gated operators' shared driver policy: the row gate, the
  * distributed-only scope, and the Spark-semantics replicas the driver
  * loops rely on. */
class DriverGateSpec extends GraftSpec {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the RDDs `body` left persisted (set difference, so blocks the
    * ContextCleaner drops meanwhile cannot mask a leak). */
  private def leaked[T](body: => T): (T, Set[Int]) = {
    val before = persistedIds
    val out = body
    (out, persistedIds -- before)
  }

  test("collect: Right at the gate, Left one row above it, nothing left persisted") {
    val (at, atLeak) = leaked(DriverGate.collect(spark.range(DriverGate.MaxRows)))
    assert(at.map(_.length) == Right(DriverGate.MaxRows.toInt))
    assert(atLeak.isEmpty, s"Right path leaked $atLeak")
    val (above, aboveLeak) = leaked {
      val out = DriverGate.collect(spark.range(DriverGate.MaxRows + 1))
      out.left.foreach(ck => IterUtils.unpersistCheckpoint(ck))
      out
    }
    assert(above.isLeft)
    assert(aboveLeak.isEmpty, s"released Left leaked $aboveLeak")
    // the shut gate hands back a tiny relation too
    assert(DriverGate.distributedOnly(
      DriverGate.collectOrRelease(spark.range(3))).isEmpty)
  }

  test("utf8Compare is code-point order, not UTF-16 code-unit order") {
    // U+FFFF vs U+1F600 (a surrogate pair starting 0xD83D)
    assert(DriverGate.utf8Compare("\uFFFF", "\uD83D\uDE00") < 0)
    assert("\uFFFF".compareTo("\uD83D\uDE00") > 0)
    assert(DriverGate.utf8Compare("ab", "ab") == 0)
    assert(DriverGate.utf8Compare("a", "ab") < 0)
  }

  test("sparkRound is HALF_UP, away from zero on ties") {
    assert(DriverGate.sparkRound(2.5) == 3.0)
    assert(DriverGate.sparkRound(-2.5) == -3.0)
    assert(DriverGate.sparkRound(0.49999999999999994) == 0.0)
  }

  test("LongUnionFind labels == distributed duplicateClusters (gnarly graph)") {
    val gnarly = (1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L), (30L, 30L),
        (40L, 41L), (40L, 41L), (41L, 40L), (1000000007L, 7L))
    val local = DriverGate.componentLabels(gnarly.toArray).toSet
    val dist = DriverGate.distributedOnly(
      Dedup.duplicateClusters(gnarly.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toSet)
    assert(local == dist, s"local=$local dist=$dist")
  }

  test("duplicateClusters above the gate keeps only its returned labels persisted") {
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("id_a", "id_b")
    val (labels, kept) = leaked(DriverGate.distributedOnly {
      val out = Dedup.duplicateClusters(pairs)
      out.collect()
      out
    })
    assert(kept.size == 1, s"persisted RDDs left behind: $kept")
    assert(labels.count() == 12)
    IterUtils.unpersistCheckpoint(labels)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.IncrementalJoin

class IncrementalJoinSpec extends SparkSuite {
  import spark.implicits._

  // deterministic pseudo-random stream (no test-order dependence)
  private def rng(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("maintain == full recompute under inserts, deletes and key-changing updates") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val r = rng(seed)
      // A: (aid, k, av) with duplicate join keys; B: (bid, k, bv)
      val aOld = (1 to 120).map(i => (i.toLong, s"k${r.next().abs % 15}", s"a$i"))
      val bOld = (1 to 40).map(i => (i.toLong, s"k${r.next().abs % 15}", s"b$i"))

      // feed on A: delete 20, key-change 15 (delete+insert SAME id, new
      // key), insert 25 fresh ids; feed on B: value-change 8 (same key)
      val aDeleted = aOld.take(20)
      val aMoved = aOld.slice(20, 35)
        .map { case (id, _, v) => (id, s"k${r.next().abs % 15}", v + "'") }
      val aInserted = (201 to 225).map(i => (i.toLong, s"k${r.next().abs % 15}", s"a$i"))
      val aNew = aOld.drop(35) ++ aMoved ++ aInserted
      val bChanged = bOld.take(8).map { case (id, k, v) => (id, k, v + "'") }
      val bNew = bChanged ++ bOld.drop(8)

      val deltaA = (aDeleted ++ aOld.slice(20, 35)).map { case (id, k, v) => (id, k, v, "D") } ++
        (aMoved ++ aInserted).map { case (id, k, v) => (id, k, v, "I") }
      val deltaB = bOld.take(8).map { case (id, k, v) => (id, k, v, "D") } ++
        bChanged.map { case (id, k, v) => (id, k, v, "I") }

      val toA = (s: Seq[(Long, String, String)]) => s.toDF("aid", "k", "av")
      val toB = (s: Seq[(Long, String, String)]) => s.toDF("bid", "k", "bv")
      val state = IncrementalJoin.joinOf(toA(aOld), toB(bOld), Seq("k"))
      val maintained = IncrementalJoin.maintain(state,
        toA(aNew), deltaA.toDF("aid", "k", "av", "op"),
        toB(bNew), deltaB.toDF("bid", "k", "bv", "op"),
        Seq("k"), "aid", "bid")
      val recomputed = IncrementalJoin.joinOf(toA(aNew), toB(bNew), Seq("k"))
      assert(canon(maintained) === canon(recomputed), s"seed $seed")
    }
  }

  test("null join keys never pair and never corrupt maintenance") {
    // rows can move between null and real keys; null never joins (SQL
    // inner-join semantics), and a null-keyed dirty row must still
    // retire its old pairs
    val toA = (s: Seq[(Long, Option[String], String)]) => s.toDF("aid", "k", "av")
    val toB = (s: Seq[(Long, Option[String], String)]) => s.toDF("bid", "k", "bv")
    val aOld = Seq((1L, Some("k1"), "a1"), (2L, Option.empty[String], "a2"),
      (3L, Some("k2"), "a3"))
    val b = toB(Seq((10L, Some("k1"), "b1"), (11L, Option.empty[String], "b2"),
      (12L, Some("k2"), "b3")))
    val aNew = Seq((1L, Some("k1"), "a1"), (2L, Some("k2"), "a2'"),
      (3L, Option.empty[String], "a3'"), (4L, Option.empty[String], "a4"))
    val deltaA = Seq(
      (2L, Option.empty[String], "a2", "D"), (2L, Some("k2"), "a2'", "I"),
      (3L, Some("k2"), "a3", "D"), (3L, Option.empty[String], "a3'", "I"),
      (4L, Option.empty[String], "a4", "I"))
      .toDF("aid", "k", "av", "op")
    val emptyB = Seq.empty[(Long, Option[String], String, String)]
      .toDF("bid", "k", "bv", "op")
    val state = IncrementalJoin.joinOf(toA(aOld), b, Seq("k"))
    val maintained = IncrementalJoin.maintain(state, toA(aNew), deltaA,
      b, emptyB, Seq("k"), "aid", "bid")
    assert(canon(maintained) ===
      canon(IncrementalJoin.joinOf(toA(aNew), b, Seq("k"))))
    // and the null-keyed rows produced no pairs at all
    assert(!maintained.select("aid").as[Long].collect().contains(3L))
  }

  test("one-sided empty delta is a no-op passthrough") {
    val a = Seq((1L, "x", "a1"), (2L, "y", "a2")).toDF("aid", "k", "av")
    val b = Seq((10L, "x", "b1"), (11L, "x", "b2")).toDF("bid", "k", "bv")
    val state = IncrementalJoin.joinOf(a, b, Seq("k"))
    val out = IncrementalJoin.maintain(state, a,
      Seq.empty[(Long, String, String, String)].toDF("aid", "k", "av", "op"),
      b, Seq.empty[(Long, String, String, String)].toDF("bid", "k", "bv", "op"),
      Seq("k"), "aid", "bid")
    assert(canon(out) === canon(state))
  }

  test("backfill mode (broadcastDirty = false): no forced broadcast, output still exact") {
    val a = (1 to 400).map(i => (i.toLong, s"k${i % 40}", s"a$i")).toDF("aid", "k", "av")
    val bOld = (1 to 80).map(i => (i.toLong, s"k${i % 40}", s"b$i"))
    // backfill-sized delta: EVERY b row is replaced
    val bNew = bOld.map { case (id, k, v) => (id, k, v + "'") }
    val deltaB = (bOld.map { case (id, k, v) => (id, k, v, "D") } ++
      bNew.map { case (id, k, v) => (id, k, v, "I") }).toDF("bid", "k", "bv", "op")
    val emptyA = Seq.empty[(Long, String, String, String)].toDF("aid", "k", "av", "op")
    val state = IncrementalJoin.joinOf(a, bOld.toDF("bid", "k", "bv"), Seq("k"))
    // with the auto-broadcast threshold off, only explicit broadcast()
    // hints can put a BroadcastExchange in the plan — so its absence
    // proves the backfill path really dropped the forced hints
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val backfill = IncrementalJoin.maintain(state, a, emptyA,
        bNew.toDF("bid", "k", "bv"), deltaB, Seq("k"), "aid", "bid",
        broadcastDirty = false)
      assert(canon(backfill) ===
        canon(IncrementalJoin.joinOf(a, bNew.toDF("bid", "k", "bv"), Seq("k"))))
      assert(!backfill.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"), "backfill must not force broadcasts")
      // contrast: the steady-state default still forces the dirty-set
      // broadcasts under the same threshold
      val steady = IncrementalJoin.maintain(state, a, emptyA,
        bNew.toDF("bid", "k", "bv"), deltaB, Seq("k"), "aid", "bid")
      assert(steady.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
    } finally spark.conf.set(key, saved)
  }

  test("state branch is Exchange-free: dirty sets broadcast, state never shuffles") {
    val a = (1 to 500).map(i => (i.toLong, s"k${i % 50}", s"a$i")).toDF("aid", "k", "av")
    val b = (1 to 100).map(i => (i.toLong, s"k${i % 50}", s"b$i")).toDF("bid", "k", "bv")
    Pins.scope { p =>
      // stand-in for the parquet-backed state scan
      val state = p.pin(IncrementalJoin.joinOf(a, b, Seq("k")), true)
      val delta = Seq((1L, "k1", "a1", "D")).toDF("aid", "k", "av", "op")
      val deltaB = Seq((2L, "k2", "b2", "D"), (2L, "k2", "b2x", "I"))
        .toDF("bid", "k", "bv", "op")
      val out = IncrementalJoin.maintain(state, a, delta, b, deltaB,
        Seq("k"), "aid", "bid")
      out.collect()
      // the survivors branch (scan -> anti -> anti -> union) must carry
      // the state through broadcast joins only: no Exchange may sit
      // between the state's scan and the union
      val plan = out.queryExecution.executedPlan.toString
      val survivorsBranch = plan.linesIterator
        .dropWhile(l => !l.contains("Union")).takeWhile(l => !l.contains("Scan ExistingRDD"))
        .filter(l => l.contains("BroadcastHashJoin") || l.contains("Exchange"))
        .toSeq
      val bhj = survivorsBranch.count(_.contains("BroadcastHashJoin"))
      val stateShuffles = survivorsBranch
        .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(bhj >= 2, s"expected broadcast anti joins on the state branch:\n$plan")
      assert(stateShuffles === 0, s"state side must not shuffle:\n$plan")
    }
  }
}

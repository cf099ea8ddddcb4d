package graft

import org.apache.spark.sql.functions._
import graft.similarity.ItemSim

class ItemSimSpec extends SparkSuite {
  import spark.implicits._

  private def inter(rows: (Long, Long, Long)*) = // (user, item, strength)
    rows.toDF("u", "i", "s")

  test("cosine over binary user sets, both directions emitted") {
    // items 1,2 share both users; item 3 seen by one user only
    val out = ItemSim.neighbors(inter(
        (10L, 1L, 5L), (10L, 2L, 1L), (10L, 3L, 1L),
        (20L, 1L, 2L), (20L, 2L, 9L)),
      "u", "i", "s", k = 5, maxUserItems = 10)
      .orderBy("item", "rank")
      .select("item", "neighbor", "n_both", "sim_q")
      .as[(Long, Long, Long, Long)].collect()
    // n_1 = 2, n_2 = 2, n_3 = 1; sim(1,2) = 2/sqrt(4) = 1.0 -> 10000
    // sim(1,3) = 1/sqrt(2) -> 7071; sim(2,3) = 1/sqrt(2) -> 7071
    assert(out === Array(
      (1L, 2L, 2L, 10000L), (1L, 3L, 1L, 7071L),
      (2L, 1L, 2L, 10000L), (2L, 3L, 1L, 7071L),
      (3L, 1L, 1L, 7071L), (3L, 2L, 1L, 7071L)))
  }

  test("k truncates per item with deterministic tie-break") {
    // item 1 co-occurs equally with 2,3,4 -> rank by neighbor asc
    val out = ItemSim.neighbors(inter(
        (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L)),
      "u", "i", "s", k = 2, maxUserItems = 10)
      .filter(col("item") === 1L).orderBy("rank")
      .select("neighbor").as[Long].collect()
    assert(out === Array(2L, 3L))
  }

  test("maxUserItems caps by strength desc then item asc") {
    // user has 3 items, cap 2: keeps items 7 (s=9) and 5 (s=3); item 9
    // (s=1) never pairs
    val out = ItemSim.neighbors(inter(
        (1L, 5L, 3L), (1L, 7L, 9L), (1L, 9L, 1L),
        (2L, 5L, 1L), (2L, 7L, 1L), (2L, 9L, 1L)),
      "u", "i", "s", k = 5, maxUserItems = 2)
      .select("item", "neighbor").as[(Long, Long)].collect().toSet
    // user 2 cap: ties at s=1 -> items 5,7 kept
    assert(out === Set((5L, 7L), (7L, 5L)))
  }

  test("maintainCounts == full rebuild after a user-history delta (incl. cap eviction)") {
    val rnd = new scala.util.Random(17)
    val base = (for (u <- 1L to 20L; i <- 1L to 15L if rnd.nextInt(3) == 0)
      yield (u, i, 1L + rnd.nextInt(5))).toSeq
    // users 3 and 7 change: user 3 gains two STRONG items (forces cap
    // eviction at maxUserItems = 4), user 7 loses everything
    val changed = Set(3L, 7L)
    val newFull = base.filterNot(r => r._1 == 7L) ++
      Seq((3L, 100L, 99L), (3L, 101L, 98L))
    val oldChanged = base.filter(r => changed(r._1))
    val newChanged = newFull.filter(r => changed(r._1))

    val (p0, i0) = ItemSim.counts(base.toDF("u", "i", "s"), "u", "i", "s", 4)
    val (pm, im) = ItemSim.maintainCounts(p0, i0,
      oldChanged.toDF("u", "i", "s"), newChanged.toDF("u", "i", "s"),
      "u", "i", "s", 4)
    val (pf, if0) = ItemSim.counts(newFull.toDF("u", "i", "s"), "u", "i", "s", 4)

    assert(pm.as[(Long, Long, Long)].collect().toSet ===
      pf.as[(Long, Long, Long)].collect().toSet)
    assert(im.as[(Long, Long)].collect().toSet ===
      if0.as[(Long, Long)].collect().toSet)
    // user 7's sole items (if any were unique to it) left the tables
    val gone = base.filter(_._1 == 7L).map(_._2).toSet --
      newFull.map(_._2).toSet
    val liveItems = im.as[(Long, Long)].collect().map(_._1).toSet
    assert(gone.forall(!liveItems.contains(_)))
    // and scoring from maintained state == the one-shot build
    val a = ItemSim.neighborsFromCounts(pm, im, 3)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    val b = ItemSim.neighbors(newFull.toDF("u", "i", "s"), "u", "i", "s", 3, 4)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(a === b)
  }

  test("null-user rows (guest checkouts) never pair: built and maintained " +
    "counts == a rebuild without them") {
    val rnd = new scala.util.Random(23)
    val known = (for (u <- 1L to 12L; i <- 1L to 10L if rnd.nextInt(3) == 0)
      yield (Option(u), i, 1L + rnd.nextInt(5))).toSeq
    // distinct guests share the null user: grouped by user they would
    // form one history pairing items across unrelated checkouts
    val guests = Seq((None, 1L, 3L), (None, 2L, 1L), (None, 3L, 2L), (None, 2L, 4L))
    val newGuests = Seq((None, 4L, 5L), (None, 5L, 1L))
    val base = known ++ guests
    // the CDC delta: user 3 gains a strong item, more guests check out
    val user3 = Option(3L)
    val newFull = base ++ Seq((user3, 100L, 99L)) ++ newGuests
    val oldChanged = base.filter(r => r._1 == user3 || r._1.isEmpty)
    val newChanged = newFull.filter(r => r._1 == user3 || r._1.isEmpty)
    def df(rows: Seq[(Option[Long], Long, Long)]) = rows.toDF("u", "i", "s")
    def sets(c: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) =
      (c._1.as[(Long, Long, Long)].collect().toSet, c._2.as[(Long, Long)].collect().toSet)

    val (p0, i0) = ItemSim.counts(df(base), "u", "i", "s", 4)
    assert(sets((p0, i0)) === sets(ItemSim.counts(df(known), "u", "i", "s", 4)))
    val maintained = ItemSim.maintainCounts(p0, i0, df(oldChanged), df(newChanged),
      "u", "i", "s", 4)
    assert(sets(maintained) ===
      sets(ItemSim.counts(df(newFull.filter(_._1.nonEmpty)), "u", "i", "s", 4)))
  }

  test("maintainCounts pins nothing: no persistent RDD is left once its result is scored") {
    val rnd = new scala.util.Random(29)
    val base = (for (u <- 1L to 15L; i <- 1L to 12L if rnd.nextInt(3) == 0)
      yield (u, i, 1L + rnd.nextInt(5))).toSeq
    val newChanged = base.filter(_._1 == 4L) ++ Seq((4L, 50L, 9L), (5L, 1L, 2L))
    val oldChanged = base.filter(r => r._1 == 4L || r._1 == 5L)
    val (p0, i0) = ItemSim.counts(base.toDF("u", "i", "s"), "u", "i", "s", 4)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (pm, im) = ItemSim.maintainCounts(p0, i0,
      oldChanged.toDF("u", "i", "s"), newChanged.toDF("u", "i", "s"), "u", "i", "s", 4)
    val scored = ItemSim.neighborsFromCounts(pm, im, 3).count()
    // checked right away, while pm/im are still referenced:
    // getPersistentRDDs holds its RDDs weakly, so a later check could
    // pass on leaking code once a GC drops the entry
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"maintainCounts left pins $leaked")
    assert(scored > 0 && pm.count() > 0 && im.count() > 0)
  }

  test("maintained counts and top-k == rebuild across the delta shapes the fold must get " +
    "right: insert, drive to 0, net no-op, top-k eviction, rank-k ties") {
    def users(sets: (Long, Seq[Long])*) = sets.flatMap { case (u, is) => is.map(i => (u, i, 1L)) }
    val unchanged = users(1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L, 3L),
      4L -> Seq(1L, 4L),
      // item 20 (the HI side of its pairs): 11 leads, 12 and 13 tie at
      // rank k = 2 and neighbor ASC keeps 12
      9L -> Seq(11L, 20L), 10L -> Seq(12L, 20L), 11L -> Seq(13L, 20L), 12L -> Seq(11L, 20L))
    // user 5 swaps 6 for 7: pair (5,6) drops to 0, (5,7) is new;
    // users 6 and 7 trade pair (2,3): −1 and +1, no net change;
    // new user 8 lifts (1,3) so item 1's top-2 goes from [2, 4] to
    // [3, 2]: 4 is evicted, tied with 2 at rank k (item 1 is the LO side)
    val oldChanged = users(5L -> Seq(5L, 6L), 6L -> Seq(2L, 3L), 7L -> Seq(3L))
    val newChanged = users(5L -> Seq(5L, 7L), 6L -> Seq(2L), 7L -> Seq(2L, 3L),
      8L -> Seq(1L, 3L))
    def df(rows: Seq[(Long, Long, Long)]) = rows.toDF("u", "i", "s")
    def pairMap(p: org.apache.spark.sql.DataFrame) =
      p.as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    def top(n: org.apache.spark.sql.DataFrame) =
      n.as[(Long, Long, Long, Long, Int)].collect().toSet

    val (p0, i0) = ItemSim.counts(df(unchanged ++ oldChanged), "u", "i", "s", 10)
    val (pm, im) = ItemSim.maintainCounts(p0, i0, df(oldChanged), df(newChanged),
      "u", "i", "s", 10)
    val (pf, if0) = ItemSim.counts(df(unchanged ++ newChanged), "u", "i", "s", 10)
    val (base, maintained) = (pairMap(p0), pairMap(pm))
    assert(maintained === pairMap(pf))
    assert(im.as[(Long, Long)].collect().toSet === if0.as[(Long, Long)].collect().toSet)
    assert(base.get((5L, 6L)) === Some(1L) && !maintained.contains((5L, 6L)))
    assert(!base.contains((5L, 7L)) && maintained.get((5L, 7L)) === Some(1L))
    assert(base.get((2L, 3L)) === Some(1L) && maintained.get((2L, 3L)) === Some(1L))

    val before = top(ItemSim.neighborsFromCounts(p0, i0, 2))
    val after = top(ItemSim.neighborsFromCounts(pm, im, 2))
    assert(after === top(ItemSim.neighbors(df(unchanged ++ newChanged), "u", "i", "s", 2, 10)))
    def ranked(t: Set[(Long, Long, Long, Long, Int)], item: Long) =
      t.filter(_._1 == item).toSeq.sortBy(_._5).map(r => (r._2, r._4))
    assert(ranked(before, 1L) === Seq((2L, 5774L), (4L, 5000L)))
    // 2/√20 and 1/√5 both quantize to 4472: the tie at rank 2 evicts 4
    assert(ranked(after, 1L) === Seq((3L, 5164L), (2L, 4472L)))
    assert(ranked(after, 20L) === Seq((11L, 7071L), (12L, 5000L)))
    assert(after.exists(r => r._1 == 13L && r._2 == 20L && r._4 == 5000L))
  }

  test("randomized equality with a driver-side reference") {
    val rnd = new scala.util.Random(3)
    val rows = (for (u <- 1L to 40L; i <- 1L to 25L if rnd.nextInt(4) == 0)
      yield (u, i, 1L + rnd.nextInt(5))).toSeq
    val got = ItemSim.neighbors(rows.toDF("u", "i", "s"), "u", "i", "s",
        k = 3, maxUserItems = 100)
      .select("item", "neighbor", "sim_q", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    // reference (no cap active at 100)
    val byUser = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val items = rows.map(_._2).distinct
    val nI = items.map(i => i -> byUser.values.count(_.contains(i))).toMap
    val want = (for {
      i <- items
      sims = for {
        j <- items if j != i
        nb = byUser.values.count(s => s.contains(i) && s.contains(j)) if nb > 0
      } yield (j, math.floor(nb * 10000.0 / math.sqrt(nI(i).toDouble * nI(j).toDouble) + 0.5).toLong)
      ((j, sq), r) <- sims.sortBy { case (j, sq) => (-sq, j) }.zipWithIndex.take(3)
    } yield (i, j, sq, r + 1)).toSet
    assert(got === want)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Graphs

class GraphsSpec extends SparkSuite {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    Graphs.canonicalEdges(pairs.toDF("a", "b"), "a", "b")

  test("canonicalEdges drops loops, collapses duplicates and directions") {
    val e = edges((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (2L, 3L))
      .orderBy("u", "v").as[(Long, Long)].collect()
    assert(e === Array((1L, 2L), (2L, 3L)))
  }

  test("one triangle counted once, each node credited") {
    val out = Graphs.triangleCounts(edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
      .orderBy("node").as[(Long, Long)].collect()
    assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("K4 has four triangles, three per node") {
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tri = Graphs.triangles(k4).as[(Long, Long, Long)].collect().sorted
    assert(tri === Array((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
    val counts = Graphs.triangleCounts(k4).orderBy("node").as[(Long, Long)].collect()
    assert(counts === Array((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("triangle-free graph (star + path) yields nothing") {
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (5L, 6L))
    assert(Graphs.triangleCounts(star).count() === 0L)
  }

  test("triangleCounts contribution form equals the triangle-listing fold") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val e = edges(pairs: _*)
    val got = Graphs.triangleCounts(e).orderBy("node")
      .as[(Long, Long)].collect().toMap
    val want = Graphs.triangles(e).as[(Long, Long, Long)].collect()
      .flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    assert(got === want)
  }

  test("randomized equality with a brute-force reference") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val got = Graphs.triangles(edges(pairs: _*))
      .as[(Long, Long, Long)].collect().toSet
    // reference: brute-force over the canonical edge SET
    val es = pairs.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = (for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } yield (a, b, c)).toSet
    assert(got === want)
  }

  test("kCore equals a sequential brute-force peel on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3; k <- Seq(2, 3)) {
      val pairs = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val got = Graphs.kCore(edges(pairs: _*), k)
        .as[(Long, Long)].collect().toMap
      // sequential reference peel
      var es = pairs.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      var changed = true
      while (changed) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val keep = deg.collect { case (n, d) if d >= k => n }.toSet
        val next = es.filter(e => keep(e._1) && keep(e._2))
        changed = next.size != es.size
        es = next
      }
      val want = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got === want, s"trial $trial k=$k")
    }
  }

  test("kTruss equals a sequential brute-force edge peel on random graphs") {
    def bruteTruss(pairs: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
      var es = pairs.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      def supports(s: Set[(Long, Long)]): Map[(Long, Long), Long] = {
        val adj = s.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        s.map(e => e -> (adj(e._1) intersect adj(e._2)).size.toLong).toMap
      }
      var changed = true
      while (changed) {
        val sup = supports(es)
        val next = es.filter(e => sup(e) >= k - 2)
        changed = next.size != es.size
        es = next
      }
      supports(es).filter { case (e, _) => es(e) }
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3; k <- Seq(3, 4)) {
      val pairs = Seq.fill(160)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val got = Graphs.kTruss(edges(pairs: _*), k)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === bruteTruss(pairs, k), s"trial $trial k=$k")
    }
  }

  test("kTruss keeps the clique, peels the star and the triangle chain; " +
    "truss nodes sit inside the (k-1)-core") {
    // K5 on 1..5 (every edge in 3 triangles), a chain of triangles
    // 10-11-12, 11-12-13, 12-13-14 (supports <= 1 after one peel), and a
    // star at 20 (support 0)
    val k5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val chain = Seq((10L, 11L), (10L, 12L), (11L, 12L), (11L, 13L),
      (12L, 13L), (12L, 14L), (13L, 14L))
    val star = (30L to 36L).map(x => (20L, x))
    val e = edges((k5 ++ chain ++ star): _*)
    val truss = Graphs.kTruss(e, k = 4).as[(Long, Long, Long)].collect()
    assert(truss.map(t => (t._1, t._2)).toSet === k5.toSet,
      "k=4 truss must be exactly the K5")
    assert(truss.forall(_._3 === 3L), "every K5 edge sits in 3 triangles")
    // containment: the k-truss nodes are a subgraph of the (k-1)-core
    val core = Graphs.kCore(e, k = 3).as[(Long, Long)].collect().map(_._1).toSet
    assert(truss.flatMap(t => Seq(t._1, t._2)).toSet.subsetOf(core))
    // loud cap: a deep peel beyond maxIters throws rather than
    // returning a partial (overstated) truss
    val deepChain = (0L until 40L).flatMap(i =>
      Seq((3 * i, 3 * i + 1), (3 * i, 3 * i + 2), (3 * i + 1, 3 * i + 2),
        (3 * i + 1, 3 * i + 3), (3 * i + 2, 3 * i + 3)))
    val deep = edges(deepChain: _*)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException](Graphs.kTruss(deep, k = 4, maxIters = 2))
    // the throw releases the loop's triangle list and support pins too
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty)
  }

  test("kCore peels a chain entirely at k=2 and throws when rounds are capped") {
    // a 12-node path: every 2-core peel removes only the two endpoints
    // per round -> needs 6 rounds; maxIters=3 must throw loudly
    val chain = (1L to 11L).map(i => (i, i + 1))
    assert(Graphs.kCore(edges(chain: _*), k = 2, maxIters = 20).count() === 0L)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException](
      Graphs.kCore(edges(chain: _*), k = 2, maxIters = 3).count())
    assert(e.getMessage.contains("kCore"))
    // the throw releases the last peel generation it had pinned
    assert(sc.getPersistentRDDs.keySet -- before === Set.empty)
  }

  test("labelPropagation splits two cliques joined by a bridge; deterministic") {
    // cliques {1..5} and {11..15}, one bridge 5-11
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val pairs = clique(1L to 5L) ++ clique(11L to 15L) :+ (5L, 11L)
    val out = Graphs.labelPropagation(edges(pairs: _*), iters = 5)
      .as[(Long, Long)].collect().toMap
    // each clique converges to one community; the two differ
    val c1 = (1L to 5L).map(out).toSet
    val c2 = (11L to 15L).map(out).toSet
    assert(c1.size == 1 && c2.size == 1 && c1 != c2)
    // determinism under input order
    val shuffledEdges = Graphs.canonicalEdges(
      scala.util.Random.shuffle(pairs.toList).toDF("a", "b"), "a", "b")
    val out2 = Graphs.labelPropagation(shuffledEdges, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(out2 == out)
  }

  test("hub orientation: high-degree node generates no apex wedges") {
    // star with hub 1 (degree 100) + one closing edge (2,3): exactly
    // one triangle; the degree orientation makes the LOW-degree
    // endpoints the apexes, so wedge count stays O(1), not O(deg²)
    val star = (2L to 101L).map(i => (1L, i))
    val out = Graphs.triangleCounts(edges(star :+ (2L, 3L): _*))
      .orderBy("node").as[(Long, Long)].collect()
    assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("bfsDistances: hand-checked hops, min over paths, hop cap, off-graph seed") {
    // path 1-2-3-4-5 plus shortcut 1-4: dist(4)=1 via shortcut, not 3
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val seeds = Seq(1L, 99L).toDF("node") // 99 is not in the graph
    val got = Graphs.bfsDistances(e, seeds, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L,
      99L -> 0L))
    // hop cap: maxHops=1 settles only direct neighbors
    val capped = Graphs.bfsDistances(e, Seq(1L).toDF("node"), maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pins

/** Distributed triangle counting over an undirected simple graph —
  * the local-clustering / community-density primitive (co-purchase
  * affinity graphs, link-farm detection over document hyperlinks).
  *
  * Algorithm: the degree-ordered node-iterator (Schank & Wagner,
  * "Finding, Counting and Listing All Triangles in Large Graphs",
  * WEA 2005 — the same orientation trick every distributed
  * implementation uses). Edges are oriented from the endpoint that is
  * SMALLER in the total order (degree, id); every triangle then has
  * exactly one "apex" whose two out-edges form the wedge, so each
  * triangle is generated ONCE, and the wedge count is bounded by
  * Σ_v d_out(v)² = O(m^1.5) instead of Σ_v d(v)² — a hub with 1M
  * neighbors generates NO wedges at its own apex unless those
  * neighbors have even higher rank, which at most √(2m) nodes can.
  *
  * Shape: three keyed shuffles (distinct-canonicalize, degree join +
  * wedge self-join, wedge⋈edge verify) — all equi-joins on graph
  * keys, no broadcast assumption (the edge list is the big side at
  * 100 TB), AQE free to pick sort-merge vs shuffled-hash per stage.
  */
object Graphs {

  /** Canonical undirected edge list: (u < v), self-loops dropped,
    * duplicates collapsed. Accepts any integral id columns.
    */
  def canonicalEdges(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.filter(col(aCol) =!= col(bCol) && col(aCol).isNotNull && col(bCol).isNotNull)
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman 1983) — the standard density filter for spam-cluster /
    * link-farm detection and community trimming: peripheral nodes peel
    * away, what remains is the cohesive core. Returns the surviving
    * nodes with their WITHIN-CORE degree: `(node, core_degree)`.
    *
    * Algorithm: iterative peeling — drop every node whose current
    * degree < k, recompute, repeat to fixpoint. Each round is one
    * grouped count + one semi-join on the edge list (keyed shuffles,
    * no broadcast assumption); rounds needed = peel depth, usually
    * O(log n) on social-shaped graphs but Θ(n) on an adversarial
    * chain, so like [[graft.dedup.Clusters]] the loop localCheckpoints
    * per round (bounded plan depth) and THROWS past `maxIters` rather
    * than silently returning an unpeeled supergraph.
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1)
    // the result reads the last generation lazily, so the scope hands
    // that one to the caller and frees the rest, on a throw too
    Pins.scope { p =>
      var cur = p.pin(edges.select(col("u"), col("v")), true)
      var curCount = cur.count()
      var iter = 0
      var done = false
      while (!done && iter < maxIters) {
        val deg = cur.select(col("u").as("node"))
          .unionAll(cur.select(col("v").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        // LAZY checkpoints: the keep set and the next generation cut
        // lineage but materialize inside the ONE count() job below —
        // one scheduled action per peel round, not three (measured on
        // the sf0.1 co-purchase peel: 4.4 s -> 3.5 s same-session)
        val keep = p.pin(deg.filter(col("deg") >= k).select(col("node")), false)
        val next = p.pin(cur
          .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
          .select(col("u"), col("v")), false)
        // fixpoint when no edge peeled this round (edge count is the
        // cheap monotone invariant — it strictly decreases until done);
        // the count doubles as the lazy-checkpoint materialization
        val nextCount = next.count()
        done = nextCount == curCount
        // free the superseded generation (the LPA/Clusters discipline —
        // a 50-round peel would otherwise hold 50 edge-list-sized
        // checkpoint generations until session end)
        p.release(cur)
        p.release(keep)
        cur = next
        curCount = nextCount
        iter += 1
      }
      if (!done)
        throw new IllegalStateException(
          s"Graphs.kCore did not reach a fixpoint in $maxIters rounds — " +
            "adversarially deep peel (e.g. a long chain); raise maxIters " +
            "(a partial peel would overstate the core)")
      cur.select(col("u").as("node"))
        .unionAll(cur.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
    }
  }

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007), DETERMINISTIC variant: every node starts
    * as its own label; each round it adopts the label most frequent
    * among its neighbors, ties broken by SMALLEST label — no
    * randomness, so the result is a pure function of the edge set.
    * Runs `iters` fixed rounds (synchronous LPA can oscillate on
    * bipartite structures; a fixed-round contract keeps the operator
    * deterministic rather than convergence-dependent — callers wanting
    * guaranteed-stable components use [[graft.dedup.Clusters]]).
    * Returns (node, community).
    *
    * Shape per round: one neighbor-label join + one (node, label)
    * count + one per-node top-1 min-struct aggregate (map-side
    * combinable — a row_number window would shuffle AND sort every
    * (node, label) row per round). Lineage policy = [[PageRank]]'s:
    * rounds run UNCHECKPOINTED up to `checkpointInterval` deep — each
    * round references the label frame ONCE, so the fused plan grows
    * linearly and fusing beats paying a blocking materialization per
    * round (measured on the sf0.1 co-purchase graph: 5 fully-fused
    * rounds 3.4 s vs 5.5 s per-round-pinned, edge build included);
    * past the interval the round is localCheckpoint'ed and the
    * superseded pin freed, so 50-round walks keep bounded plans.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
                       checkpointInterval: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    // pin the EDGE LIST once (the triangles idiom): bidir and the label
    // seed both read it, and each pin action below would otherwise
    // re-evaluate the caller's whole upstream edge build — measured as
    // the dominant cost of the co-purchase queries, where the derived
    // graph is 3-4 orders of magnitude smaller than its build
    Pins.scope { p =>
      val e0 = p.pin(edges, true)
      val bidir = e0.select(col("u").as("a"), col("v").as("b"))
        .unionAll(e0.select(col("v").as("a"), col("u").as("b")))
      var labels = p.pin(e0.select(col("u").as("node"))
        .unionAll(e0.select(col("v").as("node"))).distinct()
        .withColumn("community", col("node")), true)
      for (i <- 1 to iters) {
        val counts = bidir
          .join(labels.withColumnRenamed("node", "b"), Seq("b"))
          .groupBy(col("a").as("node"), col("community"))
          .agg(count(lit(1)).as("__c"))
        // top-1 label as a min-struct AGGREGATE, not a row_number window:
        // (count desc, label asc) ≡ min of (−count, label), and the agg
        // partial-combines map-side where the window must shuffle AND
        // sort every (node, label) row per round
        val next = counts
          .groupBy(col("node"))
          .agg(min(struct((-col("__c")).as("nc"), col("community").as("community")))
            .as("__best"))
          .select(col("node"), col("__best.community").as("community"))
        labels = if (i < iters && i % checkpointInterval == 0) {
          val cut = p.pin(next, true)
          p.release(labels) // the previous cut
          cut
        } else next
      }
      labels
    }
  }

  /** Per-node triangle participation counts: one row per node that
    * closes at least one triangle, `(node, n_tri)`. Input must be a
    * canonical edge list from [[canonicalEdges]].
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Contribution form (round 14): each closed edge (lo, hi, ws)
    // already KNOWS every triangle it bases — |ws| for lo and hi, one
    // per apex w — so the counts need neither the (a, b, c) rows nor
    // the 3-way union the triangle listing pays (3T shuffled rows +
    // an array_sort per triangle became 2m + T rows and no per-
    // triangle allocation; T = 1.88M at sf0.1).
    closuresOfPinned(edges.localCheckpoint(true))
      .select(explode(concat(
        array(
          struct(col("lo").as("node"), size(col("ws")).cast("long").as("n")),
          struct(col("hi").as("node"), size(col("ws")).cast("long").as("n"))),
        transform(col("ws"), w => struct(w.as("node"), lit(1L).as("n"))))).as("c"))
      .select(col("c.node").as("node"), col("c.n").as("n"))
      .groupBy("node").agg(sum(col("n")).as("n_tri"))
  }

  /** All triangles, each ONCE, as (a, b, c) with a < b < c by node id.
    * Input: canonical edges.
    *
    * Formulation: the EDGE-ITERATOR over oriented sorted adjacency
    * arrays (still Schank & Wagner's (deg, id) orientation, so the
    * same O(m^1.5) work bound) — each low-rank node's out-neighbors
    * are packed ONCE into an array, and a triangle is an oriented edge
    * (lo, hi) plus a node in N⁺(lo) ∩ N⁺(hi). This replaces the
    * wedge-generation self-join + wedge⋈edge verify (which shuffled
    * Σd⁺² ≈ m^1.5 three-column ROWS across two exchanges) with ONE
    * m-row join whose payload is the packed arrays: the bytes moved
    * are the same order, but Spark shuffle cost is row-dominated
    * (per-row serialize + hash/sort), and the intersection itself runs
    * in-memory per edge instead of as a shuffled join probe. The array
    * side is bounded: orientation caps every out-neighbor array at
    * √(2m) entries (only nodes ranked above can be out-neighbors, and
    * at most √(2m) nodes have degree ≥ √(2m)).
    *
    * Exchange inventory: degree agg, two degree-attach joins, the
    * adjacency agg (keyed on lo), and the pairs⋈adjacency join — whose
    * RIGHT side reuses the adjacency agg's own hash(node) partitioning
    * (node == hi join key), so only the exploded pairs move. A skewed
    * high-rank hub (large IN-degree under orientation) is a plain
    * equi-join key, splittable by AQE skew handling.
    *
    * The edge list is referenced THREE times (degrees twice, the
    * orientation join), so it is localCheckpoint'ed eagerly on entry —
    * without that, a derived edge list (a distinct over a
    * pair-enumeration join) would replay its whole upstream per
    * reference. The pinned artifact is #edges rows, the bounded thing.
    */
  def triangles(edges: DataFrame): DataFrame =
    trianglesOfPinned(edges.localCheckpoint(true))

  /** [[triangles]] body over an ALREADY-PINNED edge frame — iterative
    * callers ([[kTruss]]) pin per generation themselves and must not
    * pay (or leak) a second eager checkpoint per round.
    */
  private def trianglesOfPinned(e0: DataFrame): DataFrame =
    // apex relates to (hi, w) by RANK, not id — re-sort the node ids
    // for the (a < b < c) contract.
    closuresOfPinned(e0)
      .select(col("lo"), col("hi"), explode(col("ws")).as("w"))
      .select(array_sort(array(col("lo"), col("hi"), col("w"))).as("s"))
      .select(element_at(col("s"), 1).as("a"), element_at(col("s"), 2).as("b"),
        element_at(col("s"), 3).as("c"))

  /** Per ORIENTED edge, its triangle apexes: (lo, hi, ws) with
    * ws = N⁺(lo) ∩ N⁺(hi), edges closing nothing dropped. The shared
    * core of [[triangles]], [[triangleCounts]] and [[kTruss]]'s
    * support pass.
    */
  private def closuresOfPinned(e0: DataFrame): DataFrame = {
    // total order (deg, id): rank nodes so orientation bounds out-degree
    val deg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge low-rank -> high-rank
    val e = e0
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("hi"))
    // per low-rank node: packed sorted out-neighbor array (≤ √(2m) long)
    val adj = e.groupBy(col("lo").as("node"))
      .agg(sort_array(collect_list(col("hi"))).as("nbrs"))
    // re-derive the oriented edges from the adjacency itself (no second
    // edge-frame reference): each (lo, hi) carries N⁺(lo) for free
    val pairs = adj.select(col("node").as("lo"), col("nbrs").as("lo_nbrs"),
      explode(col("nbrs")).as("hi"))
    // close: w ∈ N⁺(lo) ∩ N⁺(hi) — hi's rank exceeds lo's, so hi's array
    // is also bounded; edges whose hi has NO out-edges close nothing
    // (inner join drops them).
    // the intersection is the per-edge hot loop: the adjacency arrays
    // are sorted and duplicate-free by construction, so long-typed
    // graphs take the primitive merge kernel (SortedIntersect) instead
    // of array_intersect's per-row hash set (round 14); other id types
    // keep the builtin
    val intersect: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column =
      if (e0.schema("u").dataType == org.apache.spark.sql.types.LongType)
        graft.functions.SortedIntersect.of
      else array_intersect
    pairs.join(adj.select(col("node").as("hi"), col("nbrs").as("hi_nbrs")), Seq("hi"))
      .select(col("lo"), col("hi"),
        intersect(col("lo_nbrs"), col("hi_nbrs")).as("ws"))
      .filter(size(col("ws")) > 0)
  }

  /** Bounded-hop BFS shortest distances from a seed set over the
    * canonical undirected edge list: (node, dist) for every node
    * within `maxHops` of any seed — the reachability/impact query
    * ("what does this recalled part touch within 3 links").
    *
    * Algorithm: `maxHops` rounds of frontier relaxation — extend every
    * settled node by one edge, keep the per-node MIN. Each round is
    * one keyed join + one grouped min (both map-side-combinable);
    * total work is O(edges × hops) worst-case, and because distances
    * only ever shrink, the fixpoint needs no convergence test — the
    * hop bound IS the contract (unlike kCore's peel, an early fixpoint
    * just makes later rounds no-ops). Seeds not present in the edge
    * list still report dist 0 (they are trivially reachable from
    * themselves).
    *
    * Lineage policy = [[PageRank]]'s, with a TIGHTER default interval:
    * a round references the dist frame TWICE (relax join + min union),
    * so a fused plan doubles per round — `ReusedExchange` still
    * evaluates the shared subtree once, but past 2 fused rounds the
    * plan-tree blowup costs more in planning than the blocking
    * materialization saves. kCore keeps per-round pins: its
    * convergence READ forces a materialization anyway.
    */
  /** k-truss (Cohen 2008): the maximal subgraph in which every EDGE
    * participates in ≥ k−2 triangles. One rung of cohesion above
    * [[kCore]] (a k-truss is always inside the (k−1)-core): degree can
    * be inflated by a star — a spam hub touches thousands of nodes but
    * shares almost no triangles with them — while triangle support
    * cannot, which is why truss decomposition is the standard
    * community-backbone / spam-edge filter. Returns the surviving
    * canonical edges with their within-truss support
    * `(u, v, support)`.
    *
    * Algorithm: iterative EDGE peeling — per-edge support from the
    * [[triangles]] edge-iterator (O(m^1.5) per round, never all-pairs),
    * drop edges with support < k−2, repeat to fixpoint. The kCore
    * lineage discipline applies: lazy per-round checkpoints
    * materialized by the one convergence count, superseded generations
    * freed, and a LOUD throw past `maxIters` (a partial peel would
    * overstate the truss). Rounds needed = peel depth; the DuckDB
    * oracle unrolls the same fixed round budget, so converged rounds
    * re-emit unchanged on both sides.
    */
  def kTruss(edges: DataFrame, k: Int, maxIters: Int = 20): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(maxIters >= 1)
    Pins.scope { p =>
      val e0 = p.pin(edges.select(col("u"), col("v")), true)
      var curCount = e0.count()
      // ── round 1: ONE full O(m^1.5) closure pass materializes the
      // TRIANGLE LIST — each triangle once, stored as its three CANONICAL
      // EDGES in six primitive columns (no arrays, no per-triangle sort;
      // fully codegen). Incremental peel (round 15): rounds 2+ used to
      // recompute closuresOfPinned on the survivor set from scratch —
      // degree agg, two orientation joins, adjacency collect, per-edge
      // intersection, O(m·√m) EVERY round. Peeling only ever REMOVES
      // edges, so the survivor graph's triangles are exactly the kept
      // triangles minus those touching a removed edge: three anti-joins
      // against the (small) removed-edge set + one 3-edge explode-sum
      // replace the whole closure pass per round (guide §1.2: fix the
      // distributed algorithm; §2.3: shuffle T 6-column rows instead of
      // re-deriving them). The pinned list is O(T) — the same order the
      // per-round recompute materialized transiently anyway.
      var tris = p.pin(closuresOfPinned(e0)
        .select(col("lo"), col("hi"), explode(col("ws")).as("w"))
        .select(
          least(col("lo"), col("hi")).as("e1u"),
          greatest(col("lo"), col("hi")).as("e1v"),
          least(col("lo"), col("w")).as("e2u"),
          greatest(col("lo"), col("w")).as("e2v"),
          least(col("hi"), col("w")).as("e3u"),
          greatest(col("hi"), col("w")).as("e3v")), false)
      // per-edge support = how many listed triangles carry the edge in
      // any of the three slots. Triangle-free edges never appear — they
      // peel with the under-supported ones (support 0 < k−2 for k ≥ 3).
      def supportOf(t: DataFrame): DataFrame =
        t.select(explode(array(
            struct(col("e1u").as("u"), col("e1v").as("v")),
            struct(col("e2u").as("u"), col("e2v").as("v")),
            struct(col("e3u").as("u"), col("e3v").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
      var sup = p.pin(supportOf(tris), false)
      // the one action per round: materializes the chained lazy pins and
      // reads the survivor count (the monotone convergence invariant)
      var nextCount = sup.filter(col("support") >= k - 2).count()
      p.release(e0) // the triangle list supersedes it
      var iter = 1
      var done = nextCount == curCount
      while (!done && iter < maxIters) {
        curCount = nextCount
        // this round's peel set: under-supported edges of the current
        // graph (zero-support edges are in NO kept triangle, so they
        // vanish from sup without needing triangle removal)
        val removed = sup.filter(col("support") < k - 2)
          .select(col("u"), col("v"))
        // a triangle dies iff ANY of its three edges peeled — three
        // anti-joins against the removed set (small per round; AQE
        // broadcasts it), preserving each survivor exactly once
        val trisNext = p.pin(tris
          .join(removed.withColumnRenamed("u", "e1u")
            .withColumnRenamed("v", "e1v"), Seq("e1u", "e1v"), "left_anti")
          .join(removed.withColumnRenamed("u", "e2u")
            .withColumnRenamed("v", "e2v"), Seq("e2u", "e2v"), "left_anti")
          .join(removed.withColumnRenamed("u", "e3u")
            .withColumnRenamed("v", "e3v"), Seq("e3u", "e3v"), "left_anti"), false)
        val supNext = p.pin(supportOf(trisNext), false)
        nextCount = supNext.filter(col("support") >= k - 2).count()
        done = nextCount == curCount
        p.release(tris)
        p.release(sup)
        tris = trisNext
        sup = supNext
        iter += 1
      }
      if (!done)
        throw new IllegalStateException(
          s"Graphs.kTruss did not reach a fixpoint in $maxIters rounds — " +
            "adversarially deep edge peel; raise maxIters (a partial peel " +
            "would overstate the truss)")
      // at the fixpoint the support table was computed on exactly the
      // surviving edge set, so the filter IS the truss with its
      // within-truss supports. Eagerly checkpoint the result, so the
      // scope frees the loop pins (the GraphSearch discipline): library
      // callers outside Bench would otherwise leak pinned block sets per call.
      sup.filter(col("support") >= k - 2)
        .select(col("u"), col("v"), col("support"))
        .localCheckpoint(true)
    }
  }

  def bfsDistances(edges: DataFrame, seeds: DataFrame,
                   maxHops: Int, checkpointInterval: Int = 2): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30, s"maxHops in [1,30], got $maxHops")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    // pin the edge list, derive the adjacency lazily from the pin (the
    // labelPropagation rationale; a caller-side pinned edge frame makes
    // this a cheap re-pin of the final rows)
    Pins.scope { p =>
      val e0 = p.pin(edges, true)
      val adj = e0.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e0.select(col("v").as("node"), col("u").as("nbr")))
      var dist = p.pin(seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)), true)
      for (i <- 1 to maxHops) {
        val ext = dist.join(adj, Seq("node"))
          .select(col("nbr").as("node"), (col("dist") + 1L).as("dist"))
        val next = dist.unionAll(ext)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        dist = if (i < maxHops && i % checkpointInterval == 0) {
          val cut = p.pin(next, true)
          p.release(dist) // the previous cut
          cut
        } else next
      }
      dist
    }
  }
}

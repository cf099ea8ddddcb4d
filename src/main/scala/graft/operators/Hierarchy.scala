package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pins

/** Hierarchy flattening: transitive closure of a parent-child edge set.
  *
  * The reference maintains a multi-level group tree (ParentGroups packed
  * lists, EcomSourceReader.cs:348; UpdateGroupRelations,
  * EcomDestinationWriter.cs:4495) and its relation table effectively
  * stores ancestor links. Spark-native closure: ITERATIVE DOUBLING —
  * each round joins the known path set with itself, so reachable path
  * length doubles per round and a depth-D tree closes in ⌈log₂ D⌉
  * self-joins instead of D BFS rounds (at 100 TB each round is one
  * keyed shuffle; log rounds beat linear rounds by the same factor).
  *
  * Returns (child, ancestor, depth): depth = edge count along the
  * (unique, in a tree) path; on a DAG the MINIMUM depth per pair is
  * kept. `maxDepth` bounds the iteration against cycles.
  */
object Hierarchy {

  /** Closure with a caller-PINNED depth bound: exactly ⌈log₂ d⌉ doubling
    * joins, NO per-round convergence stats and NO trailing check round —
    * zero driver actions, the whole closure pipelines into the consumer.
    * The pin is a contract: paths longer than `knownDepth` edges are NOT
    * found (a star schema's category tree has a schema-fixed depth; use
    * [[closure]] when the depth is data-dependent) — a mis-pinned depth
    * would otherwise ship a silently PARTIAL closure. `verify = true`
    * buys insurance against that: one extra doubling round plus one
    * count action asserting it finds no new pair (throws if the data
    * outgrew the pin). The default stays action-free; callers own
    * revalidating the pin when schema depth can change, or pay the one
    * verify action when it can.
    */
  def closureKnownDepth(edges: DataFrame, childCol: String, parentCol: String,
                        knownDepth: Int, verify: Boolean = false): DataFrame = {
    require(knownDepth >= 1, "knownDepth must be >= 1")
    var paths = edges.select(col(childCol).cast("long").as("child"),
      col(parentCol).cast("long").as("ancestor"))
      .filter(col("child") =!= col("ancestor"))
      .withColumn("depth", lit(1))
    var reach = 1
    while (reach < knownDepth) {
      val hops = paths.select(col("ancestor").as("__mid"), col("child"),
          col("depth").as("__d1"))
        .join(paths.select(col("child").as("__mid"), col("ancestor"),
          col("depth").as("__d2")), Seq("__mid"))
        .select(col("child"), col("ancestor"), (col("__d1") + col("__d2")).as("depth"))
      paths = paths.unionByName(hops)
        .groupBy(col("child"), col("ancestor"))
        .agg(min(col("depth")).as("depth"))
        .localCheckpoint(false)
      reach *= 2
    }
    if (verify) {
      // one extra doubling round, anti-joined back: any pair it finds
      // that the pinned closure missed means the data outgrew the pin
      val extra = paths.select(col("ancestor").as("__mid"), col("child"))
        .join(paths.select(col("child").as("__mid"), col("ancestor")), Seq("__mid"))
        .select(col("child"), col("ancestor"))
        .join(paths.select(col("child"), col("ancestor")),
          Seq("child", "ancestor"), "left_anti")
        .count()
      if (extra > 0) throw new IllegalStateException(
        s"closureKnownDepth(knownDepth=$knownDepth): data depth exceeds the pin — " +
          s"$extra reachable pairs lie beyond $knownDepth edges; " +
          "raise knownDepth or use closure() for data-dependent depth")
    }
    paths
  }

  def closure(edges: DataFrame, childCol: String, parentCol: String,
              maxDepth: Int = 64): DataFrame =
    Pins.scope(closureIn(_, edges, childCol, parentCol, maxDepth))

  private def closureIn(p: Pins, edges: DataFrame, childCol: String,
                        parentCol: String, maxDepth: Int): DataFrame = {
    // localCheckpoint per round, NOT persist: the doubling recurrence
    // would otherwise embed every prior round's plan inside the next
    // (lineage doubles per round), and Catalyst re-analysis comes to
    // dominate wall-clock after a few rounds. Checkpointing keeps each
    // round's plan flat; the loop frees each superseded round, and the
    // scope frees the last one unless it is returned.
    var paths = p.pin(edges.select(col(childCol).cast("long").as("child"),
      col(parentCol).cast("long").as("ancestor"))
      .filter(col("child") =!= col("ancestor"))
      .withColumn("depth", lit(1)), true)
    // fixpoint = pair count AND total depth both stable (count alone
    // would miss a later-found SHORTER path to an existing pair on DAGs)
    var stats = {
      val r = paths.agg(count(lit(1)), sum(col("depth"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def round(): (DataFrame, (Long, Long)) = {
      val hops = paths.select(col("ancestor").as("__mid"), col("child"),
          col("depth").as("__d1"))
        .join(paths.select(col("child").as("__mid"), col("ancestor"),
          col("depth").as("__d2")), Seq("__mid"))
        .select(col("child"), col("ancestor"), (col("__d1") + col("__d2")).as("depth"))
      val next = p.pin(paths.unionByName(hops)
        .groupBy(col("child"), col("ancestor"))
        .agg(min(col("depth")).as("depth")), true)
      val r = next.agg(count(lit(1)), sum(col("depth"))).head
      (next, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    var reach = 1
    var converged = false
    while (reach < maxDepth && !converged) {
      val (next, nextStats) = round()
      if (nextStats == stats) {
        // converged: the freshly-built round duplicates `paths` — free it
        p.release(next)
        converged = true
      } else {
        // free the superseded round's checkpoint blocks eagerly (GC
        // would get there eventually; large closures shouldn't wait)
        p.release(paths)
        paths = next; stats = nextStats; reach *= 2
      }
    }
    if (!converged) {
      // the loop hit the bound while still growing: run ONE check round
      // to tell "fixpoint landed exactly on the bound" from truncation —
      // a silently partial closure would ship wrong rollups (the same
      // failure class Clusters.propagate throws on)
      val (check, checkStats) = round()
      p.release(check)
      if (checkStats != stats)
        throw new IllegalStateException(
          s"hierarchy closure did not converge within maxDepth=$maxDepth " +
            "(deeper tree or a cycle kept shortening paths) — raise " +
            "maxDepth, or break the cycle upstream")
    }
    paths
  }

  /** Roll a per-node measure up to every ancestor (each ancestor's total
    * over its full subtree, itself included).
    */
  def subtreeAgg(nodes: DataFrame, edges: DataFrame, idCol: String,
                 valueCol: String, childCol: String, parentCol: String,
                 as: String = "subtree_total", maxDepth: Int = 64,
                 knownDepth: Option[Int] = None): DataFrame = {
    knownDepth match {
      case Some(d) =>
        // pinned depth: the closure pipelines straight into the rollup —
        // no checkpoint actions, nothing to free
        val cl = closureKnownDepth(edges, childCol, parentCol, d)
        subtreeAggOver(cl, nodes, idCol, valueCol, as)
      case None => Pins.scope { p =>
        val cl = closureIn(p, edges, childCol, parentCol, maxDepth)
        val out = subtreeAggOver(cl, nodes, idCol, valueCol, as).persist()
        out.count() // materialize BEFORE the scope frees the closure it reads
        out
      }
    }
  }

  private def subtreeAggOver(cl: DataFrame, nodes: DataFrame, idCol: String,
                             valueCol: String, as: String): DataFrame = {
    val contrib = nodes.select(col(idCol).cast("long").as("node"),
      col(valueCol).as("__v"))
    val descendants = cl.select(col("ancestor").as("node"), col("child").as("member"))
      .unionByName(contrib.select(col("node"), col("node").as("member")))
    descendants
      .join(contrib.select(col("node").as("member"), col("__v")), Seq("member"))
      .groupBy(col("node"))
      .agg(sum(col("__v")).as(as))
  }
}

package graft

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** The one way an operator pins and releases a frame:
  * {{{
  * Pins.scope { p =>
  *   val sorted = p.pin(df.repartitionByRange(...), true)
  *   ... // read `sorted` as often as needed
  *   result.localCheckpoint(true) // or persist() + an action
  * }
  * }}}
  * A pin is a `localCheckpoint`: it cuts lineage (iterative rounds keep
  * flat plans) and stores the rows in the block manager. Its blocks are
  * NOT released by `Dataset.unpersist`, which only clears CacheManager
  * entries, so an operator that pins per round must free superseded
  * rounds itself or they pile up in executor storage until driver GC.
  *
  * The scope frees every pin taken through `p` when `body` exits,
  * whether it returns or throws — except the pins that a returned frame
  * still reads (its plan after cache substitution). Those back the
  * caller's result, so a loop that returns a lazy frame over its last
  * round (kCore, label propagation, PageRank) hands that round to the
  * caller, as it did before. A frame that must outlive its pins is
  * materialized before the scope exits: by an eager pin of its own, or
  * by `persist()` plus an action.
  *
  * `p.release(df)` frees the newest pin `df` reads now: `df` itself
  * when it is a pin (a superseded round, or a pin a callee returned),
  * else the round a lazy frame was last cut at. Only pins of this scope
  * count in the second case, so a caller's pinned input is never freed.
  * Release a pin only when nothing will read it again. A LAZY pin is
  * the sharp case: its blocks fill during the first action that reads
  * it, and later readers expect them there, so freeing it while a later
  * round still reads it raises `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`
  * (measured in GraphSearch, whose query-sized lazy round pins are
  * therefore all held to scope exit).
  */
final class Pins private {
  private val held = mutable.ArrayBuffer.empty[RDD[_]]

  /** `df.localCheckpoint(eager)`, freed when the scope exits. */
  def pin(df: DataFrame, eager: Boolean): DataFrame = {
    val pinned = df.localCheckpoint(eager)
    held ++= Pins.rddsOf(pinned.queryExecution.analyzed)
    pinned
  }

  /** Free the newest pin `df` reads (see the class doc). */
  def release(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    val own = Pins.rddsOf(plan).filter(held.contains)
    val self = plan match { case r: LogicalRDD => Seq(r.rdd); case _ => Nil }
    (own ++ self).maxByOption(_.id).foreach { rdd => held -= rdd; rdd.unpersist(blocking = false) }
  }
}

object Pins {
  def scope[T](body: Pins => T): T = {
    val p = new Pins
    var kept = Set.empty[RDD[_]]
    try {
      val out = body(p)
      out match { case d: Dataset[_] => kept = rddsOf(d.queryExecution.withCachedData).toSet; case _ => }
      out
    } finally p.held.filterNot(kept).foreach(_.unpersist(blocking = false))
  }

  private def rddsOf(plan: LogicalPlan): Seq[RDD[_]] =
    plan.collect { case r: LogicalRDD => r.rdd }
}

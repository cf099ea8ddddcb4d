package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequential surrogate-id assignment for keyless incoming rows.
  *
  * The reference allocates ids by reading the current max from the id
  * tables and incrementing a driver-side counter per new row
  * (EcomDestinationWriter.cs:657 `GetLastId`, PRODx/GROUPx counters).
  * A driver counter is a scale bottleneck; the Spark-native contract is
  * `maxExisting + dense sequence under a deterministic total order`.
  *
  * Implementation: range-repartition + in-partition sort on the order
  * key, then dense ids from per-partition offsets — pass 1 collects
  * (count, base) per partition (numPartitions tuples on the driver, not
  * data), pass 2 adds `offset[pid] + local index` by broadcast-joining
  * the tiny (pid, offset, base) table on `spark_partition_id` (an O(1)
  * hash probe per row) against `monotonically_increasing_id`
  * (which counts sequentially within each partition). No
  * `rdd.zipWithIndex` Row round-trip out of Tungsten, and no
  * single-partition window (`row_number() OVER (ORDER BY ...)` would
  * funnel 100 TB through one task).
  *
  * DETERMINISM: the sorted frame is EAGERLY local-checkpointed before
  * pass 1 and the result is materialized (localCheckpoint) before the
  * input's blocks are freed, so both passes read the SAME range
  * exchange. A checkpoint, not a persist: cached blocks lost under
  * memory pressure silently RECOMPUTE — re-executing
  * `repartitionByRange`, whose boundary sampling is seeded per physical
  * RDD, so boundary rows could land in different partitions between the
  * stats pass and the id pass, silently duplicating/skipping ids. A
  * checkpoint truncates lineage: a lost block fails the job loudly
  * instead.
  *
  * `orderBy` must be a total order (dense ids follow it exactly).
  */
object SurrogateKeys {

  def assign(df: DataFrame, orderBy: Seq[Column], idCol: String,
             startAt: Long = 1L): DataFrame = graft.Pins.scope { p =>
    val sorted = p.pin(df.repartitionByRange(orderBy: _*).sortWithinPartitions(orderBy: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id()),
      true) // eager + lineage-truncating: see DETERMINISM
    val stats = sorted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("cnt"), min(col("__mid")).as("base"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (stats.isEmpty) df.withColumn(idCol, lit(startAt))
    else {
      val offsets = stats.scanLeft(0L)(_ + _._2).init
      // per-partition (offset, base) as a BROADCAST-joined side table: a
      // map LITERAL (element_at(typedlit(...), pid)) is a linear scan
      // per lookup — O(numPartitions) comparisons per ROW, and the
      // P-entry literal is embedded in every task's plan; the broadcast
      // hash join is an O(1) probe and ships the table once
      import sorted.sparkSession.implicits._
      val adjust = stats.zip(offsets)
        .map { case ((pid, _, base), off) => (pid, off, base) }
        .toSeq.toDF("__pid", "__off", "__base")
      sorted
        .join(broadcast(adjust), Seq("__pid"))
        .withColumn(idCol,
          lit(startAt) + col("__off") + (col("__mid") - col("__base")))
        .drop("__pid", "__mid", "__off", "__base")
        // materialize from the pinned checkpoint BEFORE the scope frees
        // it — a lazy result would have nothing to read once it is gone
        .localCheckpoint(true)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, IncrementalJoin}

/** Streaming materialized-join maintenance — the stream twin of
  * [[graft.operators.IncrementalJoin]]: a CDC feed on the fact side
  * keeps a parquet-backed `fact ⨝ dim` view current, micro-batch by
  * micro-batch, without ever recomputing the join or rewriting the
  * whole state.
  *
  * State layout IS the cost bound: the materialized view is partitioned
  * by `pmod(xxhash64(fact id), nBuckets)` — immutable per id, so a
  * change only ever touches its id's bucket. Per batch:
  * last-write-wins collapse of the feed, replacement rows = final
  * inserts ⨝ dim (delta-sized left side), and ONLY the dirty buckets
  * are read (partition-pruned), anti-joined against the delta's ids
  * (broadcast — state never shuffles), and swapped back via dynamic
  * partition overwrite. Untouched buckets' files are never opened.
  *
  * Dim-side changes are out of scope here by design (a dimension update
  * invalidates pairs found only via the reverse index): run the batch
  * [[IncrementalJoin.maintain]] for two-sided deltas.
  */
class StreamingJoin(statePath: String, joinKeys: Seq[String], aIdCol: String,
                    opCol: String = "op", deleteOp: String = "D",
                    nBuckets: Int = 64) extends Serializable {

  private val BucketCol = "__jbucket"

  private def bucketOf(c: Column): Column = pmod(xxhash64(c), lit(nBuckets.toLong))

  /** One micro-batch (also directly callable for batch backfill).
    * `order` ranks versions of one id within the batch, WINNER FIRST
    * (e.g. `Seq(col("ts").desc)`); the winning op decides the id's fate.
    */
  def processBatch(delta: DataFrame, dim: DataFrame, order: Seq[Column]): Unit = {
    if (delta.isEmpty) return
    val spark = delta.sparkSession
    val last = Dedup.keepFirst(delta, Seq(aIdCol), order)
    val dirtyIds = last.select(col(aIdCol)).distinct()
    val inserts = last.filter(col(opCol) =!= deleteOp).drop(opCol)
    val fresh = IncrementalJoin.joinOf(inserts, dim, joinKeys)
      .withColumn(BucketCol, bucketOf(col(aIdCol)))
    // fresh rows' buckets ⊆ dirty buckets (bucket is a function of the
    // id), so the dirty set is exactly the rewrite set
    val dirtyBuckets = dirtyIds.select(bucketOf(col(aIdCol)).as(BucketCol))
      .distinct().collect().map(_.get(0))
    val out =
      if (StreamingImport.pathExists(delta, statePath) && dirtyBuckets.nonEmpty) {
        // explicit schema pins the bucket column's LONG type against
        // directory-name re-inference (int), which would break the union
        val state = spark.read.schema(fresh.schema).parquet(statePath)
          .filter(col(BucketCol).isin(dirtyBuckets: _*))
        state.join(broadcast(dirtyIds), Seq(aIdCol), "left_anti")
          .select(fresh.columns.map(col): _*)
          .unionByName(fresh)
      } else fresh
    graft.Pins.scope { p =>
      val pinned = p.pin(out, true) // cut lineage: read+overwrite race
      pinned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol)
        .parquet(statePath)
      // dynamic overwrite only rewrites partitions PRESENT in the output:
      // a delete-only batch that empties a bucket (no survivors, no fresh
      // rows) writes nothing for it, and its dead rows would survive.
      // Drop those bucket dirs explicitly (idempotent under crash-replay:
      // reprocessing the batch re-derives the same empty set).
      val written = pinned.select(col(BucketCol)).distinct()
        .collect().map(_.get(0)).toSet
      val emptied = dirtyBuckets.filterNot(written)
      if (emptied.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(statePath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        emptied.foreach(b => fs.delete(
          new org.apache.hadoop.fs.Path(root, s"$BucketCol=$b"), true))
      }
    }
  }

  /** The maintained view, bucket column dropped. */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.parquet(statePath).drop(BucketCol)

  def start(stream: DataFrame, dim: DataFrame, order: Seq[Column],
            checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) => processBatch(batch, dim, order))
      .start()
}

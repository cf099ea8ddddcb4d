package graft.streaming

import java.io.ByteArrayInputStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter
import graft.operators.Dedup

/** Streaming incremental dedup — the stream twin of
  * [[graft.operators.Dedup.againstHistory]]: an append-only destination
  * that never receives a key twice, without re-scanning the destination
  * per batch.
  *
  * Per micro-batch: keep-first within the batch, gate against the
  * DRIVER-HELD bloom filter (misses append shuffle-free; hits pay one
  * column-pruned destination scan via semi-then-anti), append survivors,
  * and merge the batch's key bloom into the held filter.
  * `util.sketch.BloomFilter` is mergeable, so filter maintenance is
  * O(batch) — the destination is aggregated exactly once, at (re)start.
  *
  * Correctness invariant: the held bloom is a SUPERSET of destination
  * keys at every moment — the merge happens BEFORE the append, so a
  * failed append leaves phantom bloom entries (harmless: a needless
  * exact check) never missing ones (a duplicate). On restart the filter
  * rebuilds from the destination, which also absorbs a replayed batch
  * after a crash mid-append: the replay's rows are already in the
  * destination, so the gate drops them — append idempotence by
  * construction rather than by sink transaction.
  *
  * Sizing: `expectedItems` is the LIFETIME key cardinality of the
  * destination (1.2 GB of driver memory per 10⁹ keys at 1% — the same
  * budget class as the reference's driver-side key dictionaries, but
  * constant-size instead of per-key).
  */
class StreamingDedup(destPath: String, keys: Seq[String], order: Seq[Column],
                     expectedItems: Long, fpp: Double = 0.01) extends Serializable {

  @transient private var bloom: BloomFilter = _

  // destination probe through the Hadoop FS API — the destination is
  // HDFS/S3 in a real deployment, not the driver's local disk
  private def destExists(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(destPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def merge(bytes: Array[Byte]): Unit = if (bytes != null) {
    val b = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
    if (bloom == null) bloom = b else bloom.mergeInPlace(b)
  }

  /** One micro-batch (also directly callable for batch backfill). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (bloom == null && destExists(spark))
      merge(Dedup.buildKeyBloom(spark.read.parquet(destPath),
        keys, expectedItems, fpp))
    val inBatch = Dedup.keepFirst(batch, keys, order)
    val survivors = if (bloom == null) inBatch
      else Dedup.gateByBloom(inBatch, spark.read.parquet(destPath), keys, serialized)
    // materialize ONCE: the gate plan reads destPath lazily, and below we
    // both aggregate survivors (bloom) and append them to that same path —
    // pinning breaks the self-read-write and runs the gate a single time
    graft.Pins.scope { p =>
      val pinned = p.pin(survivors, true)
      // bloom ⊇ dest invariant: merge the batch's keys BEFORE appending
      merge(Dedup.buildKeyBloom(pinned, keys, expectedItems, fpp))
      pinned.write.mode("append").parquet(destPath)
    }
  }

  private def serialized: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }

  def start(stream: DataFrame, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id))
      .start()
}

package graft.streaming

import java.io.ByteArrayInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter
import graft.dedup.SpanDedup
import graft.operators.Dedup

/** Streaming span-level dedup — the stream twin of
  * [[graft.dedup.SpanDedup.dedupSpansAgainstHistory]]: a continuous
  * crawl whose every micro-batch is rewritten with all
  * previously-ever-seen spans removed (first-seen-forever), without
  * rescanning the registry per batch.
  *
  * Layout: cleaned docs land under `cleanedDir/batch=<id>`, the span
  * registry grows under `registryDir/batch=<id>` — both OVERWRITE
  * writes with the REGISTRY partition as the commit marker (written
  * last). Replay after a crash at ANY point re-derives the identical
  * batch: the registry read excludes the batch's own tag, so a
  * half-written attempt never feeds itself, and both writes are
  * overwrites (the IncrementalNearDup contract).
  *
  * The driver holds a mergeable bloom SUPERSET of the registry's spans
  * (rebuilt from the registry at (re)start, merged with each batch's
  * novel spans BEFORE the registry write — a crash in between leaves
  * phantom entries, which cost a needless exact check, never a wrong
  * result). Per batch the registry is touched only for bloom-hit spans,
  * column-pruned: O(batch + hits), never O(registry-age).
  */
class StreamingSpanDedup(cleanedDir: String, registryDir: String,
                         idCol: String, textCol: String, n: Int = 10,
                         expectedSpans: Long = 10000000L,
                         fpp: Double = 0.01) extends Serializable {

  @transient private var bloom: BloomFilter = _

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path); f.exists(p)
  }
  private def committed(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path + "/_SUCCESS"); f.exists(p)
  }

  private def mergeSpans(spans: DataFrame): Unit = {
    val bytes = Dedup.buildKeyBloom(spans, Seq("span"), expectedSpans, fpp)
    if (bytes != null) {
      val b = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
      if (bloom == null) bloom = b else { bloom.mergeInPlace(b); () }
    }
  }
  private def bloomBytes: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }

  /** COMMITTED registry partitions only (batch=* dirs bearing _SUCCESS),
    * optionally excluding one tag. Reading by explicit committed paths —
    * not partition discovery — means a crash during the very FIRST
    * registry write (dir with only _temporary: schema inference throws
    * on every replay, a stuck stream) and half-written partitions are
    * both simply invisible, instead of error or phantom input.
    */
  private def committedRegistryDirs(spark: SparkSession,
                                    excludeTag: Option[Long]): Seq[String] = {
    if (!pathExists(spark, registryDir)) return Nil
    val (f, p) = fs(spark, registryDir)
    f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => excludeTag.forall(t => st.getPath.getName != s"batch=$t"))
      .filter(st => f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.toString)
  }

  private def registrySpans(spark: SparkSession,
                            excludeTag: Option[Long]): DataFrame = {
    val dirs = committedRegistryDirs(spark, excludeTag)
    if (dirs.isEmpty) emptyRegistry(spark)
    else spark.read.parquet(dirs: _*).select(col("span"))
  }

  /** One micro-batch (directly callable for batch backfill). */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (bloom == null) mergeSpans(registrySpans(spark, None))
    if (committed(spark, s"$registryDir/batch=$batchId")) {
      // fully committed replay: nothing to write; the start-up rebuild
      // above already covers the bloom superset
      return
    }
    val (cleaned, newSpans) =
      if (bloom == null)
        SpanDedup.dedupSpansAgainstHistory(batch,
          emptyRegistry(spark), idCol, textCol, n, expectedSpans, fpp)
      else
        SpanDedup.dedupSpansGated(batch, registrySpans(spark, Some(batchId)),
          idCol, textCol, n, bloomBytes)
    // pin both: their lineage reads the registry files the writes below
    // mutate (the IncrementalNearDup recache hazard)
    graft.Pins.scope { p =>
      val cleanedPinned = p.pin(cleaned, true)
      val spansPinned = p.pin(newSpans, true)
      cleanedPinned.write.mode("overwrite")
        .parquet(s"$cleanedDir/batch=$batchId")
      // bloom ⊇ registry invariant: merge BEFORE the commit-marker write
      mergeSpans(spansPinned)
      spansPinned.write.mode("overwrite")
        .parquet(s"$registryDir/batch=$batchId")
    }
  }

  private def emptyRegistry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[String].toDF("span")
  }

  def start(stream: DataFrame, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}

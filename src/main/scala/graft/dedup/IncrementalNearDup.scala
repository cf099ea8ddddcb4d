package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter
import graft.Pins
import graft.functions.MinHash

/** Streaming twin of [[NearDup.minhashPairs]]: LSH index MAINTENANCE.
  *
  * A batch LSH run re-sketches the whole corpus; a growing corpus needs
  * the incremental contract instead — new documents are checked against
  * the PERSISTED signature/band index and appended to it, so each
  * micro-batch costs O(batch + touched buckets), never O(corpus). This
  * is the composition of the reference's continuous import cycle
  * (RunJob per schedule → here StreamingImport-style foreachBatch) with
  * the LSH dedup family.
  *
  * Index layout under `indexDir`:
  *   - `sigs`:  (id, sig, sset) — minhash signature + hashed shingle set
  *              per doc (the shingle set makes exact verification
  *              possible without re-reading document text)
  *   - `bands`: (id, band, bucket) — the LSH postings list
  * The streaming path writes each micro-batch under `batch=<id>`
  * subdirectories (parquet partition layout), which is what makes
  * replay IDEMPOTENT: a replayed batch overwrites its own partitions
  * and nothing else — see [[start]].
  *
  * Scale shape per batch: the batch's (band, bucket) key set is tiny and
  * broadcast — the index postings are semi-joined down to touched
  * buckets before any pair work, so the quadratic stage only ever sees
  * bucket-mates of new documents. The skip-known check is gated by a
  * DRIVER-HELD bloom over indexed ids (the StreamingDedup pattern): a
  * batch of novel ids skips the index scan entirely, so the per-batch
  * cost tracks the batch, not the corpus age; bloom hits pay one exact
  * column-pruned semi-join. The pair stream is EXACTLY what the
  * batch run would emit: new×new pairs within the batch plus new×old
  * pairs against the index — old×old pairs were emitted when their
  * younger member arrived (proven by the batch-equality spec).
  */
object IncrementalNearDup {

  /** Bloom sizing shared by the startup rebuild and per-batch merges —
    * mergeInPlace requires identical bit layouts. A corpus far beyond
    * `BloomItems` degrades the false-positive rate (more exact checks,
    * never wrong results).
    */
  private val BloomItems = 10000000L
  private val BloomFpp = 0.01

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    fs.exists(p)
  }

  /** A batch write is committed only once its `_SUCCESS` marker exists.
    * Directory existence is NOT enough: Spark's committer creates the
    * output directory at job setup, before any task commits — a crash
    * mid-write leaves the dir present but markerless, and treating that
    * as committed would silently skip the batch's pairs on replay.
    */
  private def committed(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
  }

  /** Process one batch of new documents: returns the verified pair set
    * involving at least one batch document, and appends the batch's
    * sketches to the index. Documents whose id is already indexed are
    * skipped (append-only corpus contract).
    *
    * `batchTag`: streaming replay guard — writes land under
    * `batch=<tag>` partition dirs with OVERWRITE, so re-running the same
    * tag is idempotent; the same-tag partitions are excluded from the
    * known-id/postings reads (a replayed batch must not see its own
    * half-written previous attempt). `None` = one-shot batch semantics
    * (plain appends, caller manages retries).
    *
    * `knownBloom`: optional superset bloom over indexed ids — novel-id
    * batches then skip the known-id index scan entirely.
    */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
                   indexDir: String, numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, threshold: Double = 0.8,
                   batchTag: Option[Long] = None,
                   knownBloom: Option[Array[Byte]] = None): DataFrame =
    Pins.scope(batchPairs(_, batch, idCol, textCol, indexDir, numHashes,
      bands, shingleLen, threshold, batchTag, knownBloom))

  /** [[processBatch]] with the returned pairs pinned through `out`, so
    * the streaming loop's scope frees them once they are written; the
    * batch sketches are freed when this call returns.
    */
  private def batchPairs(out: Pins, batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, numHashes: Int, bands: Int, shingleLen: Int, threshold: Double,
      batchTag: Option[Long], knownBloom: Option[Array[Byte]]): DataFrame = Pins.scope { p =>
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = batch.sparkSession
    val rows = numHashes / bands
    val indexExists = pathExists(spark, s"$indexDir/sigs")

    // partition-discovery reads add a `batch` column when the index was
    // written by the streaming path; normalize to the 3-column shape and
    // exclude this tag's own partitions (replay must not see itself)
    def readIndex(name: String, cols: Seq[String]): DataFrame = {
      val raw = spark.read.parquet(s"$indexDir/$name")
      val noSelf = (batchTag, raw.columns.contains("batch")) match {
        case (Some(tag), true) => raw.filter(col("batch") =!= tag)
        case _ => raw
      }
      noSelf.select(cols.map(col): _*)
    }

    val incoming = batch.select(col(idCol).as("id"), col(textCol).as("text"))
    val fresh = if (indexExists) {
      val knownIds = readIndex("sigs", Seq("id"))
      knownBloom match {
        case Some(bytes) =>
          // misses (novel ids) never touch the index; hits get the exact
          // anti-join, restricted to the suspicious ids
          graft.operators.Dedup.gateByBloom(incoming, knownIds, Seq("id"), bytes)
        case None => incoming.join(knownIds, Seq("id"), "left_anti")
      }
    } else incoming

    // localCheckpoint (eager), NOT persist: the batch sketches are later
    // APPENDED to the very files their lineage reads (the known-id
    // anti-join scans the index) — a cached-but-lineage-bearing plan
    // would be invalidated and silently recomputed against the
    // just-appended index (Spark recaches by path on write), turning
    // `fresh` empty. Cutting lineage makes the append unable to reach
    // back into the computation. The scope frees the blocks on return
    // (`verified` has its own pin and no lineage into sigsNew), so a
    // long-running stream does not pile one snapshot per batch into
    // executor storage.
    val sigsNew = p.pin(fresh.select(col("id"),
      MinHash.minhashSignature(col("text"), numHashes, shingleLen).as("sig"),
      NearDup.shingles(col("text"), shingleLen).as("sset")), true)
    val bandsNew = NearDup.bandBuckets(sigsNew, bands, rows).persist()

    val newNew = NearDup.bucketPairs(bandsNew, Seq("band", "bucket"))
    val cand = (if (indexExists) {
      val postings = readIndex("bands", Seq("id", "band", "bucket"))
      // broadcast the batch's bucket keys; the index is pruned to
      // touched buckets before any pair enumeration
      val touched = postings.join(
        broadcast(bandsNew.select("band", "bucket").distinct()),
        Seq("band", "bucket"), "left_semi")
      val newOld = bandsNew.select(col("band"), col("bucket"), col("id").as("id_new"))
        .join(touched.select(col("band"), col("bucket"), col("id").as("id_old")),
          Seq("band", "bucket"))
        .filter(col("id_new") =!= col("id_old"))
        .select(least(col("id_new"), col("id_old")).as("id_a"),
          greatest(col("id_new"), col("id_old")).as("id_b"))
      newNew.unionByName(newOld)
    } else newNew).dropDuplicates("id_a", "id_b").persist()

    // verification features: batch sketches + (for new×old pairs) the
    // index sketches of candidate ids only — semi-join prunes the read
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val allSigs = (if (indexExists)
      readIndex("sigs", Seq("id", "sig", "sset")).unionByName(sigsNew)
    else sigsNew.toDF())
      .join(candIds, Seq("id"), "left_semi")

    val featA = allSigs.select(col("id").as("id_a"),
      col("sig").as("sig_a"), col("sset").as("set_a"))
    val featB = allSigs.select(col("id").as("id_b"),
      col("sig").as("sig_b"), col("sset").as("set_b"))
    // materialized AND lineage-cut: the appends below touch the index
    // files this plan read, so a mere persist would be refreshed-by-path
    // into recomputing against the grown index (empty result)
    val verified = out.pin(cand.join(featA, Seq("id_a")).join(featB, Seq("id_b"))
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
          x => x)).cast("double") / numHashes, 4))
      .withColumn("jaccard", round(
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          greatest(size(array_union(col("set_a"), col("set_b"))), lit(1)).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard")), true)

    // index writes AFTER the pair computation read the index; with a
    // batchTag they overwrite this tag's own partitions (idempotent
    // replay), without one they append (one-shot batch contract)
    batchTag match {
      case Some(tag) =>
        sigsNew.write.mode("overwrite").parquet(s"$indexDir/sigs/batch=$tag")
        bandsNew.write.mode("overwrite").parquet(s"$indexDir/bands/batch=$tag")
      case None =>
        sigsNew.write.mode("append").parquet(s"$indexDir/sigs")
        bandsNew.write.mode("append").parquet(s"$indexDir/bands")
    }
    bandsNew.unpersist(); cand.unpersist()
    verified
  }

  /** Compact the append-only index: every micro-batch appends small
    * files to sigs/bands, so file count grows with batch count and the
    * per-batch pruned reads slow down over time. Rewrites both tables
    * into `targetFiles` files each (bands repartitioned BY bucket so
    * the postings for one bucket co-locate — the read pattern every
    * batch runs), dropping any `batch=` partition layout (the replay
    * guard only protects in-flight batches — compact a FULLY COMMITTED,
    * paused stream, as the swap below also requires). Atomic-enough for
    * a paused stream: rewrite to a temp dir, then swap.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetFiles: Int = 8): Unit = {
    def swapIn(name: String)(write: String => Unit): Unit = {
      val tmp = s"$indexDir/__compact_$name"
      write(tmp)
      // filesystem of the INDEX path, not the default FS — the index
      // lives on HDFS/S3 in a real deployment
      val (fs, live) = fsOf(spark, s"$indexDir/$name")
      fs.delete(live, true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), live)
    }
    swapIn("sigs") { tmp => Pins.scope { p =>
      p.pin(spark.read.parquet(s"$indexDir/sigs").select("id", "sig", "sset"), true)
        .repartition(targetFiles).write.parquet(tmp)
    } }
    swapIn("bands") { tmp => Pins.scope { p =>
      p.pin(spark.read.parquet(s"$indexDir/bands").select("id", "band", "bucket"), true)
        .repartition(targetFiles, col("band"), col("bucket")).write.parquet(tmp)
    } }
  }

  /** Continuous LSH maintenance: each micro-batch's verified pairs land
    * under `pairsDir/batch=<id>`, its sketches under the index's
    * `batch=<id>` partitions — every write is an overwrite of the
    * batch's OWN partitions, so foreachBatch's at-least-once replay is
    * idempotent at any crash point: the pairs partition is written LAST
    * and its `_SUCCESS` file doubles as the commit marker (a replay that
    * finds it skips the batch; a replay that doesn't re-derives
    * everything from the same-tag-excluded index reads — a markerless
    * dir from a mid-write crash counts as NOT committed, since the
    * committer creates the dir before any data lands). Readers of
    * `pairsDir` see an extra `batch` partition column.
    */
  def start(stream: DataFrame, idCol: String, textCol: String,
            indexDir: String, pairsDir: String, checkpoint: String,
            numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
            threshold: Double = 0.8): StreamingQuery = {
    // driver-held superset bloom over indexed ids (rebuilt once on
    // restart): novel-id batches skip the known-id index scan
    var bloom: BloomFilter = null
    def mergeIds(ids: DataFrame): Unit = {
      // BloomFilterAggregate over EMPTY input yields null — skip
      val bytes = graft.operators.Dedup.buildKeyBloom(ids, Seq("id"), BloomItems, BloomFpp)
      if (bytes != null) {
        val b = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        if (bloom == null) bloom = b else { bloom.mergeInPlace(b); () }
      }
    }
    def bloomBytes: Option[Array[Byte]] = Option(bloom).map { b =>
      val out = new java.io.ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (bloom == null && pathExists(spark, s"$indexDir/sigs"))
          mergeIds(spark.read.parquet(s"$indexDir/sigs").select("id"))
        if (committed(spark, s"$pairsDir/batch=$batchId")) {
          // replayed, fully committed batch: keep the bloom superset
          // invariant (its ids are in the index) and do nothing else
          mergeIds(batch.select(col(idCol).as("id")))
        } else {
          Pins.scope { p =>
            val pairs = batchPairs(p, batch, idCol, textCol, indexDir,
              numHashes, bands, shingleLen, threshold, Some(batchId), bloomBytes)
            // bloom ⊇ index invariant: merge BEFORE the commit-marker
            // write (a crash in between leaves phantom entries — harmless
            // extra exact checks, never wrong results)
            mergeIds(batch.select(col(idCol).as("id")))
            pairs.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
          }
        }
        ()
      }
      .start()
  }
}

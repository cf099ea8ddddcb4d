package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Pins
import graft.operators.{Drift, IncrementalAgg, Merge}

/** Continuous staged import: the reference's temp-table → merge cycle
  * (EcomProvider.RunJob per scheduled batch), re-expressed as a
  * Structured Streaming sink — every micro-batch upserts into the
  * destination via `foreachBatch` + [[Merge.upsert]]. Exactly-once per
  * batch comes from the checkpoint; the destination swap is
  * materialize-then-overwrite (a table format with ACID merge slots in
  * here unchanged).
  */
object StreamingImport {

  // destination probe through the Hadoop FS API — the destination is
  // HDFS/S3 in a real deployment, not the driver's local disk
  private[streaming] def pathExists(df: DataFrame, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).exists(p)
  }

  def start(stream: DataFrame, destPath: String, keys: Seq[String],
            checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) => upsertBatch(batch, destPath, keys))
      .start()

  /** One micro-batch merge (also directly callable for batch backfill).
    * NOTE: rewrites the whole destination — use [[upsertBatchPartitioned]]
    * for any destination big enough to partition (i.e., all of them at
    * scale); this unpartitioned form is only for small dimension tables.
    */
  def upsertBatch(batch: DataFrame, destPath: String, keys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val destExists = pathExists(batch, destPath)
    val merged = if (destExists)
      Merge.upsert(spark.read.parquet(destPath), batch, keys)
    else batch
    // cut lineage before overwriting the directory being read (the
    // eager pin materializes; cached-parquet re-read can't occur), and
    // free the destination-sized pin once it is written
    Pins.scope(_.pin(merged, true).write.mode("overwrite").parquet(destPath))
  }

  /** Partition-scoped micro-batch merge: cost O(touched partitions), not
    * O(|dest|). Only the partitions present in the batch are read
    * (partition-pruned scan), merged, and swapped (dynamic partition
    * overwrite) — a 100 TB destination with a day-partitioned layout
    * rewrites one day per batch, and untouched partitions' files are
    * never opened or replaced. The reference stages only incoming rows
    * per batch (CreateTempTables, EcomDestinationWriter.cs:234); this is
    * the partitioned-parquet equivalent (a table format with ACID MERGE
    * slots in unchanged).
    *
    * CONTRACT: `partCol` must be IMMUTABLE per key (the usual case —
    * ingest day, tenant, language). If a key can MOVE partitions (late
    * correction re-dating an event), the stale row in its old partition
    * is outside the pruned read and would survive as a duplicate — use
    * [[upsertBatchRelocating]] for that, which pays one column-pruned
    * key scan to find and rewrite stale partitions too.
    *
    * The destination is read with the batch's explicit schema so the
    * partition column keeps its declared type: inference from directory
    * names would silently turn a string partCol with numeric/date-shaped
    * values ('01', '2024-01-01') into int/date, breaking the merge
    * coalesce and re-materializing paths under different names. Because
    * the batch schema DRIVES the read, a batch missing destination
    * columns would silently rewrite touched partitions without them —
    * permanent data loss — so schema narrowing fails fast instead
    * ([[requireNoNarrowing]]).
    */
  def upsertBatchPartitioned(batch: DataFrame, destPath: String,
                             keys: Seq[String], partCol: String): Unit = {
    val spark = batch.sparkSession
    val destExists = pathExists(batch, destPath)
    // the batch's touched partition values: one distinct over a
    // micro-batch, bounded by the batch's partition spread — driver-safe
    val touched = batch.select(partCol).distinct().collect().map(_.get(0))
    val merged = if (destExists && touched.nonEmpty) {
      requireNoNarrowing(batch, destPath)
      val dest = spark.read.schema(batch.schema).parquet(destPath)
        .filter(col(partCol).isin(touched: _*)) // prunes to touched dirs
      Merge.upsert(dest, batch, keys)
    } else batch
    Pins.scope(_.pin(merged, true).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(destPath))
  }

  /** Fail fast if the batch schema NARROWS the destination: the pruned
    * read uses the batch's schema (to pin partCol's type against
    * directory-name re-inference), so any destination column absent from
    * the batch would vanish from every rewritten partition. One footer
    * read per micro-batch — negligible next to the partition rewrite.
    */
  private def requireNoNarrowing(batch: DataFrame, destPath: String): Unit = {
    val destCols = batch.sparkSession.read.parquet(destPath).schema.map(_.name)
    val have = batch.columns.map(_.toLowerCase).toSet
    val missing = destCols.filterNot(c => have.contains(c.toLowerCase))
    require(missing.isEmpty,
      s"batch schema is missing destination columns ${missing.mkString(", ")} — " +
        "rewriting touched partitions would drop them permanently; align the " +
        "batch projection with the destination (or migrate the destination first)")
  }

  /** Partition-change-safe variant of [[upsertBatchPartitioned]]: also
    * deletes stale copies of batch keys that live in OTHER partitions
    * (a late correction moving an event to a new day). Finds the stale
    * partitions with one column-pruned scan of (keys, partCol) over the
    * destination — cheap relative to data rewrite, and the only way to
    * learn where a moved key used to live without a key→partition index.
    * The rewrite set is still partition-scoped: touched ∪ stale-bearing
    * partitions, each swapped atomically by dynamic partition overwrite.
    */
  def upsertBatchRelocating(batch: DataFrame, destPath: String,
                            keys: Seq[String], partCol: String): Unit = {
    val spark = batch.sparkSession
    val destExists = pathExists(batch, destPath)
    val touched = batch.select(partCol).distinct().collect().map(_.get(0))
    Pins.scope { p =>
      val merged = if (destExists && touched.nonEmpty) {
        requireNoNarrowing(batch, destPath)
        val destAll = spark.read.schema(batch.schema).parquet(destPath)
        // partitions (outside the touched set) still holding a batch key:
        // column-pruned scan — parquet reads only key + partition columns
        val stale = destAll
          .filter(!col(partCol).isin(touched: _*))
          .join(batch.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .select(partCol).distinct().collect().map(_.get(0))
        val readSet = touched ++ stale
        val dest = destAll.filter(col(partCol).isin(readSet: _*))
        // within the read set: batch rows win; a dest row whose key is in
        // the batch but whose partition differs is the stale copy — drop it
        val cleaned = dest.join(
          batch.select((keys :+ partCol).map(col): _*).distinct()
            .withColumnRenamed(partCol, "__new_part"),
          keys, "left_outer")
          .filter(col("__new_part").isNull || col("__new_part") === col(partCol))
          .drop("__new_part")
        val merged = p.pin(Merge.upsert(cleaned, batch, keys), true)
        // a stale partition whose every row moved away produces NO output
        // rows, so dynamic overwrite would never replace it — drop the
        // now-empty partition directories explicitly (merged is already
        // materialized by the checkpoint, so the read is finished)
        val kept = merged.select(partCol).distinct().collect().map(_.get(0)).toSet
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        stale.filterNot(kept).foreach { v =>
          // Spark's own partition-path escaping (NOT URL encoding — a
          // space stays a space in Hive layout, '+' would miss the dir)
          val escaped = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(String.valueOf(v))
          fs.delete(new org.apache.hadoop.fs.Path(destPath, s"$partCol=$escaped"), true)
        }
        merged
      } else p.pin(batch, true)
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(destPath)
    }
  }

  def startPartitioned(stream: DataFrame, destPath: String, keys: Seq[String],
                       partCol: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, _: Long) =>
        upsertBatchPartitioned(batch, destPath, keys, partCol))
      .start()

  /** Continuous drift monitoring config for [[startWithDrift]]: the
    * destination's `value` distribution over the FIXED buckets `bucket`
    * assigns, maintained as a bucket-count table at `countsPath`. Build
    * with [[DriftHook.numeric]] or [[DriftHook.categorical]] — same
    * dual as IncrementalSync.DriftSpec (both lower to plain grouped
    * counts, so one fold maintains either).
    */
  case class DriftHook(value: Column, bucket: Column, countsPath: String)

  object DriftHook {
    def numeric(value: Column, boundaries: Seq[Double],
                countsPath: String): DriftHook =
      DriftHook(value, Drift.bucketOf(value, boundaries), countsPath)

    def categorical(value: Column, categories: Seq[String],
                    countsPath: String,
                    otherLabel: String = "__OTHER__"): DriftHook =
      DriftHook(value, Drift.categoricalBucketOf(value, categories, otherLabel),
        countsPath)
  }

  /** Committed versions of the maintained counts: `v=<batchId>` dirs
    * under `countsPath` holding a `_SUCCESS` marker. Directory existence
    * alone is NOT a commit — Spark's committer creates the output dir at
    * job setup, so a crash mid-write leaves the dir with no marker; such
    * a partial version is invisible here and gets overwritten on replay.
    */
  private def committedCountVersions(spark: org.apache.spark.sql.SparkSession,
                                     countsPath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(countsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (!n.startsWith("v=")) None
        else scala.util.Try(n.stripPrefix("v=").toLong).toOption
          .filter(_ => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      }
  }

  private def dropCountVersions(spark: org.apache.spark.sql.SparkSession,
                                countsPath: String, versions: Seq[Long]): Unit = {
    val root = new org.apache.hadoop.fs.Path(countsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    versions.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"v=$v"), true))
  }

  /** The maintained drift counts — the LATEST COMMITTED version under
    * `countsPath` — or None if nothing has been folded yet (no batch
    * with a non-null monitored value has run). Score with
    * [[Drift.psiFromCounts]] at any time; never read `countsPath` raw
    * (it is a version store, not a flat table).
    */
  def readDriftCounts(spark: org.apache.spark.sql.SparkSession,
                      countsPath: String): Option[DataFrame] =
    committedCountVersions(spark, countsPath) match {
      case vs if vs.isEmpty => None
      case vs => Some(spark.read.parquet(s"$countsPath/v=${vs.max}"))
    }

  /** Fold one upsert micro-batch into the maintained bucket counts.
    *
    * The upsert's CDC view is derivable without any extra state: rows
    * the merge replaces are exactly the destination rows whose key is in
    * the batch (retract, "D"); every batch row inserts ("I"). Folding
    * that feed through [[IncrementalAgg.foldCdc]] keeps the counts equal
    * to a full rescan of the post-merge destination — the streaming twin
    * of IncrementalSync's drift artifact, state = nBuckets rows
    * regardless of stream length (StreamingImportSpec proves
    * cross-micro-batch counts == rescan, and PSI equality with the
    * batch path follows from [[Drift.psiFromCounts]] being a pure
    * function of the counts).
    *
    * Must run BEFORE the merge overwrites `destPath` (it reads the
    * pre-merge destination); the fold itself touches the batch and the
    * replaced keys only — the destination scan is a semi-join against
    * the batch's keys, column-pruned to keys + value.
    *
    * CRASH-SAFE AND IDEMPOTENT under foreachBatch's at-least-once
    * replay, at any crash point: each fold writes a NEW version
    * `countsPath/v=<batchId>` (never overwriting the live state in
    * place), whose `_SUCCESS` marker is the commit. The previous
    * committed version is untouched until the new one is fully
    * committed, so a crash mid-write loses nothing — the replay refolds
    * from the intact previous version over the half-written dir. A
    * replayed batch at or below the latest COMMITTED version is skipped
    * — without that guard, a crash in the window between the counts
    * commit and the destination write would fold the replayed batch
    * against the still-pre-merge destination a second time and corrupt
    * the counts permanently. Superseded versions are pruned after
    * commit; a crash before the prune leaves an extra old version that
    * the next pass (or replay) clears — reads always take the max.
    *
    * CONTRACT (same as [[Merge.upsert]]): batch keys are unique. A batch
    * carrying BOTH a null-valued and a non-null-valued row for one key
    * would make the merge emit two rows while the fold counts one.
    */
  private[graft] def foldDriftCounts(batch: DataFrame, destPath: String,
                                     keys: Seq[String], hook: DriftHook,
                                     batchId: Long): Unit = {
    val spark = batch.sparkSession
    val versions = committedCountVersions(spark, hook.countsPath)
    val applied = if (versions.isEmpty) -1L else versions.max
    // opportunistic prune: a crash after commit but before cleanup can
    // leave an older committed version behind — clear it on any pass
    dropCountVersions(spark, hook.countsPath, versions.filter(_ < applied))
    if (applied >= batchId) return // replayed batch: already folded
    val bucket = hook.bucket
    val ins = batch.filter(hook.value.isNotNull)
      .select(bucket.as("bucket"), lit("I").as("op"))
    val feed = if (pathExists(batch, destPath)) {
      // retract only keys the merge actually re-values: upsert coalesces
      // a null batch value back to the destination's, so a null-valued
      // batch row neither retracts nor inserts
      val revaluedKeys = batch.filter(hook.value.isNotNull)
        .select(keys.map(col): _*).distinct()
      val dels = spark.read.parquet(destPath)
        .join(revaluedKeys, keys, "left_semi")
        .filter(hook.value.isNotNull)
        .select(bucket.as("bucket"), lit("D").as("op"))
      dels.unionByName(ins)
    } else ins
    val state1 = if (applied >= 0)
      IncrementalAgg.foldCdc(
        spark.read.parquet(s"${hook.countsPath}/v=$applied"), feed,
        Seq("bucket"), lit(0), col("op"))
    else
      IncrementalAgg.init(feed.filter(col("op") === "I"), Seq("bucket"), lit(0))
    Pins.scope { p =>
      val mat = p.pin(state1, true)
      // a first feed with no non-null values folds to ZERO rows: don't
      // commit an empty initial version (readers would score an empty
      // frame); the next batch re-inits identically — null values never
      // count. An empty fold of a NON-empty state cannot occur (every
      // retract pairs with an insert, so the total never shrinks to zero).
      if (applied >= 0 || !mat.isEmpty) {
        mat.write.mode("overwrite").parquet(s"${hook.countsPath}/v=$batchId")
        dropCountVersions(spark, hook.countsPath, Seq(applied).filter(_ >= 0))
      }
    }
  }

  /** [[start]] plus continuous distribution monitoring: after every
    * micro-batch the maintained bucket counts at `hook.countsPath` equal
    * a rescan of the destination — score them against a frozen baseline
    * with [[Drift.psiFromCounts]] at any time, no destination scan.
    */
  def startWithDrift(stream: DataFrame, destPath: String, keys: Seq[String],
                     checkpoint: String, hook: DriftHook): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldDriftCounts(batch, destPath, keys, hook, batchId)
        upsertBatch(batch, destPath, keys)
      }
      .start()

  /** Continuous import with row-level error tolerance: each micro-batch
    * is split by `rowRules` (SkipFailingRows on a stream — the
    * [[graft.plans.Quarantine]] semantics), valid rows upsert into the
    * destination, failing rows append to `quarantinePath` with their
    * reason column so the feed keeps flowing while bad rows stay
    * inspectable.
    */
  def startWithQuarantine(stream: DataFrame, destPath: String, keys: Seq[String],
                          rowRules: Seq[(String, org.apache.spark.sql.Column)],
                          quarantinePath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (valid, bad) = graft.plans.Quarantine.split(batch, rowRules)
        upsertBatch(valid, destPath, keys)
        // batch-scoped OVERWRITE, not a blind append: the upsert is
        // replay-idempotent but an append would duplicate the batch's
        // quarantined rows on every foreachBatch replay. Readers of
        // quarantinePath see an extra `batch` partition column.
        bad.write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
        ()
      }
      .start()

  /** Continuous import with the strict-FK gate — FailOnMissingGroups on
    * a stream (EcomDestinationWriter.cs:4566 / EcomProvider.cs:1004):
    * each micro-batch first runs `resolve` (the FK lookup ladder —
    * broadcast business-key joins against reference tables), then rows
    * still NULL in the gated columns either FAIL THE QUERY
    * ([[graft.plans.ImportJob.FkFail]] — the thrown
    * [[graft.plans.ImportJob.FkViolationException]] carries the bounded
    * LogFailedRows-style sample, and a checkpoint restart re-fails
    * deterministically until the feed or the reference data is fixed —
    * the streaming analog of the reference's job abort) or divert to
    * `quarantinePath` with `unresolved:<col>` reasons
    * ([[graft.plans.ImportJob.FkQuarantine]]) while resolved rows
    * upsert. The fail arm reuses [[graft.plans.ImportJob.enforceFkFail]]
    * — one pinned materialization per batch serves gate scan + upsert;
    * the batch's scope frees the pin after the upsert commits, or when
    * the gate throws.
    */
  def startWithFkGate(stream: DataFrame, destPath: String, keys: Seq[String],
                      resolve: DataFrame => DataFrame,
                      gate: graft.plans.ImportJob.FkGate,
                      quarantinePath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val resolved = resolve(batch)
        gate.policy match {
          case graft.plans.ImportJob.FkQuarantine =>
            val (ok, bad) = graft.plans.Quarantine.split(resolved,
              gate.columns.map(c => s"unresolved:$c" -> col(c).isNotNull))
            upsertBatch(ok, destPath, keys)
            // batch-scoped OVERWRITE (replay-idempotent, like
            // startWithQuarantine — an append would duplicate on replay)
            bad.write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
          case graft.plans.ImportJob.FkFail =>
            // the abort message's "Failed at importing <table>" slot
            // wants a logical name, not a filesystem path
            Pins.scope { p =>
              upsertBatch(graft.plans.ImportJob.enforceFkFail(
                p, new java.io.File(destPath).getName, gate, resolved), destPath, keys)
            }
        }
        ()
      }
      .start()
}

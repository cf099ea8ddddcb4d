package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingImport

case class KV(id: Long, v: String)
case class KD(id: Long, v: Double)

class StreamingImportSpec extends SparkSuite {

  test("micro-batches upsert into the destination across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_simport")
    val dest = s"$dir/dest"
    val stream = MemoryStream[KV]
    val q = StreamingImport.start(stream.toDF(), dest, Seq("id"), s"$dir/ckpt")
    try {
      stream.addData(KV(1, "a"), KV(2, "b"))
      q.processAllAvailable()
      stream.addData(KV(2, "B2"), KV(3, "c"))
      q.processAllAvailable()
      val out = spark.read.parquet(dest).orderBy("id").as[KV].collect()
      assert(out === Array(KV(1, "a"), KV(2, "B2"), KV(3, "c")))
    } finally q.stop()
  }

  test("drift counts fold across micro-batches; PSI equals the batch path; state stays tiny") {
    import spark.implicits._
    import graft.operators.Drift
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_simport_drift")
    val dest = s"$dir/dest"
    val bounds = Seq(100.0, 200.0, 300.0)
    val hook = StreamingImport.DriftHook.numeric(
      org.apache.spark.sql.functions.col("v"), bounds, s"$dir/counts")
    val stream = MemoryStream[KD]
    val q = StreamingImport.startWithDrift(
      stream.toDF(), dest, Seq("id"), s"$dir/ckpt", hook)
    try {
      stream.addData((1 to 300).map(i => KD(i.toLong, (i % 400).toDouble)): _*)
      q.processAllAvailable()
      def counts() = StreamingImport.readDriftCounts(spark, hook.countsPath).get
      // freeze the baseline = the counts after the first sync
      val baseline = counts().collect()
      val snap1 = spark.read.parquet(dest).as[KD].collect().toSeq
      // re-value half the keys (upsert CDC: retract old, insert new),
      // insert fresh keys, then push a hot spike — three micro-batches
      stream.addData(((1 to 150).map(i => KD(i.toLong, (i % 400) * 3.0)) ++
        (301 to 400).map(i => KD(i.toLong, 50.0))): _*)
      q.processAllAvailable()
      stream.addData((100 to 200).map(i => KD(i.toLong, 999.0)): _*)
      q.processAllAvailable()

      // maintained counts == a rescan of the final destination
      val maintained = counts()
        .select($"bucket", $"n_rows").orderBy("bucket")
        .as[(Long, Long)].collect().toSeq
      val rescanned = Drift.bucketCounts(spark.read.parquet(dest), $"v", bounds)
        .orderBy("bucket").as[(Long, Long)].collect().toSeq
      assert(maintained === rescanned)
      // state is the bucket table, not the stream: ≤ nBuckets rows
      assert(maintained.size <= bounds.size + 1)

      // PSI from maintained counts == PSI from rescanning both snapshots
      def canon(d: org.apache.spark.sql.DataFrame) = d.orderBy("bucket")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val viaCounts = Drift.psiFromCounts(
        spark.createDataFrame(spark.sparkContext.parallelize(baseline.toSeq),
          counts().schema)
          .select($"bucket", $"n_rows".as("n_old")),
        counts()
          .select($"bucket", $"n_rows".as("n_new")), bounds.size + 1)
      val viaRescan = Drift.psi(snap1.toDF(), spark.read.parquet(dest), $"v", bounds)
      assert(canon(viaCounts) === canon(viaRescan))

      // and the SAME streaming-maintained counts serve quantiles with
      // zero destination rescans — identical to quantiles from a rescan
      val qs = Seq(2500, 5000, 9000)
      val qMaintained = Drift.quantilesFromCounts(
        counts().select($"bucket", $"n_rows".as("n")), bounds, qs)
        .orderBy("q_bp").as[(Int, Long, Double)].collect().toSeq
      val qRescan = Drift.quantilesFromCounts(
        Drift.bucketCounts(spark.read.parquet(dest), $"v", bounds, "n"),
        bounds, qs)
        .orderBy("q_bp").as[(Int, Long, Double)].collect().toSeq
      assert(qMaintained === qRescan && qMaintained.size === qs.size)
    } finally q.stop()
  }

  test("drift fold is idempotent under micro-batch replay (the crash-between-writes window)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport_replay")
    val dest = s"$dir/dest"
    val hook = StreamingImport.DriftHook.numeric(
      org.apache.spark.sql.functions.col("v"), Seq(100.0, 200.0), s"$dir/counts")
    // batch 0 fully committed
    val b0 = (1 to 200).map(i => (i.toLong, (i % 300).toDouble)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b0, dest, Seq("id"), hook, batchId = 0L)
    StreamingImport.upsertBatch(b0, dest, Seq("id"))
    // batch 1: counts written, then CRASH before the destination write —
    // foreachBatch replays batch 1 from the start
    val b1 = (1 to 100).map(i => (i.toLong, (i % 300) + 150.0)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b1, dest, Seq("id"), hook, batchId = 1L)
    def counts() = StreamingImport.readDriftCounts(spark, hook.countsPath).get
    val afterFirstFold = counts()
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    // replay: the fold must SKIP (batchId already applied), then the merge lands
    StreamingImport.foldDriftCounts(b1, dest, Seq("id"), hook, batchId = 1L)
    StreamingImport.upsertBatch(b1, dest, Seq("id"))
    val afterReplay = counts()
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(afterReplay === afterFirstFold)
    // and the invariant the guard protects: counts == destination rescan
    val rescanned = graft.operators.Drift.bucketCounts(
      spark.read.parquet(dest), $"v", Seq(100.0, 200.0))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(afterReplay === rescanned)

    // the window's OTHER exit: after the crash-skip-merge recovery, a
    // SUBSEQUENT batch with a different id arrives. Its retract feed
    // reads the destination that now INCLUDES batch 1's merge while the
    // committed counts version is still v=1 from before the crash — the
    // guard must let it fold (2 > 1), and the fold must land on the
    // rescan of the post-batch-2 destination, proving the recovered
    // state is not just internally consistent but FORWARD-consistent
    val b2 = (50 to 260).map(i => (i.toLong, (i % 300) + 40.0)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b2, dest, Seq("id"), hook, batchId = 2L)
    StreamingImport.upsertBatch(b2, dest, Seq("id"))
    val afterB2 = counts()
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    val rescan2 = graft.operators.Drift.bucketCounts(
      spark.read.parquet(dest), $"v", Seq(100.0, 200.0))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(afterB2 === rescan2)
    // only the newest version survives (v=1 pruned on the v=2 commit)
    assert(StreamingImport.readDriftCounts(spark, hook.countsPath).isDefined)
  }

  test("an all-null first batch neither crashes the fold nor commits an empty version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport_nullfirst")
    val dest = s"$dir/dest"
    val hook = StreamingImport.DriftHook.numeric(
      org.apache.spark.sql.functions.col("v"), Seq(100.0, 200.0), s"$dir/counts")
    // batch 0: every monitored value null — the old code wrote a
    // zero-row counts table whose max(__batch_id) NPE'd every later fold
    val b0 = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double])).toDF("id", "v")
    StreamingImport.foldDriftCounts(b0, dest, Seq("id"), hook, batchId = 0L)
    StreamingImport.upsertBatch(b0, dest, Seq("id"))
    assert(StreamingImport.readDriftCounts(spark, hook.countsPath).isEmpty)
    // batch 1 must fold normally, not throw
    val b1 = Seq((2L, Some(50.0)), (3L, Some(150.0))).toDF("id", "v")
    StreamingImport.foldDriftCounts(b1, dest, Seq("id"), hook, batchId = 1L)
    StreamingImport.upsertBatch(b1, dest, Seq("id"))
    val maintained = StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    val rescanned = graft.operators.Drift.bucketCounts(
      spark.read.parquet(dest), $"v", Seq(100.0, 200.0))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(maintained === rescanned)
  }

  test("a crash mid-counts-write (version dir without _SUCCESS) is invisible and replayable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport_partial")
    val dest = s"$dir/dest"
    val hook = StreamingImport.DriftHook.numeric(
      org.apache.spark.sql.functions.col("v"), Seq(100.0, 200.0), s"$dir/counts")
    val b0 = (1 to 100).map(i => (i.toLong, i.toDouble * 3)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b0, dest, Seq("id"), hook, batchId = 0L)
    StreamingImport.upsertBatch(b0, dest, Seq("id"))
    val committed = StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    // simulate batch 1 crashing mid-write: the committer made the dir
    // (and even a stray data file) but no _SUCCESS marker landed
    val partial = new java.io.File(s"${hook.countsPath}/v=1")
    assert(partial.mkdirs())
    java.nio.file.Files.write(partial.toPath.resolve("part-garbage.parquet"),
      Array[Byte](1, 2, 3))
    // the partial version must not shadow the committed state
    assert(StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
      === committed)
    // replay of batch 1 must NOT skip (dir existence is not a commit):
    // it refolds from v=0 and commits a real v=1 over the debris
    val b1 = (1 to 50).map(i => (i.toLong, i.toDouble * 3 + 150)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b1, dest, Seq("id"), hook, batchId = 1L)
    StreamingImport.upsertBatch(b1, dest, Seq("id"))
    val maintained = StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    val rescanned = graft.operators.Drift.bucketCounts(
      spark.read.parquet(dest), $"v", Seq(100.0, 200.0))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(maintained === rescanned)
  }

  test("a crash between version commit and prune leaves both readable; next pass prunes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport_prune")
    val dest = s"$dir/dest"
    val hook = StreamingImport.DriftHook.numeric(
      org.apache.spark.sql.functions.col("v"), Seq(100.0, 200.0), s"$dir/counts")
    val b0 = (1 to 100).map(i => (i.toLong, i.toDouble * 3)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b0, dest, Seq("id"), hook, batchId = 0L)
    StreamingImport.upsertBatch(b0, dest, Seq("id"))
    val b1 = (101 to 150).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b1, dest, Seq("id"), hook, batchId = 1L)
    StreamingImport.upsertBatch(b1, dest, Seq("id"))
    val v1 = StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    // resurrect v=0 beside v=1 (as if the post-commit prune never ran):
    // re-create a fully-committed older version by copying v=1's shape
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"${hook.countsPath}/v=1")
    val old = new org.apache.hadoop.fs.Path(s"${hook.countsPath}/v=0")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, old, false,
      spark.sparkContext.hadoopConfiguration)
    // reads pick the max committed version — the stale v=0 never shadows
    assert(StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
      === v1)
    // the next fold prunes the leftover and stays correct
    val b2 = (151 to 180).map(i => (i.toLong, 250.0)).toDF("id", "v")
    StreamingImport.foldDriftCounts(b2, dest, Seq("id"), hook, batchId = 2L)
    StreamingImport.upsertBatch(b2, dest, Seq("id"))
    assert(!new java.io.File(s"${hook.countsPath}/v=0").exists())
    val maintained = StreamingImport.readDriftCounts(spark, hook.countsPath).get
      .select($"bucket", $"n_rows").orderBy("bucket").as[(Long, Long)].collect().toSeq
    val rescanned = graft.operators.Drift.bucketCounts(
      spark.read.parquet(dest), $"v", Seq(100.0, 200.0))
      .orderBy("bucket").as[(Long, Long)].collect().toSeq
    assert(maintained === rescanned)
  }

  test("categorical drift hook maintains the status-mix counts across batches") {
    import spark.implicits._
    import graft.operators.Drift
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_simport_catdrift")
    val dest = s"$dir/dest"
    val cats = Seq("OPEN", "SHIPPED", "DONE")
    val hook = StreamingImport.DriftHook.categorical(
      org.apache.spark.sql.functions.col("v"), cats, s"$dir/counts")
    val stream = MemoryStream[KV]
    val q = StreamingImport.startWithDrift(
      stream.toDF(), dest, Seq("id"), s"$dir/ckpt", hook)
    try {
      stream.addData((1 to 300).map(i => KV(i.toLong,
        if (i % 60 == 0) s"RARE_$i" else cats(i % 3))): _*)
      q.processAllAvailable()
      // re-status a third of the keys — the upsert CDC mix move
      stream.addData((1 to 100).map(i => KV(i.toLong, "OPEN")): _*)
      q.processAllAvailable()
      val maintained = StreamingImport.readDriftCounts(spark, hook.countsPath).get
        .select($"bucket", $"n_rows").orderBy("bucket")
        .as[(String, Long)].collect().toSeq
      val rescanned = spark.read.parquet(dest)
        .select(Drift.categoricalBucketOf($"v", cats).as("bucket"))
        .groupBy("bucket").count().orderBy("bucket")
        .as[(String, Long)].collect().toSeq
      assert(maintained === rescanned)
      assert(maintained.size <= cats.size + 1) // identities + OTHER
      assert(maintained.exists(_._1 == "__OTHER__"))
    } finally q.stop()
  }

  test("upsertBatchPartitioned rewrites ONLY the touched partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport3")
    val dest = s"$dir/dest"
    val seed = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("id", "v", "part")
    StreamingImport.upsertBatchPartitioned(seed, dest, Seq("id"), "part")

    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$dest/part=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val p2Before = files("p2")

    // batch touches only partition p1
    val batch = Seq((2L, "B2", "p1"), (4L, "d", "p1")).toDF("id", "v", "part")
    StreamingImport.upsertBatchPartitioned(batch, dest, Seq("id"), "part")

    // untouched partition: same files, same mtimes — never rewritten
    assert(files("p2") === p2Before)
    val out = spark.read.parquet(dest).orderBy("id")
      .select("id", "v", "part").as[(Long, String, String)].collect()
    assert(out === Array((1L, "a", "p1"), (2L, "B2", "p1"),
      (3L, "c", "p2"), (4L, "d", "p1")))
  }

  test("upsertBatchRelocating drops the stale copy when a key moves partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport4")
    val dest = s"$dir/dest"
    val seed = Seq((1L, "a", "d1"), (2L, "b", "d2"), (3L, "c", "d2"))
      .toDF("id", "v", "part")
    StreamingImport.upsertBatchRelocating(seed, dest, Seq("id"), "part")

    // late correction: id=2 moves d2 -> d1
    val batch = Seq((2L, "B2", "d1")).toDF("id", "v", "part")
    StreamingImport.upsertBatchRelocating(batch, dest, Seq("id"), "part")
    val out = spark.read.parquet(dest).orderBy("id")
      .select("id", "v", "part").as[(Long, String, String)].collect()
    // no duplicate id=2: the d2 copy is gone, the d1 copy is current
    assert(out === Array((1L, "a", "d1"), (2L, "B2", "d1"), (3L, "c", "d2")))

    // move the ONLY row of a partition: the emptied directory must go
    // away too (dynamic overwrite alone would leave the stale file)
    val batch2 = Seq((3L, "C3", "d1")).toDF("id", "v", "part")
    StreamingImport.upsertBatchRelocating(batch2, dest, Seq("id"), "part")
    val out2 = spark.read.parquet(dest).orderBy("id")
      .select("id", "v", "part").as[(Long, String, String)].collect()
    assert(out2 === Array((1L, "a", "d1"), (2L, "B2", "d1"), (3L, "C3", "d1")))
    assert(!new java.io.File(s"$dest/part=d2").exists())
  }

  test("relocating upsert deletes emptied partitions whose values need path escaping") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport7")
    val dest = s"$dir/dest"
    // a space survives in Hive path layout ('part=day 01') — URL-style
    // '+' encoding would delete the wrong directory and leave the stale row
    val seed = Seq((1L, "a", "day 01"), (2L, "b", "day 02")).toDF("id", "v", "part")
    StreamingImport.upsertBatchRelocating(seed, dest, Seq("id"), "part")
    val batch = Seq((2L, "B2", "day 01")).toDF("id", "v", "part") // 2 moves
    StreamingImport.upsertBatchRelocating(batch, dest, Seq("id"), "part")
    val out = spark.read.parquet(dest).orderBy("id")
      .select("id", "v", "part").as[(Long, String, String)].collect()
    assert(out === Array((1L, "a", "day 01"), (2L, "B2", "day 01")))
    assert(!new java.io.File(s"$dest/part=day 02").exists())
  }

  test("partition column type is pinned, not re-inferred from directory names") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport5")
    val dest = s"$dir/dest"
    // string partition values that LOOK numeric — inference would read
    // them back as int and the merge coalesce would type-mismatch
    val seed = Seq((1L, "a", "01"), (2L, "b", "02")).toDF("id", "v", "part")
    StreamingImport.upsertBatchPartitioned(seed, dest, Seq("id"), "part")
    val batch = Seq((2L, "B2", "02"), (3L, "c", "01")).toDF("id", "v", "part")
    StreamingImport.upsertBatchPartitioned(batch, dest, Seq("id"), "part")
    val out = spark.read.schema(seed.schema).parquet(dest).orderBy("id")
      .select("id", "v", "part").as[(Long, String, String)].collect()
    assert(out === Array((1L, "a", "01"), (2L, "B2", "02"), (3L, "c", "01")))
  }

  test("startWithQuarantine diverts failing rows and keeps importing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_simport6")
    val (dest, quar) = (s"$dir/dest", s"$dir/quarantine")
    val stream = MemoryStream[KV]
    val q = StreamingImport.startWithQuarantine(stream.toDF(), dest, Seq("id"),
      rowRules = Seq("id_positive" -> (col("id") > 0), "v_nonempty" -> (col("v") =!= "")),
      quar, s"$dir/ckpt")
    try {
      stream.addData(KV(1, "a"), KV(-2, "bad"))
      q.processAllAvailable()
      stream.addData(KV(3, "c"), KV(-4, ""))
      q.processAllAvailable()
      val ok = spark.read.parquet(dest).orderBy("id").as[KV].collect()
      assert(ok === Array(KV(1, "a"), KV(3, "c")))
      val bad = spark.read.parquet(quar).orderBy("id")
        .select("id", "quarantine_reason").as[(Long, String)].collect()
      assert(bad === Array((-4L, "id_positive,v_nonempty"), (-2L, "id_positive")))
    } finally q.stop()
  }

  test("startWithFkGate: quarantine policy diverts unresolved rows per " +
    "batch; resolved rows keep importing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_simport7")
    val (dest, quar) = (s"$dir/dest", s"$dir/quarantine")
    // the FK reference table: only names a/c resolve
    val ref = Seq(("a", 10L), ("c", 30L)).toDF("v", "gid")
    val stream = MemoryStream[KV]
    val q = StreamingImport.startWithFkGate(stream.toDF(), dest, Seq("id"),
      resolve = b => b.join(broadcast(ref), Seq("v"), "left")
        .select("id", "v", "gid"),
      gate = graft.plans.ImportJob.FkGate(Seq("gid"),
        graft.plans.ImportJob.FkQuarantine),
      quar, s"$dir/ckpt")
    try {
      stream.addData(KV(1, "a"), KV(2, "ghost"))
      q.processAllAvailable()
      stream.addData(KV(3, "c"))
      q.processAllAvailable()
      val ok = spark.read.parquet(dest).orderBy("id")
        .select("id", "gid").as[(Long, Long)].collect()
      assert(ok === Array((1L, 10L), (3L, 30L)))
      val bad = spark.read.parquet(quar).orderBy("id")
        .select("id", "quarantine_reason").as[(Long, String)].collect()
      assert(bad === Array((2L, "unresolved:gid")))
    } finally q.stop()
  }

  test("startWithFkGate: fail policy aborts the query on a dangling " +
    "reference, with the violating rows in the cause chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col}
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_simport8")
    val dest = s"$dir/dest"
    val ref = Seq(("a", 10L)).toDF("v", "gid")
    val stream = MemoryStream[KV]
    val q = StreamingImport.startWithFkGate(stream.toDF(), dest, Seq("id"),
      resolve = b => b.join(broadcast(ref), Seq("v"), "left")
        .select("id", "v", "gid"),
      gate = graft.plans.ImportJob.FkGate(Seq("gid"),
        graft.plans.ImportJob.FkFail),
      s"$dir/quarantine", s"$dir/ckpt")
    try {
      // batch 1 resolves fully and lands
      stream.addData(KV(1, "a"))
      q.processAllAvailable()
      assert(spark.read.parquet(dest).count() === 1)
      // batch 2 carries a dangling name: the QUERY fails (the streaming
      // analog of the reference's job abort), message names the rows
      stream.addData(KV(2, "ghost"))
      val ex = intercept[Exception](q.processAllAvailable())
      def causes(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      val fk = causes(ex).collectFirst {
        case e: graft.plans.ImportJob.FkViolationException => e }
        .orElse(causes(ex).find(
          _.getMessage.contains("rows with missing gid")))
      assert(fk.nonEmpty, s"expected an FK violation in the cause chain: $ex")
      assert(fk.get.getMessage.contains("Failed row:"))
      assert(fk.get.getMessage.contains("\"ghost\""))
      // the resolved batch stayed; the failing batch never landed
      assert(spark.read.parquet(dest).count() === 1)
    } finally q.stop()
  }

  test("upsertBatch doubles as batch backfill") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport2")
    val dest = s"$dir/dest"
    StreamingImport.upsertBatch(Seq(KV(1, "x")).toDF(), dest, Seq("id"))
    StreamingImport.upsertBatch(Seq(KV(1, "y"), KV(5, "z")).toDF(), dest, Seq("id"))
    val out = spark.read.parquet(dest).orderBy("id").as[KV].collect()
    assert(out === Array(KV(1, "y"), KV(5, "z")))
  }

  test("upsertBatch frees its destination-sized pin after each write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_simport_pins")
    val dest = s"$dir/dest"
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (i <- 1 to 3) {
      StreamingImport.upsertBatch(Seq(KV(i.toLong, s"v$i")).toDF(), dest, Seq("id"))
      // checked right after each call: getPersistentRDDs holds its RDDs
      // weakly, so a leaked pin nothing references drops out at the next GC
      assert(sc.getPersistentRDDs.keySet -- before === Set.empty, s"after batch $i")
    }
    assert(spark.read.parquet(dest).count() === 3L)
  }
}

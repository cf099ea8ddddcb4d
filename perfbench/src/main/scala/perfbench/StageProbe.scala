package perfbench

import org.apache.spark.perfbench.Bus

import graft.{GraftSession, SparkEntry}

/** Runs one registry query several times in one session with the
  * benchmark's listener and prints, per run, the jobs, tasks, shuffle
  * bytes and the shuffle bytes each stage wrote — for checking whether a
  * query's work repeats from run to run.
  *
  *   java -cp <classpath> perfbench.StageProbe <query> <tableDir> <runs>
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val Array(query, dir, runs) = args
    val spark = GraftSession.create(Runtime.getRuntime.availableProcessors())
    val probe = new CounterListener
    spark.sparkContext.addSparkListener(probe)
    for (r <- 1 to runs.toInt) {
      Bus.drain(spark.sparkContext)
      val before = probe.snapshot
      val firstStage = probe.stageShuffleWrite.size
      val t0 = System.nanoTime()
      SparkEntry.queries(query)(spark, dir).collect()
      val s = (System.nanoTime() - t0) / 1e9
      Bus.drain(spark.sparkContext)
      val d = probe.snapshot.map { case (k, v) => k -> (v - before(k)) }
      val stages = probe.stageShuffleWrite.drop(firstStage)
        .collect { case (_, b) if b > 0 => f"${b / 1e6}%.1f" }
      println(f"run $r: $s%.2f s, ${d("jobs")}%.0f jobs, ${d("tasks")}%.0f tasks, " +
        f"shuffle write ${d("shuffle_write_mb")}%.1f MB, read ${d("shuffle_read_mb")}%.1f MB; " +
        s"per-stage write MB (completion order): ${stages.mkString(" ")}")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}

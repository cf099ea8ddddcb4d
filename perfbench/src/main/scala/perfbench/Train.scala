package perfbench

import graft.GraftSession

/** The class-loading run behind the build's class-data-sharing archive:
  * the runner starts it with `-XX:ArchiveClassesAtExit`, so every class a
  * benchmark run loads on its way through session start, set-up and one
  * operation of each workload is archived, and later runs map them instead
  * of loading them one by one (see README.md, "Build").
  *
  * Arguments: inputsJson outDir paramsJson, where inputsJson maps each
  * workload to train on to its input directory.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(inputsJson, outDir, paramsJson) = args
    val params = Json.parseObject(paramsJson)
    val spark = GraftSession.create(Runtime.getRuntime.availableProcessors())
    val sc = spark.sparkContext
    val probe = new CounterListener
    sc.addSparkListener(new StorageListener)
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
    Spans.enabled = true
    Json.parseObject(inputsJson).foreach { case (name, dir) =>
      val w = Workloads.make(spark, name, dir.toString, params, s"$outDir/$name-state")
      w.setup()
      Spans("op")(w.op(w.kinds.last, s"$outDir/$name-op"))
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}

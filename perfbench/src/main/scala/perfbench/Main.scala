package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.Bus

import graft.GraftSession

/** One benchmark run in one JVM: set-up (session, inputs, warm-up until
  * the time per operation stops falling), then either a timed untraced
  * phase or a traced phase, then one JSON line on stdout for the runner,
  * which checks the outputs and prints the result.
  *
  * Arguments: workload inputsJson outDir seconds trace(0|1) paramsJson
  * launchedEpochMs, where inputsJson maps each workload the run touches to
  * its input directory.
  */
object Main {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.map(
      _.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum / 1e3

  final case class OpRecord(n: Int, workload: String, kind: String, phase: String, dir: String,
                            opS: Double, cpuS: Double, peakMb: Double,
                            retainedMb: Double, facts: Map[String, Any])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputsJson, outDir, secondsArg, traceArg, paramsJson, launchedArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val inputs = Json.parseObject(inputsJson).map { case (k, v) => k -> v.toString }
    val params = Json.parseObject(paramsJson)
    def int(k: String) = params(k).toString.toDouble.toInt
    // set-up is timed from the launch of this process (epoch ms, taken by
    // the runner just before it starts the JVM)
    val startMs = launchedArg.toDouble

    val spark = GraftSession.create(Runtime.getRuntime.availableProcessors())
    val sc = spark.sparkContext
    val storage = new StorageListener
    sc.addSparkListener(storage)

    def make(name: String): Workload =
      Workloads.make(spark, name, inputs(name), params, s"$outDir/state")
    val w = make(workload)
    val sessionS = (Clock.ms - startMs) / 1e3

    val ops = mutable.ArrayBuffer[OpRecord]()
    // release every block an operation left behind, so each operation
    // starts from empty storage
    def cleanup(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      Bus.drain(sc)
      storage.rddIds.foreach(Bus.removeRdd(sc, _))
      Bus.drain(sc)
    }
    def runOp(phase: String, wl: Workload = w, name: String = workload): OpRecord = {
      val n = ops.size
      val kind = wl.kinds(n % wl.kinds.size)
      val dir = s"$outDir/ops/$n"
      Bus.drain(sc)
      storage.resetPeak()
      Spans.op = n
      val cpu0 = cpuSeconds
      val t0 = System.nanoTime()
      val facts = Spans("op")(wl.op(kind, dir))
      val opS = (System.nanoTime() - t0) / 1e9
      val cpuS = cpuSeconds - cpu0
      Bus.drain(sc)
      val rec = OpRecord(n, name, kind, phase, dir, opS, cpuS, storage.peakSinceReset / 1e6,
        storage.current / 1e6, facts)
      cleanup()
      ops += rec
      rec
    }
    def rounds(phase: String, until: => Boolean): Seq[OpRecord] = {
      val out = mutable.ArrayBuffer[OpRecord]()
      do { w.kinds.foreach(_ => out += runOp(phase)) } while (!until)
      out.toSeq
    }

    // ── set-up: workload state, then a fixed number of warm-up rounds
    // (see README.md, "Warm-up") ─────────────────────────────────────
    w.setup()
    cleanup()
    val stateS = (Clock.ms - startMs) / 1e3
    rounds("warmup", ops.size >= int("warmup_rounds") * w.kinds.size)
    val setupS = (Clock.ms - startMs) / 1e3

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!traced) {
      // ── timed, untraced ─────────────────────────────────────────────
      val timedT0 = System.nanoTime()
      val timed = rounds("timed", (System.nanoTime() - timedT0) / 1e9 >= seconds &&
        ops.count(_.phase == "timed") >= int("min_ops"))
      metrics("setup_s") = (setupS, "s")
      metrics("op_s") = (median(timed.map(_.opS)), "s")
      metrics("cpu_s") = (median(timed.map(_.cpuS)), "s")
      metrics("peak_storage_mb") = (median(timed.map(_.peakMb)), "MB")
    } else {
      // ── traced: the full listener, spans at every call into a module ─
      val probe = new CounterListener
      Spans.storage = () => { Bus.drain(sc); storage.current / 1e6 }
      val layerSpans = Seq("sources.load", "plans.import_run", "plans.import_write",
        "operators.export_build", "operators.export_write", "pipelines.prepare",
        "pipelines.write", "similarity.maintain", "similarity.score_write")
      // traced and untraced rounds alternate in ABBA order, so both sample
      // the same stretch of the JVM's still-falling warm-up curve; the
      // untraced rounds are this run's timed operations
      val perOp = mutable.ArrayBuffer[Map[String, Double]]()
      val untracedS = mutable.ArrayBuffer[Double]()
      def untracedRound(): Unit = untracedS ++= w.kinds.map(_ => runOp("timed").opS)
      def tracedRound(): Unit = {
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
        Spans.enabled = true
        for (_ <- w.kinds) {
          Bus.drain(sc)
          val before = probe.snapshot
          val gc0 = gcSeconds
          val t0 = Clock.ms
          val rec = runOp("traced")
          val d = probe.snapshot.map { case (k, v) => k -> (v - before(k)) }
          val busy = probe.busySeconds(t0, t0 + rec.opS * 1e3)
          perOp += Map(
            "spark.jobs" -> d("jobs"), "spark.stages" -> d("stages"),
            "spark.tasks" -> d("tasks"), "spark.busy_s" -> busy,
            "spark.driver_gap_s" -> (rec.opS - busy), "spark.plan_s" -> d("plan_s"),
            "spark.task_s" -> d("task_s"), "spark.task_cpu_s" -> d("task_cpu_s"),
            "spark.parallelism" -> (if (busy > 0) d("task_s") / busy else 0.0),
            "spark.shuffle_write_mb" -> d("shuffle_write_mb"),
            "spark.shuffle_read_mb" -> d("shuffle_read_mb"), "spark.spill_mb" -> d("spill_mb"),
            "spark.input_mb" -> d("input_mb"), "spark.retained_mb" -> rec.retainedMb,
            "jvm.gc_s" -> (gcSeconds - gc0), "op_s" -> rec.opS) ++
            layerSpans.map(s => s"${s}_s" -> Spans.seconds(s, rec.n))
        }
        Spans.enabled = false
        spark.listenerManager.unregister(probe)
        sc.removeSparkListener(probe)
      }
      untracedRound(); tracedRound(); tracedRound(); untracedRound()
      perOp.head.keys.filter(_ != "op_s").foreach { k =>
        metrics(k) = (median(perOp.map(_(k)).toSeq), unitOf(k))
      }
      metrics("trace.overhead_s") =
        (median(perOp.map(_("op_s")).toSeq) - median(untracedS.toSeq), "s")
      // companions: one traced operation of each workload this run
      // stands in for, for the layers only they call
      sc.addSparkListener(probe)
      Spans.enabled = true
      params("companions").asInstanceOf[Seq[Any]].map(_.toString).foreach { c =>
        val cw = make(c)
        cw.setup()
        val rec = runOp(s"companion", cw, c)
        layerSpans.filter(s => Spans.seconds(s, rec.n) > 0 && s != "sources.load")
          .foreach(s => metrics(s"${s}_s") = (Spans.seconds(s, rec.n), "s"))
        Spans.op = -1
        cw.extras().foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
        cleanup()
      }
      Spans.enabled = false
      Bus.drain(sc)
      Trace.write(s"$outDir/trace.json", probe, workload)
    }

    val result = Json.obj(
      "setup_s" -> setupS, "session_s" -> sessionS, "state_s" -> stateS,
      "warmup_ops" -> ops.count(_.phase == "warmup"),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "ops" -> Json.arr(ops.toSeq.map(o => Json.obj((Seq(
        "n" -> o.n, "workload" -> o.workload, "kind" -> o.kind, "phase" -> o.phase,
        "dir" -> o.dir, "op_s" -> o.opS, "cpu_s" -> o.cpuS, "peak_storage_mb" -> o.peakMb,
        "retained_mb" -> o.retainedMb) ++ o.facts.toSeq): _*)): _*))
    spark.stop()
    println("PERFBENCH " + result)
  }

  def unitOf(k: String): String =
    if (k.endsWith("_per_s")) "rows/s"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k == "spark.parallelism" || k == "dedup.verify_yield") "ratio"
    else "count"
}

/** The trace file: every benchmark span with the Spark jobs (and their
  * stages) that started while it was the innermost open span, and each
  * span's self time.
  */
object Trace {
  def write(path: String, probe: CounterListener, workload: String): Unit = {
    val spans = Spans.all.toSeq
    def innermost(t: Double): Int = spans
      .filter(s => s.start <= t && t <= s.end)
      .sortBy(s => -s.start).headOption.map(_.id).getOrElse(-1)
    val jobs = probe.jobIntervals.toSeq.filter(!_.end.isNaN)
    val jobParent = jobs.map(j => j.id -> innermost(j.start)).toMap
    val stages = probe.stageIntervals.toSeq
    def jobOf(st: probe.Interval): Int = jobs
      .filter(j => j.start <= st.start && st.start <= j.end)
      .sortBy(j => -j.start).headOption.map(_.id).getOrElse(-1)
    val children = mutable.HashMap[Int, mutable.ArrayBuffer[(Double, Double)]]()
    spans.filter(_.parent >= 0).foreach(s =>
      children.getOrElseUpdate(s.parent, mutable.ArrayBuffer()) += ((s.start, s.end)))
    jobs.foreach(j => jobParent.get(j.id).filter(_ >= 0).foreach(p =>
      children.getOrElseUpdate(p, mutable.ArrayBuffer()) += ((j.start, j.end))))
    def self(s: Spans.Span): Double = {
      val cs = children.getOrElse(s.id, mutable.ArrayBuffer()).toSeq
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      (s.end - s.start - Spans.unionLength(cs)) / 1e3
    }
    val selfByName = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(self).sum }
    val jobSelf = jobs.map(j => (j.end - j.start) / 1e3).sum
    val doc = Json.obj(
      "workload" -> workload,
      "self_s_by_span" -> Json.obj((selfByName.toSeq.sortBy(-_._2) :+
        ("spark jobs" -> jobSelf)): _*),
      "stored_mb_after_by_span" -> Json.obj(spans.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => n -> ss.map(_.storedMb).max }: _*),
      "spans" -> Json.arr(spans.map(s => Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> self(s),
        "stored_mb_after" -> s.storedMb)): _*),
      "jobs" -> Json.arr(jobs.map(j => Json.obj("id" -> j.id, "parent_span" -> jobParent(j.id),
        "start_ms" -> j.start, "end_ms" -> j.end)): _*),
      "stages" -> Json.arr(stages.map(st => Json.obj("name" -> st.name, "job" -> jobOf(st),
        "start_ms" -> st.start, "end_ms" -> st.end)): _*),
      "stage_shuffle_write_bytes" -> Json.arr(probe.stageShuffleWrite.toSeq.map {
        case (id, b) => Json.arr(id, b) }: _*))
    val pw = new PrintWriter(new File(path))
    try pw.write(doc.toString) finally pw.close()
  }
}

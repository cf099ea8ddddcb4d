package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as the times Spark stamps on its listener events.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Keeps the running sum of RDD block storage (cached and checkpointed
  * blocks, memory plus disk) and its peak since the last reset. This is
  * the only listener registered during the untimed and untraced phases.
  */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap[String, Long]()
  private var sum = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      sum += now - sizes.getOrElse(info.blockId.name, 0L)
      if (now == 0L) sizes.remove(info.blockId.name) else sizes(info.blockId.name) = now
      if (sum > peak) peak = sum
    }
  }

  // blocks removed with their RDD (unpersist, Spark's cleaner) are not
  // reported one by one
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    sizes.keys.filter(_.startsWith(prefix)).toSeq.foreach(k => sum -= sizes.remove(k).get)
  }

  def current: Long = synchronized(sum)
  /** Ids of the RDDs that hold blocks now. */
  def rddIds: Set[Int] =
    synchronized(sizes.keys.map(_.stripPrefix("rdd_").takeWhile(_ != '_').toInt).toSet)
  def peakSinceReset: Long = synchronized(peak)
  def resetPeak(): Unit = synchronized { peak = sum }
}

/** Counters of everything Spark did, from one listener registered for the
  * traced phase. Jobs and stages keep their intervals so the trace can
  * hang them under the benchmark span that was open when they started.
  */
final class CounterListener extends SparkListener with QueryExecutionListener {
  final case class Interval(id: Int, name: String, start: Double, var end: Double)

  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var planMs = 0L
  val jobIntervals = mutable.ArrayBuffer[Interval]()
  val stageIntervals = mutable.ArrayBuffer[Interval]()
  /** per completed stage: (stage id, attempt, shuffle bytes written) */
  val stageShuffleWrite = mutable.ArrayBuffer[(Int, Long)]()
  private val openJobs = mutable.HashMap[Int, Interval]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val iv = Interval(e.jobId, s"job ${e.jobId}", e.time.toDouble, Double.NaN)
    openJobs(e.jobId) = iv
    jobIntervals += iv
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    for (s <- si.submissionTime; c <- si.completionTime)
      stageIntervals += Interval(si.stageId, s"stage ${si.stageId}: ${si.name}",
        s.toDouble, c.toDouble)
    val w = Option(si.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    stageShuffleWrite += ((si.stageId, w))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** A consistent copy of the counters, for before/after deltas. */
  def snapshot: Map[String, Double] = synchronized(Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6, "input_mb" -> input / 1e6, "plan_s" -> planMs / 1e3))

  /** Seconds within [from, to] covered by at least one job. */
  def busySeconds(from: Double, to: Double): Double = synchronized {
    val ivs = jobIntervals.filter(iv => !iv.end.isNaN && iv.end > from && iv.start < to)
      .map(iv => (math.max(iv.start, from), math.min(iv.end, to))).sortBy(_._1)
    Spans.unionLength(ivs.toSeq) / 1e3
  }
}

/** Spans opened by the benchmark around its calls into the program, kept
  * in memory and written out when the run ends.
  */
object Spans {
  /** `storedMb`: RDD block storage held when the call returned. */
  final case class Span(id: Int, parent: Int, name: String, op: Int,
                        start: Double, var end: Double, var storedMb: Double = 0.0)

  val all = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var enabled = false
  var op = -1
  /** Storage held now, in MB (drains the listener bus first). */
  var storage: () => Double = () => 0.0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name, op,
        Clock.ms, Double.NaN)
      all += s
      stack = s :: stack
      try body finally {
        s.end = Clock.ms
        stack = stack.tail
        s.storedMb = storage()
      }
    }

  /** Total seconds of op `op` spent in spans named `name`. */
  def seconds(name: String, op: Int): Double =
    all.filter(s => s.name == name && s.op == op).map(s => s.end - s.start).sum / 1e3

  def unionLength(sorted: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

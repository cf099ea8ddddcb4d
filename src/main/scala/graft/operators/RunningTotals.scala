package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GLOBAL ordered running totals and ranks without the one-task global
  * window: `Window.orderBy(...)` with no partition key funnels the
  * whole frame through a single task — the repo's documented
  * anti-pattern — yet Pareto/ABC shares, global quantile scores, and
  * "cumulative % of total" reports genuinely need a total order.
  *
  * Same two-pass machine as Mixture's per-group ranged cumsum
  * (Mixture.withRunningBeforeCols), degenerated to one global group:
  * range-repartition on the order columns (each partition holds a
  * contiguous slice of the total order), per-partition subtotals roll
  * into partition offsets through a window over the
  * PARTITION-COUNT-sized stats frame (that tiny frame is the only
  * single-task step), and every row's running value is its partition
  * offset plus a partition-local running sum. The localCheckpoint pins
  * the range exchange so both passes see identical partitioning (the
  * SurrogateKeys determinism argument — boundary sampling is seeded
  * per physical RDD, so two independently planned exchanges need not
  * agree). EAGER: the result is materialized; callers get plain
  * columns.
  *
  * Round 14 (optimization): one shared machine computes ANY number of
  * running sums and positional ranks in a single ranged pass —
  * previously each output paid its own range exchange + pin + second
  * hash exchange + window (q_sprt stacked two full machines; q_rfm
  * three). Two structural cuts, both guide §2.4 ("remove shuffles
  * outright"):
  *   - RANKS take the [[SurrogateKeys]] arithmetic path: rows of a
  *     (partition, group) are contiguous after the ranged sort, so
  *     rank = cross-partition offset + (monotonically_increasing_id −
  *     min id of the slice) + 1 — a broadcast-joined projection. No
  *     second exchange, no sort, no window at all.
  *   - SUMS still need the per-slice prefix pass, but ALL requested
  *     sums share ONE window over ONE exchange instead of one machine
  *     each.
  * Measured at sf0.1 (bench median warm): q_sprt 1.94 → 0.93 s,
  * q_rfm 1.94 → 1.04 s, q_funnel_time 1.44 → 0.73 s; JobProfile
  * q_sprt 20 jobs → 12 (see OPTIMIZATION_r14.md).
  */
object RunningTotals {

  /** Inclusive global running sum of `valueCol` (LongType) in the total
    * order given by `orderBys` (use `.desc`/`.asc` column expressions;
    * the order must be TOTAL — add a unique tiebreak).
    */
  def globalRunningSum(df: DataFrame, orderBys: Seq[Column], valueCol: String,
                       outCol: String): DataFrame =
    machine(df, Nil, orderBys, Seq(valueCol -> outCol), Nil)

  /** Global rank (1-based, dense in row count — row_number semantics)
    * in the total order given by `orderBys`.
    */
  def globalRank(df: DataFrame, orderBys: Seq[Column], outCol: String): DataFrame =
    machine(df, Nil, orderBys, Nil, Seq(outCol))

  /** Per-GROUP inclusive running sum without funneling a hot group
    * through one task: range-partition on (group, order) — a dominant
    * group spans many contiguous partitions — then per-(partition,
    * group) subtotals roll into offsets exactly as in the global form
    * (the Mixture.withRunningBeforeCols machine, inclusive variant, made
    * public). Use when group cardinality is LOW (a per-group window
    * would hot-partition) but the order is needed exactly.
    */
  def groupedRunningSum(df: DataFrame, groupCols: Seq[String],
                        orderBys: Seq[Column], valueCol: String,
                        outCol: String): DataFrame =
    machine(df, groupCols, orderBys, Seq(valueCol -> outCol), Nil)

  /** Per-GROUP 1-based positional rank (row_number semantics) in the
    * (group, order) range partitioning — the `groupedRunningSum(…,
    * lit(1))` pattern without the second exchange/sort/window the sum
    * form pays (rank is pure offset arithmetic over the pinned sorted
    * frame).
    */
  /** @param pinOutput false = return the result LAZY over the machine's
    *        internal range-sorted pin instead of eagerly materializing
    *        a second copy. For a SINGLE downstream consumer this saves
    *        one full write+read of the frame (one action, one block
    *        set); the internal pin is then reclaimed by the
    *        ContextCleaner when the result becomes unreachable (the
    *        single-pin-pipeline discipline — TrainingData note). With
    *        several consumers keep the default: each lazy consumer
    *        would replay the offsets join per reference.
    */
  def groupedRank(df: DataFrame, groupCols: Seq[String],
                  orderBys: Seq[Column], outCol: String,
                  pinOutput: Boolean = true): DataFrame =
    machine(df, groupCols, orderBys, Nil, Seq(outCol), pinOutput)

  /** One ranged pass computing BOTH a per-group running sum of
    * `valueCol` and the per-group positional rank ([[groupedRank]]) —
    * the SPRT shape (cumulative successes + cumulative n), previously
    * two stacked machines.
    */
  def groupedSumAndRank(df: DataFrame, groupCols: Seq[String],
                        orderBys: Seq[Column], valueCol: String,
                        sumOut: String, rankOut: String): DataFrame =
    machine(df, groupCols, orderBys, Seq(valueCol -> sumOut), Seq(rankOut))

  /** EXCLUSIVE global running max of `valueCol` (LongType) in the given
    * total order: each row sees the max over all STRICTLY-PRECEDING
    * rows (null for the first row — no predecessor). The
    * strict-predecessor form is what dominance tests (Pareto/skyline)
    * need; same two-pass machine with the max monoid.
    */
  def globalRunningMaxExclusive(df: DataFrame, orderBys: Seq[Column],
                                valueCol: String, outCol: String): DataFrame = {
    require(!df.columns.exists(c => c == "__pid" || c == "__off" || c == outCol),
      s"temp columns __pid/__off/$outCol collide with the input")
    graft.Pins.scope { p =>
      val sorted = p.pin(df.repartitionByRange(orderBys: _*)
        .sortWithinPartitions(orderBys: _*)
        .withColumn("__pid", spark_partition_id()), true)
      val statsW = Window.orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = sorted.groupBy(col("__pid"))
        .agg(max(col(valueCol)).as("__pmax"))
        .withColumn("__off", max(col("__pmax")).over(statsW)) // null for pid 0
        .drop("__pmax")
      val localW = Window.partitionBy(col("__pid")).orderBy(orderBys: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      // greatest() skips nulls and returns null only when BOTH sides are
      // null — exactly the no-predecessor semantics wanted here
      val out = sorted.join(broadcast(offsets), Seq("__pid"))
        .withColumn(outCol, greatest(max(col(valueCol)).over(localW), col("__off")))
        .drop("__pid", "__off")
      out.localCheckpoint(true)
    }
  }

  /** The shared ranged machine. `sums` = (valueCol → outCol) inclusive
    * running sums; `ranks` = outCols for the 1-based positional rank
    * (identical value for every requested rank col). Exchange
    * inventory: ONE range exchange (pinned), plus — only when `sums`
    * is non-empty — one hash exchange on (__pid, groups) for the
    * shared prefix window. Ranks alone add NO exchange beyond the
    * ranged one: local position comes from `monotonically_increasing_id`
    * stamped after the in-partition sort (rows of a (partition, group)
    * slice are contiguous, so id − min(id of slice) is the 0-based
    * local index — the [[SurrogateKeys]] argument), and the
    * cross-partition offset rides the same broadcast as the sum
    * offsets.
    */
  private def machine(df: DataFrame, groupCols: Seq[String],
                      orderBys: Seq[Column],
                      sums: Seq[(String, String)],
                      ranks: Seq[String],
                      pinOutput: Boolean = true): DataFrame = {
    require(sums.nonEmpty || ranks.nonEmpty, "machine needs at least one output")
    val outCols = sums.map(_._2) ++ ranks
    val reserved = Set("__pid", "__mid", "__m0", "__cntoff", "__ps__cnt") ++
      outCols.flatMap(o => Seq(o, s"__ps_$o", s"__off_$o"))
    require(!df.columns.exists(reserved), "temp columns " +
      reserved.mkString("/") + " collide with the input")
    val gcols = groupCols.map(col)
    val rangeCols = gcols ++ orderBys
    val needMid = ranks.nonEmpty
    val stamped0 = df.repartitionByRange(rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .withColumn("__pid", spark_partition_id())
    // pinOutput=false returns `out` lazy over `sorted`, so the scope hands
    // that pin to the caller (the single-consumer rank-machine tail)
    graft.Pins.scope { p =>
      val sorted = p.pin(
        if (needMid) stamped0.withColumn("__mid", monotonically_increasing_id())
        else stamped0, true)
      val statsW = (if (gcols.isEmpty) Window.partitionBy()
                    else Window.partitionBy(gcols: _*))
        .orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val aggExprs =
        sums.map { case (v, o) => sum(col(v)).as(s"__ps_$o") } ++
          (if (needMid) Seq(count(lit(1)).as("__ps__cnt"), min(col("__mid")).as("__m0"))
           else Nil)
      var offsets = sorted.groupBy(col("__pid") +: gcols: _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
      for ((_, o) <- sums)
        offsets = offsets
          .withColumn(s"__off_$o", coalesce(sum(col(s"__ps_$o")).over(statsW), lit(0L)))
          .drop(s"__ps_$o")
      if (needMid)
        offsets = offsets
          .withColumn("__cntoff", coalesce(sum(col("__ps__cnt")).over(statsW), lit(0L)))
          .drop("__ps__cnt")
      var out = sorted.join(broadcast(offsets), "__pid" +: groupCols)
      if (sums.nonEmpty) {
        val localW = Window.partitionBy(col("__pid") +: gcols: _*)
          .orderBy(orderBys: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for ((v, o) <- sums)
          out = out.withColumn(o, col(s"__off_$o") + sum(col(v)).over(localW))
      }
      for (o <- ranks)
        out = out.withColumn(o, col("__cntoff") + (col("__mid") - col("__m0")) + 1L)
      out = out.drop(Seq("__pid", "__mid", "__m0", "__cntoff") ++
        sums.map(s => s"__off_${s._2}"): _*)
      if (pinOutput) out.localCheckpoint(true) else out
    }
  }
}

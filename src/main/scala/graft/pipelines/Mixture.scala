package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pins

/** Deterministic training-data mixture construction.
  *
  * Pretraining mixtures weight sources differently (the published
  * GPT-3/LLaMA recipes sample Wikipedia several epochs while
  * downsampling web crawl). At 100 TB the sampling must be
  * reproducible — same mixture from every run and cluster size — so the
  * keep decision is a pure hash of the document id, not an RNG: no
  * state, no seed-per-partition coupling, and a doc's fate never
  * changes when partitioning does.
  *
  * A rate r ≤ 1 keeps a hash-uniform r-fraction of the source; r > 1
  * replicates ⌊r⌋ full epochs and hash-samples the fractional epoch.
  * Output rows carry a 0-based `epoch` column (downstream shuffling by
  * (id, epoch) interleaves the copies). Everything is a narrow
  * projection + filter — rejected documents never shuffle.
  */
object Mixture {

  /** Uniform [0,1) from the id: xxhash64 folded to 6 decimal digits.
    * Library default; any deterministic uniform column can replace it
    * (the oracle query uses a portable multiplicative hash both engines
    * can compute).
    */
  def uniformHash(id: Column, salt: Long = 0L): Column =
    pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double") / 1000000.0

  /** Per-ROW rates — quality-weighted sampling (the published data
    * recipes upsample by document quality, not just by source): `rate`
    * is any deterministic non-negative column (r ≤ 1 hash-keeps an
    * r-fraction, r > 1 replicates ⌊r⌋ epochs + hash-samples the
    * fractional one). `u` must be uniform in [0,1) and deterministic
    * per row. Narrow projection + filter; rejected rows never shuffle.
    */
  def sampleWeighted(df: DataFrame, rate: Column, u: Column): DataFrame =
    df.withColumn("__u", u)
      .withColumn("__full", floor(rate).cast("int"))
      .withColumn("__frac", rate - col("__full"))
      .withColumn("epoch", explode(sequence(lit(0), col("__full"))))
      .filter(col("epoch") < col("__full") || col("__u") < col("__frac"))
      .drop("__u", "__full", "__frac")

  /** Apply per-source rates; sources absent from `rates` are dropped.
    * `u` must be uniform in [0,1) and deterministic per row.
    */
  def sample(df: DataFrame, sourceCol: String, rates: Map[String, Double],
             u: Column): DataFrame = {
    require(rates.values.forall(_ >= 0), "rates must be non-negative")
    val rate = rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    sampleWeighted(df, rate, u)
  }

  def sample(df: DataFrame, sourceCol: String, idCol: String,
             rates: Map[String, Double]): DataFrame =
    sample(df, sourceCol, rates, uniformHash(col(idCol)))

  /** Weighted sampling WITHOUT replacement (A-Res, Efraimidis &
    * Spirakis 2006): select exactly `k` rows with inclusion probability
    * ∝ `weight`, deterministically. The reservoir key u^(1/w) becomes
    * the equivalent priority ln(1/u)/w — take the k SMALLEST — so
    * higher-weight rows systematically draw lower priorities. The
    * `sampleWeighted` family is Bernoulli (row-count varies and rates
    * above 1 replicate); this is the fixed-budget complement: "give me
    * exactly k docs, quality-weighted".
    *
    * Determinism (SURVEY §6): `hash6` must be a deterministic integer in
    * [0, 10⁶) (the portable multiplicative hash in the registered query;
    * `uniformHash`-style xxhash in library use). The priority is
    * quantized ONCE — `floor(ln(10⁶/(h+1))·10⁴ / w + 0.5)` — at a grain
    * where the engines' ln ulp difference flips a floor with
    * probability ~10⁻¹¹ per row (a 10⁹-quantized version would be
    * ~10⁻⁶/row — per-ROW ln needs a coarser floor than the per-bucket
    * PSI family); quantization ties break by `tieBreak`.
    *
    * Shape: one narrow projection + global top-k via orderBy+limit
    * (`TakeOrderedAndProject` — per-partition partial top-k, no global
    * sort, no shuffle of rejected rows).
    */
  def sampleWithoutReplacement(df: DataFrame, k: Int, weight: Column,
                               hash6: Column, tieBreak: Seq[Column]): DataFrame = {
    require(k >= 1, "k must be >= 1")
    df.withColumn("__prio",
        floor(log(lit(1000000.0) / (hash6 + lit(1.0))) * lit(10000.0) /
          weight.cast("double") + lit(0.5)).cast("long"))
      .orderBy(col("__prio").asc +: tieBreak: _*)
      .limit(k)
      .withColumnRenamed("__prio", "priority_q")
  }

  /** Temperature-based group quotas — the multilingual-LLM sampling
    * convention (mBERT / XLM-R / mT5): sample groups ∝ p^α with
    * α = 0.5, upweighting low-resource languages relative to
    * proportional sampling. α is PINNED at 0.5 because sqrt is the one
    * power with a correctly-rounded IEEE contract — any engine
    * reproduces it bit-exactly (a general pow is a libm hazard, the
    * SURVEY §6 rule).
    *
    * All the arithmetic after the sqrt is INTEGER, so the apportionment
    * is order-independent and exactly replayable: each group's weight
    * quantizes to wq = floor(sqrt(n)·2^20), W = Σ wq is an exact long
    * sum, and `budget` splits by largest remainder over DECIMAL(38,0)
    * products (budget·wq never overflows; remainders tie-break by
    * group) — Σ quota == budget exactly, every nonempty group keeps
    * its floor (which may be 0 for a tiny group: the apportionment is
    * exact, not a minimum guarantee).
    *
    * Scale shape: the counts frame is #groups rows (bounded BY CONTRACT
    * — languages/sources, the centroid-table tier; `maxGroups` guards
    * the collect), quotas fold back as a literal CASE, and the keep
    * decision is ONE keyed window per group ordered by (hash6, id).
    */
  def temperatureQuotas(counts: Seq[(String, Long)], budget: Long): Map[String, Long] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(counts.nonEmpty, "temperatureQuotas over no groups")
    require(counts.map(_._1).distinct.size == counts.size, "duplicate groups")
    val wq = counts.sortBy(_._1).map { case (g, n) =>
      require(n > 0, s"group $g has non-positive count $n")
      (g, math.floor(math.sqrt(n.toDouble) * 1048576.0).toLong)
    }
    val W = wq.map(w => BigInt(w._2)).sum
    val base = wq.map { case (g, w) =>
      val prod = BigInt(budget) * w
      (g, (prod / W).toLong, prod % W)
    }
    val deficit = budget - base.map(_._2).sum
    val bump = base.sortBy { case (g, _, rem) => (-rem, g) }
      .take(deficit.toInt).map(_._1).toSet
    base.map { case (g, b, _) => g -> (b + (if (bump(g)) 1L else 0L)) }.toMap
  }

  /** Keep each group's portable-hash top-quota rows (rank by
    * (hash6, id)); output carries (srank, quota, kept) for auditing —
    * filter on `kept` to materialize. See [[temperatureQuotas]].
    */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: String,
                        budget: Long, hash6: Column,
                        maxGroups: Int = 10000): DataFrame = {
    // group keys travel as strings on both sides of the collect (an
    // integer-typed group column would otherwise ClassCastException
    // without naming the contract)
    val gstr = col(groupCol).cast("string")
    val counts = df.groupBy(gstr.as("__g")).count()
      .limit(maxGroups + 1).collect()
    require(counts.length <= maxGroups,
      s"temperatureSample: more than $maxGroups groups — temperature " +
        s"sampling is a per-language/per-source recipe; bucket the group " +
        s"column first or raise maxGroups")
    require(counts.forall(!_.isNullAt(0)),
      s"temperatureSample: NULL $groupCol — impute or filter the group " +
        "column first (a null language has no sampling temperature)")
    val quotas = temperatureQuotas(
      counts.map(r => (r.getString(0), r.getLong(1))).toSeq, budget)
    // the source is evaluated twice (counts collect, then the window);
    // a group materializing only in the second evaluation of a
    // non-deterministic source must FAIL loudly, not vanish at quota 0
    val quotaCol = quotas.foldLeft(
      raise_error(concat(lit("temperatureSample: group unseen when " +
        "quotas were drawn (non-deterministic source?): "), gstr))
        .cast("long")) { case (acc, (g, q)) =>
      when(gstr === g, lit(q)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(hash6.asc, col(idCol).asc)
    df.withColumn("srank", row_number().over(w).cast("long"))
      .withColumn("quota", quotaCol)
      .withColumn("kept", col("srank") <= col("quota"))
  }

  /** Deterministic dataset split (train/val/test): ordered
    * (label, fraction) buckets over a uniform hash — every row gets the
    * first label whose cumulative fraction exceeds its `u`, so the
    * assignment is reproducible, disjoint, exhaustive, and stable under
    * repartitioning (a doc never migrates between splits across runs —
    * the property that keeps eval sets uncontaminated).
    */
  def split(df: DataFrame, u: Column, fractions: Seq[(String, Double)],
            as: String = "split"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0))
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    // cumulative boundaries in EXACT decimal, then to double: the double
    // fold 0.8+0.1 is 0.9000000000000001 while an engine parsing the
    // literal '0.9' gets the nearest double BELOW it — a boundary row
    // would switch splits between engines/configs
    val cum = fractions.map(f => java.math.BigDecimal.valueOf(f._2))
      .scanLeft(java.math.BigDecimal.ZERO)(_.add(_)).tail.map(_.doubleValue())
    val label = fractions.init.zip(cum.init)
      .foldLeft[Option[Column]](None) { case (acc, ((l, _), c)) =>
        Some(acc match {
          case None => when(u < c, lit(l))
          case Some(w) => w.when(u < c, lit(l))
        })
      }
      .map(_.otherwise(lit(fractions.last._1)))
      .getOrElse(lit(fractions.last._1))
    df.withColumn(as, label)
  }

  def split(df: DataFrame, idCol: String,
            fractions: Seq[(String, Double)]): DataFrame =
    split(df, uniformHash(col(idCol)), fractions)

  /** Per-group token-budget capping: keep documents (in deterministic
    * order) while the group's RUNNING total stays within `budget` —
    * "take at most N tokens per source", the mixture-construction cap
    * that pairs with [[sample]]'s rates. Window per group (distributed),
    * a doc is kept iff its own cumulative total still fits.
    */
  def capTokenBudget(df: DataFrame, groupCol: String, orderCol: String,
                     tokenCountCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("__cum", sum(col(tokenCountCol)).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** Training-sequence packing: concatenate documents in deterministic
    * order and chop into `budget`-token sequences at document
    * boundaries — each doc lands in the sequence its cumulative START
    * offset falls into (greedy fill; a sequence may overrun by at most
    * one document, the standard concat-and-chop packing). The window
    * partitions by `groupCol` so packing runs distributed — one
    * partition per group. Output adds `seq_id` (per group, 0-based) and
    * `seq_pos` (token offset within the sequence).
    *
    * HOT-GROUP BOUND (this and [[capTokenBudget]]): one GROUP's rows
    * stream through one window task. With a handful of sources where
    * one holds ~90% of the corpus, that task sorts and running-sums the
    * dominant source alone — wall-clock collapses to one core. Use
    * [[packSequencesRanged]] / [[capTokenBudgetRanged]] for that shape:
    * identical output, range-partitioned two-pass cumsum.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    tokenCountCol: String, budget: Int): DataFrame = {
    require(budget > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val before = coalesce(sum(col(tokenCountCol)).over(w), lit(0L))
    df.withColumn("seq_id", floor(before / budget).cast("int"))
      .withColumn("seq_pos", (before % budget).cast("int"))
  }

  /** The global per-group running sum BEFORE each row (`__before`),
    * computed without ever funneling a group through one task:
    * range-repartition on (group, order) — a dominant group spans many
    * contiguous partitions — then per-(partition, group) token sums roll
    * into global offsets via a window over the PARTITION-COUNT-sized
    * stats frame, and each row's result is its partition offset plus a
    * partition-local running sum. The pin (taken through `p`, so the
    * caller's scope frees it) holds the range exchange so both passes
    * see identical partitioning (the SurrogateKeys determinism
    * argument). `orderCols` may be several columns (e.g. a hash order
    * with an id tiebreak — a single 48-bit hash column collides at
    * corpus scale).
    *
    * `eagerPin = false` pins the range exchange LAZILY (the r11 cheap
    * pin): the blocks still materialize exactly once — inside the first
    * consumer's action, typically the offsets broadcast — so both
    * passes still read the identical partitioning; it just saves the
    * dedicated checkpoint job. The caller's scope must outlast every
    * consumer action (Curriculum's does).
    */
  private[pipelines] def withRunningBeforeCols(p: Pins, df: DataFrame,
      groupCol: String, orderCols: Seq[String], tokenCountCol: String,
      eagerPin: Boolean = true): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ord = orderCols.map(col)
    val sorted = p.pin(df.repartitionByRange(col(groupCol) +: ord: _*)
      .sortWithinPartitions(col(groupCol) +: ord: _*)
      .withColumn("__pid", spark_partition_id()), eagerPin)
    val statsW = W.partitionBy(col(groupCol)).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = sorted.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(tokenCountCol)).as("__psum"))
      .withColumn("__off", coalesce(sum(col("__psum")).over(statsW), lit(0L)))
      .drop("__psum")
    val localW = W.partitionBy(col("__pid"), col(groupCol)).orderBy(ord: _*)
      .rowsBetween(W.unboundedPreceding, -1)
    sorted.join(broadcast(offsets), Seq("__pid", groupCol))
      .withColumn("__before",
        col("__off") + coalesce(sum(col(tokenCountCol)).over(localW), lit(0L)))
  }

  /** [[capTokenBudget]] for hot-group corpora: identical kept set,
    * no single-task group scan. EAGER (returns a materialized frame —
    * the two-pass cumsum pins its shuffle); `orderCol` should be unique
    * within a group (ties order arbitrarily in both variants).
    */
  def capTokenBudgetRanged(df: DataFrame, groupCol: String, orderCol: String,
                           tokenCountCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    Pins.scope { p =>
      withRunningBeforeCols(p, df, groupCol, Seq(orderCol), tokenCountCol)
        .filter(col("__before") + col(tokenCountCol) <= budget)
        .drop("__before", "__off", "__pid")
        .localCheckpoint(true)
    }
  }

  /** [[packSequences]] for hot-group corpora: identical (seq_id,
    * seq_pos) assignment, no single-task group scan. EAGER — see
    * [[capTokenBudgetRanged]].
    */
  def packSequencesRanged(df: DataFrame, groupCol: String, orderCol: String,
                          tokenCountCol: String, budget: Int): DataFrame = {
    require(budget > 0)
    Pins.scope { p =>
      withRunningBeforeCols(p, df, groupCol, Seq(orderCol), tokenCountCol)
        .withColumn("seq_id", floor(col("__before") / budget).cast("int"))
        .withColumn("seq_pos", (col("__before") % budget).cast("int"))
        .drop("__before", "__off", "__pid")
        .localCheckpoint(true)
    }
  }
}

package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item neighborhood model from implicit feedback — the classic
  * collaborative-filtering build (Sarwar et al., "Item-based
  * collaborative filtering recommendation algorithms", WWW 2001; the
  * co-occurrence/cosine form Amazon popularized). The reference's
  * related-products assortment feeds from exactly this table shape.
  *
  * Cosine over binary user sets: sim(i,j) = n_ij / √(n_i·n_j),
  * quantized to 4 dp with the repo's fixed parenthesization
  * (`floor(n_ij*10⁴/√(n_i·n_j) + 0.5)` — every step a single
  * correctly-rounded IEEE op, so DuckDB replays it bit-for-bit).
  *
  * THE scale hazard is the per-user pair explosion: a user with H
  * items emits H²/2 pairs (a crawler account with 1M items → 5·10¹¹
  * pairs). `maxUserItems` caps every user's history to the N
  * strongest interactions BEFORE pairing — the published mitigation
  * (history truncation) — so pair work is ≤ users·N²/2, a bound the
  * data cannot break. The cap is deterministic: rank by
  * (strength DESC, item ASC).
  *
  * The model factors through two COUNT TABLES — pair co-occurrence
  * (lo < hi, n_both) and per-item set sizes (i, n_i) — which are
  * ADDITIVELY MAINTAINABLE under user-history change ([[maintainCounts]]):
  * a changed user's old and new capped sets diff into ±1 adjustments,
  * O(changed_users · cap²) work with NO corpus rescan — the same
  * persisted-state pattern as IncrementalAgg/Dsir/Drift. Scoring from
  * counts ([[neighborsFromCounts]]) is count-table-sized.
  *
  * Shape: one window over user (the cap), one per-user packed-array
  * aggregation whose double explode enumerates the pairs locally
  * (round 15 — the former sets⋈sets self-join re-shuffled the capped
  * corpus twice on `u` to probe a purely local enumeration), two
  * item-count equi-joins onto the (lo, hi) pair table (AQE picks
  * broadcast when the item dimension fits) that score each pair ONCE,
  * one explode that emits both directions, one per-item rank window
  * for top-k (map-side WindowGroupLimit prunes before the shuffle).
  * Maintenance folds a CDC delta into the pair table with one full
  * outer join; scoring its result runs that fold once.
  */
object ItemSim {

  /** Deterministic capped binary history: one (u, i) row per kept
    * interaction. Pinned eagerly — ≤ users·maxUserItems rows by
    * construction (referenced by counts + both pair sides). Rows with a
    * null user (guest checkouts) are dropped before the cap: grouped by
    * user they would all fall into ONE history and pair items across
    * unrelated guests.
    */
  private def cappedSets(interactions: DataFrame, userCol: String,
                         itemCol: String, strengthCol: String,
                         maxUserItems: Int): DataFrame = {
    val capW = Window.partitionBy(col(userCol))
      .orderBy(col(strengthCol).desc, col(itemCol).asc)
    interactions
      .filter(col(userCol).isNotNull)
      .withColumn("__r", row_number().over(capW))
      .filter(col("__r") <= maxUserItems)
      .select(col(userCol).as("u"), col(itemCol).as("i"))
      .localCheckpoint(true)
  }

  /** Pair co-occurrence by per-user packed arrays + double explode
    * (round 15): the (sets ⋈ sets) self-join re-shuffled the capped
    * sets twice on `u` and sort-merge-probed what is a purely LOCAL
    * enumeration — a user's pairs come from that user's own ≤cap-sized
    * array. One groupBy(u) (reusing the cap window's hash(u)
    * partitioning), then explode × explode with the value filter
    * `hi > lo`: pure whole-stage-codegen row emission, no join, no
    * per-position array copies. Multiset-identical to the join — for
    * occurrences x at p, y at q with x < y, exactly one of the two
    * position orders passes the value filter, so each occurrence pair
    * counts once, duplicates included (guide §2.4: remove shuffles;
    * §4: codegen-friendly expressions). Arrays are cap-bounded, so no
    * collect_list skew hazard.
    */
  private def pairCounts(sets: DataFrame): DataFrame = {
    // explicit partition count: the user-array frame is BYTE-tiny but
    // its explosion is the query's CPU-heaviest stage — AQE's byte-
    // sized coalescing would run it on one task (the q_lsh_curve
    // lesson). defaultParallelism scales with the cluster.
    val p = sets.sparkSession.sparkContext.defaultParallelism
    sets.repartition(p, col("u"))
      .groupBy(col("u")).agg(collect_list(col("i")).as("__items"))
      .select(explode(col("__items")).as("lo"), col("__items"))
      .select(col("lo"), explode(col("__items")).as("hi"))
      .filter(col("hi") > col("lo"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_both"))
  }

  /** The model's state: (pair co-occurrence counts, item set sizes). */
  def counts(interactions: DataFrame, userCol: String, itemCol: String,
             strengthCol: String, maxUserItems: Int): (DataFrame, DataFrame) = {
    require(maxUserItems > 1, "maxUserItems must be > 1")
    val capped = cappedSets(interactions, userCol, itemCol, strengthCol, maxUserItems)
    (pairCounts(capped), capped.groupBy(col("i")).agg(count(lit(1)).as("n_i")))
  }

  /** Top-k cosine neighbors scored from persisted count tables. Each
    * (lo, hi) pair is scored ONCE: item sizes join onto the pair table
    * (one join for `lo`, one for `hi`), `sim_q` is computed per pair, and
    * one explode emits both directions just before the rank window. The
    * score is direction-free — `n_lo·n_hi` commutes exactly in IEEE
    * arithmetic — so both rows carry the bit-identical value a per-
    * direction scoring would give. Mirroring the pairs before scoring
    * would run the whole upstream plan (a maintained fold included)
    * twice and join sizes onto twice the rows.
    */
  def neighborsFromCounts(pairs: DataFrame, items: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    def dir(item: String, neighbor: String): Column = struct(col(item).as("item"),
      col(neighbor).as("neighbor"), col("n_both"), col("sim_q"))
    val scored = pairs
      .join(items.select(col("i").as("lo"), col("n_i").as("n_lo")), "lo")
      .join(items.select(col("i").as("hi"), col("n_i").as("n_hi")), "hi")
      .withColumn("sim_q",
        floor(col("n_both") * 10000.0 /
          sqrt(col("n_lo").cast("double") * col("n_hi").cast("double")) + 0.5)
          .cast("long"))
      .select(explode(array(dir("lo", "hi"), dir("hi", "lo"))).as("__d"))
      .select(col("__d.*"))
    val rankW = Window.partitionBy(col("item"))
      .orderBy(col("sim_q").desc, col("neighbor").asc)
    scored.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("item"), col("neighbor"), col("n_both"), col("sim_q"),
        col("rank").cast("int").as("rank"))
  }

  /** One-shot build: counts + scoring. */
  def neighbors(interactions: DataFrame, userCol: String, itemCol: String,
                strengthCol: String, k: Int, maxUserItems: Int): DataFrame = {
    val (p, n) = counts(interactions, userCol, itemCol, strengthCol, maxUserItems)
    neighborsFromCounts(p, n, k)
  }

  /** Fold a user-history delta into persisted counts WITHOUT a corpus
    * rescan. Inputs are the CHANGED USERS' interaction rows only —
    * their complete (user, item, strength) history before
    * (`oldChanged`) and after (`newChanged`) the change; unchanged
    * users must appear in neither. The cap is re-applied per side, the
    * two capped sets diff into ±1 item/pair adjustments, and counts
    * that reach zero leave the tables — so the maintained state is
    * IDENTICAL to a full rebuild on the new corpus (ItemSimSpec proves
    * both tables equal the rescan exactly). Work is
    * O(changed_users · cap²): the cap that bounds the build bounds the
    * maintenance too.
    */
  def maintainCounts(pairs: DataFrame, items: DataFrame,
                     oldChanged: DataFrame, newChanged: DataFrame,
                     userCol: String, itemCol: String, strengthCol: String,
                     maxUserItems: Int): (DataFrame, DataFrame) = {
    require(maxUserItems > 1, "maxUserItems must be > 1")
    // ONE tagged pass over both sides (round 14): the old and new
    // histories used to build two separately-pinned capped sets and
    // run two pair explosions whose counts were then union-diffed —
    // two serialized eager materializations. A ±1 side tag makes the
    // cap ONE window (partitioned by (side, user)), the explosion ONE
    // self-join (side equality keeps pairs within their snapshot), and
    // the delta a plain sum of the tag: every pair/item occurrence
    // contributes its own ±1. Value-identical to the two-pass diff
    // (ItemSimSpec proves maintained state == full rebuild).
    val tagged = oldChanged
      .select(col(userCol), col(itemCol), col(strengthCol), lit(-1L).as("__side"))
      .unionAll(newChanged
        .select(col(userCol), col(itemCol), col(strengthCol), lit(1L).as("__side")))
    val capW = Window.partitionBy(col("__side"), col(userCol))
      .orderBy(col(strengthCol).desc, col(itemCol).asc)
    // null users dropped before the cap, as in cappedSets. Not pinned:
    // both deltas read it inside the consuming job, where AQE's exchange
    // reuse runs the cap window's shuffle once; an eager pin would cost a
    // job and leave blocks behind that the returned frames keep reading.
    val sets = tagged
      .filter(col(userCol).isNotNull)
      .withColumn("__r", row_number().over(capW))
      .filter(col("__r") <= maxUserItems)
      .select(col("__side"), col(userCol).as("u"), col(itemCol).as("i"))
    // pair deltas via the packed-array double explode (see pairCounts):
    // one (side, user) aggregation instead of a two-sided self-join
    // re-shuffle, each generated pair contributing its snapshot's ±1.
    // Same explicit partition count — the explosion is CPU-bound on
    // byte-tiny arrays, which AQE would coalesce onto one task.
    val p = sets.sparkSession.sparkContext.defaultParallelism
    val pairDelta = sets.repartition(p, col("__side"), col("u"))
      .groupBy(col("__side"), col("u"))
      .agg(collect_list(col("i")).as("__items"))
      .select(col("__side"), explode(col("__items")).as("lo"), col("__items"))
      .select(col("__side"), col("lo"), explode(col("__items")).as("hi"))
      .filter(col("hi") > col("lo"))
      .groupBy(col("lo"), col("hi"))
      .agg(sum(col("__side")).as("__d"))
      .filter(col("__d") =!= 0L)
    val itemDelta = sets.groupBy(col("i")).agg(sum(col("__side")).as("__d"))
      .filter(col("__d") =!= 0L)
    // One full outer join folds the pair delta. A delta-side fold
    // (pairs ⟕ delta, plus the delta rows absent from pairs ⋉ delta)
    // reads `pairs` twice: over the lazy `counts` aggregate its joins
    // plan as sort-merge joins that aggregate and sort the pairs twice.
    val newPairs = pairs.join(pairDelta, Seq("lo", "hi"), "full_outer")
      .select(col("lo"), col("hi"),
        (coalesce(col("n_both"), lit(0L)) + coalesce(col("__d"), lit(0L))).as("n_both"))
      .filter(col("n_both") > 0)
    val newItems = items.join(itemDelta, Seq("i"), "full_outer")
      .select(col("i"),
        (coalesce(col("n_i"), lit(0L)) + coalesce(col("__d"), lit(0L))).as("n_i"))
      .filter(col("n_i") > 0)
    (newPairs, newItems)
  }
}

package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.mutable

/** Near-duplicate cluster canonicalization.
  *
  * LSH pipelines emit PAIRS; a training-data dedup job needs CLUSTERS —
  * each connected component of the pair graph keeps one canonical
  * representative (min id) and drops the rest.
  *
  * Two execution paths, switched on the measured pair count:
  * - **Local union-find** (the normal case): near-dup edges are a tiny
  *   minority of the corpus, so the pair list collects to the driver and
  *   a path-compressed union-find resolves components exactly; the
  *   (node → canonical) map broadcasts back. One collect, one broadcast
  *   join — no iteration overhead at all.
  * - **Distributed min-label propagation** (edge sets too big to
  *   collect): each round every edge-touching node adopts the smallest
  *   label in its neighborhood; converges in O(component diameter)
  *   rounds (near-dup components are shallow). State ∝ |edge nodes|, not
  *   |corpus|; convergence checked with a monotone sum aggregate.
  */
object Clusters {

  /** (id, canonical_id) for every id in `ids`; singletons map to
    * themselves.
    *
    * @param ids   one column `id`
    * @param pairs columns `id_a`, `id_b`
    */
  /** The returned mapping is MATERIALIZED (persisted + counted) and every
    * intermediate cache is released before returning; the caller releases
    * the result with `unpersist()`/`clearCache()` when done. The mapping
    * is two longs per id — tiny next to the corpus.
    *
    * `maxLocalEdges` = 1M: collected edge rows cost ~100 B each on the
    * driver heap (GenericRow + two boxed longs), so the local path tops
    * out around ~100 MB driver memory — a safe default; raise it only
    * with driver heap to spare. Beyond the gate the distributed
    * min-label propagation runs instead.
    */
  def canonicalize(ids: DataFrame, pairs: DataFrame, maxIters: Int = 10,
                   maxLocalEdges: Long = 1000000L): DataFrame = {
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long")).persist()
    val nPairs = p.count()
    val isLocal = nPairs <= maxLocalEdges
    // the scope frees propagate's checkpointed mapping once `out` is cached
    graft.Pins.scope { pins =>
      val mapping = if (isLocal) localUnionFind(p) else propagate(pins, p, maxIters)
      val out = ids.join(broadcastIfLocal(mapping, isLocal), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("__canon"), col("id")).as("canonical_id"))
        .persist()
      out.count() // materialize so upstream caches can be released NOW
      p.unpersist()
      out
    }
  }

  private def broadcastIfLocal(mapping: DataFrame, isLocal: Boolean): DataFrame =
    if (isLocal) broadcast(mapping) else mapping

  /** Exact components on the driver: path-compressed union-find keeping
    * the minimum id as each set's root.
    */
  private def localUnionFind(pairs: DataFrame): DataFrame = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val nxt = parent.getOrElse(cur, cur); parent(cur) = root; cur = nxt
      }
      root
    }
    val rows = pairs.collect()
    rows.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val resolved = parent.keys.toArray.map(k => Row(k, find(k)))
    // parallelize across slices so a big mapping doesn't funnel the
    // broadcast build (or any downstream shuffle) through one partition
    val slices = math.max(1, resolved.length / 250000)
    pairs.sparkSession.createDataFrame(
      pairs.sparkSession.sparkContext.parallelize(resolved.toSeq, slices),
      StructType(Seq(StructField("id", LongType, false), StructField("__canon", LongType, false))))
  }

  /** Distributed fallback for edge sets too large to collect.
    *
    * Each round takes the min over (neighbors' labels, own label, LABEL
    * OF OWN LABEL) — the pointer-jumping shortcut halves the remaining
    * label-chain depth per round, so convergence is O(log diameter)
    * rounds, not O(diameter): a 1000-link chain component (templated
    * boilerplate docs) converges in ~10 rounds where pure neighbor
    * propagation needs ~1000. Non-convergence within `maxIters` THROWS
    * (a partially propagated mapping would silently split real clusters
    * into several canonicals and ship near-duplicates downstream).
    */
  private def propagate(p: graft.Pins, pairs: DataFrame, maxIters: Int): DataFrame = {
    // both directions from ONE pass over pairs (a union of two selects
    // would compute the pair lineage twice at persist time)
    val edges = pairs.select(explode(expr(
        "array(named_struct('src', id_a, 'dst', id_b), " +
          "named_struct('src', id_b, 'dst', id_a))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // localCheckpoint per round, not persist: each round's plan would
    // otherwise nest every previous round's (lineage grows per
    // iteration and Catalyst re-analysis starts to dominate — the same
    // fix as Hierarchy.closure's doubling loop)
    var labels = p.pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), true)
    var iter = 0
    // labels only ever decrease, so sum(label) is strictly monotone until
    // the fixpoint — one cheap aggregate per round
    var prevSum = Option.empty[Long]
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dlabel")).as("nlabel"))
      val stepped = labels.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jump: label := min(label, label's label) — one
      // label-table self-join per round buys O(log diameter) convergence
      val next = p.pin(stepped.join(
          stepped.select(col("id").as("label"), col("label").as("__ll")),
          Seq("label"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("__ll"), col("label"))).as("label")), true)
      val s = next.agg(sum(col("label"))).head.getLong(0)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      // free the superseded round's checkpoint blocks NOW — Dataset
      // .unpersist doesn't touch them, and waiting for driver GC lets
      // one labels snapshot per round pile up in executor storage
      p.release(labels)
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"Clusters.propagate did not converge in $maxIters rounds — the " +
          "component diameter exceeds 2^rounds even with pointer jumping; " +
          "raise maxIters (a partial mapping would silently split clusters)")
    labels.withColumnRenamed("label", "__canon")
  }

  /** Convenience: ids to DROP (non-canonical members of some cluster). */
  def duplicates(ids: DataFrame, pairs: DataFrame, maxIters: Int = 10): DataFrame =
    canonicalize(ids, pairs, maxIters).filter(col("id") =!= col("canonical_id"))
}

package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** NN-Descent k-NN GRAPH construction (Dong, Moses & Li, "Efficient
  * k-nearest neighbor graph construction for generic similarity
  * measures", WWW 2011) — the graph-based similarity rung the
  * IVF/PQ/LSH family doesn't cover: build the all-nodes k-NN graph by
  * iterating "a neighbor of a neighbor is likely a neighbor", never
  * comparing all pairs. The k-NN graph is the substrate of
  * graph-traversal ANN and of graph-based curation (SemDeDup-style
  * cluster seeds, hubness audits).
  *
  * DERANDOMIZED to the engine's replayability standard:
  *   - init: the j-th neighbor of v is ((v·1048573 + j·40503) mod
  *     999983) mod n — a pseudo-random ring with O(log n)-ish diameter
  *     (plain +j rings make local joins useless), identical in SQL;
  *     self-loops and ids that don't exist drop. CONTRACT: ids should
  *     be ~dense in [0, n) — the ring targets live in that range, so a
  *     sparse id space (e.g. 10⁸-shifted shards) silently starves the
  *     init and the graph degrades instead of failing (measured in the
  *     round-14 GNNS ramp: 55k edges for 201k sparse-id nodes vs 1M
  *     dense). Densify ids first (row_number or shard×(max+1) tiling);
  *   - each round r (the paper's local join, node-centric form):
  *     B(v) = out(v) ∪ topK-by-src incoming (the paper's reverse
  *     SAMPLE made a deterministic top-k — bounds hub in-degree),
  *     candidates(v) = B(v) ∪ (B∘B)(v), new out(v) = top-k candidates
  *     by (round-4 cosine desc, id asc) — the q_embed_neardup cosine
  *     convention, so scores replay;
  *   - per-node candidate sets are ≤ (2k)² + 2k by construction: no
  *     round is quadratic in the corpus, and the per-node window
  *     partitions are bounded the same way.
  *
  * The sf embedding tables are near-isotropic noise (the PqSpec
  * measurement), so the REGISTERED query pins machinery and
  * determinism; convergence-toward-the-true-graph is spec-proven on a
  * structured corpus (NnDescentSpec: planted clusters reach their
  * true neighbors; update rate decays across rounds — the paper's
  * stopping signal).
  */
object NnDescent {

  /** The k-NN graph after `rounds` NN-descent iterations:
    * (id, neighbor_id, cos_sim), k rows per node (fewer when the
    * candidate pool is smaller).
    */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               k: Int = 5, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val base = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec")).persist()
    try graft.Pins.scope { p =>
      val n = base.count()
      val ids = base.select(col("id"))
      // pseudo-random ring init; nonexistent targets drop via the join
      var edges = p.pin(base.select(col("id").as("v"),
          explode(transform(sequence(lit(1), lit(k)),
            j => (col("id") * 1048573L + j.cast("long") * 40503L)
              % 999983L % lit(n))).as("w"))
        .filter(col("v") =!= col("w"))
        .join(ids.withColumnRenamed("id", "w"), Seq("w"))
        .select(col("v"), col("w")).distinct(), true)

      val va = base.select(col("id").as("v"), col("vec").as("__va"))
      val vb = base.select(col("id").as("w"), col("vec").as("__vb"))
      var scored: DataFrame = null
      for (_ <- 1 to rounds) {
        val revW = Window.partitionBy(col("w")).orderBy(col("v"))
        val rev = edges.withColumn("__rn", row_number().over(revW))
          .filter(col("__rn") <= k)
          .select(col("w").as("v"), col("v").as("w"))
        val b = p.pin(edges.unionByName(rev).distinct(), true)
        val hop = b.select(col("v"), col("w").as("__u"))
          .join(b.select(col("v").as("__u"), col("w")), Seq("__u"))
          .select(col("v"), col("w"))
        val cands = b.unionByName(hop)
          .filter(col("v") =!= col("w")).distinct()
        val sc = cands.join(va, Seq("v")).join(vb, Seq("w"))
          .withColumn("cos",
            round(VectorFunctions.cosine(col("__va"), col("__vb")), 4))
          .select(col("v"), col("w"), col("cos"))
        val topW = Window.partitionBy(col("v"))
          .orderBy(col("cos").desc, col("w"))
        val next = p.pin(sc.withColumn("__rn", row_number().over(topW))
          .filter(col("__rn") <= k)
          .select(col("v"), col("w"), col("cos")), true)
        p.release(edges)
        p.release(b)
        scored = next
        edges = next.select(col("v"), col("w"))
      }
      scored.select(col("v").as("id"), col("w").as("neighbor_id"),
        col("cos").as("cos_sim"))
    } finally base.unpersist()
  }
}

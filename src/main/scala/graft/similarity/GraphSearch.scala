package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Greedy beam search over a k-NN graph — the SEARCH half of graph-based
  * ANN (GNNS, Hajebi et al. IJCAI 2011; the traversal primitive HNSW
  * builds its layers around): start from fixed entry points, repeatedly
  * expand the current beam's graph neighbors, keep the best `beamWidth`
  * candidates by similarity to the query, emit the final top-k. Pairs
  * with [[NnDescent.knnGraph]] — build once, search per query — and
  * completes the engine's ANN inventory with the graph-traversal rung
  * beside the IVF/PQ bucket family.
  *
  * Derandomized end to end (the NnDescent contract):
  *  - entry points = the `nEntry` nodes smallest by the portable hash
  *    (h(id), id) — the q_dataset_split arithmetic, identical in SQL;
  *  - scores = the shared round-4 cosine;
  *  - every beam is a top-`beamWidth` by (cos DESC, id) — total order,
  *    so each round's beam is VALUE-determined and the oracle replays
  *    all rounds verbatim.
  * Because beam_{r-1} ⊆ candidates_r, the beam's best score is monotone
  * non-decreasing round over round (the spec pins it).
  *
  * Scale shape per round: one beam⨝graph expansion (beam rows ≤
  * |queries|·(beamWidth·k_graph + beamWidth)), one id-keyed embedding
  * attach, one per-query top-B window — all bounded by the query set,
  * never corpus-quadratic. Rounds are fixed; the query-sized per-round
  * lazy pins are freed together once the output is pinned.
  */
object GraphSearch {

  /** @param graph   directed k-NN edges (id, neighbor_id) — symmetrized
    *                internally for connectivity
    * @param emb     corpus (vec_id, embedding)
    * @param queries query rows (vec_id, embedding)
    * @return (query_id, neighbor_id, cos_sim): top-k per query after
    *         `rounds` beam expansions
    */
  def search(graph: DataFrame, emb: DataFrame, queries: DataFrame,
             beamWidth: Int = 4, rounds: Int = 3, k: Int = 3,
             nEntry: Int = 4): DataFrame = {
    require(beamWidth >= 1 && rounds >= 1 && k >= 1 && nEntry >= 1)
    require(k <= beamWidth, "k must be <= beamWidth (the final beam is the pool)")
    // every pin below is held to scope exit, after the eager output
    // checkpoint: the per-round pins are QUERY-sized (≤ |queries|·
    // beamWidth·(k_graph+1) rows) and lazy, and freeing a superseded
    // lazy pin mid-loop loses blocks later rounds still read (measured:
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); there is no generation-sized
    // growth to bound here, unlike kCore's edge-list generations
    graft.Pins.scope { p =>
      val g = p.pin(graph.select(col("id").as("v"), col("neighbor_id").as("w"))
        .unionByName(graph.select(col("neighbor_id").as("v"), col("id").as("w")))
        .distinct(), false)
      val corpus = emb.filter(col("embedding").isNotNull)
      val entry = corpus.select(col("vec_id").as("node"))
        .orderBy(col("node") % 1048573L * 2654435761L % 1048576L, col("node"))
        .limit(nEntry)
      val q = p.pin(queries.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("query_id"), col("embedding").as("__qe")), false)
      val embN = corpus.select(col("vec_id").as("node"), col("embedding").as("__ne"))
      var beam = q.select(col("query_id")).crossJoin(broadcast(entry))
      var scored: DataFrame = null
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("node"))
      for (_ <- 1 to rounds) {
        val cand = beam.unionByName(
            beam.join(g, beam("node") === g("v"))
              .select(col("query_id"), col("w").as("node")))
          .distinct()
        scored = p.pin(cand.filter(col("node") =!= col("query_id"))
          .join(embN, Seq("node"))
          .join(q, Seq("query_id"))
          .withColumn("cos_sim",
            round(VectorFunctions.cosine(col("__qe"), col("__ne")), 4))
          .select(col("query_id"), col("node"), col("cos_sim")), false)
        beam = p.pin(scored.withColumn("__rn", row_number().over(wq))
          .filter(col("__rn") <= beamWidth)
          .select(col("query_id"), col("node")), false)
      }
      scored.withColumn("__rn", row_number().over(wq))
        .filter(col("__rn") <= k)
        .select(col("query_id"), col("node").as("neighbor_id"), col("cos_sim"))
        .localCheckpoint(true)
    }
  }
}

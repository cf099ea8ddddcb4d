package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Anneal-phase data scheduling — the published two-phase training-data
  * recipe (the final fraction of training upweights high-quality data:
  * LLaMA 3's "annealing on small amounts of high-quality data",
  * MiniCPM's decay-phase mixture; public knowledge). The engine-side
  * deliverable is the ordered MANIFEST: every doc gets a deterministic
  * position in the token timeline, the tail `annealBp` basis points of
  * the timeline form the anneal phase, and only docs the trained
  * quality signal passes may occupy it (the prior-free evidence form:
  * trained [[Dsir]] log-ratio > 0 — "more curated-like than
  * crawl-like"; the [[QualityClassifier]] MAP posterior adds the class
  * prior, which belongs to classification, not tail-mix eligibility).
  *
  * Determinism: timeline order is (portable md5-prefix hash of the id,
  * id) — partition/engine independent; the phase boundary is exact
  * integer arithmetic on the token total ((10000−annealBp)·T div
  * 10000). The global running offset uses the ranged two-pass cumsum
  * ([[Mixture]]'s machinery) — no single-task global sort at any size.
  * Output: (id, n_tokens, dsir_score, phase, tok_offset); low-quality
  * docs that land in the anneal window are DROPPED (the recipe trains
  * its tail on the filtered slice only), so anneal offsets keep their
  * timeline values with gaps — the manifest orders by offset.
  */
object Curriculum {

  def annealSchedule(docs: DataFrame, idCol: String, textCol: String,
                     positiveFlag: Column, annealBp: Int = 1000,
                     nBuckets: Int = 64): DataFrame = {
    require(annealBp >= 1 && annealBp <= 9999, "annealBp in [1, 9999]")
    // eligibility = the prior-free evidence: the trained DSIR log-ratio
    // (> 0 reads "more curated-like than crawl-like"); the MAP posterior
    // with a small curated class rejects nearly everything — its prior
    // belongs to classification, not to tail-mix eligibility
    val scored = Dsir.importanceScoresByFlag(
      docs, positiveFlag, idCol, textCol, nBuckets)
    val toks = docs
      .select(col(idCol),
        graft.functions.TextFunctions.tokenCount(col(textCol))
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val base = toks.join(scored, Seq(idCol))
      .withColumn("__h",
        conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .withColumn("__g", lit(0))
    // LAZY pin (r11 technique): the range exchange materializes inside
    // the total agg's own job instead of a dedicated checkpoint job —
    // one less scheduled action on a query that is job-count-floor
    // bound; the scope frees it after every consumer action
    graft.Pins.scope { p =>
      val withBefore = Mixture.withRunningBeforeCols(
        p, base, "__g", Seq("__h", idCol), "n_tokens", eagerPin = false)
      // the timeline's token total: every row's end offset is ≤ it, the
      // LAST row's equals it — one 1-row aggregate over the pinned pass
      val total = withBefore
        .agg(max(col("__before") + col("n_tokens"))).head().getLong(0)
      val mainBudget = (10000L - annealBp) * total / 10000L
      withBefore
        .withColumn("phase",
          when(col("__before") < mainBudget, lit("main")).otherwise(lit("anneal")))
        .filter(col("phase") === "main" || col("dsir_score") > 0L)
        .select(col(idCol), col("n_tokens"), col("dsir_score"), col("phase"),
          col("__before").as("tok_offset"))
        .localCheckpoint(true)
    }
  }
}

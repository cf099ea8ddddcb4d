package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Decontaminate, NearDup}
import graft.functions.{GramHash, MinHash, SetOverlap, TextFunctions}
import graft.operators.{Assortments, Denormalize, ListColumns, PivotOps, SurrogateKeys}
import graft.pipelines.TrainingData
import graft.plans.ImportJob
import graft.similarity.ItemSim
import graft.sources.Tables

object Workloads {
  /** The workload `name` over its generated inputs; `params` are the
    * runner's model settings, `state` a directory for set-up's tables.
    */
  def make(spark: SparkSession, name: String, inputs: String, params: Map[String, Any],
           state: String): Workload = {
    def int(k: String) = params(k).toString.toDouble.toInt
    name match {
      case "ecom_sync" => new EcomSync(spark, inputs)
      case "ecom_export" => new EcomExport(spark, inputs)
      case "corpus_curation" =>
        new CorpusCuration(spark, inputs, params("rates").asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.toString.toDouble }, int("pack_budget"))
      case "item_neighbours" => new ItemNeighbours(spark, inputs, state, int("cap"), int("k"))
      case other => sys.error(s"unknown workload $other")
    }
  }
}

/** One workload: what set-up prepares, what one operation does, and the
  * traced-only extras that call single modules on the operation's input.
  * `kinds` is the round of operation variants the loop cycles through.
  */
trait Workload {
  def kinds: Seq[String] = Seq("op")
  def setup(): Unit = ()
  /** Runs one operation, writing its outputs under `out`; returns
    * extra facts for the checks (JSON object members).
    */
  def op(kind: String, out: String): Map[String, Any]
  /** Per-layer figures measured outside the operation (traced phase). */
  def extras(): Map[String, Double] = Map.empty
}

abstract class Base(spark: SparkSession, inputs: String) extends Workload {
  /** Opens one generated input; the star-schema names go through the
    * program's table registry, the rest through Spark's parquet reader.
    */
  protected def open(name: String): DataFrame = Spans("sources.load") {
    if (Tables.All.contains(name)) Tables.load(spark, inputs, name)
    else spark.read.parquet(s"$inputs/$name.parquet")
  }
  protected def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

/** The reference's write side: groups → products → relations →
  * assortments staged and merged by ImportJob, the merged tables written.
  */
final class EcomSync(spark: SparkSession, inputs: String) extends Base(spark, inputs) {
  def op(kind: String, out: String): Map[String, Any] = {
    val dest = Seq("groups", "products", "relations", "assortments").map(t => t -> open(t)).toMap
    val feed = Seq("in_groups", "in_products", "in_relations", "users", "perm")
      .map(t => t -> open(t)).toMap
    lazy val maxUid = dest("products").agg(max(col("uid"))).collect()(0).getLong(0)
    def enProducts(lookup: String => DataFrame): DataFrame =
      lookup("products").filter(col("lang") === "en").select(col("product_id"))
    val specs = Seq(
      ImportJob.TableSpec("groups", keys = Seq("group_id")),
      ImportJob.TableSpec("products", keys = Seq("product_id", "lang"),
        dedupKeys = Seq("product_id"), dedupOrder = Seq("price"),
        deleteExcess = true, deleteExcessScope = Seq("lang"),
        constants = Map("lang" -> "en"),
        rowRules = Seq("name_ok" -> !col("product_name").contains("#")),
        fkGate = Some(ImportJob.FkGate(Seq("group_id"), ImportJob.FkQuarantine)),
        preResolve = (df, lookup) => Denormalize.resolve(df, lookup("groups"),
          Seq("group_name_ref" -> "group_name"), Seq("group_id" -> "group_id")),
        post = merged => {
          val fresh = SurrogateKeys.assign(merged.filter(col("uid").isNull).drop("uid"),
            Seq(col("product_id"), col("lang")), "uid", startAt = maxUid + 1)
          merged.filter(col("uid").isNotNull)
            .unionByName(fresh.select(merged.columns.map(col): _*))
        }),
      ImportJob.TableSpec("relations", keys = Seq("product_id", "related_id"),
        deleteExcess = true,
        // both ends must name a product of the synced en catalogue
        preResolve = (df, lookup) => df
          .join(enProducts(lookup), Seq("product_id"), "left_semi")
          .join(enProducts(lookup).withColumnRenamed("product_id", "related_id"),
            Seq("related_id"), "left_semi")),
      ImportJob.TableSpec("assortments", keys = Seq("user_id", "product_id")))
    val incoming: String => DataFrame = {
      case "groups" => feed("in_groups")
      case "products" => feed("in_products")
      case "relations" => feed("in_relations")
      case "assortments" => Assortments.rebuildWithFlag(dest("assortments"),
          feed("users"), feed("perm"), "seg", Seq("user_id", "product_id"), "__active")
        .select(col("user_id"), col("product_id"), col("__active").cast("int").as("is_active"))
    }
    val merged = Spans("plans.import_run") {
      ImportJob.run(specs, dest, incoming,
        deps = Map("products" -> Set("groups"), "relations" -> Set("products"),
          "assortments" -> Set("products")))
    }
    Spans("plans.import_write") {
      Seq("groups", "products", "products__quarantined", "relations", "assortments")
        .foreach(t => write(merged(t), s"$out/$t"))
    }
    Map.empty
  }
}

/** The reference's read side: a catalogue export of pruned reads, id→name
  * resolution, packed lists, a discovered pivot and a primary-group lookup.
  */
final class EcomExport(spark: SparkSession, inputs: String) extends Base(spark, inputs) {
  def op(kind: String, out: String): Map[String, Any] = {
    val products = open("products")
    val groups = open("groups")
    val groupProducts = open("group_products")
    val relations = open("relations")
    val fields = open("category_values")
    val reads = Spans("operators.export_build") {
      val catalogue = products
        .filter(col("lang").isin("en", "fr") && col("shop_id").isin("SHOP1", "SHOP2"))
        .select(col("product_id"), col("lang"), col("product_name"), col("price"),
          col("group_id"))
      val gp = Denormalize.resolve(groupProducts, groups, Seq("group_id" -> "group_id"),
        Seq("group_name" -> "group_name", "shop_id" -> "shop_id"))
      Seq(
        "catalogue" -> Denormalize.resolve(catalogue, groups,
          Seq("group_id" -> "group_id"), Seq("group_name" -> "group_name")),
        "group_lists" -> ListColumns.pack(gp, Seq("product_id"), col("group_name"), "groups"),
        "shop_lists" -> ListColumns.pack(gp.select("product_id", "shop_id").distinct(),
          Seq("product_id"), col("shop_id"), "shops"),
        "related_lists" -> ListColumns.pack(relations, Seq("product_id"),
          col("related_id").cast("string"), "related"),
        "fields" -> PivotOps.toWideDynamic(fields, Seq("product_id"), "field_name",
          sum(col("value")), maxColumns = 100),
        "primary_groups" -> Denormalize.resolve(
          groupProducts.filter(col("is_primary")).select("product_id", "group_id"),
          groups, Seq("group_id" -> "group_id"), Seq("group_name" -> "group_name")))
    }
    Spans("operators.export_write") {
      reads.foreach { case (name, df) => write(df, s"$out/$name") }
    }
    Map.empty
  }
}

/** TrainingData.prepare over a seeded corpus with planted duplicates and
  * contamination; the traced phase also times the dedup calls and the
  * custom column kernels on their own.
  */
final class CorpusCuration(spark: SparkSession, inputs: String, rates: Map[String, Double],
                           budget: Int) extends Base(spark, inputs) {
  private val cfg = TrainingData.Config(rates = rates, packBudget = budget)

  def op(kind: String, out: String): Map[String, Any] = {
    val docs = open("documents")
    val bench = open("bench")
    val (prepared, m) = Spans("pipelines.prepare")(TrainingData.prepare(docs, bench, cfg))
    Spans("pipelines.write")(write(prepared, s"$out/prepared"))
    Map("stage_counts" -> Seq(m.input, m.cleaned, m.decontaminated, m.sampled, m.trainPacked))
  }

  private def timed(name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    Spans(name)(body)
    (System.nanoTime() - t0) / 1e9
  }

  override def extras(): Map[String, Double] = {
    val docs = open("documents").localCheckpoint(true)
    val bench = open("bench")
    val n = docs.count().toDouble
    // on the operation's input: the cleaned corpus has no near-duplicates
    // and no contamination left to find
    var verified = 0L
    val pairsS = timed("dedup.minhash_pairs") {
      val p = NearDup.minhashPairs(docs, "doc_id", "text")
      verified = p.count(); p.unpersist()
    }
    var candidates = 0L
    timed("dedup.minhash_candidates") {
      candidates = NearDup.minhashCandidates(docs, "doc_id", "text").count()
    }
    val deconS = timed("dedup.decontaminate") {
      Decontaminate.contaminatedIds(docs, bench, "doc_id", "text").count()
    }
    def rate(name: String, agg: Column, input: DataFrame = docs): Double =
      n / timed(name)(input.agg(agg).collect())
    val toks = TextFunctions.tokens(col("text"))
    val annotate = rate("functions.annotate",
      sum(TextFunctions.qualityScoreT(toks, col("text")) +
        length(TextFunctions.langIdT(toks))))
    val minhash = rate("functions.minhash",
      max(xxhash64(MinHash.minhashSignature(col("text"), 64, 3))))
    val gramhash = rate("functions.gramhash", sum(size(GramHash.gramHashes(col("text"), 13))))
    def gramSet(t: Column) = array_sort(array_distinct(GramHash.gramHashes(t, 3)))
    val sets = docs.select(gramSet(col("text")).as("a"),
      gramSet(concat_ws(" ", slice(TextFunctions.tokens(col("text")), 5, 1000))).as("b"))
      .localCheckpoint(true)
    val setoverlap = rate("functions.setoverlap",
      sum(SetOverlap.interCount(SetOverlap.packedCounts(col("a"), col("b")))), sets)
    Map(
      "dedup.minhash_pairs_s" -> pairsS, "dedup.decontaminate_s" -> deconS,
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verify_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
      "functions.minhash_rows_per_s" -> minhash, "functions.gramhash_rows_per_s" -> gramhash,
      "functions.setoverlap_rows_per_s" -> setoverlap,
      "functions.annotate_rows_per_s" -> annotate)
  }
}

/** Item neighbours kept up to date: base count tables built in set-up;
  * each operation folds one CDC batch and writes the top-k. Operations
  * alternate between a batch of changed customers and the same batch
  * plus guest-checkout rows (null customer).
  */
final class ItemNeighbours(spark: SparkSession, inputs: String, state: String,
                           cap: Int, k: Int) extends Base(spark, inputs) {
  override def kinds: Seq[String] = Seq("customers", "guests")

  override def setup(): Unit = {
    val (pairs, items) = ItemSim.counts(open("interactions"), "customer_id", "product_id",
      "strength", cap)
    write(pairs, s"$state/pairs")
    write(items, s"$state/items")
  }

  def op(kind: String, out: String): Map[String, Any] = {
    val pairs = Spans("sources.load")(spark.read.parquet(s"$state/pairs"))
    val items = Spans("sources.load")(spark.read.parquet(s"$state/items"))
    val oldRows = open("old_a")
    val newRows = open(if (kind == "guests") "new_b" else "new_a")
    val (p2, i2) = Spans("similarity.maintain") {
      ItemSim.maintainCounts(pairs, items, oldRows, newRows, "customer_id", "product_id",
        "strength", cap)
    }
    Spans("similarity.score_write") {
      write(ItemSim.neighborsFromCounts(p2, i2, k), s"$out/neighbours")
    }
    Map.empty
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._
import graft.functions.{Fingerprint, GramHash, TextFunctions, VectorFunctions}
import graft.plans.{ImportJob, Quarantine, TableOrder}
import graft.dedup.{Clusters, NearDup}
import graft.similarity.{Knn, Pq, Rq}
import graft.multimodal.Multimodal
import graft.streaming.EventPipeline

/** Driver contract — one entry per operator in SURVEY.md §2.
  *
  * Conventions shared with the DuckDB oracles (SURVEY.md §6): every
  * computed column aliased identically on both sides; every query ends in
  * a total ORDER BY; floating-point aggregates go through
  * `sum(cast(x as decimal))` then back to double so both engines sum
  * exactly; rounding applied identically.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact cross-engine double sum: decimal-sum then back to double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(30,$scale)")).cast("double")

  /** Decimal sum rounded IN DECIMAL (exact HALF_UP), then to double.
    * round(double, n) is a cross-engine hazard whenever the true value
    * lands on a decimal half boundary (common for money sums with few
    * decimals): Spark rounds the shortest decimal string, DuckDB the
    * binary value. Rounding while still decimal is exact in both.
    */
  private def dsumRound(c: Column, sumScale: Int, outScale: Int): Column =
    round(sum(c.cast(s"decimal(30,$sumScale)")), outScale).cast("double")

  /** Deterministic 4-dp ratio: floor(x*10^4 + 0.5)/10^4 over exact
    * integer-valued doubles — no string-representation dependence.
    */
  private def ratio4(num: Column, den: Column): Column =
    (floor(num.cast("double") * 10000.0 / den.cast("double") + 0.5) / 10000.0)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // Shared fragment: the staged "incoming" batch merged into orders by the
  // q_merge_* family (updates for keys %5, brand-new keys from %7 shifted
  // by 10M — mirrors MoveDataToMainTable's matched/unmatched split).
  private def incomingOrders(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    // +/- exact-double constants: no rounding, so both engines produce
    // bit-identical incoming prices (round(x*k, 2) has cross-engine
    // half-case hazards).
    val upd = o.filter(col("o_orderkey") % 5 === 0).select(
      col("o_orderkey"),
      lit("U").as("o_orderstatus"),
      (col("o_totalprice") + 1000.0).as("o_totalprice"))
    val ins = o.filter(col("o_orderkey") % 7 === 0).select(
      (col("o_orderkey") + 10000000L).as("o_orderkey"),
      lit("N").as("o_orderstatus"),
      (col("o_totalprice") - 500.0).as("o_totalprice"))
    upd.unionByName(ins)
  }

  private def destOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** The composed RunJob loop (see the q_ecom_job registration) with an
    * optional strict-FK arm: `strictFk` puts an [[ImportJob.FkGate]]
    * (FkFail) on the products table's freshly-resolved group_id — the
    * reference's FailOnMissingGroups check (EcomDestinationWriter.cs:4566,
    * fired from RunJob when CreateMissingGroups is off,
    * EcomProvider.cs:1004). Every group reference in this feed resolves
    * against the merged groups table, so the gated run must be
    * byte-identical to the ungated one — both registered queries
    * hash-check against the SAME DuckDB oracle; the failing arm (a
    * dangling name aborts with the violating rows) is pinned by
    * ImportJobSpec.
    */
  private def ecomJobChecksums(s: SparkSession, dir: String,
                               strictFk: Boolean,
                               partial: Boolean = false): DataFrame = {
      // The reference's WHOLE RunJob loop as ONE composed, hash-checked
      // query (EcomProvider.cs:934 RunJob → :819 OrderTablesInJob →
      // EcomDestinationWriter.cs:3165 MoveDataToMainTables): an
      // ecom-shaped 4-table feed staged from the star schema and run
      // through ImportJob in dependency order — groups upsert first; then
      // products with a constant-injected language scope, SkipFailingRows
      // quarantine (EcomProvider.cs:247), FK-BY-NAME resolution against
      // the freshly MERGED groups (renamed and brand-new group names
      // resolve only if the parent table merged first — the
      // dependency-order proof), in-batch dedup keep-first, SCOPED
      // delete-excess (the fr language survives an en feed,
      // EcomDestinationWriter.cs:3067/3091), and surrogate uids for
      // inserted rows continuing from the destination max (GetLastId,
      // EcomDestinationWriter.cs:657); then relations with orphan cleanup
      // against the SYNCED product table (:4218) plus full-sync delete;
      // then the assortment rebuild (AssortmentHandler.cs:116). Result:
      // per-table order-independent content checksums (incl. the
      // quarantine side channel) — the DuckDB oracle replays the entire
      // job in SQL and must land on the same five digests.
      val nation = t(s, dir, "nation"); val region = t(s, dir, "region")
      val part = t(s, dir, "part"); val lineitem = t(s, dir, "lineitem")
      val customer = t(s, dir, "customer"); val orders = t(s, dir, "orders")
      val priceD = col("p_retailprice").cast("decimal(18,2)")

      val destGroups = nation
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast("int").as("group_id"),
          col("n_name").as("group_name"), col("r_name").as("region"))
      val destProducts = part.select(
        col("p_partkey").as("product_id"), col("p_name").as("product_name"),
        (col("p_partkey") % 25).cast("int").as("group_id"),
        priceD.as("price"), lit("en").as("lang"),
        (col("p_partkey") * 10).as("uid"))
        .unionByName(part.filter(col("p_partkey") % 5 === 0).select(
          col("p_partkey").as("product_id"), col("p_name").as("product_name"),
          (col("p_partkey") % 25).cast("int").as("group_id"),
          priceD.as("price"), lit("fr").as("lang"),
          (col("p_partkey") * 10 + 1).as("uid")))
      def relsOf(line: Int) = lineitem.filter(col("l_linenumber") === line)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("bigint").as("qty"))
        .select(col("l_partkey").as("product_id"),
          col("l_suppkey").as("related_id"), col("qty"))
      val destRelations = relsOf(1)
      val users = customer.filter(col("c_acctbal") > 9500)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("seg"))
      val sold = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      // pinned: the destination-assortment pair set feeds BOTH the dest
      // side of the merge and the rebuild's tagged union — unpinned,
      // the lineitem⋈orders⋈customer chain (the job's biggest join)
      // executes once per consumer (guide §2.4; the ItemSim `full` pin
      // precedent). The pinned frame is the assortment table itself —
      // the same rows the merge must shuffle anyway. The pin compiles
      // (and under AQE, materializes its exchange ladder) on a FUTURE:
      // it is independent of the groups→products→relations chain, so
      // it overlaps the job's staging instead of serializing in front
      // of it (guide §2.6); the assortments table awaits it through
      // the dest/incoming lookups.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration.Inf
      import scala.concurrent.ExecutionContext.Implicits.global
      val pairsF = Future {
        users.join(sold, col("o_custkey") === col("user_id"))
          .select(col("user_id"), col("l_partkey").as("part_key")).distinct()
          .localCheckpoint(false)
      }

      val inGroups = destGroups.filter(col("group_id") < 10)
        .select(col("group_id"),
          concat(col("group_name"), lit("*")).as("group_name"), col("region"))
        .unionByName(region.select(
          (col("r_regionkey") + 100).cast("int").as("group_id"),
          concat(lit("NEW-"), col("r_name")).as("group_name"),
          col("r_name").as("region")))
      // the product batch references groups BY their POST-merge names
      val pNames = part
        .join(broadcast(nation), (col("p_partkey") % 25) === col("n_nationkey"))
        .join(broadcast(region), (col("p_partkey") % 5) === col("r_regionkey"))
      val gref = when(col("p_partkey") % 7 === 0, concat(lit("NEW-"), col("r_name")))
        .when(col("p_partkey") % 25 < 10, concat(col("n_name"), lit("*")))
        .otherwise(col("n_name"))
      def batchArm(mod: Int, shift: Long, prefix: String, bump: String) =
        pNames.filter(col("p_partkey") % mod === 0).select(
          (col("p_partkey") + shift).as("product_id"),
          concat(lit(prefix), col("p_name")).as("product_name"),
          gref.as("group_name_ref"),
          (priceD + lit(new java.math.BigDecimal(bump)))
            .cast("decimal(18,2)").as("price"))
      val inProducts = batchArm(3, 0L, "", "1.00")
        .unionByName(batchArm(13, 1000000L, "NP ", "2.00"))
        .unionByName(batchArm(33, 0L, "", "5.00")) // in-batch dups of the %3 arm
      def inAssort = Assortments.rebuildWithFlag(Await.result(pairsF, Inf),
        users,
        sold.filter(col("l_quantity") === 50)
          .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"), col("l_partkey").as("part_key")),
        "seg", Seq("user_id", "part_key"), "__active")
        .select(col("user_id"), col("part_key"),
          col("__active").cast("int").as("is_active"))

      // GetLastId: the surrogate sequence continues from the destination
      // max — a bounded 1-row aggregate, like the reference's max-id
      // read. On a future: independent of every staging ladder, awaited
      // only inside the products post hook (guide §2.6).
      val maxUidF = Future { destProducts.agg(max(col("uid"))).collect()(0).getLong(0) }
      val specs = Seq(
        ImportJob.TableSpec("groups", keys = Seq("group_id")),
        ImportJob.TableSpec("products", keys = Seq("product_id", "lang"),
          dedupKeys = Seq("product_id"), dedupOrder = Seq("price"),
          deleteExcess = true, deleteExcessScope = Seq("lang"),
          constants = Map("lang" -> "en"),
          fkGate = if (strictFk) Some(ImportJob.FkGate(Seq("group_id")))
                   else None,
          rowRules = Seq("name_ok" -> !col("product_name").contains("cold")),
          preResolve = (df, lookup) => Denormalize.resolve(df, lookup("groups"),
            Seq("group_name_ref" -> "group_name"), Seq("group_id" -> "group_id"))
            .drop("group_name_ref"),
          post = out => {
            val fresh = SurrogateKeys.assign(
              out.filter(col("uid").isNull).drop("uid"),
              Seq(col("product_id"), col("lang")), "uid",
              startAt = Await.result(maxUidF, Inf) + 1)
            out.filter(col("uid").isNotNull)
              .unionByName(fresh.select(out.columns.map(col): _*))
          }),
        ImportJob.TableSpec("relations", keys = Seq("product_id", "related_id"),
          deleteExcess = true,
          // PartialUpdate (EcomProvider.cs:264): relation cleanup scoped
          // to products staged by THIS import — relations of untouched
          // products survive the sync (EcomDestinationWriter.cs:4285)
          partialUpdate = if (partial) Some(ImportJob.ParentScope(
            "products", Seq("product_id"), Seq("product_id"))) else None,
          preResolve = (df, lookup) => df.join(
            lookup("products").filter(col("lang") === "en")
              .select(col("product_id")).distinct(),
            Seq("product_id"), "left_semi")),
        ImportJob.TableSpec("assortments", keys = Seq("user_id", "part_key")))

      // dest/incoming as lazy lookups: the assortment legs await the
      // pair-set pin future only when the assortments table stages
      val outT = ImportJob.run(specs,
        dest = {
          case "groups" => destGroups
          case "products" => destProducts
          case "relations" => destRelations
          case "assortments" =>
            Await.result(pairsF, Inf).withColumn("is_active", lit(1))
        },
        incoming = {
          case "groups" => inGroups
          case "products" => inProducts
          case "relations" => relsOf(2)
          case "assortments" => inAssort
        },
        deps = Map("products" -> Set("groups"), "relations" -> Set("products"),
          "assortments" -> Set("products")))

      // ONE action for all five digests: per-leg row digests tagged by
      // table name, one union, one aggregate — the five separate
      // exchange+agg subtrees were the only >1 s stage-jobs of the whole
      // job (JobProfile, round 13); values identical to per-table
      // groupChecksum by construction
      Profile.taggedChecksum(Seq(
        ("groups", outT("groups"), Seq("group_id", "group_name", "region")),
        ("products", outT("products"),
          Seq("product_id", "product_name", "group_id", "price", "lang", "uid")),
        ("products_quarantined", outT("products__quarantined"),
          Seq("product_id", "product_name", "group_name_ref", "price", "lang",
            "quarantine_reason")),
        ("relations", outT("relations"),
          Seq("product_id", "related_id", "qty")),
        ("assortments", outT("assortments"),
          Seq("user_id", "part_key", "is_active"))))
        .orderBy(col("table_name"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── §2A Relational ETL core ────────────────────────────────────────

    "q_filtered_read" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(lit("1996-01-01").cast("timestamp"),
          lit("1996-12-31").cast("timestamp")) && col("l_quantity") < 25)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_conditional_mapping" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus") =!= "F" &&
          col("o_totalprice") >= 200000 &&
          col("o_orderpriority").contains("URGENT") &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    "q_denorm_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val withNation = Denormalize.resolve(sup, t(s, dir, "nation"),
        Seq("s_nationkey" -> "n_nationkey"),
        Seq("n_name" -> "nation_name", "n_regionkey" -> "__rk"))
      Denormalize.resolve(withNation, t(s, dir, "region"),
        Seq("__rk" -> "r_regionkey"), Seq("r_name" -> "region_name"))
        .select(col("s_suppkey"), col("s_name"), col("nation_name"), col("region_name"))
        .orderBy(col("s_suppkey"))
    }),

    "q_string_agg" -> ((s, dir) => {
      val cust = Denormalize.resolve(t(s, dir, "customer"), t(s, dir, "nation"),
        Seq("c_nationkey" -> "n_nationkey"), Seq("n_name" -> "n_name"))
      ListColumns.pack(cust, Seq("n_name"), col("c_name"), "customer_list")
        .join(cust.groupBy("n_name").agg(count(lit(1)).as("n_customers")), Seq("n_name"))
        .orderBy(col("n_name"))
    }),

    "q_pivot" -> ((s, dir) => {
      PivotOps.toWide(
        t(s, dir, "events"), Seq("user_id"), "event_type",
        round(sum(col("value").cast("decimal(30,6)")), 2).cast("double"),
        Seq("click", "error", "purchase", "signup", "view"))
        .select(col("user_id"),
          col("click").as("v_click"), col("error").as("v_error"),
          col("purchase").as("v_purchase"), col("signup").as("v_signup"),
          col("view").as("v_view"))
        .orderBy(col("user_id"))
    }),

    "q_pivot_dynamic" -> ((s, dir) => {
      // column set DISCOVERED from the rows (GetProductCategoryFields →
      // PIVOT, EcomSourceReader.cs:56-81,267-279), not declared — the
      // DuckDB oracle discovers its columns with a dynamic PIVOT too
      PivotOps.toWideDynamic(
        t(s, dir, "events"), Seq("user_id"), "event_type",
        round(sum(col("value").cast("decimal(30,6)")), 2).cast("double"),
        maxColumns = 100)
        .orderBy(col("user_id"))
    }),

    "q_table_checksum" -> ((s, dir) => {
      // sync validation: row counts match ⇏ content matches. Per-group
      // order-independent 60-bit digest sums — source and destination
      // compare content without a sort or a second data movement.
      // The double price goes through decimal(18,2) because double→string
      // FORMATTING is engine-divergent (the digest contract).
      Profile.groupChecksum(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"),
          col("l_extendedprice").cast("decimal(18,2)").as("price_d")),
        Seq("l_returnflag"), Seq("l_orderkey", "l_linenumber", "price_d"))
        .orderBy(col("l_returnflag"))
    }),

    "q_unpivot" -> ((s, dir) => {
      // wide → key/value rows (stack): the destination-side inverse of
      // q_pivot, the reference writing pivoted category columns back as
      // field-value rows (EcomDestinationWriter.cs:2376
      // WriteCategoyFieldValues). Narrow transform, no shuffle — the
      // total ORDER BY here is oracle-compare convention only.
      PivotOps.toLong(
        t(s, dir, "lineitem").filter(col("l_orderkey") <= 2000)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_discount", "l_tax"), "metric", "amount")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }),

    "q_unpivot_dropempty" -> ((s, dir) => {
      // the IgnoreEmptyCategoryFieldValues ON arm (EcomProvider.cs:257,
      // EcomDestinationWriter.cs:1494): string-valued unpivot where
      // every even line's flag cell is the EMPTY string — dropEmpty
      // treats those as absent, so no key/value row is emitted and a
      // destination value would survive the write-back
      PivotOps.toLong(
        t(s, dir, "lineitem").filter(col("l_orderkey") <= 2000)
          .select(col("l_orderkey"), col("l_linenumber"),
            when(col("l_linenumber") % 2 === 0, lit(""))
              .otherwise(col("l_returnflag")).as("flag"),
            col("l_linestatus").as("status")),
        Seq("l_orderkey", "l_linenumber"),
        Seq("flag", "status"), "metric", "amount",
        dropEmpty = true)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }),

    "q_range_join" -> ((s, dir) => {
      // interval containment as an EQUI-join on bucket ids (hash join +
      // in-bucket verify) instead of the nested-loop BETWEEN Spark
      // would plan; 'promo' overlaps 'mid'/'high' so rows can multi-match
      import s.implicits._
      val bands = Seq(
        (0L, 99999L, "low"), (100000L, 299999L, "mid"),
        (300000L, 999999L, "high"), (250000L, 350000L, "promo"))
        .toDF("lo", "hi", "tier")
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice")).cast("long").as("price_l"))
      RangeJoin.byBucket(orders, bands, "price_l", "lo", "hi", bucketWidth = 50000L)
        .select(col("o_orderkey"), col("price_l"), col("tier"))
        .orderBy(col("o_orderkey"), col("tier"))
    }),

    "q_asof_join" -> ((s, dir) => {
      // point-in-time lookup: each event sees the user's latest purchase
      // value at-or-before its timestamp (DuckDB verifies with a native
      // ASOF LEFT JOIN; Spark side is the one-shuffle union-sort carry)
      val ev = t(s, dir, "events")
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      val l = ev.select(col("event_id"), col("user_id"), col("ts"), col("value"))
      AsOf.joinAsOf(l, r, Seq("user_id"), "ts", Seq("pval"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          round(col("asof_pval").cast("decimal(30,6)"), 2).cast("double")
            .as("last_purchase"))
        .orderBy(col("event_id"))
    }),

    "q_correlated_lookup" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("top_orderkey"),
          col("o_totalprice").as("top_totalprice"))
        .orderBy(col("o_custkey"))
    }),

    "q_explode_relations" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .orderBy(col("doc_id"), col("token"))
    }),

    "q_merge_upsert" -> ((s, dir) => {
      Merge.upsert(destOrders(s, dir), incomingOrders(s, dir), Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    "q_update_existing" -> ((s, dir) => {
      Merge.updateExisting(destOrders(s, dir), incomingOrders(s, dir), Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    "q_scd2" -> ((s, dir) => {
      // history-preserving merge: changed keys close their open row and
      // append a new one; unchanged and absent keys pass through
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val dest = o.withColumn("valid_from", lit("2020-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .withColumn("is_current", lit(true))
      val changedIn = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      val sameIn = o.filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 3 === 0)
      val newIn = o.filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), (col("o_totalprice") - 500.0).as("o_totalprice"))
      Scd.applyType2(dest, changedIn.unionByName(sameIn).unionByName(newIn),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"), "2024-06-01")
        .orderBy(col("o_orderkey"), col("valid_from"))
    }),

    "q_scd2_snapshot" -> ((s, dir) => {
      // time travel over the Type 2 history: the as-of read at an
      // instant BEFORE the merge reconstructs the pre-merge table
      // exactly — the oracle is literally SELECT .. FROM orders.
      // Filter-only over the history (no join, no shuffle).
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val dest = o.withColumn("valid_from", lit("2020-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .withColumn("is_current", lit(true))
      val changedIn = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      val sameIn = o.filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 3 === 0)
      val newIn = o.filter(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), (col("o_totalprice") - 500.0).as("o_totalprice"))
      val merged = Scd.applyType2(dest,
        changedIn.unionByName(sameIn).unionByName(newIn),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"), "2024-06-01")
      Scd.snapshotAsOf(merged, "2022-06-01").orderBy(col("o_orderkey"))
    }),

    "q_scd2_feed" -> ((s, dir) => {
      // SCD2 materialized from a multi-version change feed: each change
      // opens its own interval, the open dest row closes at the key's
      // first change, a trailing delete leaves no current row
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val dest = o.withColumn("valid_from", lit("2020-01-01"))
        .withColumn("valid_to", lit(null).cast("string"))
        .withColumn("is_current", lit(true))
      val c1 = o.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey"),
        lit("U1").as("o_orderstatus"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit("2024-01-01").as("ts"), lit("U").as("op"))
      val c2 = o.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey"),
        lit("U2").as("o_orderstatus"), (col("o_totalprice") + 2000.0).as("o_totalprice"),
        lit("2024-02-01").as("ts"), lit("U").as("op"))
      val c3 = o.filter(col("o_orderkey") % 20 === 0).select(col("o_orderkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"),
        lit("2024-03-01").as("ts"), lit("D").as("op"))
      Scd.applyType2Feed(dest, c1.unionByName(c2).unionByName(c3),
        Seq("o_orderkey"), "ts", "op")
        .orderBy(col("o_orderkey"), col("valid_from"))
    }),

    "q_cdc_apply" -> ((s, dir) => {
      // change-feed application: latest change per key wins, tombstones
      // delete — the event-sourced form of the reference's staged sync
      val o = t(s, dir, "orders")
      val u1 = o.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey"),
        lit("U1").as("o_orderstatus"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit(1).as("version"), lit("U").as("op"))
      val u2 = o.filter(col("o_orderkey") % 10 === 0).select(col("o_orderkey"),
        lit("U2").as("o_orderstatus"), (col("o_totalprice") + 2000.0).as("o_totalprice"),
        lit(2).as("version"), lit("U").as("op"))
      val d3 = o.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"),
        lit(3).as("version"), lit("D").as("op"))
      val ins = o.filter(col("o_orderkey") % 13 === 0).select(
        (col("o_orderkey") + 20000000L).as("o_orderkey"),
        lit("N").as("o_orderstatus"), (col("o_totalprice") - 500.0).as("o_totalprice"),
        lit(1).as("version"), lit("I").as("op"))
      val changes = u1.unionByName(u2).unionByName(d3).unionByName(ins)
      Merge.applyCdc(destOrders(s, dir), changes, Seq("o_orderkey"), "version", "op")
        .orderBy(col("o_orderkey"))
    }),

    "q_insert_missing" -> ((s, dir) => {
      Merge.insertMissing(destOrders(s, dir), incomingOrders(s, dir), Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    "q_dedup_exact" -> ((s, dir) => {
      Dedup.keepFirst(t(s, dir, "lineitem"), Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"))
    }),

    "q_delete_excess" -> ((s, dir) => {
      val incoming = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
        .select(col("o_custkey").as("c_custkey"))
      Merge.deleteExcess(t(s, dir, "customer"), incoming, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    "q_delete_excess_scoped" -> ((s, dir) => {
      // one-scope partial import: only nations present in the batch are
      // candidates for deletion (EcomDestinationWriter.cs:3067-3091)
      val cust = t(s, dir, "customer")
      val incoming = cust.filter(col("c_acctbal") > 5000 && col("c_nationkey") < 10)
        .select(col("c_custkey"), col("c_nationkey"))
      Merge.deleteExcessScoped(cust, incoming, Seq("c_custkey"), Seq("c_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
    }),

    "q_assortment_rebuild" -> ((s, dir) => {
      // permission pairs = high-balance customers per segment; assortment
      // products = parts the segment bought at max quantity; existing
      // rows = the users' own purchased parts. Rebuilt rows activate,
      // stale existing rows deactivate (AssortmentHandler.cs:116, :272).
      val cust = t(s, dir, "customer")
      val users = cust.filter(col("c_acctbal") > 9950)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("seg"))
      val sold = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      val productPairs = sold.filter(col("l_quantity") === 50)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("l_partkey").as("part_key"))
      val existing = users.join(sold, col("o_custkey") === col("user_id"))
        .select(col("user_id"), col("l_partkey").as("part_key")).distinct()
      Assortments.rebuildWithFlag(existing, users, productPairs, "seg",
        Seq("user_id", "part_key"), "__active")
        .select(col("user_id"), col("part_key"),
          col("__active").cast("int").as("is_active"))
        .orderBy(col("user_id"), col("part_key"))
    }),

    "q_flag_missing" -> ((s, dir) => {
      val incoming = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      Merge.flagMissing(t(s, dir, "customer"), incoming, Seq("c_custkey"), "__active")
        .select(col("c_custkey"), col("__active").cast("int").as("is_active"))
        .orderBy(col("c_custkey"))
    }),

    "q_surrogate_ids" -> ((s, dir) => {
      SurrogateKeys.assign(t(s, dir, "documents"),
        Seq(col("n_chars"), col("doc_id")), "new_id", startAt = 1001L)
        .select(col("doc_id"), col("new_id"))
        .orderBy(col("doc_id"))
    }),

    "q_name_match" -> ((s, dir) => {
      // the fuzzy tier of resolve-by-name: Jaro–Winkler scores over
      // real varied name pairs (each customer vs the next key's name —
      // shared prefix, diverging digits), reported in floored basis
      // points so a last-ulp engine difference can't flip a row; the
      // oracle runs DuckDB's NATIVE jaro_winkler_similarity — an
      // independent implementation agreeing on every pair
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val d = c.select((col("c_custkey") - 1).as("c_custkey"),
        col("c_name").as("next_name"))
      c.join(d, Seq("c_custkey"))
        .select(col("c_custkey"),
          floor(graft.functions.JaroWinkler.jaroWinkler(
            col("c_name"), col("next_name")) * 10000.0 + 0.5)
            .cast("long").as("sim_bp"))
        .orderBy(col("c_custkey"))
    }),

    "q_fk_by_name" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val named = Denormalize.resolve(t(s, dir, "customer"), nation,
        Seq("c_nationkey" -> "n_nationkey"), Seq("n_name" -> "nation_name"))
        .select("c_custkey", "nation_name")
      Denormalize.resolve(named, nation,
        Seq("nation_name" -> "n_name"), Seq("n_nationkey" -> "resolved_key"))
        .orderBy(col("c_custkey"))
    }),

    "q_create_missing_refs" -> ((s, dir) => {
      val dim = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      Denormalize.missingRefs(
        t(s, dir, "customer").select(col("c_custkey")), "c_custkey", dim, "o_custkey")
        .withColumn("new_ref_id", concat(lit("REF-"), col("c_custkey").cast("string")))
        .orderBy(col("c_custkey"))
    }),

    "q_fk_fallback" -> ((s, dir) => {
      // the writer's lookup ladder: resolve by key when present (even
      // orderkeys), else fall back to the business-name string
      val o = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 2 === 0, col("o_custkey")).as("cust_key_maybe"),
        concat(lit("Customer#"), lpad(col("o_custkey").cast("string"), 9, "0"))
          .as("cust_name"))
      Denormalize.resolveWithFallback(o, t(s, dir, "customer"),
        Seq("cust_key_maybe" -> "c_custkey", "cust_name" -> "c_name"),
        take = "c_custkey" -> "resolved_key")
        .select(col("o_orderkey"), col("resolved_key"))
        .orderBy(col("o_orderkey"))
    }),

    "q_default_values" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        coalesce(when(col("c_name") === "", null).otherwise(col("c_name")), lit("UNKNOWN"))
          .as("name_filled"),
        when(col("c_acctbal") < 0, lit("DELINQUENT")).otherwise(col("c_mktsegment"))
          .as("segment"),
        concat(lit("CUST-"), col("c_custkey").cast("string")).as("ext_id"))
        .orderBy(col("c_custkey"))
    }),

    "q_quarantine" -> ((s, dir) => {
      // SkipFailingRows (EcomProvider.cs:247): rows failing validation
      // are diverted with a reason list instead of failing the job
      val (_, q) = Quarantine.split(t(s, dir, "orders"), Seq(
        "price_high" -> (col("o_totalprice") < 300000),
        "low_prio" -> !col("o_orderpriority").contains("LOW")))
      q.select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority"), col("quarantine_reason"))
        .orderBy(col("o_orderkey"))
    }),

    "q_propagate_variants" -> ((s, dir) => {
      val withNote = t(s, dir, "lineitem")
        .withColumn("ship_note", when(col("l_returnflag") === "N", null)
          .otherwise(col("l_returnflag")))
      Propagate.fillFromParent(withNote, Seq("l_orderkey"),
        col("l_linenumber") === 1, Seq("ship_note"))
        .select(col("l_orderkey"), col("l_linenumber"), col("ship_note"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_distinct_count" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"), count(lit(1)).as("n_lines"))
        .orderBy(col("l_partkey"))
    }),

    "q_assortment_pairs" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup"))
        .join(broadcast(t(s, dir, "customer")), col("user_id") === col("c_custkey"))
        .select(col("user_id"), col("event_type"), col("c_mktsegment"))
        .distinct()
        .orderBy(col("user_id"), col("event_type"))
    }),

    "q_rollup_hierarchy" -> ((s, dir) => {
      val joined = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      joined.rollup(col("r_name"), col("n_name"))
        .agg(dsumRound(col("o_totalprice"), 2, 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    "q_grouping_sets" -> ((s, dir) => {
      // non-hierarchical multi-grain aggregation in ONE pass: per-nation,
      // per-priority, and per-(nation, priority) revenue — the grains a
      // reporting sync materializes separately; GROUPING SETS shares the
      // joined input via a single Expand instead of three scans
      val joined = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      joined.groupingSets(
        Seq(Seq(col("n_name")), Seq(col("o_orderpriority")),
          Seq(col("n_name"), col("o_orderpriority"))),
        col("n_name"), col("o_orderpriority"))
        .agg(dsumRound(col("o_totalprice"), 2, 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    "q_cube" -> ((s, dir) => {
      // full lattice over (nation, priority): grouping sets plus the
      // grand total — one Expand pass like q_grouping_sets; grouping()
      // flags disambiguate a real NULL key from a rolled-up one
      val joined = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      joined.cube(col("n_name"), col("o_orderpriority"))
        .agg(grouping(col("n_name")).cast("int").as("g_nation"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          dsumRound(col("o_totalprice"), 2, 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("g_nation"), col("g_priority"),
          col("n_name").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    "q_sql_api" -> ((s, dir) => {
      // the SQL entry path: same engine driven through spark.sql with
      // registered views — correlated EXISTS + scalar subquery
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql(
        """SELECT c_custkey, c_mktsegment,
          |  (SELECT count(*) FROM v_orders WHERE o_custkey = c_custkey) AS n_orders
          |FROM v_customer
          |WHERE EXISTS (SELECT 1 FROM v_orders
          |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("int").as("prop_k"))
        .orderBy(col("event_id"))
    }),

    "q_table_order" -> ((s, dir) => {
      // level = longest dependency path (closed form, so the DuckDB
      // oracle replays it with a recursive CTE); (level, name) is a
      // deterministic topological serialization — parents always sort
      // before children because level strictly increases along an edge
      val lv = plans.TableOrder.levels(Tables.All)
      val rows = lv.toSeq.sortBy { case (n, l) => (l, n) }.zipWithIndex
        .map { case ((n, l), i) => (i + 1L, n, l.toLong) }
      s.createDataFrame(rows).toDF("position", "table_name", "level")
        .orderBy(col("position"))
    }),

    "q_ecom_job" -> ((s, dir) => ecomJobChecksums(s, dir, strictFk = false)),

    // FailOnMissingGroups (EcomDestinationWriter.cs:4566): same job, with
    // the strict FkFail gate armed on the resolved group_id — passing
    // path proven byte-identical by sharing q_ecom_job's oracle
    "q_ecom_job_strict" -> ((s, dir) => ecomJobChecksums(s, dir, strictFk = true)),

    // PartialUpdate (EcomProvider.cs:264): same job with the relation
    // cleanup scoped to THIS import's products — relations of products
    // the feed didn't touch survive where the full sync deletes them
    // (EcomDestinationWriter.cs:4285; the guard at :3215). The oracle
    // replays the partial delete rule, so the hash DIFFERS from
    // q_ecom_job by exactly the surviving relations.
    "q_ecom_job_partial" -> ((s, dir) =>
      ecomJobChecksums(s, dir, strictFk = false, partial = true)),

    // ── §2B Analytics / bench headliners ───────────────────────────────

    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsumRound(col("l_quantity"), 2, 2).as("sum_qty"),
          dsumRound(col("l_extendedprice"), 2, 2).as("sum_base_price"),
          dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 6, 2)
            .as("sum_disc_price"),
          (floor(avg(col("l_quantity")) * 10000.0 + 0.5) / 10000.0).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q3_top_orders" -> ((s, dir) => {
      val cutoff = lit("1998-03-15").cast("timestamp")
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cutoff)
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > cutoff)
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 6, 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q5_join5" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(dsumRound(col("l_extendedprice") * (lit(1) - col("l_discount")), 6, 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_trend_slope" -> ((s, dir) => {
      // per-region monthly revenue TREND: least-squares slope from
      // exact moment sums (n, Σx, Σy, Σxy, Σx²) — x the integer month
      // index, y the exact decimal month revenue, so both engines carry
      // IDENTICAL exact numerator/denominator into one double division
      // (the PMI-ratio determinism trick applied to regression); two
      // aggregates over months, dims broadcast
      val monthly = t(s, dir, "orders")
        .join(broadcast(Denormalize.resolve(t(s, dir, "customer"),
          t(s, dir, "nation"),
          Seq("c_nationkey" -> "n_nationkey"), Seq("n_regionkey" -> "__rk"))
          .select(col("c_custkey"), col("__rk"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "region")), col("__rk") === col("r_regionkey"))
        .groupBy(col("r_name"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("x"))
        .agg(sum(col("o_totalprice").cast("decimal(30,2)")).as("y"))
      monthly.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("r_name"),
          floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            * 10000.0 + 0.5).cast("long").as("slope_bp"))
        .orderBy(col("r_name"))
    }),

    "q_basket_affinity" -> ((s, dir) => {
      // market-basket pair support: parts co-purchased in one order —
      // the affinity signal behind "customers also bought". ONE keyed
      // shuffle builds sorted distinct baskets (collect_set state
      // bounded by basket size), pairs enumerate INSIDE each basket
      // (never a self-join re-shuffle, never all-parts quadratic), and
      // per-part supports fall out of the same basket table; exact
      // integer supports (n_ab, n_a, n_b) — lift derives at read time
      // with no float hazard; total order makes the top-100 stable
      val baskets = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      val pairs = baskets.select(explode(expr(
          "flatten(transform(parts, (a, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), " +
            "b -> named_struct('part_a', a, 'part_b', b))))")).as("p"))
        .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
      val supp = baskets.select(explode(col("parts")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      pairs
        .join(supp.select(col("l_partkey").as("part_a"), col("n").as("n_a")),
          Seq("part_a"))
        .join(supp.select(col("l_partkey").as("part_b"), col("n").as("n_b")),
          Seq("part_b"))
        .filter(col("n_ab") >= 2)
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
        .limit(100)
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"))
    }),

    "q_cohort_retention" -> ((s, dir) => {
      // classic cohort retention matrix: customers bucketed by
      // first-order month, tracked by month offset — two keyed
      // aggregates + one join back on the customer-sized first-order
      // table (broadcast at dim scale); months as portable yyyy-MM
      // strings, offsets as exact month-index ints (no interval math)
      val o = t(s, dir, "orders").select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("m"))
      val first = o.groupBy(col("o_custkey"))
        .agg(min(col("mi")).as("cmi"), min(col("m")).as("cohort"))
      o.join(first, Seq("o_custkey"))
        .groupBy(col("cohort"),
          (col("mi") - col("cmi")).cast("long").as("month_offset"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy(col("cohort"), col("month_offset"))
    }),

    "q_growth_mom" -> ((s, dir) => {
      val monthly = t(s, dir, "orders")
        .join(broadcast(Denormalize.resolve(t(s, dir, "customer"), t(s, dir, "nation"),
          Seq("c_nationkey" -> "n_nationkey"), Seq("n_regionkey" -> "__rk"))
          .select(col("c_custkey"), col("__rk"))), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "region")), col("__rk") === col("r_regionkey"))
        .groupBy(col("r_name"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
        .agg(round(sum(col("o_totalprice").cast("decimal(30,2)")), 2).cast("double")
          .as("revenue"))
      val w = Window.partitionBy(col("r_name")).orderBy(col("month"))
      monthly
        .withColumn("__prev", lag(col("revenue"), 1).over(w))
        .withColumn("growth_bp",
          when(col("__prev").isNull, null).otherwise(
            floor((col("revenue") - col("__prev")) / col("__prev") * 10000.0 + 0.5)
              .cast("long")))
        .select(col("r_name"), col("month"), col("revenue"), col("growth_bp"))
        .orderBy(col("r_name"), col("month"))
    }),

    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem").filter(col("l_suppkey") <= 10)
        .withColumn("rn", row_number().over(w))
        .withColumn("running_rev",
          sum(col("l_extendedprice").cast("decimal(30,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"),
          col("running_rev"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    "q_window_count_distinct" -> ((s, dir) => {
      // running DISTINCT-user count per event type — the one window
      // aggregate Spark does not support directly (COUNT(DISTINCT) OVER).
      // Composition: a first-occurrence flag (lag over user-major order)
      // then a running sum in time order. Both windows share the SAME
      // partition keys, so the plan is ONE exchange on event_type with
      // two in-partition sorts — the flag needs no second shuffle. The
      // oracle runs DuckDB's native COUNT(DISTINCT ... ) OVER, a genuinely
      // independent algorithm for the same semantics.
      RunningDistinct.countDistinct(
        t(s, dir, "events").filter(col("user_id") % 7 === 0),
        Seq("event_type"), "user_id", Seq(col("ts"), col("event_id")),
        as = "distinct_users")
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          col("distinct_users"))
        .orderBy(col("event_type"), col("ts_str"), col("event_id"))
    }),

    "q_window_tumbling" -> ((s, dir) => {
      // same transform the streaming pipeline runs (EventPipeline is
      // batch/stream-agnostic; StreamingSpec proves stream == batch)
      EventPipeline.tumblingAgg(t(s, dir, "events"), "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
          col("event_type"), col("n_events"), col("total_value"))
        .orderBy(col("hour_bucket"), col("event_type"))
    }),

    "q_salted_join" -> ((s, dir) => {
      // the manual skew join (rand salt + replicated build side) proven
      // EXACT at table scale: the oracle runs the PLAIN join, so
      // hash-equality shows salting is pure mechanics with zero
      // semantic residue
      Salt.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        Seq("l_orderkey"), buckets = 8)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_salted_agg" -> ((s, dir) => {
      Salt.saltedSum(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue",
        distributor = col("l_orderkey"), outScale = Some(2))
        .select(col("l_returnflag"), col("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    "q_distinct_approx" -> ((s, dir) => {
      // the 100 TB cheap path next to exact distinct: HyperLogLog++
      // sketches combine map-side (mergeable state, no value shuffle),
      // so a hot key costs the same as a cold one. rows-only: HLL
      // estimates are engine-specific; DistinctApproxSpec bounds the
      // relative error against the exact count instead.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("n_parts_approx"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("l_returnflag"))
    }),

    "q_salted_distinct" -> ((s, dir) => {
      // the aggregate where salting EARNS its keep: exact COUNT(DISTINCT)
      // is non-combinable (state = the value set), so a hot key funnels
      // all its values through one reducer without the value-derived salt
      Salt.saltedCountDistinct(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_partkey"), "n_parts")
        .orderBy(col("l_returnflag"))
    }),

    "q_topk_per_group" -> ((s, dir) => {
      // best-N-per-category: rank window + filter so the rank-limit
      // pushdown (WindowGroupLimit) keeps only each task's local top-k
      // per group ahead of the shuffle — PlansSpec asserts the partial
      // node so the pushdown can't silently regress
      TopK.perGroup(t(s, dir, "customer"), Seq("c_nationkey"),
        Seq(col("c_acctbal").desc, col("c_custkey").asc), k = 5)
        .select(col("c_nationkey"), col("rank_in_group").cast("long").as("rank_in_group"),
          col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rank_in_group"))
    }),

    "q_heavy_hitters" -> ((s, dir) => {
      // bounded-state exact frequent keys over a deterministic hot-key
      // profile: 30% of lineitem rows collapse onto 7 hot keys, the rest
      // stay near-unique — phi is relative, so the answer (the 7 hot
      // keys) is scale-stable while candidate state stays O(capacity)
      val keyed = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 10 < 3, col("l_orderkey") % 7)
          .otherwise(col("l_orderkey")).as("k"))
      HeavyHitters.frequentKeys(keyed, col("k"), phi = 0.001)
        .orderBy(col("hh_key"))
    }),

    "q_event_outliers" -> ((s, dir) => {
      // per-user z-score anomaly flags over event values. Moments are
      // exact decimal sums (order-independent), the z arithmetic is the
      // SAME double expression as the oracle (IEEE ops are deterministic
      // given identical inputs + order), and the filter compares the
      // ROUNDED z so boundary membership agrees cross-engine.
      val e = t(s, dir, "events")
      val dv = col("value").cast("decimal(18,6)")
      val stats = e.groupBy(col("user_id")).agg(
        count(lit(1)).as("__n"), sum(dv).as("__s"), sum(dv * dv).as("__s2"))
      e.join(stats, Seq("user_id"))
        .withColumn("__mean", col("__s").cast("double") / col("__n").cast("double"))
        .withColumn("__var",
          col("__s2").cast("double") / col("__n").cast("double") -
            col("__mean") * col("__mean"))
        .filter(col("__var") > 1e-12)
        .withColumn("z",
          floor((col("value") - col("__mean")) / sqrt(col("__var")) * 10000.0 + 0.5)
            / 10000.0)
        .filter(abs(col("z")) > 2.0)
        .select(col("event_id"), col("user_id"), col("value"), col("z"))
        .orderBy(col("event_id"))
    }),

    "q_quantile_binning" -> ((s, dir) => {
      // equal-population price bands: floored exact-quartile boundaries
      // (one tiny aggregate) + broadcast CASE assignment — never a
      // global ntile window through one ordered partition
      val o = t(s, dir, "orders")
      val (binned, _) = Binning.quantileBins(o, col("o_totalprice"),
        Seq(0.25, 0.5, 0.75), as = "price_band")
      binned.groupBy(col("price_band")).agg(
        count(lit(1)).as("n_orders"),
        dsumRound(col("o_totalprice"), 2, 2).as("revenue"))
        .orderBy(col("price_band"))
    }),

    "q_moving_window" -> ((s, dir) => {
      // time-RANGE frame (not row-count): each purchase's trailing-7-day
      // per-user spend — the window kind row frames can't express when
      // events are irregularly spaced; decimal sum for exact cross-engine
      // totals, count for the frame-membership check
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-7L * 24 * 3600, 0L)
      t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(sum(col("value").cast("decimal(30,6)")).over(w), 2)
            .cast("double").as("spend_7d"),
          count(lit(1)).over(w).as("n_7d"))
        .select(col("event_id"), col("user_id"), col("spend_7d"), col("n_7d"))
        .orderBy(col("event_id"))
    }),

    "q_funnel_steps" -> ((s, dir) => {
      // ordered conversion funnel per user: first view, first click
      // within 6h of that view, first purchase within 6h of that click —
      // chained conditional min-aggregates over grouped passes, no
      // self-join explosion over the raw event stream
      val e = t(s, dir, "events")
      val win = expr("INTERVAL 6 HOURS")
      val perUser = e.groupBy(col("user_id")).agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"))
      val withClick = e.join(perUser, Seq("user_id"))
        .groupBy(col("user_id"), col("t_view")).agg(
          min(when(col("event_type") === "click" && col("ts") >= col("t_view")
            && col("ts") <= col("t_view") + win, col("ts"))).as("t_click"))
      val withPurchase = e.join(withClick, Seq("user_id"))
        .groupBy(col("user_id"), col("t_view"), col("t_click")).agg(
          min(when(col("event_type") === "purchase" && col("ts") >= col("t_click")
            && col("ts") <= col("t_click") + win, col("ts"))).as("t_purchase"))
      withPurchase.select(
        when(col("t_purchase").isNotNull, "purchased")
          .when(col("t_click").isNotNull, "clicked")
          .when(col("t_view").isNotNull, "viewed")
          .otherwise("none").as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    }),

    "q_window_ranks" -> ((s, dir) => {
      // distribution-rank window family per group: percent_rank /
      // cume_dist are exact integer-ratio divisions (IEEE-deterministic
      // cross-engine), ntile is integer — all per-nation, never a
      // global single-partition window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    }),

    "q_stratified_sample" -> ((s, dir) => {
      // deterministic stratified sampling: exactly k docs per source,
      // chosen by a portable hash order (reproducible across runs,
      // engines, and partitionings) — TopK's rank-limit pushdown keeps
      // the per-stratum selection map-side
      val hashed = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 1048573L * 2654435761L % 1000000L).as("__h"))
      TopK.perGroup(hashed, Seq("source"),
        Seq(col("__h").asc, col("doc_id").asc), k = 10)
        .select(col("source"), col("doc_id"),
          col("rank_in_group").cast("long").as("rank_in_group"))
        .orderBy(col("source"), col("rank_in_group"))
    }),

    "q_except_intersect" -> ((s, dir) => {
      // set-algebra surface: customer cohorts by order year — retained
      // (both years) vs churned (1996 only), via INTERSECT / EXCEPT
      val o = t(s, dir, "orders")
      def cohort(y: Int) = o.filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
      cohort(1996).intersect(cohort(1997))
        .withColumn("cohort", lit("retained"))
        .unionByName(cohort(1996).except(cohort(1997))
          .withColumn("cohort", lit("churned")))
        .orderBy(col("cohort"), col("o_custkey"))
    }),

    "q_fuzzy_match" -> ((s, dir) => {
      // fuzzy business-key resolution: feed names with the 3rd char
      // dropped resolve back to the reference dimension by edit
      // distance — segment-blocked (PassJoin), never |L|·|R|
      val dim = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val feed = dim.select(col("n_nationkey").as("feed_key"),
        concat(substring(col("n_name"), 1, 2), substring(col("n_name"), 4, 100))
          .as("feed_name"))
      FuzzyJoin.byEditDistance(feed, dim, "feed_name", "n_name", maxDist = 1)
        .select(col("feed_key"), col("feed_name"), col("n_nationkey"),
          col("n_name"), col("edit_dist"))
        .orderBy(col("feed_key"), col("n_nationkey"))
    }),

    "q_incremental_agg" -> ((s, dir) => {
      // incremental view maintenance: the per-status aggregate is kept
      // current by folding the staged batch's CDC form (retraction of the
      // old row + insert of the new) into the state table — the oracle
      // aggregates the fully-merged table, so hash-equality proves
      // fold(state, delta) == recompute-the-world
      val dest = destOrders(s, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val inc = incomingOrders(s, dir)
      val retract = dest.join(inc.select("o_orderkey"), Seq("o_orderkey"), "left_semi")
        .select(col("o_orderstatus"), col("o_totalprice"), lit("D").as("op"))
      val insert = inc.select(col("o_orderstatus"), col("o_totalprice"), lit("I").as("op"))
      val state = IncrementalAgg.init(dest, Seq("o_orderstatus"), col("o_totalprice"))
      IncrementalAgg.foldCdc(state, retract.unionByName(insert),
        Seq("o_orderstatus"), col("o_totalprice"), col("op"))
        .select(col("o_orderstatus"), col("n_rows"),
          col("total").cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    "q_drift_psi" -> ((s, dir) => {
      // distribution drift between two "snapshots" (shipments before /
      // since 1997) — the validation signal counts and checksums miss:
      // a row-complete sync whose VALUES shifted. Fixed boundaries keep
      // bucket assignment integer-exact; the one float op per bucket is
      // the PSI term, shipped in ppm via the floor rule
      val li = t(s, dir, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      operators.Drift.psi(
        li.filter(col("l_shipdate") < cut),
        li.filter(col("l_shipdate") >= cut),
        col("l_extendedprice"),
        Seq(20000.0, 40000.0, 60000.0, 80000.0))
        .orderBy(col("bucket"))
    }),

    "q_drift_profile" -> ((s, dir) => {
      // table-wide drift: three columns scored in ONE aggregate pass per
      // snapshot (Profile.summarize's stack-unpivot applied to PSI) —
      // the whole table's distribution health costs two scans, not 2×cols
      val li = t(s, dir, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      operators.Drift.psiProfile(
        li.filter(col("l_shipdate") < cut),
        li.filter(col("l_shipdate") >= cut),
        Seq(
          "l_extendedprice" -> Seq(20000.0, 40000.0, 60000.0, 80000.0),
          "l_quantity" -> Seq(10.0, 20.0, 30.0, 40.0),
          "l_discount" -> Seq(0.02, 0.04, 0.06, 0.08)))
        .orderBy(col("col_name"), col("bucket"))
    }),

    "q_drift_ks" -> ((s, dir) => {
      // KS distance over the SAME bucket counts q_drift_psi scores —
      // PSI flags ratio moves in thin buckets, KS flags the largest
      // absolute CDF displacement; both derive from one count summary
      val li = t(s, dir, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      operators.Drift.ks(
        li.filter(col("l_shipdate") < cut),
        li.filter(col("l_shipdate") >= cut),
        col("l_extendedprice"),
        Seq(20000.0, 40000.0, 60000.0, 80000.0))
        .orderBy(col("bucket"))
    }),

    "q_drift_corpus" -> ((s, dir) => {
      // crawl-over-crawl corpus drift for the training-data pipeline:
      // has the document LENGTH/TOKEN mix of the new crawl moved against
      // the last one? Derived signals (char count, whitespace token
      // count) feed the same one-pass psiProfile — two corpus scans
      // total for any number of signals
      val d = t(s, dir, "documents").withColumn("n_chars_sig",
          length(col("text")).cast("double"))
        // explicit class, not \s: Java regex \s includes \x0B (vertical
        // tab), RE2's does not — a pinned class keeps both engines
        // tokenizing identically on edge whitespace
        .withColumn("n_tokens_sig",
          size(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).cast("double"))
      operators.Drift.psiProfile(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1),
        Seq(
          "n_chars_sig" -> Seq(175.0, 300.0, 420.0),
          "n_tokens_sig" -> Seq(32.0, 56.0, 76.0)))
        .orderBy(col("col_name"), col("bucket"))
    }),

    "q_drift_categorical" -> ((s, dir) => {
      // categorical drift — the status/priority-mix validation numeric
      // buckets can't express. Category space bounded BEFORE scoring:
      // top-3 by old-side count (count desc, value asc — the sf0.01
      // data plants a real tie at 3003 rows, so the tiebreak is
      // exercised), tail folds into the OTHER sentinel
      val o = t(s, dir, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      operators.Drift.psiCategorical(
        o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut),
        col("o_orderpriority"), maxCategories = 3)
        .orderBy(col("category"))
    }),

    "q_sync_diff" -> ((s, dir) => {
      // sync reconciliation: WHICH keys drifted between source and
      // destination — missing / extra / differs via one full-outer join
      // of (key, 60-bit digest) pairs; content columns never shuffle.
      // The destination derives deterministically: %97 rows never
      // arrived, %89 rows drifted in price, +30M ids are spurious
      // extras. The oracle compares CONTENT directly (IS DISTINCT
      // FROM), so hash-equality also proves the digest reduction loses
      // nothing.
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val dst = src.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(src.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
      Reconcile.diffKeys(src, dst, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "q_change_feed" -> ((s, dir) => {
      // CDC feed GENERATION from two snapshots (sources that only
      // publish snapshots — the reference's import model): digest
      // compare names the changed keys (16 B/row shuffle), full content
      // moves only for the delta; D carries the old version, I the new,
      // updates lower to D+I — the feed every incremental consumer eats
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val dst = src.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(src.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
      Reconcile.changeFeed(src, dst, Seq("o_orderkey"),
        Seq("o_orderstatus", "o_totalprice"))
        .orderBy(col("o_orderkey"), col("op"))
    }),

    "q_incremental_join" -> ((s, dir) => {
      // materialized-JOIN maintenance: the orders⨝customer view is kept
      // current by dirty-set partial recompute (IncrementalJoin.maintain
      // — state never shuffles, snapshots key-pruned by the delta); the
      // oracle joins the FINAL tables, so hash-equality proves
      // maintain(state, deltas) == recompute-the-world. Old snapshots
      // and CDC feeds derive deterministically from the current tables:
      // %97 orders are the batch's inserts, %89 moved to another
      // customer (key-CHANGING update: old key on the D row, new on the
      // I row), fabricated +30M ids are full deletes, %13 customers
      // changed balance.
      val aNew = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_totalprice"))
      val bNew = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        col("c_name"), col("c_acctbal"))
      val aIns = aNew.filter(col("o_orderkey") % 97 === 0)
      val aMovedNew = aNew.filter(col("o_orderkey") % 97 =!= 0
        && col("o_orderkey") % 89 === 0)
      val aMovedOld = aMovedNew
        .withColumn("custkey", pmod(col("custkey") + 7, lit(1500L)) + 1)
        .withColumn("o_totalprice", col("o_totalprice") - 100.0)
      val aDeleted = aNew.filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
      val aOld = aNew.filter(col("o_orderkey") % 97 =!= 0
          && col("o_orderkey") % 89 =!= 0)
        .unionByName(aMovedOld).unionByName(aDeleted)
      val bChangedNew = bNew.filter(col("custkey") % 13 === 0)
      val bChangedOld = bChangedNew.withColumn("c_acctbal", col("c_acctbal") - 50.0)
      val bOld = bNew.filter(col("custkey") % 13 =!= 0).unionByName(bChangedOld)
      val deltaA = aMovedOld.unionByName(aDeleted).withColumn("op", lit("D"))
        .unionByName(aIns.unionByName(aMovedNew).withColumn("op", lit("I")))
      val deltaB = bChangedOld.withColumn("op", lit("D"))
        .unionByName(bChangedNew.withColumn("op", lit("I")))
      val state = IncrementalJoin.joinOf(aOld, bOld, Seq("custkey"))
      IncrementalJoin.maintain(state, aNew, deltaA, bNew, deltaB,
        Seq("custkey"), "o_orderkey", "custkey")
        .orderBy(col("o_orderkey"))
    }),

    "q_minmax_maintain" -> ((s, dir) => {
      // MAX maintained under a delete-bearing CDC feed via the capped
      // top-k state (foldCdcTopK) — the aggregate plain folds can't
      // keep. Updates MOVE rows across groups (old status retracted,
      // 'U' inserted), so kept ranges shrink on one side and grow on
      // the other; any group whose kept range exhausts takes the
      // partial-recompute branch (usually none). Oracle = recompute
      // max over the fully-merged table — hash-equality proves the
      // bounded state loses nothing.
      val dest = destOrders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val inc = incomingOrders(s, dir)
      val retract = dest
        .join(inc.select("o_orderkey"), Seq("o_orderkey"), "left_semi")
        .select(col("o_orderstatus"), col("o_totalprice"), lit("D").as("op"))
      val insert = inc.select(col("o_orderstatus"), col("o_totalprice"),
        lit("I").as("op"))
      val state = IncrementalAgg.initTopK(dest, Seq("o_orderstatus"),
        col("o_totalprice"), k = 8)
      val folded = IncrementalAgg.foldCdcTopK(state,
        retract.unionByName(insert), Seq("o_orderstatus"),
        col("o_totalprice"), col("op"), k = 8)
      val merged = Merge.upsert(dest, inc, Seq("o_orderkey"))
      val ok = folded.filter(!col("needs_rebuild"))
        .select(col("o_orderstatus"), col("n_rows"),
          element_at(col("topk"), 1).as("max_price"))
      val rebuilt = merged
        .join(folded.filter(col("needs_rebuild")).select("o_orderstatus"),
          Seq("o_orderstatus"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), max(col("o_totalprice")).as("max_price"))
      ok.unionByName(rebuilt).orderBy(col("o_orderstatus"))
    }),

    "q_profile" -> ((s, dir) => {
      // per-column import profile: rows/nulls/distincts as joinable
      // rows; EXACT distincts requested deliberately (oracle parity —
      // the default is the HLL scale path)
      Profile.summarize(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        approxDistinct = false)
        .orderBy(col("col_name"))
    }),

    "q_interval_join" -> ((s, dir) => {
      // funnel attribution: purchases joined to same-user views in the
      // preceding 30 minutes — batch twin of the watermarked
      // stream-stream join (StreamingSpec proves stream == batch)
      val e = t(s, dir, "events")
      EventPipeline.intervalJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"), "30 minutes")
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          col("purchase_value"))
        .orderBy(col("view_id"), col("purchase_id"))
    }),

    "q_clean_relations" -> ((s, dir) => {
      val validParents = t(s, dir, "orders").filter(col("o_totalprice") <= 400000)
        .select(col("o_orderkey").as("l_orderkey"))
      t(s, dir, "lineitem")
        .join(validParents, Seq("l_orderkey"), "left_anti")
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_rate_limit" -> ((s, dir) => {
      // throttled sampling: at most 3 events per (user, type, hour) —
      // the log-volume cap next to q_debounce's gap suppression; plain
      // rank window, so WindowGroupLimit pushes the per-group cap
      // map-side ahead of the shuffle (same plan family as TopK)
      val w = Window.partitionBy(col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    "q_debounce" -> ((s, dir) => {
      // alert suppression: per (user, event_type), keep an event only
      // ≥30 min after the LAST KEPT one — running scan with reset
      // (Debounce.suppress), which neither windows nor gap-sessions
      // express; the oracle replays it as a DuckDB RECURSIVE CTE
      // stepping row-by-row per key — an independent formulation
      // agreeing on every kept event at microsecond precision
      Debounce.suppress(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
        Seq("user_id", "event_type"), "ts",
        minGapMicros = 30L * 60 * 1000000, tiebreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    "q_debounce_chunked" -> ((s, dir) => {
      // the hot-key-parallel variant: keys split at raw gaps ≥ minGap
      // (provable reset points) and chunks scan independently. Same
      // recursive-CTE oracle as q_debounce — the hash match proves the
      // chunking is an exact refactor of the sequential scan on real
      // event data at both SFs, not just on the spec's planted feed
      Debounce.suppressChunked(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
        Seq("user_id", "event_type"), "ts",
        minGapMicros = 30L * 60 * 1000000, tiebreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sessions = t(s, dir, "events")
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new", when(col("__prev").isNull ||
          col("ts").cast("double") - col("__prev").cast("double") > 1800.0, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ── §2C LLM-training-data operators (SQL-expressible subset) ───────

    "q_dedup_exact_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_incremental" -> ((s, dir) => {
      // incremental-ingest dedup: drop batch docs whose text was already
      // ingested (history = the even-id half). The bloom gate means only
      // might-contain rows pay the exact anti-join; misses flow through
      // shuffle-free — the 100 TB incremental-batch shape. Output ==
      // plain left_anti exactly (the join corrects false positives).
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 2 === 0).select(col("text"))
      Dedup.againstHistory(docs, history, Seq("text"), expectedItems = 100000L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_chunk_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.chunkTokens(col("text"), size = 64, overlap = 16))
            .as("chunk"))
        .select(col("doc_id"), col("chunk"),
          TextFunctions.tokenCount(col("chunk")).as("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk"))
    }),

    "q_dedup_normalized" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextFunctions.normalizeForDedup(col("text")).as("__norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    "q_percentiles" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          round(expr("percentile(CAST(n_chars AS DOUBLE), 0.5)"), 2).as("median_chars"),
          round(expr("percentile(CAST(n_chars AS DOUBLE), 0.9)"), 2).as("p90_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    }),

    "q_percentiles_approx" -> ((s, dir) => {
      // the 100 TB cheap path next to q_percentiles' exact interpolation:
      // approx_percentile's quantile summaries are MERGEABLE state that
      // combines map-side — a skewed source costs the same as a uniform
      // one, and accuracy is a knob. rows-only: sketch results are
      // engine-specific; DistinctApproxSpec bounds the error vs exact.
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          approx_percentile(col("n_chars").cast("double"), lit(0.5), lit(2500))
            .as("median_chars_approx"),
          approx_percentile(col("n_chars").cast("double"), lit(0.9), lit(2500))
            .as("p90_chars_approx"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    }),

    "q_token_gini" -> ((s, dir) => {
      // per-doc vocabulary concentration: token total n and Σc² over
      // per-token counts, kept as EXACT integers — Simpson/Gini
      // concentration (Σc²/n², the repetition complement of diversity)
      // derives at read time with no cross-engine float hazard.
      // Boilerplate scores high, diverse prose low. Zero-token docs are
      // absent (nothing to score). Shape: one (doc_id, tok) aggregate
      // then one doc_id aggregate — both partial-agg friendly.
      val toks = t(s, dir, "documents").select(col("doc_id"),
        // pinned class, not \s — see TextFunctions.WhitespaceClass
        explode(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).as("tok"))
        .filter(col("tok") =!= "")
      toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          sum(col("c") * col("c")).as("ssq_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q_text_quality" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(txt).as("n_tokens"),
        TextFunctions.vocabHits(txt, TextFunctions.Stopwords).as("stop_hits"),
        TextFunctions.stopwordRatio(txt, TextFunctions.Stopwords).as("stop_ratio"),
        TextFunctions.qualityScore(txt).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "q_word_stats" -> ((s, dir) => {
      // Gopher-style word-shape signals as EXACT INTEGERS (the float-
      // free way to ship filter inputs cross-engine): word count, total
      // word characters (mean word length = total/n, thresholded by the
      // caller), and words containing an ASCII letter (the "fraction of
      // words with an alphabetic character" rule). One narrow pass,
      // no shuffle.
      import graft.functions.TextFunctions
      val toks = TextFunctions.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_words"),
        coalesce(aggregate(transform(toks, t => length(t)), lit(0),
          (a, x) => a + x), lit(0)).as("word_chars"),
        size(filter(toks, t => t.rlike("[A-Za-z]"))).as("alpha_words"))
        .orderBy(col("doc_id"))
    }),

    "q_char_entropy" -> ((s, dir) => {
      // character-level Shannon entropy per document (bits, basis
      // points) — the is-this-text-or-noise filter signal: near-zero =
      // repeated-char padding, near-max = base64/hex/binary spill. One
      // codegen pass per row, zero shuffle (exploding to a row per
      // CHARACTER would shuffle 100× the corpus at 100 TB)
      t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.CharEntropy.charEntropyBp(col("text")).as("entropy_bp"))
        .orderBy(col("doc_id"))
    }),

    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("pred_lang"),
        (TextFunctions.langId(col("text")) === col("lang")).cast("int").as("is_match"))
        .orderBy(col("doc_id"))
    }),

    "q_embed_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Knn.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_vector_quantize" -> ((s, dir) => {
      // int8 storage codes for the ANN index (4× smaller than float32):
      // per-vector max-abs scale + integer codes. Output is
      // integer-exact: the scale in fixed-point basis points and two
      // integer code aggregates — both engines replay the same IEEE
      // floor(x/scale + 0.5) formula, so codes match bit-for-bit
      // (KnnSpec separately bounds quantized-search recall ≥ 0.8).
      import graft.functions.VectorFunctions.quantizeInt8
      t(s, dir, "embeddings")
        .withColumn("qs", quantizeInt8(col("embedding")))
        .select(col("vec_id"),
          floor(col("qs.scale") * 10000.0 + 0.5).cast("long").as("scale_e4"),
          aggregate(col("qs.q"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
          aggregate(col("qs.q"), lit(0L), (a, x) => a + x.cast("long") * x.cast("long"))
            .as("q_norm2"))
        .orderBy(col("vec_id"))
    }),

    "q_session_window" -> ((s, dir) => {
      EventPipeline.sessionAgg(t(s, dir, "events"), "30 minutes")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ── §2C rows-only operators (ScalaTest oracles; see SURVEY.md §6) ──

    "q_hierarchy_closure" -> ((s, dir) => {
      // multi-level group-tree flattening (ParentGroups,
      // EcomSourceReader.cs:348): synthetic binary tree parent=id/2 over
      // doc ids, closed by iterative doubling (log-depth self-joins)
      val edges = t(s, dir, "documents")
        .select(col("doc_id").as("child"),
          floor(col("doc_id") / 2).cast("long").as("parent"))
        .filter(col("child") > 0)
      // the tree depth is KNOWN from the construction: parent = id/2
      // means the longest chain is floor(log2(maxId)) edges down to 1
      // PLUS the 1 -> 0 hop — pin it (one 1-row max read) and the
      // closure runs its ⌈log₂ d⌉ joins with no convergence probes or
      // per-round checkpoint actions
      val maxId = t(s, dir, "documents").agg(max(col("doc_id"))).head.getLong(0)
      val depth = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(maxId))
      Hierarchy.closureKnownDepth(edges, "child", "parent", depth)
        .orderBy(col("child"), col("ancestor"))
    }),

    "q_token_histogram" -> ((s, dir) => {
      // corpus profiling: token-count distribution per source in
      // fixed-width buckets — the stats pass every mixture design starts
      // from (engine-portable floor-bucketing, no width_bucket needed)
      t(s, dir, "documents")
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("source"), floor(col("n") / 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("bucket"))
    }),

    "q_token_budget" -> ((s, dir) => {
      // per-source token-budget cap: keep docs in doc_id order while the
      // source's running total fits — the cap side of mixture building
      val withTok = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.pipelines.Mixture.capTokenBudget(withTok, "source", "doc_id",
        "n_tokens", budget = 500L)
        .orderBy(col("doc_id"))
    }),

    "q_cooccurrence" -> ((s, dir) => {
      // collocation mining: adjacent-pair PMI ratios over the corpus
      graft.pipelines.Collocations.pmi(t(s, dir, "documents"), "text",
        minPairCount = 2L)
        .orderBy(col("w1"), col("w2"))
    }),

    "q_sample_weighted" -> ((s, dir) => {
      // quality-weighted sampling: per-row rate from a document signal
      // (length here; any quality score slots in) — long docs replicate
      // up to 2 epochs, short ones hash-downsample; portable hash +
      // pure-IEEE rate arithmetic so the oracle replays the decision
      val d = t(s, dir, "documents")
      pipelines.Mixture.sampleWeighted(
        d.select(col("doc_id"), col("n_chars")),
        least(lit(2.0), col("n_chars") / 500.0),
        (col("doc_id") % 1048573L * 2654435761L % 1000000L).cast("double")
          / 1000000.0)
        .select(col("doc_id"), col("epoch").cast("long").as("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    "q_pack_sequences" -> ((s, dir) => {
      // concat-and-chop training-sequence packing, one window per source
      val withTok = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.pipelines.Mixture.packSequences(withTok, "source", "doc_id",
        "n_tokens", budget = 256)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_pos"))
        .orderBy(col("doc_id"))
    }),

    "q_pack_ranged" -> ((s, dir) => {
      // the hot-source twin: range-partitioned two-pass cumsum, SAME
      // oracle SQL as q_pack_sequences — the driver hash-checks that
      // the scalable formulation reproduces the window form bit-for-bit
      val withTok = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val packed = graft.pipelines.Mixture.packSequencesRanged(withTok,
        "source", "doc_id", "n_tokens", budget = 256)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_pos"))
        .orderBy(col("doc_id"))
      packed
    }),

    "q_pack_bestfit" -> ((s, dir) => {
      // the published fewer-truncations packing (best-fit-decreasing,
      // Ding et al. 2024): whole docs into 256-token bins, chunk-wise
      // per (source, doc_id div 2000) shard — only docs over the budget
      // itself are pre-chopped into budget-sized pieces. Deterministic
      // placement => the DuckDB oracle replays every step
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n"))
        .filter(col("n") > 0)
      val pieces = base
        .select(col("doc_id"), col("source"), col("n"),
          explode(expr("sequence(CAST(1 AS BIGINT), ((n - 1) div 256) + 1)"))
            .as("piece"))
        .select(col("doc_id"), col("source"), col("piece"),
          least(lit(256L), col("n") - (col("piece") - 1) * 256L).as("len"),
          expr("doc_id div 2000").as("shard"))
      graft.pipelines.Pack.bestFit(pieces, Seq("source", "shard"), "len",
          Seq(col("doc_id"), col("piece")), budget = 256L)
        .select(col("doc_id"), col("piece"), col("source"),
          col("len").as("n_tokens"),
          concat_ws("#", col("source"), col("shard"), col("bin_id"))
            .as("seq_key"),
          col("bin_pos").as("seq_pos"))
        .orderBy(col("doc_id"), col("piece"))
    }),

    "q_token_budget_ranged" -> ((s, dir) => {
      // hot-source twin of q_token_budget, same oracle — see q_pack_ranged
      val withTok = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.pipelines.Mixture.capTokenBudgetRanged(withTok, "source",
        "doc_id", "n_tokens", budget = 500L)
        .orderBy(col("doc_id"))
    }),

    "q_dataset_split" -> ((s, dir) => {
      // reproducible train/val/test assignment — portable hash so the
      // oracle verifies the bucketing logic cross-engine
      val u = (col("doc_id") % 1048573L * 2654435761L % 1000000L)
        .cast("double") / 1000000.0
      graft.pipelines.Mixture.split(t(s, dir, "documents"), u,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    "q_mixture_sample" -> ((s, dir) => {
      // deterministic mixture weighting (GPT-3/LLaMA-style source
      // epochs): hash-sampled, reproducible across runs and partitionings.
      // The portable multiplicative hash here lets DuckDB verify the
      // sampling logic; the library default is xxhash64 (MixtureSpec).
      val u = (col("doc_id") % 1048573L * 2654435761L % 1000000L)
        .cast("double") / 1000000.0
      graft.pipelines.Mixture.sample(t(s, dir, "documents"), "source",
        Map("src0" -> 2.25, "src1" -> 0.5, "src2" -> 1.0, "src3" -> 0.25), u)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    "q_pii_redact" -> ((s, dir) => {
      // C4/RefinedWeb-style PII scrubbing: pure regexp_replace, codegen'd.
      // The corpus text is synthetic, so deterministic PII is CONSTRUCTED
      // per doc (both engines build the identical string) then redacted.
      val withPii = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 10.0."), col("doc_id") % 256,
            lit(".7 tel 555-123-4567")).as("text_pii"))
      withPii.select(col("doc_id"),
        TextFunctions.redactPii(col("text_pii")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    "q_repetition" -> ((s, dir) => {
      // Gopher/RefinedWeb repetition rule: top-bigram share per doc
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.topBigramFractionBp(col("text")).as("top_bigram_bp"))
        .orderBy(col("doc_id"))
    }),

    "q_doc_fingerprint" -> ((s, dir) => {
      // the codegen rolling hash (31·h + signed byte, 64-bit wrap) has
      // an exact closed form h = seed·31^n + Σ bᵢ·31^(n-1-i) (mod 2^64)
      // — a commutative sum the oracle replays in HUGEINT with an
      // explicit mod and two's-complement finish, bytes via hex(encode)
      t(s, dir, "documents")
        .select(col("doc_id"), Fingerprint.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q_minhash_lsh" -> ((s, dir) => {
      // HASH-CHECKED (round 9): the whole sketch replays — FNV-1a and
      // the splitmix64 finalizer are public, engine-neutral integer
      // recurrences the oracle reruns in HUGEINT mod-2^64 (split-
      // constant multiply keeps every product inside INT128), so
      // signatures, band candidates, and the exact-Jaccard verify are
      // all driver-checked. est/jaccard project as HALF_UP basis
      // points per the q_contrastive_pairs rule (floor(r4·1e4+0.5) of
      // the 4-digit round == exact-rational HALF_UP; never a raw
      // double compare). The signature min is over SIGNED longs — the
      // oracle mirrors that two's-complement compare explicitly.
      NearDup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 64, bands = 16, shingleLen = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"),
          floor(col("est_jaccard") * 10000.0 + 0.5).cast("long").as("est_bp"),
          floor(col("jaccard") * 10000.0 + 0.5).cast("long").as("jaccard_bp"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_simhash" -> ((s, dir) => {
      // HASH-CHECKED (round 9): the 64-bit sketch is a public integer
      // recurrence (FNV-1a token hash + splitmix64 finalizer + sign
      // tally) the oracle replays in HUGEINT mod-2^64, and the 4×16-bit
      // chunk pigeonhole makes candidate generation COMPLETE for
      // hamming ≤ 3 — so the driver-checked output is simply ALL pairs
      // within the radius, no recall caveat at all (the maxBucket cap
      // never binds at gate SFs; a capped bucket would flip the gate).
      NearDup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // exact 3-gram Jaccard over given pairs. Output is the integer
      // intersect/union sizes (hash-exact cross-engine; the ratio is
      // theirs to derive) — Jaccard over 64-bit hashed shingles equals
      // Jaccard over the shingle strings the DuckDB oracle builds, modulo
      // negligible collisions.
      val docs = t(s, dir, "documents")
      val pairs = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      NearDup.ngramJaccard(docs, pairs, "doc_id", "text", shingleLen = 3)
        .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_embed_neardup" -> ((s, dir) => {
      NearDup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.25, nBits = 32)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_nn_descent" -> ((s, dir) => {
      // NN-Descent k-NN graph construction (Dong et al. WWW 2011):
      // the graph-based similarity rung — all-nodes k-NN graph via
      // "neighbor of a neighbor is likely a neighbor" local joins,
      // never all-pairs. Fully derandomized (pseudo-random ring init,
      // deterministic reverse-sample top-k, round-4 cosine scores),
      // so the oracle replays all 3 rounds verbatim. Per-node
      // candidate sets bounded at (2k)^2 + 2k by construction
      graft.similarity.NnDescent.knnGraph(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 5, rounds = 3)
        .orderBy(col("id"), col("neighbor_id"))
    }),

    "q_graph_search" -> ((s, dir) => {
      // the SEARCH half of graph-based ANN (GNNS, Hajebi et al. IJCAI
      // 2011; the HNSW traversal primitive): greedy beam search over
      // the q_nn_descent graph — 4 hash-order entry points, 3 beam
      // expansions at width 4, final top-3 by the shared round-4
      // cosine. Fully derandomized, so the oracle replays the ENTIRE
      // pipeline: the 3-round graph build verbatim (the extracted
      // q_nn_descent replay) + every search round's candidate set,
      // scores, and (cos desc, id) beams.
      val emb = t(s, dir, "embeddings")
      val graph = graft.similarity.NnDescent.knnGraph(
        emb, "vec_id", "embedding", k = 5, rounds = 3)
      graft.similarity.GraphSearch.search(
        graph, emb, emb.filter(col("vec_id") < 10),
        beamWidth = 4, rounds = 3, k = 3, nEntry = 4)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_embed_dbscan" -> ((s, dir) => {
      // DBSCAN (Ester et al. KDD'96) over the q_embed_neardup graph:
      // density-gated near-dup clusters — dense paraphrase families
      // become clusters, chain-linked one-offs stay NOISE instead of
      // being glued by transitive closure (the curation failure mode
      // of plain components). Roles: core = degree+1 >= minPts;
      // border = non-core adjacent to a core (smallest label); noise.
      // Labels are component-minimum core ids — fully deterministic
      graft.dedup.Dbscan.cluster(t(s, dir, "embeddings"), "vec_id",
        "embedding", minCosine = 0.25, minPts = 3, nBits = 32)
        .orderBy(col("id"))
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // HASH-CHECKED (round 9): quantized Lloyd made the TRAINED
      // centroids replayable — the mean update sums exact fixed-point
      // longs (order-independent) and emits one IEEE division per dim
      // (Knn.trainCentroids), so the oracle replays seeds → assignment
      // → the Lloyd round (unnest + BIGINT sums + REAL narrowing) →
      // probes → top-k, the FULL trained-IVF pipeline. Until round 9
      // this was the named rows-only reason for the whole centroid tier
      // (a distributed avg() re-associates per run — unreplayable AND
      // unreproducible at 1000 executors).
      val emb = t(s, dir, "embeddings")
      val centroids = Knn.trainCentroids(emb, nCentroids = 8, iters = 1)
      Knn.ivfTopK(emb, emb.filter(col("vec_id") < 10), centroids, k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_ann_recall" -> ((s, dir) => {
      // per-query IVF recall vs exact brute force, hash-checkable: with
      // iters = 0 the centroids stay at their SEEDS (every step-th
      // vector by id — a closed form the DuckDB oracle re-derives; one
      // Lloyd round's distributed avg() is summation-order-dependent,
      // which is why q_ann_ivf itself stays rows-only). The oracle
      // replays seeds → assignment → probes → both top-k sets → the
      // same recall_bp, so the IVF pipeline's SHAPE is oracle-verified
      // even though the trained-centroid variant can't be.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val cents = Knn.trainCentroids(emb, nCentroids = 8, iters = 0)
      val k = 5
      val ivf = Knn.ivfTopK(emb, queries, cents, k = k, nProbe = 2)
      val brute = Knn.bruteForceTopK(emb, queries, k = k)
      val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      queries.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n_hit"), lit(0L)) * 10000L / k).cast("long").as("recall_bp"))
        .orderBy(col("query_id"))
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // HASH-CHECKED from birth: IVFADC (Jégou et al. TPAMI 2011) with
      // every trained stage bit-deterministic — coarse centroids AND the
      // four per-subspace codebooks come from the quantized Lloyd
      // (order-free fixed-point sums, one IEEE division per dim), the
      // residuals are exact float narrowings, and the ADC lookup table
      // is floor(2^16·d²) longs so the reported distance is an exact
      // integer sum. The oracle replays the WHOLE pipeline: coarse
      // seeds → Lloyd → assignment → residuals → per-subspace seeds →
      // Lloyd → codes → probes → query residual → LUT → integer top-k.
      // spread: the single-row-group embeddings file is a 1-task scan,
      // serializing the CPU-bound code assignment (measured 1.09 s on
      // one core); the guard no-ops on an already-parallel 100 TB scan
      val emb = graft.operators.Parallelism.spread(t(s, dir, "embeddings"))
      val coarse = Knn.trainCentroids(emb, nCentroids = 8, iters = 1)
      val books = Pq.trainCodebooks(Pq.residualFrame(emb, coarse),
        m = 4, subDim = 16, k = 8, iters = 1)
      Pq.ivfpqTopK(emb, emb.filter(col("vec_id") < 10), coarse, books,
        subDim = 16, k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_kmeanspar_seed" -> ((s, dir) => {
      // k-means|| seeding (Bahmani et al. VLDB 2012) — the published
      // cluster-scale replacement for k-means++'s k sequential passes,
      // and the quality upgrade over this engine's stride seeds: 3
      // rounds each sample ~16 points with probability ∝ quantized
      // d² via the DERANDOMIZED portable-hash inequality h·φ <
      // L·qd·2^20 (exact DECIMAL/HUGEINT integers — both engines make
      // identical "random" choices), then greedy weighted re-cluster
      // to k=8 on the driver (max weight, then max weight·min-qd,
      // ties by id). Corpus passes = rounds + 1, independent of k
      graft.similarity.KmeansPar.seedTable(
        t(s, dir, "embeddings"), k = 8, rounds = 3, oversample = 16)
        .orderBy(col("rank"))
    }),

    "q_ann_frontier" -> ((s, dir) => {
      // The comparison every published ANN evaluation leads with, and
      // the knob a 100 TB curator actually tunes: recall@k vs
      // bytes-per-vector across PQ budgets on ONE corpus / query set /
      // coarse index (Jégou et al. TPAMI 2011 §V's recall-vs-code-size
      // curves). Shared: 8 trained coarse centroids (1 quantized-Lloyd
      // round), 10 queries, k=5, nProbe=2, and the exact
      // floor(2¹⁶·‖q−v‖²) integer ground truth. Grid: m ∈ {2,4,8}
      // one-byte codes (+1 B coarse id) = 3/5/9 B/vec vs 256 B of raw
      // floats. recall_bp = 200·|ADC top-5 ∩ exact top-5| (50 truth
      // pairs, so the quotient is exact). HASH-CHECKED: the oracle
      // replays the whole grid — shared coarse replay, per-budget
      // codebook Lloyd → codes → LUT → integer ADC top-5 — plus the
      // same exact-integer ground truth. PqSpec pins monotonicity
      // (more bytes ⇒ no worse recall) on a separated synthetic corpus.
      val emb = graft.operators.Parallelism.spread(t(s, dir, "embeddings"))
        .filter(col("embedding").isNotNull)
      val queries = emb.filter(col("vec_id") < 10)
      val coarse = Knn.trainCentroids(emb, nCentroids = 8, iters = 1)
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      // exact ground truth: the established left-to-right quantized-L2
      // fold (the KmeansPar/prototype-prune recipe), ties by vec_id
      val sq = aggregate(zip_with(col("q_emb"), col("embedding"), (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }), lit(0.0), (acc, v) => acc + v)
      val wB = Window.partitionBy(col("query_id"))
        .orderBy(col("qd"), col("vec_id"))
      val brute = emb
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("qd", floor(lit(65536.0) * sq).cast("long"))
        .withColumn("__rk", row_number().over(wB)).filter(col("__rk") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .localCheckpoint(false) // 50 rows, read once per budget
      // shared across the three budget rungs — pin lazily or each
      // trainCodebooks pass replays the coarse assignment
      val resid = Pq.residualFrame(emb, coarse).localCheckpoint(false)
      // the four frontier arms are INDEPENDENT given (emb, coarse,
      // resid, brute): each PQ rung's codebook Lloyd and the GNNS
      // rung's nn-descent/beam rounds are ladders of driver-side
      // actions (per-iteration collects, per-round pins), previously
      // serialized by construction order. Building each arm on its own
      // driver thread overlaps the ladders (guide §2.6); the shared
      // frames are pinned above, so the arms race nothing.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration.Inf
      import scala.concurrent.ExecutionContext.Implicits.global
      val pqArmFs = Seq(2, 4, 8).map { m => Future {
        val books = Pq.trainCodebooks(resid,
          m = m, subDim = 64 / m, k = 8, iters = 1)
        Pq.ivfpqTopK(emb, queries, coarse, books,
            subDim = 64 / m, k = 5, nProbe = 2)
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg((count(lit(1)) * 200L).as("recall_bp"))
          .select(lit("ivfpq").as("method"), lit(m).as("m_subspaces"),
            lit(m + 1).as("bytes_per_vec"), col("recall_bp"))
      } }
      // the GRAPH rung on the same corpus/queries/ground truth: GNNS
      // over the q_nn_descent k=5 graph (index cost = 5 neighbor ids =
      // 40 B/vec), beam 5 so the final beam can hold all of top-5 —
      // with this arm all three ANN paradigms (cell-probed PQ budgets,
      // graph traversal; brute force as truth) sit on ONE frontier
      val gnnsArmF = Future {
        val graph = graft.similarity.NnDescent.knnGraph(
          emb, "vec_id", "embedding", k = 5, rounds = 3)
        graft.similarity.GraphSearch.search(
            graph, emb, queries, beamWidth = 5, rounds = 3, k = 5, nEntry = 4)
          .select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .agg((count(lit(1)) * 200L).as("recall_bp"))
          .select(lit("gnns").as("method"), lit(0).as("m_subspaces"),
            lit(40).as("bytes_per_vec"), col("recall_bp"))
      }
      (pqArmFs.map(Await.result(_, Inf)) :+ Await.result(gnnsArmF, Inf))
        .reduce(_ unionByName _)
        .orderBy(col("method"), col("m_subspaces"))
    }),

    "q_ann_rq" -> ((s, dir) => {
      // residual vector quantization (Chen et al. 2010 / the additive
      // family of Babenko & Lempitsky CVPR'14): the rung between float
      // IVF and IVF-PQ — ONE full-dimension stage-2 codebook on the
      // coarse residuals (sees the residual's full covariance, PQ's
      // critique), index row = two small ints, per-candidate cost =
      // ONE LUT lookup. Both Lloyd stages bit-deterministic; the
      // oracle replays coarse → residual → stage-2 → codes → LUT →
      // integer top-k end to end
      val emb = t(s, dir, "embeddings")
      val coarse = Knn.trainCentroids(emb, nCentroids = 8, iters = 1)
      val book = Rq.trainBook(emb, coarse, k = 8, iters = 1)
      Rq.rqTopK(emb, emb.filter(col("vec_id") < 10), coarse, book,
        k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_ann_wpq" -> ((s, dir) => {
      // whitened PQ — the published retrieval conditioning ahead of
      // quantization (Jégou & Chum ECCV'12; the PCA step OPQ learns a
      // rotation for): project through the trained k=16 whitening
      // basis (bit-deterministic quantized moments + pinned Jacobi),
      // narrow to float, then run the FULL IVFADC machine on the
      // conditioned vectors. Every stage is the composition of two
      // already-hash-checked machines, and the oracle composes their
      // replays: gated whitening literals → REAL projection → coarse
      // Lloyd → residual codebooks → integer ADC top-k.
      val emb = t(s, dir, "embeddings")
      val t16 = graft.similarity.Whitening.fit(emb, "embedding", k = 16)
      // janino-pin rule (measured on q_ann_opq this round): the
      // 16-aggregate projection tree otherwise inlines into every
      // training/search action's codegen
      val unit = emb.select(col("vec_id"),
        transform(t16(col("embedding")), x => x.cast("float")).as("embedding"))
        .localCheckpoint(true)
      val coarse = Knn.trainCentroids(unit, nCentroids = 8, iters = 1)
      val books = Pq.trainCodebooks(Pq.residualFrame(unit, coarse),
        m = 4, subDim = 4, k = 8, iters = 1)
      Pq.ivfpqTopK(unit, unit.filter(col("vec_id") < 10), coarse, books,
        subDim = 4, k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_ann_opq" -> ((s, dir) => {
      // OPQ — the LEARNED rotation one step past q_ann_wpq's PCA
      // conditioning (Ge et al. CVPR'13, non-parametric, one
      // alternation): fit codebooks on the whitened frame, solve the
      // orthogonal Procrustes toward their reconstructions (polar
      // factor of the quantized cross-moment, driver-side Jacobi),
      // rotate, then the FULL verified IVFADC machine on the rotated
      // vectors. Oracle: gated whitening literals -> projection ->
      // codebook replay -> independent cross-moment -> R gated on
      // orthonormality + Procrustes symmetry + no-worse-than-identity
      // trace -> rotation -> the wpq IVFADC replay
      val emb = t(s, dir, "embeddings")
      val t16 = graft.similarity.Whitening.fit(emb, "embedding", k = 16)
      // PIN the projected frame, and below it the rotated frame: OPQ
      // runs ~2× the actions of wpq over these frames (B₀ training,
      // the cross-moment pass, the rotation, then the whole IVFADC
      // machine), and the 16-aggregate projection / rotation EXPRESSION
      // trees inlined into every consumer make per-action janino
      // codegen the dominant cost (measured 49 s full-run at sf0.1
      // unpinned vs 3.4 s for wpq; 11.7 s with only the rotated frame
      // pinned). Materialized they are n rows × 16 floats — the
      // consumers read plain scans.
      val unit = emb.select(col("vec_id"),
        transform(t16(col("embedding")), x => x.cast("float")).as("embedding"))
        .localCheckpoint(true)
      val rot = graft.similarity.Opq.trainRotation(unit, m = 4, subDim = 4, k = 8)
      val rimg = unit.select(col("vec_id"),
        graft.similarity.Opq.rotateExpr(col("embedding"), rot).as("embedding"))
        .localCheckpoint(true)
      val coarse = Knn.trainCentroids(rimg, nCentroids = 8, iters = 1)
      val books = Pq.trainCodebooks(Pq.residualFrame(rimg, coarse),
        m = 4, subDim = 4, k = 8, iters = 1)
      Pq.ivfpqTopK(rimg, rimg.filter(col("vec_id") < 10), coarse, books,
        subDim = 4, k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("neighbor_id"))
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = NearDup.minhashPairs(docs, "doc_id", "text", threshold = 0.6)
        .select(col("id_a"), col("id_b"))
      Clusters.canonicalize(docs.select(col("doc_id").as("id")), pairs)
        .orderBy(col("id"))
    }),

    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val benchmark = docs.filter(col("doc_id") % 50 === 0)
      graft.dedup.Decontaminate.overlaps(
        docs.filter(col("doc_id") % 50 =!= 0), benchmark, "doc_id", "text", n = 8)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    "q_shared_passages" -> ((s, dir) => {
      // repeated verbatim passages ACROSS documents (token-granular
      // exact-substring dedup): doc pairs sharing any 8-token gram
      graft.dedup.Decontaminate.selfOverlaps(
        t(s, dir, "documents"), "doc_id", "text", n = 8, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_gram_novelty" -> ((s, dir) => {
      // per-doc boilerplate score: how many of a doc's distinct 8-grams
      // appear in at least one OTHER document — the per-document
      // aggregate complement of q_shared_passages (pair detection).
      // Shape: df aggregation and the grams⨝df join share the gram-hash
      // partitioning (no extra exchange between them), then one doc_id
      // aggregate; docs under 8 tokens have no grams and are absent.
      val grams = t(s, dir, "documents").select(col("doc_id"),
        explode(array_distinct(GramHash.gramHashes(col("text"), 8))).as("g"))
      val df = grams.groupBy(col("g")).agg(count(lit(1)).as("gram_df"))
      grams.join(df, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("gram_df") > 1, 1L).otherwise(0L)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    "q_asof_nearest" -> ((s, dir) => {
      // nearest-direction as-of: each event matched to the CLOSER of the
      // user's prior/next purchase aggregate (ties prefer backward);
      // oracle = two native DuckDB ASOF joins + distance CASE, and
      // PropertiesSpec proves all three directions equal the naive
      // definition on random data
      val ev = t(s, dir, "events")
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pval"))
      AsOf.joinAsOf(
        ev.select(col("event_id"), col("user_id"), col("ts"), col("value")),
        r, Seq("user_id"), "ts", Seq("pval"), direction = "nearest")
        .select(col("event_id"), col("user_id"), col("asof_pval"))
        .orderBy(col("event_id"))
    }),

    "q_shared_passages_char" -> ((s, dir) => {
      // the char-granular twin: shared spans matched on NORMALIZED
      // character 40-grams, so a verbatim passage pairs up across
      // case/whitespace/tokenization differences (below-token
      // granularity — the remaining gap to suffix-array extents is
      // maximal-span reporting, not detection)
      graft.dedup.Decontaminate.selfOverlapsChar(
        t(s, dir, "documents"), "doc_id", "text", n = 40, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_shared_extents" -> ((s, dir) => {
      // MAXIMAL shared-passage extents: where each duplicated span sits
      // and how long it is — the full suffix-array-style signal (pair +
      // position + length), built from positional grams merged by the
      // gaps-and-islands window; rows-only — NearDupSpec proves exact
      // boundaries on planted spans
      graft.dedup.Decontaminate.selfOverlapExtents(
        t(s, dir, "documents"), "doc_id", "text", n = 8, minLength = 10)
        .orderBy(col("id_a"), col("id_b"), col("start_a"), col("start_b"))
    }),

    "q_training_pipeline" -> ((s, dir) => {
      // the capstone composition: clean → decontaminate → sample →
      // split → pack, end-to-end. Hash-checked since round 9: the
      // split hash is the injected PORTABLE multiplicative hash (the
      // ContrastivePairs move — xxhash64 stays the library default),
      // the clean stage replays per the q_corpus_clean corpus-gap
      // argument, decontamination replays as 13-gram-string joins, and
      // the pack is the q_pack_sequences running-sum replay. The DuckDB
      // oracle runs the ENTIRE pipeline as one CTE chain;
      // TrainingDataSpec still holds the method invariants.
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
      val portableU = (c: Column) =>
        pmod(pmod(pmod(c, lit(1000003L)) * 2654435761L + lit(7L * 40503L),
          lit(1000000007L)), lit(1000000L)).cast("double") / 1000000.0
      val (out, _) = graft.pipelines.TrainingData.prepare(docs, bench,
        graft.pipelines.TrainingData.Config(splitHash = portableU))
      out.orderBy(col("doc_id"), col("epoch"))
    }),

    "q_corpus_clean" -> ((s, dir) => {
      graft.pipelines.CorpusClean.run(t(s, dir, "documents"))
        .select(col("doc_id"), col("quality_bp"), col("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    "q_multimodal_frames" -> ((s, dir) => {
      // hash-checked since round 9: the chunk plumbing is pure byte
      // arithmetic (frame count, index, tail truncation) — the oracle
      // replays it from octet_length alone
      Multimodal.sampleFrames(
        Multimodal.withPayload(t(s, dir, "documents").filter(col("doc_id") < 100)))
        .select(col("doc_id"), col("frame_idx"), length(col("frame")).as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    "q_multimodal_neardup" -> ((s, dir) => {
      // the multimodal dedup loop closed end-to-end: payload → batched
      // stub decode → stub-embedding near-dup (sign-bit LSH + cosine
      // verify). The 8-bin histogram features are deliberately coarse,
      // so the query bounds itself to a doc subset and a tight cosine —
      // a real encoder swaps into decodeStub and widens both.
      // Hash-checked since round 9: nonnegative features make every
      // sign chunk agree, so the LSH candidate set IS all pairs and the
      // oracle's brute-force cosine replay is exact.
      val feats = Multimodal.decodeFeatures(
        Multimodal.withPayload(t(s, dir, "documents").filter(col("doc_id") < 100)))
      graft.dedup.NearDup.embeddingPairs(
        feats.select(col("doc_id"), col("feat")), "doc_id", "feat",
        minCosine = 0.9999, nBits = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_multimodal_phash" -> ((s, dir) => {
      // image near-dup via the REAL perceptual hash (published aHash):
      // deterministic synthesized PNGs in groups of near-identical
      // gradients (the corpus has no binary media), decoded and hashed
      // by the all-integer 8×8 luma average-hash, paired through the
      // same hammingPairs64 bucket machinery text SimHash rides.
      // HASH-CHECKED (round 9, the q_audio_segments move): PNG is
      // LOSSLESS, so the decoded pixels equal the synthesized ones and
      // the aHash is a pure integer function of doc_id (gray gradient ⇒
      // luma == v exactly; patch ⇒ 255; bit c set iff cellSum·64 >
      // totalSum) — the oracle derives every hash closed-form and takes
      // ALL pairs within hamming 3 (the 4×16-bit pigeonhole is complete
      // there), verifying the PNG encode → ImageIO decode → aHash →
      // bucket chain from outside. MultimodalSpec still pins the kernel.
      val payloads = Multimodal.syntheticPngPayloads(
        t(s, dir, "documents").filter(col("doc_id") < 120).select(col("doc_id")))
      val hashed = Multimodal.perceptualHashes(payloads,
        kernel = Multimodal.imageAverageHash)
      graft.dedup.NearDup.hammingPairs64(hashed, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_multimodal_jpeg" -> ((s, dir) => {
      // the LOSSY image rung, hash-checked: real JPEG encodes (the
      // JDK's built-in codec) of DCT-block-aligned black/white cell
      // patterns, decoded and aHashed — uniform 8x8 cells survive the
      // lossy round trip within a couple luma units, so the hash of
      // the DECODED image is a pure integer function of doc_id and the
      // oracle derives every 64-bit hash closed-form (HUGEINT bit sum,
      // signed two's-complement conversion). Verifies JPEG encode ->
      // ImageIO decode -> integer aHash end-to-end from outside
      val payloads = Multimodal.syntheticJpegPayloads(
        t(s, dir, "documents").filter(col("doc_id") < 200).select(col("doc_id")))
      Multimodal.perceptualHashes(payloads, kernel = Multimodal.imageAverageHash)
        .select(col("id").as("doc_id"), col("sh").as("ahash"))
        .orderBy(col("doc_id"))
    }),

    "q_audio_segments" -> ((s, dir) => {
      // audio VAD primitive end-to-end: REAL WAV containers decode to
      // windowed EXACT-integer energy rows, then gaps-and-islands over
      // non-silent windows yields speech/tone segments. HASH-CHECKED
      // (round 9): the planted layout is a PURE FUNCTION of doc_id
      // (silence 2+id%3 → tone 3+id%2 → silence 2 → tone 4 → silence 1,
      // every segment 256-aligned, ±12000 square wave ⇒ 36,864,000,000
      // energy per tone window), so the oracle recomputes the exact
      // island set closed-form — a break ANYWHERE in the RIFF container
      // → javax.sound decode → windowing → islands chain flips the gate.
      val payloads = Multimodal.syntheticWavPayloads(
        t(s, dir, "documents").filter(col("doc_id") < 60).select(col("doc_id")))
      val prof = Multimodal.audioEnergyProfile(payloads)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("win_idx"))
      prof.filter(!col("is_silence"))
        .withColumn("__prev", lag(col("win_idx"), 1).over(w))
        .withColumn("__new",
          (col("__prev").isNull || col("win_idx") > col("__prev") + 1).cast("long"))
        .withColumn("__seg", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("doc_id"), col("__seg"))
        .agg(min(col("win_idx")).as("seg_start"), max(col("win_idx")).as("seg_end"),
          count(lit(1)).as("n_windows"), sum(col("energy_q")).as("energy_q"))
        .select(col("doc_id"), col("seg_start"), col("seg_end"),
          col("n_windows"), col("energy_q"))
        .orderBy(col("doc_id"), col("seg_start"))
    }),

    "q_multimodal_features" -> ((s, dir) => {
      // the STUB decode is deterministic integer arithmetic over the
      // UTF-8 payload bytes, so the whole feature row replays in SQL:
      // verify checksum + EVERY histogram bin + EVERY float feature
      // (float32 division is IEEE-identical cross-engine — REAL/REAL in
      // DuckDB, Float/Int on the JVM — and every float32 converts to
      // double exactly). Sentinel rows (null/empty payload) carry
      // checksum 0 and empty arrays → NULL bins via try_element_at.
      Multimodal.decodeFeatures(Multimodal.withPayload(t(s, dir, "documents")))
        .select(Seq(col("doc_id"), col("checksum")) ++
          (0 until 8).map(j =>
            try_element_at(col("byte_histogram"), lit(j + 1)).as(s"h$j")) ++
          (0 until 8).map(j =>
            try_element_at(col("feat"), lit(j + 1)).cast("double").as(s"f$j")): _*)
        .orderBy(col("doc_id"))
    }),

    // ── Lexical indexing / retrieval (sparse complement to embedding ANN) ──

    "q_tfidf" -> ((s, dir) => {
      // per-doc top-3 terms by quantized TF-IDF (exact BIGINT scoring —
      // ln(N/df) is libm-hazardous cross-engine; tf·10⁴·N DIV df is not)
      graft.pipelines.Lexical.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank_in_group"))
    }),

    "q_inverted_index" -> ((s, dir) => {
      // posting lists for terms in a df band; the band is counted FIRST
      // so the collect state is ≤ maxDf ids by construction — a
      // stopword-tier term never buffers a corpus-sized list. Band scales
      // with the corpus: df ≤ 80% of docs (batch/small/scan-tier terms
      // saturate the synthetic corpus and fall outside).
      val docs = t(s, dir, "documents")
      val n = docs.filter(length(trim(col("text"))) > 0).count()
      graft.pipelines.Lexical.invertedIndex(docs, "doc_id", "text",
        minDf = 1, maxDf = n * 8 / 10)
        .orderBy(col("term"))
    }),

    "q_lexical_search" -> ((s, dir) => {
      // keyword retrieval: top-20 docs for a 4-term query, summed
      // quantized TF-IDF; corpus filters to query-term hits before any
      // aggregation, global top-k via TakeOrderedAndProject
      graft.pipelines.Lexical.searchTopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "merge", "vector", "dup"), k = 20)
        .orderBy(col("rank"))
    }),

    // ── Sequence audit (feed-completeness pre-flight) ─────────────────

    "q_sequence_gaps" -> ((s, dir) => {
      // missing l_orderkey ranges (orders with no lineitems): the
      // completeness audit before a full-sync delete trusts a feed.
      // Bucketed arithmetic partitioning — never lag() over ONE global
      // partition (see operators/Sequencing.scala).
      graft.operators.Sequencing.gaps(t(s, dir, "lineitem"), "l_orderkey")
        .orderBy(col("gap_start"))
    }),

    "q_sequence_islands" -> ((s, dir) => {
      // the dual view: contiguous loaded ranges with distinct-key counts
      graft.operators.Sequencing.islands(t(s, dir, "lineitem"), "l_orderkey")
        .orderBy(col("island_start"))
    }),

    "q_weighted_percentile" -> ((s, dir) => {
      // weighted p50/p90 of line price (weight = quantity) per return
      // flag: discrete weighted-quantile selection (smallest value whose
      // cumulative weight covers p% of the total) — exact integers end
      // to end; THREE groups would hot-partition a plain window, so the
      // cumulative weights run through the per-group RANGED running sum
      val v = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val cum = RunningTotals.groupedRunningSum(v, Seq("l_returnflag"),
        Seq(col("cents").asc), "w", "cw")
      val tot = v.groupBy(col("l_returnflag")).agg(sum(col("w")).as("tw"))
      cum.join(broadcast(tot), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(min(when(col("cw") * 100 >= col("tw") * 50, col("cents"))).as("wp50_cents"),
          min(when(col("cw") * 100 >= col("tw") * 90, col("cents"))).as("wp90_cents"))
        .orderBy(col("l_returnflag"))
    }),

    "q_corr_matrix" -> ((s, dir) => {
      // pairwise Pearson correlation of the four line measures from ONE
      // exact-moment aggregate (the q_trend_slope recipe generalized):
      // decimal sums are order-independent and exact; the correlation
      // finish is one pinned-parenthesization double expression, 4-dp
      // quantized
      val df = t(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("q"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("p"),
        floor(col("l_discount") * 10000.0 + 0.5).cast("long").as("d"),
        floor(col("l_tax") * 10000.0 + 0.5).cast("long").as("x"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      val vars = Seq("q", "p", "d", "x")
      val moments = df.agg(count(lit(1)).as("n"),
        vars.map(v => S(col(v)).as(s"s_$v")) ++
          (for (a <- vars; b <- vars if a <= b)
            yield S(col(a) * col(b)).as(s"s_${a}${b}")): _*)
        .localCheckpoint(true) // one row, referenced once per pair
      def corr(a: String, b: String): Column = {
        def D(name: String) = col(name).cast("double")
        floor((D("n") * D(s"s_$a$b") - D(s"s_$a") * D(s"s_$b")) /
          sqrt((D("n") * D(s"s_$a$a") - D(s"s_$a") * D(s"s_$a")) *
            (D("n") * D(s"s_$b$b") - D(s"s_$b") * D(s"s_$b"))) * 10000.0 + 0.5)
          .cast("long")
      }
      (for (a <- vars; b <- vars if a < b)
        yield moments.select(lit(a).as("var_x"), lit(b).as("var_y"),
          corr(a, b).as("corr_bp")))
        .reduce(_ unionAll _)
        .orderBy(col("var_x"), col("var_y"))
    }),

    "q_item_neighbors_maintained" -> ((s, dir) => {
      // the CF model's count tables maintained INCREMENTALLY: orders
      // divisible by 7 arrive as the delta; changed users' capped sets
      // diff into ± adjustments (O(changed·cap²), no corpus rescan) and
      // scoring from the maintained state must equal the full rebuild —
      // registered against q_item_neighbors' VERBATIM oracle.
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      // the fact⨝header join feeds base, changed-user discovery, AND the
      // changed-user recompute — pin it once instead of replaying the
      // join per consumer (bench: the query's dominant cost)
      val full = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
          col("o_orderkey"))
        .localCheckpoint(true)
      def inter(df: DataFrame) = df.groupBy(col("user"), col("item"))
        .agg(countDistinct(col("o_orderkey")).as("strength"))
      // delta = orders divisible by 101 (~1% of orders → ~10% of users
      // changed): a REALISTIC sync batch, so the maintenance path does
      // delta-sized work on top of the base build. (r11 used %7, which
      // marked ~78% of users changed — the "incremental" demo then did
      // ~3 near-full pair explosions, costing more than a rebuild. The
      // oracle is the full rebuild and is split-invariant: maintained
      // state == rebuild holds for ANY base/delta split, so the hash
      // is unchanged; ItemSimSpec proves the equality exhaustively.)
      val base = full.filter(col("o_orderkey") % 101 =!= 0)
      val changedUsers = full.filter(col("o_orderkey") % 101 === 0)
        .select(col("user")).distinct()
      val oldChanged = inter(base.join(changedUsers, Seq("user"), "left_semi"))
      val newChanged = inter(full.join(changedUsers, Seq("user"), "left_semi"))
      val (p0, i0) = graft.similarity.ItemSim.counts(inter(base),
        "user", "item", "strength", maxUserItems = 50)
      val (pm, im) = graft.similarity.ItemSim.maintainCounts(p0, i0,
        oldChanged, newChanged, "user", "item", "strength", maxUserItems = 50)
      graft.similarity.ItemSim.neighborsFromCounts(pm, im, k = 10)
        .orderBy(col("item"), col("rank"))
    }),

    "q_mixture_alloc" -> ((s, dir) => {
      // EXACT-N mixture sampling: a 300-doc budget allocated across
      // sources by largest remainder (parts sum to exactly 300 at every
      // SF — rate-based sampling can only promise N in expectation),
      // then each source takes its quota deterministically by the
      // portable multiplicative hash. Composes Allocate + the hash-
      // order pick; one window per stage.
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val wts = d.groupBy(col("source")).agg(count(lit(1)).as("w"))
        .withColumn("k", lit(1)).withColumn("amt", lit(300L))
      val quota = Allocate.largestRemainder(wts, Seq("k"), "w", "amt",
          tiebreak = Seq("source"), outCol = "n_take")
        .select(col("source"), col("n_take"))
      val h = (col("doc_id") % 1048573L) * 2654435761L % 1000000L
      val rankW = Window.partitionBy(col("source"))
        .orderBy(h.asc, col("doc_id").asc)
      d.withColumn("__r", row_number().over(rankW))
        .join(broadcast(quota), Seq("source"))
        .filter(col("__r") <= col("n_take"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "q_langmix" -> ((s, dir) => {
      // mixed-language-document audit: language-id per 25-token chunk,
      // then per-doc chunk count / language switches / distinct
      // languages — the curation signal chunk-level filters need that
      // whole-doc lang-id (q_lang_id) averages away
      val docs = t(s, dir, "documents").filter(length(trim(col("text"))) > 0)
      val ch = docs.select(col("doc_id"),
          posexplode(TextFunctions.chunkTokens(col("text"), size = 25, overlap = 0))
            .as(Seq("chunk_idx", "chunk")))
        .withColumn("cl", TextFunctions.langId(col("chunk")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
      ch.withColumn("__prev", lag(col("cl"), 1).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__prev").isNotNull && col("cl") =!= col("__prev"), 1L)
            .otherwise(0L)).as("n_switches"),
          countDistinct(col("cl")).as("n_langs"))
        .orderBy(col("doc_id"))
    }),

    "q_skyline" -> ((s, dir) => {
      // Pareto frontier (skyline operator, Börzsönyi ICDE'01): parts no
      // other part beats on BOTH price (min) and size (max). Sort-based:
      // collapse to price levels, one EXCLUSIVE global running max over
      // the levels (ranged two-pass — never a one-task window), keep
      // level maxima that beat every cheaper level.
      val p = t(s, dir, "part").select(col("p_partkey"),
        floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("price_q"),
        col("p_size").cast("long").as("p_size"))
      val levels = p.groupBy(col("price_q")).agg(max(col("p_size")).as("lvl_max"))
      val lv = RunningTotals.globalRunningMaxExclusive(levels,
        Seq(col("price_q").asc), "lvl_max", "excl_max")
      p.join(lv, Seq("price_q"))
        .filter(col("p_size") === col("lvl_max") &&
          (col("excl_max").isNull || col("lvl_max") > col("excl_max")))
        .select(col("p_partkey"), col("price_q"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),

    "q_fifo_layers" -> ((s, dir) => {
      // FIFO lot consumption: returns restock, everything else issues;
      // cumulative-range overlap turns the sequential ledger walk into
      // one equi-join (operators/Ledger.scala)
      val mv = t(s, dir, "lineitem").select(
        col("l_partkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("q"),
        (col("l_returnflag") === "R").as("is_receipt"))
      Ledger.fifoMatch(mv, Seq("l_partkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"), "q", "is_receipt")
        .orderBy(col("l_partkey"), col("r_seq"), col("i_seq"))
    }),

    "q_rfm" -> ((s, dir) => {
      // RFM segmentation: per-customer recency/frequency/monetary
      // quintile scores. Scores come from exact arithmetic rank binning
      // floor((rank-1)*5/n)+1 (NOT SQL ntile's uneven-bucket rule), and
      // every global rank runs through the range-partitioned two-pass
      // machine (operators/RunningTotals.scala) — no one-task window.
      val o = t(s, dir, "orders")
      val ref = o.agg(max(col("o_orderdate")).as("__ref"),
        count_distinct(col("o_custkey")).as("__n"))
      val base = o.groupBy(col("o_custkey")).agg(
          max(col("o_orderdate")).as("__last"),
          count(lit(1)).as("frequency"),
          sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("monetary_q"))
        .crossJoin(broadcast(ref))
        .withColumn("recency_days", datediff(col("__ref"), col("__last")).cast("long"))
      val ranked = RunningTotals.globalRank(
        RunningTotals.globalRank(
          RunningTotals.globalRank(base,
            Seq(col("recency_days").asc, col("o_custkey").asc), "__rr"),
          Seq(col("frequency").desc, col("o_custkey").asc), "__rf"),
        Seq(col("monetary_q").desc, col("o_custkey").asc), "__rm")
      def score(rank: Column, n: Column): Column =
        (lit(5L) - call_function("div", (rank - 1L) * 5L, n)).cast("int")
      ranked
        .withColumn("r_score", score(col("__rr"), col("__n")))
        .withColumn("f_score", score(col("__rf"), col("__n")))
        .withColumn("m_score", score(col("__rm"), col("__n")))
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_q"), col("r_score"), col("f_score"), col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"))
        .orderBy(col("o_custkey"))
    }),

    "q_abc_class" -> ((s, dir) => {
      // ABC inventory classification: parts ranked by revenue, class A
      // = first 80% of cumulative revenue, B to 95%, C the tail — the
      // Pareto report every merch team runs. Global cumulative share
      // through the ranged two-pass cumsum; boundaries compared in
      // EXACT integers (cum*100 <= tot*80).
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")).as("cents"))
      val tot = rev.agg(sum(col("cents")).as("__tot"))
      RunningTotals.globalRunningSum(rev,
          Seq(col("cents").desc, col("l_partkey").asc), "cents", "cum_cents")
        .crossJoin(broadcast(tot))
        .withColumn("abc",
          when(col("cum_cents") * 100 <= col("__tot") * 80, "A")
            .when(col("cum_cents") * 100 <= col("__tot") * 95, "B")
            .otherwise("C"))
        .select(col("l_partkey"), col("cents"), col("cum_cents"), col("abc"))
        .orderBy(col("l_partkey"))
    }),

    "q_churn" -> ((s, dir) => {
      // weekly churn: users active in ISO week w with no event in w+1
      // (final week excluded — its successor is unobserved). Rate in
      // exact integer basis points.
      val act = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val nxt = act.select(col("user_id"), date_sub(col("wk"), 7).as("wk"))
      val churned = act.join(nxt, Seq("user_id", "wk"), "left_anti")
        .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
      val maxWk = act.agg(max(col("wk")).as("__max"))
      act.groupBy(col("wk")).agg(count(lit(1)).as("n_active"))
        .join(churned, Seq("wk"), "left")
        .na.fill(0L, Seq("n_churned"))
        .crossJoin(broadcast(maxWk))
        .filter(col("wk") < col("__max"))
        .select(date_format(col("wk"), "yyyy-MM-dd").as("week"),
          col("n_active"), col("n_churned"),
          call_function("div", col("n_churned") * 10000L, col("n_active"))
            .as("churn_bp"))
        .orderBy(col("week"))
    }),

    "q_item_neighbors" -> ((s, dir) => {
      // item-item collaborative filtering: top-10 cosine neighbors per
      // part from customer purchase sets, history capped at 50 items
      // per user BEFORE pairing (similarity/ItemSim.scala — the pair
      // explosion bound)
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val inter = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .agg(countDistinct(col("l_orderkey")).as("strength"))
      graft.similarity.ItemSim.neighbors(inter, "user", "item", "strength",
          k = 10, maxUserItems = 50)
        .orderBy(col("item"), col("rank"))
    }),

    "q_triangle_count" -> ((s, dir) => {
      // co-purchase affinity density: triangles in the parts-bought-
      // together graph, per-node counts (degree-ordered node-iterator,
      // operators/Graphs.scala — wedge work bounded O(m^1.5))
      val li = t(s, dir, "lineitem")
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      Graphs.triangleCounts(Graphs.canonicalEdges(pairs, "pa", "pb"))
        .orderBy(col("node"))
    }),

    "q_quantile_normalize" -> ((s, dir) => {
      // quantile normalization (Bolstad 2003, the batch-effect
      // remover): each document's length maps to the POOLED
      // distribution's value at its within-source percentile — one
      // step past q_score_calibrate (which stops at the percentile).
      // All arithmetic is exact integer rank selection: within-source
      // pct by the ((rk−1)·10⁴) div (n−1) rule, pooled value by the
      // range-partitioned global rank + ONE equi-join on the selected
      // rank — element selection, no interpolation to split engines.
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"))
      // per-source rank via the RANGED grouped machine (source
      // cardinality is LOW — a plain per-source window funnels n/|src|
      // rows through one task at 100 TB), counts from one keyed agg
      val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("__n"))
      val withPct = RunningTotals.groupedRank(d, Seq("source"),
          Seq(col("n_chars").asc, col("doc_id").asc), "__rk")
        .join(broadcast(srcN), Seq("source"))
        .withColumn("pct_bp",
          when(col("__n") === 1, lit(5000L))
            .otherwise(expr("((__rk - 1) * 10000) DIV (__n - 1)")))
      val pooled = RunningTotals.globalRank(
        d.select(col("n_chars").as("pool_chars"), col("doc_id").as("pool_id")),
        Seq(col("pool_chars").asc, col("pool_id").asc), "grk")
        .select(col("grk"), col("pool_chars"))
      val total = d.agg(count(lit(1)).as("nn"))
      withPct.crossJoin(broadcast(total))
        .withColumn("grk", expr("(pct_bp * (nn - 1)) DIV 10000 + 1"))
        .join(pooled, Seq("grk"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("pct_bp"), col("pool_chars").as("norm_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_seasonal_anomaly" -> ((s, dir) => {
      // the decomposition's consumer: days whose residual is a robust
      // outlier — |resid − median(resid)| > 3·MAD, DISCRETE lower
      // medians (the q_mad_outliers element-selection rule), over the
      // exact-integer residuals of q_seasonal's decomposition. The
      // full-window days only; all compares exact BIGINT.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("dow",
          (datediff(col("d"), to_date(lit("1970-01-01"))) % 7).cast("long"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
      // PIN the residual frame: it is referenced four times below
      // (count, median, deviations, MAD) and each reference re-expanded
      // the whole daily-agg + decomposition DAG (14 scans in the r14
      // before-plan). Day-level rows are bounded by the CALENDAR at any
      // corpus size, so the pin is 100 TB-safe; the scope frees it once
      // the eager tail is pinned (the RunningTotals discipline).
      Pins.scope { p =>
        val resid = p.pin(Stats.decomposeAdditive(daily, "rn", "dow", "rev_c", window = 7)
          .filter(col("resid").isNotNull)
          .select(col("d"), col("rev_c"), col("resid")), true)
        val n = resid.agg(count(lit(1)).as("n"))
        val med = resid.crossJoin(broadcast(n))
          .withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("resid"), col("d"))))
          .filter(col("__rk") === expr("(n + 1) DIV 2"))
          .select(col("resid").as("med"))
        val withDev = resid.crossJoin(broadcast(med))
          .withColumn("dev", abs(col("resid") - col("med")))
        val mad = withDev.crossJoin(broadcast(n))
          .withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("dev"), col("d"))))
          .filter(col("__rk") === expr("(n + 1) DIV 2"))
          .select(col("dev").as("mad"))
        val anomalies = withDev.crossJoin(broadcast(mad))
          .filter(col("dev") > lit(3L) * col("mad"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("rev_c"),
            col("resid"), col("dev"), col("mad"))
          .orderBy(col("d"))
        anomalies.localCheckpoint(true)
      }
    }),

    "q_feature_matrix" -> ((s, dir) => {
      // one-pass feature engineering: the per-customer model-input row
      // (order counts, exact spend stats, recency, active-month span,
      // priority mix) from ONE grouped aggregate over orders — the
      // feature-store extraction pattern; a reference date rides a
      // broadcast 1-row frame, never a driver-side constant pulled
      // from data.
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"),
        col("o_orderpriority"))
      val ref = o.agg(max(col("d")).as("ref_d"))
      o.crossJoin(broadcast(ref))
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("cents")).as("total_c"),
          min(col("cents")).as("min_c"),
          max(col("cents")).as("max_c"),
          expr("CAST(sum(cents) DIV count(1) AS BIGINT)").as("avg_c"),
          min(datediff(col("ref_d"), col("d"))).cast("long").as("recency_d"),
          countDistinct(trunc(col("d"), "mon")).as("active_months"),
          sum(when(col("o_orderpriority").startsWith("1"), 1L).otherwise(0L))
            .as("n_urgent"))
        .orderBy(col("o_custkey"))
    }),

    "q_assoc_rules" -> ((s, dir) => {
      // association rules a→b from the basket pair supports:
      // confidence = (10⁴·n_ab) div n_a and lift = (10⁴·n_ab·N) div
      // (n_a·n_b) — BOTH exact integer floor divisions, no float
      // anywhere; rules emitted in both directions, pruned at
      // support ≥ 3 and confidence ≥ 5%. Same single basket shuffle
      // as q_basket_affinity; the rule finish is per-pair arithmetic.
      val baskets = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .localCheckpoint(true) // pairs + supports + N read it
      val pairs = baskets.select(explode(expr(
          "flatten(transform(parts, (a, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), " +
            "b -> named_struct('part_a', a, 'part_b', b))))")).as("p"))
        .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3L)
      val supp = baskets.select(explode(col("parts")).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("n"))
      val nb = baskets.agg(count(lit(1)).as("nbask"))
      val both = pairs
        .unionByName(pairs.select(col("part_b").as("part_a"),
          col("part_a").as("part_b"), col("n_ab")))
      both
        .join(supp.withColumnRenamed("part", "part_a")
          .withColumnRenamed("n", "n_a"), Seq("part_a"))
        .join(supp.withColumnRenamed("part", "part_b")
          .withColumnRenamed("n", "n_b"), Seq("part_b"))
        .crossJoin(broadcast(nb))
        .withColumn("conf_bp", expr("(10000 * n_ab) DIV n_a"))
        .filter(col("conf_bp") >= 500L)
        .withColumn("lift_bp", expr("(10000 * n_ab * nbask) DIV (n_a * n_b)"))
        .select(col("part_a"), col("part_b"), col("n_ab"),
          col("conf_bp"), col("lift_bp"))
        .orderBy(col("part_a"), col("part_b"))
    }),

    "q_price_index" -> ((s, dir) => {
      // Laspeyres / Paasche / Fisher price indices, 1996 base → 1997:
      // per-part-year unit prices floor to exact cents (rev div qty),
      // index numerators/denominators are exact BIGINT basket sums,
      // Fisher is ONE sqrt over the two quantized indices — the
      // econ-staple report with no float before the final quantize.
      val li = t(s, dir, "lineitem")
        .withColumn("yr", year(to_date(col("l_shipdate"))))
        .filter(col("yr").isin(1996, 1997))
        .groupBy(col("l_partkey"), col("yr"))
        .agg(sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"), sum(col("l_quantity").cast("long")).as("qty"))
        .withColumn("price_q", expr("rev_c DIV qty"))
      val y0 = li.filter(col("yr") === 1996)
        .select(col("l_partkey"), col("price_q").as("p0"), col("qty").as("q0"))
      val y1 = li.filter(col("yr") === 1997)
        .select(col("l_partkey"), col("price_q").as("p1"), col("qty").as("q1"))
      val j = y0.join(y1, Seq("l_partkey"))
      val m = j.agg(count(lit(1)).as("n_parts"),
        sum(col("p1") * col("q0")).as("l_num"),
        sum(col("p0") * col("q0")).as("l_den"),
        sum(col("p1") * col("q1")).as("p_num"),
        sum(col("p0") * col("q1")).as("p_den"))
      m.select(col("n_parts"),
        expr("(10000 * l_num) DIV l_den").as("laspeyres_bp"),
        expr("(10000 * p_num) DIV p_den").as("paasche_bp"),
        floor(sqrt(expr("CAST((10000 * l_num) DIV l_den AS DOUBLE)") *
          expr("CAST((10000 * p_num) DIV p_den AS DOUBLE)")) + 0.5)
          .cast("long").as("fisher_bp"))
    }),

    "q_anova" -> ((s, dir) => {
      // one-way ANOVA F across order priorities — does mean order
      // value differ by priority class? Per-group exact moments in one
      // aggregate; per-group double terms quantized before the integer
      // sum (the order-independent alternative to a float
      // accumulation); completes the test family (chi2/t/U/F).
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      Stats.anovaF(o, "o_orderpriority", "cents")
    }),

    "q_kruskal" -> ((s, dir) => {
      // Kruskal-Wallis H over the same grouping — the rank-based
      // (distribution-free) k-group test; tied ranks from the same
      // value-level ranged cumsum as q_mann_whitney, tie-corrected.
      val o = t(s, dir, "orders").select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      Stats.kruskalWallis(o, "o_orderpriority", "cents")
    }),

    "q_woe" -> ((s, dir) => {
      // weight-of-evidence encoding + information value per market
      // segment against the high-value-customer flag — the credit-
      // scoring feature-engineering staple. Counts exact; each WOE is
      // ONE ln of a ratio of exact integers (the psi-family floor
      // rule, +0.5 Laplace smoothing as doubled-integer halves); IV
      // accumulates quantized per-category terms in BIGINT.
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val hv = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(when(col("o_totalprice") > 300000.0, 1L).otherwise(0L))
          .as("y"))
      val j = cust.join(hv, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("y")).as("g"),
          sum(lit(1L) - col("y")).as("b"))
      val tot = j.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"))
      val withTot = j.crossJoin(broadcast(tot))
      val woe = floor(
        log((lit(2L) * col("g") + 1L).cast("double") * col("bt").cast("double") /
          ((lit(2L) * col("b") + 1L).cast("double") * col("gt").cast("double")))
          * 10000.0 + 0.5).cast("long")
      withTot
        .withColumn("woe_bp", woe)
        .withColumn("pg_bp", expr("(10000 * g) DIV gt"))
        .withColumn("pb_bp", expr("(10000 * b) DIV bt"))
        .withColumn("iv_term_q", (col("pg_bp") - col("pb_bp")) * col("woe_bp"))
        .withColumn("iv_q", sum(col("iv_term_q")).over(Window.partitionBy(lit(1))))
        .select(col("c_mktsegment"), col("g").as("n_good"), col("b").as("n_bad"),
          col("woe_bp"), col("iv_q"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_did" -> ((s, dir) => {
      // difference-in-differences: BUILDING-segment customers
      // (treatment) vs the rest, pre/post 1998 — the causal-inference
      // workhorse when randomization isn't available (ab/cuped's
      // observational sibling). Eight conditional moments in ONE
      // aggregation pass; exact floored cell means; the DiD estimate
      // is one pinned double expression.
      val o = t(s, dir, "orders")
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(
          when(col("c_mktsegment") === "BUILDING", lit(1L)).otherwise(lit(0L))
            .as("treat"),
          when(to_date(col("o_orderdate")) >= lit("1998-01-01"), lit(1L))
            .otherwise(lit(0L)).as("post"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      def cell(tr: Int, po: Int, c: Column) =
        sum(when(col("treat") === tr && col("post") === po, c).otherwise(lit(0L))
          .cast("decimal(38,0)"))
      val m = o.agg(
        cell(1, 0, lit(1L)).as("nt0"), cell(1, 1, lit(1L)).as("nt1"),
        cell(0, 0, lit(1L)).as("nc0"), cell(0, 1, lit(1L)).as("nc1"),
        cell(1, 0, col("cents")).as("st0"), cell(1, 1, col("cents")).as("st1"),
        cell(0, 0, col("cents")).as("sc0"), cell(0, 1, col("cents")).as("sc1"))
      def D(c: Column) = c.cast("double")
      def meanQ(sc: Column, n: Column) = ((sc - pmod(sc, n)) / n).cast("long")
      val did = (D(col("st1")) / D(col("nt1")) - D(col("st0")) / D(col("nt0"))) -
        (D(col("sc1")) / D(col("nc1")) - D(col("sc0")) / D(col("nc0")))
      m.select(
        col("nt0").cast("long").as("nt0"), col("nt1").cast("long").as("nt1"),
        col("nc0").cast("long").as("nc0"), col("nc1").cast("long").as("nc1"),
        meanQ(col("st0"), col("nt0")).as("mean_t_pre_q"),
        meanQ(col("st1"), col("nt1")).as("mean_t_post_q"),
        meanQ(col("sc0"), col("nc0")).as("mean_c_pre_q"),
        meanQ(col("sc1"), col("nc1")).as("mean_c_post_q"),
        floor(did * 100.0 + 0.5).cast("long").as("did_q"))
    }),

    "q_nelson_aalen" -> ((s, dir) => {
      // cumulative-hazard sibling of q_survival_km (Nelson-Aalen):
      // H(t) = Σ d/n over event times — per-step hazards quantize as
      // (10⁶·d) div n (exact integers), the cumulative sum is plain
      // BIGINT; no recursion anywhere, so the oracle is one window.
      val byCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
      val mx = byCust.agg(max(col("last_d")).as("__mx"))
      val subj = byCust.crossJoin(broadcast(mx)).select(
        datediff(col("last_d"), col("first_d")).cast("long").as("duration"),
        when(datediff(col("__mx"), col("last_d")) >= 365, lit(1L))
          .otherwise(lit(0L)).as("event"))
      val byT = subj.groupBy(col("duration"))
        .agg(sum(col("event")).cast("long").as("d"),
          sum(lit(1L) - col("event")).cast("long").as("c"))
      val tot = subj.agg(count(lit(1)).cast("long").as("__total"))
      val w = Window.partitionBy(lit(1)).orderBy(col("duration"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byT.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("__total") - coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
        .filter(col("d") > 0)
        .withColumn("h_step", expr("(1000000 * d) DIV n_risk"))
        .withColumn("hazard_q", sum(col("h_step")).over(
          Window.partitionBy(lit(1)).orderBy(col("duration"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("duration"), col("n_risk"), col("d").as("n_events"),
          col("hazard_q"))
        .orderBy(col("duration"))
    }),

    "q_isotonic" -> ((s, dir) => {
      // isotonic calibration curve (PAV): monotone fit of the
      // high-value-order rate on the customer's account-balance band —
      // the calibration step every score pipeline runs before
      // thresholding. Rows collapse to one (band, n, Σy) level first;
      // the O(m) PAV stack pools on the driver with EXACT rational
      // means. The oracle replays the fit through its min-max closed
      // form (fitted = max-min segment mean, pools = equal-fitted
      // runs) with one exact scaled fraction key; StatsSpec proves
      // monotonicity, mean preservation, and the textbook pooling case.
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        floor(col("c_acctbal") / 100).cast("long").as("band"))
      val hv = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(when(col("o_totalprice") > 300000.0, 1L).otherwise(0L))
          .as("y"))
      Stats.isotonic(
          cust.join(hv, col("c_custkey") === col("o_custkey"))
            .select(col("band"), col("y")),
          "band", "y")
        .orderBy(col("x_lo"))
    }),

    "q_mde" -> ((s, dir) => {
      // experiment power pre-flight: the minimum detectable effect at
      // alpha=0.05 / power=0.8 for the CURRENT arm sizes and pooled
      // variance — the "is this test even worth running" one-rower.
      // Normal quantiles are pinned literals on both engines.
      val o = t(s, dir, "orders").select(
        when((col("o_custkey") % 1048573L) * 2654435761L % 1000000L < 500000L,
          lit(0L)).otherwise(lit(1L)).as("variant"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      val m = o.agg(
        S(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
        S(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
        S(col("cents")).as("sx"), S(col("cents") * col("cents")).as("sxx"))
      def D(c: Column) = c.cast("double")
      val n = D(col("n0")) + D(col("n1"))
      val varP = (n * D(col("sxx")) - D(col("sx")) * D(col("sx"))) /
        (n * (n - lit(1.0)))
      val mde = lit(1.959963984540054 + 0.8416212335729143) *
        sqrt(varP * (lit(1.0) / D(col("n0")) + lit(1.0) / D(col("n1"))))
      m.select(col("n0").cast("long").as("n0"), col("n1").cast("long").as("n1"),
        floor(sqrt(varP) * 100.0 + 0.5).cast("long").as("sigma_q"),
        floor(mde * 100.0 + 0.5).cast("long").as("mde_q"))
    }),

    "q_holt_winters" -> ((s, dir) => {
      // the forecasting trio's capstone (ewma → holt → Holt-Winters):
      // level + trend + a 12-slot seasonal ring per nation, exact
      // floor-division recurrence, O(period) state in the same
      // one-keyed-shuffle machine. Hash-checked since round 9: the
      // seasonal ring rides the recursive CTE as a LIST column (slice
      // surgery per step), so the full triple recurrence replays;
      // RecurrencesSpec still replays the sequential definition.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val mon = t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          trunc(to_date(col("o_orderdate")), "mon").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
      Recurrences.holtWinters(mon, Seq("nation"), Seq("month"), "rev_c",
          period = 12, 1L, 4L, 1L, 4L, 1L, 4L)
        .select(col("nation"), date_format(col("month"), "yyyy-MM").as("month"),
          col("rev_c"), col("hw_q"))
        .orderBy(col("nation"), col("month"))
    }),

    "q_theilsen" -> ((s, dir) => {
      // robust trend: Theil-Sen median-of-pairwise-slopes per nation —
      // the 29%-breakdown alternative to q_trend_slope's OLS (one
      // contaminated month cannot drag it). Facts reduce to the
      // monthly series first; exact-rational pair slopes and the
      // lower-median selection run on the driver over that
      // calendar-bounded frame. The oracle replays the rational median
      // with a two-part exact integer sort key (floor quotient +
      // bounded-denominator remainder scale) — no float ordering;
      // StatsSpec proves outlier immunity and exact recovery.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val mon = t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          trunc(to_date(col("o_orderdate")), "mon").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("nation")).orderBy(col("month")))
          .cast("long"))
      Stats.theilSen(mon, "nation", "rn", "rev_c")
        .withColumnRenamed("grp", "nation")
        .orderBy(col("nation"))
    }),

    "q_voptimal_hist" -> ((s, dir) => {
      // v-optimal histogram of document lengths (Jagadish VLDB'98):
      // the 8-bucket partition minimizing total within-bucket SSE —
      // equal-width wastes resolution, quantile buckets ignore
      // variance; this is the principled layout a stats catalog wants.
      // Facts collapse to one row per distinct value (map-side); the
      // exact-BigInt DP runs on the driver over that bounded frame.
      // The oracle replays the DP as 8 unrolled argmin layers over a
      // materialized pair-cost table (same smallest-cut tie-break);
      // BinningSpec proves the DP against brute-force enumeration.
      Binning.vOptimal(t(s, dir, "documents"), "n_chars", nBuckets = 8)
        .orderBy(col("bucket"))
    }),

    "q_neyman_sample" -> ((s, dir) => {
      // stratified sampling with NEYMAN allocation (Neyman 1934): a
      // 500-doc budget split across sources ∝ Nh·σh — high-variance
      // strata earn more samples than proportional allocation gives
      // them; the optimal-variance design. σh quantizes through one
      // sqrt+floor (deterministic); the split is EXACT largest
      // remainder; each stratum takes its quota by the portable hash
      // order. Composes the q_mixture_alloc machinery with
      // variance-aware weights.
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("x"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      def D(c: Column) = c.cast("double")
      val m = d.groupBy(col("source")).agg(count(lit(1)).as("nh"),
        S(col("x")).as("sx"), S(col("x") * col("x")).as("sxx"))
      val varh = when(col("nh") > 1,
        (D(col("nh")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))) /
          (D(col("nh")) * (D(col("nh")) - lit(1.0)))).otherwise(lit(0.0))
      val wts = m
        .withColumn("sh_q",
          floor(sqrt(greatest(varh, lit(0.0))) * 100.0 + 0.5).cast("long"))
        .withColumn("w", col("nh") * col("sh_q"))
        .withColumn("k", lit(1)).withColumn("amt", lit(500L))
      val quota = Allocate.largestRemainder(wts, Seq("k"), "w", "amt",
          tiebreak = Seq("source"), outCol = "n_take")
        .select(col("source"), col("n_take"))
      val h = (col("doc_id") % 1048573L) * 2654435761L % 1000000L
      val rankW = Window.partitionBy(col("source"))
        .orderBy(h.asc, col("doc_id").asc)
      d.withColumn("__r", row_number().over(rankW))
        .join(broadcast(quota), Seq("source"))
        .filter(col("__r") <= col("n_take"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    "q_mann_whitney" -> ((s, dir) => {
      // nonparametric A/B: Wilcoxon rank-sum on order value between
      // the hash variants — the distribution-free sibling of
      // q_ab_test's Welch t (heavy-tailed revenue is exactly where a
      // t-test misleads). u2 = 2·U1 stays an exact integer through
      // tied ranks; tie-corrected normal z.
      val o = t(s, dir, "orders").select(
        when((col("o_custkey") % 1048573L) * 2654435761L % 1000000L < 500000L,
          lit(0L)).otherwise(lit(1L)).as("variant"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      Stats.mannWhitney(o, "variant", "cents")
    }),

    "q_forecast_backtest" -> ((s, dir) => {
      // forecast evaluation: one-step-ahead MAPE of Holt vs the naive
      // last-value forecast per nation — the backtest that justifies
      // (or rejects) the fancier model. Errors quantize per row
      // ((10⁴·|e|) div actual — exact integers), means are floor
      // divisions; everything rides q_holt's exact recurrence.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val mon = t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          trunc(to_date(col("o_orderdate")), "mon").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
      val fitted = Recurrences.holt(mon, Seq("nation"), Seq("month"), "rev_c",
        aNum = 1L, aDen = 4L, bNum = 1L, bDen = 4L)
      val w = Window.partitionBy(col("nation")).orderBy(col("month"))
      val evals = fitted
        .withColumn("fc_holt", lag(col("holt_q"), 1).over(w))
        .withColumn("fc_naive", lag(col("rev_c"), 1).over(w))
        .filter(col("fc_holt").isNotNull && col("rev_c") > 0L)
        .withColumn("ape_holt",
          expr("(10000 * abs(rev_c - fc_holt)) DIV rev_c"))
        .withColumn("ape_naive",
          expr("(10000 * abs(rev_c - fc_naive)) DIV rev_c"))
      evals.groupBy(col("nation")).agg(
          count(lit(1)).as("n_evals"),
          expr("CAST(sum(ape_holt) DIV count(1) AS BIGINT)").as("mape_holt_bp"),
          expr("CAST(sum(ape_naive) DIV count(1) AS BIGINT)").as("mape_naive_bp"))
        .orderBy(col("nation"))
    }),

    "q_ppr" -> ((s, dir) => {
      // personalized PageRank (random walk with restart): teleport mass
      // lands ONLY on the seed parts (one brand), so scores measure
      // graph proximity to the brand — the "related items" recommender
      // primitive. Same part-transition edges and pinned BIGINT
      // recurrence as q_pagerank; only rows the walk reached.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"))
      val edges = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead(col("l_partkey"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("l_partkey").as("src"), col("dst"))
        .agg(count(lit(1)).as("weight"))
      val seeds = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("node"))
      PageRank.personalizedRank(edges, seeds, iters = 3)
        .filter(col("pr") > 0L)
        .orderBy(col("node"))
    }),

    "q_changepoints" -> ((s, dir) => {
      // offline structural-break detection: binary segmentation over
      // the daily revenue series — EXACT BigInt prefix sums + rational
      // SSE compares on the driver, over a post-aggregation frame
      // bounded by the calendar, not data volume. Always returns the
      // best candidate (flagged insignificant on a stationary series)
      // so the answer is never vacuous. The oracle replays the greedy
      // with exact HUGEINT rational compares, three unrolled recursion
      // levels (deeper trees mismatch loudly, never silently);
      // ChangePointsSpec plants mean shifts.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
      val cps = ChangePoints.binarySegmentation(daily, "rn", "rev_c",
        minSeg = 30, maxPoints = 5, minGainPermille = 100L)
      cps.join(daily, cps("cp_ord") === daily("rn"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("cp_date"),
          col("left_mean_q"), col("right_mean_q"), col("gain_permille"),
          col("significant"))
        .orderBy(col("cp_date"))
    }),

    "q_markov_attribution" -> ((s, dir) => {
      // data-driven attribution capstone (removal effect, Anderl et
      // al. 2014) beside the positional rules: journeys = 30-minute
      // SESSIONS (whole-history journeys all convert here — a
      // degenerate p=1 baseline), truncated at first purchase (one
      // keyed window); transitions count in one grouped agg; the
      // ≤|event-types|-state chain solves on the driver in EXACT
      // BigInt rationals — no float anywhere, bit-deterministic.
      // rows-only by design (no SQL form for the rational solve);
      // MarkovAttributionSpec proves the solver against double power
      // iteration and order-invariance.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sessions = t(s, dir, "events").filter(col("user_id").isNotNull)
        .withColumn("__gap",
          when(col("ts").cast("long") -
            lag(col("ts").cast("long"), 1).over(w) > 1800L, 1L)
            .otherwise(lit(0L)))
        .withColumn("journey_id",
          concat(col("user_id").cast("string"), lit("#"),
            sum(col("__gap")).over(
              w.rowsBetween(Window.unboundedPreceding, 0)).cast("string")))
      MarkovAttribution.removalEffects(sessions,
          "journey_id", "event_type", "ts", "event_id", "purchase")
        .orderBy(col("channel"))
    }),

    "q_mcnemar" -> ((s, dir) => {
      // paired binary comparison (McNemar 1947): did high-value
      // purchasing CHANGE between 1996 and 1997 for the SAME
      // customers? The paired design two independent proportions
      // can't give. Population = customers ordering in both years;
      // statistic = (b−c)²/(b+c) over the discordant counts — exact
      // integer ratio, quantized by floor division.
      val o = t(s, dir, "orders")
        .withColumn("yr", year(to_date(col("o_orderdate"))))
        .filter(col("yr").isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(
          max(when(col("yr") === 1996, 1L).otherwise(0L)).as("in96"),
          max(when(col("yr") === 1997, 1L).otherwise(0L)).as("in97"),
          max(when(col("yr") === 1996 && col("o_totalprice") > 300000.0, 1L)
            .otherwise(0L)).as("hv96"),
          max(when(col("yr") === 1997 && col("o_totalprice") > 300000.0, 1L)
            .otherwise(0L)).as("hv97"))
        .filter(col("in96") === 1L && col("in97") === 1L)
      o.agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("hv96") === 1L && col("hv97") === 0L, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("hv96") === 0L && col("hv97") === 1L, 1L).otherwise(0L))
            .as("c"))
        .select(col("n_pairs"), col("b"), col("c"),
          expr("CAST(CASE WHEN b + c = 0 THEN 0 ELSE " +
            "(10000 * (b - c) * (b - c)) DIV (b + c) END AS BIGINT)")
            .as("mcnemar_bp"))
    }),

    "q_srm" -> ((s, dir) => {
      // sample-ratio-mismatch guard (the first experiment-hygiene
      // check): chi-square goodness-of-fit of the observed variant
      // split vs the designed 50/50 — (n0−n1)²/n, exact integers.
      val o = t(s, dir, "orders").select(
        when((col("o_custkey") % 1048573L) * 2654435761L % 1000000L < 500000L,
          lit(0L)).otherwise(lit(1L)).as("variant"))
      o.agg(
          sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n0"),
          sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n1"))
        .select(col("n0"), col("n1"),
          expr("CAST((10000 * (n0 - n1) * (n0 - n1)) DIV (n0 + n1) AS BIGINT)")
            .as("srm_bp"))
    }),

    "q_lsh_recall" -> ((s, dir) => {
      // dedup-quality CANARY: inject tracer duplicates (1 in 17 docs
      // copied under a shifted id) and measure the LSH pipeline's
      // recall of the KNOWN (original, copy) pairs — identical text ⇒
      // identical signature ⇒ same buckets, so recall must be 10000;
      // anything lower is the regression alarm (the dedup sibling of
      // q_ann_recall; tracer injection keeps the gate non-vacuous at
      // every SF, unlike mining natural dups — the q_churn lesson).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val offset = lit(10000000L)
      val tracers = docs.filter(col("doc_id") % 17 === 0)
        .filter(length(trim(col("text"))) > 0)
      val corpus = docs.unionByName(
        tracers.select((col("doc_id") + offset).as("doc_id"), col("text")))
      val truth = tracers.select(col("doc_id").as("lo"),
        (col("doc_id") + offset).as("hi"))
      val found = graft.dedup.NearDup.minhashPairs(corpus, "doc_id", "text",
          threshold = 0.6)
        .select(least(col("id_a"), col("id_b")).as("lo"),
          greatest(col("id_a"), col("id_b")).as("hi"))
      val hit = truth.join(found, Seq("lo", "hi"), "left_semi")
      val nT = truth.count(); val nH = hit.count()
      docs.sparkSession.range(1).select(
        lit(nT).as("n_truth_pairs"), lit(nH).as("n_found"),
        lit(if (nT == 0) 10000L else (10000L * nH) / nT).as("recall_bp"))
    }),

    "q_lsh_curve" -> ((s, dir) => {
      // the LSH OPERATING CURVE measured (q_lsh_recall's sibling:
      // recall pins s=1; this sweeps the s AXIS): build evaluation
      // pairs with CONTROLLED similarity — each doc gets a variant
      // whose every stride-th token is replaced by a junk token, arm
      // stride ∈ {identical, 16, 9, 6, 4} by doc_id residue, giving
      // shingle-Jaccard clusters near 1.0/0.68/0.5/0.33/0.14 — then
      // for (bands, rows) ∈ {(16,4), (8,8), (4,16)} over the same 64
      // minhashes count per exact-Jaccard decile how many pairs
      // collide in >= 1 band. This is the S-curve 1−(1−s^r)^b that
      // near-dup thresholds are chosen from (MMDS §3.4), measured
      // instead of assumed; NearDupSpec pins it against the closed
      // form per arm. HASH-CHECKED: the oracle replays the variant
      // construction, the full minhash sketch, slice-equality
      // collisions, and exact shingle Jaccard.
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("text"))
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val stride = when(col("doc_id") % 5 === 1, lit(16))
        .when(col("doc_id") % 5 === 2, lit(9))
        .when(col("doc_id") % 5 === 3, lit(6))
        .when(col("doc_id") % 5 === 4, lit(4))
        .otherwise(lit(0)) // arm 0: identical twin (s = 1)
      val vtoks = transform(sequence(lit(1), size(toks)), i =>
        when(stride > 0 && pmod(i, stride) === 0,
          concat(lit("zzq"), col("doc_id").cast("string"), lit("x"),
            i.cast("string")))
          .otherwise(element_at(toks, i)))
      val offset = lit(100000000L)
      // build the variant text BEFORE shifting the id: an aliased
      // doc_id in the same select would shadow the original inside the
      // junk-token expression (measured: zzq100000001x16 where the
      // oracle says zzq1x16 — same Jaccard counts, different strings,
      // different signatures)
      val corpus = docs.unionByName(docs
        .withColumn("__vtext", array_join(vtoks, " "))
        .select((col("doc_id") + offset).as("doc_id"),
          col("__vtext").as("text")))
        // the 64-hash sketch is CPU-bound per row and otherwise runs
        // inside the scan stage — at sf0.1 that is TWO parquet splits
        // (2/32 cores busy, measured 7.6 s per sketch job); one narrow
        // id shuffle fans the sketch across the session's cores. The
        // partition count is EXPLICIT: AQE's byte-targeted coalescing
        // would fold these few MB back to ONE partition (measured 9.1 s
        // single-task sketch jobs) — bytes are the wrong yardstick for
        // a CPU-bound stage.
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val pairs = docs.select(col("doc_id").as("id_a"),
        (col("doc_id") + offset).as("id_b"))
      graft.dedup.NearDup.collisionCurve(corpus, pairs, "doc_id", "text",
        settings = Seq((16, 4), (8, 8), (4, 16)))
        .orderBy(col("bands"), col("s_bucket"))
    }),

    "q_rec_eval" -> ((s, dir) => {
      // the recommender loop CLOSED: order-level holdout (1 in 7
      // orders), CF neighbors trained on the rest, top-10 scored per
      // user (exact integer sim sums — a double sum would make
      // re-runs hash-unstable), hit-rate@10 + NDCG@10 against the
      // STRICTLY-NEW held-out items. The whole pipeline replays in
      // SQL: split + cap + cosine neighbors (the q_item_neighbors
      // oracle machinery over the train slice), integer candidate
      // scoring, and the pinned-gain NDCG finish; RecEvalSpec proves
      // the scorer and metrics on planted fixtures.
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val inter = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
          col("o_orderkey"))
        .localCheckpoint(true) // train/test/strength all read it
      val trainRaw = inter.filter(col("o_orderkey") % 7 =!= 0)
      val train = trainRaw.groupBy(col("user"), col("item"))
        .agg(countDistinct(col("o_orderkey")).as("strength"))
        .localCheckpoint(true)
      val test = inter.filter(col("o_orderkey") % 7 === 0)
        .select(col("user"), col("item")).distinct()
        .join(train.select(col("user"), col("item")), Seq("user", "item"),
          "left_anti") // strictly new items only
      val nbrs = graft.similarity.ItemSim.neighbors(train,
        "user", "item", "strength", k = 10, maxUserItems = 50)
      val recs = graft.similarity.RecEval.topK(train, nbrs, k = 10)
      graft.similarity.RecEval.evaluate(recs, test, k = 10)
    }),

    "q_communities" -> ((s, dir) => {
      // community detection on the repeat co-purchase graph:
      // deterministic synchronous LPA (min-label ties, fixed 5
      // rounds) — the cohesion VIEW next to q_kcore's cohesion FILTER
      // and q_dedup_clusters' exact components. The oracle replays the
      // 5 synchronous rounds as a recursive CTE with the identical
      // (count DESC, label ASC) tie-break; GraphsSpec plants two
      // cliques joined by a bridge and proves the split +
      // order-invariance.
      val li = t(s, dir, "lineitem")
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(countDistinct(col("a.l_orderkey")).as("c"))
        .filter(col("c") >= 2)
      Graphs.labelPropagation(Graphs.canonicalEdges(pairs, "pa", "pb"),
          iters = 5)
        .orderBy(col("node"))
    }),

    "q_kcore" -> ((s, dir) => {
      // cohesive-core filter (k-core, Seidman 1983) on the REPEAT
      // co-purchase graph (pairs bought together in ≥2 distinct orders
      // — the single-order graph is near-complete and peels nothing):
      // iterative peel to fixpoint, checkpointed rounds, loud
      // non-convergence. The oracle replays the peel as a 50-round
      // (== maxIters) recursive CTE — converged rounds re-emit
      // unchanged, so the last round is the fixpoint; GraphsSpec
      // additionally proves equality with a sequential brute-force
      // peel.
      val li = t(s, dir, "lineitem")
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(countDistinct(col("a.l_orderkey")).as("c"))
        .filter(col("c") >= 2)
      Graphs.kCore(Graphs.canonicalEdges(pairs, "pa", "pb"), k = 2)
        .orderBy(col("node"))
    }),

    "q_ktruss" -> ((s, dir) => {
      // k-truss (Cohen 2008) — the edge-cohesion rung above q_kcore: a
      // spam hub inflates degree but not triangle support, so the truss
      // keeps the community backbone and drops star edges. Graph = the
      // single-order co-purchase graph on a 1-in-9 order slice (whole
      // orders kept, so the order-cliques that make the truss
      // non-trivial stay intact — the q_kcore repeat graph has 2 edges
      // of support ≥2 at sf0.01, a vacuous truss; measured here: k=5
      // peels 12,796 → 9,468 edges in 4 rounds at sf0.01, 133,585 →
      // 101,853 in 3 at sf0.1). The oracle unrolls the same fixed peel
      // budget (MATERIALIZED per-round CTEs — inlined, the multiple
      // references per round would exponentiate the scans), so the
      // edge set AND within-truss supports are value-equal.
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 9 === 0)
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      Graphs.kTruss(Graphs.canonicalEdges(pairs, "pa", "pb"), k = 5)
        .orderBy(col("u"), col("v"))
    }),

    "q_allocate" -> ((s, dir) => {
      // header-level rebate (10% of the order's cents total) prorated
      // onto lines by largest remainder: line parts sum EXACTLY to the
      // header amount; two windows over ONE keyed exchange
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
      val wA = Window.partitionBy(col("l_orderkey"))
      val withAmt = li.withColumn("rebate_q",
        call_function("div", sum(col("cents")).over(wA), lit(10L)))
      Allocate.largestRemainder(withAmt, Seq("l_orderkey"), "cents",
          "rebate_q", tiebreak = Seq("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("cents"),
          col("rebate_q"), col("alloc_q"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── Exact-integer per-key recurrences (operators/Recurrences) ─────

    "q_ewma" -> ((s, dir) => {
      // exponential smoothing of purchase amounts per user, alpha = 1/4,
      // exact integer recurrence (floor division every step) — the
      // non-associative fold no window frame can express; ONE keyed
      // shuffle + secondary sort, O(1) state per user
      val ev = t(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("xq"))
      Recurrences.ewma(ev, Seq("user_id"), Seq("ts", "event_id"),
          "xq", num = 1L, den = 4L)
        .select(col("user_id"), col("event_id"), col("xq"), col("ewma_q"))
        .orderBy(col("event_id"))
    }),

    "q_cusum" -> ((s, dir) => {
      // one-sided CUSUM spend alarms per user: s = max(0, s + xq - 4000),
      // fire at >= 20000 then reset — changepoint detection with
      // data-dependent reset (the same irreducibly-sequential class)
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("xq"))
      Recurrences.cusumAlarms(ev, Seq("user_id"), Seq("ts", "event_id"),
          "xq", target = 4000L, threshold = 20000L)
        .select(col("user_id"), col("event_id"), col("cusum_q"))
        .orderBy(col("event_id"))
    }),

    "q_running_balance" -> ((s, dir) => {
      // clamped stock balance per part: returns restock (+qty), ships
      // deplete (-qty), level floors at zero from an opening stock of
      // 500 — the clamp makes every prefix non-associative
      val mv = t(s, dir, "lineitem").select(
        col("l_partkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        when(col("l_returnflag") === "R", col("l_quantity"))
          .otherwise(-col("l_quantity")).cast("long").as("dq"))
      Recurrences.clampedBalance(mv, Seq("l_partkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"), "dq", init = 500L)
        .orderBy(col("l_partkey"))
    }),

    // ── Corpus repetition / filter report ─────────────────────────────

    "q_dup_ngrams" -> ((s, dir) => {
      // Gopher "duplicated n-gram" repetition stats as exact integers;
      // per-row sorted-array run-length fold, zero shuffle
      val st = graft.functions.TextFunctions.dupNgramStats(col("text"), n = 3)
      t(s, dir, "documents")
        .filter(graft.functions.TextFunctions.tokenCount(col("text")) >= 3)
        .select(col("doc_id"), st.getField("n_grams").as("n_grams"),
          st.getField("dup_occ").as("dup_occ"),
          st.getField("dup_chars").as("dup_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_golden_record" -> ((s, dir) => {
      // MDM survivorship: three prioritized feeds describe each order;
      // each golden ATTRIBUTE independently takes the most-preferred
      // non-null value (tag + exact +priority price offsets make the
      // winning source observable per cell)
      val o = t(s, dir, "orders")
      def src(tag: String, pri: Int, statusNullMod: Int, priceNullMod: Int) =
        o.select(col("o_orderkey"), lit(pri).as("priority"),
          when(col("o_orderkey") % statusNullMod =!= 0,
            concat(lit(tag + ":"), col("o_orderstatus"))).as("status"),
          when(col("o_orderkey") % priceNullMod =!= 0,
            col("o_totalprice") + pri).as("price"))
      val feed = src("A", 3, 3, 2)
        .unionByName(src("B", 2, 4, 3))
        .unionByName(src("C", 1, 9999991, 9999993)) // never null
      graft.operators.Survivorship.goldenRecord(feed,
        Seq("o_orderkey"), Seq(col("priority")), Seq("status", "price"))
        .orderBy(col("o_orderkey"))
    }),

    "q_benford" -> ((s, dir) => {
      // first-digit audit on order totals: organic-feed signal per digit
      graft.operators.Diagnostics.benford(t(s, dir, "orders"), col("o_totalprice"))
        .orderBy(col("digit"))
    }),

    "q_fk_orphan_report" -> ((s, dir) => {
      // referential-integrity audit on a DELIBERATELY corrupted feed:
      // every 97th order's lineitems point at a shifted (absent) part —
      // the report quantifies each FK's damage before a sync trusts it
      val li = t(s, dir, "lineitem").withColumn("l_partkey",
        when(col("l_orderkey") % 97 === 0, col("l_partkey") + 1000000L)
          .otherwise(col("l_partkey")))
      graft.operators.Diagnostics.fkOrphans(li, Seq(
        ("orders", "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
        ("part", "l_partkey", t(s, dir, "part"), "p_partkey"),
        ("supplier", "l_suppkey", t(s, dir, "supplier"), "s_suppkey")))
        .orderBy(col("fk_name"))
    }),

    "q_mad_outliers" -> ((s, dir) => {
      // robust (median/MAD) outlier summary per event type — the
      // median-based twin of q_event_outliers' moment z-scores, immune to
      // the outliers it hunts. DISCRETE lower medians (the (n+1) DIV 2-th
      // smallest, an actual data value — interpolation formulas differ
      // across engines in the last ulp; element selection cannot), so
      // med, mad, and every |x−med| > 3·mad compare are bit-exact in both
      // engines. Sort-window per event_type; the approx_percentile
      // sketch (q_percentiles_approx) is the mergeable scale path.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val wv = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wc = Window.partitionBy(col("event_type"))
      val withMed = ev
        .withColumn("__rn", row_number().over(wv))
        .withColumn("__n", count(lit(1)).over(wc))
        .withColumn("__med", max(when(col("__rn") === expr("(__n + 1) div 2"),
          col("value"))).over(wc))
      val withAdev = withMed.withColumn("__adev", abs(col("value") - col("__med")))
      val wa = Window.partitionBy(col("event_type")).orderBy(col("__adev"))
      withAdev
        .withColumn("__rna", row_number().over(wa))
        .withColumn("__mad", max(when(col("__rna") === expr("(__n + 1) div 2"),
          col("__adev"))).over(wc))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("__med")).as("med"),
          max(col("__mad")).as("mad"),
          sum((col("__adev") > col("__mad") * 3).cast("long")).as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    "q_gopher_filter" -> ((s, dir) => {
      // published-rules filter report: per-rule exact-integer flags +
      // keep bit — the decision table a curation pass materializes
      val g = graft.functions.TextFunctions.gopherFlags(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), g.getField("n_words").as("n_words"),
          g.getField("word_chars").as("word_chars"),
          g.getField("alpha_words").as("alpha_words"),
          g.getField("stop_hits").as("stop_hits"),
          g.getField("sym_hits").as("sym_hits"),
          g.getField("f_words").as("f_words"),
          g.getField("f_mean_len").as("f_mean_len"),
          g.getField("f_alpha").as("f_alpha"),
          g.getField("f_stop").as("f_stop"),
          g.getField("f_sym").as("f_sym"),
          g.getField("keep").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ── Time-grid resampling / privacy audit / hybrid retrieval ───────

    "q_resample_ffill" -> ((s, dir) => {
      // regular 6-hour per-user series forward-filled from the irregular
      // purchase stream: arithmetic epoch grid (ceil/floor-aligned, so
      // every grid point has an observation at-or-before it) + one
      // backward as-of join. Never a driver loop, never a per-key
      // sequence materialized outside the executors.
      Resample.forwardFill(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "value", stepSeconds = 21600L)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("grid_epoch"))
    }),

    "q_quantiles_maintained" -> ((s, dir) => {
      // percentile report FROM the maintained bucket counts — the same
      // nBuckets-row state PSI/KS score, so a monitoring pipeline serves
      // quantiles with zero snapshot rescans; bucket-resolution accuracy
      // (approx_percentile is the scan-time high-res alternative)
      val bounds = Seq(20000.0, 40000.0, 60000.0, 80000.0)
      val counts = operators.Drift.bucketCounts(
        t(s, dir, "lineitem").filter(col("l_extendedprice").isNotNull),
        col("l_extendedprice"), bounds, "n")
      operators.Drift.quantilesFromCounts(counts, bounds,
        Seq(2500, 5000, 7500, 9000, 9900))
        .orderBy(col("q_bp"))
    }),

    "q_resample_interp" -> ((s, dir) => {
      // the continuously-varying twin of q_resample_ffill: linear
      // interpolation between the surrounding observations (two as-of
      // joins, one fixed IEEE parenthesization both engines replay)
      Resample.interpolate(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "value", stepSeconds = 21600L)
        .withColumnRenamed("key", "user_id")
        .orderBy(col("user_id"), col("grid_epoch"))
    }),

    "q_k_anonymity" -> ((s, dir) => {
      // privacy pre-flight: quasi-identifier classes below k=5 — the
      // rows a release must generalize or suppress. One keyed count.
      val c = t(s, dir, "customer").withColumn("balance_band",
        floor(col("c_acctbal") / 1000).cast("long"))
      Diagnostics.kAnonymityViolations(c,
        Seq("c_nationkey", "c_mktsegment", "balance_band"), k = 5)
        .orderBy(col("c_nationkey"), col("c_mktsegment"), col("balance_band"))
    }),

    "q_k_anonymity_stats" -> ((s, dir) => {
      // the one-row gate value over the same single grouped count
      val c = t(s, dir, "customer").withColumn("balance_band",
        floor(col("c_acctbal") / 1000).cast("long"))
      Diagnostics.kAnonymityStats(c,
        Seq("c_nationkey", "c_mktsegment", "balance_band"), k = 5)
    }),

    "q_hybrid_search" -> ((s, dir) => {
      // hybrid retrieval: sparse (quantized TF-IDF keyword search) and
      // dense (cosine top-k; the synthetic corpus aligns vec_id with
      // doc_id) branches fused by quantized reciprocal-rank fusion —
      // rank-only fusion needs no cross-scale score calibration
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.pipelines.Lexical.searchTopK(docs, "doc_id", "text",
        Seq("spark", "merge", "vector", "dup"), k = 20)
        .select(col("doc_id"), col("rank"))
      val dense = Knn.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cos_sim").desc, col("neighbor_id").asc)))
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.pipelines.Lexical.rrfFuse(Seq(lex, dense), "doc_id",
        rrfK = 60, topK = 10)
        .orderBy(col("rank"))
    }),

    "q_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: trained-centroid cells, within-cell cosine pairs,
      // transitive closure. HASH-CHECKED (round 9): quantized Lloyd
      // (see q_ann_ivf) made the trained cells replayable, so the
      // oracle replays seeds → Lloyd round → cell assignment →
      // within-cell cosine pairs → recursive-CTE closure with min-id
      // canonicals — the whole SemDeDup recipe, not just its kernels.
      val emb = t(s, dir, "embeddings")
      val cents = Knn.trainCentroids(emb, nCentroids = 8, iters = 1)
      graft.similarity.SemDedup.dedup(emb, cents, minCosine = 0.25)
        .orderBy(col("id"))
    }),

    "q_temperature_sample" -> ((s, dir) => {
      // temperature-based language sampling (the mBERT/XLM-R/mT5 p^α
      // convention, α pinned at 0.5 — sqrt is the one IEEE-exact
      // power): quotas = largest-remainder apportionment of the budget
      // over floor(sqrt(n)·2^20) fixed-point weights (ALL-INTEGER after
      // the sqrt, so order-free and HUGEINT-replayable), keep = each
      // language's portable-hash top-quota. Upweights low-resource
      // langs vs proportional; hash-checked from birth.
      val docs = t(s, dir, "documents")
      val h = (col("doc_id") % 1048573L) * 2654435761L % 1000000L
      graft.pipelines.Mixture.temperatureSample(docs, "lang", "doc_id",
        budget = 200L, h)
        .select(col("doc_id"), col("lang"), col("srank"), col("quota"),
          col("kept"))
        .orderBy(col("doc_id"))
    }),

    "q_prototype_prune" -> ((s, dir) => {
      // data pruning by prototypicality (Sorscher et al. NeurIPS 2022):
      // rank every vector by squared distance to its TRAINED k-means
      // centroid, keep the hardest 30% per cell (the abundant-data
      // regime). HASH-CHECKED: quantized Lloyd (q_ann_ivf) replays the
      // trained cells, dist² = ‖v‖² + (−2·v·c + ‖c‖²) is the proven
      // q_ann_recall fold arithmetic, and the keep floor is integer
      // n·bp DIV 10⁴ — the whole selection replays in SQL. dist²
      // projects as HALF_UP basis points per the cross-engine rule.
      val emb = t(s, dir, "embeddings")
      val cents = Knn.trainCentroids(emb, nCentroids = 8, iters = 1)
      graft.similarity.Prune.byPrototypicality(emb, "embedding", cents,
        keepBp = 3000, keepHardest = true)
        .select(col("vec_id"), col("centroid_id"),
          floor(col("dist2") * 10000.0 + 0.5).cast("long").as("dist2_bp"),
          col("cell_n"), col("drank"), col("kept"))
        .orderBy(col("vec_id"))
    }),

    "q_join_explosion" -> ((s, dir) => {
      // the join pre-flight, driver-gated: lower-bounds a self-join's
      // blowup from the heavy keys of both sides. The MG candidate
      // phase is partition-order-dependent but the EXACT verify phase
      // makes the surviving set identical to the naive GROUP BY
      // HAVING — so the bound is deterministic and oracle-checkable.
      val ev = t(s, dir, "events")
      Diagnostics.joinExplosionBound(ev, col("event_type"), ev,
        col("event_type"), phi = 0.1)
    }),

    "q_subtree_rollup" -> ((s, dir) => {
      // closure-based subtree rollup over the star schema's natural
      // 3-level hierarchy (customer → nation → region, ids
      // namespace-offset so the node domain is one key space); money in
      // integer cents so every distributed sum is exact. Upgrades
      // Hierarchy.subtreeAgg from ScalaTest-only to driver-gated.
      val nodes = t(s, dir, "region")
        .select(col("r_regionkey").cast("long").as("node"),
          lit(0L).as("v_cents"))
        .unionByName(t(s, dir, "nation")
          .select((col("n_nationkey") + 100).cast("long").as("node"),
            lit(0L).as("v_cents")))
        .unionByName(t(s, dir, "customer")
          .select((col("c_custkey") + 1000000L).as("node"),
            round(col("c_acctbal") * 100).cast("long").as("v_cents")))
      val edges = t(s, dir, "nation")
        .select((col("n_nationkey") + 100).cast("long").as("child"),
          col("n_regionkey").cast("long").as("parent"))
        .unionByName(t(s, dir, "customer")
          .select((col("c_custkey") + 1000000L).as("child"),
            (col("c_nationkey") + 100).cast("long").as("parent")))
      // depth is SCHEMA-fixed (customer → nation → region = 2 edges):
      // pin it so the closure is one doubling join, no fixpoint probe
      Hierarchy.subtreeAgg(nodes, edges, "node", "v_cents", "child", "parent",
          as = "subtree_cents", knownDepth = Some(2))
        .orderBy(col("node"))
    }),

    "q_entity_resolution" -> ((s, dir) => {
      // the MDM loop end-to-end: PassJoin fuzzy pairs → union-find
      // closure → per-attribute survivorship, over a deterministic
      // dirty feed (md5 names so only the PLANTED variants are within
      // distance 1; every 50th entity gets a one-char variant from a
      // more-preferred source with a null segment). The oracle replays
      // the whole pipeline: half-prefix blocking (exact for equal-length
      // distance-1), recursive-CTE closure, window survivorship.
      val cust = t(s, dir, "customer")
      val base = cust.select(col("c_custkey").as("ent_id"),
        md5(col("c_custkey").cast("string")).as("name"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
        lit(1).as("src_rank"))
      val variants = cust.filter(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") + 1000000L).as("ent_id"),
          concat(substring(md5(col("c_custkey").cast("string")), 1, 31),
            lit("z")).as("name"),
          lit(null).cast("string").as("segment"),
          (col("c_acctbal") + 1).as("acctbal"), lit(2).as("src_rank"))
      graft.pipelines.EntityResolution.resolve(
        base.unionByName(variants), "ent_id", "name", maxDist = 1,
        prefCols = Seq(col("src_rank"), col("ent_id")),
        valueCols = Seq("name", "segment", "acctbal"))
        .orderBy(col("canonical_id"))
    }),

    "q_record_linkage" -> ((s, dir) => {
      // Fellegi–Sunter probabilistic linkage (JASA 1969, Winkler's EM
      // fit) — the TRAINED matching rung: per-field m/u evidence
      // weights learned unsupervised from a candidate-pair table, score
      // = exact integer sum of quantized log-likelihood ratios. The
      // evaluation feed is controlled: every third customer gets a
      // dirty copy (name wiped for %5, acctbal shifted +100 for %2,
      // nation/segment kept), candidate pairs = the copies plus a
      // same-nation decoy per customer; EM must discover that address
      // agreement is strong evidence, segment agreement weak. The
      // oracle replays ALL FIVE EM iterations (weight CTE + 1-row
      // parameter CTE each, exact-integer sums, Laplace-smoothed
      // integer-space M-steps) and the identical score table.
      val cust = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("nm"),
        col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"))
      // copies built BEFORE the id shift (the q_lsh_curve alias-shadow
      // lesson): arms key off the ORIGINAL id
      val copies = cust.filter(col("id") % 3 === 0)
        .withColumn("nm2",
          when(col("id") % 5 === 0, lit("UNKNOWN")).otherwise(col("nm")))
        .withColumn("bal2",
          when(col("id") % 2 === 0, col("bal") + lit(100.0))
            .otherwise(col("bal")))
        .select((col("id") + 1000000000L).as("id"), col("nm2").as("nm"),
          col("bal2").as("bal"), col("seg"), col("nat"))
      val ents = cust.unionByName(copies)
      val matchPairs = cust.filter(col("id") % 3 === 0)
        .select(col("id").as("id_a"), (col("id") + 1000000000L).as("id_b"))
      // decoys: consecutive custkeys — one equi self-join, no window
      val decoys = cust.select(col("id").as("id_a"))
        .join(cust.select(col("id").as("id_b")),
          col("id_b") === col("id_a") + 1)
      val pairs = matchPairs.unionByName(decoys)
        .join(ents.select(col("id").as("id_a"), col("nm").as("nm_a"),
          col("bal").as("bal_a"), col("seg").as("seg_a"),
          col("nat").as("nat_a")), Seq("id_a"))
        .join(ents.select(col("id").as("id_b"), col("nm").as("nm_b"),
          col("bal").as("bal_b"), col("seg").as("seg_b"),
          col("nat").as("nat_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (col("nm_a") === col("nm_b")).as("a_name"),
          (col("bal_a") === col("bal_b")).as("a_bal"),
          (col("nat_a") === col("nat_b")).as("a_nat"),
          (col("seg_a") === col("seg_b")).as("a_seg"))
        // the EM re-reads the pair table once per iteration — pin it
        // lazily so blocking+joins run once, not iters+1 times
        .localCheckpoint(false)
      graft.pipelines.FellegiSunter.link(pairs,
          Seq("a_name", "a_bal", "a_nat", "a_seg"), iters = 5)
        .select(col("id_a"), col("id_b"), col("fs_score"), col("is_match"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_embed_whiten" -> ((s, dir) => {
      // PCA-whitening of the embedding corpus (Jégou & Chum '12) — the
      // retrieval-quality conditioner ahead of ANN/quantization. One
      // dense QUANTIZED moments pass (exact fixed-point sums, the Lloyd
      // recipe) + driver-side Jacobi eigen (dim×dim, tiny by
      // construction) + literal-folded pure-map projection.
      // HASH-CHECKED (round 10, the pinned-constant rule): the trained
      // basis rides the oracle as literals; the SQL recomputes the
      // moments from parquet, gates the basis on exact-mean equality,
      // eigen-residuals, orthonormality, and eigenvalue order, then
      // replays the projection — everything except the Jacobi
      // iteration itself, which WhiteningSpec pins bit-stable.
      val t8 = graft.similarity.Whitening.fit(
        t(s, dir, "embeddings"), "embedding", k = 8)
      t(s, dir, "embeddings")
        .select(col("vec_id"), t8(col("embedding")).as("w"))
        .select(col("vec_id"), element_at(col("w"), 1).as("w1"),
          element_at(col("w"), 2).as("w2"), element_at(col("w"), 3).as("w3"))
        .orderBy(col("vec_id"))
    }),

    "q_bm25_search" -> ((s, dir) => {
      // BM25 keyword retrieval — the doc-length-normalized ranking
      // q_lexical_search's raw TF-IDF lacks; exact integer arithmetic
      // (k1=6/5, b=3/4 cleared of denominators, ratio-form idf)
      graft.pipelines.Lexical.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "merge", "vector", "dup"), k = 20)
        .orderBy(col("rank"))
    }),

    "q_ndcg" -> ((s, dir) => {
      // retrieval-quality readout (nDCG@10, Järvelin & Kekäläinen
      // 2002) of the BM25 ranking against corpus-derived graded labels
      // (rel = min(3, Σ query-term tf), gain 2^rel − 1). Discounts are
      // PINNED integer literals floor(1e6/log2(i+1)), so DCG / ideal
      // DCG are exact BIGINT sums — no float log near the data; both
      // top-k selections are TakeOrderedAndProject.
      graft.pipelines.Lexical.ndcgAtK(t(s, dir, "documents"), "doc_id",
        "text", Seq("spark", "merge", "vector", "dup"), k = 10)
    }),

    "q_pit_join" -> ((s, dir) => {
      // point-in-time join: every order joins the customer-dimension
      // VERSION valid at its own order date (three deterministic
      // versions per customer; every 10th customer retires at the last
      // cut — those late orders must get NULL, not a stale version).
      // One backward as-of join — never an interval explode.
      val cust = t(s, dir, "customer")
      def ts(d: String) = lit(d).cast("timestamp")
      val v1 = cust.select(col("c_custkey"), ts("1995-01-01").as("valid_from"),
        ts("1997-01-01").as("valid_to"), col("c_mktsegment").as("segment"))
      val v2 = cust.select(col("c_custkey"), ts("1997-01-01").as("valid_from"),
        ts("2000-01-01").as("valid_to"),
        concat(col("c_mktsegment"), lit("_V2")).as("segment"))
      val v3 = cust.filter(col("c_custkey") % 10 =!= 0)
        .select(col("c_custkey"), ts("2000-01-01").as("valid_from"),
          lit(null).cast("timestamp").as("valid_to"),
          concat(col("c_mktsegment"), lit("_V3")).as("segment"))
      val dim = v1.unionByName(v2).unionByName(v3)
      val fact = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_orderdate").cast("timestamp").as("od"))
      Scd.pitJoin(fact, dim, Seq("c_custkey"), "od", Seq("segment"))
        .select(col("o_orderkey"),
          date_format(col("od"), "yyyy-MM-dd").as("od"),
          col("dim_segment"))
        .orderBy(col("o_orderkey"))
    }),

    "q_span_dedup" -> ((s, dir) => {
      // C4-style duplicated-span REMOVAL with reassembly: every
      // duplicated 10-token window keeps exactly one corpus-wide copy
      // (first (doc, position)), docs rebuilt from surviving windows —
      // the removal complement of q_shared_passages' pair detection
      graft.dedup.SpanDedup.dedupSpans(
        t(s, dir, "documents"), "doc_id", "text", n = 10)
        .orderBy(col("doc_id"))
    }),

    "q_decontaminate_bloom" -> ((s, dir) => {
      // the LARGE-benchmark scale path of q_decontaminate: a mergeable
      // bloom over benchmark grams gates the corpus side (definite
      // negatives never shuffle), the exact join corrects every false
      // positive — output == the broadcast form, same oracle
      val docs = t(s, dir, "documents")
      val benchmark = docs.filter(col("doc_id") % 50 === 0)
      graft.dedup.Decontaminate.overlapsBloomGated(
        docs.filter(col("doc_id") % 50 =!= 0), benchmark, "doc_id", "text",
        n = 8, expectedGrams = 200000L, fpp = 0.01)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    "q_dsir_weights" -> ((s, dir) => {
      // DSIR (Xie et al. 2023): quantized log-importance of every doc
      // against the src0 target slice under hashed unigram models —
      // exact BIGINT dot product of row-local bucket counts with
      // floor-quantized log-ratio weights (portable md5-prefix buckets)
      graft.pipelines.Dsir.importanceScoresByFlag(
        t(s, dir, "documents"), col("source") === "src0", "doc_id", "text",
        nBuckets = 64)
        .orderBy(col("doc_id"))
    }),

    "q_quality_classifier" -> ((s, dir) => {
      // the TRAINED quality-filter rung (GPT-3 appendix A / LLaMA
      // looks-like-Wikipedia): 2-class hashed-BoW Naive-Bayes posterior
      // log-odds, positives = the curated src0 slice, negatives = the
      // rest of the crawl; classification is the MAP decision score>0.
      // Training and scoring both replay end-to-end in the oracle —
      // the model is hash-verified, not trusted
      graft.pipelines.QualityClassifier.scoresByFlag(
        t(s, dir, "documents"), col("source") === "src0", "doc_id", "text",
        nBuckets = 64)
        .orderBy(col("doc_id"))
    }),

    "q_event_transitions" -> ((s, dir) => {
      // per-user behavioral transition matrix (Markov counts): which
      // event type follows which — lag window per user (one keyed
      // shuffle), then a tiny type×type aggregate; share in exact
      // integer basis points of the from-type total
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tr = t(s, dir, "events")
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .select(col("from_type"), col("event_type").as("to_type"))
      val counts = tr.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = counts.groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_from"))
      counts.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(n * 10000) div n_from").as("share_bp"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    "q_pagerank" -> ((s, dir) => {
      // fixed-point integer PageRank over the part-transition graph
      // (consecutive line numbers within an order define src→dst edges,
      // weighted by transition count): 3 damped rounds of the pinned
      // BIGINT recurrence — bit-identical across partitionings/engines.
      // l_partkey joins the sort key because (orderkey, linenumber) has
      // ties: with partkey in the key the ordered PARTKEY sequence is a
      // pure function of the row multiset (rows tying on the full key
      // carry equal partkeys, and swapping equal elements changes no
      // transition), so both engines derive the identical edge list
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"))
      val edges = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead(col("l_partkey"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("l_partkey").as("src"), col("dst"))
        .agg(count(lit(1)).as("weight"))
      graft.operators.PageRank.rank(edges, iters = 3)
        .orderBy(col("node"))
    }),

    "q_vocab_coverage" -> ((s, dir) => {
      // tokenizer/corpus QA: per-doc out-of-vocabulary mass against the
      // top-30 corpus terms (count desc, term asc — a total order, so
      // the vocab set is engine-deterministic); exact integer basis
      // points, global top-V via TakeOrderedAndProject
      graft.pipelines.Lexical.vocabCoverage(
        t(s, dir, "documents"), "doc_id", "text", vocabSize = 30)
        .orderBy(col("doc_id"))
    }),

    "q_unigram_logloss" -> ((s, dir) => {
      // CCNet/RedPajama-style perplexity-proxy quality score: mean token
      // surprisal under the corpus unigram model, floor-quantized per
      // DISTINCT term, exact BIGINT sums per doc
      graft.pipelines.Lexical.unigramLogloss(
        graft.operators.Parallelism.spread(t(s, dir, "documents")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_boilerplate" -> ((s, dir) => {
      // template/boilerplate mining: the most document-spanning 5-token
      // windows (headers, footers, nav text at web scale) — the
      // detection view whose removal twin is q_span_dedup; sliding
      // windows (every offset, unlike span dedup's disjoint chunks) so
      // templates at any alignment surface
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .filter(size(col("__t")) >= 5)
      toks.select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(0), size(col("__t")) - 5),
            i => array_join(slice(col("__t"), (i + 1).cast("int"), lit(5)), " "))))
          .as("span"))
        .groupBy(col("span")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("span").asc)
        .limit(20)
    }),

    "q_pseudonymize" -> ((s, dir) => {
      // deterministic pseudonymization — the privacy family's THIRD
      // member next to redaction (q_pii_redact) and the k-anonymity
      // gate: stable surrogate tokens (same input → same token, across
      // runs/engines) via the portable md5 prefix, so joins and
      // distinct-counts still work on the pseudonymized table while the
      // raw identifier never leaves; pure narrow map, zero shuffle
      t(s, dir, "events")
        .select(col("event_id"),
          concat(lit("u_"), substring(md5(concat(lit("graft:"),
            col("user_id"))), 1, 12)).as("user_token"),
          col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    "q_event_paths" -> ((s, dir) => {
      // frequent 3-step behavioral paths (sequence mining one rung past
      // q_event_transitions' order-2): two lag windows over the same
      // keyed exchange, path counts, deterministic top-20
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("t1", lag(col("event_type"), 2).over(w))
        .withColumn("t2", lag(col("event_type"), 1).over(w))
        .filter(col("t1").isNotNull && col("t2").isNotNull)
        .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    "q_rolling_active" -> ((s, dir) => {
      // trailing-7-day distinct active users per day (the WAU curve):
      // the (day, user) DISTINCT frame fans out over 7 day-offsets —
      // bounded ×7, never a data-sized window — then one distinct count
      // per day; window-complete days only (the first 6 are partial)
      val du = t(s, dir, "events")
        .select(expr("cast(ts as long) div 86400").as("day"), col("user_id"))
        .distinct()
      val bounds = du.agg(min(col("day")), max(col("day"))).head()
      val (d0, d1) = (bounds.getLong(0), bounds.getLong(1))
      du.select(explode(sequence(col("day"), col("day") + 6L)).as("asof_day"),
          col("user_id"))
        .filter(col("asof_day") >= d0 + 6L && col("asof_day") <= d1)
        .groupBy(col("asof_day"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("asof_day"))
    }),

    "q_latency_profile" -> ((s, dir) => {
      // ship→receipt latency percentiles per ship mode: DISCRETE
      // rank-selected p50/p90 day counts (exact integers — the
      // q_mad_outliers element-selection rule), one sort-window per mode
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate"), col("o_orderpriority"))
      val lat = li.join(o, Seq("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lat"))
        .filter(col("lat").isNotNull)
      val wv = Window.partitionBy(col("o_orderpriority")).orderBy(col("lat"))
      val wg = Window.partitionBy(col("o_orderpriority"))
      lat.withColumn("__rn", row_number().over(wv))
        .withColumn("__n", count(lit(1)).over(wg))
        .withColumn("__p50", max(when(col("__rn") === expr("(__n + 1) div 2"),
          col("lat"))).over(wg))
        .withColumn("__p90", max(when(
          col("__rn") === greatest(expr("(__n * 9000 + 9999) div 10000"), lit(1L)),
          col("lat"))).over(wg))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), max(col("__p50")).as("p50_days"),
          max(col("__p90")).as("p90_days"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_attribution_last_touch" -> ((s, dir) => {
      // last-touch attribution: every purchase credits the user's most
      // recent preceding view/click within 24h — ONE backward as-of
      // join (RUNNING-frame carry), then the window check nulls credits
      // older than the lookback; the classic marketing-attribution query
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("touch_id")) // dedup exact-ts ties
        .withColumn("touch_ts", col("ts")) // ride the payload: the
        // lookback check needs the matched row's time
      AsOf.joinAsOf(purchases, touches, Seq("user_id"), "ts",
          Seq("touch_id", "touch_ts"), direction = "backward")
        .select(col("event_id"), col("user_id"),
          when(col("asof_touch_ts").isNotNull &&
            col("ts").cast("long") - col("asof_touch_ts").cast("long") <= 86400L,
            col("asof_touch_id")).as("credited_touch_id"))
        .orderBy(col("event_id"))
    }),

    "q_score_calibrate" -> ((s, dir) => {
      // cross-source quality-score calibration: raw scores from
      // different domains are incomparable (web-crawl lengths vs wiki
      // lengths) — the published fix is within-source PERCENTILE
      // normalization; exact integer ((rank−1)·10⁴) div (n−1), rank
      // total-ordered by (score, id); singleton sources pin to 5000
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      val wg = Window.partitionBy(col("source"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("__rk", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wg))
        .withColumn("pct_bp", when(col("__n") === 1, 5000L)
          .otherwise(expr("((__rk - 1) * 10000) div (__n - 1)")))
        .select(col("doc_id"), col("source"), col("n_chars"), col("pct_bp"))
        .orderBy(col("doc_id"))
    }),

    "q_dataset_card" -> ((s, dir) => {
      // one-row corpus datasheet (the summary block of a dataset card):
      // size, token mass, char bounds, source/lang cardinalities, and
      // the normalized-dup rate — three bounded aggregates crossJoined
      // as 1-row broadcasts; the only corpus-keyed shuffle is the
      // distinct over normalized text (the dup rate needs it)
      val d = t(s, dir, "documents")
      val base = d.agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(TextFunctions.tokens(col("text"))).cast("long")).as("total_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      val cards = d.select(col("source"), col("lang"))
        .agg(countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"))
      val uniq = d.select(TextFunctions.normalizeForDedup(col("text")).as("__n"))
        .distinct().agg(count(lit(1)).as("n_unique"))
      base.crossJoin(broadcast(cards)).crossJoin(broadcast(uniq))
        .withColumn("dup_bp", expr("10000 - (n_unique * 10000) div n_docs"))
    }),

    "q_drift_timeline" -> ((s, dir) => {
      // period-over-period PSI down the event stream (each day scored
      // against its predecessor): the MONITORING view of drift — the
      // predecessor join is pure arithmetic on the integer day index
      // (period+1), no window, no range exchange; all scoring work runs
      // on the days×buckets count summary
      operators.Drift.psiSeries(t(s, dir, "events"), col("value"),
        Seq(50.0, 100.0, 200.0, 350.0),
        expr("cast(ts as long) div 86400"))
        .orderBy(col("period"))
    }),

    "q_contrastive_pairs" -> ((s, dir) => {
      // (anchor, positive, negative) triplets for retrieval-encoder
      // training (SimCSE/DPR shape): positives = verified near-dups in
      // a Jaccard band, negatives = hash-picked docs PROVEN not
      // near-dup. Fully hash-checked: the negative assignment injects a
      // PORTABLE multiplicative hash (the round-7 rule — an
      // engine-private hash must never decide driver-checked output;
      // xxhash64 stays the production default), and the positive set
      // replays as the exact-Jaccard pair set — equality holds because
      // this corpus has NO pair in (0.30, 0.80) (measured at all three
      // SFs), so every qualifying pair sits where the 16x4 banding's
      // per-pair recall is >= 1 - 2.3e-4 and the LSH candidate set is
      // verified complete by the gate itself. jaccard projects as
      // HALF_UP basis points (floor(j*1e4+0.5) of the 4-digit rounded
      // double == exact-rational HALF_UP — never a raw double compare).
      val ph = (c: Column, s2: Long) =>
        pmod(pmod(c, lit(1000003L)) * 2654435761L + lit(s2 * 40503L),
          lit(1000000007L))
      graft.pipelines.ContrastivePairs.mine(
        t(s, dir, "documents"), "doc_id", "text",
        minJbp = 5000, maxJbp = 9900, hashFn = ph)
        .select(col("anchor_id"), col("positive_id"), col("negative_id"),
          floor(col("jaccard") * 10000.0 + 0.5).cast("long").as("jaccard_bp"))
        .orderBy(col("anchor_id"), col("positive_id"))
    }),

    "q_dedup_keep_best" -> ((s, dir) => {
      // near-dup cluster canonicalization by QUALITY, not min-id: the
      // published pipelines keep the best member of each duplicate
      // group (longest here; any score column slots in) — one keyed
      // aggregate, winner = max (n_chars, -doc_id) struct
      t(s, dir, "documents")
        .groupBy(TextFunctions.normalizeForDedup(col("text")).as("__norm"))
        .agg(max(struct(col("n_chars").as("nc"),
          (-col("doc_id")).as("negid"))).as("__w"),
          count(lit(1)).as("n_copies"))
        .select((-col("__w.negid")).as("doc_id"),
          col("__w.nc").as("n_chars"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    "q_source_overlap" -> ((s, dir) => {
      // cross-source contamination matrix: how many doc pairs share a
      // verbatim 8-token passage, per (source, source) cell — the
      // corpus-audit rollup of q_shared_passages' pair detection
      val docs = t(s, dir, "documents")
      val pairs = graft.dedup.Decontaminate.selfOverlaps(
        docs, "doc_id", "text", n = 8, minShared = 1)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(broadcast(src.select(col("doc_id").as("id_a"),
          col("source").as("__sa"))), Seq("id_a"))
        .join(broadcast(src.select(col("doc_id").as("id_b"),
          col("source").as("__sb"))), Seq("id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_x"),
          greatest(col("__sa"), col("__sb")).as("source_y"),
          col("n_shared_grams"))
        .groupBy(col("source_x"), col("source_y"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("n_shared_grams")).as("n_shared_grams"))
        .orderBy(col("source_x"), col("source_y"))
    }),

    "q_winsorize" -> ((s, dir) => {
      // per-group winsorization to DISCRETE [p5, p95] cuts — the
      // distribution-aware tier of the reference's constant default
      // fill; rank-selected cuts are actual data values, so every
      // clamped double is bit-exact cross-engine
      graft.operators.Robust.winsorize(
        t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value", loBp = 500, hiBp = 9500)
        .orderBy(col("event_id"))
    }),

    "q_impute_median" -> ((s, dir) => {
      // per-group median imputation of missing values (nulls planted
      // deterministically — the feed has none): filled cells take the
      // group's DISCRETE lower median, an existing value, bit-exact
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 13 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("value"))
      graft.operators.Robust.imputeGroupMedian(ev, Seq("event_type"), "value")
        .orderBy(col("event_id"))
    }),

    "q_bigram_logloss" -> ((s, dir) => {
      // order-2 surprisal: catches locally-incoherent token ORDER that
      // unigram surprisal misses — the next rung toward KenLM filters
      graft.pipelines.Lexical.bigramLogloss(
        graft.operators.Parallelism.spread(t(s, dir, "documents")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_kneser_ney" -> ((s, dir) => {
      // order-3 interpolated Kneser-Ney — the published CCNet/KenLM
      // perplexity-filter rung above the logloss pair: continuation
      // counts as plain grouped counts over the trigram table, the
      // D=0.75 absolute-discount chain in pinned doubles, surprisal
      // quantized once per distinct trigram, exact BIGINT doc sums
      graft.pipelines.Lexical.kneserNeyLogloss(
        graft.operators.Parallelism.spread(t(s, dir, "documents")),
        "doc_id", "text", discountBp = 7500)
        .orderBy(col("doc_id"))
    }),

    "q_ccnet_buckets" -> ((s, dir) => {
      // CCNet's head/middle/tail corpus split (Wenzek et al., LREC
      // 2020): per-LANGUAGE perplexity terciles under the KN language
      // model — the published curation step between scoring (q_kneser
      // _ney) and mixture sampling. EXACT rank terciles (rk·3 ≤ n /
      // ≤ 2n on integers), and the per-lang rank runs the ranged
      // two-pass machine (groupedRunningSum of 1) — never a one-task
      // per-language window: a 100 TB corpus has corpus-sized language
      // partitions but the machine range-partitions on (lang, score)
      // spread: the single-row-group documents file is a 1-task scan,
      // serializing the KN tokenize/score passes (the q_quality_
      // classifier lesson); no-op on an already-parallel 100 TB scan
      val docs = graft.operators.Parallelism.spread(t(s, dir, "documents"))
      val kn = graft.pipelines.Lexical.kneserNeyLogloss(
        docs, "doc_id", "text", discountBp = 7500)
      // PIN the scored frame before the ranged machine: its range
      // exchange SAMPLES the child for boundaries, so an unpinned
      // input would execute the KN DAG's final stages twice. Measured
      // at sf0.1 (per-action profile): KN ~3.6 s dominates, the rank
      // machine is ~1.0 s of action floors, the pin saves ~0.3 s —
      // kept because at 100 TB the resample of an unpinned multi-join
      // LM frame is a full recompute, not a cached-shuffle read. The
      // machine itself stays unpinned-input by design: the caller
      // chooses compute-twice vs materialize-once
      val scored = docs.select(col("doc_id"), col("lang"))
        .join(kn, Seq("doc_id"))
        .localCheckpoint(true)
      // fused tail (round 15): the language totals come from the PINNED
      // scored frame (the rank machine is a 1:1 transform, so the
      // per-lang counts are identical), leaving the ranked frame with
      // ONE consumer — which lets the machine skip its eager output
      // pin (pinOutput = false: one fewer full materialization +
      // action; the bucket aggregate reads the machine's internal
      // range-sorted pin directly)
      // (no explicit free of `scored` here: the lazy language totals
      // read its blocks in the final action; the ContextCleaner
      // reclaims the pin when the frame becomes unreachable)
      val langN = scored.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
      val ranked = RunningTotals.groupedRank(scored, Seq("lang"),
        Seq(col("mean_surprisal3_q").asc, col("doc_id").asc), "__rk",
        pinOutput = false)
      ranked.join(broadcast(langN), Seq("lang"))
        .withColumn("bucket",
          when(col("__rk") * 3 <= col("__n"), lit("head"))
            .when(col("__rk") * 3 <= col("__n") * 2, lit("middle"))
            .otherwise(lit("tail")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_trigrams")).as("n_trigrams"),
          min(col("mean_surprisal3_q")).as("min_msq"),
          max(col("mean_surprisal3_q")).as("max_msq"))
        .orderBy(col("lang"), col("bucket"))
    }),

    "q_bpe_train" -> ((s, dir) => {
      // BPE vocabulary induction (Sennrich et al. 2016): the subword
      // merge table trained on the corpus' word-frequency frame — all
      // corpus-scale work is ONE word count; the merge loop is
      // vocabulary-sized. The oracle replays all 30 merge rounds as a
      // recursive CTE: word state as a per-symbol TAB+sym+NL string so
      // one replace() IS the greedy left-to-right non-overlapping
      // merge (matches can never share characters or start
      // mid-symbol), best pair by a composite (count desc, pair asc)
      // sortable key; BpeSpec additionally proves the merge sequence
      // equals the published algorithm's reference implementation.
      graft.pipelines.Bpe.train(t(s, dir, "documents"), "text",
        numMerges = 30)
        .orderBy(col("rank"))
    }),

    "q_anneal_schedule" -> ((s, dir) => {
      // the published two-phase data schedule (LLaMA-3 anneal /
      // MiniCPM decay-phase mixture): deterministic token timeline
      // (portable-hash order, ranged two-pass cumsum — no global
      // sort), tail 10% of tokens = the anneal phase, occupied only by
      // docs the TRAINED quality filter passes. Train -> score ->
      // schedule, all replayed end-to-end by the oracle
      graft.pipelines.Curriculum.annealSchedule(
        graft.operators.Parallelism.spread(t(s, dir, "documents")),
        "doc_id", "text", col("source") === "src0")
        .orderBy(col("doc_id"))
    }),

    "q_bpe_encode" -> ((s, dir) => {
      // the tokenizer APPLICATION rung: segment the corpus under the
      // 30 trained merges (each applied per word in rank order by the
      // same greedy left-to-right fold training used) and count
      // subwords per doc — train -> encode -> count, the published
      // pipeline's tokenization step. The oracle reuses the training
      // CTE's final per-word symbol state (segmenting the training
      // corpus reproduces it exactly, BpeSpec-proven) and joins doc
      // words to it
      val docs = t(s, dir, "documents")
      val trained = graft.pipelines.Bpe.train(docs, "text", numMerges = 30)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.pipelines.Bpe.tokenCount(docs, "doc_id", "text", trained)
        .orderBy(col("doc_id"))
    }),

    "q_bpe_fertility" -> ((s, dir) => {
      // tokenizer fertility — subword tokens per whitespace word, per
      // language: the standard multilingual tokenizer-quality metric (a
      // vocabulary trained on one language's corpus over-segments the
      // others; fertility quantifies the tax). Exact integers: basis
      // points via BIGINT div, the trained merges shared with
      // q_bpe_train/q_bpe_encode
      val docs = t(s, dir, "documents")
      val trained = graft.pipelines.Bpe.train(docs, "text", numMerges = 30)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val sub = graft.pipelines.Bpe.tokenCount(docs, "doc_id", "text", trained)
      val words = docs.select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_w"))
        .filter(col("n_w") > 0)
      words.join(sub, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_w")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .withColumn("fertility_bp",
          expr("(10000 * n_subwords) div n_words"))
        .orderBy(col("lang"))
    }),

    "q_unigram_train" -> ((s, dir) => {
      // the OTHER published tokenizer family (Kudo ACL'18 /
      // SentencePiece unigram-LM), hard-EM (Viterbi) variant: one
      // corpus-scale word count, then seed -> EM-to-fixpoint -> prune
      // -> EM-to-fixpoint on the driver over the vocabulary-sized
      // frame (the BPE collect tier). Integer micro-nat costs keep the
      // DP exact; the oracle embeds the trained model as gated
      // literals and replays ONE full E-step in SQL — the fixpoint
      // must reproduce every pinned count exactly
      graft.pipelines.Unigram.train(t(s, dir, "documents"), "text",
        vocabSize = 50)
        .orderBy(col("token"))
    }),

    "q_unigram_encode" -> ((s, dir) => {
      // the unigram APPLICATION rung (parity with q_bpe_encode):
      // per-doc subword counts under the trained model. Words were
      // Viterbi-segmented ONCE on the vocabulary-sized word table;
      // the corpus-scale step is one explode + one broadcast join —
      // no distributed DP, no shuffle of the text
      val docs = t(s, dir, "documents")
      val m = graft.pipelines.Unigram.fit(docs, "text", vocabSize = 50)
      val wt = graft.pipelines.Unigram.wordTokenCounts(s, m)
      docs.filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          explode(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).as("word"))
        .join(broadcast(wt), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_toks")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    "q_unigram_fertility" -> ((s, dir) => {
      // fertility comparison row vs q_bpe_fertility (same rollup, same
      // corpus, same basis points): subword tokens per whitespace word
      // per language under the unigram model. Segmentation happened
      // ONCE on the vocabulary-sized word table — corpus-scale work is
      // one explode + one broadcastable join, no distributed DP
      val docs = t(s, dir, "documents")
      val m = graft.pipelines.Unigram.fit(docs, "text", vocabSize = 50)
      val wt = graft.pipelines.Unigram.wordTokenCounts(s, m)
      val dw = docs
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          explode(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).as("word"))
      dw.join(broadcast(wt), Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_subwords"))
        .withColumn("fertility_bp",
          expr("(10000 * n_subwords) div n_words"))
        .orderBy(col("lang"))
    }),

    "q_wordpiece_train" -> ((s, dir) => {
      // the THIRD published tokenizer family (Schuster & Nakajima 2012;
      // BERT/GNMT): BPE-style merges picked by the LIKELIHOOD-RATIO
      // score p/(n_l·n_r) instead of raw frequency, ##-prefixed
      // continuations, exact-rational argmax (BigInt cross-multiply).
      // One corpus-scale word count; the merge loop is
      // vocabulary-sized driver work (the BPE collect tier). The
      // oracle replays all 30 rounds in one recursive CTE with a
      // 2^100-scaled HUGEINT floor key, exactness gated on the data
      val docs = t(s, dir, "documents")
      graft.pipelines.WordPiece.train(docs, "text", numMerges = 30)
        .orderBy(col("rank"))
    }),

    "q_wordpiece_encode" -> ((s, dir) => {
      // the WordPiece APPLICATION rung: BERT's greedy
      // longest-match-first (maximal munch) walk over the trained
      // vocabulary — NOT a merge replay — with whole-word [UNK] on any
      // unmatched position. Encoding ran ONCE per distinct word on the
      // vocabulary-sized frame; corpus-scale work is one explode + one
      // broadcast join (parity with q_bpe_encode / q_unigram_encode)
      val docs = t(s, dir, "documents")
      val m = graft.pipelines.WordPiece.fit(docs, "text", numMerges = 30)
      val wp = graft.pipelines.WordPiece.wordPieceCounts(s, m)
      docs.filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          explode(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).as("word"))
        .join(broadcast(wp), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_toks")).as("n_subwords"),
          sum(when(col("is_unk"), 1L).otherwise(0L)).as("n_unk"))
        .orderBy(col("doc_id"))
    }),

    "q_wordpiece_fertility" -> ((s, dir) => {
      // fertility comparison row completing the three-family table
      // (q_bpe_fertility / q_unigram_fertility / this): subword tokens
      // per whitespace word per language under maximal munch, exact
      // basis points via BIGINT floor division
      val docs = t(s, dir, "documents")
      val m = graft.pipelines.WordPiece.fit(docs, "text", numMerges = 30)
      val wp = graft.pipelines.WordPiece.wordPieceCounts(s, m)
      docs.filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          explode(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).as("word"))
        .join(broadcast(wp), Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_subwords"))
        .withColumn("fertility_bp",
          expr("(10000 * n_subwords) div n_words"))
        .orderBy(col("lang"))
    }),

    "q_sample_norepl" -> ((s, dir) => {
      // fixed-budget quality-weighted sampling (A-Res, Efraimidis &
      // Spirakis 2006): exactly 100 docs, inclusion ∝ length weight,
      // reproducible across runs/engines/partitionings; global top-k
      // via TakeOrderedAndProject
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        (col("doc_id") % 1048573L * 2654435761L % 1000000L).as("__h"))
      graft.pipelines.Mixture.sampleWithoutReplacement(
        d, k = 100, greatest(col("n_chars"), lit(1L)), col("__h"),
        Seq(col("doc_id").asc))
        .select(col("doc_id"), col("n_chars"), col("priority_q"))
        .orderBy(col("priority_q"), col("doc_id"))
    }),

    "q_mmr_rerank" -> ((s, dir) => {
      // diversified retrieval finalizer (MMR, Carbonell & Goldstein
      // 1998): the greedy runs driver-side over the BOUNDED top-40
      // candidate set (the Binning-boundaries collect tier). The
      // oracle replays the 10 greedy steps as a recursive CTE — the
      // integer objective (rank-based RRF relevance, floored cosine
      // bp, exact tie-break) makes each selection a pure argmax the
      // SQL reproduces; MmrSpec additionally proves the selection
      // against an independent replay and its order/partitioning
      // invariance. Candidates come from the oracle-green brute-force
      // cosine stage.
      val emb = t(s, dir, "embeddings")
      val topk = graft.similarity.Knn.bruteForceTopK(
        emb, emb.filter(col("vec_id") === 0), k = 40)
        .withColumn("rel_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      val cands = topk.join(emb, topk("neighbor_id") === emb("vec_id"))
        .select(col("neighbor_id").as("id"), col("rel_rank"), col("embedding"))
      graft.similarity.Mmr.rerank(cands, "id", "rel_rank", "embedding", k = 10)
        .orderBy(col("mmr_rank"))
    }),

    "q_chi_square" -> ((s, dir) => {
      // Pearson chi-square independence test: nation × market segment —
      // the classic "is the mix uniform across regions" report. Three
      // map-side-combinable grouped counts; the grid is the CROSS JOIN
      // of the two aggregated margins (25×5, broadcast); zero-observed
      // cells included; exact BIGINT inner term, one pinned double
      // division per cell, BIGINT sum of quantized terms.
      Stats.chiSquare(t(s, dir, "customer"), "c_nationkey", "c_mktsegment")
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    "q_ab_test" -> ((s, dir) => {
      // A/B readout in one aggregation pass: deterministic 50/50 split
      // by the portable multiplicative hash of the customer key; Welch
      // t on order value (cents) + pooled two-proportion z on the
      // high-value-order conversion flag. All eight moments ride ONE
      // agg with map-side combine; the finishes are pinned double
      // expressions over the single-row frame.
      val o = t(s, dir, "orders").select(
        when((col("o_custkey") % 1048573L) * 2654435761L % 1000000L < 500000L,
          lit(0L)).otherwise(lit(1L)).as("variant"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
        .withColumn("conv",
          when(col("cents") > 20000000L, lit(1L)).otherwise(lit(0L)))
      Stats.welchAb(o, "variant", "cents", "conv")
    }),

    "q_survival_km" -> ((s, dir) => {
      // Kaplan-Meier customer-lifetime curve: duration = days between a
      // customer's first and last order; churned (event=1) when the
      // last order predates the dataset horizon by a year, else
      // censored. Subjects aggregate to one row per distinct duration
      // (map-side), at-risk counts are an exclusive cumsum over that
      // tiny frame, and the product-limit fold is an exact fixed-point
      // integer recurrence over EVENT TIMES — bounded by the day
      // resolution, never by subject count.
      val byCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
      val mx = byCust.agg(max(col("last_d")).as("__mx"))
      val subj = byCust.crossJoin(broadcast(mx)).select(
        datediff(col("last_d"), col("first_d")).cast("long").as("duration"),
        when(datediff(col("__mx"), col("last_d")) >= 365, lit(1L))
          .otherwise(lit(0L)).as("event"))
      Stats.kaplanMeier(subj, "duration", "event")
        .orderBy(col("duration"))
    }),

    "q_acf" -> ((s, dir) => {
      // autocorrelation of daily revenue at lags 1..7 — the
      // seasonality screen run before picking a forecast model. The
      // fact table collapses to one row per day first (exact cents
      // sums), so the lag explode and joins touch ~2.4k rows however
      // large the input; per-lag Pearson from exact decimal moments.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
      Stats.acf(daily, "rn", "rev_c", maxLag = 7).orderBy(col("lag"))
    }),

    "q_seasonal" -> ((s, dir) => {
      // classical additive decomposition of daily revenue: centered
      // 7-day MA trend, day-of-week seasonal means of the detrended
      // series, residual — all EXACT floor-divided integers, so
      // x = trend + seasonal + resid holds bit-for-bit wherever the
      // trend window is full. Day-of-week from epoch-day arithmetic
      // (portable; engine dayofweek() conventions differ).
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("dow",
          (datediff(col("d"), to_date(lit("1970-01-01"))) % 7).cast("long"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
      Stats.decomposeAdditive(daily, "rn", "dow", "rev_c", window = 7)
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("rev_c"),
          col("trend").as("trend_c"), col("seasonal").as("seasonal_c"),
          col("resid").as("resid_c"))
        .orderBy(col("d"))
    }),

    "q_holt" -> ((s, dir) => {
      // Holt linear-trend smoothing of monthly revenue per nation
      // (alpha = beta = 1/4), exact integer recurrence with floor
      // division pinned on both engines — the level-and-trend
      // generalization of q_ewma, per-key sequential by nature (ONE
      // keyed shuffle, O(1) state, ~84 rows per nation after the agg).
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val mon = t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          trunc(to_date(col("o_orderdate")), "mon").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
      Recurrences.holt(mon, Seq("nation"), Seq("month"), "rev_c",
          aNum = 1L, aDen = 4L, bNum = 1L, bDen = 4L)
        .select(col("nation"), date_format(col("month"), "yyyy-MM").as("month"),
          col("rev_c"), col("holt_q"))
        .orderBy(col("nation"), col("month"))
    }),

    "q_sorted_neighborhood" -> ((s, dir) => {
      // sorted-neighborhood record-linkage blocking (Hernández-Stolfo
      // SIGMOD'95): sort by the blocking key, compare only rows within
      // a w=3 rank window — O(n·w) candidate pairs instead of the n²
      // all-pairs wall. The global rank runs the range-partitioned
      // two-pass machine (no one-task window); the window join is a
      // ×w explode + ONE equi-join on the target rank.
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val ranked = RunningTotals.globalRank(p,
        Seq(col("p_name").asc, col("p_partkey").asc), "rk")
      val left = ranked
        .select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
          col("rk").as("ra"))
        .withColumn("__i", explode(lit(Array(1L, 2L, 3L))))
        .withColumn("rk", col("ra") + col("__i"))
      val right = ranked
        .select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
          col("rk"))
      left.join(right, Seq("rk"))
        .withColumn("sim_bp",
          floor(graft.functions.JaroWinkler.jaroWinkler(
            col("a_name"), col("b_name")) * 10000.0 + 0.5).cast("long"))
        .filter(col("sim_bp") >= 8800L)
        .select(col("a_key"), col("b_key"), col("sim_bp"))
        .orderBy(col("a_key"), col("b_key"))
    }),

    "q_attribution_linear" -> ((s, dir) => {
      // linear multi-touch attribution: every view/click in the 24h
      // before a purchase shares the credit EQUALLY, in basis points
      // that sum to EXACTLY 10000 per conversion (largest-remainder on
      // equal weights: base = 10000 div n, the 10000 mod n most recent
      // touches get +1) — rate-based credit can only sum in
      // expectation. Same-user equi-join + range predicate, two
      // windows over one purchase-keyed exchange.
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val tch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("event_id").as("touch_id"), col("user_id"),
          col("ts").as("t_ts"))
      val j = p.join(tch, Seq("user_id"))
        .filter(col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
      val byP = Window.partitionBy(col("purchase_id"))
      j.withColumn("n", count(lit(1)).over(byP))
        .withColumn("rk", row_number().over(
          byP.orderBy(col("t_ts").desc, col("touch_id").desc)))
        .select(col("purchase_id"), col("touch_id"),
          (expr("10000 DIV n") +
            when(col("rk") <= pmod(lit(10000L), col("n")), lit(1L))
              .otherwise(lit(0L))).cast("long").as("credit_bp"))
        .orderBy(col("purchase_id"), col("touch_id"))
    }),

    "q_funnel_time" -> ((s, dir) => {
      // time-to-convert distribution: per user, seconds from the FIRST
      // view to the first purchase at-or-after it; exact DISCRETE
      // percentiles by rank selection (the q_mad_outliers rule —
      // element selection cannot split cross-engine where
      // interpolation can). Ranks via the range-partitioned global
      // rank; one conditional aggregate picks all four quantiles.
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val delays = pu.join(v, Seq("user_id"))
        .filter(col("p_ts") >= col("v_ts"))
        .groupBy(col("user_id"))
        .agg((min(col("p_ts")).cast("long") - min(col("v_ts")).cast("long"))
          .as("delay_s"))
      val ranked = RunningTotals.globalRank(delays,
        Seq(col("delay_s").asc, col("user_id").asc), "rk")
      val n = delays.agg(count(lit(1)).as("n"))
      def pick(p: Int) = max(when(
        col("rk") === expr(s"((n - 1) * $p) DIV 100 + 1"), col("delay_s")))
      ranked.crossJoin(broadcast(n)).agg(
        max(col("n")).as("n_converted"),
        pick(25).as("p25_s"), pick(50).as("p50_s"),
        pick(75).as("p75_s"), pick(90).as("p90_s"))
    }),

    "q_cuped" -> ((s, dir) => {
      // CUPED variance-reduced A/B readout (Deng et al. WSDM'13):
      // pre-period spend (orders before 1998) is the covariate for the
      // experiment-period metric — per-customer subjects, θ pooled
      // across arms, one aggregation pass for all nine moments; the
      // vr_bp column is corr²(X,Y): the CI-shrink the covariate buys.
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      val pre = o.filter(col("d") < lit("1998-01-01"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("x"))
      val post = o.filter(col("d") >= lit("1998-01-01"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("y"))
      val subj = post.join(pre, Seq("o_custkey"), "left")
        .select(
          when((col("o_custkey") % 1048573L) * 2654435761L % 1000000L < 500000L,
            lit(0L)).otherwise(lit(1L)).as("variant"),
          coalesce(col("x"), lit(0L)).as("x"), col("y"))
      Stats.cuped(subj, "variant", "x", "y")
    }),

    "q_ab_test_maintained" -> ((s, dir) => {
      // the A/B readout maintained INCREMENTALLY: a third of the orders
      // arrive later as CDC — poisoned placeholder rows (cents+1) sit
      // in the base state and are retracted (D) exactly when the true
      // rows insert (I); the folded ONE-ROW moment state feeds the same
      // finish and must yield the identical readout — registered
      // against q_ab_test's VERBATIM oracle, so the incremental path
      // hash-matches the one-shot scan. No fact rescan: the fold
      // touches the delta only.
      def shaped(df: DataFrame) = df.select(col("o_orderkey"),
        when((col("o_custkey") % 1048573L) * 2654435761L % 1000000L < 500000L,
          lit(0L)).otherwise(lit(1L)).as("variant"),
        col("cents"),
        when(col("cents") > 20000000L, lit(1L)).otherwise(lit(0L)).as("conv"))
      val o = shaped(t(s, dir, "orders").withColumn("cents",
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long")))
      val late = o.filter(col("o_orderkey") % 3 === 0)
      val poison = shaped(t(s, dir, "orders")
        .withColumn("cents",
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long") + 1L)
        .filter(col("o_orderkey") % 3 === 0))
      val base = o.filter(col("o_orderkey") % 3 =!= 0).unionByName(poison)
      val state0 = Stats.abMoments(base, "variant", "cents", "conv")
      val delta = poison.withColumn("op", lit("D"))
        .unionByName(late.withColumn("op", lit("I")))
      Stats.welchFinish(
        Stats.foldAbMoments(state0, delta, "variant", "cents", "conv", "op"))
    }),

    "q_reorder_point" -> ((s, dir) => {
      // inventory safety stock: per part, daily-demand mean/variance
      // over the GLOBAL sales horizon (zero-demand days count — days
      // with sales alone overstate the mean), lead time 7 days, z=1.65
      // (~95% service): ROP = mean·L + z·σ·√L. Two keyed aggregates
      // (map-side combinable) + a broadcast 1-row horizon; pinned
      // double finish, variance clamped at 0 (float rounding on a
      // constant series must not reach sqrt as a negative).
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        to_date(col("l_shipdate")).as("d"), col("l_quantity").cast("long").as("q"))
      // ONE fact scan: the horizon count re-aggregates the pinned
      // part-day frame (every sales day appears there by construction)
      val perDay = li.groupBy(col("l_partkey"), col("d"))
        .agg(sum(col("q")).as("qd")).localCheckpoint(true)
      val days = perDay.agg(countDistinct(col("d")).as("nd"))
      val m = perDay.groupBy(col("l_partkey")).agg(
        count(lit(1)).as("days_sold"),
        sum(col("qd")).as("total_qty"),
        sum(col("qd") * col("qd")).as("sqq"))
        .crossJoin(broadcast(days))
      def D(c: Column) = c.cast("double")
      val mean = D(col("total_qty")) / D(col("nd"))
      val varD = greatest(
        (D(col("sqq")) - D(col("total_qty")) * D(col("total_qty")) / D(col("nd")))
          / D(col("nd")), lit(0.0))
      val rop = mean * lit(7.0) + lit(1.65) * sqrt(varD) * sqrt(lit(7.0))
      m.select(col("l_partkey"), col("days_sold"), col("total_qty"),
          floor(rop * 100.0 + 0.5).cast("long").as("rop_q"))
        .orderBy(col("l_partkey"))
    }),

    "q_price_elasticity" -> ((s, dir) => {
      // log-log demand regression per brand: elasticity = OLS slope of
      // ln(quantity) on ln(retail price) — the econometrics staple.
      // Both logs floor-quantized at 10⁴ (the psi-family ln rule), so
      // every moment sum is EXACT integer; one pinned double division
      // per brand finishes the slope.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      val j = li.join(p, col("l_partkey") === col("p_partkey")).select(
        col("p_brand"),
        floor(log(col("p_retailprice").cast("double")) * 10000.0 + 0.5)
          .cast("long").as("x"),
        floor(log(col("qty").cast("double")) * 10000.0 + 0.5)
          .cast("long").as("y"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      def D(c: Column) = c.cast("double")
      val m = j.groupBy(col("p_brand")).agg(count(lit(1)).as("n_items"),
        S(col("x")).as("sx"), S(col("y")).as("sy"),
        S(col("x") * col("y")).as("sxy"), S(col("x") * col("x")).as("sxx"))
      m.select(col("p_brand"), col("n_items"),
          floor((D(col("n_items")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))) /
            (D(col("n_items")) * D(col("sxx")) - D(col("sx")) * D(col("sx")))
            * 10000.0 + 0.5).cast("long").as("elasticity_bp"))
        .orderBy(col("p_brand"))
    }),

    "q_concordance" -> ((s, dir) => {
      // KWIC concordance — the corpus-QA view reviewers actually read:
      // every occurrence of the term with ±2 tokens of context.
      // Tokenization uses the PINNED whitespace class (the round-6
      // cross-engine rule); pure map + one generator, no shuffle, no
      // per-doc state — scales as a scan.
      val toks = t(s, dir, "documents").filter(trim(col("text")) =!= "")
        .select(col("doc_id"), split(trim(col("text")),
          graft.functions.TextFunctions.WhitespaceClass + "+").as("l"))
      val occ = toks
        .select(col("doc_id"), col("l"), posexplode(col("l")))
        .filter(col("col") === "scan")
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("l"))
      val i = col("pos")
      val lstart = greatest(i - 2, lit(1L))
      occ.select(col("doc_id"), col("pos"),
          array_join(slice(col("l"), lstart.cast("int"),
            (i - lstart).cast("int")), " ").as("left_ctx"),
          array_join(slice(col("l"), (i + 1).cast("int"),
            least(lit(2L), size(col("l")) - i).cast("int")), " ").as("right_ctx"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "q_l_diversity" -> ((s, dir) => {
      // the privacy gate k-anonymity misses: a class can be large yet
      // HOMOGENEOUS in the sensitive attribute — everyone in it leaks
      // the value. Classes whose sensitive diversity < l=3; exact
      // distinct by requirement (a release gate cannot run on an
      // estimate); one grouped aggregate, class-sized output.
      val c = t(s, dir, "customer")
        .withColumn("balance_band", floor(col("c_acctbal") / 1000).cast("long"))
        .withColumn("balance_c",
          floor(col("c_acctbal") * 100.0 + 0.5).cast("long"))
      Diagnostics.lDiversityViolations(c,
        Seq("c_nationkey", "c_mktsegment", "balance_band"), "balance_c", l = 3)
        .orderBy(col("c_nationkey"), col("c_mktsegment"), col("balance_band"))
    }),

    "q_propensity_match" -> ((s, dir) => {
      // observational effect of the BUILDING segment on customer spend:
      // 1-NN propensity-style matching WITH replacement, stratified by
      // nation (exact block) + nearest account balance (score), caliper
      // $300. Matching is an AS-OF NEAREST join on the score axis —
      // the single-shuffle two-frame machine, never treated×control.
      val cents = floor(col("c_acctbal") * 100.0 + 0.5).cast("long")
      val outcome = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("__oc"))
      val pop = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), cents.as("score"),
          (col("c_mktsegment") === "BUILDING").as("__tr"))
        .join(outcome, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"), col("score"),
          col("__tr"), coalesce(col("__oc"), lit(0L)).as("outcome"))
      Causal.propensityMatch(pop, "c_custkey", "c_nationkey",
          "score", "__tr", "outcome", caliper = 30000L)
        .orderBy(col("c_custkey"))
    }),

    "q_conformal" -> ((s, dir) => {
      // split-conformal prediction interval per source for document
      // token counts: a portable-HASH half calibrates, the other half
      // measures empirical coverage of the 90% interval (doc_id parity
      // is CONFOUNDED with source in this data — the driver assigns
      // source by doc_id residue; the multiplicative hash decorrelates,
      // caught by the zero-row sf0.001 gate). Residual ranks and the
      // coverage test are INTEGER compares (|y·n − S| in decimal) —
      // exact end to end, one group-keyed exchange.
      val d = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("y"),
          (col("doc_id") % 1048573L * 2654435761L % 1000000L < 500000L)
            .as("__cal"))
      Stats.conformalSplit(d, "source", "doc_id", "y", "__cal",
          alphaBp = 1000L)
        .orderBy(col("source"))
    }),

    "q_bootstrap_ci" -> ((s, dir) => {
      // 95% CI on mean order value per priority via the POISSON
      // bootstrap (Chamandy 2012) — the bootstrap that scales: weights
      // from the portable hash, per-replicate sums combine map-side,
      // only B·|groups| rows ever shuffle. B=100 replicates,
      // reproducible across runs, partitionings, and engines.
      val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          cents.as("v"))
      val point = o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          ((sum(col("v").cast("decimal(38,0)")) -
            pmod(sum(col("v").cast("decimal(38,0)")), count(lit(1)))) /
            count(lit(1))).cast("long").as("mean_cents"))
      Stats.poissonBootstrap(o, "o_orderpriority", "o_orderkey", "v",
          b = 100)
        .join(broadcast(point), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_rows"), col("mean_cents"),
          col("n_reps"), col("ci_lo"), col("ci_hi"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_hhi" -> ((s, dir) => {
      // market-concentration report per segment: HHI and CR4 over
      // customer revenue shares — entity revenues, squared-share sum,
      // and top-4 rank all on ONE group-keyed exchange; quantization by
      // exact decimal floor division (hhi·10⁸, cr4·10⁴).
      val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
      val df = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("c_custkey"), cents.as("v"))
      Stats.concentration(df, "c_mktsegment", "c_custkey", "v")
        .orderBy(col("c_mktsegment"))
    }),

    "q_fd_discovery" -> ((s, dir) => {
      // schema recovery over the denormalized sales feed: which
      // candidate dependencies actually hold? l_partkey→p_brand is
      // join lineage (g₃=0 certifies it); the others fail with exact
      // TANE g₃ deletion counts. Per candidate: grouped counts only,
      // state ∝ (lhs,rhs) cardinality, map-side combinable.
      val denorm = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      Diagnostics.fdProfile(denorm, Seq(
          "l_partkey" -> "p_brand",
          "p_brand" -> "p_type",
          "l_orderkey" -> "l_shipdate",
          "l_partkey" -> "l_suppkey"))
        .orderBy(col("lhs"), col("rhs"))
    }),

    "q_twa" -> ((s, dir) => {
      // time-weighted average event value per user over the sample-and-
      // hold stream — the metering staple a plain mean gets wrong when
      // sampling is bursty. Integer cents × integer seconds, one keyed
      // window + one grouped sum on the same exchange.
      val e = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("v"))
      Resample.timeWeightedAvg(e, "user_id", "ts", "event_id", "v")
        .orderBy(col("user_id"))
    }),

    "q_shapley" -> ((s, dir) => {
      // game-theoretic attribution closing the set beside positional
      // (q_attribution_linear) and Markov removal-effect
      // (q_markov_attribution): channels=players, v(S)=conversions
      // reachable with subset S, credit=Shapley value. Journeys are the
      // SAME 30-minute sessions as the Markov query; distributed work
      // is one keyed window + a ≤2^k-row mask count; the lattice solve
      // is driver-side EXACT BigInt rationals. Unlike Markov (rational
      // solve has no SQL form) the Shapley sum over k=4 channels IS
      // SQL-expressible — the oracle replays the full lattice.
      // ORDER ON TRUNCATED SECONDS everywhere: the oracle's only time
      // grain is floor(epoch(ts)) — ordering by raw microseconds here
      // could split a same-second purchase/click pair differently
      val wE = Window.partitionBy(col("user_id"))
        .orderBy(col("__ep"), col("event_id"))
      val sessions = t(s, dir, "events").filter(col("user_id").isNotNull)
        .withColumn("__ep", col("ts").cast("long"))
        .withColumn("__gap",
          when(col("__ep") - lag(col("__ep"), 1).over(wE) > 1800L, 1L)
            .otherwise(lit(0L)))
        .withColumn("journey_id",
          concat(col("user_id").cast("string"), lit("#"),
            sum(col("__gap")).over(
              wE.rowsBetween(Window.unboundedPreceding, 0)).cast("string")))
      ShapleyAttribution.shapley(sessions, "journey_id", "event_type",
          "__ep", "event_id", "purchase",
          Seq("click", "error", "signup", "view"))
        .orderBy(col("channel"))
    }),

    "q_sprt" -> ((s, dir) => {
      // Wald SPRT per arm over the date-ordered order stream: is the
      // high-value rate 0.50 (H0) or 0.60 (H1)? The always-valid
      // sequential answer to "can I stop the experiment yet". LLR =
      // c·l1 + (n−c)·l0 with integer cumulative counts through the
      // RANGED running-sum machine (a hot arm never funnels one task)
      // and two pinned double constants the oracle re-embeds verbatim.
      val o = t(s, dir, "orders")
        .withColumn("arm", col("o_orderkey") % 2)
        .withColumn("x",
          when(col("o_totalprice") > 200000.0, 1L).otherwise(0L))
      Stats.sprt(o, "arm", Seq(col("o_orderdate"), col("o_orderkey")),
          "x", p0Bp = 5000L, p1Bp = 6000L)
        .orderBy(col("arm"))
    }),

    "q_logrank" -> ((s, dir) => {
      // the inference step after the KM curve: do BUILDING customers'
      // order lifetimes differ from everyone else's? Same subject
      // derivation as q_survival_km, split by segment; O−E and the
      // hypergeometric variance quantize to e8 per event time and sum
      // in BIGINT — one self-contained χ² row.
      val byCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(to_date(col("o_orderdate"))).as("first_d"),
          max(to_date(col("o_orderdate"))).as("last_d"))
      val mx = byCust.agg(max(col("last_d")).as("__mx"))
      val subj = byCust.crossJoin(broadcast(mx))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(
          datediff(col("last_d"), col("first_d")).cast("long").as("duration"),
          when(datediff(col("__mx"), col("last_d")) >= 365, 1L)
            .otherwise(0L).as("event"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("g"))
      Stats.logRank(subj, "g", "duration", "event")
    }),

    "q_rake" -> ((s, dir) => {
      // survey raking (IPF): customers ACTIVE IN 1997 are a biased
      // subsample — re-weight its (nation × segment) cells so both
      // margins match the full customer base. Distributed work = three
      // grouped counts; the 3-round fit runs driver-side over the
      // ≤125-cell table in exact BigInt with e6 weight quantization —
      // the oracle replays the unrolled iterations in SQL.
      val cust = t(s, dir, "customer")
      val active = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey")).distinct()
      val sample = cust.join(active, col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey").cast("string").as("nation"),
          col("c_mktsegment").as("segment"))
      val rowT = cust.groupBy(col("c_nationkey").cast("string").as("nation"))
        .agg(count(lit(1)).as("t"))
      val colT = cust.groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("t"))
      Raking.rake(sample, "nation", "segment", rowT, colT, iters = 3)
        .orderBy(col("nation"), col("segment"))
    }),

    "q_bfs_reach" -> ((s, dir) => {
      // bounded-hop reachability on the repeat co-purchase graph (the
      // q_communities edge set): distances ≤ 3 from the 5 smallest
      // nodes — the "what does this recall touch" impact query. Each
      // hop is one keyed join + one grouped min (map-side
      // combinable), checkpointed; the oracle replays it as a
      // depth-bounded recursive CTE with a min-dist rollup.
      val li = t(s, dir, "lineitem")
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(countDistinct(col("a.l_orderkey")).as("c"))
        .filter(col("c") >= 2)
      // pin the edge build once: seeds AND the BFS adjacency read it —
      // unpinned, the co-purchase self-join would run per reference
      val edges = Graphs.canonicalEdges(pairs, "pa", "pb").localCheckpoint(true)
      val seeds = edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .distinct().orderBy(col("node")).limit(5)
      Graphs.bfsDistances(edges, seeds, maxHops = 3)
        .orderBy(col("node"))
    }),

    "q_mutual_info" -> ((s, dir) => {
      // model-free dependence screen: how much does order priority
      // tell you about order status? MI + marginal entropies + the
      // √(Ha·Hb)-normalized MI; one cell scan, margins re-aggregated
      // from the pinned cell frame (the chi-square one-scan rule),
      // e8-quantized ln terms summed in BIGINT.
      Stats.mutualInfo(t(s, dir, "orders"),
        "o_orderpriority", "o_orderstatus")
    }),

    "q_dtw" -> ((s, dir) => {
      // elastic similarity between event-type daily-volume profiles:
      // Sakoe-Chiba banded DTW (radius 7 days) on exact integer
      // counts — the alignment Euclidean distance gets wrong when one
      // series leads another. Series are post-aggregation (one row
      // per type-day); the k²/2 pairs distribute one-per-task with an
      // O(n·band) two-row DP. The oracle replays the DP by
      // anti-diagonal waves in a recursive CTE (the working table
      // carries diagonals d and d-1, so every cell sees all three
      // predecessors); DtwSpec proves the banded DP against the full
      // matrix and a hand-computed alignment.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type").as("k"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
        .withColumn("i", datediff(col("d"), to_date(lit("1970-01-01"))))
      Dtw.pairDistances(daily, "k", "i", "c", band = 7)
        .orderBy(col("k1"), col("k2"))
    }),

    "q_t_closeness" -> ((s, dir) => {
      // the third privacy rung after q_k_anonymity (class size) and
      // q_l_diversity (sensitive cardinality): a large, diverse class
      // can still leak by DISTRIBUTION (all high-spenders in one
      // quasi-class). Sensitive attribute = customer revenue decile
      // (rank-based, via the ranged global-rank machine); classes =
      // (nation, segment); ordered-EMD distance, integer-exact.
      val cents = floor(col("o_totalprice") * 100.0 + 0.5).cast("long")
      val rev = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents).as("__rev"))
      val pop = t(s, dir, "customer")
        .join(rev, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          coalesce(col("__rev"), lit(0L)).as("rev"))
      val n = pop.count()
      val ranked = RunningTotals.globalRank(pop,
        Seq(col("rev"), col("c_custkey")), "__rk")
        .withColumn("bucket", expr(s"((__rk - 1) * 10) div ${n}L"))
      Diagnostics.tCloseness(ranked,
          Seq("c_nationkey", "c_mktsegment"), "bucket", nBuckets = 10)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    "q_qini" -> ((s, dir) => {
      // uplift evaluation (Radcliffe 2007): walking customers best-
      // balance-first, how many INCREMENTAL 1997 purchases does the
      // BUILDING segment show over the scaled rest? Deciles assigned
      // by the ranged global rank (never one sort task); curve counts
      // exact, qini_e4 by the pmod-subtract floor (negatives exact).
      val bal = floor(col("c_acctbal") * 100.0 + 0.5).cast("long")
      val resp = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1997)
        .select(col("o_custkey")).distinct()
        .withColumn("__r", lit(1L))
      val pop = t(s, dir, "customer")
        .join(resp, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), bal.as("score"),
          (col("c_mktsegment") === "BUILDING").as("tr"),
          coalesce(col("__r"), lit(0L)).as("resp"))
      val n = pop.count()
      val ranked = RunningTotals.globalRank(pop,
        Seq(col("score").desc, col("c_custkey")), "__rk")
        .withColumn("decile", expr(s"((__rk - 1) * 10) div ${n}L"))
      Stats.qiniCurve(ranked, "tr", "resp", "decile")
        .orderBy(col("decile"))
    }),

    "q_keywords" -> ((s, dir) => {
      // RAKE keyword extraction (Rose et al. 2010) over the corpus —
      // the keyword-audit view beside TF-IDF's per-doc terms: phrases
      // = maximal stopword-free runs, scored by Σ deg/freq of member
      // words, all integer arithmetic; global top-20 via
      // TakeOrderedAndProject, never a full-frame rank window.
      graft.pipelines.Lexical.rakeKeywords(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("rank"))
    }),

    "q_price_volume_mix" -> ((s, dir) => {
      // the FP&A bridge: WHY did each brand's revenue move 1996→1997 —
      // price, volume, mix/cross, new items, discontinued items. Unit
      // prices never materialize (integer cross products + one floor
      // division per item); the cross term absorbs quantization so the
      // bridge identity holds to the cent at every brand.
      val li = t(s, dir, "lineitem")
        .withColumn("yr", year(col("l_shipdate")))
        .filter(col("yr").isin(1996, 1997))
        .select(col("l_partkey"),
          (col("yr") === 1997).cast("int").as("period"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("rev"),
          floor(col("l_quantity") + 0.5).cast("long").as("qty"))
      val withBrand = li.join(t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("l_partkey"), col("period"),
          col("rev"), col("qty"))
      Bridge.revenueBridge(withBrand, "p_brand", "l_partkey", "period",
          "rev", "qty")
        .orderBy(col("p_brand"))
    }),

    "q_eb_rates" -> ((s, dir) => {
      // empirical-Bayes discount-rate smoothing per part: small-n
      // parts' raw rates shrink toward the method-of-moments Beta
      // prior — the CTR/ratings shrinkage recipe. Rates quantize to
      // e6 integers, the MoM finish is one pinned double per
      // parameter, every smoothed rate an integer floor division.
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_discount") > 0.05).cast("long").as("hit"))
      Stats.ebSmoothRates(li, "l_partkey", "hit")
        .orderBy(col("l_partkey"))
    }),

    "q_encoding_audit" -> ((s, dir) => {
      // corpus encoding-health audit: replacement chars (U+FFFD),
      // stray C0 controls, zero-width chars, and latin1-decoded-UTF8
      // mojibake pairs — the ingest QA pass before any text filter.
      // The synthetic corpus is clean, so deterministic contamination
      // is CONSTRUCTED per doc (both engines build the identical
      // string — the q_pii_redact recipe); patterns use \x{...}
      // escapes valid in BOTH Java regex and RE2. The chars embed as
      // UNICODE LITERALS here while the oracle uses chr(): Spark's
      // chr() is mod-256 ASCII (chr(8203) = \x0B — a control char!),
      // DuckDB's is the code point — the gate caught the divergence.
      val contaminated = t(s, dir, "documents")
        .withColumn("t2", when(col("doc_id") < 120, concat(col("text"),
          lit(" "),
          expr("repeat('�', cast(doc_id % 3 as int))"),
          expr("repeat('​', cast(doc_id % 2 as int))"),
          when(col("doc_id") % 5 === 0, lit("Ã©"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("\u0007")).otherwise(lit(""))))
          .otherwise(col("text")))
      contaminated.select(col("doc_id"),
          regexp_count(col("t2"), lit("\\x{FFFD}")).cast("long")
            .as("n_replacement"),
          regexp_count(col("t2"),
            lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")).cast("long")
            .as("n_control"),
          regexp_count(col("t2"), lit("[\\x{200B}-\\x{200D}\\x{FEFF}]"))
            .cast("long").as("n_zerowidth"),
          regexp_count(col("t2"), lit("\\x{00C3}[\\x{0080}-\\x{00BF}]"))
            .cast("long").as("n_mojibake"))
        .withColumn("clean",
          col("n_replacement") + col("n_control") + col("n_zerowidth") +
            col("n_mojibake") === 0L)
        .orderBy(col("doc_id"))
    }),

    "q_compress_ratio" -> ((s, dir) => {
      // Gopher-style compressibility signal (Rae et al. 2021):
      // boilerplate compresses implausibly hard, noise barely at all.
      // Deflate is an opaque codec => mapPartitions boundary (one
      // Deflater per partition), pinned level; rows-only by nature
      // (no SQL zlib) — CompressionSpec pins the semantic invariants.
      graft.functions.Compression.ratios(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_forecast_reconcile" -> ((s, dir) => {
      // hierarchical forecast reconciliation (top-down forecast
      // proportions, Hyndman et al.): nation-level Holt forecasts and
      // the region-level Holt forecast disagree by construction —
      // reconcile by allocating each region's forecast across its
      // nations ∝ their base forecasts, EXACTLY, via largest
      // remainder. Σ reconciled == region forecast to the cent at
      // every region (the coherence property that makes hierarchical
      // reports add up). Pure composition: two Holt runs + one
      // Allocate — both existing exact machines.
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val mon = t(s, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          trunc(to_date(col("o_orderdate")), "mon").as("month"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
      def lastFc(h: DataFrame, key: String, out: String) =
        h.groupBy(col(key))
          .agg(greatest(lit(0L),
            max(struct(col("month"), col("holt_q"))).getField("holt_q"))
            .as(out))
      val natFc = lastFc(Recurrences.holt(mon, Seq("nation"), Seq("month"),
        "rev_c", 1L, 4L, 1L, 4L), "nation", "base_fc")
      val natReg = t(s, dir, "nation")
        .select(col("n_nationkey").as("nation"),
          col("n_regionkey").as("region"))
      val regMon = mon.join(broadcast(natReg), Seq("nation"))
        .groupBy(col("region"), col("month"))
        .agg(sum(col("rev_c")).as("rev_c"))
      val regFc = lastFc(Recurrences.holt(regMon, Seq("region"),
        Seq("month"), "rev_c", 1L, 4L, 1L, 4L), "region", "region_fc")
      val joined = natFc.join(broadcast(natReg), Seq("nation"))
        .join(broadcast(regFc), Seq("region"))
      Allocate.largestRemainder(joined, Seq("region"), "base_fc",
          "region_fc", Seq("nation"), "reconciled_fc")
        .select(col("nation"), col("region"), col("base_fc"),
          col("region_fc"), col("reconciled_fc"))
        .orderBy(col("nation"))
    }),

    "q_croston" -> ((s, dir) => {
      // Croston's method (1972) — THE forecast for intermittent
      // demand, where Holt/EWMA on the raw series just decays to zero
      // between orders: smooth demand SIZES and inter-demand INTERVALS
      // separately over demand occurrences only, forecast rate = z/p.
      // Pure composition: absent months never materialize (the grouped
      // frame holds only demand months; intervals are index gaps), and
      // BOTH smoothers are the existing exact-integer ewma scan — z
      // initializes to the first size, p to the first interval,
      // exactly Croston's convention.
      val li = t(s, dir, "lineitem")
        .withColumn("mn",
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
            .cast("long"))
        .groupBy(col("l_partkey"), col("mn"))
        .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("q"))
      val w = Window.partitionBy(col("l_partkey")).orderBy(col("mn"))
      val withIv = li
        .withColumn("iv", col("mn") - lag(col("mn"), 1).over(w))
      val z = Recurrences.ewma(withIv, Seq("l_partkey"), Seq("mn"), "q",
        1L, 4L, "z_q")
      val zp = Recurrences.ewma(
        z.filter(col("iv").isNotNull), Seq("l_partkey"), Seq("mn"), "iv",
        1L, 4L, "p_q")
      // final state per part: parts need >= 2 demand months (no
      // interval exists otherwise — Croston is undefined)
      zp.groupBy(col("l_partkey"))
        .agg((count(lit(1)) + 1).as("n_periods"),
          max(struct(col("mn"), col("z_q"))).getField("z_q").as("z_q"),
          max(struct(col("mn"), col("p_q"))).getField("p_q").as("p_q"))
        .withColumn("rate_bp", {
          val n = col("z_q") * lit(10000L)
          ((n - pmod(n, col("p_q"))) / col("p_q")).cast("long")
        })
        .orderBy(col("l_partkey"))
    }),

    "q_fano" -> ((s, dir) => {
      // burstiness screen per event type: the Fano factor (index of
      // dispersion) of hourly counts — var/mean = 1 for a Poisson
      // stream, > 1 bursty, < 1 regular; the point-process QA beside
      // ACF/seasonality. Empty hours NEVER materialize: with H total
      // hours, var = Σc²/H − mean² needs only the observed slots
      // (zeros add zero) — one grouped count + exact moments + a
      // pinned double finish.
      val e = t(s, dir, "events")
        .withColumn("__ep", col("ts").cast("long"))
        // integral div, NOT /: long/long plans a double division whose
        // quotient can land one ulp under an exact hour boundary
        .select(col("event_type"), expr("__ep div 3600").as("hr"))
      val span = e.agg((max(col("hr")) - min(col("hr")) + 1).as("__h"))
      val slots = e.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("c"))
      def D(c: Column) = c.cast("double")
      slots.groupBy(col("event_type"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_active_hours"),
          sum(col("c") * col("c")).as("__ss"))
        .crossJoin(broadcast(span))
        .select(col("event_type"), col("n_events"), col("__h").as("n_hours"),
          col("n_active_hours"),
          floor(((D(col("__ss")) / D(col("__h")) -
            (D(col("n_events")) / D(col("__h"))) *
              (D(col("n_events")) / D(col("__h")))) /
            (D(col("n_events")) / D(col("__h")))) * lit(10000.0) + lit(0.5))
            .cast("long").as("fano_bp"))
        .orderBy(col("event_type"))
    }),

    "q_zipf_fit" -> ((s, dir) => {
      // Zipf slope of the token rank-frequency curve — the corpus
      // shape check (natural text ≈ −1; template spam and synthetic
      // filler bend it): OLS on (ln rank, ln freq) over the top 1000
      // terms, each ln quantized to e4 (the elasticity recipe), exact
      // decimal moments, one pinned double slope. Ranks by the RANGED
      // global-rank machine — the vocabulary never funnels one sort
      // task.
      val tf = graft.pipelines.Lexical.termFrequencies(
          t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("term")).agg(sum(col("tf")).as("freq"))
      val ranked = RunningTotals.globalRank(tf,
          Seq(col("freq").desc, col("term")), "rk")
        .filter(col("rk") <= 1000)
      def q4(c: Column) =
        floor(log(c.cast("double")) * 10000.0 + 0.5).cast("long")
      val pts = ranked.select(q4(col("rk")).as("x"), q4(col("freq")).as("y"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      def D(c: Column) = c.cast("double")
      val m = pts.agg(count(lit(1)).as("n"), S(col("x")).as("sx"),
        S(col("y")).as("sy"), S(col("x") * col("y")).as("sxy"),
        S(col("x") * col("x")).as("sxx"))
      m.select(col("n").cast("long").as("n_terms"),
        floor((D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))) /
          (D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx")))
          * 10000.0 + 0.5).cast("long").as("slope_bp"))
    }),

    "q_xyz_class" -> ((s, dir) => {
      // XYZ demand-variability classes per part (the planning axis
      // beside q_abc_class's value axis): CV of monthly demand over
      // the FULL calendar span — zero months count but never
      // materialize (Σq and Σq² over demand months only, H global).
      // Class thresholds are a REGIME PARAMETER (the textbook 0.5/1.0
      // assume continuous daily demand; this sparse monthly regime
      // sits at cv 1.56-2.36 across all SFs — the 0.5/1.0 cut labels
      // everything Z, a constant column the vacuity rule forbids):
      // X: cv < 1.75 (steady for this regime), Y: < 2.05, Z: erratic.
      val dm = t(s, dir, "lineitem")
        .withColumn("mn",
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
            .cast("long"))
        .groupBy(col("l_partkey"), col("mn"))
        .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("q"))
      val span = dm.agg((max(col("mn")) - min(col("mn")) + 1).as("__h"))
      def D(c: Column) = c.cast("double")
      val mean = D(col("__t")) / D(col("__h"))
      // greatest(0, var): a constant full-span demand makes the true
      // variance 0 and round-off can land -1e-12 — sqrt(NaN) would die
      // at the ANSI long cast; identical guard in the oracle
      val cv = sqrt(greatest(lit(0.0),
        D(col("__ss")) / D(col("__h")) - mean * mean)) / mean
      dm.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_active_months"),
          sum(col("q")).as("total_qty"),
          sum(col("q") * col("q")).as("__ss"))
        .withColumnRenamed("total_qty", "__t")
        .crossJoin(broadcast(span))
        .select(col("l_partkey"), col("n_active_months"),
          col("__t").as("total_qty"),
          floor(cv * lit(10000.0) + lit(0.5)).cast("long").as("cv_bp"))
        .withColumn("xyz",
          when(col("cv_bp") < 17500L, "X")
            .when(col("cv_bp") < 20500L, "Y").otherwise("Z"))
        .orderBy(col("l_partkey"))
    }),

    "q_seasonality_strength" -> ((s, dir) => {
      // Hyndman's strength-of-components diagnostics over the SAME
      // exact decomposition as q_seasonal: seasonal strength =
      // max(0, 1 − var(resid)/var(seasonal+resid)), trend strength
      // likewise vs (trend+resid) — the one-number answers to "is
      // there seasonality worth modeling". Integer components, exact
      // decimal moments, two pinned double finishes.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("dow",
          (datediff(col("d"), to_date(lit("1970-01-01"))) % 7).cast("long"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
      val dec = Stats.decomposeAdditive(daily, "rn", "dow", "rev_c",
          window = 7)
        .filter(col("resid").isNotNull)
        .select(col("resid").as("r"),
          (col("seasonal") + col("resid")).as("sr"),
          (col("trend") + col("resid")).as("tr2"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      def D(c: Column) = c.cast("double")
      val m = dec.agg(count(lit(1)).as("n"),
        S(col("r")).as("s1"), S(col("r") * col("r")).as("ss1"),
        S(col("sr")).as("s2"), S(col("sr") * col("sr")).as("ss2"),
        S(col("tr2")).as("s3"), S(col("tr2") * col("tr2")).as("ss3"))
      def v(ss: Column, s1: Column) = D(ss) / D(col("n")) -
        (D(s1) / D(col("n"))) * (D(s1) / D(col("n")))
      m.select(col("n").cast("long").as("n_days"),
        floor(greatest(lit(0.0),
          lit(1.0) - v(col("ss1"), col("s1")) / v(col("ss2"), col("s2")))
          * 10000.0 + 0.5).cast("long").as("seasonal_strength_bp"),
        floor(greatest(lit(0.0),
          lit(1.0) - v(col("ss1"), col("s1")) / v(col("ss3"), col("s3")))
          * 10000.0 + 0.5).cast("long").as("trend_strength_bp"))
    }),

    "q_runs_test" -> ((s, dir) => {
      // Wald–Wolfowitz runs test on daily revenue around its median —
      // "are the ups and downs random?", the residual-randomness check
      // the trend/seasonal fits assume. Runs and counts exact; the
      // normal approximation z is one pinned double finish.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      val wv = org.apache.spark.sql.expressions.Window
        .orderBy(col("rev_c"), col("d"))
      val n = daily.count()
      val med = daily.withColumn("__vr", row_number().over(wv))
        .filter(col("__vr") === (n + 1) / 2)
        .select(col("rev_c").as("__med"))
      val signed = daily.crossJoin(broadcast(med))
        .withColumn("sgn", (col("rev_c") > col("__med")).cast("long"))
        .withColumn("__chg",
          when(lag(col("sgn"), 1).over(w).isNull, 0L)
            .when(lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L)
            .otherwise(0L))
      def D(c: Column) = c.cast("double")
      val agg = signed.agg(count(lit(1)).as("n_days"),
        sum(col("sgn")).as("n_above"),
        (count(lit(1)) - sum(col("sgn"))).as("n_below"),
        (sum(col("__chg")) + 1).as("runs"))
      val mu = lit(2.0) * D(col("n_above")) * D(col("n_below")) /
        D(col("n_days")) + lit(1.0)
      val sig2 = (lit(2.0) * D(col("n_above")) * D(col("n_below")) *
        (lit(2.0) * D(col("n_above")) * D(col("n_below")) -
          D(col("n_days")))) /
        (D(col("n_days")) * D(col("n_days")) * (D(col("n_days")) - lit(1.0)))
      agg.select(col("n_days"), col("n_above"), col("n_below"), col("runs"),
        floor((D(col("runs")) - mu) / sqrt(sig2) * 10000.0 + 0.5)
          .cast("long").as("z_bp"))
    }),

    "q_cohort_ltv" -> ((s, dir) => {
      // cumulative lifetime value per acquisition cohort — the money
      // twin of q_cohort_retention: revenue per cohort-age accumulated
      // down the age axis, divided by cohort size (exact cents floor).
      // Two keyed aggregates + one tiny cohort-sized window.
      val first = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("__c0"))
      val sized = first.groupBy(col("__c0"))
        .agg(count(lit(1)).as("n_customers"))
      val rev = t(s, dir, "orders")
        .join(first, Seq("o_custkey"))
        .groupBy(col("__c0"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1 -
            col("__c0")).cast("long").as("age"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__c0")).orderBy(col("age"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      rev.join(broadcast(sized), Seq("__c0"))
        .withColumn("cum_rev_c", sum(col("rev_c")).over(wc))
        .select(
          concat(expr("__c0 div 12").cast("string"), lit("-"),
            lpad((pmod(col("__c0"), lit(12)) + 1).cast("string"), 2, "0"))
            .as("cohort"),
          col("age"), col("n_customers"), col("cum_rev_c"))
        .withColumn("ltv_c", {
          val a = col("cum_rev_c"); val b = col("n_customers")
          ((a - pmod(a, b)) / b).cast("long")
        })
        .orderBy(col("cohort"), col("age"))
    }),

    "q_levene" -> ((s, dir) => {
      // Brown–Forsythe (median-centered Levene) homogeneity-of-variance
      // test — the PRECONDITION check q_anova assumes: one-way F over
      // the absolute median deviations. Pure composition: exact
      // per-group lower medians by rank selection, |x − med| integer,
      // then the existing exact-moment anovaF.
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("x"))
      val sizes = o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("__ng"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("x"), col("o_orderkey"))
      val med = o.join(broadcast(sizes), Seq("o_orderpriority"))
        .withColumn("__vr", row_number().over(wv))
        .filter(col("__vr") === expr("(__ng + 1) div 2"))
        .select(col("o_orderpriority"), col("x").as("__med"))
      val z = o.join(broadcast(med), Seq("o_orderpriority"))
        .select(col("o_orderpriority"),
          abs(col("x") - col("__med")).as("z"))
      Stats.anovaF(z, "o_orderpriority", "z")
    }),

    "q_durbin_watson" -> ((s, dir) => {
      // Durbin–Watson statistic over the q_seasonal decomposition
      // residuals — lag-1 autocorrelation of what the fit left behind
      // (≈2 = none; the runs test's parametric sibling). Exact decimal
      // sums of integer squares (they clear 2⁵³), one pinned double
      // ratio.
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
          .as("rev_c"))
        .withColumn("dow",
          (datediff(col("d"), to_date(lit("1970-01-01"))) % 7).cast("long"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
      val resid = Stats.decomposeAdditive(daily, "rn", "dow", "rev_c",
          window = 7)
        .filter(col("resid").isNotNull)
        .select(col("rn"), col("resid").as("e"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("rn"))
      val withLag = resid.withColumn("__de", col("e") - lag(col("e"), 1).over(w))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      def D(c: Column) = c.cast("double")
      withLag.agg(count(lit(1)).as("__n"),
          S(col("e") * col("e")).as("__den"),
          S(col("__de") * col("__de")).as("__num"))
        .select(col("__n").cast("long").as("n_resid"),
          floor(D(col("__num")) / D(col("__den")) * 10000.0 + 0.5)
            .cast("long").as("dw_e4"))
    }),

    "q_embedding_drift" -> ((s, dir) => {
      // SEMANTIC drift monitor for the embedding corpus — the
      // distribution checks (q_drift_psi family) ported to vector
      // space: train IVF centroids on a reference slice, score the
      // PSI of the centroid-ASSIGNMENT distribution on the comparison
      // slice. The standard embedding-drift recipe (cluster-histogram
      // PSI) every feature-store monitor runs; assignment is the same
      // zero-shuffle map as IVF search, counts are two nCentroids-row
      // frames. HASH-CHECKED (round 9): quantized Lloyd (see q_ann_ivf)
      // replays the TWO training rounds on the ref slice exactly, so
      // the oracle re-derives the trained cells, both assignment
      // histograms, and the same floored psi_ppm (the q_drift_psi
      // formula at nBuckets=16). DriftSpec's twin test still proves
      // identical slices score ≈0 and a shifted slice alarms.
      val emb = t(s, dir, "embeddings")
      val half = col("vec_id") % 1048573L * 2654435761L % 1000000L
      val ref = emb.filter(half < 500000L)
      val cur = emb.filter(half >= 500000L)
      val cents = graft.similarity.Knn.trainCentroids(ref, 16, iters = 2)
      def counts(d: DataFrame, n: String) =
        graft.similarity.Knn.assign(d, cents)
          .groupBy(col("centroid_id").cast("long").as("bucket"))
          .agg(count(lit(1)).as(n))
      Drift.psiFromCounts(counts(ref, "n_old"), counts(cur, "n_new"), 16)
        .orderBy(col("bucket"))
    }),

    "q_granger" -> ((s, dir) => {
      // Granger causality at lag 1, BOTH directions: does the BUILDING
      // segment's daily revenue help predict the rest's tomorrow (and
      // vice versa)? F compares the AR(1) fit with and without the
      // other series' lag — restricted/unrestricted SSEs in closed
      // form from EXACT decimal moments, the 2-regressor normal
      // equations solved by determinant, one pinned double chain per
      // direction. Output: (direction, n, f_bp).
      val daily = t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(
          sum(when(col("c_mktsegment") === "BUILDING",
            floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .otherwise(0L)).as("yb"),
          sum(when(col("c_mktsegment") =!= "BUILDING",
            floor(col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .otherwise(0L)).as("yr"))
      val dirs = daily.select(lit("building->rest").as("direction"),
          col("d"), col("yr").as("y"), col("yb").as("x"))
        .unionByName(daily.select(lit("rest->building").as("direction"),
          col("d"), col("yb").as("y"), col("yr").as("x")))
      Stats.grangerLag1(dirs, "direction", "d", "y", "x")
        .orderBy(col("direction"))
    }),

    "q_retention_fit" -> ((s, dir) => {
      // exponential retention-decay fit: ln(retention) ~ age pooled
      // across cohorts (ages ≥ 1) — the one-number churn model the
      // q_cohort_retention matrix feeds; slope < 0, monthly churn ≈
      // 1 − e^slope. Per-point ln quantized to e4 (the elasticity
      // recipe), exact decimal moments, one pinned double slope.
      val first = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("__c0"))
      val sized = first.groupBy(col("__c0"))
        .agg(count(lit(1)).as("__nc"))
      val active = t(s, dir, "orders")
        .join(first, Seq("o_custkey"))
        .groupBy(col("__c0"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1 -
            col("__c0")).cast("long").as("age"))
        .agg(countDistinct(col("o_custkey")).as("__na"))
        .filter(col("age") >= 1)
      val pts = active.join(broadcast(sized), Seq("__c0"))
        .select(col("age").as("x"),
          floor(log(col("__na").cast("double") / col("__nc").cast("double"))
            * 10000.0 + 0.5).cast("long").as("y"))
      def S(c: Column) = sum(c.cast("decimal(38,0)"))
      def D(c: Column) = c.cast("double")
      val m = pts.agg(count(lit(1)).as("n"), S(col("x")).as("sx"),
        S(col("y")).as("sy"), S(col("x") * col("y")).as("sxy"),
        S(col("x") * col("x")).as("sxx"))
      m.select(col("n").cast("long").as("n_points"),
        floor((D(col("n")) * D(col("sxy")) - D(col("sx")) * D(col("sy"))) /
          (D(col("n")) * D(col("sxx")) - D(col("sx")) * D(col("sx")))
          + 0.5).cast("long").as("slope_bp"))
    }),

    "q_newsvendor" -> ((s, dir) => {
      // newsvendor stock level per brand at critical ratio 0.8: the
      // smallest monthly-demand quantity covering 80% of months —
      // exact rank selection over the per-brand demand distribution
      // (the stocking answer q_reorder_point's normal approximation
      // assumes away when demand is skewed).
      val dm = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .withColumn("mn",
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
            .cast("long"))
        .groupBy(col("p_brand"), col("mn"))
        .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("q"))
      val sizes = dm.groupBy(col("p_brand")).agg(count(lit(1)).as("__nm"),
        ((sum(col("q")) - pmod(sum(col("q")), count(lit(1)))) /
          count(lit(1))).cast("long").as("mean_q"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand")).orderBy(col("q"), col("mn"))
      dm.join(broadcast(sizes), Seq("p_brand"))
        .withColumn("__vr", row_number().over(wv))
        // rank ⌈0.8·n⌉ = (8n + 9) div 10 floor-identity
        .filter(col("__vr") === expr("(8 * __nm + 9) div 10"))
        .select(col("p_brand"), col("__nm").as("n_months"),
          col("mean_q"), col("q").as("q_star"))
        .orderBy(col("p_brand"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check.
    */
  // shared by q_ecom_job and q_ecom_job_strict: the strict arm arms the
  // FkFail gate on a fully-resolving feed, so the replay is identical.
  // q_ecom_job_partial differs in ONE CTE — final_relations applies the
  // PartialUpdate rule (a relation also survives when its product is
  // not part of the staged product batch, EcomDestinationWriter.cs:4285)
  private[graft] val EcomJobOracle: String = ecomJobOracleSql(partial = false)
  private[graft] val EcomJobOraclePartial: String = ecomJobOracleSql(partial = true)

  private def ecomJobOracleSql(partial: Boolean): String = {
    val finalRelations =
      if (partial)
        """final_relations AS (
          |  SELECT m.* FROM merged_relations m
          |  WHERE EXISTS (SELECT 1 FROM in_relations_clean b
          |    WHERE b.product_id = m.product_id AND b.related_id = m.related_id)
          |     OR NOT EXISTS (SELECT 1 FROM deduped p
          |    WHERE p.product_id = m.product_id)),""".stripMargin
      else
        """final_relations AS (
          |  SELECT m.* FROM merged_relations m
          |  WHERE EXISTS (SELECT 1 FROM in_relations_clean b
          |    WHERE b.product_id = m.product_id AND b.related_id = m.related_id)),""".stripMargin
    s"""WITH dest_groups AS (
      |  SELECT CAST(n_nationkey AS INTEGER) AS group_id, n_name AS group_name,
      |         r_name AS region
      |  FROM nation JOIN region ON n_regionkey = r_regionkey),
      |in_groups AS (
      |  SELECT group_id, group_name || '*' AS group_name, region
      |  FROM dest_groups WHERE group_id < 10
      |  UNION ALL
      |  SELECT CAST(r_regionkey + 100 AS INTEGER), 'NEW-' || r_name, r_name
      |  FROM region),
      |merged_groups AS (
      |  SELECT COALESCE(i.group_id, d.group_id) AS group_id,
      |         COALESCE(i.group_name, d.group_name) AS group_name,
      |         COALESCE(i.region, d.region) AS region
      |  FROM dest_groups d FULL OUTER JOIN in_groups i ON d.group_id = i.group_id),
      |dest_products AS (
      |  SELECT p_partkey AS product_id, p_name AS product_name,
      |         CAST(p_partkey % 25 AS INTEGER) AS group_id,
      |         CAST(p_retailprice AS DECIMAL(18,2)) AS price,
      |         'en' AS lang, p_partkey * 10 AS uid
      |  FROM part
      |  UNION ALL
      |  SELECT p_partkey, p_name, CAST(p_partkey % 25 AS INTEGER),
      |         CAST(p_retailprice AS DECIMAL(18,2)), 'fr', p_partkey * 10 + 1
      |  FROM part WHERE p_partkey % 5 = 0),
      |pnames AS (
      |  SELECT p_partkey, p_name, p_retailprice,
      |         CASE WHEN p_partkey % 7 = 0 THEN 'NEW-' || r_name
      |              WHEN p_partkey % 25 < 10 THEN n_name || '*'
      |              ELSE n_name END AS group_name_ref
      |  FROM part
      |  JOIN nation ON p_partkey % 25 = n_nationkey
      |  JOIN region ON p_partkey % 5 = r_regionkey),
      |raw_batch AS (
      |  SELECT p_partkey AS product_id, p_name AS product_name, group_name_ref,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) + 1.00
      |           AS DECIMAL(18,2)) AS price,
      |         'en' AS lang
      |  FROM pnames WHERE p_partkey % 3 = 0
      |  UNION ALL
      |  SELECT p_partkey + 1000000, 'NP ' || p_name, group_name_ref,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) + 2.00 AS DECIMAL(18,2)),
      |         'en'
      |  FROM pnames WHERE p_partkey % 13 = 0
      |  UNION ALL
      |  SELECT p_partkey, p_name, group_name_ref,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) + 5.00 AS DECIMAL(18,2)),
      |         'en'
      |  FROM pnames WHERE p_partkey % 33 = 0),
      |quarantined AS (
      |  SELECT *, 'name_ok' AS quarantine_reason FROM raw_batch
      |  WHERE product_name LIKE '%cold%'),
      |resolved AS (
      |  SELECT b.product_id, b.product_name, g.group_id, b.price, b.lang
      |  FROM raw_batch b LEFT JOIN merged_groups g ON b.group_name_ref = g.group_name
      |  WHERE b.product_name NOT LIKE '%cold%'),
      |deduped AS (
      |  SELECT product_id, product_name, group_id, price, lang FROM (
      |    SELECT r.*, row_number() OVER (PARTITION BY product_id ORDER BY price) AS rn
      |    FROM resolved r) WHERE rn = 1),
      |upserted_products AS (
      |  SELECT COALESCE(b.product_id, d.product_id) AS product_id,
      |         COALESCE(b.lang, d.lang) AS lang,
      |         COALESCE(b.product_name, d.product_name) AS product_name,
      |         COALESCE(b.group_id, d.group_id) AS group_id,
      |         COALESCE(b.price, d.price) AS price,
      |         d.uid AS uid
      |  FROM dest_products d FULL OUTER JOIN deduped b
      |    ON d.product_id = b.product_id AND d.lang = b.lang),
      |synced_products AS (
      |  SELECT * FROM upserted_products u
      |  WHERE u.lang NOT IN (SELECT DISTINCT lang FROM deduped)
      |     OR EXISTS (SELECT 1 FROM deduped b
      |                WHERE b.product_id = u.product_id AND b.lang = u.lang)),
      |new_products AS (
      |  SELECT product_id, lang, product_name, group_id, price,
      |         (SELECT max(uid) FROM dest_products)
      |           + row_number() OVER (ORDER BY product_id, lang) AS uid
      |  FROM synced_products WHERE uid IS NULL),
      |final_products AS (
      |  SELECT * FROM synced_products WHERE uid IS NOT NULL
      |  UNION ALL SELECT * FROM new_products),
      |dest_relations AS (
      |  SELECT l_partkey AS product_id, l_suppkey AS related_id,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty
      |  FROM lineitem WHERE l_linenumber = 1 GROUP BY 1, 2),
      |in_relations AS (
      |  SELECT l_partkey AS product_id, l_suppkey AS related_id,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS qty
      |  FROM lineitem WHERE l_linenumber = 2 GROUP BY 1, 2),
      |in_relations_clean AS (
      |  SELECT r.* FROM in_relations r
      |  WHERE EXISTS (SELECT 1 FROM final_products p
      |                WHERE p.lang = 'en' AND p.product_id = r.product_id)),
      |merged_relations AS (
      |  SELECT COALESCE(b.product_id, d.product_id) AS product_id,
      |         COALESCE(b.related_id, d.related_id) AS related_id,
      |         COALESCE(b.qty, d.qty) AS qty
      |  FROM dest_relations d FULL OUTER JOIN in_relations_clean b
      |    ON d.product_id = b.product_id AND d.related_id = b.related_id),
      |$finalRelations
      |users AS (
      |  SELECT c_custkey AS user_id, c_mktsegment AS seg
      |  FROM customer WHERE c_acctbal > 9500),
      |perm AS (
      |  SELECT DISTINCT c_mktsegment AS seg, l_partkey AS part_key
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE l_quantity = 50),
      |rebuilt AS (
      |  SELECT DISTINCT u.user_id, p.part_key
      |  FROM users u JOIN perm p ON u.seg = p.seg),
      |existing AS (
      |  SELECT DISTINCT u.user_id, l_partkey AS part_key
      |  FROM users u
      |  JOIN orders ON o_custkey = u.user_id
      |  JOIN lineitem ON l_orderkey = o_orderkey),
      |final_assort AS (
      |  SELECT a.user_id, a.part_key,
      |    CAST(CASE WHEN EXISTS (SELECT 1 FROM rebuilt r
      |      WHERE r.user_id = a.user_id AND r.part_key = a.part_key)
      |    THEN 1 ELSE 0 END AS INTEGER) AS is_active
      |  FROM (SELECT user_id, part_key FROM existing
      |        UNION SELECT user_id, part_key FROM rebuilt) a)
      |SELECT * FROM (
      |  SELECT 'groups' AS table_name, count(*) AS n_rows,
      |    CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws('|',
      |      CAST(group_id AS VARCHAR), group_name, region)), 1, 15) AS BIGINT)
      |      AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT) AS content_checksum
      |  FROM merged_groups HAVING count(*) > 0
      |  UNION ALL
      |  SELECT 'products', count(*),
      |    CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws('|',
      |      CAST(product_id AS VARCHAR), product_name, CAST(group_id AS VARCHAR),
      |      CAST(price AS VARCHAR), lang, CAST(uid AS VARCHAR))), 1, 15) AS BIGINT)
      |      AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
      |  FROM final_products HAVING count(*) > 0
      |  UNION ALL
      |  SELECT 'products_quarantined', count(*),
      |    CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws('|',
      |      CAST(product_id AS VARCHAR), product_name, group_name_ref,
      |      CAST(price AS VARCHAR), lang, quarantine_reason)), 1, 15) AS BIGINT)
      |      AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
      |  FROM quarantined HAVING count(*) > 0
      |  UNION ALL
      |  SELECT 'relations', count(*),
      |    CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws('|',
      |      CAST(product_id AS VARCHAR), CAST(related_id AS VARCHAR),
      |      CAST(qty AS VARCHAR))), 1, 15) AS BIGINT)
      |      AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
      |  FROM final_relations HAVING count(*) > 0
      |  UNION ALL
      |  SELECT 'assortments', count(*),
      |    CAST(sum(CAST(CAST('0x' || substr(md5(concat_ws('|',
      |      CAST(user_id AS VARCHAR), CAST(part_key AS VARCHAR),
      |      CAST(is_active AS VARCHAR))), 1, 15) AS BIGINT)
      |      AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
      |  FROM final_assort HAVING count(*) > 0)
      |ORDER BY table_name""".stripMargin
  }

  /** The SF dir trained-constant oracles derive their literals from —
    * set by [[Verify]] to the dir the queries just ran against, so the
    * dumped oracle_sql.json replays the SAME training data.
    */
  @volatile var oracleTrainDir: String = "/root/testdata/sf0.01"

  /** q_embed_whiten's oracle, built at dump time (the pinned-constant
    * rule): the TRAINED basis — mean, top-8 components, eigenvalues —
    * is embedded as double literals (shortest-repr round-trips exactly
    * in both engines), and the SQL then verifies everything EXCEPT the
    * Jacobi iteration itself: it recomputes the quantized moments from
    * the parquet (exact BIGINT sums — the Whitening.moments recipe),
    * gates the literal mean on EXACT equality with its own, gates the
    * literal (λ, v) pairs on eigen-residuals ‖Σv − λv‖∞ ≤ 1e-5 against
    * ITS covariance plus orthonormality and descending order, and only
    * then emits the zero-exchange projection of every row through the
    * literal basis (scales re-derived in SQL as 1/√(max(λ,0)+1e-6) —
    * sqrt and ÷ are correctly-rounded IEEE ops). A wrong basis, wrong
    * mean, or wrong projection all surface as a gate-emptied result.
    */
  /** Shared trained-whitening CTE prefix (lits + recomputed quantized
    * moments + the four basis gates), parameterized by the component
    * count `k` — used by q_embed_whiten (k=8) and the whitened-PQ
    * pipeline (k=16). Returns SQL ending after `dgate` (no trailing
    * comma).
    */
  private def whitenLitsAndGates(k: Int): String = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "whitenLitsAndGates needs an active SparkSession to train the basis"))
    val tk = graft.similarity.Whitening.fit(
      t(spark, oracleTrainDir, "embeddings"), "embedding", k = k)
    // exponent form forces DOUBLE typing in DuckDB — a bare decimal
    // literal is DECIMAL there, and the list coercion would shave the
    // literal to fewer bits than the double it must round-trip
    def d(x: Double): String = {
      val s = java.lang.Double.toString(x)
      if (s.contains('E')) s else s + "e0"
    }
    val mu = tk.mean.map(d).mkString("[", ", ", "]")
    val comp = tk.components.map(_.map(d).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val lam = tk.eigenvalues.map(d).mkString("[", ", ", "]")
    // embedding IS NOT NULL in nrow/msum/mom: Whitening.moments skips
    // null vectors, so the replayed counts and sums must too — an
    // unfiltered count(*) would empty the exact-mean gate on any
    // dataset with a null embedding and flag a correct result
    s"""lits AS (SELECT $mu AS mu, $comp AS comp, $lam AS lam),
      |nrow AS (SELECT count(*) AS n FROM embeddings WHERE embedding IS NOT NULL),
      |msum AS (
      |  SELECT t1.i AS i,
      |    sum(CAST(floor(CAST(e.embedding[t1.i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS s
      |  FROM embeddings e, LATERAL unnest(generate_series(1, 64)) AS t1(i)
      |  WHERE e.embedding IS NOT NULL
      |  GROUP BY 1),
      |mean AS (SELECT i, (CAST(s AS DOUBLE) / 1048576.0) / n AS mu FROM msum, nrow),
      |mom AS (
      |  SELECT t1.i AS i, t2.j AS j,
      |    sum(CAST(floor(CAST(e.embedding[t1.i] AS DOUBLE)
      |      * CAST(e.embedding[t2.j] AS DOUBLE) * 1048576.0) AS BIGINT)) AS sq
      |  FROM embeddings e,
      |    LATERAL unnest(generate_series(1, 64)) AS t1(i),
      |    LATERAL unnest(generate_series(1, 64)) AS t2(j)
      |  WHERE t2.j >= t1.i AND e.embedding IS NOT NULL
      |  GROUP BY 1, 2),
      |cov AS (
      |  SELECT m.i, m.j,
      |    (CAST(m.sq AS DOUBLE) / 1048576.0) / nrow.n - mi.mu * mj.mu AS c
      |  FROM mom m, nrow
      |  JOIN mean mi ON mi.i = m.i
      |  JOIN mean mj ON mj.i = m.j),
      |covfull AS (
      |  SELECT i, j, c FROM cov
      |  UNION ALL SELECT j, i, c FROM cov WHERE i <> j),
      |mgate AS (
      |  SELECT count(*) AS bad FROM mean, lits WHERE lits.mu[mean.i] <> mean.mu),
      |sv AS (
      |  SELECT ks.k AS k, cf.i AS r, sum(cf.c * lits.comp[ks.k][cf.j]) AS av
      |  FROM covfull cf CROSS JOIN lits
      |  CROSS JOIN LATERAL unnest(generate_series(1, $k)) AS ks(k)
      |  GROUP BY 1, 2),
      |rgate AS (
      |  SELECT count(*) AS bad FROM sv, lits
      |  WHERE abs(sv.av - lits.lam[sv.k] * lits.comp[sv.k][sv.r]) > 1e-5),
      |ogate AS (
      |  SELECT count(*) AS bad FROM (
      |    SELECT k1.a AS a, k2.b AS b,
      |      sum(lits.comp[k1.a][t.d] * lits.comp[k2.b][t.d]) AS dp
      |    FROM lits,
      |      LATERAL unnest(generate_series(1, $k)) AS k1(a),
      |      LATERAL unnest(generate_series(1, $k)) AS k2(b),
      |      LATERAL unnest(generate_series(1, 64)) AS t(d)
      |    GROUP BY 1, 2)
      |  WHERE abs(dp - (CASE WHEN a = b THEN 1.0 ELSE 0.0 END)) > 1e-9),
      |dgate AS (
      |  SELECT count(*) AS bad FROM lits,
      |    LATERAL unnest(generate_series(1, ${k - 1})) AS ks(k)
      |  WHERE lits.lam[ks.k] < lits.lam[ks.k + 1])""".stripMargin
  }

  private def whitenOracleSql: String = {
    s"""WITH ${whitenLitsAndGates(8)},
      |proj AS (
      |  SELECT e.vec_id,
      |    (1.0 / sqrt(greatest(lits.lam[1], 0.0) + 1e-6)) *
      |      list_aggregate(list_apply(list_zip(e.embedding, lits.mu, lits.comp[1]),
      |        x -> (CAST(x[1] AS DOUBLE) - x[2]) * x[3]), 'sum') AS w1,
      |    (1.0 / sqrt(greatest(lits.lam[2], 0.0) + 1e-6)) *
      |      list_aggregate(list_apply(list_zip(e.embedding, lits.mu, lits.comp[2]),
      |        x -> (CAST(x[1] AS DOUBLE) - x[2]) * x[3]), 'sum') AS w2,
      |    (1.0 / sqrt(greatest(lits.lam[3], 0.0) + 1e-6)) *
      |      list_aggregate(list_apply(list_zip(e.embedding, lits.mu, lits.comp[3]),
      |        x -> (CAST(x[1] AS DOUBLE) - x[2]) * x[3]), 'sum') AS w3
      |  FROM embeddings e CROSS JOIN lits)
      |SELECT p.vec_id, p.w1, p.w2, p.w3
      |FROM proj p, mgate, rgate, ogate, dgate
      |WHERE mgate.bad = 0 AND rgate.bad = 0 AND ogate.bad = 0 AND dgate.bad = 0
      |ORDER BY p.vec_id""".stripMargin
  }

  /** q_ann_wpq's oracle: the whitened-PQ pipeline composed from the two
    * verified machines — the k=16 trained-whitening prefix (literals
    * gated in-SQL exactly as q_embed_whiten's) projects every row to a
    * 16-dim REAL vector, and the FULL IVFADC replay (coarse seeds →
    * quantized Lloyd → residuals → per-subspace codebooks → integer
    * ADC top-k, the q_ann_ivfpq structure at dim 16 / m 4 / subDim 4)
    * then runs FROM that projected frame. The final select rides the
    * whitening gates, so a wrong basis empties the result.
    */
  /** The IVFADC replay chain (coarse seeds -> one quantized Lloyd
    * round -> residuals -> per-subspace codebooks -> integer ADC
    * scoring) over a 16-dim REAL source CTE `src` -- the q_ann_ivfpq
    * structure at dim 16 / m 4 / subDim 4, shared VERBATIM by the wpq
    * and opq oracles (extracted unchanged from the r11 wpq oracle).
    * Starts at `pn`, ends after `scored` (no trailing comma).
    */
  private def ivfadcReplaySql(src: String): String =
    s"""pn AS (SELECT count(*) AS cnt FROM ${src}),
      |cents0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) AS cid,
      |         embedding AS c_emb
      |  FROM ${src}, pn
      |  WHERE vec_id % greatest(1, cnt // 8) = 0
      |  ORDER BY vec_id LIMIT 8),
      |scores0 AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    -2 * list_aggregate(list_apply(list_zip(e.embedding, c.c_emb),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |      + list_aggregate(list_apply(c.c_emb,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS score
      |  FROM ${src} e CROSS JOIN cents0 c),
      |assign0 AS (
      |  SELECT vec_id, embedding, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rk
      |    FROM scores0) WHERE rk = 1),
      |expl1 AS (
      |  SELECT cid, unnest(range(1, len(embedding) + 1)) AS d,
      |         unnest(embedding) AS v
      |  FROM assign0),
      |sums1 AS (
      |  SELECT cid, d, sum(CAST(floor(CAST(v AS DOUBLE) * 65536.0) AS BIGINT)) AS sq,
      |         count(*) AS nv
      |  FROM expl1 GROUP BY cid, d),
      |cents AS (
      |  SELECT cid,
      |    list(CAST(CAST(sq AS DOUBLE) / (65536.0 * nv) AS REAL) ORDER BY d) AS c_emb
      |  FROM sums1 GROUP BY cid),
      |scores AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |    -2 * list_aggregate(list_apply(list_zip(e.embedding, c.c_emb),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |      + list_aggregate(list_apply(c.c_emb,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS score
      |  FROM ${src} e CROSS JOIN cents c),
      |assign AS (
      |  SELECT vec_id, embedding, cid AS centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rk
      |    FROM scores) WHERE rk = 1),
      |resid AS (
      |  SELECT a.vec_id, a.centroid_id,
      |    list_apply(list_zip(a.embedding, c.c_emb),
      |      x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS REAL)) AS r_emb
      |  FROM assign a JOIN cents c ON a.centroid_id = c.cid),
      |ms AS (SELECT unnest(range(1, 5)) AS m),
      |rsub AS (
      |  SELECT r.vec_id, r.centroid_id, ms.m,
      |    list_slice(r.r_emb, (ms.m - 1) * 4 + 1, ms.m * 4) AS sv
      |  FROM resid r CROSS JOIN ms),
      |bseed_ids AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) AS bid
      |  FROM (SELECT vec_id FROM resid, pn WHERE vec_id % greatest(1, cnt // 8) = 0
      |        ORDER BY vec_id LIMIT 8)),
      |bseeds AS (
      |  SELECT s.bid, r.m, r.sv AS b_emb
      |  FROM bseed_ids s JOIN rsub r ON r.vec_id = s.vec_id),
      |bscores0 AS (
      |  SELECT r.vec_id, r.m, r.sv, b.bid,
      |    -2 * list_aggregate(list_apply(list_zip(r.sv, b.b_emb),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |      + list_aggregate(list_apply(b.b_emb,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS score
      |  FROM rsub r JOIN bseeds b ON b.m = r.m),
      |bassign0 AS (
      |  SELECT vec_id, m, sv, bid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY score, bid) AS rk
      |    FROM bscores0) WHERE rk = 1),
      |bexpl AS (
      |  SELECT m, bid, unnest(range(1, len(sv) + 1)) AS d, unnest(sv) AS v
      |  FROM bassign0),
      |bsums AS (
      |  SELECT m, bid, d, sum(CAST(floor(CAST(v AS DOUBLE) * 65536.0) AS BIGINT)) AS sq,
      |         count(*) AS nv
      |  FROM bexpl GROUP BY m, bid, d),
      |books AS (
      |  SELECT m, bid,
      |    list(CAST(CAST(sq AS DOUBLE) / (65536.0 * nv) AS REAL) ORDER BY d) AS b_emb
      |  FROM bsums GROUP BY m, bid),
      |bscores AS (
      |  SELECT r.vec_id, r.centroid_id, r.m, b.bid,
      |    -2 * list_aggregate(list_apply(list_zip(r.sv, b.b_emb),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |      + list_aggregate(list_apply(b.b_emb,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS score
      |  FROM rsub r JOIN books b ON b.m = r.m),
      |codes AS (
      |  SELECT vec_id, centroid_id, m, bid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY score, bid) AS rk
      |    FROM bscores) WHERE rk = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS q_emb, cid AS centroid_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rk
      |    FROM scores WHERE vec_id < 10) WHERE rk <= 2),
      |qres AS (
      |  SELECT p.query_id, p.centroid_id,
      |    list_apply(list_zip(p.q_emb, c.c_emb),
      |      x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS REAL)) AS qr
      |  FROM probes p JOIN cents c ON p.centroid_id = c.cid),
      |lut AS (
      |  SELECT q.query_id, q.centroid_id, b.m, b.bid,
      |    CAST(floor(65536.0 * list_aggregate(
      |      list_apply(list_zip(list_slice(q.qr, (b.m - 1) * 4 + 1, b.m * 4), b.b_emb),
      |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum')) AS BIGINT) AS d_q
      |  FROM qres q CROSS JOIN books b),
      |scored AS (
      |  SELECT l.query_id, c.vec_id AS neighbor_id,
      |    CAST(sum(l.d_q) AS BIGINT) AS adc_dist
      |  FROM codes c
      |  JOIN lut l ON l.centroid_id = c.centroid_id AND l.m = c.m AND l.bid = c.bid
      |  WHERE c.vec_id <> l.query_id
      |  GROUP BY 1, 2)""".stripMargin

  private def wpqOracleSql: String = {
    val projEntries = (1 to 16).map { kk =>
      s"CAST((1.0 / sqrt(greatest(lits.lam[$kk], 0.0) + 1e-6)) * " +
        s"list_aggregate(list_apply(list_zip(e.embedding, lits.mu, lits.comp[$kk]), " +
        "x -> (CAST(x[1] AS DOUBLE) - x[2]) * x[3]), 'sum') AS REAL)"
    }.mkString(",\n      |    ")
    s"""WITH ${whitenLitsAndGates(16)},
      |pvec AS (
      |  SELECT e.vec_id, [
      |    $projEntries] AS embedding
      |  FROM embeddings e CROSS JOIN lits),
      |${ivfadcReplaySql("pvec")}
      |SELECT s.query_id, s.neighbor_id, s.adc_dist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rk
      |  FROM scored) s, mgate, rgate, ogate, dgate
      |WHERE s.rk <= 5
      |  AND mgate.bad = 0 AND rgate.bad = 0 AND ogate.bad = 0 AND dgate.bad = 0
      |ORDER BY s.query_id, s.neighbor_id""".stripMargin
  }

  /** q_ann_opq's oracle: the wpq replay with the LEARNED rotation
    * between the whitening projection and the IVFADC machine. The
    * trained 16×16 rotation R is the ONLY new pin, and it is verified
    * from outside rather than trusted: the B₀ codebooks R was trained
    * toward are RE-DERIVED in SQL from the projected frame (the same
    * quantized-Lloyd replay as every codebook oracle), the quantized
    * cross-moment M = Σ floor(2²⁰·y·xᵀ) is recomputed independently
    * from those replayed codes, and R must pass (1) row orthonormality
    * ≤ 1e-9, (2) the Procrustes critical-point condition — RᵀM
    * symmetric to 1e-4 relative (M is quantization-exact, so asymmetry
    * measures only the driver Jacobi's residual), and (3)
    * tr(RᵀM) ≥ tr(M): no worse than the identity rotation, ruling out
    * descent branches of the critical-point family. The rotated frame
    * then feeds the VERBATIM wpq IVFADC replay.
    */
  private def opqOracleSql: String = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "opq oracle needs an active SparkSession to train the rotation"))
    val emb = t(spark, oracleTrainDir, "embeddings")
    val t16 = graft.similarity.Whitening.fit(emb, "embedding", k = 16)
    val unit = emb.select(col("vec_id"),
      transform(t16(col("embedding")), x => x.cast("float")).as("embedding"))
    val rot = graft.similarity.Opq.trainRotation(unit, m = 4, subDim = 4, k = 8)
    def d(x: Double): String = {
      val s = java.lang.Double.toString(x)
      if (s.contains('E')) s else s + "e0"
    }
    val rLit = rot.map(_.map(d).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val projEntries = (1 to 16).map { kk =>
      s"CAST((1.0 / sqrt(greatest(lits.lam[$kk], 0.0) + 1e-6)) * " +
        s"list_aggregate(list_apply(list_zip(e.embedding, lits.mu, lits.comp[$kk]), " +
        "x -> (CAST(x[1] AS DOUBLE) - x[2]) * x[3]), 'sum') AS REAL)"
    }.mkString(",\n      |    ")
    val rotEntries = (1 to 16).map { kk =>
      s"CAST(list_aggregate(list_apply(list_zip(p.embedding, r.rr[$kk]), " +
        "x -> CAST(x[1] AS DOUBLE) * x[2]), 'sum') AS REAL)"
    }.mkString(",\n      |    ")
    s"""WITH ${whitenLitsAndGates(16)},
      |pvec AS (
      |  SELECT e.vec_id, [
      |    $projEntries] AS embedding
      |  FROM embeddings e CROSS JOIN lits),
      |zms AS (SELECT unnest(range(1, 5)) AS m),
      |zsub AS (
      |  SELECT p.vec_id, zms.m,
      |         list_slice(p.embedding, (zms.m - 1) * 4 + 1, zms.m * 4) AS sv
      |  FROM pvec p CROSS JOIN zms),
      |zpn AS (SELECT count(*) AS cnt FROM pvec),
      |zseed_ids AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) AS bid
      |  FROM (SELECT vec_id FROM pvec, zpn WHERE vec_id % greatest(1, cnt // 8) = 0
      |        ORDER BY vec_id LIMIT 8)),
      |zseeds AS (
      |  SELECT s.bid, q.m, q.sv AS b_emb
      |  FROM zseed_ids s JOIN zsub q ON q.vec_id = s.vec_id),
      |zscores0 AS (
      |  SELECT q.vec_id, q.m, q.sv, b.bid,
      |    -2 * list_aggregate(list_apply(list_zip(q.sv, b.b_emb),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |      + list_aggregate(list_apply(b.b_emb,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS score
      |  FROM zsub q JOIN zseeds b ON b.m = q.m),
      |zassign0 AS (
      |  SELECT vec_id, m, sv, bid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY score, bid) AS rk
      |    FROM zscores0) WHERE rk = 1),
      |zexpl AS (
      |  SELECT m, bid, unnest(range(1, len(sv) + 1)) AS d, unnest(sv) AS v
      |  FROM zassign0),
      |zsums AS (
      |  SELECT m, bid, d, sum(CAST(floor(CAST(v AS DOUBLE) * 65536.0) AS BIGINT)) AS sq,
      |         count(*) AS nv
      |  FROM zexpl GROUP BY m, bid, d),
      |zbooks AS (
      |  SELECT m, bid,
      |    list(CAST(CAST(sq AS DOUBLE) / (65536.0 * nv) AS REAL) ORDER BY d) AS b_emb
      |  FROM zsums GROUP BY m, bid),
      |zscores AS (
      |  SELECT q.vec_id, q.m, b.bid,
      |    -2 * list_aggregate(list_apply(list_zip(q.sv, b.b_emb),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
      |      + list_aggregate(list_apply(b.b_emb,
      |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS score
      |  FROM zsub q JOIN zbooks b ON b.m = q.m),
      |zcodes AS (
      |  SELECT vec_id, m, bid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY score, bid) AS rk
      |    FROM zscores) WHERE rk = 1),
      |ym AS (
      |  SELECT c.vec_id, CAST((c.m - 1) * 4 + t.d AS INTEGER) AS r,
      |         b.b_emb[CAST(t.d AS INTEGER)] AS yv
      |  FROM zcodes c JOIN zbooks b ON b.m = c.m AND b.bid = c.bid,
      |    LATERAL unnest(generate_series(1, 4)) AS t(d)),
      |xm AS (
      |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS c,
      |         unnest(embedding) AS xv
      |  FROM pvec),
      |mmat AS (
      |  SELECT y.r, x.c,
      |    CAST(sum(CAST(floor(CAST(y.yv AS DOUBLE) * CAST(x.xv AS DOUBLE)
      |      * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0 AS v
      |  FROM ym y JOIN xm x USING (vec_id) GROUP BY 1, 2),
      |rlits AS (SELECT $rLit AS rr),
      |r_ogate AS (
      |  SELECT count(*) AS bad FROM (
      |    SELECT a.a AS a, b.b AS b,
      |      list_aggregate(list_apply(list_zip(r.rr[CAST(a.a AS INTEGER)],
      |        r.rr[CAST(b.b AS INTEGER)]), x -> x[1] * x[2]), 'sum') AS dp
      |    FROM rlits r,
      |      LATERAL unnest(generate_series(1, 16)) AS a(a),
      |      LATERAL unnest(generate_series(1, 16)) AS b(b))
      |  WHERE abs(dp - (CASE WHEN a = b THEN 1.0 ELSE 0.0 END)) > 1e-9),
      |tm AS (
      |  SELECT t.i AS i, m.c AS j,
      |    sum(r.rr[CAST(m.r AS INTEGER)][CAST(t.i AS INTEGER)] * m.v) AS v
      |  FROM mmat m CROSS JOIN rlits r,
      |    LATERAL unnest(generate_series(1, 16)) AS t(i)
      |  GROUP BY 1, 2),
      |r_sgate AS (
      |  SELECT count(*) AS bad FROM tm a JOIN tm b ON a.i = b.j AND a.j = b.i AND a.i < a.j
      |  WHERE abs(a.v - b.v) > 1e-4 * (1.0 + abs(a.v) + abs(b.v))),
      |r_tgate AS (
      |  SELECT count(*) AS bad
      |  FROM (SELECT sum(v) AS t1 FROM tm WHERE i = j) q1,
      |       (SELECT sum(v) AS t0 FROM mmat WHERE r = c) q0
      |  WHERE q1.t1 < q0.t0 - 1e-6 * (1.0 + abs(q0.t0))),
      |rvec AS (
      |  SELECT p.vec_id, [
      |    $rotEntries] AS embedding
      |  FROM pvec p CROSS JOIN rlits r),
      |${ivfadcReplaySql("rvec")}
      |SELECT s.query_id, s.neighbor_id, s.adc_dist FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rk
      |  FROM scored) s, mgate, rgate, ogate, dgate, r_ogate, r_sgate, r_tgate
      |WHERE s.rk <= 5
      |  AND mgate.bad = 0 AND rgate.bad = 0 AND ogate.bad = 0 AND dgate.bad = 0
      |  AND r_ogate.bad = 0 AND r_sgate.bad = 0 AND r_tgate.bad = 0
      |ORDER BY s.query_id, s.neighbor_id""".stripMargin
  }

  /** q_unigram_train / q_unigram_fertility oracles, built at dump time
    * (the pinned-constant rule): the TRAINED unigram model — token,
    * fixpoint count, micro-nat cost — is embedded as literals, and the
    * SQL verifies it from OUTSIDE rather than trusting it: a coverage
    * gate (every single character of the re-derived word table is in
    * the vocabulary), a cost gate (each pinned cost is the floor of
    * −1e6·ln((cnt+1)/(T+V)) over its own pinned count, T and V
    * re-derived from the pins; ±1e-6 slack absorbs the last-ulp libm
    * difference on the transcendental only — the floor bucket itself
    * is pinned), and the FIXPOINT gate: one full E-step replayed in
    * SQL — the Viterbi DP over every word as pure integer min-plus
    * with the pinned costs (recursive CTE carrying the per-word dp and
    * predecessor lists; tie-break = min struct (cost, start), exactly
    * the trainer's), backtracked and recounted — must reproduce every
    * pinned count EXACTLY. Hard EM converged means the model is a
    * self-consistent fixpoint; a wrong vocab, count, cost, or
    * segmentation all surface as a gate-emptied result.
    */
  private def unigramModel(): graft.pipelines.Unigram.Model = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "unigram oracle needs an active SparkSession to train the model"))
    graft.pipelines.Unigram.fit(
      t(spark, oracleTrainDir, "documents"), "text", vocabSize = 50)
  }

  /** Shared CTE prefix: pinned lits, word table, the three model gates,
    * and the Viterbi replay through `recount`. Ends after `stray_gate`
    * (no trailing comma). Must run under WITH RECURSIVE.
    */
  private def unigramLitsAndGates(m: graft.pipelines.Unigram.Model): String = {
    def esc(s: String) = "'" + s.replace("'", "''") + "'"
    val toks = m.tokens.map(esc).mkString("[", ", ", "]")
    val cnts = m.counts.map(c => s"CAST($c AS BIGINT)").mkString("[", ", ", "]")
    val costs = m.costs.map(c => s"CAST($c AS BIGINT)").mkString("[", ", ", "]")
    s"""lits AS (SELECT $toks AS toks, $cnts AS cnts, $costs AS costs),
      |lmap AS (SELECT map(toks, costs) AS cm, map(toks, cnts) AS nm,
      |                len(toks) AS v, list_aggregate(cnts, 'sum') AS tot
      |         FROM lits),
      |wc AS (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(str_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS word
      |    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
      |  GROUP BY word HAVING length(word) <= 200),
      |cover_gate AS (
      |  SELECT count(*) AS bad FROM (
      |    SELECT DISTINCT substr(word, CAST(t.i AS INTEGER), 1) AS ch
      |    FROM wc, LATERAL unnest(generate_series(1, length(word))) AS t(i)) s, lmap
      |  WHERE len(map_extract(lmap.cm, s.ch)) = 0),
      |cost_gate AS (
      |  SELECT count(*) AS bad FROM (
      |    SELECT lits.costs[CAST(t.i AS INTEGER)] AS cost,
      |           lits.cnts[CAST(t.i AS INTEGER)] AS cnt, lmap.tot, lmap.v
      |    FROM lits, lmap,
      |      LATERAL unnest(generate_series(1, CAST(len(lits.toks) AS BIGINT))) AS t(i)) x
      |  WHERE NOT (x.cost <= -1e6 * ln((x.cnt + 1.0) / (x.tot + x.v)) + 1e-6
      |         AND -1e6 * ln((x.cnt + 1.0) / (x.tot + x.v)) < x.cost + 1 + 1e-6)),
      |vit(word, cnt, j, dps, preds) AS (
      |  SELECT word, cnt, 0, [CAST(0 AS BIGINT)], CAST([] AS INTEGER[]) FROM wc
      |  UNION ALL
      |  SELECT word, cnt, j + 1,
      |    list_append(dps, best['c']),
      |    list_append(preds, best['i'])
      |  FROM (
      |    SELECT word, cnt, j, dps, preds,
      |      list_sort([{'c': dps[i + 1] + map_extract(lmap.cm,
      |                     substr(word, CAST(i + 1 AS INTEGER),
      |                            CAST(j + 1 - i AS INTEGER)))[1],
      |                  'i': CAST(i AS INTEGER)}
      |        FOR i IN generate_series(greatest(0, j + 1 - 6), CAST(j AS BIGINT))
      |        IF len(map_extract(lmap.cm,
      |             substr(word, CAST(i + 1 AS INTEGER),
      |                    CAST(j + 1 - i AS INTEGER)))) > 0])[1] AS best
      |    FROM vit, lmap WHERE j < length(word))),
      |bt(word, cnt, pos, tok, preds) AS (
      |  SELECT word, cnt, CAST(length(word) AS INTEGER), CAST(NULL AS VARCHAR), preds
      |  FROM vit WHERE j = length(word)
      |  UNION ALL
      |  SELECT word, cnt, preds[pos],
      |    substr(word, preds[pos] + 1, pos - preds[pos]), preds
      |  FROM bt WHERE pos > 0),
      |recount AS (
      |  SELECT tok, sum(cnt) AS c FROM bt WHERE tok IS NOT NULL GROUP BY tok),
      |fix_gate AS (
      |  SELECT count(*) AS bad FROM (
      |    SELECT lits.toks[CAST(t.i AS INTEGER)] AS tok,
      |           lits.cnts[CAST(t.i AS INTEGER)] AS cnt
      |    FROM lits,
      |      LATERAL unnest(generate_series(1, CAST(len(lits.toks) AS BIGINT))) AS t(i)) p
      |  LEFT JOIN recount r ON r.tok = p.tok
      |  WHERE coalesce(r.c, 0) <> p.cnt),
      |stray_gate AS (
      |  SELECT count(*) AS bad FROM recount r, lmap
      |  WHERE len(map_extract(lmap.nm, r.tok)) = 0)""".stripMargin
  }

  private def unigramOracleSql: String = {
    val m = unigramModel()
    s"""WITH RECURSIVE ${unigramLitsAndGates(m)}
      |SELECT lits.toks[CAST(t.i AS INTEGER)] AS token,
      |       lits.cnts[CAST(t.i AS INTEGER)] AS cnt,
      |       lits.costs[CAST(t.i AS INTEGER)] AS cost_unat
      |FROM lits,
      |  LATERAL unnest(generate_series(1, CAST(len(lits.toks) AS BIGINT))) AS t(i),
      |  cover_gate, cost_gate, fix_gate, stray_gate
      |WHERE cover_gate.bad = 0 AND cost_gate.bad = 0
      |  AND fix_gate.bad = 0 AND stray_gate.bad = 0
      |ORDER BY token""".stripMargin
  }

  /** The fertility rollup over the VERIFIED Viterbi segmentation: the
    * per-word token counts come from the same gated replay (bt), so the
    * comparison row vs q_bpe_fertility rides the full model gates.
    */
  private def unigramFertilityOracleSql: String = {
    val m = unigramModel()
    s"""WITH RECURSIVE ${unigramLitsAndGates(m)},
      |wsym AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS ntoks
      |  FROM bt WHERE tok IS NOT NULL GROUP BY word),
      |dw AS (
      |  SELECT doc_id, lang,
      |    unnest(str_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS word
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
      |SELECT dw.lang, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(w.ntoks) AS BIGINT) AS n_subwords,
      |  CAST((10000 * sum(w.ntoks)) // count(*) AS BIGINT) AS fertility_bp
      |FROM dw JOIN wsym w USING (word), cover_gate, cost_gate, fix_gate, stray_gate
      |WHERE cover_gate.bad = 0 AND cost_gate.bad = 0
      |  AND fix_gate.bad = 0 AND stray_gate.bad = 0
      |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin
  }

  /** Per-doc subword counts over the SAME gated Viterbi replay. */
  private def unigramEncodeOracleSql: String = {
    val m = unigramModel()
    s"""WITH RECURSIVE ${unigramLitsAndGates(m)},
      |wsym AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS ntoks
      |  FROM bt WHERE tok IS NOT NULL GROUP BY word),
      |dw AS (
      |  SELECT doc_id,
      |    unnest(str_split_regex(trim(text), '[ \\t\\n\\r\\f]+')) AS word
      |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
      |SELECT dw.doc_id, CAST(sum(w.ntoks) AS BIGINT) AS n_subwords
      |FROM dw JOIN wsym w USING (word), cover_gate, cost_gate, fix_gate, stray_gate
      |WHERE cover_gate.bad = 0 AND cost_gate.bad = 0
      |  AND fix_gate.bad = 0 AND stray_gate.bad = 0
      |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] =
    Map("q_embed_whiten" -> whitenOracleSql, "q_ann_wpq" -> wpqOracleSql,
      "q_ann_opq" -> opqOracleSql,
      "q_unigram_train" -> unigramOracleSql,
      "q_unigram_encode" -> unigramEncodeOracleSql,
      "q_unigram_fertility" -> unigramFertilityOracleSql) ++
      OracleRelationalSql.sql ++ OracleAnalyticsSql.sql ++ OracleTextSql.sql

  /** q_sprt's pinned constants (l1, l0, upper, lower) — shared between
    * the Spark query and the oracle literal embedding above.
    */
  private[graft] val sprtC =
    graft.operators.Stats.sprtConstants(5000L, 6000L, 500L, 500L)
}

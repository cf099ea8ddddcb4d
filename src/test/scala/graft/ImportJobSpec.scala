package graft

import graft.plans.ImportJob
import graft.plans.ImportJob._

class ImportJobSpec extends SparkSuite {
  import spark.implicits._

  test("run merges tables in dependency order with per-table modes") {
    val destTables = Map(
      "nation" -> Seq((1, "US"), (2, "DE")).toDF("nid", "nname"),
      "customer" -> Seq((10L, 1, 100.0), (11L, 2, 50.0)).toDF("cid", "nid", "bal"))
    val incomingTables = Map(
      "nation" -> Seq((2, "Germany"), (3, "FR")).toDF("nid", "nname"),
      "customer" -> Seq((11L, 2, 75.0), (11L, 2, 999.0), (12L, 3, 10.0))
        .toDF("cid", "nid", "bal"))

    val out = ImportJob.run(
      Seq(
        TableSpec("customer", keys = Seq("cid"), dedupKeys = Seq("cid"),
          dedupOrder = Seq("bal")),
        TableSpec("nation", keys = Seq("nid"))),
      dest = destTables, incoming = incomingTables)

    val nations = out("nation").orderBy("nid").as[(Int, String)].collect()
    assert(nations === Array((1, "US"), (2, "Germany"), (3, "FR")))
    // dedup kept bal=75 (first by bal order), upsert applied it
    val custs = out("customer").orderBy("cid").as[(Long, Int, Double)].collect()
    assert(custs === Array((10L, 1, 100.0), (11L, 2, 75.0), (12L, 3, 10.0)))
  }

  test("rerunning the same feed against the synced destination is a no-op " +
    "(the nightly-sync contract), surrogate ids included") {
    import org.apache.spark.sql.functions._
    val dest = Map("product" ->
      Seq((1, "keep", 100L), (2, "old", 200L)).toDF("pid", "pname", "uid"))
    val incoming = Map("product" ->
      Seq((2, "renamed"), (3, "new-a"), (4, "new-b")).toDF("pid", "pname"))
    def specs(maxUid: Long) = Seq(TableSpec("product", keys = Seq("pid"),
      deleteExcess = true,
      post = out => {
        val fresh = graft.operators.SurrogateKeys.assign(
          out.filter(col("uid").isNull).drop("uid"),
          Seq(col("pid")), "uid", startAt = maxUid + 1)
        out.filter(col("uid").isNotNull)
          .unionByName(fresh.select(out.columns.map(col): _*))
      }))
    def maxUid(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(max(col("uid"))).collect()(0).getLong(0)

    val once = ImportJob.run(specs(maxUid(dest("product"))),
      dest = dest, incoming = incoming)
    val first = once("product").orderBy("pid")
      .as[(Int, String, Long)].collect()
    // row 1 deleted (missing from the feed), row 2 renamed keeps uid 200,
    // rows 3/4 got fresh uids continuing from the destination max
    assert(first.map(r => (r._1, r._2)) ===
      Array((2, "renamed"), (3, "new-a"), (4, "new-b")))
    assert(first.find(_._1 == 2).get._3 === 200L)
    assert(first.filter(_._1 >= 3).map(_._3).sorted === Array(201L, 202L))

    val again = ImportJob.run(specs(maxUid(once("product"))),
      dest = Map("product" -> once("product")), incoming = incoming)
    val second = again("product").orderBy("pid")
      .as[(Int, String, Long)].collect()
    assert(second === first,
      "a second run of the identical feed must change nothing — " +
        "including previously assigned surrogate ids")
  }

  test("deleteExcess + flagMissing shape the synced output") {
    val d = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val in = Seq((2, "B")).toDF("id", "v")
    val synced = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), deleteExcess = true)),
      _ => d, _ => in)("part").orderBy("id").as[(Int, String)].collect()
    assert(synced === Array((2, "B")))

    val flagged = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), flagMissing = Some("active"))),
      _ => d, _ => in)("part").orderBy("id")
      .select("id", "active").as[(Int, Boolean)].collect()
    assert(flagged === Array((1, false), (2, true), (3, false)))
  }

  test("deleteExcessScope: a one-scope import never touches other scopes") {
    val d = Seq((1, "en", "a"), (2, "en", "b"), (3, "fr", "c"))
      .toDF("id", "lang", "v")
    val in = Seq((1, "en", "A")).toDF("id", "lang", "v")
    val synced = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), deleteExcess = true,
        deleteExcessScope = Seq("lang"))),
      _ => d, _ => in)("part").orderBy("id")
      .select("id", "lang", "v").as[(Int, String, String)].collect()
    // en#2 deleted (in-scope, missing from batch); fr#3 SURVIVES
    assert(synced === Array((1, "en", "A"), (3, "fr", "c")))
  }

  test("deleteExcessScope: same key in two scopes — only the in-scope copy dies") {
    // the canonical one-language import: product #2 exists in BOTH en and
    // fr; the en batch omits it, so en#2 must die but fr#2 must survive
    val d = Seq((1, "en", "a"), (2, "en", "b"), (2, "fr", "b-fr"), (3, "fr", "c"))
      .toDF("id", "lang", "v")
    val in = Seq((1, "en", "A")).toDF("id", "lang", "v")
    // keys deliberately EXCLUDE the scope column — the delete set must
    // still carry (id, lang), else deleting en#2 also wipes fr#2
    val synced = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), deleteExcess = true,
        deleteExcessScope = Seq("lang"))),
      _ => d, _ => in)("part").orderBy("id", "lang")
      .select("id", "lang", "v").as[(Int, String, String)].collect()
    assert(synced === Array((1, "en", "A"), (2, "fr", "b-fr"), (3, "fr", "c")))
  }

  test("deleteIncoming removes matched keys; constants inject missing columns") {
    import org.apache.spark.sql.functions.col
    val d = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val in = Seq(Tuple1(2)).toDF("id")
    val out = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), mode = DeleteIncoming)),
      _ => d, _ => in)("part").as[(Int, String)].collect()
    assert(out === Array((1, "a")))

    val withConst = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), constants = Map("v" -> "SHOP1"),
        post = df => df.filter(col("id") >= 1))),
      _ => d, _ => Seq(Tuple1(3)).toDF("id"))("part")
      .orderBy("id").as[(Int, String)].collect()
    assert(withConst === Array((1, "a"), (2, "b"), (3, "SHOP1")))
  }

  test("deferred removeMissing: inline per-mapping delete orphans FK children, " +
    "RemoveMissingRowsAcrossAllTables does not") {
    // Two partial feeds (the reference's per-language/per-shop mappings,
    // EcomProvider.cs:1095) both target `part`; `rel` references part ids
    // from BOTH feeds. Inline, each mapping's delete-excess runs against
    // its OWN batch (DeleteExcessFromMainTable per mapping,
    // EcomDestinationWriter.cs:3067), so mapping B's delete drops the
    // rows only mapping A carried → rel rows orphan. Deferred
    // (RemoveMissingRowsAcrossAllTables, EcomProvider.cs:1090), the
    // delete waits until every table staged and anti-joins the UNION of
    // the table's batches → a row survives if ANY mapping carried it.
    val destPart = Seq((1, "a"), (2, "b"), (3, "c"), (4, "stale")).toDF("id", "v")
    val destRel = Seq((10, 1), (11, 3)).toDF("rel_id", "part_id")
    val feedA = Seq((1, "A1"), (2, "A2")).toDF("id", "v")
    val feedB = Seq((3, "B3")).toDF("id", "v")
    val inRel = Seq((12, 2)).toDF("rel_id", "part_id")
    val specs = Seq(
      TableSpec("part", keys = Seq("id"), deleteExcess = true,
        sourceName = Some("part_a")),
      TableSpec("part", keys = Seq("id"), deleteExcess = true,
        sourceName = Some("part_b")),
      TableSpec("rel", keys = Seq("rel_id")))
    val dest = Map("part" -> destPart, "rel" -> destRel)
    val inc = Map("part_a" -> feedA, "part_b" -> feedB, "rel" -> inRel)
    val deps = Map("rel" -> Set("part"))

    def orphans(out: Map[String, org.apache.spark.sql.DataFrame]): Long =
      out("rel").join(out("part"),
        out("rel")("part_id") === out("part")("id"), "left_anti").count()

    val inline = ImportJob.run(specs, dest, inc, deps)
    // mapping B's delete wiped feed A's rows → only {3} survives, and
    // rel rows 10 (→1) and 12 (→2) dangle
    assert(inline("part").orderBy("id").as[(Int, String)].collect() ===
      Array((3, "B3")))
    assert(orphans(inline) === 2L)

    val deferred = ImportJob.run(specs, dest, inc, deps, removeMissing = true)
    // union of both feeds {1,2,3} survives; only the stale id 4 dies;
    // every rel parent exists
    assert(deferred("part").orderBy("id").as[(Int, String)].collect() ===
      Array((1, "A1"), (2, "A2"), (3, "B3")))
    assert(orphans(deferred) === 0L)
  }

  test("multi-mapping flagMissing: present in ANY batch flags active") {
    val d = Seq((1, "a", false), (2, "b", false), (3, "c", true))
      .toDF("id", "v", "active")
    val out = ImportJob.run(
      Seq(
        TableSpec("part", keys = Seq("id"), sourceName = Some("s1"),
          flagMissing = Some("active")),
        TableSpec("part", keys = Seq("id"), sourceName = Some("s2"))),
      _ => d,
      Map("s1" -> Seq((1, "A")).toDF("id", "v"),
          "s2" -> Seq((2, "B")).toDF("id", "v")))("part")
      .orderBy("id").select("id", "active").as[(Int, Boolean)].collect()
    assert(out === Array((1, true), (2, true), (3, false)))
  }

  test("rowRules divert failing rows to <table>__quarantined, job keeps going") {
    import org.apache.spark.sql.functions.col
    val d = Seq((1, Option(10.0), Option("a"))).toDF("id", "price", "v")
    val in = Seq(
      (2, Option(5.0), Option("b")),   // valid
      (3, Option(-1.0), None),         // fails both rules
      (5, None: Option[Double], Option("e"))) // null predicate => quarantined
      .toDF("id", "price", "v")
    val out = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"), rowRules = Seq(
        "price_pos" -> (col("price") > 0),
        "v_present" -> col("v").isNotNull))),
      _ => d, _ => in)
    val merged = out("part").orderBy("id")
      .select("id").as[Int].collect()
    assert(merged === Array(1, 2)) // only the valid incoming row merged
    val quarantined = out("part__quarantined").orderBy("id")
      .select("id", "quarantine_reason").as[(Int, String)].collect()
    assert(quarantined === Array((3, "price_pos,v_present"), (5, "price_pos")))
  }

  test("fkGate FkFail: the strict import gate — a dangling reference " +
    "aborts the job with the violating rows; a fully-resolved feed is " +
    "identical to the ungated run") {
    import org.apache.spark.sql.functions.col
    // product feed carries group NAMES; preResolve resolves them against
    // the grp table AS MERGED BY THIS JOB ("tools" only exists in the
    // incoming grp batch — the FailOnMissingGroups scenario exactly:
    // EcomProvider resolves products against groups imported earlier in
    // the same run, and CreateMissingGroups=off turns leftovers fatal)
    val dest = Map(
      "grp" -> Seq((1, "toys"), (2, "food")).toDF("gid", "gname"),
      "product" -> Seq((10L, 1)).toDF("pid", "gid"))
    def incoming(withGhost: Boolean) = Map(
      "grp" -> Seq((3, "tools")).toDF("gid", "gname"),
      "product" -> (Seq((11L, "tools"), (12L, "food")) ++
        (if (withGhost) Seq((13L, "ghost")) else Nil)).toDF("pid", "gname"))
    val deps = Map("product" -> Set("grp"))
    def specs(gate: Option[FkGate]) = Seq(
      TableSpec("grp", keys = Seq("gid")),
      TableSpec("product", keys = Seq("pid"),
        // gname stays on the staged frame (the merge keeps destination
        // columns) so a gate failure logs the unresolved NAME, like the
        // reference's cloned row carries the missing Groups value
        preResolve = (df, lookup) => df
          .join(lookup("grp"), Seq("gname"), "left")
          .select("pid", "gid", "gname"),
        fkGate = gate))

    // passing path: gated output == ungated output, row for row
    val gated = ImportJob.run(specs(Some(FkGate(Seq("gid")))),
      dest, incoming(false), deps)("product")
      .orderBy("pid").as[(Long, Int)].collect()
    val ungated = ImportJob.run(specs(None),
      dest, incoming(false), deps)("product")
      .orderBy("pid").as[(Long, Int)].collect()
    assert(gated === ungated)
    assert(gated === Array((10L, 1), (11L, 3), (12L, 2)))

    // failing path: the job aborts, the exception carries exactly the
    // violating rows and a LogFailedRows-style sample in the message
    val ex = intercept[FkViolationException] {
      ImportJob.run(specs(Some(FkGate(Seq("gid")))),
        dest, incoming(true), deps)
    }
    assert(ex.table === "product" && ex.columns === Seq("gid"))
    assert(ex.rows.select("pid").as[Long].collect() === Array(13L))
    assert(ex.getMessage.contains("missing gid"))
    assert(ex.getMessage.contains("Failed row:"))
    assert(ex.getMessage.contains("\"ghost\""))
  }

  test("fkGate FkQuarantine diverts unresolved rows to " +
    "<table>__quarantined and merges the rest; unions with rowRules " +
    "quarantine across differing schemas") {
    import org.apache.spark.sql.functions.col
    val dest = Map(
      "grp" -> Seq((1, "toys")).toDF("gid", "gname"),
      "product" -> Seq((10L, 1, "k")).toDF("pid", "gid", "sku"))
    val incoming = Map(
      "grp" -> Seq((2, "food")).toDF("gid", "gname"),
      "product" -> Seq((11L, "food", "a"), (13L, "ghost", "b"),
        (14L, "toys", null)).toDF("pid", "gname", "sku"))
    val out = ImportJob.run(
      Seq(
        TableSpec("grp", keys = Seq("gid")),
        TableSpec("product", keys = Seq("pid"),
          // a rowRules reject (null sku) quarantines BEFORE resolve;
          // the fk gate quarantines AFTER — both land in one frame
          rowRules = Seq("sku_present" -> col("sku").isNotNull),
          preResolve = (df, lookup) => df
            .join(lookup("grp"), Seq("gname"), "left")
            .select("pid", "gid", "sku"),
          fkGate = Some(FkGate(Seq("gid"), FkQuarantine)))),
      dest, incoming, Map("product" -> Set("grp")))
    assert(out("product").orderBy("pid").select("pid").as[Long].collect()
      === Array(10L, 11L))
    val q = out("product__quarantined").orderBy("pid")
      .select("pid", "quarantine_reason").as[(Long, String)].collect()
    assert(q === Array((13L, "unresolved:gid"), (14L, "sku_present")))
  }

  test("insertOnly keeps destination rows untouched and appends new keys") {
    val d = Seq((1, "a")).toDF("id", "v")
    val in = Seq((1, "CHANGED"), (2, "new")).toDF("id", "v")
    val out = ImportJob.run(
      Seq(TableSpec("region", keys = Seq("id"), mode = InsertOnly)),
      _ => d, _ => in)("region").orderBy("id").as[(Int, String)].collect()
    assert(out === Array((1, "a"), (2, "new")))
  }

  test("driftChecks surface a value re-scale as <table>__drift; failOnAlarm gates") {
    val d = (1 to 1000).map(i => (i.toLong, (i % 300).toDouble)).toDF("id", "price")
    // row-complete sync, every key intact — but prices tripled
    val in = (1 to 1000).map(i => (i.toLong, (i % 300) * 3.0)).toDF("id", "price")
    val bounds = Seq(100.0, 200.0, 300.0)
    val out = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"),
        driftChecks = Seq(DriftCheck("price", bounds)))),
      _ => d, _ => in)
    val drift = out("part__drift")
    assert(drift.columns.toSeq ===
      Seq("column", "bucket", "n_old", "n_new", "psi_ppm"))
    val total = drift.agg(org.apache.spark.sql.functions.sum("psi_ppm"))
      .head.getLong(0)
    assert(total >= 250000L, s"re-scale must score as shifted, got $total ppm")

    // the same sync with failOnAlarm fails the job loudly
    val ex = intercept[IllegalStateException] {
      ImportJob.run(
        Seq(TableSpec("part", keys = Seq("id"),
          driftChecks = Seq(DriftCheck("price", bounds, failOnAlarm = true)))),
        _ => d, _ => in)
    }
    assert(ex.getMessage.contains("part.price"))

    // a value-stable sync passes the same gate quietly
    val stable = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"),
        driftChecks = Seq(DriftCheck("price", bounds, failOnAlarm = true)))),
      _ => d, _ => d.withColumn("price", $"price" + 0.1))
    assert(stable("part__drift").agg(
      org.apache.spark.sql.functions.sum("psi_ppm")).head.getLong(0) < 100000L)

    // a FIRST import (empty destination) must not trip the gate: there
    // is no distribution to drift from, and smoothed PSI vs emptiness
    // would alarm on any non-uniform incoming column
    val first = ImportJob.run(
      Seq(TableSpec("part", keys = Seq("id"),
        driftChecks = Seq(DriftCheck("price", bounds, failOnAlarm = true)))),
      _ => d.filter($"id" < 0), _ => in)
    assert(first("part").count() === 1000L)
    assert(!first.contains("part__drift")) // no check ran, no frame
  }

  test("strictKeyMatching prunes the FkLadder to the primary-key rung; " +
    "loose mode falls through ID -> number -> name (the reference's " +
    "UseStrictPrimaryKeyMatching switch)") {
    // products merged BY THIS JOB: dest P1/P2 plus an incoming P3 — the
    // ladder must see the post-merge state (the OrderTablesInJob proof)
    val destProducts = Seq(("P1", "N1", "Alpha"), ("P2", "N2", "Beta"))
      .toDF("pid", "pnum", "pname")
    val inProducts = Seq(("P3", "N3", "Gamma")).toDF("pid", "pnum", "pname")
    // refs: one real pid, one number, one name (of the JUST-merged P3),
    // one unresolvable
    val inOrders = Seq((1L, "P1"), (2L, "N2"), (3L, "Gamma"), (4L, "nope"))
      .toDF("oid", "ref")
    // the destination carries the resolved column (the merge keeps
    // destination columns; incoming-only columns die at the merge)
    val destOrders = Seq.empty[(Long, String, String)]
      .toDF("oid", "ref", "resolved_pid")
    def specs(strict: Boolean) = Seq(
      TableSpec("products", keys = Seq("pid")),
      TableSpec("orders", keys = Seq("oid"), strictKeyMatching = strict,
        resolve = Seq(FkLadder("products",
          Seq("ref" -> "pid", "ref" -> "pnum", "ref" -> "pname"),
          "pid" -> "resolved_pid"))))
    def deps = Map("orders" -> Set("products"))

    val loose = ImportJob.run(specs(strict = false),
      dest = Map("products" -> destProducts, "orders" -> destOrders),
      incoming = Map("products" -> inProducts, "orders" -> inOrders),
      deps = deps)("orders")
      .select("oid", "resolved_pid").orderBy("oid")
      .as[(Long, Option[String])].collect()
    assert(loose === Array((1L, Some("P1")), (2L, Some("P2")),
      (3L, Some("P3")), (4L, None)))

    val strict = ImportJob.run(specs(strict = true),
      dest = Map("products" -> destProducts, "orders" -> destOrders),
      incoming = Map("products" -> inProducts, "orders" -> inOrders),
      deps = deps)("orders")
      .select("oid", "resolved_pid").orderBy("oid")
      .as[(Long, Option[String])].collect()
    // strict (the reference default): ONLY the pid rung resolves
    assert(strict === Array((1L, Some("P1")), (2L, None),
      (3L, None), (4L, None)))
  }

  test("partialUpdate leaves non-imported parents' rows untouched where " +
    "a full sync deletes them (the reference's PartialUpdate switch)") {
    val destProducts = Seq(("P1", "a"), ("P2", "b"), ("P3", "c"))
      .toDF("pid", "pname")
    // import touches ONLY P1 and P2
    val inProducts = Seq(("P1", "a2"), ("P2", "b2")).toDF("pid", "pname")
    val destRels = Seq(("P1", 10L), ("P1", 11L), ("P2", 20L), ("P3", 30L))
      .toDF("pid", "rid")
    val inRels = Seq(("P1", 10L)).toDF("pid", "rid")
    def run(partial: Boolean, removeMissing: Boolean = false) = ImportJob.run(
      Seq(
        TableSpec("products", keys = Seq("pid")),
        TableSpec("rels", keys = Seq("pid", "rid"), deleteExcess = true,
          partialUpdate = if (partial)
            Some(ParentScope("products", Seq("pid"), Seq("pid")))
          else None)),
      dest = Map("products" -> destProducts, "rels" -> destRels),
      incoming = Map("products" -> inProducts, "rels" -> inRels),
      deps = Map("rels" -> Set("products")),
      removeMissing = removeMissing)("rels")
      .orderBy("pid", "rid").as[(String, Long)].collect()

    // full sync: every relation missing from the batch dies — P3's too
    assert(run(partial = false) === Array(("P1", 10L)))
    // partial update: P3 was not imported, so its relation SURVIVES;
    // P1/P2 were imported, so their stale relations still die
    assert(run(partial = true) === Array(("P1", 10L), ("P3", 30L)))
    // same contract through the deferred (removeMissing) path
    assert(run(partial = true, removeMissing = true) ===
      Array(("P1", 10L), ("P3", 30L)))
  }

  test("ignoreEmptyIn drops null/empty-valued batch rows so existing " +
    "destination values survive (IgnoreEmptyCategoryFieldValues, " +
    "EcomProvider.cs:257 / EcomDestinationWriter.cs:1494)") {
    val destVals = Seq(("P1", "color", "red"), ("P2", "color", "blue"))
      .toDF("pid", "field", "value")
    // the feed wipes P1's color to "" and P2's to null, and adds P3
    val inVals = Seq(("P1", "color", ""), ("P2", "color", null),
      ("P3", "color", "green")).toDF("pid", "field", "value")
    def run(ignore: Boolean) = ImportJob.run(
      Seq(TableSpec("vals", keys = Seq("pid", "field"),
        ignoreEmptyIn = if (ignore) Seq("value") else Nil)),
      dest = Map("vals" -> destVals), incoming = Map("vals" -> inVals),
      deps = Map.empty[String, Set[String]])("vals")
      .orderBy("pid").as[(String, String, String)].collect()
    // OFF (reference default): the empty string OVERWRITES (null never
    // does — Merge.upsert's existing keep-on-null contract)
    assert(run(ignore = false) === Array(("P1", "color", ""),
      ("P2", "color", "blue"), ("P3", "color", "green")))
    // ON: the empty/null rows never enter the batch — old values survive
    assert(run(ignore = true) === Array(("P1", "color", "red"),
      ("P2", "color", "blue"), ("P3", "color", "green")))
  }

  test("partialUpdate ALONE (deleteExcess=false) arms the scoped delete, " +
    "like the reference firing DeleteExcessFromGroupProductRelation " +
    "whenever PartialUpdate is set (EcomDestinationWriter.cs:3214)") {
    val destProducts = Seq(("P1", "a"), ("P2", "b"), ("P3", "c"))
      .toDF("pid", "pname")
    val inProducts = Seq(("P1", "a2"), ("P2", "b2")).toDF("pid", "pname")
    val destRels = Seq(("P1", 10L), ("P1", 11L), ("P2", 20L), ("P3", 30L))
      .toDF("pid", "rid")
    val inRels = Seq(("P1", 10L)).toDF("pid", "rid")
    def run(removeMissing: Boolean) = ImportJob.run(
      Seq(
        TableSpec("products", keys = Seq("pid")),
        TableSpec("rels", keys = Seq("pid", "rid"),
          partialUpdate = Some(ParentScope("products", Seq("pid"), Seq("pid"))))),
      dest = Map("products" -> destProducts, "rels" -> destRels),
      incoming = Map("products" -> inProducts, "rels" -> inRels),
      deps = Map("rels" -> Set("products")),
      removeMissing = removeMissing)("rels")
      .orderBy("pid", "rid").as[(String, Long)].collect()
    // identical outcome to deleteExcess=true + partialUpdate: imported
    // parents' stale relations die, non-imported P3's survives
    assert(run(removeMissing = false) === Array(("P1", 10L), ("P3", 30L)))
    assert(run(removeMissing = true) === Array(("P1", 10L), ("P3", 30L)))
  }

  test("partialUpdate with nothing staged for the parent deletes nothing " +
    "(the HasRowsToImport guard) and composes with deleteExcessScope") {
    val destRels = Seq(("P1", 10L, "en"), ("P1", 11L, "en"), ("P1", 12L, "fr"),
      ("P3", 30L, "en")).toDF("pid", "rid", "lang")
    val inRels = Seq(("P1", 10L, "en")).toDF("pid", "rid", "lang")
    // parent table absent from the job entirely -> parent staged nothing
    val noParent = ImportJob.run(
      Seq(TableSpec("rels", keys = Seq("pid", "rid"), deleteExcess = true,
        partialUpdate = Some(ParentScope("products", Seq("pid"), Seq("pid"))))),
      dest = Map("rels" -> destRels),
      incoming = Map("rels" -> inRels),
      deps = Map.empty[String, Set[String]])("rels")
    assert(noParent.count() === 4L)

    // scoped + partial: only the imported scope AND imported parents die
    val destProducts = Seq(("P1", "a"), ("P3", "c")).toDF("pid", "pname")
    val inProducts = Seq(("P1", "a2")).toDF("pid", "pname")
    val out = ImportJob.run(
      Seq(
        TableSpec("products", keys = Seq("pid")),
        TableSpec("rels", keys = Seq("pid", "rid"), deleteExcess = true,
          deleteExcessScope = Seq("lang"),
          partialUpdate = Some(ParentScope("products", Seq("pid"), Seq("pid"))))),
      dest = Map("products" -> destProducts, "rels" -> destRels),
      incoming = Map("products" -> inProducts, "rels" -> inRels),
      deps = Map("rels" -> Set("products")))("rels")
      .orderBy("pid", "rid").as[(String, Long, String)].collect()
    // (P1,11,en): imported parent + imported scope -> dies.
    // (P1,12,fr): scope fr not in the batch -> survives.
    // (P3,30,en): parent P3 not imported -> survives under partialUpdate.
    assert(out === Array(("P1", 10L, "en"), ("P1", 12L, "fr"), ("P3", 30L, "en")))
  }

  test("partialUpdate whose parent table is ordered AFTER the child deletes " +
    "nothing inline: the parent has not staged yet") {
    val destProducts = Seq(("P1", "a"), ("P3", "c")).toDF("pid", "pname")
    val inProducts = Seq(("P1", "a2")).toDF("pid", "pname")
    val destRels = Seq(("P1", 10L), ("P1", 11L), ("P3", 30L)).toDF("pid", "rid")
    val inRels = Seq(("P1", 10L)).toDF("pid", "rid")
    def run(removeMissing: Boolean) = ImportJob.run(
      Seq(
        TableSpec("products", keys = Seq("pid")),
        TableSpec("rels", keys = Seq("pid", "rid"), deleteExcess = true,
          partialUpdate = Some(ParentScope("products", Seq("pid"), Seq("pid"))))),
      dest = Map("products" -> destProducts, "rels" -> destRels),
      incoming = Map("products" -> inProducts, "rels" -> inRels),
      // orders rels before products
      deps = Map("products" -> Set("rels")),
      removeMissing = removeMissing)("rels")
      .orderBy("pid", "rid").as[(String, Long)].collect()
    assert(run(removeMissing = false) === Array(("P1", 10L), ("P1", 11L), ("P3", 30L)))
    // deferred deletes run after every table staged, products included
    assert(run(removeMissing = true) === Array(("P1", 10L), ("P3", 30L)))
  }

  test("a failing FkFail gate stops the job: a later, independent table " +
    "never stages and pins nothing") {
    import org.apache.spark.sql.execution.LogicalRDD
    val laterPre = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = Some(FkGate(Seq("ref")))
    val specs = Seq(
      TableSpec("failing", keys = Seq("id"), fkGate = gate),
      TableSpec("later", keys = Seq("id"), fkGate = gate, deleteExcess = true,
        pre = df => { laterPre.incrementAndGet(); df }))
    val dest = Map(
      "failing" -> Seq((1L, Option(1L))).toDF("id", "ref"),
      "later" -> Seq((1L, Option(1L))).toDF("id", "ref"))
    val incoming = Map(
      "failing" -> Seq((2L, Option.empty[Long])).toDF("id", "ref"),
      "later" -> Seq((2L, Option(2L))).toDF("id", "ref"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ex = intercept[FkViolationException](
      ImportJob.run(specs, dest, incoming, deps = Map.empty[String, Set[String]]))
    assert(ex.table === "failing")
    assert(laterPre.get === 0)
    // the only new pin is the failing gate's own batch, which ex.rows reads
    val gatePin = ex.rows.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id }.toSet
    assert(gatePin.size === 1)
    assert(sc.getPersistentRDDs.keySet -- before -- gatePin === Set.empty)
    assert(ex.rows.count() === 1L)
  }
}

package graft

import org.apache.spark.sql.types._
import graft.plans.{JobConfig, JobMetrics, SchemaCheck, TableConfig}
import graft.plans.SchemaCheck._

class PlansSpec extends SparkSuite {
  import spark.implicits._

  private val expected = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("SchemaCheck passes compatible frames case-insensitively") {
    val df = Seq((1L, "a")).toDF("ID", "Name")
    assert(SchemaCheck.problems(df, expected).isEmpty)
    SchemaCheck.validate(df, expected) // no throw
  }

  test("SchemaCheck reports every problem at once") {
    val df = Seq((1, "a", true)).toDF("id", "extra", "flag")
    val ps = SchemaCheck.problems(df, expected, allowExtra = false)
    assert(ps.collect { case TypeMismatch("id", _, _) => 1 }.nonEmpty)
    assert(ps.collect { case MissingColumn("name", _) => 1 }.nonEmpty)
    assert(ps.collect { case UnexpectedColumn(n) => n }.toSet === Set("extra", "flag"))
    val err = intercept[IllegalArgumentException] {
      SchemaCheck.validate(df, expected, allowExtra = false)
    }
    assert(err.getMessage.contains("missing column 'name'"))
  }

  test("SurrogateKeys.assign: dense ordered ids, deterministic across calls") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("c", 30.0), ("a", 10.0), ("b", 20.0)).toDF("name", "bal")
    def run() = graft.operators.SurrogateKeys.assign(df, Seq(col("name")), "sk", 100L)
      .collect().map(r => (r.getAs[String]("name"), r.getAs[Long]("sk"))).sortBy(_._2)
    val rows = run()
    assert(rows === Array(("a", 100L), ("b", 101L), ("c", 102L)))
    // the id pass reads the PINNED sorted cache, never a re-executed
    // range exchange — repeated full invocations must agree exactly
    assert(run() === rows)
  }

  test("JobConfig round-trips through JSON and lowers to runnable specs") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType)))
    val cfg = JobConfig(Seq(
      TableConfig("customer", keys = Seq("id"), mode = "upsert",
        dedupKeys = Seq("id"), dedupOrder = Seq("name"),
        deleteExcess = true, deleteExcessScope = Seq("lang"),
        flagMissing = Some("active"), constants = Map("shop" -> "S1"),
        expectSchema = Some(schema.json),
        driftChecks = Seq(graft.plans.DriftCheckConfig(
          "bal", Seq(100.0, 200.0), alarmPpm = 100000L, failOnAlarm = true)),
        fkGate = Some(graft.plans.FkGateConfig(Seq("nid"), "fail", 5))),
      TableConfig("customer", keys = Seq("id"), mode = "upsert",
        sourceName = Some("customer_feed_fr"),
        fkGate = Some(graft.plans.FkGateConfig(Seq("gid"), "quarantine"))),
      TableConfig("relations", keys = Seq("pid", "rid"), deleteExcess = true,
        // the reference's two mode switches are settings-XML fields
        // (UseStrictPrimaryKeyMatching EcomProvider.cs:604/:720,
        // PartialUpdate :264) — they serialize with the job
        resolve = Seq(graft.plans.FkLadderConfig("products",
          Seq(Seq("ref", "pid"), Seq("ref", "pnum"), Seq("ref", "pname")),
          Seq("pid", "resolved_pid"))),
        strictKeyMatching = false,
        partialUpdate = Some(graft.plans.ParentScopeConfig(
          "products", Seq("pid"), Seq("pid"))),
        ignoreEmptyIn = Seq("field_value")),
      TableConfig("nation", keys = Seq("nid"), mode = "insertOnly")),
      removeMissing = true)
    val back = JobConfig.fromJson(JobConfig.toJson(cfg))
    assert(back === cfg)
    assert(back.removeMissing)
    val specs = JobConfig.toSpecs(back)
    assert(specs.head.mode === graft.plans.ImportJob.Upsert)
    assert(specs.head.expectSchema === Some(schema))
    assert(specs.head.driftChecks === Seq(graft.plans.ImportJob.DriftCheck(
      "bal", Seq(100.0, 200.0), 100000L, failOnAlarm = true)))
    assert(specs(1).sourceName === Some("customer_feed_fr"))
    assert(specs(2).resolve === Seq(graft.plans.ImportJob.FkLadder("products",
      Seq("ref" -> "pid", "ref" -> "pnum", "ref" -> "pname"),
      "pid" -> "resolved_pid")))
    assert(!specs(2).strictKeyMatching)
    assert(specs.head.strictKeyMatching) // reference default: strict ON
    assert(specs(2).partialUpdate === Some(graft.plans.ImportJob.ParentScope(
      "products", Seq("pid"), Seq("pid"))))
    assert(specs.head.partialUpdate.isEmpty)
    // IgnoreEmptyCategoryFieldValues is a settings-XML switch in the
    // reference (EcomProvider.cs:670/:729) — it survives the trip
    assert(specs(2).ignoreEmptyIn === Seq("field_value"))
    assert(specs.head.ignoreEmptyIn.isEmpty)
    // a malformed rung fails loudly at lowering time
    val badLadder = graft.plans.FkLadderConfig("d", Seq(Seq("only-one")),
      Seq("a", "b"))
    intercept[IllegalArgumentException](badLadder.toLadder)
    assert(specs(3).mode === graft.plans.ImportJob.InsertOnly)
    assert(specs(3).driftChecks.isEmpty)
    // the strict-FK switch is settings, not code — it survives the trip
    assert(specs.head.fkGate === Some(graft.plans.ImportJob.FkGate(
      Seq("nid"), graft.plans.ImportJob.FkFail, 5)))
    assert(specs(1).fkGate === Some(graft.plans.ImportJob.FkGate(
      Seq("gid"), graft.plans.ImportJob.FkQuarantine, 20)))
    assert(specs(2).fkGate.isEmpty)
    // an unknown policy string fails loudly at lowering time
    val bad = graft.plans.FkGateConfig(Seq("x"), "create")
    val e = intercept[IllegalArgumentException](bad.toGate)
    assert(e.getMessage.contains("unknown fk policy"))
  }

  test("JobConfig.drift reports added/removed/retyped; overwriteToOriginal undoes drift") {
    val original = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("qty", IntegerType)))
    val drifted = Seq((1, "a", "extra")).toDF("id", "name", "note") // qty gone, note added, id retyped
    val d = JobConfig.drift(original, drifted.schema)
    assert(d.added === Seq("note"))
    assert(d.removed === Seq("qty"))
    assert(d.retyped === Seq(("id", "bigint", "int")))
    assert(d.describe.contains("retyped"))

    val conformed = JobConfig.overwriteToOriginal(drifted, original)
    assert(conformed.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      original.fields.map(f => (f.name, f.dataType)).toSeq)
    val row = conformed.as[(Option[Long], Option[String], Option[Int])].head()
    assert(row === ((Some(1L), Some("a"), None)))
    assert(JobConfig.drift(original, conformed.schema).isEmpty)
  }

  // ── enforced scale invariants for the expensive family (SURVEY.md §5) ──

  private def docsDf = (0 until 30).map { i =>
    (i.toLong, (0 until 30).map(j => s"w${(i * 5 + j * 11) % 83}").mkString(" "))
  }.toDF("doc_id", "text")

  private def shuffleKeys(df: org.apache.spark.sql.DataFrame): Seq[String] =
    "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSeq

  test("LSH candidate stage: ONE bucket-key shuffle + one pair-dedup shuffle") {
    val cand = graft.dedup.NearDup.minhashCandidates(docsDf, "doc_id", "text")
    val keys = shuffleKeys(cand)
    assert(keys.length === 2, cand.queryExecution.executedPlan.toString)
    assert(keys.count(k => k.contains("bucket")) === 1, keys)
    assert(keys.count(k => k.contains("id_a") && k.contains("id_b")) === 1, keys)
  }

  test("decontamination: benchmark broadcast, zero corpus-side shuffle") {
    val bench = docsDf.filter($"doc_id" % 10 === 0)
    val ov = graft.dedup.Decontaminate.overlaps(
      docsDf.filter($"doc_id" % 10 =!= 0), bench, "doc_id", "text", n = 5)
    val plan = ov.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val keys = shuffleKeys(ov)
    // the only shuffle is the post-join aggregate over MATCHED rows —
    // the corpus reaches the broadcast join without any Exchange
    assert(keys.length === 1 && keys.head.contains("corpus_id"), plan)
  }

  test("prototype pruning: the ONLY exchange is the per-cell window key") {
    import org.apache.spark.sql.functions.{col, lit}
    val emb = spark.range(0, 200).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array(
        (col("id") % 7).cast("float"), lit(1f)).as("embedding"))
    val cents: graft.similarity.Knn.Centroids =
      Array(1 -> Array(0f, 1f), 2 -> Array(6f, 1f))
    val out = graft.similarity.Prune.byPrototypicality(
      emb, "embedding", cents, keepBp = 3000, keepHardest = true)
    // assignment + dist² are a literal-folded pure map: everything up
    // to the rank must ride ONE hash exchange on centroid_id (the IVF
    // layout key) — a join against the centroid table or a second
    // shuffle would break the 100 TB shape
    val keys = shuffleKeys(out)
    assert(keys.length === 1 && keys.head.contains("centroid_id"),
      out.queryExecution.executedPlan.toString)
  }

  test("PQ encode is a pure map; ADC search broadcasts probes, one window key") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    val emb = (0L until 64L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val co = graft.similarity.Knn.trainCentroids(emb, 4, 1)
    val bk = graft.similarity.Pq.trainCodebooks(
      graft.similarity.Pq.residualFrame(emb, co), m = 2, subDim = 4, k = 4, iters = 1)
    // the index build (assign + residual + codes) must never shuffle —
    // at 100 TB it is the only full-corpus pass
    val enc = graft.similarity.Pq.encodeCorpus(emb, co, bk, subDim = 4)
    assert(!enc.queryExecution.executedPlan.toString.contains("Exchange"),
      enc.queryExecution.executedPlan.toString)
    // search: probes (queries × nProbe, carrying the LUT) broadcast to
    // the codes; the only hash exchange is the per-query top-k window
    val top = graft.similarity.Pq.ivfpqTopK(emb, emb.filter(col("vec_id") < 2),
      co, bk, subDim = 4, k = 3, nProbe = 2)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val keys = shuffleKeys(top)
    assert(keys.length === 1 && keys.head.contains("query_id"), plan)
  }

  test("kneser-ney: every exchange keys on a trigram subset or the doc") {
    val out = graft.pipelines.Lexical.kneserNeyLogloss(docsDf, "doc_id", "text")
    val keys = shuffleKeys(out)
    // all smoothing statistics are grouped counts over trigram-key
    // subsets; a key outside {doc_id, w1, w2, w3} (or an unbounded
    // count_distinct expand) would be a new scale liability
    assert(keys.nonEmpty && keys.forall(k =>
      Seq("doc_id", "w1", "w2", "w3").exists(k.contains)), keys)
    // the initial plan re-expands the shared tf/c3/cont23 frames per
    // consumer (their reuse-shaping filters make the copies canonically
    // identical, so AQE stage-reuse executes each once — round 14);
    // the scale invariant is the number of DISTINCT exchange levels,
    // not the copy count
    val distinctLevels = keys.map(_.replaceAll("#\\d+", "")).distinct
    assert(distinctLevels.length <= 8,
      s"${distinctLevels.length} distinct exchange levels: $distinctLevels")
    // loose ABSOLUTE cap too (round-14 advice): if a future change
    // breaks canonical-subtree identity, AQE stage reuse stops firing
    // and the raw copy count re-expands well past this bound — the
    // distinct-level guard alone would not notice the 8x-scan return
    assert(keys.length <= 40, s"${keys.length} raw exchanges: $keys")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "count_distinct expand crept in")
  }

  test("temperature sampling: quotas ride a literal CASE, one window exchange") {
    import org.apache.spark.sql.functions.col
    val docs = spark.range(0, 500).selectExpr("id AS doc_id",
      "CASE WHEN id % 5 = 0 THEN 'fr' ELSE 'en' END AS lang")
    val out = graft.pipelines.Mixture.temperatureSample(
      docs, "lang", "doc_id", budget = 50L,
      (col("doc_id") % 1048573L) * 2654435761L % 1000000L)
    // the quota table folds back as a literal CASE — the keep pass must
    // NOT join against the counts frame; its one exchange is the
    // per-group rank window
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    val keys = shuffleKeys(out)
    assert(keys.length === 1 && keys.head.contains("lang"), plan)
  }

  test("DSIR scoring pass is shuffle-free (row-local folds + literal weights)") {
    val target = docsDf.filter($"doc_id" % 10 === 0)
    val scored = graft.pipelines.Dsir.importanceScores(
      docsDf, target, "doc_id", "text", nBuckets = 16)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("quality classifier scoring pass is shuffle-free like DSIR's") {
    import org.apache.spark.sql.functions.col
    val scored = graft.pipelines.QualityClassifier.scoresByFlag(
      docsDf, col("doc_id") % 10 === 0, "doc_id", "text", nBuckets = 16)
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("best-fit packing: ONE exchange, keyed on the pack group") {
    import org.apache.spark.sql.functions.{col, length}
    val df = docsDf.select(col("doc_id"),
      (col("doc_id") % 3).as("grp"), length(col("text")).cast("long").as("len"))
    val out = graft.pipelines.Pack.bestFit(df, Seq("grp"), "len",
      Seq(col("doc_id")), 10000L)
    val plan = out.queryExecution.executedPlan.toString
    // the typed machine shuffles once on the group key (groupByKey's
    // serialized key column) and nothing else
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges === 1, plan)
  }

  test("bpe segmenting the corpus is a pure map over the doc scan") {
    val out = graft.pipelines.Bpe.tokenCount(docsDf, "doc_id", "text",
      Seq("w" -> "1", "w1" -> "</w>"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("span dedup: every exchange is keyed on the span text or the doc id") {
    val out = graft.dedup.SpanDedup.dedupSpans(docsDf, "doc_id", "text", n = 4)
    val keys = shuffleKeys(out)
    assert(keys.nonEmpty && keys.forall(k =>
      k.contains("span") || k.contains("__id")), keys)
    assert(keys.length <= 4, keys) // winner agg + join back + doc reassembly
  }

  test("vocab coverage: distributed top-V, vocabulary broadcast to the tf side") {
    val out = graft.pipelines.Lexical.vocabCoverage(docsDf, "doc_id", "text", 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan) // never a global sort
    assert(plan.contains("BroadcastHashJoin"), plan)     // V-row vocab side
  }

  test("ndcg: both top-k selections distribute, label side joins broadcast") {
    val df = graft.pipelines.Lexical.ndcgAtK(docsDf, "doc_id", "text",
      Seq("the"), k = 10)
    val plan = df.queryExecution.executedPlan.toString
    // ranked top-k AND ideal top-k: per-partition partial top-k, never
    // a single-task global sort of the corpus
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort [rel"), plan)
  }

  test("rolling-active: bounded offset explode, never a data-sized range window") {
    val df = SparkEntry.queries("q_rolling_active")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan) // the ×7 fan replaces any frame
    assert(plan.contains("Expand") || plan.contains("Generate"), plan)
  }

  test("event paths: both lags share ONE window exchange") {
    val df = SparkEntry.queries("q_event_paths")(spark, sf)
    val keys = shuffleKeys(df)
    assert(keys.count(_.contains("user_id")) === 1, keys)
  }

  test("last-touch attribution rides the as-of carry: no join operator") {
    val df = SparkEntry.queries("q_attribution_last_touch")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("propensity matching rides the as-of carry: never treated x control") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 200L).map(i => (i, s"s${i % 4}", (i * 7 % 997),
      i % 3 == 0, i * 11 % 1000)).toDF("id", "st", "s", "tr", "y")
    val out = graft.operators.Causal.propensityMatch(df, "id", "st", "s",
      "tr", "y", caliper = 100L)
    val plan = out.queryExecution.executedPlan.toString
    // the match itself is the union-sort carry — no join operator may
    // touch anything row-sized (a nested loop here is the O(n·m) cliff)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // exchanges: the controls dedup (st, s) + the as-of carry (st)
    val keys = shuffleKeys(out)
    assert(keys.length <= 2, keys)
    assert(keys.exists(_.contains("st")), keys)
  }

  test("poisson bootstrap: replicate sums combine map-side, tiny shuffles only") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 500L).map(i => (s"g${i % 3}", i, i % 100))
      .toDF("g", "id", "v")
    val out = graft.operators.Stats.poissonBootstrap(df, "g", "id", "v", b = 30)
    val plan = out.queryExecution.executedPlan.toString
    // the explode happens BEFORE the first exchange and the per-
    // (group, replicate) aggregate is partial — only B·|groups| rows
    // ever shuffle
    assert(plan.contains("Generate"), plan)
    val keys = shuffleKeys(out)
    assert(keys.exists(k => k.contains("g") && k.contains("__b")), keys)
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      plan)
  }

  test("IVF centroid assignment is a pure map: zero exchanges") {
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("vec_id", "embedding")
    val cents = graft.similarity.Knn.trainCentroids(vecs, nCentroids = 2, iters = 1)
    val plan = graft.similarity.Knn.assign(vecs, cents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("IVF probe: probes broadcast, corpus never shuffles before the join") {
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("vec_id", "embedding")
    val cents = graft.similarity.Knn.trainCentroids(vecs, nCentroids = 2, iters = 1)
    val probe = graft.similarity.Knn.ivfTopK(vecs, vecs.filter($"vec_id" < 3), cents,
      k = 2, nProbe = 1)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val keys = shuffleKeys(probe)
    // the only shuffle feeds the per-query top-k window — keyed on
    // query_id, bounded by |queries|·bucket size, never corpus-wide
    assert(keys.length === 1 && keys.head.contains("query_id"), plan)
  }

  test("as-of join: one keyed shuffle, no join operator, no pair explosion") {
    import org.apache.spark.sql.functions.col
    val l = (1L to 50L).map(i => (i % 5, i.toInt, s"e$i")).toDF("k", "t", "name")
    val r = (1L to 20L).map(i => (i % 5, i.toInt * 2, i.toDouble)).toDF("k", "t", "price")
    val out = graft.operators.AsOf.joinAsOf(l, r, Seq("k"), "t", Seq("price"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan) // union-sort carry, not a join at all
    assert(shuffleKeys(out).length === 1, plan)
  }

  test("PIT join rides the as-of shape: one keyed shuffle, no join operator") {
    import org.apache.spark.sql.functions.col
    val fact = (1L to 60L).map(i => (i % 6, i.toInt, s"o$i")).toDF("k", "t", "name")
    val dim = (0L until 6L).flatMap(k => Seq((k, 0, Option(50), s"v1-$k"),
      (k, 50, Option.empty[Int], s"v2-$k"))).toDF("k", "valid_from", "valid_to", "seg")
    val out = graft.operators.Scd.pitJoin(fact, dim, Seq("k"), "t", Seq("seg"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan) // union-sort carry, never a version fanout
    assert(shuffleKeys(out).length === 1, plan)
  }

  test("resample: every exchange is keyed, the fill is join-free") {
    import org.apache.spark.sql.functions.col
    val obs = (1L to 200L).map(i => (i % 8, (i * 37 % 5000).toInt, i.toDouble))
      .toDF("k", "t", "v")
    val out = graft.operators.Resample.forwardFill(obs, "k", "t", "v", 100L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    val keys = shuffleKeys(out)
    assert(keys.nonEmpty && keys.forall(_.contains("key")), s"$keys\n$plan")
  }

  test("SemDeDup pairs within cells via an equi join, never a nested loop") {
    val vecs = (0L until 24L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("vec_id", "embedding")
    val cents = graft.similarity.Knn.trainCentroids(vecs, nCentroids = 4, iters = 1)
    val out = graft.similarity.SemDedup.dedup(vecs, cents, minCosine = 0.9)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("range join plans as a hash join on buckets, not a nested loop") {
    import org.apache.spark.sql.functions.col
    val l = (1L to 100L).map(i => (i, i * 7 % 100)).toDF("id", "v")
    val r = Seq((0L, 30L, "a"), (30L, 60L, "b"), (60L, 100L, "c")).toDF("lo", "hi", "band")
    val out = graft.operators.RangeJoin.byBucket(l, r, "v", "lo", "hi", 25L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
    assert(plan.contains("Join"), plan) // equi join on the bucket id
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Spark 4 injects a bloom-filter runtime filter on the fact side of a
    // shuffle join whose dim side is selectively filtered — at cluster
    // scale this prunes fact rows BEFORE the shuffle. The default
    // application-side threshold (10 GB scan) is exactly right for 100 TB
    // and never fires on test data, so this test lowers the thresholds to
    // prove the engine's sessions get the rewrite when sizes warrant it.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.get(k))
    try {
      conf.set(keys(0), "-1") // force a shuffle join: bloom needs non-broadcast
      conf.set(keys(1), "0")
      val orders = graft.sources.Tables.load(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val li = graft.sources.Tables.load(spark, sf, "lineitem")
      val plan = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), plan)
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("capstone TrainingData.prepare executes a bounded number of distinct shuffles") {
    // The capstone composes clean → decontaminate → sample → split → pack
    // with materialize-then-release stage boundaries. Its cost model is
    // "sum of the audited parts" — which holds only if composition adds
    // no hidden exchanges. This counts DISTINCT shuffle dependencies
    // actually executed end-to-end (listener on shuffleDepId) and bounds
    // them: the pipeline's keyed operations (normalized dedup, LSH bucket
    // + pair + cluster stages, decontaminate agg, per-source packing
    // window) plus one small agg per stage-metric count. A regression
    // that, say, loses a broadcast to a shuffle join or re-sorts per
    // stage shows up as extra dependencies here.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val bench = docs.filter($"doc_id" % 25 === 0).select($"doc_id", $"text")
    val rates = docs.select("source").distinct().as[String].collect()
      .map(_ -> 1.0).toMap
    val shuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        org.apache.spark.sql.graftbridge.bridge.shuffleDepId(s.stageInfo)
          .foreach(id => shuffles.add(id))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (out, _) = graft.pipelines.TrainingData.prepare(docs, bench,
        graft.pipelines.TrainingData.Config(rates = rates, packBudget = 128))
      out.write.mode("overwrite").format("noop").save()
      out.unpersist()
      org.apache.spark.sql.graftbridge.bridge.waitListenerBusEmpty(spark.sparkContext)
      info(s"capstone distinct shuffles: ${shuffles.size}")
      assert(shuffles.size <= 24, s"capstone shuffle count grew: ${shuffles.size}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("composed ecom job executes within its shuffle budget") {
    // q_ecom_job composes the whole RunJob loop (4 staged merges with
    // quarantine, FK resolution, scoped deletes, surrogate ids,
    // relation cleanup, assortment rebuild, 5 checksums). Its cost
    // model is "sum of the audited parts": this pins the end-to-end
    // distinct-shuffle count so a composition regression (a lost
    // broadcast, a re-sort per table) surfaces as a failing invariant,
    // exactly like the TrainingData capstone above.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val shuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        org.apache.spark.sql.graftbridge.bridge.shuffleDepId(s.stageInfo)
          .foreach(id => shuffles.add(id))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q_ecom_job")(spark, sf)
        .write.mode("overwrite").format("noop").save()
      org.apache.spark.sql.graftbridge.bridge.waitListenerBusEmpty(spark.sparkContext)
      info(s"ecom job distinct shuffles: ${shuffles.size}")
      // measured 47 on introduction (round 8): ~12 per staged table —
      // incoming dedup, merge join, scoped anti-join delete, FK
      // resolution, checksum agg — plus the assortment rebuild and the
      // surrogate range exchange; the ceiling catches growth, the
      // measurement documents the composition cost
      assert(shuffles.size <= 50, s"ecom job shuffle count grew: ${shuffles.size}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("basket affinity executes within its shuffle budget (baskets, pairs, supports)") {
    // the in-basket shape's claim: ONE keyed shuffle for baskets, one
    // per aggregate downstream, support joins broadcast — a regression
    // to the self-join form would re-shuffle the (order, part) table
    // and show up as extra dependencies here
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val shuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        org.apache.spark.sql.graftbridge.bridge.shuffleDepId(s.stageInfo)
          .foreach(id => shuffles.add(id))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries("q_basket_affinity")(spark, sf)
        .write.mode("overwrite").format("noop").save()
      org.apache.spark.sql.graftbridge.bridge.waitListenerBusEmpty(spark.sparkContext)
      info(s"basket affinity distinct shuffles: ${shuffles.size}")
      assert(shuffles.size <= 4, s"basket shuffle count grew: ${shuffles.size}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // Plan walkers for the item-neighbour guards: `planKids` looks through
  // adaptive wrappers and query stages; `ranKids` also stops at a reused
  // exchange, so the nodes it reaches are the ones that actually run.
  private def planKids(p: org.apache.spark.sql.execution.SparkPlan, throughReuse: Boolean = true)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => if (throughReuse) Seq(r.child) else Nil
      case _ => p.children
    }
  }
  private def ranNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: planKids(p, throughReuse = false).flatMap(ranNodes)

  test("item-neighbour upkeep over a stored pair table: one fold join, and each pair " +
    "scored once below the explode that emits both directions") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.similarity.ItemSim
    val rnd = new scala.util.Random(41)
    val base = (for (u <- 1L to 30L; i <- 1L to 20L if rnd.nextInt(3) == 0)
      yield (u, i, 1L + rnd.nextInt(5))).toSeq
    val oldChanged = base.filter(_._1 <= 3L)
    val newChanged = base.filter(r => r._1 <= 3L && r._2 != 5L) ++ Seq((2L, 40L, 9L), (31L, 7L, 1L))
    val dir = java.nio.file.Files.createTempDirectory("itemsim-plan").toString
    val (p0, i0) = ItemSim.counts(base.toDF("u", "i", "s"), "u", "i", "s", 6)
    p0.write.parquet(s"$dir/pairs")
    i0.write.parquet(s"$dir/items")
    val (pm, im) = ItemSim.maintainCounts(spark.read.parquet(s"$dir/pairs"),
      spark.read.parquet(s"$dir/items"), oldChanged.toDF("u", "i", "s"),
      newChanged.toDF("u", "i", "s"), "u", "i", "s", 6)
    val out = ItemSim.neighborsFromCounts(pm, im, 3)
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan // the final adaptive plan
    def scanOf(table: String)(p: SparkPlan) = p match {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.getName == table)
      case _ => false
    }
    def reads(p: SparkPlan, leaf: SparkPlan => Boolean): Boolean =
      leaf(p) || planKids(p).exists(reads(_, leaf))
    // every root-to-scan path of the pair table, root first
    def paths(p: SparkPlan): Seq[List[SparkPlan]] =
      if (scanOf("pairs")(p)) Seq(List(p)) else planKids(p).flatMap(paths(_).map(p :: _))
    val pairPaths = paths(plan)
    assert(pairPaths.nonEmpty, plan)
    for (path <- pairPaths) {
      // the fold's join and the rank's exchange: nothing else re-shuffles the pairs
      assert(path.count(_.isInstanceOf[ShuffleExchangeExec]) <= 2, plan)
      // the two item-size joins score the (lo, hi) pair once, below the
      // single Generate that emits (item, neighbor) and (neighbor, item)
      val gens = path.zipWithIndex.collect { case (_: GenerateExec, d) => d }
      assert(gens.length === 1, plan)
      val itemJoins = path.zip(path.tail).zipWithIndex.collect {
        case ((j: BaseJoinExec, onPath), d)
          if planKids(j).exists(c => (c ne onPath) && reads(c, scanOf("items"))) => d
      }
      assert(itemJoins.length === 2 && itemJoins.forall(_ > gens.head), plan)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("item-neighbour upkeep over the lazy counts aggregate: the pair aggregate, the " +
    "fold join and the cap window each run once") {
    // q_item_neighbors_maintained feeds `counts`' unpersisted aggregate
    // straight into maintainCounts. Every operator over it must run
    // once: a second read of `pairs` (a mirrored scoring, a fold with
    // several pair-side joins) re-aggregates and re-sorts the whole
    // pair table, and reused exchanges hide only the shuffle, not that.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Final}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.similarity.ItemSim
    val rnd = new scala.util.Random(43)
    val base = (for (u <- 1L to 30L; i <- 1L to 20L if rnd.nextInt(3) == 0)
      yield (u, i, 1L + rnd.nextInt(5))).toSeq
    val oldChanged = base.filter(_._1 <= 3L)
    val newChanged = base.filter(r => r._1 <= 3L && r._2 != 5L) ++ Seq((2L, 40L, 9L), (31L, 7L, 1L))
    val (p0, i0) = ItemSim.counts(base.toDF("u", "i", "s"), "u", "i", "s", 6)
    val (pm, im) = ItemSim.maintainCounts(p0, i0, oldChanged.toDF("u", "i", "s"),
      newChanged.toDF("u", "i", "s"), "u", "i", "s", 6)
    val out = ItemSim.neighborsFromCounts(pm, im, 3)
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan
    val ran = ranNodes(plan)
    def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.flatMap(_.references.map(_.name))
    val pairAggs = ran.collect {
      case a: HashAggregateExec if names(a.groupingExpressions) == Seq("lo", "hi") &&
        a.aggregateExpressions.exists(e => e.mode == Final && e.aggregateFunction.isInstanceOf[Count]) => a
    }
    assert(pairAggs.length === 1, plan)
    val folds = ran.collect { case j: BaseJoinExec if names(j.leftKeys) == Seq("lo", "hi") => j }
    assert(folds.length === 1, plan)
    def above(p: SparkPlan, target: SparkPlan): Boolean =
      (p eq target) || planKids(p, throughReuse = false).exists(above(_, target))
    assert(ran.count { case g: GenerateExec => above(g, folds.head); case _ => false } === 1,
      plan)
    // both change deltas read the unpinned cap window, whose shuffle
    // runs once (the second read reuses it)
    val capShuffles = ran.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
        (e.outputPartitioning match {
          case h: HashPartitioning => names(h.expressions) == Seq("__side", "u")
          case _ => false
        }) => e
    }
    assert(capShuffles.length === 1, plan)
  }

  test("JobMetrics.observed collects counts during the action") {
    val df = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c")).toDF("id", "name")
    val (obsDf, obs) = JobMetrics.observed(df, "import_customer", Seq("id"))
    obsDf.write.mode("overwrite").format("noop").save()
    val row = obs.get
    assert(row("rows") === 3L)
    assert(row("null_id") === 1L)
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.NearDup
import graft.similarity.Knn
import graft.sources.Tables

/** Scale-ramp smoke: replicate the sf0.1 corpora ×N with shifted ids
  * (unique keys, same content distribution) into /tmp, then time the
  * scale-critical pipelines at 1× and N×. Near-linear growth = the plan
  * shapes hold; superlinear growth = a hidden quadratic/recompute.
  * Prints one line per measurement.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val section = args.drop(1).headOption.getOrElse("all") // all | dedup | relational
    val spark = GraftSession.create(32)
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/graft_scale"

    def replicate(name: String, idCol: String): String = {
      val df = Tables.load(spark, base, name)
      // shift by max(id)+1, not count+1: sparse or non-zero-based ids
      // would otherwise collide across copies, breaking the
      // "unique keys, same distribution" premise of the ramp
      val shift = df.agg(max(col(idCol))).head().getLong(0) + 1L
      val copies = (0 until mult).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * shift)))
      val path = s"$out/$name"
      copies.reduce(_ unionByName _).write.mode("overwrite").parquet(path)
      path
    }
    def time(name: String)(f: => Long): Double = {
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name: $secs%.2f s ($n rows)")
      secs
    }

    if (section == "makesf") {
      // materialize a COMPLETE ×mult dataset directory (every table the
      // registry reads) so graft.Bench can run the heavy queries at a
      // scale where work, not the per-action scheduling floor,
      // dominates — the round-15 core-scaling validation (32 vs 8
      // cores on identical data). Facts replicate with a consistent
      // key shift (orders/lineitem share the ORDERS shift so per-copy
      // join cardinality is preserved); dimensions stay 1× (the 100 TB
      // shape); documents/embeddings/events shift their own ids.
      // Multi-file output also gives the scans real splits — the sf0.1
      // single-row-group files are 1-task scans by construction.
      val dir = s"/tmp/graft_sf_x$mult"
      val ordersShift = Tables.load(spark, base, "orders")
        .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      def replicateWith(name: String, keyCol: String, shift: Long): Unit = {
        val df = Tables.load(spark, base, name)
        (0 until mult).map(i =>
            df.withColumn(keyCol, col(keyCol) + lit(i * shift)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      replicateWith("orders", "o_orderkey", ordersShift)
      replicateWith("lineitem", "l_orderkey", ordersShift)
      Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
          "events" -> "event_id").foreach { case (nm, idc) =>
        val shift = Tables.load(spark, base, nm)
          .agg(max(col(idc))).head().getLong(0) + 1L
        replicateWith(nm, idc, shift)
      }
      Seq("region", "nation", "customer", "supplier", "part").foreach { nm =>
        Tables.load(spark, base, nm).write.mode("overwrite")
          .parquet(s"$dir/$nm.parquet")
      }
      println(s"[scale] makesf: wrote ×$mult dataset to $dir")
    }

    if (section == "all" || section == "dedup") {
      val docs1 = Tables.load(spark, base, "documents")
      val emb1 = Tables.load(spark, base, "embeddings")
      val docsN = spark.read.parquet(replicate("documents", "doc_id"))
      val embN = spark.read.parquet(replicate("embeddings", "vec_id"))
      println(s"[scale] corpora: docs ${docs1.count()} -> ${docsN.count()}, " +
        s"emb ${emb1.count()} -> ${embN.count()}")

      time("minhash 1x")(NearDup.minhashPairs(docs1, "doc_id", "text", threshold = 0.6).count())
      time(s"minhash ${mult}x")(NearDup.minhashPairs(docsN, "doc_id", "text", threshold = 0.6).count())
      time("simhash 1x")(NearDup.simhashPairs(docs1, "doc_id", "text").count())
      time(s"simhash ${mult}x")(NearDup.simhashPairs(docsN, "doc_id", "text").count())
      val q1 = emb1.filter(col("vec_id") < 10)
      time("ivf 1x") {
        val c = Knn.trainCentroids(emb1, 16, 1)
        Knn.ivfTopK(emb1, q1, c, 5, 2).count()
      }
      time(s"ivf ${mult}x") {
        val c = Knn.trainCentroids(embN, 16, 1)
        Knn.ivfTopK(embN, embN.filter(col("vec_id") < 10), c, 5, 2).count()
      }
      time("brute topk 1x")(Knn.bruteForceTopK(emb1, q1, 5).count())
      time(s"brute topk ${mult}x")(
        Knn.bruteForceTopK(embN, embN.filter(col("vec_id") < 10), 5).count())

      // bloom-gated incremental dedup: batch grows ×mult against a FIXED
      // history (the incremental-ingest shape) — cost must scale with the
      // batch; the history contributes one bloom build per call and one
      // column-pruned semi scan for the candidate sliver, never a
      // wholesale aggregate into a join build side
      import graft.operators.Dedup
      val hist = docs1.select(col("text"))
      time("bloom dedup 1x")(
        Dedup.againstHistory(docs1, hist, Seq("text"), 1000000L).count())
      time(s"bloom dedup ${mult}x")(
        Dedup.againstHistory(docsN, hist, Seq("text"), 1000000L).count())
    }

    if (section == "all" || section == "hierarchy") {
      // closure ramp: binary trees of n and mult·n nodes. Depth grows
      // only log(mult), so doubling rounds grow by ~log2(log growth) —
      // near-flat round count with ∝-size per-round work.
      import graft.operators.Hierarchy
      def tree(n: Long) = spark.range(1, n)
        .selectExpr("id AS child", "id DIV 2 AS parent")
      for (n <- Seq(5000L, 5000L * mult)) {
        time(s"closure n=$n")(Pins.scope { p =>
          val cl = Hierarchy.closure(tree(n), "child", "parent")
          val c = cl.count()
          p.release(cl)
          c
        })
      }
    }

    if (section == "all" || section == "frequency") {
      // profiling-family ramp: heavy hitters must stay ∝ input with
      // CONSTANT candidate state (Misra–Gries capacity is fixed, so the
      // candidate set cannot grow with data); collocations ∝ input with
      // vocabulary-bounded aggregate state; top-k per group ∝ input with
      // O(groups × k) shuffle rows.
      import graft.operators.{HeavyHitters, TopK}
      spark.catalog.clearCache()
      val li1 = Tables.load(spark, base, "lineitem")
      val liN = {
        val n = li1.agg(max(col("l_orderkey"))).head.getLong(0) + 1
        (0 until mult).map(i =>
            li1.withColumn("l_orderkey", col("l_orderkey") + lit(i * n)))
          .reduce(_ unionByName _)
      }
      def hotKeyed(df: DataFrame) = df.select(
        when(col("l_orderkey") % 10 < 3, col("l_orderkey") % 7)
          .otherwise(col("l_orderkey")).as("k"))
      time("heavy hitters 1x")(
        HeavyHitters.frequentKeys(hotKeyed(li1), col("k"), 0.001).count())
      time(s"heavy hitters ${mult}x")(
        HeavyHitters.frequentKeys(hotKeyed(liN), col("k"), 0.001).count())
      val docs1 = Tables.load(spark, base, "documents")
      val docsN = (0 until mult).map(i =>
          docs1.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
      time("collocations 1x")(
        graft.pipelines.Collocations.pmi(docs1, "text").count())
      time(s"collocations ${mult}x")(
        graft.pipelines.Collocations.pmi(docsN, "text").count())
      time("topk per group 1x")(TopK.perGroup(li1, Seq("l_suppkey"),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc), 5).count())
      time(s"topk per group ${mult}x")(TopK.perGroup(liN, Seq("l_suppkey"),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc), 5).count())
    }

    if (section == "all" || section == "relational") {
      // relational ramp: the fact tables (orders, lineitem) replicated
      // ×mult with a CONSISTENT orderkey shift so per-copy join
      // cardinality is preserved; dimensions stay 1× (they broadcast —
      // exactly the 100 TB shape, where facts grow and dims don't).
      // Queries must scale ∝ fact size: superlinear = a dim join started
      // shuffling or an agg lost its partial phase.
      spark.catalog.clearCache()
      val ordersBase = Tables.load(spark, base, "orders")
      val shift = ordersBase.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      def replicateFact(name: String, keyCol: String): Unit = {
        val df = Tables.load(spark, base, name)
        (0 until mult).map(i => df.withColumn(keyCol, col(keyCol) + lit(i * shift)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
      replicateFact("orders", "o_orderkey")
      replicateFact("lineitem", "l_orderkey")
      Seq("region", "nation", "customer", "supplier", "part").foreach { nm =>
        Tables.load(spark, base, nm).write.mode("overwrite").parquet(s"$out/$nm.parquet")
      }
      println(s"[scale] facts: orders ${ordersBase.count()} x$mult, " +
        s"lineitem ${Tables.load(spark, base, "lineitem").count()} x$mult")
      for (q <- Seq("q1_agg", "q3_top_orders", "q5_join5",
          "q_merge_upsert", "q_correlated_lookup")) {
        val t1 = time(s"$q 1x")(SparkEntry.queries(q)(spark, base).count())
        val tN = time(s"$q ${mult}x")(SparkEntry.queries(q)(spark, out).count())
        // scaling exponent e: t ∝ (fact size)^e. e ≈ 1 = linear (the plan
        // shape held), e < 1 = fixed overhead amortizing, e > 1 = a
        // broadcast/partial-agg lost or a quadratic crept in.
        println(f"[scale] $q exponent: ${math.log(tN / t1) / math.log(mult)}%.2f")
        spark.catalog.clearCache()
      }
    }

    if (section == "all" || section == "incremental") {
      // materialized-join maintenance ramp: cost must track the DELTA,
      // not the view. State = (orders ×mult) ⨝ customer on parquet;
      // deltas of 1/1000 and 1/100 of the fact vs the full recompute.
      // maintain never shuffles the state (broadcast anti) and its
      // fresh join is delta-sized — the recompute pays the full
      // fact-side shuffle every time. Delta times must be well under
      // the recompute and ~flat in delta size (scan-dominated);
      // StreamingJoin's bucketed state bounds even the scan.
      import graft.operators.IncrementalJoin
      spark.catalog.clearCache()
      val ordersBase = Tables.load(spark, base, "orders")
      val shift2 = ordersBase.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      // FACT ⨝ FACT (orders ⨝ lineitem): the join class where
      // maintenance matters — the recompute pays two fact-sized
      // shuffles every run, maintain pays none (state and snapshots
      // scan but never shuffle; dirty sets broadcast). A dim join
      // would be a strawman: its recompute broadcasts and wins by
      // construction. Snapshots/state/deltas live on parquet like
      // production tables — deriving a delta by re-scanning an
      // in-memory union would charge the fact scan to the maintenance
      // being measured.
      (0 until mult).map(i =>
          ordersBase.withColumn("o_orderkey", col("o_orderkey") + lit(i * shift2)))
        .reduce(_ unionByName _)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/ij_a")
      val aNew = spark.read.parquet(s"$out/ij_a")
      val liBase = Tables.load(spark, base, "lineitem")
      (0 until mult).map(i =>
          liBase.withColumn("l_orderkey", col("l_orderkey") + lit(i * shift2)))
        .reduce(_ unionByName _)
        .select((col("l_orderkey") * 8 + col("l_linenumber")).as("l_id"),
          col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
        .write.mode("overwrite").parquet(s"$out/ij_b")
      val bNew = spark.read.parquet(s"$out/ij_b")
      IncrementalJoin.joinOf(aNew, bNew, Seq("o_orderkey"))
        .write.mode("overwrite").parquet(s"$out/ij_state")
      val state = spark.read.parquet(s"$out/ij_state")
      val emptyB = bNew.filter(lit(false)).withColumn("op", lit("I"))
      val tFull = time(s"incr-join full recompute ${mult}x")(
        IncrementalJoin.joinOf(aNew, bNew, Seq("o_orderkey")).count())
      var tSmall = 0.0
      for (modN <- Seq(100, 1000)) {
        aNew.filter(col("o_orderkey") % modN === 0)
          .withColumn("op", lit("I"))
          .write.mode("overwrite").parquet(s"$out/ij_delta")
        val deltaA = spark.read.parquet(s"$out/ij_delta")
        val tD = time(s"incr-join maintain delta=1/$modN")(
          IncrementalJoin.maintain(state, aNew, deltaA, bNew, emptyB,
            Seq("o_orderkey"), "o_orderkey", "l_id").count())
        if (modN == 1000) tSmall = tD
      }
      println(f"[scale] maintain(1/1000) / recompute: ${tSmall / tFull}%.2f")
    }

    if (section == "all" || section == "skew") {
      // AQE skew handling: collapse 30% of lineitem onto ONE orderkey and
      // join to orders WITHOUT broadcast (forced shuffle join). At 100 TB
      // this is the join a salting rewrite or AQE's skew split must save;
      // assert the final adaptive plan actually split the skewed
      // partition (skew=true on the SortMergeJoin) — the runtime
      // re-plan the engine's sessions rely on (GraftSession leaves AQE
      // on; thresholds here are lowered only to make test data "big").
      val li = Tables.load(spark, base, "lineitem")
      val ord = Tables.load(spark, base, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      // materialize the skewed fact as MANY files first: AQE splits a
      // skewed reduce partition at MAP-OUTPUT granularity, so a
      // single-mapper input (one small parquet file = one scan task)
      // structurally cannot split — a test-scale artifact only; at
      // 100 TB the scan runs thousands of mappers
      li.select(
          when(col("l_orderkey") % 10 < 3, lit(42L))
            .otherwise(col("l_orderkey")).as("l_orderkey"),
          col("l_extendedprice"))
        .repartition(32).write.mode("overwrite").parquet(s"$out/skew_fact")
      val hot = spark.read.parquet(s"$out/skew_fact")
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(k => k -> spark.conf.get(k))
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
        val joined = hot.join(ord, col("l_orderkey") === col("o_orderkey"))
        // execute THIS queryExecution (count() would plan its own copy and
        // leave this one un-finalized), then read the final adaptive plan
        val qe = joined.queryExecution
        time("skew join (AQE split)")(qe.toRdd.count())
        val plan = qe.executedPlan.toString
        val split = plan.contains("skew=true")
        println(s"[scale] AQE skew-join split applied: $split")
        assert(split, "AQE did not split the skewed join partition:\n" + plan.take(3000))
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }

    if (section == "all" || section == "debounce") {
      // reset-on-keep suppression on a PATHOLOGICAL key: one device,
      // mult×100k events in 50-event bursts 2 gaps apart. suppress
      // streams the whole key through ONE task; suppressChunked scans
      // one task per burst (gaps ≥ minGap are exact reset points) —
      // same output, wall-clock ∝ burst count not key volume
      import graft.operators.Debounce
      val gapUs = 60L * 1000000
      val nEv = mult * 100000L
      val base0 = 1700000000000000L
      // realistic alert rows carry a payload — it is what makes the
      // single-task sort+scan of the hot key the stage straggler
      val payload = repeat(lit("x"), 200)
      val hotEv = spark.range(nEv).select(
        lit(1L).as("user_id"), lit("hot").as("event_type"),
        col("id").as("event_id"),
        timestamp_micros((col("id") / 50).cast("long") * (2 * gapUs) +
          pmod(col("id"), lit(50)) * 1000L + lit(base0)).as("ts"),
        payload.as("props"))
      val coldEv = spark.range(nEv / 10).select(
        (col("id") % 500 + 2).as("user_id"), lit("bg").as("event_type"),
        (col("id") + nEv).as("event_id"),
        timestamp_micros(col("id") * 31000L + lit(base0)).as("ts"),
        payload.as("props"))
      Pins.scope { p =>
        val ev = p.pin(hotEv.unionByName(coldEv).repartition(64), true)
        var nSeq = 0L
        var nPar = 0L
        time(s"debounce sequential ${mult}x (hot key = one task)") {
          nSeq = Debounce.suppress(ev, Seq("user_id", "event_type"), "ts",
            gapUs, Seq("event_id")).count(); nSeq
        }
        time(s"debounce chunked ${mult}x (one task per burst)") {
          nPar = Debounce.suppressChunked(ev, Seq("user_id", "event_type"), "ts",
            gapUs, Seq("event_id")).count(); nPar
        }
        println(s"[scale] debounce outputs equal: ${nSeq == nPar} ($nSeq)")
        assert(nSeq == nPar, s"chunked debounce diverged: $nSeq vs $nPar")
      }
    }
    if (section == "all" || section == "asof") {
      // ONE hot key with 300k rows per side: a [currentRow,
      // unboundedFollowing] forward frame is O(n²) here (~9·10¹⁰ frame
      // updates — hours); the running-frame formulation must finish in
      // seconds. Correctness is oracle-gated; this guards the PLAN SHAPE.
      import graft.operators.AsOf
      import spark.implicits._
      val n = 300000
      val right = (0 until n).map(i => ("k", new java.sql.Timestamp(i * 2000L), i))
        .toDF("key", "ts", "price").repartition(32).localCheckpoint(true)
      val left = (0 until n).map(i => ("k", new java.sql.Timestamp(i * 2000L + 500L)))
        .toDF("key", "ts").repartition(32).localCheckpoint(true)
      for (dir <- Seq("backward", "forward", "nearest")) {
        val secs = time(s"asof $dir hot-key ${n}x${n}")(
          AsOf.joinAsOf(left, right, Seq("key"), "ts", Seq("price"),
            direction = dir).count())
        assert(secs < 120.0,
          s"asof $dir took $secs s on a 300k hot key — quadratic frame?")
      }
    }

    if (section == "all" || section == "drift") {
      // drift scales as pure scans: psiProfile must grow ~linearly in
      // the snapshot size (one aggregate per side, state = buckets) and
      // the maintained-counts scoring must be scan-free (constant) at
      // any corpus size
      import graft.operators.{Drift, IncrementalAgg}
      val li1 = Tables.load(spark, base, "lineitem").localCheckpoint(true)
      val liN = spark.read.parquet(replicate("lineitem", "l_orderkey"))
        .localCheckpoint(true)
      val specs = Seq(
        "l_extendedprice" -> Seq(20000.0, 40000.0, 60000.0, 80000.0),
        "l_quantity" -> Seq(10.0, 20.0, 30.0, 40.0),
        "l_discount" -> Seq(0.02, 0.04, 0.06, 0.08))
      def split(df: DataFrame) = (
        df.filter(col("l_orderkey") % 2 === 0), df.filter(col("l_orderkey") % 2 === 1))
      val (o1, n1) = split(li1); val (oN, nN) = split(liN)
      // warm the codegen/plan caches so 1x isn't first-query-contaminated
      Drift.psiProfile(o1, n1, specs).count()
      Drift.psiCategorical(o1, n1, col("l_returnflag"), 2).count()
      time("psi profile 1x")(Drift.psiProfile(o1, n1, specs).count())
      time(s"psi profile ${mult}x")(Drift.psiProfile(oN, nN, specs).count())
      time("psi categorical 1x")(
        Drift.psiCategorical(o1, n1, col("l_returnflag"), 2).count())
      time(s"psi categorical ${mult}x")(
        Drift.psiCategorical(oN, nN, col("l_returnflag"), 2).count())
      // high-cardinality categorical: ~600k distinct synthetic "user
      // agent" labels — the shape the bounded top-k exists for; cost
      // must stay ~scan-bound (one grouped count + TakeOrderedAndProject
      // + the fold-to-OTHER re-aggregation of the cached counts)
      def ua(df: DataFrame) = df.withColumn("ua",
        concat(lit("ua_"), (col("l_orderkey") % 600000).cast("string")))
      val (oU, nU) = (ua(oN), ua(nN))
      time(s"psi categorical high-card ${mult}x (~600k cats -> top 100)")(
        Drift.psiCategorical(oU, nU, col("ua"), 100).count())

      // maintained-counts scoring: counts persisted once, scoring reads
      // only the two bucket tables — constant regardless of corpus size
      val bounds = specs.head._2
      val c0 = IncrementalAgg.init(
        oN.filter(col("l_extendedprice").isNotNull)
          .select(Drift.bucketOf(col("l_extendedprice"), bounds).as("bucket")),
        Seq("bucket"), lit(0)).localCheckpoint(true)
      val c1 = IncrementalAgg.init(
        nN.filter(col("l_extendedprice").isNotNull)
          .select(Drift.bucketOf(col("l_extendedprice"), bounds).as("bucket")),
        Seq("bucket"), lit(0)).localCheckpoint(true)
      time(s"psi from maintained counts ${mult}x (scan-free)")(
        Drift.psiFromCounts(
          c0.select(col("bucket"), col("n_rows").as("n_old")),
          c1.select(col("bucket"), col("n_rows").as("n_new")),
          bounds.size + 1).count())
    }

    if (section == "all" || section == "retrieval") {
      // the round-7 tier: lexical ranking must stay scan-bound (keyed
      // aggs + vocabulary joins), SemDeDup must stay ~linear when
      // nCentroids scales with the corpus (cells of constant size —
      // the algorithm's contract), resample must scale with the
      // OBSERVATION count (the grid is span-bound, not data-bound),
      // and the PIT join must scale with the fact side
      import graft.operators.{Resample, Scd}
      import graft.pipelines.Lexical
      import graft.similarity.SemDedup

      val docs1 = Tables.load(spark, base, "documents")
      val docsN = spark.read.parquet(replicate("documents", "doc_id"))
      val terms = Seq("spark", "merge", "vector", "dup")
      time("bm25 1x")(Lexical.bm25TopK(docs1, "doc_id", "text", terms, 20).count())
      time(s"bm25 ${mult}x")(Lexical.bm25TopK(docsN, "doc_id", "text", terms, 20).count())
      time("tfidf topk 1x")(Lexical.tfIdfTopK(docs1, "doc_id", "text", 3).count())
      time(s"tfidf topk ${mult}x")(Lexical.tfIdfTopK(docsN, "doc_id", "text", 3).count())

      val emb1 = Tables.load(spark, base, "embeddings")
      val embN = spark.read.parquet(replicate("embeddings", "vec_id"))
      // nCentroids ~ sqrt(N): cells stay bounded as the corpus grows
      time("semdedup 1x") {
        val c = Knn.trainCentroids(emb1, 45, 1)
        SemDedup.dedup(emb1, c, 0.25).count()
      }
      time(s"semdedup ${mult}x") {
        val c = Knn.trainCentroids(embN, 140, 1, sampleFraction = 0.3)
        SemDedup.dedup(embN, c, 0.25).count()
      }

      // whitening: the moments pass must scale with rows (state is
      // dim-bound per partition), the projection is a pure map
      import graft.similarity.Whitening
      time("whiten fit+project 1x") {
        val t = Whitening.fit(emb1, "embedding", 8)
        emb1.select(t(col("embedding"))).count()
      }
      time(s"whiten fit+project ${mult}x") {
        val t = Whitening.fit(embN, "embedding", 8)
        embN.select(t(col("embedding"))).count()
      }

      // irregular series: obs count ramps ×mult, keys and span fixed —
      // the grid (span-bound) stays constant, so healthy growth is the
      // OBS scan + asof sort, never grid explosion
      def series(n: Long) = spark.range(n).select(
        (col("id") % 1000).as("k"),
        (abs(xxhash64(col("id"))) % 10000000L).as("t"),
        (col("id") % 1000).cast("double").as("v"))
      time("resample 1x")(
        Resample.forwardFill(series(600000L), "k", "t", "v", 3600L).count())
      time(s"resample ${mult}x")(
        Resample.forwardFill(series(600000L * mult), "k", "t", "v", 3600L).count())

      // PIT join: fact side ramps, the 3-version dimension is fixed
      val cust = Tables.load(spark, base, "customer")
      def ts(d: String) = lit(d).cast("timestamp")
      val dim = cust.select(col("c_custkey"), ts("1995-01-01").as("valid_from"),
          ts("1997-01-01").as("valid_to"), col("c_mktsegment").as("seg"))
        .unionByName(cust.select(col("c_custkey"), ts("1997-01-01").as("valid_from"),
          ts("2000-01-01").as("valid_to"),
          concat(col("c_mktsegment"), lit("_V2")).as("seg")))
        .unionByName(cust.filter(col("c_custkey") % 10 =!= 0)
          .select(col("c_custkey"), ts("2000-01-01").as("valid_from"),
            lit(null).cast("timestamp").as("valid_to"),
            concat(col("c_mktsegment"), lit("_V3")).as("seg")))
      val ord1 = Tables.load(spark, base, "orders").select(
        col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_orderdate").cast("timestamp").as("od"))
      val ordN = spark.read.parquet(replicate("orders", "o_orderkey")).select(
        col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_orderdate").cast("timestamp").as("od"))
      time("pit join 1x")(
        Scd.pitJoin(ord1, dim, Seq("c_custkey"), "od", Seq("seg")).count())
      time(s"pit join ${mult}x")(
        Scd.pitJoin(ordN, dim, Seq("c_custkey"), "od", Seq("seg")).count())
    }

    if (section == "all" || section == "curation") {
      // curation tier ramp: span dedup must scale with the token count
      // (spans shuffle once on their text), DSIR with pure scans (the
      // scoring pass is shuffle-free), vocab/logloss with the tf frame,
      // PageRank with the edge count per iteration
      import graft.dedup.SpanDedup
      import graft.pipelines.{Dsir, Lexical}
      import graft.operators.PageRank

      val docs1 = Tables.load(spark, base, "documents")
      val docsN = spark.read.parquet(replicate("documents", "doc_id"))
      time("span dedup 1x")(
        SpanDedup.dedupSpans(docs1, "doc_id", "text", 10).count())
      time(s"span dedup ${mult}x")(
        SpanDedup.dedupSpans(docsN, "doc_id", "text", 10).count())
      val t1 = docs1.filter(col("source") === "src0")
      // replication keeps source labels, so the target ramps with the corpus
      val tN = docsN.filter(col("source") === "src0")
      time("dsir 1x")(
        Dsir.importanceScores(docs1, t1, "doc_id", "text").count())
      time(s"dsir ${mult}x")(
        Dsir.importanceScores(docsN, tN, "doc_id", "text").count())
      time("vocab coverage 1x")(
        Lexical.vocabCoverage(docs1, "doc_id", "text", 30).count())
      time(s"vocab coverage ${mult}x")(
        Lexical.vocabCoverage(docsN, "doc_id", "text", 30).count())
      time("unigram logloss 1x")(
        Lexical.unigramLogloss(docs1, "doc_id", "text").count())
      time(s"unigram logloss ${mult}x")(
        Lexical.unigramLogloss(docsN, "doc_id", "text").count())

      // the trained quality filter rides the same scans as DSIR (one
      // wide conditional aggregate + one scoring pass)
      import graft.pipelines.QualityClassifier
      time("quality classifier 1x")(
        QualityClassifier.scoresByFlag(docs1, col("source") === "src0",
          "doc_id", "text").count())
      time(s"quality classifier ${mult}x")(
        QualityClassifier.scoresByFlag(docsN, col("source") === "src0",
          "doc_id", "text").count())

      // anneal schedule: DSIR training + the ranged two-pass cumsum +
      // one 1-row total agg + the eager manifest pin — every stage is
      // scan- or cumsum-shaped, so the ramp must stay ~linear in docs
      // (the sf0.1 gap vs the oracle is job-count floor, not growth)
      import graft.pipelines.Curriculum
      def annealCount(d: org.apache.spark.sql.DataFrame): Long = Pins.scope { p =>
        val out = Curriculum.annealSchedule(d, "doc_id", "text",
          col("source") === "src0")
        val n = out.count()
        p.release(out)
        n
      }
      time("anneal schedule 1x")(annealCount(docs1))
      time(s"anneal schedule ${mult}x")(annealCount(docsN))

      // unigram tokenizer training: the only corpus-scale stage is the
      // word count (the trainer itself is vocabulary-bounded driver
      // work), so the ramp must be ~flat — the claim the 50d row makes
      import graft.pipelines.Unigram
      time("unigram train 1x")(
        Unigram.fit(docs1, "text", vocabSize = 50).tokens.length)
      time(s"unigram train ${mult}x")(
        Unigram.fit(docsN, "text", vocabSize = 50).tokens.length)

      // wordpiece training rides the same claim (one corpus word count,
      // vocabulary-bounded driver merges) — ramp must be ~flat like
      // unigram's; encode is one explode + broadcast join — ~linear
      import graft.pipelines.WordPiece
      val wp1 = WordPiece.fit(docs1, "text", numMerges = 30) // untimed JIT warmup
      time("wordpiece train 1x")(
        WordPiece.fit(docs1, "text", numMerges = 30).merges.length)
      var wpN: WordPiece.Model = wp1
      time(s"wordpiece train ${mult}x") {
        wpN = WordPiece.fit(docsN, "text", numMerges = 30)
        wpN.merges.length
      }
      def wpEncodeCount(d: org.apache.spark.sql.DataFrame,
                        m: WordPiece.Model): Long =
        d.filter(col("text").isNotNull && trim(col("text")) =!= "")
          .select(col("doc_id"),
            explode(split(trim(col("text")), "[ \\t\\n\\r\\f]+")).as("word"))
          .join(broadcast(WordPiece.wordPieceCounts(spark, m)), Seq("word"))
          .groupBy(col("doc_id")).agg(sum(col("n_toks"))).count()
      time("wordpiece encode 1x")(wpEncodeCount(docs1, wp1))
      time(s"wordpiece encode ${mult}x")(wpEncodeCount(docsN, wpN))

      // ccnet terciles: the KN scoring pass + the ranged two-pass rank
      // (range-partitioned on (lang, score) — a corpus-sized language
      // never funnels through one task) — ramp must track kneser_ney's
      import graft.operators.RunningTotals
      def ccnetCount(d: org.apache.spark.sql.DataFrame): Long = {
        val kn = Lexical.kneserNeyLogloss(d, "doc_id", "text", 7500)
        val scored = d.select(col("doc_id"), col("lang")).join(kn, Seq("doc_id"))
          .withColumn("__one", lit(1L))
        val ranked = RunningTotals.groupedRunningSum(scored, Seq("lang"),
          Seq(col("mean_surprisal3_q").asc, col("doc_id").asc), "__one", "__rk")
        val langN = ranked.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
        ranked.join(broadcast(langN), Seq("lang"))
          .withColumn("bucket",
            when(col("__rk") * 3 <= col("__n"), lit("head"))
              .when(col("__rk") * 3 <= col("__n") * 2, lit("middle"))
              .otherwise(lit("tail")))
          .groupBy(col("lang"), col("bucket")).agg(count(lit(1)))
          .count()
      }
      time("ccnet buckets 1x")(ccnetCount(docs1))
      time(s"ccnet buckets ${mult}x")(ccnetCount(docsN))

      // best-fit packing: chunk-wise by construction (doc_id div 2000
      // bounds every (source, shard) task regardless of corpus size) —
      // ramp must be ~linear in docs, and the hot-shard bound holds by
      // the shard arithmetic, asserted on the replicated corpus
      import graft.pipelines.Pack
      def packPieces(d: org.apache.spark.sql.DataFrame) = d
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("source"),
          expr("least(CAST(256 AS BIGINT), n)").as("len"),
          expr("doc_id div 2000").as("shard"))
      def packCount(d: org.apache.spark.sql.DataFrame) =
        Pack.bestFit(packPieces(d), Seq("source", "shard"), "len",
          Seq(col("doc_id")), 256L).count()
      time("pack bestfit 1x")(packCount(docs1))
      time(s"pack bestfit ${mult}x")(packCount(docsN))
      val maxShard = packPieces(docsN)
        .groupBy(col("source"), col("shard")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).head().getLong(0)
      println(s"[scale] pack bestfit ${mult}x max shard size: $maxShard (bound 2000)")
      require(maxShard <= 2000L,
        s"pack shard bound violated: $maxShard docs in one (source, shard)")

      val li1 = Tables.load(spark, base, "lineitem")
      val liN = spark.read.parquet(replicate("lineitem", "l_orderkey"))
      def edgesOf(li: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"))
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
          .withColumn("dst", lead(col("l_partkey"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy(col("l_partkey").as("src"), col("dst"))
          .agg(count(lit(1)).as("weight"))
      }
      time("pagerank 1x")(PageRank.rank(edgesOf(li1), 3).count())
      time(s"pagerank ${mult}x")(PageRank.rank(edgesOf(liN), 3).count())
    }

    if (section == "all" || section == "analytics") {
      // round-7 analytics tier: recurrences (hot-key wall-clock bound),
      // allocation (∝ input, one keyed exchange), triangles (disjoint
      // replicas ⇒ exactly ∝), item-item CF (the history cap must make
      // a pathological user irrelevant), global running totals (ranged
      // two-pass, ∝ input with a partitions-sized single-task frame)
      import graft.operators.{Allocate, Graphs, Recurrences, RunningTotals}
      import graft.similarity.ItemSim

      // ONE key, 1M sequential rows: the documented irreducible case —
      // O(1) state, must stream through a single task in seconds, not
      // OOM or quadratically stall
      val hot = spark.range(1000000L)
        .select(lit(1L).as("k"), col("id").as("seq"), (col("id") % 997).as("x"))
      time("ewma 1M-row hot key")(
        Recurrences.ewma(hot, Seq("k"), Seq("seq"), "x", 1L, 4L).count())
      time("cusum 1M-row hot key")(
        Recurrences.cusumAlarms(hot, Seq("k"), Seq("seq"), "x", 400L, 100000L).count())

      val li1 = Tables.load(spark, base, "lineitem")
      val liN = {
        val n = 10000000L
        (0 until mult).map(i => li1
            .withColumn("l_orderkey", col("l_orderkey") + lit(i * n))
            .withColumn("l_partkey", col("l_partkey") + lit(i * n)))
          .reduce(_ unionByName _)
      }
      def alloc(li: DataFrame) = {
        val c = li.select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))
        Allocate.largestRemainder(
          c.withColumn("amt", call_function("div", sum(col("cents")).over(w), lit(10L))),
          Seq("l_orderkey"), "cents", "amt", Seq("l_linenumber"))
      }
      time("allocate 1x")(alloc(li1).count())
      time(s"allocate ${mult}x")(alloc(liN).count())

      // disjoint replicas: triangle count must be exactly mult× and the
      // wall clock ~∝ (the degree orientation keeps wedge work m^1.5
      // WITHIN each replica, unchanged by replication)
      def copurchase(li: DataFrame) = {
        val p = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        Graphs.canonicalEdges(p, "pa", "pb")
      }
      val t1 = time("triangles 1x")(Graphs.triangles(copurchase(li1)).count())
      time(s"triangles ${mult}x")(Graphs.triangles(copurchase(liN)).count())

      // a 200k-item user: uncapped pair work would be 2·10^10 rows; the
      // cap bounds it at 50²/2 for that user, so the run must complete
      // in seconds
      val pathological = spark.range(200000L)
        .select(lit(999999L).as("u"), col("id").as("i"), lit(1L).as("s"))
      val normal = spark.range(40000L)
        .select((col("id") % 2000).as("u"), (col("id") % 300).as("i"), lit(1L).as("s"))
      time("itemsim 200k-item user (cap 50)")(
        ItemSim.neighbors(normal.unionByName(pathological).distinct(),
          "u", "i", "s", k = 10, maxUserItems = 50).count())

      val big = spark.range(20000000L).select(col("id"),
        (col("id") % 100000).as("v"))
      time("global running sum 20k rows")(
        RunningTotals.globalRunningSum(spark.range(20000L)
            .select(col("id"), (col("id") % 100).as("v")),
          Seq(col("v").desc, col("id").asc), "v", "cum").count())
      time("global running sum 20M rows")(
        RunningTotals.globalRunningSum(big,
          Seq(col("v").desc, col("id").asc), "v", "cum").count())
    }

    if (section == "all" || section == "stats") {
      import graft.operators.Stats
      // the statistics tier's scale claims: every statistic reduces the
      // fact table to a tiny aggregated frame FIRST, so 10x input must
      // cost ~1 aggregation pass more, never 10x finish work.
      val synth = (n: Long) => spark.range(n).select(
        (col("id") % 40).cast("string").as("a"),
        (col("id") % 7).cast("string").as("b"),
        pmod(col("id") * 2654435761L, lit(100000L)).as("x"))
        .withColumn("conv", (col("x") > 90000L).cast("long"))
        .withColumn("variant", (col("x") % 2))
      time("chi-square 2M rows (40x7 grid)")(
        Stats.chiSquare(synth(2000000L), "a", "b").count())
      time(s"chi-square ${mult * 2}M rows")(
        Stats.chiSquare(synth(2000000L * mult), "a", "b").count())
      time("welch A/B 2M rows")(
        Stats.welchAb(synth(2000000L), "variant", "x", "conv").count())
      time(s"welch A/B ${mult * 2}M rows")(
        Stats.welchAb(synth(2000000L * mult), "variant", "x", "conv").count())
      // KM: millions of subjects, bounded distinct durations (0..3650)
      val subj = (n: Long) => spark.range(n).select(
        pmod(col("id") * 48271L, lit(3650L)).as("duration"),
        (col("id") % 5 =!= 0).cast("long").as("event"))
      time("kaplan-meier 1M subjects")(
        Stats.kaplanMeier(subj(1000000L), "duration", "event").count())
      time(s"kaplan-meier ${mult}M subjects")(
        Stats.kaplanMeier(subj(1000000L * mult), "duration", "event").count())
      // per-key Holt: 1M rows on ONE key — irreducibly sequential,
      // must stream through a single task without OOM, like ewma
      val hot = spark.range(1000000L).select(lit(1L).as("k"),
        col("id").as("ord"), pmod(col("id") * 1103515245L, lit(100000L)).as("x"))
      time("holt 1M-row hot key")(
        graft.operators.Recurrences.holt(hot, Seq("k"), Seq("ord"), "x",
          1L, 4L, 1L, 4L).count())
      // iterative graph tier: per-round cost on a 2M-edge degree-4
      // ring (shallow peel — the deep-chain case is a failing-test
      // invariant in GraphsSpec, not a wall-clock ramp)
      import graft.operators.Graphs
      val gn = 1000000L
      val ringEdges = Graphs.canonicalEdges(
        spark.range(gn).select(col("id").as("u"), ((col("id") + 1) % gn).as("v"))
          .unionAll(spark.range(gn)
            .select(col("id").as("u"), ((col("id") + 17) % gn).as("v"))),
        "u", "v")
      time("kcore 2M edges (k=3)")(Graphs.kCore(ringEdges, 3).count())
      time("lpa 2M edges (5 rounds)")(
        Graphs.labelPropagation(ringEdges, 5).count())
    }

    if (section == "all" || section == "causal") {
      import graft.operators.{Causal, Stats}
      // causal/uncertainty tier claims: matching is sort-shaped per
      // stratum (the as-of machine, never treated x control), the
      // bootstrap is one mapped pass x B with only B x groups rows
      // shuffled, conformal is group-keyed aggregation, and SPRT's
      // cumulative counts survive a single hot arm via the ranged
      // running-sum machine.
      val popN = (n: Long) => spark.range(n).select(
        col("id"),
        // one HOT stratum holds half the population; 19 share the rest
        when(pmod(col("id"), lit(2L)) === 0, lit("hot"))
          .otherwise(concat(lit("s"), pmod(col("id"), lit(19L)))).as("st"),
        pmod(col("id") * 2654435761L, lit(10000000L)).as("score"),
        (pmod(col("id") * 48271L, lit(100L)) < 20L).as("tr"),
        pmod(col("id") * 1103515245L, lit(1000000L)).as("y"))
      time("propensity match 1M pop (hot stratum)")(
        Causal.propensityMatch(popN(1000000L), "id", "st", "score",
          "tr", "y", caliper = 1000L).count())
      time(s"propensity match ${mult}M pop")(
        Causal.propensityMatch(popN(1000000L * mult), "id", "st", "score",
          "tr", "y", caliper = 1000L).count())
      val vals = (n: Long) => spark.range(n).select(
        concat(lit("g"), pmod(col("id"), lit(5L))).as("g"), col("id"),
        pmod(col("id") * 16807L, lit(100000L)).as("v"))
      time("poisson bootstrap 200k rows x B=50")(
        Stats.poissonBootstrap(vals(200000L), "g", "id", "v", b = 50).count())
      time(s"poisson bootstrap ${mult / 5}M rows x B=50")(
        Stats.poissonBootstrap(vals(200000L * mult), "g", "id", "v",
          b = 50).count())
      val conf = (n: Long) => vals(n)
        .withColumn("cal", pmod(col("id"), lit(2L)) === 0)
      time("conformal 2M rows / 5 groups")(
        Stats.conformalSplit(conf(2000000L), "g", "id", "v", "cal").count())
      time(s"conformal ${mult * 2}M rows")(
        Stats.conformalSplit(conf(2000000L * mult), "g", "id", "v",
          "cal").count())
      // SPRT over ONE hot arm: the ranged machine must stream it, a
      // per-arm window would funnel 2M rows through one task
      val arm = spark.range(2000000L).select(lit(0L).as("arm"),
        col("id").as("ord"),
        (pmod(col("id") * 69621L, lit(100L)) < 52L).cast("long").as("x"))
      time("sprt 2M-row single hot arm")(
        Stats.sprt(arm, "arm", Seq(col("ord")), "x", 5000L, 5200L).count())
      // TWA hot key: irreducibly sequential per key, must stream
      val twaHot = spark.range(1000000L).select(lit(1L).as("k"),
        (col("id") * 7L).as("ep"), col("id").as("eid"),
        pmod(col("id") * 16807L, lit(10000L)).as("v"))
      time("twa 1M-row hot key")(
        graft.operators.Resample.timeWeightedAvg(twaHot, "k", "ep",
          "eid", "v").count())
      // FD profiling: 3 candidates over one scan (the fan) — 10x input
      // must cost ~one aggregation pass more, never 3x10 scans
      import graft.operators.Diagnostics
      val fdDf = (n: Long) => spark.range(n).select(
        pmod(col("id"), lit(100000L)).as("a"),
        pmod(col("id"), lit(1000L)).as("b"),
        pmod(col("id") * 48271L, lit(500L)).as("c"))
      time("fdProfile 2M rows x 3 candidates")(
        Diagnostics.fdProfile(fdDf(2000000L),
          Seq("a" -> "b", "b" -> "c", "a" -> "c")).count())
      time(s"fdProfile ${mult * 2}M rows x 3 candidates")(
        Diagnostics.fdProfile(fdDf(2000000L * mult),
          Seq("a" -> "b", "b" -> "c", "a" -> "c")).count())
    }

    if (section == "similarity") {
      // The similarity tier at big multiples (run explicitly, e.g.
      // `ScaleSmoke 100 similarity` — not part of `all`), with planted
      // adversaries that target each operator's bounding contract:
      //  - ItemSim: ONE power user with 300k interactions — the
      //    maxUserItems cap must bound their pair work to cap²/2, or
      //    the self-join explodes quadratically on that single user.
      //  - NearDup (simhash AND minhash buckets): ONE family of 30k
      //    IDENTICAL documents — every member lands in the same
      //    bucket(s); maxBucket must bound the per-bucket quadratic
      //    enumeration to maxBucket²/2 regardless of family size.
      // Users/docs replicate disjointly, so output grows ∝ input and
      // wall-clock exponents read directly off the printed counts.
      import graft.similarity.ItemSim
      def interactions(users: Long): DataFrame = {
        // 24-item histories drawn from a 100k catalog by a mixed hash
        // (co-occurrence without user dominance) + the power user
        val normal = spark.range(users).select(col("id").as("u"))
          .crossJoin(spark.range(24).select(col("id").as("k")))
          .select(col("u"),
            pmod(col("u") * 7919L + col("k") * 104729L, lit(100000L)).as("i"),
            (pmod(col("u") + col("k"), lit(97L)) + 1L).as("strength"))
        val power = spark.range(300000L).select(lit(-1L).as("u"),
          col("id").as("i"), lit(1L).as("strength"))
        normal.unionByName(power)
      }
      // untimed JIT/codegen warmup — without it the 1x pass absorbs
      // first-touch compilation and every exponent reads negative
      def itemsimOnce(inter: DataFrame): Long =
        ItemSim.neighbors(inter, "u", "i", "strength",
          k = 10, maxUserItems = 32).count()
      val warm1 = s"$out/sim_inter_1"
      interactions(10000L).repartition(64).write.mode("overwrite").parquet(warm1)
      itemsimOnce(spark.read.parquet(warm1))
      val itemExps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val path = s"$out/sim_inter_$m"
        if (m != 1) interactions(10000L * m).repartition(64)
          .write.mode("overwrite").parquet(path)
        val inter = spark.read.parquet(path)
        val n = inter.count()
        println(s"[scale] itemsim ${m}x: $n interactions (+300k power user)")
        val t = time(s"itemsim ${m}x+power")(itemsimOnce(inter))
        (m, n, t)
      }
      val (_, n1, t1) = itemExps.head
      itemExps.tail.foreach { case (m, n, t) =>
        println(f"[scale] itemsim exponent 1x->${m}x (vs interactions): " +
          f"${math.log(t / t1) / math.log(n.toDouble / n1)}%.2f")
      }

      val docs1 = Tables.load(spark, base, "documents")
      val family = spark.range(30000L).select(
        (col("id") + 50000000L).as("doc_id"),
        lit("identical planted family text the quick brown fox jumps " +
          "over the lazy dog again and again and again").as("text"))
      def docsAt(m: Int): String = {
        val nd = docs1.count()
        val path = s"$out/sim_docs_$m"
        // replicas must be SHINGLE-disjoint or every unique text forms
        // an m-member identical family and pair output grows ∝ m² —
        // suffix every token with the replica id so only the planted
        // family (and each replica's own internal near-dups) pair up,
        // and output grows ∝ m
        (0 until m).map(i =>
            docs1.select((col("doc_id") + lit(i * (nd + 1))).as("doc_id"),
              regexp_replace(col("text"), "([^ \\t\\n\\r\\f]+)", "$1" + i)
                .as("text")))
          .reduce(_ unionByName _)
          .unionByName(family)
          .repartition(64).write.mode("overwrite").parquet(path)
        path
      }
      // untimed warmup at 1x (JIT + codegen for both kernels); clear
      // the cache after — minhashPairs RETURNS a persisted frame, and
      // a timed pass with the identical plan would otherwise cache-hit
      // the warmup's blocks and read as a phantom 0.5 s
      val dwarm = spark.read.parquet(docsAt(1))
      NearDup.simhashPairs(dwarm, "doc_id", "text", maxBucket = 2000).count()
      NearDup.minhashPairs(dwarm, "doc_id", "text", threshold = 0.8,
        maxBucket = 2000).count()
      spark.catalog.clearCache()
      val dupExps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val d = spark.read.parquet(if (m == 1) s"$out/sim_docs_1" else docsAt(m))
        val n = d.count()
        println(s"[scale] neardup ${m}x: $n docs (+30k identical family)")
        val tSim = time(s"simhash ${m}x+megabucket") {
          NearDup.simhashPairs(d, "doc_id", "text", maxBucket = 2000).count()
        }
        spark.catalog.clearCache()
        val tMin = time(s"minhash ${m}x+megabucket") {
          NearDup.minhashPairs(d, "doc_id", "text", threshold = 0.8,
            maxBucket = 2000).count()
        }
        spark.catalog.clearCache()
        (m, n, tSim, tMin)
      }
      val (_, d1, ts1, tm1) = dupExps.head
      dupExps.tail.foreach { case (m, n, ts, tm) =>
        val ln = math.log(n.toDouble / d1)
        println(f"[scale] neardup exponents 1x->${m}x (vs docs): " +
          f"simhash ${math.log(ts / ts1) / ln}%.2f, " +
          f"minhash ${math.log(tm / tm1) / ln}%.2f")
      }
    }

    if (section == "pq") {
      // The IVF-PQ memory claim, measured (run explicitly, e.g.
      // `ScaleSmoke 100 pq`): the persisted ANN index must grow with
      // CODES (m bytes/row), not floats (4·dim bytes/row) — at 100 TB of
      // embeddings that ratio is the difference between an index that
      // fits the cluster's memory/disk budget and one that doesn't.
      // Three measurements per multiple: encode wall-clock (must stay
      // linear — it's a pure map), both index byte sizes, and the ratio
      // (should hold ~constant ≈ 4·dim/m across multiples).
      import graft.similarity.Pq
      def dirBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          else if (f.getName.endsWith(".parquet")) f.length() else 0L
        walk(new java.io.File(p))
      }
      val emb1 = Tables.load(spark, base, "embeddings")
      val shift = emb1.agg(max(col("vec_id"))).head().getLong(0) + 1L
      // untimed warmup (JIT + codegen for the encode kernel)
      locally {
        val co = Knn.trainCentroids(emb1, 16, 1)
        val bk = Pq.trainCodebooks(Pq.residualFrame(emb1, co), 8, 8, 16, iters = 1)
        Pq.encodeCorpus(emb1, co, bk, 8).count()
      }
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { mu =>
        val path = s"$out/pq_emb_$mu"
        (0 until mu).map(i => emb1.withColumn("vec_id", col("vec_id") + lit(i * shift)))
          .reduce(_ unionByName _).repartition(64)
          .write.mode("overwrite").parquet(path)
        val corpus = spark.read.parquet(path)
        val n = corpus.count()
        // codebooks train on a hash-sample at big multiples — the 100 TB
        // path; the full corpus is only touched by the encode map
        val frac = if (mu > 10) 0.1 else 1.0
        val coarse = Knn.trainCentroids(corpus, 16, 1, sampleFraction = frac)
        val books = Pq.trainCodebooks(Pq.residualFrame(corpus, coarse),
          m = 8, subDim = 8, k = 16, iters = 1, sampleFraction = frac)
        val t = time(s"pq encode ${mu}x")(
          Pq.encodeCorpus(corpus, coarse, books, subDim = 8).count())
        Knn.writeIndex(corpus, coarse, s"$out/pq_float_$mu")
        Pq.writeIndex(corpus, coarse, books, subDim = 8, s"$out/pq_codes_$mu")
        val fb = dirBytes(s"$out/pq_float_$mu")
        val pb = dirBytes(s"$out/pq_codes_$mu")
        println(f"[scale] pq index ${mu}x: $n rows, float $fb bytes, " +
          f"pq $pb bytes, ratio ${fb.toDouble / pb}%.1f")
        (mu, n, t)
      }
      val (_, n1, t1) = exps.head
      exps.tail.foreach { case (mu, n, t) =>
        println(f"[scale] pq encode exponent 1x->${mu}x: " +
          f"${math.log(t / t1) / math.log(n.toDouble / n1)}%.2f")
      }

      // OPQ rotation training rides the same replicas: corpus-scale
      // work = one codebook fit + one cross-moment pass, both on the
      // 100 TB hash-sample path at big multiples — the wall-clock must
      // track the SAMPLE, and the rotated encode stays a linear map
      import graft.similarity.Opq
      val rexps = Seq(1, mult).distinct.map { mu =>
        val corpus = spark.read.parquet(s"$out/pq_emb_$mu")
        val n = corpus.count()
        val frac = if (mu > 10) 0.1 else 1.0
        val tR = time(s"opq rotation ${mu}x")(
          Opq.trainRotation(corpus, m = 8, subDim = 8, k = 16,
            sampleFraction = frac).length)
        (mu, n, tR)
      }
      val (_, rn1, rt1) = rexps.head
      rexps.tail.foreach { case (mu, n, t) =>
        println(f"[scale] opq rotation exponent 1x->${mu}x: " +
          f"${math.log(t / rt1) / math.log(n.toDouble / rn1)}%.2f")
      }

      // RQ rides the same replicas: stage-2 training is one more
      // quantized Lloyd on the residual frame (hash-sample path at big
      // multiples) and the encode is the same zero-shuffle map shape as
      // PQ's, so the encode exponent must stay ~linear
      import graft.similarity.Rq
      val qexps = Seq(1, mult).distinct.map { mu =>
        val corpus = spark.read.parquet(s"$out/pq_emb_$mu")
        val n = corpus.count()
        val frac = if (mu > 10) 0.1 else 1.0
        val coarse = Knn.trainCentroids(corpus, 16, 1, sampleFraction = frac)
        val book = Rq.trainBook(corpus, coarse, k = 16, iters = 1,
          sampleFraction = frac)
        val t = time(s"rq encode ${mu}x")(
          Rq.encodeCorpus(corpus, coarse, book).count())
        (mu, n, t)
      }
      val (_, qn1, qt1) = qexps.head
      qexps.tail.foreach { case (mu, n, t) =>
        println(f"[scale] rq encode exponent 1x->${mu}x: " +
          f"${math.log(t / qt1) / math.log(n.toDouble / qn1)}%.2f")
      }

      // k-means|| seeding: corpus passes = rounds + 1 independent of
      // k, each a zero-shuffle map + 1-row sum + ~oversample-row
      // collect — the ramp must be ~linear in rows (scan-bound)
      import graft.similarity.KmeansPar
      val sexps = Seq(1, mult).distinct.map { mu =>
        val corpus = spark.read.parquet(s"$out/pq_emb_$mu")
        val n = corpus.count()
        val t = time(s"kmeanspar seed ${mu}x")(
          KmeansPar.seed(corpus, k = 16, rounds = 3, oversample = 32).rows.length)
        (mu, n, t)
      }
      val (_, sn1, st1) = sexps.head
      sexps.tail.foreach { case (mu, n, t) =>
        println(f"[scale] kmeanspar seed exponent 1x->${mu}x: " +
          f"${math.log(t / st1) / math.log(n.toDouble / sn1)}%.2f")
      }

      // NN-descent: per-node candidate sets are bounded at (2k)^2+2k
      // by construction, so each round is join work ~linear in nodes —
      // the ramp must confirm no super-linear blowup on a corpus with
      // massive duplicate families (cos-1.0 ties everywhere)
      import graft.similarity.NnDescent
      val nexps = Seq(1, mult).distinct.map { mu =>
        val corpus = spark.read.parquet(s"$out/pq_emb_$mu")
        val n = corpus.count()
        val t = time(s"nn_descent ${mu}x")(
          NnDescent.knnGraph(corpus, "vec_id", "embedding",
            k = 5, rounds = 2).count())
        (mu, n, t)
      }
      val (_, nn1, nt1) = nexps.head
      nexps.tail.foreach { case (mu, n, t) =>
        println(f"[scale] nn_descent exponent 1x->${mu}x: " +
          f"${math.log(t / nt1) / math.log(n.toDouble / nn1)}%.2f")
      }
    }

    if (section == "textgen") {
      // The lexical tier at big multiples (run explicitly, e.g.
      // `ScaleSmoke 100 textgen`) — the one §2C family without its own
      // ramp until round 10. Replicas are VOCAB-DISJOINT (every token
      // suffixed with its replica id) so df statistics and the
      // query-filtered joins grow ∝ corpus with no cross-replica
      // merging, PLUS one planted stopword-tier hot term ("zzhot")
      // appended to EVERY document: the df aggregate must hold exactly
      // one long for it, invertedIndex's df band must keep its
      // corpus-sized posting list from ever materializing, and a
      // bm25 query containing it must stay top-k-bounded.
      import graft.pipelines.Lexical
      val docs1 = Tables.load(spark, base, "documents")
      val nd = docs1.agg(max(col("doc_id"))).head().getLong(0) + 1L
      def docsAt(m: Int): String = {
        val path = s"$out/textgen_docs_$m"
        (0 until m).map(i =>
            docs1.select((col("doc_id") + lit(i * nd)).as("doc_id"),
              concat(regexp_replace(col("text"), "([^ \\t\\n\\r\\f]+)", "$1" + i),
                lit(" zzhot")).as("text")))
          .reduce(_ unionByName _)
          .repartition(64).write.mode("overwrite").parquet(path)
        path
      }
      def runAll(d: DataFrame, tag: String): Seq[Double] = Seq(
        time(s"tfidf $tag")(Lexical.tfIdfTopK(d, "doc_id", "text", k = 20).count()),
        time(s"inverted $tag")(
          Lexical.invertedIndex(d, "doc_id", "text", minDf = 2, maxDf = 2000).count()),
        time(s"bm25+hot $tag")(Lexical.bm25TopK(d, "doc_id", "text",
          Seq("merge0", "vector0", "zzhot"), k = 20).count()),
        time(s"vocab $tag")(Lexical.vocabCoverage(d, "doc_id", "text",
          vocabSize = 30).count()),
        time(s"unigram $tag")(Lexical.unigramLogloss(d, "doc_id", "text").count()),
        time(s"kneser_ney $tag")(Lexical.kneserNeyLogloss(d, "doc_id", "text").count()))
      // untimed 1x warmup (JIT + codegen across all six kernels)
      val dwarm = spark.read.parquet(docsAt(1))
      runAll(dwarm, "warmup")
      spark.catalog.clearCache()
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val d = spark.read.parquet(if (m == 1) s"$out/textgen_docs_1" else docsAt(m))
        val n = d.count()
        println(s"[scale] textgen ${m}x: $n docs (+zzhot in every doc)")
        val ts = runAll(d, s"${m}x")
        spark.catalog.clearCache()
        // hot-term contract, MEASURED: zzhot (df = corpus) must fall
        // outside the df band, so the widest retained posting stays
        // <= maxDf ids regardless of corpus size
        val maxDf = Lexical.invertedIndex(d, "doc_id", "text", 2, 2000)
          .agg(max(col("df"))).head().getLong(0)
        println(s"[scale] textgen ${m}x max banded df: $maxDf (bound 2000)")
        (m, n, ts)
      }
      val names = Seq("tfidf", "inverted", "bm25+hot", "vocab", "unigram", "kneser_ney")
      val (_, n1, t1) = exps.head
      exps.tail.foreach { case (m, n, ts) =>
        val ln = math.log(n.toDouble / n1)
        val line = names.zip(ts.zip(t1)).map { case (nm, (t, b)) =>
          f"$nm ${math.log(t / b) / ln}%.2f"
        }.mkString(", ")
        println(s"[scale] textgen exponents 1x->${m}x (vs docs): $line")
      }
    }

    if (section == "streaming") {
      // Structured-Streaming tier ramp (run explicitly, e.g.
      // `ScaleSmoke 100 streaming` — not part of `all`): the sf0.1
      // events feed replicated ×m as ONE PARQUET FILE PER REPLICA with
      // ids shifted and event-time TILED 31 days per replica (the feed
      // spans 30 days, so replicas are contiguous, never late) — a
      // file-source stream (maxFilesPerTrigger=1 ⇒ one micro-batch per
      // replica) is then a genuinely m×-LONGER timeline: the watermark
      // moves as the stream drains, so state EVICTION is exercised, not
      // just state growth (an overlapping shift instead makes later
      // batches mostly LATE data the session agg silently discards —
      // measured before this design). Sink is
      // noop (nothing accumulates on the driver). Two claims measured:
      // wall-clock ∝ events (exponent vs events), and the state store
      // BOUNDED by the watermark horizon — final numRowsTotal must stay
      // ~flat at ~2 replicas' keys while the stream grows 100×, because
      // dropDuplicatesWithinWatermark / session_window evict state the
      // moment the watermark passes it. A planted hot user carries ~5%
      // of every replica's events (the per-key session state must stay
      // one in-flight row regardless).
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.EventPipeline
      val ev1 = Tables.load(spark, base, "events")
      val n1 = ev1.count()
      val evCols = ev1.columns
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val path = s"$out/stream_events_$m"
        (0 until m).foreach { i =>
          ev1.withColumn("event_id", col("event_id") + lit(i * (n1 + 1)))
            .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 31} DAYS"))
            .withColumn("user_id",
              when(col("event_id") % 20 === 0, lit(9000000000L)) // hot user
                .otherwise(col("user_id")))
            .select(evCols.map(col): _*)
            .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
            .parquet(path)
        }
        val schema = spark.read.parquet(path).schema
        def drain(name: String, quiet: Boolean = false)
                 (build: DataFrame => DataFrame): (Double, Long) = {
          // a LEFTOVER checkpoint makes AvailableNow resume-and-skip —
          // a phantom-fast pass processing zero rows — so start clean
          val ckpt = s"$out/ckpt_${name}_$m"
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
          val src = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(path)
          val q = build(src).writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          val t0 = System.nanoTime()
          q.awaitTermination()
          val secs = (System.nanoTime() - t0) / 1e9
          val state = Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
          if (!quiet)
            println(f"[scale] $name ${m}x: $secs%.2f s, final state rows $state")
          (secs, state)
        }
        if (m == 1) { // untimed warmup: absorb JIT/codegen/state-store init
          drain("stream_dedup", quiet = true)(df =>
            EventPipeline.dedupedStream(df, Seq("event_id"), watermark = "90 minutes"))
          drain("stream_session", quiet = true)(df =>
            EventPipeline.sessionAgg(df.withWatermark("ts", "90 minutes")))
        }
        val (tDedup, sDedup) = drain("stream_dedup")(df =>
          EventPipeline.dedupedStream(df, Seq("event_id"), watermark = "90 minutes"))
        val (tSess, sSess) = drain("stream_session")(df =>
          EventPipeline.sessionAgg(df.withWatermark("ts", "90 minutes")))
        (m, m.toLong * n1, tDedup, sDedup, tSess, sSess)
      }
      val (m1, e1, td1, _, ts1, _) = exps.head
      exps.tail.foreach { case (m, e, td, sd, tsx, ss) =>
        val le = math.log(e.toDouble / e1)
        println(f"[scale] exponents ${m1}x->${m}x (vs events): " +
          f"dedup ${math.log(td / td1) / le}%.2f (state $sd), " +
          f"session ${math.log(tsx / ts1) / le}%.2f (state $ss)")
      }
    }

    if (section == "importjob") {
      // The reference-fidelity ETL core at big multiples (run explicitly,
      // e.g. `ScaleSmoke 100 importjob` — not part of `all`): a 2-table
      // ImportJob (orders parent upsert, lineitem child upsert with
      // FK-resolve ladder + strict-FK quarantine gate + in-batch dedup)
      // where the BATCH grows ×m against a FIXED destination — the
      // nightly-sync shape. Planted adversaries target the machinery's
      // bounding contracts directly: ~30% of child rows redirect to ONE
      // hot existing parent (the resolve join and the keyed dedup window
      // must survive a single mega-key: dedup partitions by FULL key
      // (orderkey, linenumber), so the hot parent splits across the
      // replica-shifted linenumbers instead of one window partition);
      // ~1% redirect to an invalid parent (the FkQuarantine arm must
      // stay batch-proportional). Batches are MATERIALIZED to parquet
      // first so the job times its own work, not the union construction.
      import graft.plans.ImportJob
      import graft.plans.ImportJob._
      val ord = Tables.load(spark, base, "orders")
      val li1 = Tables.load(spark, base, "lineitem")
      val maxOk = ord.agg(max(col("o_orderkey"))).head.getLong(0)
      val hotKey = maxOk / 2
      def liBatch(m: Int): DataFrame = (0 until m).map { i =>
        val h = pmod(col("l_orderkey") + lit(i.toLong), lit(100L))
        li1.withColumn("l_linenumber", col("l_linenumber") + lit(i * 8L))
          .withColumn("l_orderkey",
            when(h < 1, -(col("l_orderkey") + lit(1L)))            // orphan (negative: can never collide with a replica-shifted new parent)
              .when(h < 31, lit(hotKey))                           // hot parent
              .otherwise(col("l_orderkey")))
      }.reduce(_ unionByName _)
      def ordBatch(m: Int): DataFrame = (0 until m).map { i =>
        // ~10% slice per replica as NEW parents (insert path) plus the
        // original keys re-sent (update path)
        ord.filter(col("o_orderkey") % 10 === i % 10)
          .withColumn("o_orderkey",
            if (i == 0) col("o_orderkey")
            else col("o_orderkey") + lit(i * (maxOk + 1)))
      }.reduce(_ unionByName _)
      val specs = Seq(
        TableSpec("orders", keys = Seq("o_orderkey")),
        TableSpec("lineitem", keys = Seq("l_orderkey", "l_linenumber"),
          dedupKeys = Seq("l_orderkey", "l_linenumber"),
          dedupOrder = Seq("l_extendedprice"),
          preResolve = (df, lookup) => {
            // FK ladder vs the job-fresh parent state: unresolved → NULL
            val parents = lookup("orders").select(col("o_orderkey").as("__ok"))
            df.join(parents, df("l_orderkey") === col("__ok"), "left")
              .withColumn("l_orderkey",
                when(col("__ok").isNull, lit(null)).otherwise(col("l_orderkey")))
              .drop("__ok")
          },
          fkGate = Some(FkGate(Seq("l_orderkey"), FkQuarantine))))
      def runJob(incoming: Map[String, DataFrame]): Long = {
        val res = ImportJob.run(specs,
          dest = Map("orders" -> ord, "lineitem" -> li1),
          incoming = incoming)
        res("lineitem").count() + res("lineitem__quarantined").count()
      }
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val liPath = s"$out/importjob_li_$m"
        val ordPath = s"$out/importjob_ord_$m"
        liBatch(m).repartition(64).write.mode("overwrite").parquet(liPath)
        ordBatch(m).repartition(16).write.mode("overwrite").parquet(ordPath)
        val incoming = Map(
          "orders" -> spark.read.parquet(ordPath),
          "lineitem" -> spark.read.parquet(liPath))
        val nBatch = incoming("lineitem").count() + incoming("orders").count()
        println(s"[scale] importjob ${m}x: $nBatch batch rows (hot parent $hotKey)")
        if (m == 1) runJob(incoming) // untimed warmup: absorb JIT/codegen
        val t = time(s"importjob ${m}x")(runJob(incoming))
        (m, nBatch, t)
      }
      val (m1, n1, t1) = exps.head
      exps.tail.foreach { case (m, n, tm) =>
        println(f"[scale] exponent ${m1}x->${m}x (vs batch rows): " +
          f"importjob ${math.log(tm / t1) / math.log(n.toDouble / n1)}%.2f")
      }
    }

    if (section == "graph") {
      // The co-purchase graph family at big multiples (run explicitly,
      // e.g. `ScaleSmoke 100 graph` — not part of `all`): disjoint
      // replicas of the sf0.1 co-purchase edges PLUS a planted 150k-
      // degree hub wired into every replica. Disjoint replication means
      // triangle/k-core/LPA OUTPUT grows exactly ∝ edges, so wall-clock
      // exponents vs edges read directly off the printed pairs; the hub
      // proves the degree-orientation/peel shapes stay hub-proof at
      // scale (a naive wedge enumeration would explode on it). Edges
      // are MATERIALIZED to parquet first so each algorithm times its
      // own work, not the shared pair-join construction.
      import graft.operators.Graphs
      val li1 = Tables.load(spark, base, "lineitem")
      def copurchase(li: DataFrame) = {
        val p = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        Graphs.canonicalEdges(p, "pa", "pb")
      }
      // hub part 9e8 co-purchased with 150k distinct parts across ids
      val hub = Graphs.canonicalEdges(
        spark.range(150000L).select(lit(900000000L).as("pa"),
          (col("id") * 7L + 2L).as("pb")), "pa", "pb")
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val liM =
          if (m == 1) li1
          else (0 until m).map(i => li1
              .withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L))
              .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L)))
            .reduce(_ unionByName _)
        val path = s"$out/graph_edges_$m"
        copurchase(liM).unionByName(hub)
          .repartition(64).write.mode("overwrite").parquet(path)
        val e = spark.read.parquet(path)
        val ec = e.count()
        println(s"[scale] graph ${m}x: $ec edges (+150k-degree hub)")
        val tTri = time(s"triangles ${m}x+hub")(Graphs.triangles(e).count())
        val tKc = time(s"kcore(3) ${m}x+hub")(Graphs.kCore(e, 3).count())
        val tLpa = time(s"lpa(5) ${m}x+hub")(Graphs.labelPropagation(e, 5).count())
        (m, ec, tTri, tKc, tLpa)
      }
      val (m1, e1, tri1, kc1, lpa1) = exps.head
      exps.tail.foreach { case (m, ec, tri, kc, lpa) =>
        val le = math.log(ec.toDouble / e1)
        println(f"[scale] exponents ${m1}x->${m}x (vs edges): " +
          f"triangles ${math.log(tri / tri1) / le}%.2f, " +
          f"kcore ${math.log(kc / kc1) / le}%.2f, " +
          f"lpa ${math.log(lpa / lpa1) / le}%.2f")
      }
    }

    if (section == "truss") {
      // k-truss peel ramp on the 1-in-9 order-slice co-purchase graph
      // (the q_ktruss registration shape): disjoint replicas + the
      // 150k-degree hub wired in. Disjoint replication keeps the peel
      // depth at the base graph's (each replica peels independently),
      // so wall-clock exponents vs edges read directly; the hub's
      // edges are triangle-poor and must vanish in round 1 — the
      // star-immunity claim, demonstrated at scale.
      import graft.operators.Graphs
      val li1 = Tables.load(spark, base, "lineitem")
        .filter(col("l_orderkey") % 9 === 0)
      def copurchase(li: DataFrame) = {
        val p = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        Graphs.canonicalEdges(p, "pa", "pb")
      }
      val hub = Graphs.canonicalEdges(
        spark.range(150000L).select(lit(900000000L).as("pa"),
          (col("id") * 7L + 2L).as("pb")), "pa", "pb")
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m =>
        val liM =
          if (m == 1) li1
          else (0 until m).map(i => li1
              .withColumn("l_orderkey", col("l_orderkey") + lit(i * 10000000L))
              .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L)))
            .reduce(_ unionByName _)
        val path = s"$out/truss_edges_$m"
        copurchase(liM).unionByName(hub)
          .repartition(64).write.mode("overwrite").parquet(path)
        val e = spark.read.parquet(path)
        val ec = e.count()
        println(s"[scale] truss ${m}x: $ec edges (+150k-degree hub)")
        val t = time(s"ktruss(5) ${m}x+hub")(
          Graphs.kTruss(e, 5).count())
        (m, ec, t)
      }
      val (m1, e1, t1) = exps.head
      exps.tail.foreach { case (m, ec, t) =>
        val le = math.log(ec.toDouble / e1)
        println(f"[scale] exponents ${m1}x->${m}x (vs edges): " +
          f"ktruss ${math.log(t / t1) / le}%.2f")
      }
    }

    if (section == "linkage") {
      // Fellegi-Sunter EM ramp: the q_record_linkage dirty feed over a
      // replicated customer table — pair count scales ∝ rows, EM stays
      // `iters` wide aggregates + one scoring projection regardless of
      // size, so the exponent should read ~linear-or-below (the driver
      // holds 2K+2 longs at every multiple).
      import graft.pipelines.FellegiSunter
      val cust1 = Tables.load(spark, base, "customer")
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m => Pins.scope { p =>
        val cm =
          if (m == 1) cust1
          else (0 until m).map(i => cust1
              .withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
            .reduce(_ unionByName _)
        val cust = cm.select(col("c_custkey").as("id"), col("c_name").as("nm"),
          col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"),
          col("c_nationkey").as("nat"))
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
        val decoys = cust.select(col("id").as("id_a"))
          .join(cust.select(col("id").as("id_b")),
            col("id_b") === col("id_a") + 1)
        val pairs = p.pin(matchPairs.unionByName(decoys)
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
            (col("seg_a") === col("seg_b")).as("a_seg")), true)
        val np = pairs.count()
        println(s"[scale] linkage ${m}x: $np pairs")
        val t = time(s"fs link ${m}x")(
          FellegiSunter.link(pairs,
            Seq("a_name", "a_bal", "a_nat", "a_seg"), iters = 5).count())
        (m, np, t)
      } }
      val (m1, n1, t1) = exps.head
      exps.tail.foreach { case (m, np, t) =>
        val ln = math.log(np.toDouble / n1)
        println(f"[scale] exponents ${m1}x->${m}x (vs pairs): " +
          f"fs link ${math.log(t / t1) / ln}%.2f")
      }
    }

    if (section == "gnns") {
      // GNNS ramp (the q_graph_search registration shape): corpus
      // replicated ×m with shifted ids, the query set FIXED at the base
      // 10 ids, plus a PLANTED 1000-vector near-duplicate cluster of
      // query 0 (a dense attractor — the adversarial case for a greedy
      // beam). Claims measured at scale: (a) graph BUILD is the ~linear
      // part (NN-descent candidate sets bounded by (2k)²+2k per node);
      // (b) SEARCH cost grows well below linearly in the corpus — the
      // beam frame is |queries|·beamWidth rows at every multiple, so
      // per-round cost is one broadcast-beam probe of the edge list,
      // never corpus² — and the planted cluster must not blow the beam
      // up (it is width-capped by the (cos DESC, id) top-B window);
      // (c) entry coverage: avg top-1 cosine at a FIXED entry/round
      // budget, reported per multiple, shows how far greedy routing
      // degrades as the same 4 hash-order entries serve an m× corpus.
      import graft.similarity.{GraphSearch, NnDescent}
      val emb1 = Tables.load(spark, base, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"))
      val queries = emb1.filter(col("vec_id") < 10).localCheckpoint(true)
      // NnDescent's derandomized ring init maps ids through `% n` — its
      // documented contract is DENSE 0-based ids (the q_nn_descent
      // corpus shape). Replicas therefore tile by max(id)+1 (the
      // replicate() discipline) and the planted cluster continues the
      // id space, or most init edges point at nonexistent ids and the
      // graph silently starves (measured: 55k edges for 201k nodes
      // with sparse 10^8 shifts).
      val shift = emb1.agg(max(col("vec_id"))).head().getLong(0) + 1L
      def planted(at: Long) = spark.range(1000)
        .crossJoin(broadcast(queries.filter(col("vec_id") === 0)
          .select(col("embedding").as("__qe"))))
        .select((col("id") + at).as("vec_id"),
          transform(col("__qe"), x =>
            (x.cast("double") * (lit(1.0) + col("id").cast("double") * lit(1e-5)))
              .cast("float")).as("embedding"))
      val exps = Seq(1, math.max(mult / 10, 2), mult).distinct.map { m => Pins.scope { p =>
        val em =
          if (m == 1) emb1
          else (0 until m).map(i => emb1
              .withColumn("vec_id", col("vec_id") + lit(i * shift)))
            .reduce(_ unionByName _)
        val path = s"$out/gnns_emb_$m"
        em.unionByName(planted(m * shift)).repartition(64)
          .write.mode("overwrite").parquet(path)
        val c = spark.read.parquet(path)
        val n = c.count()
        var graph: DataFrame = null
        val tb = time(s"gnns build ${m}x") {
          graph = p.pin(NnDescent.knnGraph(c, "vec_id", "embedding",
            k = 5, rounds = 3), true)
          graph.count()
        }
        var res: DataFrame = null
        val ts = time(s"gnns search ${m}x+planted") {
          res = GraphSearch.search(graph, c, queries,
            beamWidth = 4, rounds = 3, k = 3, nEntry = 4)
          res.count()
        }
        val avgTop1 = res.groupBy(col("query_id"))
          .agg(max(col("cos_sim")).as("c1"))
          .agg(avg(col("c1"))).head().getDouble(0)
        println(f"[scale] gnns ${m}x: $n vectors, avg top-1 cos $avgTop1%.4f")
        p.release(res)
        (m, n, tb, ts)
      } }
      val (m1, n1, tb1, ts1) = exps.head
      exps.tail.foreach { case (m, n, tb, ts) =>
        val ln = math.log(n.toDouble / n1)
        println(f"[scale] exponents ${m1}x->${m}x (vs vectors): " +
          f"gnns build ${math.log(tb / tb1) / ln}%.2f, " +
          f"search ${math.log(ts / ts1) / ln}%.2f")
      }
    }

    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Mixture

class MixtureSpec extends SparkSuite {
  import spark.implicits._

  private def docs = (0L until 4000L).map(i => (i, s"s${i % 4}")).toDF("id", "src")

  test("hash sampling is deterministic and approximates the rates") {
    val rates = Map("s0" -> 0.5, "s1" -> 0.1, "s2" -> 1.0)
    val once = Mixture.sample(docs, "src", "id", rates)
    val twice = Mixture.sample(docs, "src", "id", rates)
    val a = once.select("id", "epoch").as[(Long, Int)].collect().sorted
    assert(a === twice.select("id", "epoch").as[(Long, Int)].collect().sorted)

    val bySrc = once.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(math.abs(bySrc("s0") - 500) < 60)  // 1000 × 0.5
    assert(math.abs(bySrc("s1") - 100) < 40)  // 1000 × 0.1
    assert(bySrc("s2") === 1000L)             // rate 1.0 keeps all, exactly
    assert(!bySrc.contains("s3"))             // unlisted source dropped
  }

  test("split is deterministic, disjoint-exhaustive, and near the fractions") {
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val once = Mixture.split(docs, "id", fr)
    assert(once.select("id", "split").as[(Long, String)].collect().sorted ===
      Mixture.split(docs, "id", fr).select("id", "split").as[(Long, String)].collect().sorted)
    val counts = once.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 4000L) // exhaustive, no row dropped
    assert(math.abs(counts("train") - 3200) < 150)
    assert(math.abs(counts("val") - 400) < 100)
    assert(math.abs(counts("test") - 400) < 100)
  }

  test("capTokenBudget keeps prefix docs per group within the budget") {
    val d = Seq(
      (1L, "a", 800L), (2L, "a", 900L), (3L, "a", 400L), (4L, "a", 100L),
      (5L, "b", 1500L), (6L, "b", 600L))
      .toDF("id", "src", "n")
    val out = Mixture.capTokenBudget(d, "src", "id", "n", budget = 2000L)
      .select("id").as[Long].collect().sorted
    // a: 800+900=1700 ok, +400=2100 drops 3 AND everything after (prefix
    // semantics — 4 would fit alone but the cap is a running prefix)
    assert(out === Array(1L, 2L, 5L))
  }

  test("packSequences fills budget in order, overruns only at doc boundaries") {
    val d = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "a", 100L), // 3rd starts at 200 -> seq 0 (overrun)
      (4L, "a", 100L),                                   // starts 300 -> seq 1
      (5L, "b", 50L), (6L, "b", 300L))                   // b packs independently
      .toDF("id", "src", "n")
    val out = Mixture.packSequences(d, "src", "id", "n", budget = 256)
      .select("id", "seq_id", "seq_pos").as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 0, 0), (2L, 0, 100), (3L, 0, 200),
      (4L, 1, 44), (5L, 0, 0), (6L, 0, 50)))
  }

  test("ranged cap/pack equal the window forms on a hot-group corpus") {
    // one dominant group (the 90%-web-crawl shape the window variants
    // funnel through a single task) plus small groups; unique order key
    val rows = (1 to 20000).map { i =>
      val src = if (i % 10 == 0) s"s${i % 3}" else "web"
      (i.toLong, src, (i % 700 + 1).toLong)
    }
    val d = rows.toDF("id", "src", "n").repartition(16)
    val budget = 1000000L
    val capW = Mixture.capTokenBudget(d, "src", "id", "n", budget)
      .select("id").as[Long].collect().sorted.toSeq
    Pins.scope { p =>
      val capR = Mixture.capTokenBudgetRanged(d, "src", "id", "n", budget)
      assert(capR.select("id").as[Long].collect().sorted.toSeq === capW)
      p.release(capR)
    }
    val packW = Mixture.packSequences(d, "src", "id", "n", budget = 4096)
      .select("id", "seq_id", "seq_pos").as[(Long, Int, Int)]
      .collect().sortBy(_._1).toSeq
    Pins.scope { p =>
      val packR = Mixture.packSequencesRanged(d, "src", "id", "n", budget = 4096)
      assert(packR.select("id", "seq_id", "seq_pos").as[(Long, Int, Int)]
        .collect().sortBy(_._1).toSeq === packW)
      p.release(packR)
    }
  }

  test("rates above 1 replicate whole epochs plus a hash-sampled fraction") {
    val out = Mixture.sample(docs, "src", "id", Map("s0" -> 2.25))
    val perDoc = out.groupBy("id").count().as[(Long, Long)].collect().toMap
    // every s0 doc appears 2 or 3 times; fraction with 3 ≈ 0.25
    assert(perDoc.values.forall(n => n == 2L || n == 3L))
    val share3 = perDoc.values.count(_ == 3L).toDouble / perDoc.size
    assert(math.abs(share3 - 0.25) < 0.08)
    // epochs are dense 0..n-1 per doc
    val epochs = out.filter($"id" === perDoc.keys.head)
      .select("epoch").as[Int].collect().sorted
    assert(epochs === (0 until epochs.length).toArray)
  }

  test("A-Res without replacement: exact k, weight-proportional, stable") {
    import org.apache.spark.sql.functions._
    val rows = (1L to 1000L).map(i => (i, if (i <= 500) 10L else 1L))
    val df = rows.toDF("id", "w")
      .withColumn("h", col("id") % 1048573L * 2654435761L % 1000000L)
    val out = Mixture.sampleWithoutReplacement(
      df, k = 200, col("w"), col("h"), Seq(col("id").asc))
    val picked = out.select("id").as[Long].collect()
    assert(picked.length === 200)
    assert(picked.distinct.length === 200) // without replacement
    val heavy = picked.count(_ <= 500)
    // weight-10 rows must dominate a weight-1 population of equal size
    assert(heavy > 140, s"heavy=$heavy of 200")
    val again = Mixture.sampleWithoutReplacement(
      df.repartition(13), k = 200, col("w"), col("h"), Seq(col("id").asc))
      .select("id").as[Long].collect()
    assert(again.sorted === picked.sorted)
  }

  test("temperatureQuotas: exact sqrt apportionment, largest-remainder bump") {
    // counts 100 vs 400: sqrt weights 10:20 split a budget of 30
    // EXACTLY 10:20 (all remainders zero — hand-checkable)
    assert(Mixture.temperatureQuotas(Seq("a" -> 100L, "b" -> 400L), 30L)
      === Map("a" -> 10L, "b" -> 20L))
    // counts 2 vs 3, budget 3: both floors are 1; b's remainder is
    // larger, so b takes the bump — sum is exactly the budget
    assert(Mixture.temperatureQuotas(Seq("a" -> 2L, "b" -> 3L), 3L)
      === Map("a" -> 1L, "b" -> 2L))
  }

  test("temperatureSample upweights low-resource groups and is partition-stable") {
    // 1600 docs in src0, 100 in each of src1..3: proportional sampling
    // gives src0 84%; sqrt temperature must pull it down toward 57%
    val skewed = ((0L until 1600L).map(i => (i, "big")) ++
      (0L until 300L).map(i => (2000L + i, s"small${i % 3}")))
      .toDF("doc_id", "lang")
    val h = (col("doc_id") % 1048573L) * 2654435761L % 1000000L
    val out = Mixture.temperatureSample(skewed, "lang", "doc_id", 100L, h)
    val quotas = out.filter(col("kept")).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(quotas.values.sum === 100L)
    // sqrt weights: 40 vs 10+10+10 -> big gets 40/70 ≈ 57, each small ≈ 14
    assert(quotas("big") >= 55L && quotas("big") <= 59L, quotas.toString)
    assert(quotas("small0") >= 13L && quotas("small0") <= 16L)
    // proportional would have been 84 — the temperature bites
    // partition-stability: the kept SET is identical after a reshuffle
    val kept1 = out.filter(col("kept")).select("doc_id").as[Long].collect().sorted
    val kept2 = Mixture.temperatureSample(skewed.repartition(17), "lang",
        "doc_id", 100L, h)
      .filter(col("kept")).select("doc_id").as[Long].collect().sorted
    assert(kept1 === kept2)
  }

  test("temperatureSample: a budget beyond the corpus keeps whole groups") {
    // the apportionment is exact, not capacity-aware: a group whose
    // quota exceeds its size simply keeps every row (srank never
    // reaches the quota), so total kept is the corpus, not the budget
    val tiny = ((0L until 8L).map(i => (i, "en")) ++
      (100L until 103L).map(i => (i, "fr"))).toDF("doc_id", "lang")
    val out = Mixture.temperatureSample(tiny, "lang", "doc_id", 1000L,
      (col("doc_id") % 1048573L) * 2654435761L % 1000000L)
    assert(out.filter(col("kept")).count() === 11L)
    val quotas = out.select("lang", "quota").distinct()
      .as[(String, Long)].collect().toMap
    assert(quotas.values.sum === 1000L) // quotas still sum to the budget
    assert(quotas("en") > 8L && quotas("fr") > 3L)
  }

  test("temperatureSample fails loudly on a NULL group") {
    val withNull = Seq((1L, "en"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "lang")
    val err = intercept[IllegalArgumentException] {
      Mixture.temperatureSample(withNull, "lang", "doc_id", 1L, col("doc_id"))
    }
    assert(err.getMessage.contains("NULL lang"))
  }
}

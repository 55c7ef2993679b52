package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Streaming event analytics: watermarked windows drop late data and bound
  * state; stateful sessionization emits closed sessions exactly once. */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._
  import EventAnalytics._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  test("windowedCounts: tumbling windows aggregate by type; late event dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = windowedCounts(events, windowLength = "10 minutes", lateness = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    input.addData((ts(1), 1L, "click", 1.0), (ts(2), 1L, "click", 2.0), (ts(3), 2L, "view", 5.0))
    q.processAllAvailable()
    // Advance the watermark far past the first window, then send a LATE
    // event into it — must be dropped, and the first window finalizes:
    input.addData((ts(60), 1L, "click", 1.0))
    q.processAllAvailable()
    input.addData((ts(2), 9L, "click", 100.0)) // late by ~55 min > 5 min watermark
    q.processAllAvailable()
    input.addData((ts(120), 1L, "click", 1.0)) // push watermark to close window 2
    q.processAllAvailable()
    q.stop()

    val out = spark.table("win_out")
      .selectExpr("window_start", "event_type", "n", "CAST(total_value AS DOUBLE) v")
      .as[(Timestamp, String, Long, Double)].collect()
    val firstWindowClicks = out.filter(r => r._1 == Timestamp.valueOf("2024-01-01 10:00:00") && r._2 == "click")
    assert(firstWindowClicks.length === 1)
    assert(firstWindowClicks.head._3 === 2L)   // late 100.0 click NOT counted
    assert(firstWindowClicks.head._4 === 3.0)
    assert(out.exists(r => r._2 == "view" && r._3 == 1L))
  }

  test("windowedDistinctUsers: HLL registers as window state == batch run; duplicates free") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = windowedDistinctUsers(events, windowLength = "10 minutes", lateness = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("wdu_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    // Window 1: users 1,2,1 (a duplicate) click; user 3 views.
    val w1 = Seq((ts(1), 1L, "click", 1.0), (ts(2), 2L, "click", 1.0),
      (ts(3), 1L, "click", 1.0), (ts(4), 3L, "view", 1.0))
    input.addData(w1: _*)
    q.processAllAvailable()
    input.addData((ts(60), 9L, "click", 1.0)) // advance watermark, finalize w1
    q.processAllAvailable()
    input.addData((ts(120), 9L, "click", 1.0)) // finalize the ts(60) window too
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("wdu_out")
      .select("window_start", "event_type", "approx_users", "s_scaled", "zero_buckets")
      .as[(Timestamp, String, Double, Long, Long)].collect().toSet
    val batch = windowedDistinctUsers(
      (w1 ++ Seq((ts(60), 9L, "click", 1.0), (ts(120), 9L, "click", 1.0)))
        .toDF("ts", "user_id", "event_type", "value"))
      .select("window_start", "event_type", "approx_users", "s_scaled", "zero_buckets")
      .as[(Timestamp, String, Double, Long, Long)].collect().toSet
    assert(streamed.subsetOf(batch)) // stream may not have finalized the last window
    val w1Click = streamed.find(r =>
      r._1 == Timestamp.valueOf("2024-01-01 10:00:00") && r._2 == "click").get
    // Linear counting: 1024·ln(1024/1022) = 2.002 for users {1,2}; the
    // duplicate click from user 1 must not move it.
    assert(math.abs(w1Click._3 - 2.0) < 0.1, s"got ${w1Click._3}")
    assert(streamed.exists(r => r._2 == "view" && math.abs(r._3 - 1.0) < 0.1))
  }

  test("windowedDistinctUsers: null user_id is skipped, never a crash or phantom register") {
    // The typed HLL aggregator's Long input is non-nullable; a null user_id
    // must hit the -1 skip sentinel (not a deserializer NPE) and must not
    // occupy a register. Batch mode drives the same aggregator code path.
    val withNull = Seq(
      (ts(1), Option(1L), "click", 1.0), (ts(2), Option(2L), "click", 1.0),
      (ts(3), Option.empty[Long], "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
    val withoutNull = Seq(
      (ts(1), Option(1L), "click", 1.0), (ts(2), Option(2L), "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
    def run(df: org.apache.spark.sql.DataFrame) =
      windowedDistinctUsers(df)
        .select("window_start", "event_type", "approx_users", "s_scaled", "zero_buckets")
        .as[(Timestamp, String, Double, Long, Long)].collect().toSet
    val a = run(withNull)
    assert(a === run(withoutNull)) // the null row is invisible to the sketch
    assert(math.abs(a.head._3 - 2.0) < 0.1)
  }

  test("trimSpansEachBatch: micro-batched excision == one batch pass, any batch split") {
    import graft.functions.Dedup
    implicit val sqlCtx = spark.sqlContext
    // Corpus with a shared boilerplate span (n=3 shingle in 2 docs) and
    // unique content; built as the STANDING snapshot a batch pass persists.
    val corpus = Seq(
      (1L, "breaking news subscribe to our newsletter today for cats"),
      (2L, "dogs are great subscribe to our newsletter today always"),
      (3L, "entirely unique prose with no repeats at all")).toDF("doc_id", "text")
    val repeated = Dedup.repeatedShingles(corpus, "doc_id", "text", n = 3, minDocs = 2)
      .cache() // the persisted-snapshot stand-in
    val want = Dedup.trimSpansAgainst(corpus, repeated, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(want.exists(_._3 > 0L), "fixture has no excised span")

    // Stream the SAME docs in two micro-batches split mid-boilerplate-pair.
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(EventAnalytics.trimSpansEachBatch(
        repeated, "doc_id", "text", n = 3) { out =>
        acc.synchronized {
          acc ++= out.as[(Long, Long, Long, String)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    input.addData((1L, "breaking news subscribe to our newsletter today for cats"))
    q.processAllAvailable()
    input.addData(
      (2L, "dogs are great subscribe to our newsletter today always"),
      (3L, "entirely unique prose with no repeats at all"))
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === want,
      "stream excision diverged from the batch pass")
  }

  test("dsirGateEachBatch: micro-batched gate == batch scoring against a persisted fit") {
    import graft.functions.Sampling
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    def mk(vocab: Seq[String], i: Long, n: Int): String =
      (0 until n).map(j => vocab(((i + j * 7) % vocab.size).toInt)).mkString(" ")
    val sv = Seq("spark", "shuffle", "partition", "executor")
    val bv = Seq("flour", "sugar", "butter", "oven")
    val raw = ((0L until 8L).map(i => (i, mk(sv, i, 12))) ++
      (8L until 16L).map(i => (i, mk(bv, i, 12)))).toDF("doc_id", "text")
    val target = (100L until 106L).map(i => (i, mk(sv, i, 10))).toDF("doc_id", "text")

    // Fit offline, PERSIST the ratio table, serve from the reloaded copy —
    // the standing-artifact lifecycle the scaladoc promises.
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("dsir_fit_").toString)
    store.overwrite("dsir_ratio",
      Sampling.dsirFit(raw, "text", target, "text", buckets = 512))
    val ratio = store.load("dsir_ratio")

    val scored = Sampling.dsirScore(raw, "doc_id", "text", ratio, 512)
    val all = scored.select("doc_id", "log_w").as[(Long, Double)].collect().toMap
    // Disjoint vocabularies separate the halves; the ABSOLUTE level is
    // smoothing-dependent (a small target flattens every ratio toward 0),
    // so the gate threshold comes from the observed margin, as a real
    // deployment would calibrate it on held-out scores.
    val sparkyMin = (0L until 8L).map(all).min
    val bakeyMax = (8L until 16L).map(all).max
    assert(sparkyMin > bakeyMax, s"no margin: $sparkyMin <= $bakeyMax")
    val thr = (sparkyMin + bakeyMax) / 2
    val want = raw.join(scored, Seq("doc_id")).filter($"log_w" >= thr)
      .select("doc_id", "log_w").as[(Long, Double)].collect().toSet
    // The gate admits exactly the target-like half.
    assert(want.map(_._1) === (0L until 8L).toSet)

    // Stream the SAME docs in two micro-batches split across the halves.
    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(EventAnalytics.dsirGateEachBatch(
        ratio, "doc_id", "text", buckets = 512, minLogW = thr) { out =>
        acc.synchronized {
          acc ++= out.select("doc_id", "log_w").as[(Long, Double)].collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    val rows = raw.select("doc_id", "text").as[(Long, String)].collect()
    input.addData(rows.take(5).toSeq)
    q.processAllAvailable()
    input.addData(rows.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === want, "stream gate diverged from the batch scoring")
  }

  test("qualityGateEachBatch: micro-batched gate == batch scoring with a persisted model") {
    import graft.functions.QualityModel
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    // Separable corpus: long docs (many words) vs short ones; the trained
    // classifier must gate on exactly the long half.
    def txt(i: Long, n: Int) = (0 until n).map(j => s"w${(i + j) % 17}").mkString(" ")
    val docs = ((0L until 10L).map(i => (i, txt(i, 60))) ++
      (10L until 20L).map(i => (i, txt(i, 8)))).toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val feats = QualityModel.docFeatures($"text", $"n_chars")
    // Train offline, PERSIST the 1-row model, serve from the reloaded copy
    // — the train-offline / filter-online lifecycle the scaladoc promises
    // (parquet round-trips doubles losslessly, so the reloaded model
    // scores bit-identically).
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("lr_model_").toString)
    store.overwrite("quality_lr", QualityModel.logisticTrain(
      docs, feats, ($"n_chars" >= 100).cast("double"), steps = 10, lr = 2.0))
    val model = store.load("quality_lr")
    val want = QualityModel.scoreWith(docs, model, feats)
      .filter($"score" >= 0.5)
      .select("doc_id", "score").as[(Long, Double)].collect().toSet
    assert(want.map(_._1) === (0L until 10L).toSet,
      s"classifier should admit exactly the long half, got ${want.map(_._1)}")

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val q = input.toDF().toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .writeStream
      .foreachBatch(EventAnalytics.qualityGateEachBatch(model, feats, 0.5) { out =>
        acc.synchronized {
          acc ++= out.select("doc_id", "score").as[(Long, Double)].collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    input.addData(rows.take(7).toSeq)
    q.processAllAvailable()
    input.addData(rows.drop(7).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === want, "stream gate diverged from the batch scoring")
  }

  test("pplGateEachBatch: micro-batched gate == batch scoring against the frozen KN model") {
    import graft.functions.LmIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    // Template-like docs (natural bigrams) vs word salad; the frozen LM
    // must separate them, and the stream must admit exactly the batch-
    // computed survivors regardless of batch boundaries.
    val rnd = new scala.util.Random(19)
    val phrases = Vector("the cat sat", "on the mat", "a dog ran", "in the park")
    def natural(): String =
      (0 until 3).map(_ => phrases(rnd.nextInt(4))).mkString(" ")
    val pool = Vector("qx", "zv", "wk", "jj", "pf", "bn", "the", "cat")
    def salad(): String =
      (0 until 9).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val train = (1L to 40L).map(i => (i, natural())).toDF("doc_id", "text")
    val docs = ((100L to 109L).map(i => (i, natural())) ++
      (200L to 209L).map(i => (i, salad()))).toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm_gate_").toString)
    LmIndex.build(2, store, "lm", train, "doc_id", "text")
    // Threshold calibrated from the OBSERVED scores (the DSIR-gate
    // lesson): the midpoint of the two class means.
    val scores = LmIndex.score(2, store, "lm", docs, "doc_id", "text")
      .select($"doc_id", $"logprob").as[(Long, Double)].collect()
    val natMean = scores.filter(_._1 < 200).map(_._2).sum / 10
    val salMean = scores.filter(_._1 >= 200).map(_._2).sum / 10
    assert(natMean > salMean + 0.5,
      s"LM failed to separate template ($natMean) from salad ($salMean)")
    val thr = (natMean + salMean) / 2
    val want = scores.filter(_._2 >= thr).toSet
    assert(want.map(_._1).forall(_ < 200L) && want.size === 10,
      s"threshold should admit exactly the natural half: $want")

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val gate = EventAnalytics.pplGateEachBatch(
      2, store, "lm", "doc_id", "text", minLogprob = thr) { out =>
      acc.synchronized {
        acc ++= out.select("doc_id", "logprob").as[(Long, Double)].collect()
      }
      ()
    }
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(gate)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    input.addData(rows.take(7).toSeq)
    q.processAllAvailable()
    input.addData(rows.drop(7).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === want, "stream ppl gate diverged from batch scoring")
    gate.release()

    // Reserved-column guard: a batch already carrying logprob fails loudly.
    val gate2 = EventAnalytics.pplGateEachBatch(
      2, store, "lm", "doc_id", "text", minLogprob = 0.0)(_ => ())
    val e = intercept[IllegalArgumentException](
      gate2(Seq((1L, "a", 0.5)).toDF("doc_id", "text", "logprob"), 0L))
    assert(e.getMessage.contains("pplGateEachBatch"))
    gate2.release()
  }

  test("pplGate3EachBatch: order-3 micro-batched gate == batch score3, " +
      "batch-boundary-free") {
    import graft.functions.LmIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val phrases = Vector("the cat sat", "on the mat", "a dog ran", "in the park")
    def natural(): String =
      (0 until 3).map(_ => phrases(rnd.nextInt(4))).mkString(" ")
    val pool = Vector("qx", "zv", "wk", "jj", "pf", "bn", "the", "cat")
    def salad(): String =
      (0 until 9).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val train = (1L to 40L).map(i => (i, natural())).toDF("doc_id", "text")
    val docs = ((100L to 109L).map(i => (i, natural())) ++
      (200L to 209L).map(i => (i, salad()))).toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm3_gate_").toString)
    LmIndex.build(3, store, "lm3", train, "doc_id", "text")
    val scores = LmIndex.score(3, store, "lm3", docs, "doc_id", "text")
      .select($"doc_id", $"logprob").as[(Long, Double)].collect()
    val natMean = scores.filter(_._1 < 200).map(_._2).sum / 10
    val salMean = scores.filter(_._1 >= 200).map(_._2).sum / 10
    assert(natMean > salMean + 0.5,
      s"order-3 LM failed to separate template ($natMean) from salad ($salMean)")
    val thr = (natMean + salMean) / 2
    val want = scores.filter(_._2 >= thr).toSet

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val gate = EventAnalytics.pplGateEachBatch(
      3, store, "lm3", "doc_id", "text", minLogprob = thr) { out =>
      acc.synchronized {
        acc ++= out.select("doc_id", "logprob").as[(Long, Double)].collect()
      }
      ()
    }
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(gate)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    input.addData(rows.take(7).toSeq)
    q.processAllAvailable()
    input.addData(rows.drop(7).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === want, "order-3 stream gate diverged from batch score3")
    gate.release()

    val gate2 = EventAnalytics.pplGateEachBatch(
      3, store, "lm3", "doc_id", "text", minLogprob = 0.0)(_ => ())
    val e = intercept[IllegalArgumentException](
      gate2(Seq((1L, "a", 0.5)).toDF("doc_id", "text", "logprob"), 0L))
    assert(e.getMessage.contains("pplGateEachBatch"))
    gate2.release()
  }

  test("pplGateMkn3EachBatch: modified-KN micro-batched gate == batch " +
      "scoreMkn3, batch-boundary-free, in BOTH pruner regimes") {
    import graft.functions.LmIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    val phrases = Vector("the cat sat", "on the mat", "a dog ran", "in the park")
    def natural(): String =
      (0 until 3).map(_ => phrases(rnd.nextInt(4))).mkString(" ")
    val pool = Vector("qx", "zv", "wk", "jj", "pf", "bn", "the", "cat")
    def salad(): String =
      (0 until 9).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val train = (1L to 40L).map(i => (i, natural())).toDF("doc_id", "text")
    val docs = ((100L to 109L).map(i => (i, natural())) ++
      (200L to 209L).map(i => (i, salad()))).toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_mkn3_gate_").toString)
    LmIndex.build(3, store, "lm3", train, "doc_id", "text")
    val fb = Some((0.5, 1.0, 1.5))
    val scores = LmIndex.score(3, store, "lm3", docs, "doc_id", "text",
      LmIndex.Mkn(fb))
      .select($"doc_id", $"logprob").as[(Long, Double)].collect()
    val natMean = scores.filter(_._1 < 200).map(_._2).sum / 10
    val salMean = scores.filter(_._1 >= 200).map(_._2).sum / 10
    assert(natMean > salMean + 0.5,
      s"modified-KN LM failed to separate template ($natMean) from salad ($salMean)")
    val thr = (natMean + salMean) / 2
    val want = scores.filter(_._2 >= thr).toSet

    // Drive once in the IN-pruning regime and once FORCED past the
    // probeMaxWords ceiling (the semi-join regime whose per-batch
    // checkpoint the gate must release) — identical decisions in both.
    for (ceiling <- Seq(None, Some("3"))) {
      ceiling.foreach(c => spark.conf.set("graft.lm.probeMaxWords", c))
      try {
        val input = MemoryStream[(Long, String)]
        val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
        val gate = EventAnalytics.pplGateEachBatch(3, store, "lm3",
          "doc_id", "text", minLogprob = thr, LmIndex.Mkn(fb)) { out =>
          acc.synchronized {
            acc ++= out.select("doc_id", "logprob").as[(Long, Double)].collect()
          }
          ()
        }
        val q = input.toDF().toDF("doc_id", "text")
          .writeStream
          .foreachBatch(gate)
          .trigger(Trigger.ProcessingTime("1 second"))
          .start()
        val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
        input.addData(rows.take(7).toSeq)
        q.processAllAvailable()
        input.addData(rows.drop(7).toSeq)
        q.processAllAvailable()
        q.stop()
        assert(acc.toSet === want,
          s"modified-KN stream gate diverged from batch scoreMkn3 " +
            s"(probeMaxWords=$ceiling)")
        gate.release()
      } finally ceiling.foreach(_ => spark.conf.unset("graft.lm.probeMaxWords"))
    }

    val gate2 = EventAnalytics.pplGateEachBatch(3, store, "lm3", "doc_id",
      "text", minLogprob = 0.0, LmIndex.Mkn())(_ => ())
    val e = intercept[IllegalArgumentException](
      gate2(Seq((1L, "a", 0.5)).toDF("doc_id", "text", "logprob"), 0L))
    assert(e.getMessage.contains("pplGateEachBatch"))
    gate2.release()
  }

  test("order-5 gates (KN and modified-KN): micro-batched == batch " +
      "score5/scoreMkn5, batch-boundary-free; semi-join regime too") {
    import graft.functions.LmIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val phrases = Vector("the cat sat on", "the mat today", "a dog ran fast",
      "in the big park")
    def natural(): String =
      (0 until 3).map(_ => phrases(rnd.nextInt(4))).mkString(" ")
    val pool = Vector("qx", "zv", "wk", "jj", "pf", "bn", "the", "cat")
    def salad(): String =
      (0 until 12).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val train = (1L to 40L).map(i => (i, natural())).toDF("doc_id", "text")
    val docs = ((100L to 109L).map(i => (i, natural())) ++
      (200L to 209L).map(i => (i, salad()))).toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm5_gate_").toString)
    LmIndex.build(5, store, "lm5", train, "doc_id", "text")
    val fb = Some((0.5, 1.0, 1.5))

    // KN gate: threshold from observed batch scores.
    val kn = LmIndex.score(5, store, "lm5", docs, "doc_id", "text")
      .select($"doc_id", $"logprob").as[(Long, Double)].collect()
    val thrKn = (kn.filter(_._1 < 200).map(_._2).sum / 10 +
      kn.filter(_._1 >= 200).map(_._2).sum / 10) / 2
    val wantKn = kn.filter(_._2 >= thrKn).toSet
    assert(wantKn.nonEmpty && wantKn.size < kn.length,
      "fixture too weak: the order-5 KN threshold does not separate")
    for (ceiling <- Seq(None, Some("3"))) {
      ceiling.foreach(c => spark.conf.set("graft.lm.probeMaxWords", c))
      try {
        val acc = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
        val gate = EventAnalytics.pplGateEachBatch(
          5, store, "lm5", "doc_id", "text", minLogprob = thrKn) { out =>
          acc.synchronized {
            acc ++= out.select("doc_id", "logprob").as[(Long, Double)].collect()
          }
          ()
        }
        val input = MemoryStream[(Long, String)]
        val q = input.toDF().toDF("doc_id", "text")
          .writeStream.foreachBatch(gate)
          .trigger(Trigger.ProcessingTime("1 second")).start()
        val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
        input.addData(rows.take(7).toSeq)
        q.processAllAvailable()
        input.addData(rows.drop(7).toSeq)
        q.processAllAvailable()
        q.stop()
        assert(acc.toSet === wantKn,
          s"order-5 stream gate diverged from batch score5 ($ceiling)")
        gate.release()
      } finally ceiling.foreach(_ => spark.conf.unset("graft.lm.probeMaxWords"))
    }

    // Modified-KN gate: same corpus, same contract.
    val mkn = LmIndex.score(5, store, "lm5", docs, "doc_id", "text",
      LmIndex.Mkn(fb))
      .select($"doc_id", $"logprob").as[(Long, Double)].collect()
    val thrM = (mkn.filter(_._1 < 200).map(_._2).sum / 10 +
      mkn.filter(_._1 >= 200).map(_._2).sum / 10) / 2
    val wantM = mkn.filter(_._2 >= thrM).toSet
    val accM = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val gateM = EventAnalytics.pplGateEachBatch(
      5, store, "lm5", "doc_id", "text", minLogprob = thrM, LmIndex.Mkn(fb)) { out =>
      accM.synchronized {
        accM ++= out.select("doc_id", "logprob").as[(Long, Double)].collect()
      }
      ()
    }
    val inputM = MemoryStream[(Long, String)]
    val qM = inputM.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(gateM)
      .trigger(Trigger.ProcessingTime("1 second")).start()
    val rowsM = docs.select("doc_id", "text").as[(Long, String)].collect()
    inputM.addData(rowsM.take(7).toSeq)
    qM.processAllAvailable()
    inputM.addData(rowsM.drop(7).toSeq)
    qM.processAllAvailable()
    qM.stop()
    assert(accM.toSet === wantM,
      "order-5 modified-KN stream gate diverged from batch scoreMkn5")
    gateM.release()

    val gate2 = EventAnalytics.pplGateEachBatch(
      5, store, "lm5", "doc_id", "text", minLogprob = 0.0)(_ => ())
    val e = intercept[IllegalArgumentException](
      gate2(Seq((1L, "a", 0.5)).toDF("doc_id", "text", "logprob"), 0L))
    assert(e.getMessage.contains("pplGateEachBatch"))
    gate2.release()
  }

  test("qualityGateEachBatch rejects a batch already carrying a feature or score column") {
    import graft.functions.QualityModel
    val feats = QualityModel.docFeatures($"text", $"n_chars")
    val model = QualityModel.logisticTrain(
      Seq((1L, "a b c", 5L), (2L, "d e f g h i j k l m n o p q r s t", 40L))
        .toDF("doc_id", "text", "n_chars"),
      feats, ($"n_chars" >= 20).cast("double"), steps = 2, lr = 1.0)
    val poisoned = Seq((1L, "a b", 3L, 0.9))
      .toDF("doc_id", "text", "n_chars", "score")
    val gate = EventAnalytics.qualityGateEachBatch(model, feats, 0.5)(_ => ())
    val e = intercept[IllegalArgumentException](gate(poisoned, 0L))
    assert(e.getMessage.contains("score"))
  }

  test("driftAlarmEachBatch: per-batch drift == batch-mode drift; drifted batch alarms") {
    import graft.functions.Sampling
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    def mk(vocab: Seq[String], i: Long, n: Int): String =
      (0 until n).map(j => vocab(((i + j * 7) % vocab.size).toInt)).mkString(" ")
    val sv = Seq("spark", "shuffle", "partition", "executor")
    val bv = Seq("flour", "sugar", "butter", "oven")
    val baselineCorpus = (0L until 10L).map(i => (i, mk(sv, i, 20))).toDF("doc_id", "text")

    // Aggregate the baseline histogram ONCE, persist, serve from the reload.
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("drift_base_").toString)
    store.overwrite("baseline_hist",
      Sampling.bucketCounts(baselineCorpus, "text", buckets = 512))
    val baseline = store.load("baseline_hist")

    val likeBatch = (50L until 55L).map(i => (i, mk(sv, i, 15)))
    val driftBatch = (60L until 65L).map(i => (i, mk(bv, i, 15)))

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Double, Double, Long)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(EventAnalytics.driftAlarmEachBatch(
        baseline, "text", buckets = 512) { out =>
        acc.synchronized {
          acc ++= out.select("js_divergence", "l1_distance", "batch_id")
            .as[(Double, Double, Long)].collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    input.addData(likeBatch)
    q.processAllAvailable()
    input.addData(driftBatch)
    q.processAllAvailable()
    q.stop()

    val byBatch = acc.sortBy(_._3).toVector
    assert(byBatch.size === 2)
    // Each batch's alarm row equals the batch-mode computation on the
    // same rows against the same persisted baseline.
    val wantLike = Sampling.driftAgainstCounts(baseline,
      Sampling.bucketCounts(likeBatch.toDF("doc_id", "text"), "text", 512))
      .as[(Double, Double, Long, Long, Long)].head()
    val wantDrift = Sampling.driftAgainstCounts(baseline,
      Sampling.bucketCounts(driftBatch.toDF("doc_id", "text"), "text", 512))
      .as[(Double, Double, Long, Long, Long)].head()
    assert(byBatch(0)._1 === wantLike._1 && byBatch(0)._2 === wantLike._2)
    assert(byBatch(1)._1 === wantDrift._1 && byBatch(1)._2 === wantDrift._2)
    // The same-distribution batch sits far below the disjoint one, which
    // alarms at the JS maximum (disjoint vocabularies -> ln 2).
    assert(byBatch(0)._1 < 0.3, s"like-batch js ${byBatch(0)._1}")
    assert(math.abs(byBatch(1)._1 - math.log(2.0)) < 1e-4, s"drift js ${byBatch(1)._1}")
  }

  test("annProbeEachBatch: micro-batched probes == one batch probe; mutations land next batch") {
    import graft.functions.AnnIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0L until 40L).map { i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)
    }.toDF("vec_id", "embedding")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("ann_stream_").toString)
    AnnIndex.buildIvf(store, "ivf", corpus, "vec_id", "embedding", nlist = 8)

    def batchProbe(qs: Seq[Long]): Set[(Long, Long, Double, Int)] =
      AnnIndex.ivfTopK(store, "ivf",
          corpus.filter($"vec_id".isInCollection(qs)), "vec_id", "embedding",
          k = 3, nprobe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet

    val input = MemoryStream[(Long, Array[Float])]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int)]()
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(EventAnalytics.annProbeEachBatch(
        store, "ivf", "vec_id", "embedding", k = 3, nprobe = 2) { out =>
        acc.synchronized {
          acc ++= out.as[(Long, Long, Double, Int)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    val vecs = (0L until 6L).map(i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)).toMap
    // Split one logical query set mid-stream: results must equal ONE
    // batch probe over the union.
    input.addData(0L -> vecs(0L), 1L -> vecs(1L))
    q.processAllAvailable()
    input.addData(2L -> vecs(2L), 3L -> vecs(3L))
    q.processAllAvailable()
    assert(acc.toSet === batchProbe(0L to 3L),
      "stream probe diverged from the one-batch probe")

    // Standing-index freshness: an append and a tombstone land in the
    // NEXT micro-batch's probe (each batch re-reads the index tables).
    val deleted = acc.find(_._1 == 0L).map(_._2).get
    AnnIndex.appendIvf(store, "ivf",
      Seq(100L -> vecs(0L)).toDF("vec_id", "embedding"), "vec_id", "embedding")
    AnnIndex.deleteVectors(store, "ivf", Seq(deleted).toDF("vec_id"), "vec_id")
    acc.synchronized(acc.clear())
    input.addData(0L -> vecs(0L))
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === batchProbe(Seq(0L)),
      "post-mutation stream probe diverged from the current-index batch probe")
    assert(acc.exists(_._2 == 100L), "appended vector not reachable next batch")
    assert(!acc.exists(_._2 == deleted), "tombstoned id still served")
  }

  test("bm25ProbeEachBatch: micro-batched probes == one batch probe; rebuild lands next batch") {
    import graft.functions.LexIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "spark broadcasts small tables"),
      (3L, "ducks swim across the pond"),
      (4L, "the pond holds small ducks")).toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("lex_stream_").toString)
    LexIndex.build(store, "lex", corpus, "doc_id", "text")

    def batchProbe(qs: Seq[(Long, String)]): Set[(Long, Long, Double, Long)] =
      LexIndex.bm25TopK(store, "lex", qs.toDF("qid", "qtext"),
          "qid", "qtext", k = 3)
        .as[(Long, Long, Double, Long)].collect().toSet

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    val q = input.toDF().toDF("qid", "qtext")
      .writeStream
      .foreachBatch(EventAnalytics.bm25ProbeEachBatch(
        store, "lex", "qid", "qtext", k = 3) { out =>
        acc.synchronized {
          acc ++= out.as[(Long, Long, Double, Long)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()

    // Split one logical query set mid-stream: results must equal ONE
    // batch probe over the union.
    input.addData(10L -> "spark data", 11L -> "small ducks")
    q.processAllAvailable()
    input.addData(12L -> "the pond")
    q.processAllAvailable()
    assert(acc.toSet === batchProbe(
      Seq(10L -> "spark data", 11L -> "small ducks", 12L -> "the pond")),
      "stream probe diverged from the one-batch probe")

    // Standing-index freshness: a rebuild over a grown corpus lands in
    // the NEXT micro-batch (each batch re-reads the index tables).
    LexIndex.build(store, "lex",
      corpus.unionByName(Seq((5L, "ducks ducks ducks")).toDF("doc_id", "text")),
      "doc_id", "text")
    acc.synchronized(acc.clear())
    input.addData(13L -> "ducks")
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === batchProbe(Seq(13L -> "ducks")),
      "post-rebuild stream probe diverged from the current-index batch probe")
    assert(acc.exists(_._2 == 5L), "rebuilt corpus doc not reachable next batch")

    // PINNED serve equals the fresh path over the same batches (the
    // snapshot was taken after the rebuild, so results match the live
    // index).
    val snap = LexIndex.snapshot(store, "lex")
    val pinnedAcc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    val input2 = MemoryStream[(Long, String)]
    val q2 = input2.toDF().toDF("qid", "qtext")
      .writeStream
      .foreachBatch(EventAnalytics.bm25ProbeEachBatchPinned(
        snap, "qid", "qtext", k = 3) { out =>
        pinnedAcc.synchronized {
          pinnedAcc ++= out.as[(Long, Long, Double, Long)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    input2.addData(10L -> "spark data", 13L -> "ducks")
    q2.processAllAvailable()
    q2.stop()
    snap.release()
    assert(pinnedAcc.toSet ===
      batchProbe(Seq(10L -> "spark data", 13L -> "ducks")),
      "pinned stream probe diverged from the fresh batch probe")
  }

  test("rm3ProbeEachBatchPinned: micro-batched two-pass probes == one batch RM3") {
    import graft.functions.{LexIndex, TextAnalysis}
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "spark broadcasts small tables"),
      (3L, "ducks swim across the pond"),
      (4L, "the pond holds small ducks")).toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("lex_rm3_stream_").toString)
    LexIndex.build(store, "lex", corpus, "doc_id", "text")
    val snap = LexIndex.snapshot(store, "lex")

    val input = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    val q = input.toDF().toDF("qid", "qtext")
      .writeStream
      .foreachBatch(EventAnalytics.rm3ProbeEachBatchPinned(
        snap, "qid", "qtext", k = 3, fbK = 2, m = 2) { out =>
        acc.synchronized {
          acc ++= out.as[(Long, Long, Double, Long)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    // One logical query set split across micro-batches: per-query RM3
    // depends only on the query row and the pinned index, so the union
    // of per-batch results must equal ONE batch pass over the union.
    input.addData(10L -> "spark data")
    q.processAllAvailable()
    input.addData(11L -> "small ducks")
    q.processAllAvailable()
    q.stop()
    snap.release()
    val batch = TextAnalysis.bm25Rm3TopK(corpus, "doc_id", "text",
        Seq(10L -> "spark data", 11L -> "small ducks").toDF("qid", "qtext"),
        "qid", "qtext", k = 3, fbK = 2, m = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(acc.toSet === batch,
      "streamed RM3 probe diverged from the one-batch inline RM3")
  }

  test("hybridProbeEachBatch: micro-batched fused probes == one batch fusion") {
    import graft.functions.{AnnIndex, LexIndex}
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "spark broadcasts small tables"),
      (3L, "ducks swim across the pond"),
      (4L, "the pond holds small ducks")).toDF("doc_id", "text")
    val vecs = (1L to 4L).map(i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)).toMap
    val emb = vecs.toSeq.toDF("doc_id", "embedding")
    val lexStore = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("hyb_lex_").toString)
    val annStore = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("hyb_ann_").toString)
    LexIndex.build(lexStore, "lex", docs, "doc_id", "text")
    AnnIndex.buildIvf(annStore, "ivf", emb, "doc_id", "embedding", nlist = 2)

    val queries = Seq(
      (10L, "spark data", vecs(1L)),
      (11L, "small ducks", vecs(4L)),
      (12L, "the pond", vecs(3L)))
    def direct(qs: Seq[(Long, String, Array[Float])]): Set[(Long, Long, Double, Long, Long)] = {
      val qdf = qs.toDF("qid", "qtext", "qvec")
      val lex = LexIndex.bm25TopK(lexStore, "lex", qdf, "qid", "qtext", k = 3)
        .select($"qid", $"doc_id", $"rnk")
      val ann = AnnIndex.ivfTopK(annStore, "ivf", qdf, "qid", "qvec", k = 3, nprobe = 2)
        .select($"query_id".as("qid"), $"vec_id".as("doc_id"),
          $"rank".cast("long").as("rnk"))
      LexIndex.rrfFuse(Seq(lex, ann), "qid", "doc_id", "rnk", k = 3)
        .as[(Long, Long, Double, Long, Long)].collect().toSet
    }

    val input = MemoryStream[(Long, String, Array[Float])]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long, Long)]()
    val q = input.toDF().toDF("qid", "qtext", "qvec")
      .writeStream
      .foreachBatch(EventAnalytics.hybridProbeEachBatch(
        lexStore, "lex", annStore, "ivf",
        "qid", "qtext", "qvec", k = 3, nprobe = 2) { out =>
        acc.synchronized {
          acc ++= out.as[(Long, Long, Double, Long, Long)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    input.addData(queries(0), queries(1))
    q.processAllAvailable()
    input.addData(queries(2))
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === direct(queries),
      "streamed hybrid fusion diverged from the one-batch fusion")
    // Both retrievers genuinely contribute: some fused row carries
    // n_systems = 2 (the lexical and vector rankings agreed on a doc).
    assert(acc.exists(_._4 == 2L), s"no doubly-retrieved doc in ${acc.toSeq}")
  }

  test("hybridProbeEachBatchPinned: snapshot serve == fresh serve, no store reads per batch") {
    import graft.functions.{AnnIndex, LexIndex}
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "spark broadcasts small tables"),
      (3L, "ducks swim across the pond"),
      (4L, "the pond holds small ducks")).toDF("doc_id", "text")
    val vecs = (1L to 4L).map(i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)).toMap
    val emb = vecs.toSeq.toDF("doc_id", "embedding")
    val lexStore = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("hybp_lex_").toString)
    val annStore = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("hybp_ann_").toString)
    LexIndex.build(lexStore, "lex", docs, "doc_id", "text", forwardIndex = true)
    AnnIndex.buildIvf(annStore, "ivf", emb, "doc_id", "embedding", nlist = 2)
    val queries = Seq(
      (10L, "spark data", vecs(1L)),
      (11L, "small ducks", vecs(4L)),
      (12L, "the pond", vecs(3L)))

    def drive(probe: (org.apache.spark.sql.DataFrame => Unit) =>
        (org.apache.spark.sql.DataFrame, Long) => Unit)
        : Set[(Long, Long, Double, Long, Long)] = {
      val input = MemoryStream[(Long, String, Array[Float])]
      val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long, Long)]()
      val q = input.toDF().toDF("qid", "qtext", "qvec")
        .writeStream
        .foreachBatch(probe { out =>
          acc.synchronized {
            acc ++= out.as[(Long, Long, Double, Long, Long)](implicitly).collect()
          }
          ()
        })
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      input.addData(queries(0), queries(1))
      q.processAllAvailable()
      input.addData(queries(2))
      q.processAllAvailable()
      q.stop()
      acc.toSet
    }

    val fresh = drive(EventAnalytics.hybridProbeEachBatch(
      lexStore, "lex", annStore, "ivf", "qid", "qtext", "qvec", k = 3, nprobe = 2))
    val lexSnap = LexIndex.snapshot(lexStore, "lex")
    val annSnap = AnnIndex.ivfSnapshot(annStore, "ivf")
    val pinned = drive(EventAnalytics.hybridProbeEachBatchPinned(
      lexSnap, annSnap, "qid", "qtext", "qvec", k = 3, nprobe = 2))
    lexSnap.release()
    annSnap.release()
    assert(pinned === fresh, "pinned hybrid serve diverged from the fresh path")
  }

  test("annProbePqEachBatch: micro-batched ADC probes == one batch probe") {
    import graft.functions.AnnIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0L until 40L).map { i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)
    }.toDF("vec_id", "embedding")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("ann_stream_pq_").toString)
    AnnIndex.buildPq(store, "pq", corpus, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 4)
    val vecs = (0L until 4L).map(i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)).toMap
    val want = AnnIndex.pqAdcTopK(store, "pq",
        corpus.filter($"vec_id" < 4), "vec_id", "embedding", dims = 8, m = 4, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet

    val input = MemoryStream[(Long, Array[Float])]
    val acc = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch(EventAnalytics.annProbePqEachBatch(
        store, "pq", "vec_id", "embedding", dims = 8, m = 4, k = 3) { out =>
        acc.synchronized {
          acc ++= out.as[(Long, Long, Double, Long)](implicitly).collect()
        }
        ()
      })
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    input.addData(0L -> vecs(0L), 1L -> vecs(1L))
    q.processAllAvailable()
    input.addData(2L -> vecs(2L), 3L -> vecs(3L))
    q.processAllAvailable()
    q.stop()
    assert(acc.toSet === want, "stream ADC probe diverged from the batch probe")
  }

  test("curateStream: quality/lang gates drop, content dedup keeps first, survivors flow") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text", "lang")
    val q = curateStream(docs, "ts", "text", "lang", qualityMin = 0.6)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("curate_out").start()
    input.addData(
      (ts(1), 1L, "the cat of the hat", "en"),          // survives (quality 0.62)
      (ts(2), 2L, "the cat of the hat", "en"),          // exact dup -> dropped
      (ts(3), 3L, "der hund und die katze ist", "en"),  // lang mismatch -> dropped
      (ts(4), 4L, "!!!", "en"))                          // quality -> dropped
    q.processAllAvailable()
    input.addData((ts(5), 5L, "a dog and the bird to fly", "en")) // new content survives
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("curate_out").as[Long].collect().toSet
    assert(kept === Set(1L, 5L))
  }

  test("cmsBuild as streaming state: cells accumulate across batches == batch build") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val q = graft.functions.Sketches
      .cmsBuild(input.toDF().toDF("k"), "k", depth = 4, width = 16)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_out").start()
    input.addData(1L to 20L: _*)
    q.processAllAvailable()
    input.addData(Seq.fill(5)(7L): _*)   // second batch adds into cells
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cms_out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.functions.Sketches
      .cmsBuild(((1L to 20L) ++ Seq.fill(5)(7L)).toDF("k"), "k", 4, 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("valueQuantiles: DDSketch streaming state converges to the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = valueQuantiles(events, "event_type", "value")
      .writeStream.outputMode("complete").format("memory").queryName("ddq_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    val rows = (1 to 300).map(i =>
      (ts(i % 50), i.toLong, if (i % 2 == 0) "click" else "view", (i % 97) + 0.5))
    val (a, b) = rows.splitAt(120)
    input.addData(a: _*); q.processAllAvailable()
    input.addData(b: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ddq_out")
      .selectExpr("event_type", "quantile_buckets")
      .as[(String, Seq[Int])].collect().toMap
    // Bucket counts are pure sums: the stream's incremental merges land on
    // EXACTLY the batch sketch — not merely within alpha.
    val batch = valueQuantiles(rows.toDF("ts", "user_id", "event_type", "value"),
      "event_type", "value")
      .selectExpr("event_type", "quantile_buckets")
      .as[(String, Seq[Int])].collect().toMap
    assert(streamed === batch)
  }

  test("trendingKeys: MG sketch as streaming state keeps hot keys across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = trendingKeys(events, "event_type", "user_id", capacity = 4)
      .writeStream.outputMode("complete").format("memory").queryName("trend_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    // Batch 1: user 7 dominates clicks; singletons churn through the sketch.
    input.addData((1L to 10L).map(i => (ts(i.toInt), 7L, "click", 1.0)) ++
      (1L to 6L).map(i => (ts(i.toInt), 100L + i, "click", 1.0)): _*)
    q.processAllAvailable()
    val after1 = spark.table("trend_out").selectExpr("event_type", "candidates")
      .as[(String, Seq[String])].collect().toMap
    assert(after1("click").contains("7"), s"hot key must survive batch 1: $after1")

    // Batch 2: more churn — the engine merges the stored sketch with the
    // new partials; the globally hot key must still be present.
    input.addData((1L to 8L).map(i => (ts(i.toInt), 7L, "click", 1.0)) ++
      (1L to 6L).map(i => (ts(i.toInt), 200L + i, "click", 1.0)): _*)
    q.processAllAvailable()
    q.stop()
    val after2 = spark.table("trend_out").selectExpr("event_type", "candidates")
      .as[(String, Seq[String])].collect().toMap
    // n(click) = 30, capacity 4 -> bound 30/5 = 6; user 7 has 18 > 6.
    assert(after2("click").contains("7"), s"hot key must survive merge: $after2")
    assert(after2("click").size <= 4, "sketch state exceeded capacity")
  }

  test("dedupStream: duplicate ids within the watermark horizon are dropped, state-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "event_id", "event_type", "value")
    val q = EventAnalytics.dedupStream(events, lateness = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    input.addData((ts(1), 100L, "click", 1.0), (ts(2), 101L, "view", 2.0))
    q.processAllAvailable()
    // Same ids again within the horizon (different payloads): dropped.
    input.addData((ts(3), 100L, "click", 9.0), (ts(3), 101L, "view", 9.0),
      (ts(4), 102L, "click", 3.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_out")
      .selectExpr("event_id", "value").as[(Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(100L, 101L, 102L))
    // Keep-first: the original payloads survived, the replayed ones didn't.
    assert(out.toSeq === Seq((100L, 1.0), (101L, 2.0), (102L, 3.0)))
  }

  test("dedupAgainstCorpus: stream rows already in the static corpus are dropped; " +
    "normalization matches the batch dedup family") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox"),
      (101L, "known   Document  TWO") // normalization must catch case/ws variants
    ).toDF("doc_id", "text")

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = EventAnalytics.dedupAgainstCorpus(docs, corpus, "text")
      .writeStream.outputMode("append").format("memory").queryName("corpus_dedup")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    input.addData(
      (1L, "the quick brown fox"),      // exact dup -> dropped
      (2L, "Known document two"),       // dup after lower+ws collapse -> dropped
      (3L, "a genuinely new document")) // novel -> kept
    q.processAllAvailable()
    input.addData((4L, "another new one")) // second batch still joins the static side
    q.processAllAvailable()
    q.stop()

    val kept = spark.table("corpus_dedup").select(col("doc_id"))
      .as[Long].collect().toSet
    assert(kept === Set(3L, 4L))
  }

  test("attributeClicks: stream-stream interval join, per-user, bounded window") {
    implicit val sqlCtx = spark.sqlContext
    val vIn = MemoryStream[(Timestamp, Long, String)]
    val cIn = MemoryStream[(Timestamp, Long, Double)]
    val views = vIn.toDF().toDF("ts", "user_id", "page")
    val clicks = cIn.toDF().toDF("ts", "user_id", "value")
    val q = EventAnalytics.attributeClicks(views, clicks, maxDelay = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("attr_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    vIn.addData((ts(0), 1L, "home"))
    cIn.addData(
      (ts(3), 1L, 1.0),   // within 5 min of user 1's view -> match
      (ts(10), 1L, 2.0),  // beyond maxDelay -> no match
      (ts(3), 2L, 3.0))   // different user -> no match
    q.processAllAvailable()
    q.stop()

    val out = spark.table("attr_out")
      .selectExpr("user_id", "view_page", "click_value")
      .as[(Long, String, Double)].collect()
    assert(out.toSeq === Seq((1L, "home", 1.0)))
  }

  test("sessionizeBuiltin: streaming session_window emits finalized sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventAnalytics.sessionizeBuiltin(events,
      gap = "10 minutes", lateness = "5 minutes", streaming = true)
      .writeStream.outputMode("append").format("memory").queryName("swin_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    input.addData((ts(1), 1L, "click", 1.0), (ts(5), 1L, "view", 1.0))
    q.processAllAvailable()
    // push the watermark far past session end -> the session finalizes
    input.addData((ts(120), 2L, "click", 1.0))
    q.processAllAvailable()
    input.addData((ts(240), 2L, "click", 1.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("swin_out")
      .selectExpr("user_id", "session_start", "n_events")
      .as[(Long, Timestamp, Long)].collect()
    assert(out.contains((1L, ts(1), 2L)), out.mkString("; "))
  }

  test("sessionize: gap closes sessions, state emits each session once") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // NoTimeout in the test: the first session closes when the second burst
    // arrives; the processing-time flush of the FINAL open session is the
    // production default but stalls processAllAvailable under the test
    // harness's trigger loop.
    val q = sessionize(input.toDS(), gapSeconds = 600,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    // user 1: two bursts separated by > 10 min -> first session closes when
    // the second burst arrives in a later batch.
    input.addData(Event(ts(0), 1L, "click", 1.0), Event(ts(5), 1L, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(ts(30), 1L, "click", 1.0), Event(ts(31), 1L, "click", 1.0))
    q.processAllAvailable()
    val closed = spark.table("sess_out").as[Session].collect()
    assert(closed.length === 1)
    assert(closed.head.user_id === 1L)
    assert(closed.head.n_events === 2)
    assert(closed.head.session_start === ts(0) && closed.head.session_end === ts(5))
    q.stop()
  }

  test("dedupUrlStream: canonical-form variants collapse to the first arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val urls = input.toDF().toDF("ts", "url")
    val q = EventAnalytics.dedupUrlStream(urls, "url", "ts", lateness = "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("url_dedup_out")
      .trigger(Trigger.ProcessingTime("1 second")).start()

    input.addData(
      (ts(1), "HTTPS://Example.COM:443/Docs/7?utm_source=f&page=2#frag"),
      (ts(1), "https://example.com/other"))
    q.processAllAvailable()
    // three canonical variants of the first URL: all dropped as duplicates
    input.addData(
      (ts(2), "https://example.com/Docs/7?page=2"),
      (ts(2), "https://example.com/Docs/7/?page=2&gclid=g"),
      (ts(3), "https://example.com/Docs/7?page=3"))  // different page -> kept
    q.processAllAvailable()
    q.stop()

    val out = spark.table("url_dedup_out")
      .selectExpr("canonical_url", "url").as[(String, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(
      "https://example.com/Docs/7?page=2",
      "https://example.com/Docs/7?page=3",
      "https://example.com/other"))
    // keep-first: the ORIGINAL raw url survived for the collapsed group
    assert(out.head._2 === "HTTPS://Example.COM:443/Docs/7?utm_source=f&page=2#frag")
  }

  test("driftAlarmEachBatch soak: persistent-RDD storage stays flat across 20+ triggers") {
    // The alarm runs FOREVER, so a per-trigger checkpoint leak is its
    // one fatal defect class: the pre-fix shape accumulated two
    // checkpointed RDDs per trigger for the stream's lifetime. Pin the
    // contract directly: after any number of triggers, the session holds
    // at most the alarm's ONE standing baseline checkpoint beyond what
    // it held before the alarm existed.
    import graft.functions.Sampling
    implicit val sqlCtx = spark.sqlContext
    val baselineCorpus = (0L until 10L)
      .map(i => (i, s"spark shuffle partition executor run$i"))
      .toDF("doc_id", "text")
    val baseline = Sampling.bucketCounts(baselineCorpus, "text", buckets = 256)

    val before = spark.sparkContext.getPersistentRDDs.size
    val input = MemoryStream[(Long, String)]
    val acc = new java.util.concurrent.atomic.AtomicInteger(0)
    val alarm = EventAnalytics.driftAlarmEachBatch(
      baseline, "text", buckets = 256) { out =>
      acc.addAndGet(out.count().toInt); ()
    }
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(alarm)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    (0 until 22).foreach { i =>
      input.addData((100L + i, s"spark shuffle partition trigger$i"))
      q.processAllAvailable()
    }
    q.stop()
    assert(acc.get() >= 22, s"expected >= 22 alarm rows, got ${acc.get()}")
    val after = spark.sparkContext.getPersistentRDDs.size
    // +1 = the alarm's standing baseline checkpoint (constructed once,
    // lives with the alarm). Anything proportional to trigger count is
    // the leak this pins against.
    assert(after <= before + 1,
      s"persistent RDDs grew $before -> $after across 22 triggers (leak)")
    // Retiring the alarm releases its pinned baseline too: a session
    // that re-baselines repeatedly must return to its pre-alarm storage.
    alarm.release()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "alarm.release() did not free the pinned baseline histogram")
  }

  test("pplGateEachBatch soak: persistent-RDD storage stays flat across 20+ triggers") {
    // Same forever-contract as the drift alarm: the gate pins its FIVE
    // model tables once at construction; each trigger materializes the
    // batch and must release it in finally — storage growth proportional
    // to trigger count is the fatal leak class.
    import graft.functions.LmIndex
    import graft.io.ParquetTableStore
    implicit val sqlCtx = spark.sqlContext
    val train = (1L to 20L).map(i => (i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val store = new ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm_soak_").toString)
    LmIndex.build(2, store, "lm", train, "doc_id", "text")

    val before = spark.sparkContext.getPersistentRDDs.size
    val input = MemoryStream[(Long, String)]
    val acc = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = EventAnalytics.pplGateEachBatch(
      2, store, "lm", "doc_id", "text", minLogprob = -100.0) { out =>
      acc.addAndGet(out.count().toInt); ()
    }
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(gate)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    (0 until 22).foreach { i =>
      input.addData((100L + i, "the cat sat"))
      q.processAllAvailable()
    }
    q.stop()
    assert(acc.get() === 22, s"expected 22 admitted rows, got ${acc.get()}")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 5,
      s"persistent RDDs grew $before -> $after across 22 triggers (leak)")
    gate.release()
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "gate.release() did not free the pinned model tables")
  }

  test("dsirGateEachBatch rejects a batch already carrying n_feats/log_w") {
    // The gate left-joins score columns onto the batch; a pre-existing
    // column of either name would be ambiguous (or silently mis-gate).
    // Contract: fail loudly with the clashing names, like the mixers.
    import graft.functions.Sampling
    val raw = Seq((0L, "spark shuffle")).toDF("doc_id", "text")
    val target = Seq((1L, "spark")).toDF("doc_id", "text")
    val ratio = Sampling.dsirFit(raw, "text", target, "text", buckets = 64)
    val gate = EventAnalytics.dsirGateEachBatch(
      ratio, "doc_id", "text", buckets = 64) { _ => () }
    val poisoned = raw.withColumn("log_w",
      org.apache.spark.sql.functions.lit(99.0))
    val boom = intercept[IllegalArgumentException] { gate(poisoned, 0L) }
    assert(boom.getMessage.contains("log_w") &&
      boom.getMessage.contains("dsirGateEachBatch"), boom.getMessage)
  }

  test("dsirGateEachBatch: featureless docs score neutral log_w=0 and obey the threshold") {
    // A doc whose text yields NO feature rows (null text — the tokenizer
    // maps it to no n-grams at all) produces no score row through
    // dsirScore, so an inner re-join would drop it REGARDLESS of
    // minLogW. Contract: it scores the neutral log_w = 0 / n_feats = 0
    // and obeys the threshold like any other doc — admitted iff
    // minLogW <= 0, never silently lost.
    import graft.functions.Sampling
    implicit val sqlCtx = spark.sqlContext
    val raw = Seq(
      (0L, "spark shuffle partition executor spark shuffle"),
      (1L, null: String),
      (3L, "flour sugar butter oven flour sugar")).toDF("doc_id", "text")
    val target = Seq((100L, "spark shuffle partition executor"))
      .toDF("doc_id", "text")
    val ratio = Sampling.dsirFit(raw, "text", target, "text", buckets = 256)
      .localCheckpoint()
    // Batch-mode scores: doc 1 has NO row here — that absence is exactly
    // what the gate must not translate into a drop.
    val scored = Sampling.dsirScore(raw, "doc_id", "text", ratio, 256)
      .select("doc_id", "n_feats", "log_w").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(scored.keySet === Set(0L, 3L), s"unexpected score rows: $scored")

    def gateResult(minLogW: Double): Map[Long, (Long, Double)] = {
      val input = MemoryStream[(Long, String)]
      val acc = scala.collection.mutable.Map[Long, (Long, Double)]()
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(EventAnalytics.dsirGateEachBatch(
          ratio, "doc_id", "text", buckets = 256, minLogW = minLogW) { out =>
          acc.synchronized {
            acc ++= out.select("doc_id", "n_feats", "log_w")
              .as[(Long, Long, Double)].collect()
              .map(r => r._1 -> ((r._2, r._3)))
          }
          ()
        })
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      input.addData(raw.as[(Long, String)].collect().toSeq)
      q.processAllAvailable()
      q.stop()
      acc.toMap
    }

    val open = gateResult(minLogW = -1e9)
    // Nothing is lost at a wide-open threshold — above all the
    // featureless doc, which carries the neutral score; scored docs
    // carry exactly their batch-mode scores.
    assert(open.keySet === Set(0L, 1L, 3L))
    assert(open(1L) === ((0L, 0.0)))
    assert(open(0L) === scored(0L) && open(3L) === scored(3L))

    // A strictly positive threshold excludes the neutral-scored doc by
    // THRESHOLD (0 < minLogW), and keeps exactly the scored docs that
    // clear it.
    val thr = 1e-6
    val strict = gateResult(minLogW = thr)
    val want = scored.filter(_._2._2 >= thr).keySet
    assert(strict.keySet === want,
      s"strict gate admitted ${strict.keySet}, batch scores say $want")
    assert(!strict.contains(1L))
  }
}

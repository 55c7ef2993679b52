package graft.tools

import graft.functions.LmIndex
import graft.io.ParquetTableStore
import graft.stream.EventAnalytics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming LM-scoring throughput record — the language-model twin of
  * [[BenchLexServe]]: builds a PERSISTED [[LmIndex]] (Kneser-Ney model
  * tables) over a documents corpus, then drives document micro-batches
  * through three serve shapes over IDENTICAL batches in one session:
  *
  *   1. `full`   — [[LmIndex.score]] per batch: every model table scans
  *                 in full per trigger (the corpus-scoring plan applied
  *                 to a probe batch — the baseline the probed path
  *                 exists to beat);
  *   2. `probed` — [[LmIndex.scoreBatch]] per batch: the batch's words
  *                 push down as static IN filters, reads are the probed
  *                 slices;
  *   3. `gate`   — [[EventAnalytics.pplGateEachBatch]]: the pinned
  *                 (cached) model tables, threshold set to admit all.
  *
  * Same ordering caveat as BenchLexServe: later phases inherit JIT and
  * page-cache warmth, so read the deltas as upper bounds; each phase's
  * own first batch absorbs its plan/codegen warm-up and is excluded
  * from steady state.
  *
  * The synthetic testdata corpora are TEMPLATED — their vocabulary
  * barely grows with document count (sf0.1 holds 931 distinct bigrams),
  * so model-table scans never become the bottleneck and the probed
  * path cannot show its value on them (measured: probed ≈ full at
  * both sf0.1 and ×100). The `synth:<docs>:<vocab>:<wordsPerDoc>`
  * corpus spec generates a deterministic DIVERSE-vocabulary corpus
  * (hash-spread words over `vocab` distinct types — Heaps-law-shaped
  * tables, e.g. synth:500000:3000000:40 yields ~20M bigram types),
  * the regime the IN pushdown exists for.
  *
  * A 4th arg `order` (2, the default, 3, mkn3, 5 or mkn5) picks the
  * model order and smoothing: the store is built at that order and all
  * three phases serve it — `mkn*` under MODIFIED-KN discounts
  * ([[LmIndex.Mkn]], the smoothing the CCNet deployment actually gates
  * with), the rest under plain KN.
  *
  * Usage: BenchLmServe [documentsParquet|synth:n:v:w] [nBatches] [batchSize] [order]
  */
object BenchLmServe {
  def main(args: Array[String]): Unit = {
    val corpusPath = args.headOption.getOrElse("/root/testdata/sf0.1/documents.parquet")
    val nBatches = if (args.length > 1) args(1).toInt else 16
    val batchSize = if (args.length > 2) args(2).toInt else 64
    val orderArg = if (args.length > 3) args(3) else "2"
    require(nBatches >= 2, s"nBatches must be >= 2, got $nBatches")
    val (order, smoothing) = orderArg match {
      case "2" | "3" | "5" => (orderArg.toInt, LmIndex.Kn())
      case "mkn3" | "mkn5" =>
        (orderArg.last.asDigit, LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
      case _ => throw new IllegalArgumentException(
        s"order must be 2, 3, mkn3, 5 or mkn5, got $orderArg")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated key=value session confs (the shared
    // SessionConf hook) — e.g. a graft.lm.probeMaxWords ceiling to force
    // the probed phases into the semi-join regime at wide batches.
    SessionConf.applyFromEnv(spark)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpus =
      if (corpusPath.startsWith("synth:")) {
        val Array(_, n, v, w) = corpusPath.split(":")
        // Deterministic Knuth-hash word ids: adjacent positions spread
        // over the whole vocabulary, so bigrams are near-unique (the
        // worst case for model-table size, the point of the mode).
        spark.range(n.toLong).selectExpr(
          "id AS doc_id",
          s"""array_join(transform(sequence(1, $w),
             |  j -> concat('w', pmod((id * $w + j) * 2654435761, ${v}L))),
             |  ' ') AS text""".stripMargin)
      } else spark.read.parquet(corpusPath).select("doc_id", "text")
    val nDocs = corpus.count()
    val root = java.nio.file.Files.createTempDirectory("graft_lm_serve").toString
    val store = new ParquetTableStore(spark, root)
    val tBuild0 = System.nanoTime()
    LmIndex.build(order, store, "lm", corpus, "doc_id", "text")
    val buildSec = (System.nanoTime() - tBuild0) / 1e9

    val docRows = corpus.limit(nBatches * batchSize)
      .as[(Long, String)].collect()
    require(docRows.length == nBatches * batchSize,
      s"corpus too small: ${docRows.length} < ${nBatches * batchSize}")

    def drive(probe: (org.apache.spark.sql.DataFrame, Long) => Unit,
        counter: () => Long): Vector[Double] = {
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream
        .foreachBatch(probe)
        .trigger(Trigger.ProcessingTime("0 seconds"))
        .start()
      val secs = docRows.grouped(batchSize).map { chunk =>
        val t0 = System.nanoTime()
        input.addData(chunk.toSeq)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.toVector
      q.stop()
      require(counter() == nBatches.toLong * batchSize,
        s"scored rows ${counter()} != ${nBatches.toLong * batchSize}")
      secs
    }

    @volatile var gotFull = 0L
    val fullSecs = drive((batch, _) => {
      gotFull += LmIndex.score(order, store, "lm", batch, "doc_id", "text",
        smoothing).count()
    }, () => gotFull)
    @volatile var gotProbed = 0L
    val probedSecs = drive((batch, _) => {
      gotProbed += LmIndex.scoreBatch(order, store, "lm", batch, "doc_id",
        "text", smoothing).count()
    }, () => gotProbed)
    @volatile var gotGate = 0L
    val gate = EventAnalytics.pplGateEachBatch(order, store, "lm", "doc_id",
      "text", minLogprob = -1e9, smoothing = smoothing) { out =>
      gotGate += out.count(); ()
    }
    val gateSecs = drive(gate, () => gotGate)
    gate.release()

    def r3(x: Double) = (x * 1000).round / 1000.0
    def stats(secs: Vector[Double]): (Double, Double, Double, Double) = {
      val steady = secs.tail
      val sorted = steady.sorted
      // Defensive: an all-zero phase (none exists today — all three
      // phases run at both orders) must report 0 docs/sec, never
      // Infinity (which is not JSON).
      (if (steady.sum == 0.0) 0.0 else (nBatches - 1) * batchSize / steady.sum,
        secs.head, sorted(sorted.size / 2), sorted.last)
    }
    val (fQ, fW, fP50, fMax) = stats(fullSecs)
    val (pQ, pW, pP50, pMax) = stats(probedSecs)
    val (gQ, gW, gP50, gMax) = stats(gateSecs)
    println(s"""{"metric":"lm_serve_docs_per_sec","value":${r3(pQ)},""" +
      s""""unit":"docs/sec","order":"$orderArg","corpus_docs":$nDocs,"batches":$nBatches,""" +
      s""""batch_size":$batchSize,"build_sec":${r3(buildSec)},""" +
      s""""full_dps":${r3(fQ)},"full_warm_batch_sec":${r3(fW)},""" +
      s""""full_p50_sec":${r3(fP50)},"full_max_sec":${r3(fMax)},""" +
      s""""probed_dps":${r3(pQ)},"probed_warm_batch_sec":${r3(pW)},""" +
      s""""probed_p50_sec":${r3(pP50)},"probed_max_sec":${r3(pMax)},""" +
      s""""gate_dps":${r3(gQ)},"gate_warm_batch_sec":${r3(gW)},""" +
      s""""gate_p50_sec":${r3(gP50)},"gate_max_sec":${r3(gMax)}}""")
    spark.stop()
  }
}

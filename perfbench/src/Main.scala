package perfbench

import graft.StandIn
import graft.io.ParquetTableStore
import graft.stream.JobDispatch
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark process: runs one workload against the program's public
  * entry points (`JobDispatch.startQueue`, `SparkEntry.queries`), checks
  * the outputs outside every timed region, and writes the raw samples,
  * counts and (when traced) the trace to `--out` as JSON. `run.py` turns
  * that file into metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --root DIR
  *       --cpus C --out FILE */
object Main {

  /** Workload sizes. The backlog's jobs are small and many (per-job fixed
    * cost dominates); the review jobs are few and large (row work
    * dominates). */
  val BacklogJobs = 24
  val BacklogRows = 1500
  val ReviewSingles = 2
  val ReviewRepeats = 1
  val ReviewRows = 5000
  /** The review workload's warm-up wave; the backlog warms up on a drain
    * of its own full size, since a JVM's first full-size drain ran about
    * 30% slower than its later ones. */
  val WarmupJobs = 2
  val WarmupRows = 200
  val AnalyticsSf = 0.01

  /** The analytics mix: fixed lines of `SparkEntry.queries`, by family,
    * run once each in this order in a fresh JVM (the program's shared
    * caches are process-global, so the order is part of the workload). */
  val AnalyticsLines: Seq[(String, String)] = Seq(
    "q_events_sessionize" -> "events", "q_classify_keyed" -> "reference",
    "q_kn_score_holdout" -> "lm", "q_kn5_holdout" -> "lm", "q_kn_persisted" -> "lm",
    "q_dedup_leaders" -> "dedup", "q_bm25_topk" -> "lex", "q_pq_adc" -> "ann")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, cpus: Int, out: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("root")).toAbsolutePath, m("cpus").toInt, Paths.get(m("out")))
  }

  def session(cpus: Int, root: Path): SparkSession = {
    // The same session settings the repo's own harnesses (Bench,
    // BenchStream) use; nothing here changes a program default.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap the program still holds after the measured work, in MB: heap in
    * use after a full collection. The second collection runs after Spark's
    * ContextCleaner has dropped the blocks of the RDDs and broadcasts the
    * first one found unreachable. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.root)
    val t0 = System.nanoTime()
    val spark = session(a.cpus, a.root)
    val sessionS = secs(t0)
    val tracer = new Tracer(spark)
    if (a.trace) tracer.install()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "session_s" -> sessionS)
    a.workload match {
      case "ingest_backlog" => new Ingest(spark, a, tracer, result).backlog()
      case "ingest_review" => new Ingest(spark, a, tracer, result).review()
      case "analytics_mix" => new Analytics(spark, a, tracer, result).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) {
      tracer.drain()
      result("trace") = RawJson(tracer.toJson)
    }
    spark.stop()
    Files.writeString(a.out, Json(result))
  }
}

/** A value already rendered as JSON. */
final case class RawJson(text: String) {
  override def toString: String = text
}

/** Outcome tally of the output checks. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }
}

final class Ingest(spark: SparkSession, a: Main.Args, tracer: Tracer,
    result: mutable.Map[String, Any]) {
  import Main._
  import spark.implicits._

  private val uploads = a.root.resolve("uploads")
  Files.createDirectories(uploads)
  private val traced = if (a.trace) Some(tracer) else None
  private val checks = new Checks
  private val setupS, elapsedS, cpuS, storeBytes, storeFiles =
    mutable.ArrayBuffer.empty[Double]
  private var reps = 0
  /** Row counts of the store's tables at the last check. */
  private var storeCounts = Map.empty[String, Long]

  /** The bench's `resolveCsv`: an s3 key names a file in the uploads dir. */
  private val resolveCsv: String => String = key => uploads.resolve(key).toString

  private def writeAll(jobs: Seq[Gen.Job]): Long = jobs.map(Gen.writeCsv(uploads, _, a.seed)).sum

  private def jobsTable(jobs: Seq[Gen.Job]): DataFrame =
    jobs.map(j => (j.jobId, j.user, "PENDING", j.file))
      .toDF("job_id", "job_user_id", "job_status", "job_s3_object_key")

  private def message(j: Gen.Job): String = s"""{"job_id": ${j.jobId}, "s3_key": "${j.file}"}"""

  /** Enqueue `bodies` in order (temp file + rename, the queue's producer
    * contract). */
  private def enqueue(dir: Path, tag: String, bodies: Seq[String]): Unit = {
    val q = dir.resolve("queue")
    Files.createDirectories(q)
    bodies.zipWithIndex.foreach { case (b, i) =>
      val tmp = q.resolve(f".$tag$i%06d.tmp")
      Files.writeString(tmp, b)
      Files.move(tmp, q.resolve(f"$tag$i%06d"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Drain the queue under `dir` with one `startQueue` run (AvailableNow). */
  private def drain(store: TracedStore, dir: Path): Double = {
    val t0 = System.nanoTime()
    tracer.span("run", "drain") {
      val query = JobDispatch.startQueue(spark, store, dir.resolve("queue").toString,
        dir.resolve("cp").toString, resolveCsv, Trigger.AvailableNow())
      try query.awaitTermination() finally query.stop()
    }
    secs(t0)
  }

  /** One set-up sample: a fresh store, its jobs table seeded through the
    * store, and the first messages enqueued. */
  private def setUp(dir: Path, jobs: Seq[Gen.Job]): TracedStore = {
    val t0 = System.nanoTime()
    val store = new TracedStore(new ParquetTableStore(spark, dir.resolve("tables").toString), traced)
    store.overwrite("jobs", jobsTable(jobs))
    enqueue(dir, "m", jobs.map(message))
    setupS += secs(t0)
    store
  }

  /** JVM warm-up: a drain of the `warm` jobs through its own store,
    * checked like the measured ones, then two throwaway set-ups so every
    * run has at least three set-up samples. */
  private def warmUp(jobs: Seq[Gen.Job], warm: Seq[Gen.Job]): Unit = {
    writeAll(warm)
    val t0 = System.nanoTime()
    val dir = a.root.resolve("warm")
    val store = setUp(dir, warm)
    drain(store, dir)
    result("warmup_s") = secs(t0)
    verify(store, warm, reviewed = false, dir.resolve("queue"))
    deleteTree(dir)
    setupS.clear()
    (0 until 2).foreach { k =>
      val d = a.root.resolve(s"setup$k")
      setUp(d, jobs)
      deleteTree(d)
    }
  }

  /** One measured drain: its seconds; its JVM CPU seconds go to `cpuS`. */
  private def measure(store: TracedStore, dir: Path): Double = {
    if (a.trace) tracer.open()
    val c0 = cpuNanos()
    val s = try drain(store, dir) finally {
      cpuS += (cpuNanos() - c0) / 1e9
      if (a.trace) tracer.close()
    }
    s
  }

  private def finishRep(dir: Path): Unit = {
    val (b, f) = Gen.dirStats(dir.resolve("tables"))
    storeBytes += b.toDouble; storeFiles += f.toDouble
    reps += 1
    deleteTree(dir)
  }

  /** Keep repeating until `seconds` of measured time, at least `min` reps. */
  private def loop(min: Int)(rep: Int => Unit): Unit = {
    var r = 0
    while (r < min || elapsedS.sum < a.seconds) { rep(r); r += 1 }
  }

  private def verify(store: TracedStore, jobs: Seq[Gen.Job], reviewed: Boolean,
      queueDir: Path): Unit = {
    storeCounts = Oracle.verify(spark, store, jobs, a.seed, reviewed, checks)
    val listing = Files.list(queueDir)
    val left = try listing.filter(p => !p.getFileName.toString.startsWith(".")).count()
      finally listing.close()
    checks.op(left == 0, s"queue holds $left unacked messages")
  }

  private def record(jobs: Seq[Gen.Job], inputBytes: Long): Unit =
    result ++= Seq(
      "retained_heap_mb" -> retainedHeapMb(),
      "samples" -> Map("setup_s" -> setupS, "elapsed_s" -> elapsedS, "cpu_s" -> cpuS),
      "reps" -> reps, "jobs_per_rep" -> jobs.size, "rows_per_rep" -> jobs.map(_.rows.size).sum,
      "input_bytes_per_rep" -> inputBytes, "store_bytes" -> storeBytes, "store_files" -> storeFiles,
      "attempted" -> checks.attempted, "failed" -> checks.failed, "failures" -> checks.failures,
      "store_counts" -> storeCounts)

  def backlog(): Unit = {
    val jobs = Gen.backlog(a.seed, BacklogJobs, 1001, BacklogRows)
    val bytes = writeAll(jobs)
    warmUp(jobs, Gen.backlog(a.seed + 1, BacklogJobs, 1, BacklogRows))
    loop(2) { r =>
      val dir = a.root.resolve(s"rep$r")
      val store = setUp(dir, jobs)
      elapsedS += measure(store, dir)
      verify(store, jobs, reviewed = false, dir.resolve("queue"))
      finishRep(dir)
    }
    record(jobs, bytes)
  }

  def review(): Unit = {
    val jobs = Gen.review(a.seed, ReviewSingles, ReviewRepeats, 1001, ReviewRows)
    val bytes = writeAll(jobs)
    warmUp(jobs, Gen.backlog(a.seed + 1, WarmupJobs, 1, WarmupRows))
    loop(1) { r =>
      val dir = a.root.resolve(s"rep$r")
      val store = setUp(dir, jobs)
      val s1 = measure(store, dir)
      verify(store, jobs, reviewed = false, dir.resolve("queue"))
      Oracle.review(spark, store, a.seed)
      // Phase 2: reprocess messages for the reviewed jobs, replays of
      // COMPLETED jobs, a stale job id and two poison pills.
      enqueue(dir, "n", jobs.map(message) ++ Seq(
        """{"job_id": 999999, "s3_key": "gone.csv"}""", "not json at all", """{"job_id": 1001}"""))
      elapsedS += s1 + measure(store, dir)
      verify(store, jobs, reviewed = true, dir.resolve("queue"))
      finishRep(dir)
    }
    record(jobs, bytes)
  }
}

final class Analytics(spark: SparkSession, a: Main.Args, tracer: Tracer,
    result: mutable.Map[String, Any]) {
  import Main._

  private val dataDir = a.root.resolve("data")

  /** Order-insensitive digest of a result: row count and the sum of
    * per-row SHA-256 prefixes. Doubles are compared to 9 significant
    * digits, so summation order cannot flip a digest. */
  def digest(rows: Array[Row]): (Long, String) = {
    def fmt(v: Any): String = v match {
      case null => "~"
      case d: Double => "%.9g".format(d)
      case f: Float => "%.6g".format(f.toDouble)
      case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(fmt).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => fmt(k) + ":" + fmt(x) }
        .sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case other => other.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("SHA-256").digest(fmt(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def run(): Unit = {
    Files.createDirectories(dataDir)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val g0 = System.nanoTime()
    val inputBytes = Gen.analyticsTables(spark, dataDir.toString, AnalyticsSf, a.seed).values.sum
    result("gen_s") = secs(g0)
    // Set-up, three times: the program's input stage for these lines
    // (`graft.StandIn`: the events reader with its timestamp normalization,
    // the CSV-shaped input and contacts frames it derives, the corpus
    // tables), each read to the end.
    val inputs: Seq[String => DataFrame] = Seq(
      StandIn.events(spark, _), StandIn.csvInput(spark, _), StandIn.contactsStandIn(spark, _),
      StandIn.pq(spark, _, "documents"), StandIn.pq(spark, _, "embeddings"))
    val setupS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      inputs.foreach(in => in(dataDir.toString).queryExecution.toRdd.foreach(_ => ()))
      secs(t0)
    }
    val queries = graft.SparkEntry.queries
    var timed, cpu = 0.0
    val lines = AnalyticsLines.map { case (name, family) =>
      if (a.trace) tracer.open()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      // The timed action evaluates the line's full plan and brings its
      // rows to the driver; the digest is computed after the timed span.
      val out = tracer.span("analytics", family, Map("line" -> name)) {
        try Right(queries(name)(spark, dataDir.toString).collect())
        catch { case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)) }
      }
      val s = secs(t0)
      cpu += (cpuNanos() - c0) / 1e9
      if (a.trace) tracer.close()
      timed += s
      val (n, h) = out.map(digest).getOrElse((-1L, ""))
      name -> Map("family" -> family, "s" -> s, "rows" -> n, "hash" -> h, "error" -> out.left.toOption)
    }
    // The program's stores are the graft_* temp directories its queries
    // create; the temp dir also holds Spark's native-library copies.
    val listing = Files.list(tmp)
    val (storeB, storeF) = try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft_")).map(Gen.dirStats)
        .foldLeft((0L, 0L)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }
      finally listing.close()
    result ++= Seq(
      "retained_heap_mb" -> retainedHeapMb(),
      "samples" -> Map("setup_s" -> setupS, "elapsed_s" -> Seq(timed), "cpu_s" -> Seq(cpu)),
      "reps" -> 1, "lines" -> lines.toMap, "line_order" -> lines.map(_._1),
      "input_bytes_per_rep" -> inputBytes,
      "store_bytes" -> Seq(storeB.toDouble), "store_files" -> Seq(storeF.toDouble),
      "sf" -> AnalyticsSf)
  }
}

package perfbench

import graft.io.{PartitionCommit, TableStore}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** In-memory trace of one benchmark run. Bench code records spans around
  * its calls into the program; Spark's own listeners record jobs, SQL
  * executions, task metrics, plan shapes and streaming progress. Nothing
  * is written until [[toJson]] at the end of the run. All times are epoch
  * milliseconds (Spark's listener events carry epoch-ms stamps). */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Events count only while a measured region is open. Spark delivers
    * listener events later, on its own thread, and they are judged by
    * `active` at delivery; so [[open]] and [[close]] first deliver every
    * queued event. Work done before a region opens stays out of it; the
    * region's last events (the final task ends, plan callbacks and the
    * last streaming progress) stay in. */
  @volatile private var active = false
  def isActive: Boolean = active
  def open(): Unit = { drain(); active = true }
  def close(): Unit = { drain(); active = false }

  case class Span(layer: String, name: String, start: Double, end: Double, info: Map[String, Any])
  case class SqlExec(id: Long, root: Long, start: Double, var end: Double, desc: String)
  case class Job(id: Int, start: Double, var end: Double)
  case class Progress(start: Double, durations: Map[String, Long], inputRows: Long)

  val spans = ArrayBuffer.empty[Span]
  val sqlExecs = mutable.LinkedHashMap.empty[Long, SqlExec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val progress = ArrayBuffer.empty[Progress]
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(key: String, v: Double): Unit = synchronized { counters(key) += v }

  def span[T](layer: String, name: String, info: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      if (active) synchronized { spans += Span(layer, name, t0, t1, info) }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): Unit = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      var exch, scans, bhj, smj = 0
      nodes.foreach {
        case _: ShuffleExchangeLike => exch += 1
        case _: FileSourceScanExec | _: BatchScanExec => scans += 1
        case w: DataWritingCommandExec =>
          add("io.write_files", w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
        case _: BroadcastHashJoinExec => bhj += 1
        case _: SortMergeJoinExec => smj += 1
        case _ =>
      }
      add("spark.plan_exchanges", exch); add("spark.plan_scans", scans)
      add("spark.plan_bhj", bhj); add("spark.plan_smj", smj)
    }
  }

  private val stageJob = mutable.Map.empty[Int, Int]
  private val csvJobs = mutable.Set.empty[Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time.toDouble, Double.NaN)
      e.stageInfos.foreach(st => stageJob(st.stageId) = e.jobId)
      counters("spark.jobs") += 1
      counters("spark.stages") += e.stageInfos.size
    }
    // A stage that ran a CSV scan operator: its input records are CSV rows
    // read (re-scans included), its job is a CSV scan action.
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = e.stageInfo
      if (active && org.apache.spark.SparkInternals.scopeNames(st).exists(_.toLowerCase.contains("scan csv")))
        synchronized {
          counters("ingest.csv_scan_rows") += st.taskMetrics.inputMetrics.recordsRead
          stageJob.get(st.stageId).foreach(csvJobs += _)
          counters("ingest.csv_scan_actions") = csvJobs.size
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      synchronized {
        counters("spark.tasks") += 1
        counters("spark.executor_run_s") += m.executorRunTime / 1e3
        counters("spark.executor_cpu_s") += m.executorCpuTime / 1e9
        counters("spark.gc_s") += m.jvmGCTime / 1e3
        counters("spark.input_bytes") += m.inputMetrics.bytesRead
        counters("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("spark.spill_bytes") += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if active => synchronized {
        sqlExecs(s.executionId) =
          SqlExec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time.toDouble,
            Double.NaN, s.physicalPlanDescription)
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        sqlExecs.get(x.executionId).foreach(_.end = x.time.toDouble)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        try Plans.count(qe.executedPlan) catch { case _: Exception => () }
        if (qe.analyzed.output.exists(_.name == "unresolved_issues"))
          add("pipeline.counters_s", durationNs / 1e9)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      synchronized { progress += Progress(start, d, p.numInputRows) }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Delivers every queued listener event before counters are read. */
  def drain(): Unit = org.apache.spark.SparkInternals.drainListeners(spark.sparkContext)

  def toJson: String = synchronized {
    Json(Map(
      "spans" -> spans.map(s => Map("layer" -> s.layer, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "info" -> s.info)),
      "sql" -> sqlExecs.values.map(x => Map("id" -> x.id, "start" -> x.start, "end" -> x.end,
        "root" -> x.root, "counters" -> x.desc.contains("unresolved_issues"))),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "start" -> j.start, "end" -> j.end)),
      "progress" -> progress.map(p => Map("start" -> p.start, "durations" -> p.durations,
        "input_rows" -> p.inputRows)),
      "counters" -> counters.toMap))
  }
}

/** The bench's [[TableStore]]: delegates every call to the program's
  * store and, when a tracer is given, records an `io` span or count per
  * call. Untraced runs use it too, so the two run kinds differ only in
  * tracing. */
final class TracedStore(inner: TableStore, tracer: Option[Tracer]) extends TableStore {
  private def timed[T](name: String, info: => Map[String, Any] = Map.empty)(body: => T): T =
    tracer match {
      case Some(t) => t.span("io", name, info)(body)
      case None => body
    }
  private def count(key: String): Unit = tracer.foreach(t => if (t.isActive) t.add(key, 1))

  override def load(table: String): DataFrame = { count("io.load_calls"); inner.load(table) }
  override def exists(table: String): Boolean =
    timed("exists") { count("io.exists_calls"); inner.exists(table) }
  override def overwrite(table: String, df: DataFrame): Unit =
    timed(if (table == "jobs") "jobs_write" else "overwrite", Map("table" -> table)) {
      inner.overwrite(table, df)
    }
  override def append(table: String, df: DataFrame): Unit =
    timed("append", Map("table" -> table))(inner.append(table, df))
  override def overwriteAll(tables: Seq[(String, DataFrame)]): Unit =
    timed("overwrite_all")(inner.overwriteAll(tables))
  override def overwritePartitionsAll(commits: Seq[PartitionCommit]): Unit =
    timed("overwrite_partitions")(inner.overwritePartitionsAll(commits))
  override def commitAll(
      appends: Seq[(String, DataFrame)],
      partitions: Seq[PartitionCommit],
      overwrites: Seq[(String, DataFrame)]): Unit =
    timed("commit", Map("jobs" -> partitions.headOption.map(_.values.size).getOrElse(0))) {
      inner.commitAll(appends, partitions, overwrites)
    }
  override def createIfAbsent(table: String, df: DataFrame): Boolean =
    timed("create_if_absent")(inner.createIfAbsent(table, df))
  override def drop(table: String): Unit = timed("drop")(inner.drop(table))
  override def maintain(tables: Seq[String]): Unit = timed("maintain")(inner.maintain(tables))
}

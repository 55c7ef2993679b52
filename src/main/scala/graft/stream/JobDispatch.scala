package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.io.TableStore
import graft.ingest.CsvSource
import graft.model.Schemas.{JobStatus, tableShapes}
import graft.pipeline.{Lifecycle, Router}

/** Structured Streaming dispatch shell (SURVEY.md §2.10, §3.1 step 1).
  *
  * The reference long-polls SQS one message at a time (consumer.py:55-111).
  * Here the queue is a directory of message files, one JSON message per
  * file, read by the native `graft-queue` source
  * ([[graft.stream.queue.QueueSourceProvider]]) that [[startQueue]] starts.
  * It is replayable and deletes a message only when its epoch commits. Each
  * micro-batch runs through `foreachBatch` into [[processBatch]], which
  * routes the messages and runs them as job_id-keyed waves that end in ONE
  * `TableStore.commitAll` per wave. A replayable source plus an idempotent
  * commit is the whole exactly-once story.
  *
  * Delivery contract kept from the reference (README ADR-001):
  *   - at-least-once + idempotent pipeline => replay is a no-op
  *     (COMPLETED short-circuit + row-hash anti-join J1)
  *   - malformed JSON = poison pill, dropped immediately with a dead-letter
  *     record (consumer.py:180-190)
  *   - processing errors do NOT ack: the job stays in its prior state and
  *     the failure is recorded for redelivery/inspection (consumer.py:164-176)
  */
object JobDispatch {

  /** SQS body schema: {"job_id": int, "s3_key": string} (consumer.py:131-136). */
  val messageSchema: StructType = StructType(Seq(
    StructField("job_id", IntegerType),
    StructField("s3_key", StringType)))

  /** S2: parse + classify raw message bodies.
    * Returns columns: body, job_id, s3_key, disposition
    * (VALID | POISON_MALFORMED | POISON_MISSING_FIELD). */
  def parseMessages(raw: DataFrame, bodyCol: String = "value"): DataFrame = {
    // PERMISSIVE from_json yields a struct of nulls (not a null struct) for
    // garbage input; the corrupt-record column is the reliable malformed
    // signal, distinguishing poison pills (dropped, consumer.py:180-190)
    // from valid JSON missing required fields (error path).
    val schemaWithCorrupt = messageSchema.add("_corrupt", StringType)
    val parsed = raw.withColumn("msg",
      from_json(col(bodyCol), schemaWithCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt")))
    parsed.select(
      col(bodyCol).as("body"),
      col("msg.job_id").as("job_id"),
      col("msg.s3_key").as("s3_key"),
      when(col("msg").isNull || col("msg._corrupt").isNotNull, lit("POISON_MALFORMED"))
        .when(col("msg.job_id").isNull || col("msg.s3_key").isNull, lit("POISON_MISSING_FIELD"))
        .otherwise(lit("VALID"))
        .as("disposition"))
  }

  /** Outcome of one processed message (driver-side record). */
  case class MessageOutcome(job_id: Option[Int], body: String, outcome: String, detail: String)

  /** One runnable message inside a wave. `body` is the raw message text —
    * FAILED outcomes carry it (not the s3_key) so an external retry queue
    * can re-enqueue the original message verbatim. */
  private case class WaveItem(
      idx: Int, jobId: Int, s3Key: String, body: String,
      userId: String, route: Router.Route)

  /** Wave chunk bound: an AvailableNow drain of a deep backlog delivers ONE
    * batch, and a single wave of 1000+ jobs would build 1000-branch union
    * plans (superlinear optimizer time, codegen size limits, one cached
    * frame per job held at once). Chunks commit sequentially; members are
    * distinct jobs AND tenants, so chunk boundaries are semantically
    * invisible. */
  private val MaxWave = 64

  private def debug(e: Exception): Unit =
    if (sys.env.contains("GRAFT_DISPATCH_DEBUG")) e.printStackTrace()

  /** The prior-state tables a wave reads, with their job-id column. */
  private val priorState = Map(
    "staging" -> "staging_job_id",
    "issues" -> "issues_job_id",
    "issue_items" -> "issues_job_id")

  /** Jobs metadata (status, tenant) of `ids`, and which of them have rows in
    * each prior-state table: one jobs lookup + ONE presence action (a union
    * over the prior-state tables that exist), however many ids. Routing
    * reads the staging part; the wave reads all three to skip the scans of
    * jobs without prior state. */
  private def lookup(store: TableStore, ids: Seq[Int])
      : (Map[Int, (String, String)], Map[String, Set[Int]]) = {
    val jobsMeta: Map[Int, (String, String)] =
      if (store.exists("jobs"))
        store.load("jobs").filter(col("job_id").isin(ids: _*))
          .select("job_id", "job_status", "job_user_id").collect()
          .map(r => r.getAs[Int]("job_id") ->
            (r.getAs[String]("job_status"), r.getAs[String]("job_user_id"))).toMap
      else Map.empty
    val probes = if (jobsMeta.isEmpty) Nil else priorState.toSeq.collect {
      case (t, jobCol) if store.exists(t) =>
        store.load(t).filter(col(jobCol).isin(ids: _*)).select(lit(t), col(jobCol))
    }
    val present: Map[String, Set[Int]] =
      if (probes.isEmpty) Map.empty
      else probes.reduce(_.union(_)).distinct().collect().toSeq
        .groupMap(_.getString(0))(_.getInt(1)).map { case (t, js) => t -> js.toSet }
    (jobsMeta, present.withDefaultValue(Set.empty))
  }

  /** The outcome of a skip route (stale message, completed job); None for a
    * runnable route. */
  private def skipOutcome(jobId: Int, s3Key: String, route: Router.Route): Option[MessageOutcome] =
    route match {
      case Router.SkipMissingJob =>
        Some(MessageOutcome(Some(jobId), s3Key, "SKIPPED", "job not found (stale message)"))
      case Router.SkipCompleted =>
        Some(MessageOutcome(Some(jobId), s3Key, "SKIPPED", "job already COMPLETED"))
      case _ => None
    }

  /** Process one micro-batch of raw message bodies against the store.
    * Message cardinality is jobs-per-trigger (control plane, not data
    * plane), so collecting the parsed batch to the driver is correct — the
    * DATA each message fans out to (the CSV, the staging set) stays fully
    * distributed inside the Lifecycle plans.
    *
    * Store round trips are BATCHED across the micro-batch: one jobs
    * lookup + one prior-state presence action route every message, and all
    * runnable jobs with distinct job/user ids process as one wave — one
    * PROCESSING update, one counters action, one contacts append, one
    * 3-table partition commit, one final jobs update — instead of ~10
    * Spark actions per message (the round-6 throughput floor). Messages
    * that repeat a job or tenant already in the wave run AFTER the wave
    * commits, each as a wave of one routed against the post-wave store,
    * preserving the reference's sequential visibility (the second message
    * for a tenant sees the first one's contacts). */
  def processBatch(
      spark: SparkSession,
      store: TableStore,
      batch: DataFrame,
      resolveCsv: String => String): Seq[MessageOutcome] = {
    val messages = parseMessages(batch).collect()
    val outcomes = new Array[MessageOutcome](messages.length)
    val valid = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String)]
    messages.zipWithIndex.foreach { case (m, i) =>
      val body = m.getAs[String]("body")
      m.getAs[String]("disposition") match {
        case "POISON_MALFORMED" =>
          outcomes(i) = MessageOutcome(None, body, "DROPPED_POISON", "malformed JSON")
        case "POISON_MISSING_FIELD" =>
          outcomes(i) = MessageOutcome(Option(m.getAs[Integer]("job_id")).map(_.toInt),
            body, "DROPPED_POISON", "missing job_id/s3_key")
        case _ =>
          valid += ((i, m.getAs[Int]("job_id"), m.getAs[String]("s3_key"), body))
      }
    }

    // Route of every wave member, hoisted for the degraded path: once the
    // wave has set statuses to PROCESSING, a replay must keep the route
    // computed from the PRE-wave state.
    val waveRoutes = scala.collection.mutable.Map.empty[Int, Router.Route]
    if (valid.nonEmpty) try {
      val (jobsMeta, present) = lookup(store, valid.map(_._2).distinct.toSeq)

      val wave = scala.collection.mutable.ArrayBuffer.empty[WaveItem]
      val tail = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String)]
      val seenJobs = scala.collection.mutable.Set.empty[Int]
      val seenUsers = scala.collection.mutable.Set.empty[String]
      valid.foreach { case (i, jobId, s3Key, body) =>
        val meta = jobsMeta.get(jobId)
        val route = Router.route(meta.map(_._1), present("staging")(jobId))
        skipOutcome(jobId, s3Key, route) match {
          case Some(o) => outcomes(i) = o
          case None =>
            val userId = meta.get._2
            if (!seenJobs(jobId) && !seenUsers(userId)) {
              seenJobs += jobId; seenUsers += userId
              waveRoutes(i) = route
              wave += WaveItem(i, jobId, s3Key, body, userId, route)
            } else tail += ((i, jobId, s3Key, body))
        }
      }

      // One presence result serves every chunk: chunks hold distinct jobs,
      // and a wave writes only the jobs table before its own commit.
      wave.grouped(MaxWave).foreach { chunk =>
        processWave(spark, store, chunk.toSeq, present, resolveCsv, replay = true)
          .foreach { case (i, o) => outcomes(i) = o }
      }
      // Tail: repeated job/tenant messages re-route against the post-wave
      // store state, exactly as back-to-back micro-batches would.
      tail.foreach { case (i, jobId, s3Key, body) =>
        outcomes(i) = runAlone(spark, store, jobId, s3Key, body, resolveCsv, None)
      }
    } catch {
      case e: Exception =>
        // The BATCHED routing itself failed (a store hiccup in the shared
        // jobs/staging reads or a status write) — degrade every unresolved
        // message to a wave of one, which isolates failures per job and
        // keeps the stream alive (the error-isolation contract). Wave
        // members replay with their ALREADY-COMPUTED route.
        debug(e)
        valid.foreach { case (i, jobId, s3Key, body) =>
          if (outcomes(i) == null)
            outcomes(i) = runAlone(spark, store, jobId, s3Key, body, resolveCsv, waveRoutes.get(i))
        }
    }
    outcomes.toSeq
  }

  /** Route one message against the LIVE store and run it as a wave of one
    * that does not replay. `forcedRoute` is a replay's route computed from
    * the PRE-wave job state, because the wave already moved its members to
    * PROCESSING — re-routing now would send a NEEDS_REVIEW (Reprocessing)
    * job down the Initial branch. Skip routes (missing job, COMPLETED)
    * still come from the live state: they guard conditions a forced route
    * must not override. Never throws: a failure is a FAILED outcome. */
  private def runAlone(
      spark: SparkSession, store: TableStore,
      jobId: Int, s3Key: String, body: String,
      resolveCsv: String => String,
      forcedRoute: Option[Router.Route]): MessageOutcome =
    try {
      val (jobsMeta, present) = lookup(store, Seq(jobId))
      val liveRoute = Router.route(jobsMeta.get(jobId).map(_._1), present("staging")(jobId))
      skipOutcome(jobId, s3Key, liveRoute).getOrElse {
        val w = WaveItem(0, jobId, s3Key, body, jobsMeta(jobId)._2,
          forcedRoute.getOrElse(liveRoute))
        processWave(spark, store, Seq(w), present, resolveCsv, replay = false).head._2
      }
    } catch {
      case e: Exception =>
        debug(e)
        // Not acked in the reference (visibility timeout redelivers); here
        // the source offset IS committed, so the failure is recorded — with
        // the RAW message body, re-enqueueable verbatim — for an external
        // retry queue.
        MessageOutcome(Some(jobId), body, "FAILED", String.valueOf(e.getMessage))
    }

  /** Run a wave of distinct-job, distinct-tenant messages as ONE
    * job_id-keyed Catalyst plan per route: the wave's CSV inputs union
    * under a `job_id` tag and classify/issues/consolidate compile ONCE
    * ([[Lifecycle.initialProcessKeyed]]/[[Lifecycle.reprocessKeyed]]) —
    * every reference join/agg carries the job id, so one plan serves N
    * jobs at constant compile cost (the round-7 floor was ~0.5 s of plan
    * compilation per job, not data volume). `present` is the routing
    * lookup's prior-state presence of the members. Store round trips stay
    * batched, one each per wave:
    *   - the PROCESSING status update;
    *   - the counters action, which also yields each job's input-row count;
    *   - the two-phase commit (contacts append + 3-table partition swap);
    *   - the final jobs update.
    *
    * A job whose sniff fails, or whose CSV yields no rows, goes FAILED
    * alone and commits nothing. Every other failure (a keyed-plan build, a
    * CSV that throws when scanned, the counters, the commit) takes one
    * path: in a wave built from a batch (`replay`) each affected member
    * replays ONCE as a wave of one WITH its pre-wave route, so one bad job
    * can't sink its wave-mates; a wave of one that is itself a replay, a
    * tail message or a direct call fails its member with the error
    * instead. Returns one outcome per member, keyed by original message
    * index. */
  private def processWave(
      spark: SparkSession,
      store: TableStore,
      wave: Seq[WaveItem],
      present: Map[String, Set[Int]],
      resolveCsv: String => String,
      replay: Boolean): Seq[(Int, MessageOutcome)] = {
    import graft.pipeline.Lifecycle.KeyedFlowResult
    setJobStatusAll(store, wave.map(_.jobId), JobStatus.Processing)

    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, MessageOutcome)]
    def fail(w: WaveItem, detail: String): (Int, MessageOutcome) = {
      // The status write must not mask the original failure (or kill the
      // wave from inside a catch handler).
      try setJobStatus(store, w.jobId, JobStatus.Failed)
      catch { case _: Exception => () }
      w.idx -> MessageOutcome(Some(w.jobId), w.body, "FAILED", detail)
    }
    // Safe because the pipeline is idempotent (J1 anti-join +
    // staging_id-unique contacts insert): a partially committed wave
    // replays as a no-op for the already-landed rows. A replayed success
    // names the wave failure it recovered from.
    def onFailure(ws: Seq[WaveItem], e: Exception): Seq[(Int, MessageOutcome)] = {
      debug(e)
      val replayed = s"ok (replayed alone after wave failure: ${e.getClass.getName}: ${e.getMessage})"
      ws.map { w =>
        if (!replay) fail(w, String.valueOf(e.getMessage))
        else {
          val o = runAlone(spark, store, w.jobId, w.s3Key, w.body, resolveCsv, Some(w.route))
          w.idx -> (if (o.detail == "ok") o.copy(detail = replayed) else o)
        }
      }
    }
    val built = scala.collection.mutable.ArrayBuffer.empty[(Seq[WaveItem], KeyedFlowResult)]

    try {
      // The contacts table only matters through this wave's OWN tenants: the
      // existing-email check is tenant-scoped by the reference (ADR-005) and
      // a contact row carrying one of this wave's staging_ids can only have
      // been written by the same job (= same tenant), so the idempotency
      // anti-join needs no other tenant either. The explicit filter turns the
      // per-wave contacts read into a partition-pruned scan of <= wave-size
      // tenant dirs instead of the whole corpus (contacts is
      // tenant-partitioned) — at 100 TB that is the difference between a
      // bounded read and a full-table scan per commit.
      val waveTenants = wave.map(_.userId).distinct
      val contacts =
        (if (store.exists("contacts")) store.load("contacts")
         else emptyLike(spark, tableShapes("contacts")))
          .filter(col("contacts_user_id").isin(waveTenants: _*))

      // The prior state of those `ids` that have any. A wave of first-pass
      // jobs (the steady-stream common case) then feeds the keyed plan a
      // known-empty LOCAL relation: Catalyst's empty-relation propagation
      // collapses the J1 anti-join and the issue/link merge branches;
      // otherwise ONE filtered scan per table serves every job of the wave.
      val loaded = scala.collection.mutable.Map.empty[String, DataFrame]
      def prior(table: String, ids: Seq[Int]): DataFrame = {
        val have = ids.filter(present(table))
        if (have.isEmpty) emptyLike(spark, tableShapes(table))
        else loaded.getOrElseUpdate(table, store.load(table))
          .filter(col(priorState(table)).isin(have: _*))
      }

      // Sniff every initial-route CSV (per-job isolation for bad paths /
      // sniffs), then read the healthy ones as ONE multi-file scan per sniff
      // group — plan-LEAF count, not data volume, was the wave's remaining
      // floor (a 64-leaf per-file union measured 7.8 s against 0.44 s for
      // one 64-file scan at the same data; BASELINE.md round 8).
      val hconf = spark.sparkContext.hadoopConfiguration
      val (reproAll, initialAll) = wave.partition(_.route == Router.Reprocessing)
      val sniffed: Seq[(WaveItem, CsvSource.WaveFile)] = initialAll.flatMap { w =>
        try {
          val p = resolveCsv(w.s3Key)
          val sn = graft.ingest.CsvSniffer.sniff(p, hconf)
          val hp = new org.apache.hadoop.fs.Path(p)
          val size = hp.getFileSystem(hconf).getFileStatus(hp).getLen
          Some(w -> CsvSource.WaveFile(w.jobId, p, sn, size))
        } catch {
          case e: Exception =>
            debug(e)
            done += fail(w, String.valueOf(e.getMessage)); None
        }
      }
      val initial = sniffed.map(_._1)

      // ONE keyed plan per route present in the wave (at most two plan
      // compiles per wave, independent of wave size). A keyed-plan BUILD
      // failure (rare — plan construction, not execution) fails only its
      // own route's members.
      def usersDf(ws: Seq[WaveItem]): DataFrame = {
        import spark.implicits._
        ws.map(w => (w.jobId, w.userId)).toDF("job_id", "job_user_id")
      }
      def build(ws: Seq[WaveItem])(flow: Seq[Int] => KeyedFlowResult): Unit =
        if (ws.nonEmpty) {
          try built += ws -> flow(ws.map(_.jobId))
          catch { case e: Exception => done ++= onFailure(ws, e) }
        }
      build(initial) { ids =>
        Lifecycle.initialProcessKeyed(
          CsvSource.readWaveKeyed(spark, sniffed.map(_._2)), usersDf(initial),
          prior("staging", ids), prior("issues", ids), prior("issue_items", ids), contacts)
      }
      build(reproAll) { ids =>
        Lifecycle.reprocessKeyed(
          prior("staging", ids), prior("issues", ids), prior("issue_items", ids),
          contacts, usersDf(reproAll))
      }
      if (built.isEmpty) return done.toSeq

      val debugTimes = sys.env.contains("GRAFT_DISPATCH_DEBUG")
      var t0 = System.nanoTime()
      def lap(tag: String): Unit = if (debugTimes) {
        System.err.println(f"[wave] $tag ${(System.nanoTime() - t0) / 1e9}%.1f s")
        t0 = System.nanoTime()
      }
      // Counters materialize BEFORE the commits (their plans read the
      // pre-commit snapshots, which the commit replaces) — ONE action for
      // the whole wave, which fixes every job's ADR-002 decision, counts
      // its input rows, and warms the keyed classify cache for the commit
      // materializations below.
      val counterRows = built.map(_._2.counters)
        .reduce(_.unionByName(_)).collect()
        .map(r => r.getAs[Int]("job_id") -> r).toMap
      lap("counters")
      // Empty-CSV rule (processor.py:149-151): an initial-route job that
      // read no rows fails whatever its prior state, and none of its
      // partitions, contacts or counters commit.
      val (emptyCsv, members) = built.toSeq.flatMap(_._1).partition(w =>
        w.route == Router.Initial &&
          counterRows.get(w.jobId).forall(_.getAs[Long]("input_rows") == 0L))
      emptyCsv.foreach(w => done += fail(w, "requirement failed: CSV file is empty"))
      if (members.isEmpty) return done.toSeq
      val jobIds = members.map(_.jobId)
      val cleanIds = jobIds.filter(id => counterRows(id).getAs[Long]("unresolved_issues") == 0L)
      def unionOf(f: KeyedFlowResult => DataFrame, shape: StructType): DataFrame =
        built.map { case (_, k) => normTo(f(k), shape) }.reduce(_.unionByName(_))
      // Only the committed jobs' partitions are replaced: other jobs' files
      // are never rewritten, and an empty-CSV job's prior rows stay as
      // they were.
      def partition(table: String, f: KeyedFlowResult => DataFrame): graft.io.PartitionCommit = {
        val jobCol = priorState(table)
        graft.io.PartitionCommit(table,
          unionOf(f, tableShapes(table)).filter(col(jobCol).isin(jobIds: _*)),
          jobCol, jobIds.head, jobIds.tail)
      }
      // ONE two-phase commit for the whole wave: contacts append + 3-table
      // partition swap. commitAll stages every plan against the pre-commit
      // snapshots before mutating anything — the classify subtree reads
      // contacts, so an append-then-write sequence would re-evaluate the
      // staging plan against the wave's own appended contacts (flipping its
      // READY rows to EXISTING_EMAIL).
      // Cluster the multi-tenant contacts append by its partition key for
      // the same reason the store clusters multi-job partition commits:
      // without it every write task emits one file per tenant it holds.
      val contactsAppend = unionOf(_.newContactsDecided(cleanIds), tableShapes("contacts"))
        .repartition(col("contacts_user_id"))
      store.commitAll(
        Seq("contacts" -> contactsAppend),
        Seq(
          partition("staging", _.stagingDecided(cleanIds)),
          partition("issues", _.issues),
          partition("issue_items", _.issueItems)))
      lap("commit")
      // W7/W8 last (crash-repairable): all statuses + counters in one update.
      def statusOf(jobId: Int): String =
        graft.ops.Consolidate.decideJobStatus(
          counterRows(jobId).getAs[Long]("unresolved_issues"))
      updateJobs(store, members.map { w =>
        val c = counterRows(w.jobId)
        JobUpdate(w.jobId, statusOf(w.jobId),
          totalRows = c.getAs[Long]("total_rows"),
          processedRows = c.getAs[Long]("total_rows"), // all rows seen (processor.py:313-330)
          issueCount = c.getAs[Long]("unresolved_issues"))
      })
      done ++= members.map { w =>
        w.idx -> MessageOutcome(Some(w.jobId), w.s3Key, statusOf(w.jobId), "ok")
      }
    } catch {
      case e: Exception =>
        // A shared step failed: every member without an outcome yet takes
        // the failure path (statuses are PROCESSING now, so a replay keeps
        // the pre-wave route).
        val settled = done.map(_._1).toSet
        done ++= onFailure(wave.filterNot(w => settled(w.idx)), e)
    } finally {
      // Release the keyed classify caches — a long-running stream would
      // otherwise hold one dead cached frame per wave in the storage pool.
      built.foreach { case (_, k) => k.unpersist() }
    }
    done.toSeq
  }

  /** An empty LOCAL relation (not an empty RDD): Catalyst's empty-relation
    * propagation prunes the plan branches it feeds. */
  private def emptyLike(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** Route + run one job message end-to-end (the reference's
    * Processor.process_job, §2.11 flow router) as a wave of one that does
    * not replay. Never throws: a failure returns a FAILED outcome and leaves
    * the job FAILED. A direct call has no raw message body, so its outcomes
    * carry `s3Key` in the body field. */
  def processOne(
      spark: SparkSession,
      store: TableStore,
      jobId: Int,
      s3Key: String,
      resolveCsv: String => String): MessageOutcome =
    runAlone(spark, store, jobId, s3Key, s3Key, resolveCsv, None)

  /** Add any missing metadata columns as typed nulls (seed jobs tables can
    * stay minimal; columns appear on first use). */
  private def ensureCols(df: DataFrame, cols: Seq[(String, String)]): DataFrame =
    cols.foldLeft(df) { case (d, (name, dt)) =>
      if (d.columns.contains(name)) d else d.withColumn(name, lit(null).cast(dt))
    }

  /** Project `df` onto the canonical `shape` (absent columns become typed
    * nulls) so result frames from different routes union and commit
    * uniformly. */
  private def normTo(df: DataFrame, shape: StructType): DataFrame =
    df.select(shape.fields.toSeq.map(f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)): _*)

  /** W7: single-row job status update (driver-side; 1-row table op). */
  def setJobStatus(store: TableStore, jobId: Int, status: String): Unit =
    setJobStatusAll(store, Seq(jobId), status)

  /** W7, batched: one jobs-table write moves every listed job to `status`.
    * Entering PROCESSING stamps `job_process_start` and CLEARS
    * `job_process_end` — a restarted job must not carry the previous cycle's
    * end time (processor.py:143, job_repository.py:58-61). */
  def setJobStatusAll(store: TableStore, jobIds: Seq[Int], status: String): Unit =
    if (jobIds.nonEmpty && store.exists("jobs")) {
      val jobs = ensureCols(store.load("jobs"),
        Seq("job_process_start" -> "timestamp", "job_process_end" -> "timestamp"))
      val isJob = col("job_id").isin(jobIds: _*)
      val entering = status == JobStatus.Processing
      store.overwrite("jobs", jobs
        .withColumn("job_status", when(isJob, lit(status)).otherwise(col("job_status")))
        .withColumn("job_process_start",
          if (entering) when(isJob, current_timestamp()).otherwise(col("job_process_start"))
          else col("job_process_start"))
        .withColumn("job_process_end",
          if (entering) when(isJob, lit(null).cast("timestamp")).otherwise(col("job_process_end"))
          else col("job_process_end")))
    }

  /** One job's final status + counters (W7+W8). */
  case class JobUpdate(
      jobId: Int, status: String,
      totalRows: Long, processedRows: Long, issueCount: Long)

  /** W7+W8: every job's status + progress counters + process_end land in
    * ONE jobs-table write (processor.py:313-330, job_repository.py:32-110) —
    * a broadcast-joined update: the jobs table is control-plane small, the
    * updates list is ≤ messages-per-trigger. Metadata columns are created
    * on first use so seed jobs tables can stay minimal. */
  def updateJobs(store: TableStore, updates: Seq[JobUpdate]): Unit = {
    if (updates.isEmpty || !store.exists("jobs")) return
    val jobs = ensureCols(store.load("jobs"),
      Seq("job_total_rows" -> "long", "job_processed_rows" -> "long",
        "job_issue_count" -> "long", "job_process_end" -> "timestamp"))
    val session = jobs.sparkSession
    import session.implicits._
    val u = broadcast(updates
      .map(u => (u.jobId, u.status, u.totalRows, u.processedRows, u.issueCount))
      .toDF("u_job_id", "u_status", "u_total", "u_processed", "u_issues"))
    store.overwrite("jobs", jobs
      .join(u, col("job_id") === col("u_job_id"), "left")
      .withColumn("job_status", coalesce(col("u_status"), col("job_status")))
      .withColumn("job_total_rows", coalesce(col("u_total"), col("job_total_rows")))
      .withColumn("job_processed_rows", coalesce(col("u_processed"), col("job_processed_rows")))
      .withColumn("job_issue_count", coalesce(col("u_issues"), col("job_issue_count")))
      .withColumn("job_process_end",
        when(col("u_status") === lit(JobStatus.Completed), current_timestamp())
          .otherwise(col("job_process_end")))
      .drop("u_job_id", "u_status", "u_total", "u_processed", "u_issues"))
  }

  /** Tables the dispatch pipeline appends/commits into — the maintenance
    * (compaction) set for a long-running stream. */
  private val maintainedTables = Seq("contacts", "staging", "issues", "issue_items")

  /** Start the dispatch stream over a message QUEUE directory (one file per
    * message) via the native [[graft.stream.queue.QueueSourceProvider]]
    * source — full reference delivery protocol: messages are DELETED only
    * when the epoch commits (ack-on-success, consumer.py:152-156), and a
    * failed/interrupted epoch leaves them visible for redelivery on restart
    * (the visibility-timeout analog, consumer.py:171-177). `maintainEvery`
    * > 0 compacts the append-heavy tables after every Nth micro-batch. */
  def startQueue(
      spark: SparkSession,
      store: TableStore,
      queueDir: String,
      checkpointDir: String,
      resolveCsv: String => String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      maintainEvery: Int = 0,
      queueOptions: Map[String, String] = Map.empty): StreamingQuery = {
    // queueOptions passes source options through (deadLetterDir +
    // maxReceives for the SQS redrive-policy analog, maxFilesPerTrigger
    // for admission control) — a production deployment enables the DLQ
    // here without hand-assembling the stream.
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    spark.readStream
      .format("graft-queue")
      .options(queueOptions)
      .load(queueDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val outcomes = processBatch(spark, store, batch.select("value"), resolveCsv)
        outcomes.foreach(o => println(s"[dispatch] $o"))
        // Post-batch storage maintenance: every Nth micro-batch compacts the
        // append-heavy tables (a directory listing when nothing fragmented;
        // safe here — no plan from this batch is still unmaterialized).
        if (maintainEvery > 0 && batches.incrementAndGet() % maintainEvery == 0)
          try store.maintain(maintainedTables)
          catch { case e: Exception => debug(e) }
      }
      .start()
  }
}

package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import graft.io.TableStore
import graft.ingest.CsvSource
import graft.model.Schemas.JobStatus
import graft.pipeline.{Lifecycle, Router}

/** Structured Streaming dispatch shell (SURVEY.md §2.10, §3.1 step 1).
  *
  * The reference long-polls SQS one message at a time (consumer.py:55-111).
  * Spark has no built-in SQS source, so the sanctioned bridge (SURVEY.md
  * §7.4) is a message FILE stream: an SQS drainer (or any producer) appends
  * JSON-lines job messages to a directory; `readStream.text` tails it with
  * exactly-once file tracking via the checkpoint. PRODUCER CONTRACT: files
  * must APPEAR atomically (write to a temp name, then rename into the
  * directory) — Spark's file source lists a file once and can observe a
  * partial write otherwise. Everything downstream of a
  * message is the bounded batch pipeline, dispatched per micro-batch through
  * `foreachBatch`.
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

  /** Jobs metadata (status, tenant) and staging presence of `ids`: one jobs
    * lookup + one staging-presence aggregate, however many ids. */
  private def lookup(
      store: TableStore, ids: Seq[Int]): (Map[Int, (String, String)], Set[Int]) = {
    val jobsMeta: Map[Int, (String, String)] =
      if (store.exists("jobs"))
        store.load("jobs").filter(col("job_id").isin(ids: _*))
          .select("job_id", "job_status", "job_user_id").collect()
          .map(r => r.getAs[Int]("job_id") ->
            (r.getAs[String]("job_status"), r.getAs[String]("job_user_id"))).toMap
      else Map.empty
    val stagingJobs: Set[Int] =
      if (jobsMeta.nonEmpty && store.exists("staging"))
        store.load("staging").filter(col("staging_job_id").isin(ids: _*))
          .select("staging_job_id").distinct().collect()
          .map(_.getAs[Int]("staging_job_id")).toSet
      else Set.empty
    (jobsMeta, stagingJobs)
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
    * lookup + one staging-presence aggregate route every message, and all
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
      val (jobsMeta, stagingJobs) = lookup(store, valid.map(_._2).distinct.toSeq)

      val wave = scala.collection.mutable.ArrayBuffer.empty[WaveItem]
      val tail = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, String)]
      val seenJobs = scala.collection.mutable.Set.empty[Int]
      val seenUsers = scala.collection.mutable.Set.empty[String]
      valid.foreach { case (i, jobId, s3Key, body) =>
        val meta = jobsMeta.get(jobId)
        val route = Router.route(meta.map(_._1), stagingJobs(jobId))
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

      wave.grouped(MaxWave).foreach { chunk =>
        processWave(spark, store, chunk.toSeq, resolveCsv, replay = true)
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
      val (jobsMeta, stagingJobs) = lookup(store, Seq(jobId))
      val liveRoute = Router.route(jobsMeta.get(jobId).map(_._1), stagingJobs(jobId))
      skipOutcome(jobId, s3Key, liveRoute).getOrElse {
        val w = WaveItem(0, jobId, s3Key, body, jobsMeta(jobId)._2,
          forcedRoute.getOrElse(liveRoute))
        processWave(spark, store, Seq(w), resolveCsv, replay = false).head._2
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
    * compilation per job, not data volume). Store round trips stay
    * batched: one PROCESSING update, one counters action, one contacts
    * append, one 3-table partition commit, one jobs update per wave.
    *
    * Per-message CSV failures isolate (that job goes FAILED, the rest
    * continue). A shared failure (keyed-plan build, counters, commit) of a
    * wave built from a batch (`replay`) replays each affected member ONCE
    * as a wave of one WITH its pre-wave route, so one bad job can't sink its
    * wave-mates; a wave of one that is itself a replay, a tail message or
    * a direct call fails its member with the error instead. Returns one
    * outcome per member, keyed by original message index. */
  private def processWave(
      spark: SparkSession,
      store: TableStore,
      wave: Seq[WaveItem],
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
    // replays as a no-op for the already-landed rows.
    def onFailure(ws: Seq[WaveItem], e: Exception): Seq[(Int, MessageOutcome)] = {
      debug(e)
      ws.map { w =>
        if (replay)
          w.idx -> runAlone(spark, store, w.jobId, w.s3Key, w.body, resolveCsv, Some(w.route))
        else fail(w, String.valueOf(e.getMessage))
      }
    }
    val built = scala.collection.mutable.ArrayBuffer.empty[(Seq[WaveItem], KeyedFlowResult)]

    try {
      def tbl(name: String, shape: StructType): DataFrame =
        if (store.exists(name)) store.load(name) else emptyLike(spark, shape)
      val staging = tbl("staging", stagingShape)
      val issues = tbl("issues", issuesShape)
      val items = tbl("issue_items", itemsShape)
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
      val contacts = tbl("contacts", contactsShape)
        .filter(col("contacts_user_id").isin(waveTenants: _*))

      // Which wave jobs actually HAVE prior state, probed once per table for
      // the whole wave. A wave of first-pass jobs (the steady-stream common
      // case) then feeds the keyed plan a known-empty LOCAL relation:
      // Catalyst's empty-relation propagation collapses the J1 anti-join and
      // the issue/link merge branches; otherwise ONE filtered scan serves
      // every job in the keyed plan.
      val waveIds = wave.map(_.jobId)
      def presentIn(name: String, partCol: String): Set[Int] =
        if (!store.exists(name)) Set.empty
        else store.load(name).filter(col(partCol).isin(waveIds: _*))
          .select(partCol).distinct().collect().map(_.getAs[Int](partCol)).toSet
      val hasStaging = presentIn("staging", "staging_job_id")
      val hasIssues = presentIn("issues", "issues_job_id")
      val hasItems = presentIn("issue_items", "issues_job_id")
      def slice(base: DataFrame, shape: StructType, partCol: String,
          present: Set[Int], ids: Seq[Int]): DataFrame = {
        val have = ids.filter(present)
        if (have.isEmpty) emptyLike(spark, shape)
        else base.filter(col(partCol).isin(have: _*))
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
      val keyedInput: Option[DataFrame] =
        if (sniffed.isEmpty) None
        else Some(CsvSource.readWaveKeyed(spark, sniffed.map(_._2)))
      // Empty-CSV detection (processor.py:149-151 parity): the job ids with
      // at least one row, in ONE action over the shared scan. On a runtime
      // read failure, degrade to per-file probes (binary-splitting around
      // the poison) — a job whose read still throws counts as non-empty so
      // its REAL error surfaces at commit, attributed to the right message.
      val presentJobs: Set[Int] = keyedInput match {
        case None => Set.empty
        case Some(df) =>
          try df.select("job_id").distinct().collect().map(_.getInt(0)).toSet
          catch {
            case e: Exception =>
              debug(e)
              val perFile = sniffed.map { case (w, f) =>
                w.idx -> CsvSource.toContract(CsvSource.readWith(spark, f.path, f.sniff))
              }
              val emptyIdx = probeEmptyIdx(perFile)
              sniffed.collect { case (w, _) if !emptyIdx(w.idx) => w.jobId }.toSet
          }
      }
      val initialRunnable = sniffed.map(_._1).filter { w =>
        val ok = presentJobs(w.jobId)
        if (!ok) done += fail(w, "requirement failed: CSV file is empty")
        ok
      }

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
      build(initialRunnable) { ids =>
        Lifecycle.initialProcessKeyed(
          keyedInput.get, usersDf(initialRunnable),
          slice(staging, stagingShape, "staging_job_id", hasStaging, ids),
          slice(issues, issuesShape, "issues_job_id", hasIssues, ids),
          slice(items, itemsShape, "issues_job_id", hasItems, ids),
          contacts)
      }
      build(reproAll) { ids =>
        Lifecycle.reprocessKeyed(
          slice(staging, stagingShape, "staging_job_id", hasStaging, ids),
          slice(issues, issuesShape, "issues_job_id", hasIssues, ids),
          slice(items, itemsShape, "issues_job_id", hasItems, ids),
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
      // the whole wave, which fixes every job's ADR-002 decision and warms
      // the keyed classify cache for the commit materializations below.
      val counterRows = built.map(_._2.counters)
        .reduce(_.unionByName(_)).collect()
        .map(r => r.getAs[Int]("job_id") -> r).toMap
      lap("counters")
      val cleanIds = counterRows.collect {
        case (id, r) if r.getAs[Long]("unresolved_issues") == 0L => id
      }.toSeq
      def unionOf(f: KeyedFlowResult => DataFrame, shape: StructType): DataFrame =
        built.map { case (_, k) => normTo(f(k), shape) }.reduce(_.unionByName(_))
      // ONE two-phase commit for the whole wave: contacts append + 3-table
      // partition swap. commitAll stages every plan against the pre-commit
      // snapshots before mutating anything — the classify subtree reads
      // contacts, so an append-then-write sequence would re-evaluate the
      // staging plan against the wave's own appended contacts (flipping its
      // READY rows to EXISTING_EMAIL). Only the wave's own partitions are
      // replaced: other jobs' files are never rewritten.
      val jobIds = built.toSeq.flatMap(_._1).map(_.jobId)
      // Cluster the multi-tenant contacts append by its partition key for
      // the same reason the store clusters multi-job partition commits:
      // without it every write task emits one file per tenant it holds.
      val contactsAppend = unionOf(_.newContactsDecided(cleanIds), contactsShape)
        .repartition(col("contacts_user_id"))
      store.commitAll(
        Seq("contacts" -> contactsAppend),
        Seq(
          graft.io.PartitionCommit("staging", unionOf(_.stagingDecided(cleanIds), stagingShape),
            "staging_job_id", jobIds.head, jobIds.tail),
          graft.io.PartitionCommit("issues", unionOf(_.issues, issuesShape),
            "issues_job_id", jobIds.head, jobIds.tail),
          graft.io.PartitionCommit("issue_items", unionOf(_.issueItems, itemsShape),
            "issues_job_id", jobIds.head, jobIds.tail)))
      lap("commit")
      // W7/W8 last (crash-repairable): all statuses + counters in one update.
      def statusOf(jobId: Int): String =
        graft.ops.Consolidate.decideJobStatus(
          counterRows(jobId).getAs[Long]("unresolved_issues"))
      updateJobs(store, built.toSeq.flatMap(_._1).map { w =>
        val c = counterRows(w.jobId)
        JobUpdate(w.jobId, statusOf(w.jobId),
          totalRows = c.getAs[Long]("total_rows"),
          processedRows = c.getAs[Long]("total_rows"), // all rows seen (processor.py:313-330)
          issueCount = c.getAs[Long]("unresolved_issues"))
      })
      done ++= built.toSeq.flatMap(_._1).map { w =>
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

  /** Probe a set of (idx, plan) inputs for emptiness in as few actions as
    * possible: ONE union-of-limit(1) action for the whole set on the happy
    * path; on a runtime failure the group BINARY-SPLITS, so one poisoned
    * input costs O(log n) extra probes for the healthy rest instead of a
    * sequential per-input scan. A singleton that still throws counts as
    * NON-empty so its real error — not "empty CSV" — surfaces at
    * build/commit, where per-job isolation attributes it to the right
    * message. Returns the idx set of EMPTY inputs. `onProbe` (tests)
    * observes each probe action with its group size. */
  private[stream] def probeEmptyIdx(
      inputs: Seq[(Int, DataFrame)],
      onProbe: Int => Unit = _ => ()): Set[Int] = {
    def probe(group: Seq[(Int, DataFrame)]): Set[Int] = {
      onProbe(group.length)
      val present = group.map { case (i, df) => df.limit(1).select(lit(i).as("idx")) }
        .reduce(_.unionByName(_)).collect().map(_.getInt(0)).toSet
      group.map(_._1).toSet -- present
    }
    def go(group: Seq[(Int, DataFrame)]): Set[Int] =
      try probe(group)
      catch {
        case e: Exception =>
          debug(e)
          if (group.length <= 1) Set.empty
          else {
            val (l, r) = group.splitAt(group.length / 2)
            go(l) ++ go(r)
          }
      }
    if (inputs.isEmpty) Set.empty else go(inputs)
  }

  private def emptyLike(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

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

  /** Start the dispatch stream over a message QUEUE directory (one file per
    * message) via the native [[graft.stream.queue.QueueSourceProvider]]
    * source — full reference delivery protocol: messages are DELETED only
    * when the epoch commits (ack-on-success, consumer.py:152-156), and a
    * failed/interrupted epoch leaves them visible for redelivery on restart
    * (the visibility-timeout analog, consumer.py:171-177). Use [[start]] for
    * the simpler exactly-once JSON-lines file bridge. */
  /** Tables the dispatch pipeline appends/commits into — the maintenance
    * (compaction) set for a long-running stream. */
  private val maintainedTables = Seq("contacts", "staging", "issues", "issue_items")

  def startQueue(
      spark: SparkSession,
      store: TableStore,
      queueDir: String,
      checkpointDir: String,
      resolveCsv: String => String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      maintainEvery: Int =
        sys.env.get("GRAFT_COMPACT_EVERY").flatMap(_.toIntOption).getOrElse(0),
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

  /** Start the dispatch stream over a JSON-lines message directory. */
  def start(
      spark: SparkSession,
      store: TableStore,
      messagesDir: String,
      checkpointDir: String,
      resolveCsv: String => String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    spark.readStream
      .text(messagesDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val outcomes = processBatch(spark, store, batch, resolveCsv)
        outcomes.foreach(o => println(s"[dispatch] $o"))
      }
      .start()
  }

  // Canonical runtime table shapes: used for absent tables (first message
  // ever) and as the DDL contract for SQL-backed stores — a JdbcTableStore
  // deployment creates its tables from exactly these (see
  // [[tableShapes]] and JdbcLifecycleSpec).
  private val stagingShape = StructType(Seq(
    StructField("staging_id", org.apache.spark.sql.types.LongType),
    StructField("staging_job_id", IntegerType),
    StructField("staging_email", StringType),
    StructField("staging_first_name", StringType),
    StructField("staging_last_name", StringType),
    StructField("staging_company", StringType),
    StructField("staging_status", StringType),
    StructField("staging_row_hash", StringType)))
  private val issuesShape = StructType(Seq(
    StructField("issues_job_id", IntegerType),
    StructField("issue_type", StringType),
    StructField("issue_key", StringType),
    StructField("issue_description", StringType),
    StructField("issue_resolved", org.apache.spark.sql.types.BooleanType),
    StructField("issue_resolved_at", org.apache.spark.sql.types.TimestampType),
    StructField("issue_resolved_by", StringType),
    StructField("issue_resolution_comment", StringType)))
  private val itemsShape = StructType(Seq(
    StructField("issues_job_id", IntegerType),
    StructField("issue_type", StringType),
    StructField("issue_key", StringType),
    StructField("item_staging_id", org.apache.spark.sql.types.LongType)))
  private val contactsShape = StructType(Seq(
    StructField("staging_id", org.apache.spark.sql.types.LongType),
    StructField("contacts_user_id", StringType),
    StructField("contact_email", StringType),
    StructField("contact_first_name", StringType),
    StructField("contact_last_name", StringType),
    StructField("contact_company", StringType)))

  /** The canonical store-table shapes the dispatch pipeline reads/commits —
    * the DDL contract for a SQL-backed (DDL-managed) TableStore. */
  val tableShapes: Map[String, StructType] = Map(
    "staging" -> stagingShape,
    "issues" -> issuesShape,
    "issue_items" -> itemsShape,
    "contacts" -> contactsShape)
}

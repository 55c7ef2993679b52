package graft.stream

import graft.SparkSpec
import graft.io.ParquetTableStore
import graft.model.Schemas
import graft.model.Schemas.JobStatus
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import java.nio.file.{Files, Paths}

/** Batched-wave dispatch semantics (JobDispatch.processBatch): the fast
  * path commits distinct-job/distinct-tenant messages as one wave, and
  * everything that can't ride the wave — repeats, same-tenant pairs,
  * per-job failures — must degrade to EXACTLY the sequential behavior.
  * MultiJobSpec pins the happy-path drain == batch equality; this suite
  * pins the edges. */
class WaveDispatchSpec extends SparkSpec {
  import spark.implicits._

  private def seed(nJobs: Int, users: Int => String): (String, ParquetTableStore) = {
    val root = Files.createTempDirectory("graft_wave").toString
    Files.createDirectories(Paths.get(s"$root/uploads"))
    val store = new ParquetTableStore(spark, s"$root/tables")
    store.overwrite("jobs", (1 to nJobs).map(i => (i, users(i), JobStatus.Pending))
      .toDF("job_id", "job_user_id", "job_status"))
    (root, store)
  }

  private def msg(jobId: Int, key: String) = s"""{"job_id": $jobId, "s3_key": "$key"}"""

  test("mixed batch: wave completes, empty CSV and bad path fail alone, stale/done/poison skip") {
    val (root, store) = seed(5, i => s"u$i")
    // Job 5 pre-completed; job 99 not in jobs at all.
    store.overwrite("jobs", store.load("jobs").withColumn("job_status",
      when(col("job_id") === 5, JobStatus.Completed).otherwise(col("job_status"))))
    Files.writeString(Paths.get(s"$root/uploads/good1.csv"),
      "email,first_name,last_name,company\na1@b.co,F,L,C\n")
    Files.writeString(Paths.get(s"$root/uploads/good2.csv"),
      "email,first_name,last_name,company\na2@b.co,F,L,C\n")
    Files.writeString(Paths.get(s"$root/uploads/empty.csv"),
      "email,first_name,last_name,company\n")

    val batch = Seq(
      msg(1, "good1.csv"),          // wave, completes
      msg(2, "empty.csv"),          // wave, fails on its zero input rows
      msg(3, "missing.csv"),        // wave, fails at the CSV sniff
      msg(4, "good2.csv"),          // wave, completes
      msg(99, "good1.csv"),         // stale (no jobs row)
      msg(5, "good1.csv"),          // already COMPLETED
      "not json at all"             // poison
    ).toDF("value")
    val out = JobDispatch.processBatch(spark, store, batch,
      k => s"$root/uploads/$k")

    assert(out.length === 7)
    assert(out(0).outcome === JobStatus.Completed)
    assert(out(1).outcome === "FAILED")
    assert(out(1).detail.contains("CSV file is empty"))
    assert(out(2).outcome === "FAILED")
    assert(out(3).outcome === JobStatus.Completed)
    assert(out(4).outcome === "SKIPPED" && out(4).detail.contains("not found"))
    assert(out(5).outcome === "SKIPPED" && out(5).detail.contains("COMPLETED"))
    assert(out(6).outcome === "DROPPED_POISON")

    val statuses = store.load("jobs").select("job_id", "job_status")
      .as[(Int, String)].collect().toMap
    assert(statuses(1) === JobStatus.Completed)
    assert(statuses(2) === JobStatus.Failed)
    assert(statuses(3) === JobStatus.Failed)
    assert(statuses(4) === JobStatus.Completed)
    assert(statuses(5) === JobStatus.Completed)
    // Only the two completed jobs' rows landed.
    assert(store.load("contacts").count() === 2)
    assert(store.load("staging").select("staging_job_id").distinct()
      .as[Int].collect().toSet === Set(1, 4))
  }

  test("same-tenant pair in one batch: second job sees the first one's contacts (sequential visibility)") {
    val (root, store) = seed(2, _ => "u1")
    Files.writeString(Paths.get(s"$root/uploads/f1.csv"),
      "email,first_name,last_name,company\nshared@b.co,F,L,C\n")
    // Job 2 re-imports the same email: EXISTING_EMAIL once job 1 consolidated.
    Files.writeString(Paths.get(s"$root/uploads/f2.csv"),
      "email,first_name,last_name,company\nshared@b.co,F2,L2,C2\n")

    val out = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "f1.csv"), msg(2, "f2.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    assert(out(0).outcome === JobStatus.Completed)
    // The wave takes job 1 only (tenant conflict); job 2 runs after the wave
    // commit and must observe job 1's consolidated contact.
    assert(out(1).outcome === JobStatus.NeedsReview)
    val issue = store.load("issues").filter(col("issues_job_id") === 2).head()
    assert(issue.getAs[String]("issue_type") === "EXISTING_EMAIL")
    assert(store.load("contacts").count() === 1)
  }

  test("duplicate job message in one batch: first completes, replay skips") {
    val (root, store) = seed(1, _ => "u1")
    Files.writeString(Paths.get(s"$root/uploads/f.csv"),
      "email,first_name,last_name,company\nx@b.co,F,L,C\n")
    val out = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "f.csv"), msg(1, "f.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    assert(out(0).outcome === JobStatus.Completed)
    assert(out(1).outcome === "SKIPPED" && out(1).detail.contains("COMPLETED"))
    assert(store.load("contacts").count() === 1)
    assert(store.load("staging").count() === 1)
  }

  test("full-batch redelivery reaches a fixed point after one reprocess pass") {
    // ADR-001 at-least-once e2e for the WAVE path. Reference semantics on
    // redelivery of a NEEDS_REVIEW job: it ROUTES to reprocessing, which
    // keys still-failing row-level issues `staging_{id}` where the initial
    // pass keyed them `row_{n}` (processor.py:262 vs :519) — so the FIRST
    // redelivery legitimately adds the reprocess-keyed twin. What must
    // hold: contacts/staging/jobs never change, and the SECOND redelivery
    // changes nothing at all (the fixed point).
    val (root, store) = seed(2, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/clean.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n")
    Files.writeString(Paths.get(s"$root/uploads/issue.csv"),
      "email,first_name,last_name,company\nok2@b.co,F,L,C\n,missing,Cee,Biz\n")
    val batch = Seq(msg(1, "clean.csv"), msg(2, "issue.csv")).toDF("value")

    def stable() = (
      store.load("contacts").count(),
      store.load("staging").select("staging_id", "staging_status")
        .as[(Long, String)].collect().toSet,
      store.load("jobs").select("job_id", "job_status", "job_total_rows")
        .as[(Int, String, Long)].collect().toSet)
    def issues() = store.load("issues")
      .select("issue_type", "issue_key", "issue_resolved")
      .as[(String, String, Boolean)].collect().toSet

    JobDispatch.processBatch(spark, store, batch, k => s"$root/uploads/$k")
    val stable1 = stable()
    assert(issues().map(_._2) === Set("row_2"))

    val out2 = JobDispatch.processBatch(spark, store, batch, k => s"$root/uploads/$k")
    assert(out2(0).outcome === "SKIPPED") // COMPLETED short-circuit
    assert(out2(1).outcome === JobStatus.NeedsReview) // reprocess route
    assert(stable() === stable1, "redelivery mutated contacts/staging/jobs")
    val issues2 = issues()
    assert(issues2.map(_._2) === Set("row_2", "staging_2199023255554"))

    val out3 = JobDispatch.processBatch(spark, store, batch, k => s"$root/uploads/$k")
    assert(out3(1).outcome === JobStatus.NeedsReview)
    assert(stable() === stable1)
    assert(issues() === issues2, "second redelivery did not reach the fixed point")
  }

  test("mixed-route wave: initial and reprocess jobs commit in one wave") {
    val (root, store) = seed(2, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/fix.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n,missing,Cee,Biz\n")
    Files.writeString(Paths.get(s"$root/uploads/new.csv"),
      "email,first_name,last_name,company\nnew@b.co,F,L,C\n")
    // Seed job 1 into NEEDS_REVIEW with staging via a first batch.
    JobDispatch.processBatch(spark, store,
      Seq(msg(1, "fix.csv")).toDF("value"), k => s"$root/uploads/$k")
    assert(store.load("jobs").filter(col("job_id") === 1)
      .head().getAs[String]("job_status") === JobStatus.NeedsReview)
    // User resolves the bad row by DISCARD (the review flow), then the next
    // batch carries job 1's reprocess message AND job 2's initial message.
    store.overwrite("staging", store.load("staging").withColumn("staging_status",
      when(col("staging_email").isNull || trim(col("staging_email")) === "",
        "DISCARD").otherwise(col("staging_status"))))
    val out = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "fix.csv"), msg(2, "new.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    assert(out(0).outcome === JobStatus.Completed) // reprocess route, wave-committed
    assert(out(1).outcome === JobStatus.Completed) // initial route, same wave
    val contacts = store.load("contacts")
      .select("contact_email").as[String].collect().toSet
    assert(contacts === Set("ok@b.co", "new@b.co"))
  }

  test("shared-commit failure on a mixed-route wave: replay keeps each job's pre-wave route") {
    // Seed job 1 into NEEDS_REVIEW with staging, discard its bad row (so a
    // reprocess run completes it), and queue job 2 as initial. Then break
    // the shared wave commit by making the contacts table unappendable —
    // the replay must run job 1 through REPROCESS (not re-route it to
    // Initial off its in-wave PROCESSING status).
    val (root, store) = seed(2, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/fix.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n,missing,Cee,Biz\n")
    Files.writeString(Paths.get(s"$root/uploads/new.csv"),
      "email,first_name,last_name,company\nnew@b.co,F,L,C\n")
    JobDispatch.processBatch(spark, store,
      Seq(msg(1, "fix.csv")).toDF("value"), k => s"$root/uploads/$k")
    store.overwrite("staging", store.load("staging").withColumn("staging_status",
      when(col("staging_email").isNull || trim(col("staging_email")) === "",
        "DISCARD").otherwise(col("staging_status"))))

    // A store proxy whose FIRST wave commit throws (the shared-commit
    // action), then behaves normally for the replay.
    var failNextCommit = true
    val flaky = new graft.io.TableStore {
      def load(t: String) = store.load(t)
      def exists(t: String) = store.exists(t)
      def overwrite(t: String, df: org.apache.spark.sql.DataFrame) = store.overwrite(t, df)
      def append(t: String, df: org.apache.spark.sql.DataFrame) = store.append(t, df)
      override def overwritePartitionsAll(cs: Seq[graft.io.PartitionCommit]) =
        store.overwritePartitionsAll(cs)
      override def commitAll(
          appends: Seq[(String, org.apache.spark.sql.DataFrame)],
          partitions: Seq[graft.io.PartitionCommit],
          overwrites: Seq[(String, org.apache.spark.sql.DataFrame)]) = {
        if (failNextCommit && appends.exists(_._1 == "contacts")) {
          failNextCommit = false
          throw new RuntimeException("injected wave-commit failure")
        }
        store.commitAll(appends, partitions, overwrites)
      }
    }
    val out = JobDispatch.processBatch(spark, flaky,
      Seq(msg(1, "fix.csv"), msg(2, "new.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    // Replay with the forced route: job 1 reprocesses to COMPLETED (its
    // discarded row resolves the issue); a re-route to Initial would have
    // re-imported fix.csv over the reviewed staging set instead.
    assert(out(0).outcome === JobStatus.Completed)
    assert(out(1).outcome === JobStatus.Completed)
    // A replayed success names the wave failure it recovered from.
    assert(out.forall(_.detail.contains("injected wave-commit failure")), out.mkString("; "))
    val contacts = store.load("contacts")
      .select("contact_email").as[String].collect().toSet
    assert(contacts === Set("ok@b.co", "new@b.co"))
    // The reviewed DISCARD decision survived the replay (Initial re-import
    // would have re-staged the bad row as ISSUE).
    val statuses = store.load("staging").select("staging_status").as[String].collect().toSet
    assert(statuses === Set("SUCCESS", "DISCARD"))
  }

  test("lone message whose commit always fails: one replay, then FAILED with the error") {
    // A one-member wave built from a batch replays its member ONCE as a
    // wave of one, and that replay does not replay again: commitAll runs
    // exactly twice, the outcome carries the thrown message, and the job
    // is left FAILED (redeliverable).
    val (root, store) = seed(1, _ => "u1")
    Files.writeString(Paths.get(s"$root/uploads/a.csv"),
      "email,first_name,last_name,company\na@b.co,F,L,C\n")
    var commits = 0
    val broken = new graft.io.TableStore {
      def load(t: String) = store.load(t)
      def exists(t: String) = store.exists(t)
      def overwrite(t: String, df: org.apache.spark.sql.DataFrame) = store.overwrite(t, df)
      def append(t: String, df: org.apache.spark.sql.DataFrame) = store.append(t, df)
      override def commitAll(
          appends: Seq[(String, org.apache.spark.sql.DataFrame)],
          partitions: Seq[graft.io.PartitionCommit],
          overwrites: Seq[(String, org.apache.spark.sql.DataFrame)]) = {
        commits += 1
        throw new RuntimeException("injected commit failure")
      }
    }
    val out = JobDispatch.processBatch(spark, broken,
      Seq(msg(1, "a.csv")).toDF("value"), k => s"$root/uploads/$k")
    assert(out.length === 1)
    assert(out(0).outcome === "FAILED")
    assert(out(0).detail === "injected commit failure")
    assert(store.load("jobs").head().getAs[String]("job_status") === JobStatus.Failed)
    assert(commits === 2)
  }

  test("keyed-plan build failure degrades to per-job isolation, batch survives") {
    // A contacts table missing contacts_user_id makes plan CONSTRUCTION
    // throw (analysis failure in the tenant-scope join) for the keyed wave
    // AND for each sequential replay — what must hold is the error contract:
    // processBatch does not throw, every message gets a FAILED outcome with
    // the real error, every job lands in FAILED state (redeliverable).
    val (root, store) = seed(2, i => s"u$i")
    store.overwrite("contacts", Seq((1L, "x@b.co"))
      .toDF("staging_id", "contact_email")) // schema missing contacts_user_id
    Files.writeString(Paths.get(s"$root/uploads/a.csv"),
      "email,first_name,last_name,company\na@b.co,F,L,C\n")
    val out = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "a.csv"), msg(2, "a.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    assert(out.length === 2)
    assert(out.forall(_.outcome === "FAILED"), out.mkString("; "))
    assert(out.forall(o => o.detail != null && o.detail.nonEmpty))
    val statuses = store.load("jobs").select("job_status").as[String].collect().toSet
    assert(statuses === Set(JobStatus.Failed))
  }

  test("committed tables match Schemas.tableShapes after a first-pass and a reprocess wave") {
    val (root, store) = seed(2, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/clean.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n")
    Files.writeString(Paths.get(s"$root/uploads/issue.csv"),
      "email,first_name,last_name,company\nok2@b.co,F,L,C\n,missing,Cee,Biz\n")
    // A hive-partitioned parquet table reads its partition column last;
    // every other column keeps the written (shape) order.
    val partCol = Map("staging" -> "staging_job_id", "issues" -> "issues_job_id",
      "issue_items" -> "issues_job_id", "contacts" -> "contacts_user_id")
    def assertShapes(): Unit = Schemas.tableShapes.foreach { case (t, shape) =>
      val (rest, part) = shape.fields.toSeq.partition(_.name != partCol(t))
      val expected = (rest ++ part).map(f => f.name -> f.dataType)
      assert(store.load(t).schema.fields.toSeq.map(f => f.name -> f.dataType) === expected, t)
    }
    val first = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "clean.csv"), msg(2, "issue.csv")).toDF("value"), k => s"$root/uploads/$k")
    assert(first.map(_.outcome) === Seq(JobStatus.Completed, JobStatus.NeedsReview))
    assertShapes()
    // The reviewer fixes job 2's missing email; its next message reprocesses.
    store.overwrite("staging", store.load("staging").withColumn("staging_email",
      when(col("staging_email").isNull, "fixed@b.co").otherwise(col("staging_email"))))
    val second = JobDispatch.processBatch(spark, store,
      Seq(msg(2, "issue.csv")).toDF("value"), k => s"$root/uploads/$k")
    assert(second.map(_.outcome) === Seq(JobStatus.Completed))
    assert(store.load("issues").filter(col("issue_resolved")).count() === 1)
    assertShapes()
  }

  test("wave with an issue job: NEEDS_REVIEW and COMPLETED commit together, counters per job") {
    val (root, store) = seed(2, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/clean.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n")
    Files.writeString(Paths.get(s"$root/uploads/issue.csv"),
      "email,first_name,last_name,company\nok2@b.co,F,L,C\n,missing,Cee,Biz\n")
    val out = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "clean.csv"), msg(2, "issue.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    assert(out(0).outcome === JobStatus.Completed)
    assert(out(1).outcome === JobStatus.NeedsReview)
    val meta = store.load("jobs")
      .select("job_id", "job_status", "job_total_rows", "job_issue_count")
      .as[(Int, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(meta(1)._2 === JobStatus.Completed)
    assert(meta(1)._3 === 1L && meta(1)._4 === 0L)
    assert(meta(2)._2 === JobStatus.NeedsReview)
    assert(meta(2)._3 === 2L && meta(2)._4 === 1L)
    // The blocked job contributed NO contacts; the clean one consolidated.
    assert(store.load("contacts").count() === 1)
    // Blocked job's staging keeps READY/ISSUE statuses (no SUCCESS rewrite).
    val s2 = store.load("staging").filter(col("staging_job_id") === 2)
      .select("staging_status").as[String].collect().toSet
    assert(s2 === Set("READY", "ISSUE"))
  }

  test("CSV that passes the sniff but throws at the scan: that job FAILS, wave-mates replay and complete") {
    val (root, store) = seed(3, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/good1.csv"),
      "email,first_name,last_name,company\na1@b.co,F,L,C\n")
    Files.writeString(Paths.get(s"$root/uploads/good2.csv"),
      "email,first_name,last_name,company\na2@b.co,F,L,C\n")
    // Plain text under a .gz name: the sniffer reads raw bytes and accepts
    // the header, but Spark's gzip codec fails when the file is scanned.
    val bad = s"$root/uploads/bad.csv.gz"
    Files.writeString(Paths.get(bad), "email,first_name,last_name,company\na3@b.co,F,L,C\n")
    val sniff = graft.ingest.CsvSniffer.sniff(bad, spark.sparkContext.hadoopConfiguration)
    assert(sniff.rawHeader === Seq("email", "first_name", "last_name", "company"))
    val scanError = intercept[Exception](spark.read.text(bad).collect())
    assert(scanError.getMessage.contains("bad.csv.gz"))

    val out = JobDispatch.processBatch(spark, store,
      Seq(msg(1, "good1.csv"), msg(2, "bad.csv.gz"), msg(3, "good2.csv")).toDF("value"),
      k => s"$root/uploads/$k")
    assert(out(0).outcome === JobStatus.Completed)
    assert(out(2).outcome === JobStatus.Completed)
    // The wave's scan failed, so every member replayed alone: the bad job
    // fails with its own read error, the others name the wave failure.
    assert(out(1).outcome === "FAILED")
    assert(out(1).detail.contains("bad.csv.gz"), out(1).detail)
    assert(Seq(out(0), out(2)).forall(_.detail.startsWith("ok (replayed alone after wave failure")),
      out.mkString("; "))
    val statuses = store.load("jobs").select("job_id", "job_status")
      .as[(Int, String)].collect().toMap
    assert(statuses === Map(1 -> JobStatus.Completed, 2 -> JobStatus.Failed, 3 -> JobStatus.Completed))
    assert(store.load("staging").select("staging_job_id").as[Int].collect().sorted.toSeq === Seq(1, 3))
  }

  test("two-job wave on a populated store: each prior-state table is loaded once for presence, once for the plan") {
    val (root, store) = seed(2, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/issue.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n,missing,Cee,Biz\n")
    JobDispatch.processBatch(spark, store,
      Seq(msg(1, "issue.csv"), msg(2, "issue.csv")).toDF("value"), k => s"$root/uploads/$k")
    // Job 1 stays NEEDS_REVIEW (reprocess route); job 2 is a resumed
    // PROCESSING job (initial route over its prior state). Both routes read
    // staging, issues and issue_items.
    store.overwrite("jobs", store.load("jobs").withColumn("job_status",
      when(col("job_id") === 2, JobStatus.Processing).otherwise(col("job_status"))))
    val loads = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val counting = new graft.io.TableStore {
      def load(t: String) = { loads(t) += 1; store.load(t) }
      def exists(t: String) = store.exists(t)
      def overwrite(t: String, df: org.apache.spark.sql.DataFrame) = store.overwrite(t, df)
      def append(t: String, df: org.apache.spark.sql.DataFrame) = store.append(t, df)
      def commitAll(
          appends: Seq[(String, org.apache.spark.sql.DataFrame)],
          partitions: Seq[graft.io.PartitionCommit],
          overwrites: Seq[(String, org.apache.spark.sql.DataFrame)]) =
        store.commitAll(appends, partitions, overwrites)
    }
    val out = JobDispatch.processBatch(spark, counting,
      Seq(msg(1, "issue.csv"), msg(2, "issue.csv")).toDF("value"), k => s"$root/uploads/$k")
    assert(out.map(_.outcome) === Seq(JobStatus.NeedsReview, JobStatus.NeedsReview),
      out.mkString("; "))
    assert(out.forall(_.detail === "ok"), out.mkString("; "))
    Seq("staging", "issues", "issue_items").foreach { t =>
      assert(loads(t) >= 1 && loads(t) <= 2, s"$t loaded ${loads(t)} times")
    }
  }

  test("first-pass wave on a populated store: the counters plan scans no prior-state table") {
    val (root, store) = seed(3, i => s"u$i")
    Files.writeString(Paths.get(s"$root/uploads/issue.csv"),
      "email,first_name,last_name,company\nok@b.co,F,L,C\n,missing,Cee,Biz\n")
    Files.writeString(Paths.get(s"$root/uploads/clean.csv"),
      "email,first_name,last_name,company\na@b.co,F,L,C\n")
    // Job 1 writes staging, issues and issue_items; jobs 2 and 3 have no
    // rows in them, so their wave's prior state is known-empty.
    JobDispatch.processOne(spark, store, 1, "issue.csv", k => s"$root/uploads/$k")
    Seq("staging", "issues", "issue_items").foreach(t => assert(store.exists(t), t))
    val counters = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "input_rows")) counters.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = JobDispatch.processBatch(spark, store,
        Seq(msg(2, "clean.csv"), msg(3, "issue.csv")).toDF("value"), k => s"$root/uploads/$k")
      assert(out.map(_.outcome) === Seq(JobStatus.Completed, JobStatus.NeedsReview),
        out.mkString("; "))
      eventually(timeout(Span(30, Seconds))) { assert(!counters.isEmpty) }
    } finally spark.listenerManager.unregister(listener)
    // Empty local relations fold away: what is left reads the wave's cached
    // classified frame and its small job -> tenant map, nothing else.
    val leaves = counters.peek().collectLeaves()
    assert(leaves.exists(_.isInstanceOf[InMemoryRelation]), leaves.mkString("\n"))
    assert(leaves.forall {
      case _: InMemoryRelation => true
      case l: LocalRelation => l.data.nonEmpty
      case _ => false
    }, leaves.mkString("\n"))
  }
}

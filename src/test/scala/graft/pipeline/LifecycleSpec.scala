package graft.pipeline

import graft.SparkSpec
import graft.model.Schemas.{IssueType, JobStatus, StagingStatus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden lifecycle tests (FIXTURES.md lifecycle scenarios): initial ->
  * review -> reprocess -> consolidate, idempotent resume, DISCARD handling,
  * empty-READY completion, completed-replay no-op. */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def csv(rows: (Long, String, String, String, String)*): DataFrame =
    rows.toDF("row_number", "email", "first_name", "last_name", "company")

  private val contacts0 = Seq((1L, "u1", "old@b.co", "O", "L", "D"))
    .toDF("staging_id", "contacts_user_id", "contact_email",
      "contact_first_name", "contact_last_name", "contact_company")

  private def emptyStaging = Seq.empty[(Long, Int, String, String, String, String, String, String)]
    .toDF("staging_id", "staging_job_id", "staging_email", "staging_first_name",
      "staging_last_name", "staging_company", "staging_status", "staging_row_hash")

  private def emptyIssues = Seq.empty[(Int, String, String, String, Boolean)]
    .toDF("issues_job_id", "issue_type", "issue_key", "issue_description", "issue_resolved")

  private def emptyItems = Seq.empty[(Int, String, String, Long)]
    .toDF("issues_job_id", "issue_type", "issue_key", "item_staging_id")

  private val input = csv(
    (1L, "ok@b.co", "Ann", "Bee", "Acme"),
    (2L, "", "Bob", "Cee", "Biz"),                 // missing email
    (3L, "not-an-email", "Cat", "Dee", "Co"),      // invalid
    (4L, "dup@b.co", "Dan", "Eff", "D1"),          // duplicate pair
    (5L, "DUP@b.co", "Dee", "Gee", "D2"),
    (6L, "old@b.co", "Eve", "Hah", "E1"))          // existing contact

  private def runInitial() = OneJob.initial(
    input, jobId = 9, userId = "u1",
    emptyStaging, emptyIssues, emptyItems, contacts0)

  test("zero-issue job: counters report real zeros and consolidated SUCCESS rows") {
    // sum() over the EMPTY issues frame yields SQL NULL; the counters must
    // normalize it (and fold READY -> SUCCESS) so the 1-row frame agrees
    // with the committed staging — not report ready_rows=N/success_rows=0
    // for rows the commit writes as SUCCESS.
    val r = OneJob.initial(
      csv((1L, "a@b.co", "A", "B", "C"), (2L, "b@b.co", "D", "E", "F")),
      jobId = 9, userId = "u1", emptyStaging, emptyIssues, emptyItems, contacts0)
    val c = r.counterRow
    assert(c.getAs[Long]("unresolved_issues") === 0L)
    assert(c.getAs[Long]("total_issues") === 0L)
    assert(c.getAs[Long]("total_rows") === 2L)
    assert(c.getAs[Long]("ready_rows") === 0L)
    assert(c.getAs[Long]("success_rows") === 2L)
    assert(r.statusOf(c) === JobStatus.Completed)
    assert(r.staging.select("staging_status").as[String].collect().toSet
      === Set(StagingStatus.Success))
  }

  test("initial processing: statuses, issues, NEEDS_REVIEW gate") {
    val r = runInitial()
    assert(r.jobStatus === JobStatus.NeedsReview)
    val statuses = r.staging.select("staging_email", "staging_status")
      .as[(String, String)].collect().toMap
    assert(statuses("ok@b.co") === StagingStatus.Ready)
    assert(statuses("") === StagingStatus.Issue)
    assert(statuses("dup@b.co") === StagingStatus.Issue)
    assert(statuses("DUP@b.co") === StagingStatus.Issue)
    assert(statuses("old@b.co") === StagingStatus.Issue)
    val issueKeys = r.issues.select("issue_type", "issue_key")
      .as[(String, String)].collect().toSet
    assert(issueKeys === Set(
      (IssueType.MissingRequiredField, "row_2"),
      (IssueType.InvalidEmail, "not-an-email"),
      (IssueType.DuplicateEmail, "dup@b.co"),
      (IssueType.ExistingEmail, "old@b.co")))
    assert(r.newContacts.count() === 0) // gated: nothing consolidated
    val c = r.counters.head()
    assert(c.getAs[Long]("total_rows") === 6L)
    assert(c.getAs[Long]("unresolved_issues") === 4L)
  }

  test("idempotent resume: rerunning initial over its own output is a fixed point") {
    val r1 = runInitial()
    val r2 = OneJob.initial(
      input, 9, "u1", r1.staging, r1.issues, r1.issueItems, contacts0)
    assert(r2.staging.count() === r1.staging.count())
    assert(r2.issues.count() === r1.issues.count())
    assert(r2.issueItems.count() === r1.issueItems.count())
    assert(r2.jobStatus === JobStatus.NeedsReview)
  }

  test("reprocess: edits + DISCARD -> resolution, consolidation, COMPLETED") {
    val r1 = runInitial()
    // User fixes row 2 (adds email) and row 3 (valid email), DISCARDs one
    // duplicate copy (row 5) and the existing-email row (row 6).
    val edited = r1.staging
      .withColumn("staging_email",
        when(col("staging_email") === "", lit("bob@b.co"))
          .when(col("staging_email") === "not-an-email", lit("cat@b.co"))
          .otherwise(col("staging_email")))
      .withColumn("staging_status",
        when(col("staging_email").isin("DUP@b.co", "old@b.co"), lit(StagingStatus.Discard))
          .otherwise(col("staging_status")))
    val r2 = OneJob.reprocess(edited, r1.issues, r1.issueItems, contacts0, 9, "u1")

    assert(r2.jobStatus === JobStatus.Completed)
    // Surviving dup copy became READY (its twin is DISCARD, excluded from
    // dup detection) then SUCCESS after consolidation:
    val statuses = r2.staging.select("staging_email", "staging_status")
      .as[(String, String)].collect().toMap
    assert(statuses("dup@b.co") === StagingStatus.Success)
    assert(statuses("bob@b.co") === StagingStatus.Success)
    assert(statuses("DUP@b.co") === StagingStatus.Discard)
    assert(statuses("old@b.co") === StagingStatus.Discard)
    // All issues resolved (fixed, or all their rows discarded):
    assert(r2.issues.filter(!col("issue_resolved")).count() === 0)
    // Contacts: 4 non-discarded rows consolidated:
    val emails = r2.newContacts.select("contact_email").as[String].collect().toSet
    assert(emails === Set("ok@b.co", "bob@b.co", "cat@b.co", "dup@b.co"))
  }

  test("reprocess: re-failure flips a resolved issue back to unresolved") {
    val r1 = runInitial()
    // Pretend everything was fixed once (issues resolved), then user edits
    // row 1's email to be invalid again:
    val resolvedIssues = r1.issues.withColumn("issue_resolved", lit(true))
    val edited = r1.staging
      .withColumn("staging_email",
        when(col("staging_email") === "ok@b.co", lit("broken"))
          .otherwise(col("staging_email")))
      .withColumn("staging_status",
        when(col("staging_email") =!= "broken", lit(StagingStatus.Discard))
          .otherwise(col("staging_status")))
    val r2 = OneJob.reprocess(edited, resolvedIssues, r1.issueItems, contacts0, 9, "u1")
    assert(r2.jobStatus === JobStatus.NeedsReview)
    val newIssue = r2.issues.filter(col("issue_key") === "broken").head()
    assert(newIssue.getAs[String]("issue_type") === IssueType.InvalidEmail)
    assert(newIssue.getAs[Boolean]("issue_resolved") === false)
  }

  test("reprocess: row already linked to one issue gains a second link on a new failure type") {
    val r1 = runInitial()
    // Row 3 (invalid email) gets its email blanked by the user -> now fails
    // MISSING_REQUIRED_FIELD; must link to the NEW issue too (pair-unique
    // merge, not row-unique).
    val edited = r1.staging.withColumn("staging_email",
      when(col("staging_email") === "not-an-email", lit("")).otherwise(col("staging_email")))
    val r2 = OneJob.reprocess(edited, r1.issues, r1.issueItems, contacts0, 9, "u1")
    val row3Id = Lifecycle.stagingId(lit(9), lit(3L))
    val linksOfRow3 = r2.issueItems
      .filter(col("item_staging_id") === row3Id)
      .select("issue_type").as[String].collect().toSet
    assert(linksOfRow3 === Set(
      graft.model.Schemas.IssueType.InvalidEmail,
      graft.model.Schemas.IssueType.MissingRequiredField))
  }

  test("reprocess: all rows DISCARD -> empty-READY consolidation still COMPLETED") {
    val r1 = runInitial()
    val allDiscard = r1.staging.withColumn("staging_status", lit(StagingStatus.Discard))
    val r2 = OneJob.reprocess(allDiscard, r1.issues, r1.issueItems, contacts0, 9, "u1")
    assert(r2.jobStatus === JobStatus.Completed)
    assert(r2.newContacts.count() === 0)
  }

  test("system resolution stamps the audit trail; unresolved issues carry none") {
    val r1 = runInitial()
    // Fix/discard everything (same edits as the consolidation test) -> all
    // issues resolve -> W4 audit fields per issue_repository.py:190-194,267-268.
    val edited = r1.staging
      .withColumn("staging_email",
        when(col("staging_email") === "", lit("bob@b.co"))
          .when(col("staging_email") === "not-an-email", lit("cat@b.co"))
          .otherwise(col("staging_email")))
      .withColumn("staging_status",
        when(col("staging_email").isin("DUP@b.co", "old@b.co"), lit(StagingStatus.Discard))
          .otherwise(col("staging_status")))
    val r2 = OneJob.reprocess(edited, r1.issues, r1.issueItems, contacts0, 9, "u1")
    val resolved = r2.issues.filter(col("issue_resolved"))
    assert(resolved.count() === 4)
    assert(resolved.filter(col("issue_resolved_at").isNull).count() === 0)
    assert(resolved.select("issue_resolved_by").distinct().as[String].collect().toSeq
      === Seq(graft.ops.Issues.SystemResolvedBy))
    assert(resolved.select("issue_resolution_comment").distinct().as[String].collect().toSeq
      === Seq(graft.ops.Issues.SystemResolutionComment))

    // A re-failing issue stays unresolved with a NULL audit trail:
    val broken = r1.staging.withColumn("staging_email",
      when(col("staging_email") === "ok@b.co", lit("broken")).otherwise(col("staging_email")))
    val r3 = OneJob.reprocess(broken, r1.issues, r1.issueItems, contacts0, 9, "u1")
    val open = r3.issues.filter(!col("issue_resolved"))
    assert(open.count() > 0)
    assert(open.filter(col("issue_resolved_at").isNotNull
      || col("issue_resolved_by").isNotNull
      || col("issue_resolution_comment").isNotNull).count() === 0)
  }

  test("router: decision table incl. completed-replay and stale-job skips") {
    assert(Router.route(None, hasStaging = false) === Router.SkipMissingJob)
    assert(Router.route(Some(JobStatus.Completed), hasStaging = true) === Router.SkipCompleted)
    assert(Router.route(Some(JobStatus.NeedsReview), hasStaging = true) === Router.Reprocessing)
    assert(Router.route(Some(JobStatus.NeedsReview), hasStaging = false) === Router.Initial)
    assert(Router.route(Some(JobStatus.Pending), hasStaging = false) === Router.Initial)
    assert(Router.route(Some(JobStatus.Processing), hasStaging = true) === Router.Initial) // resume
  }

  test("initial processing on empty input raises (CSV file is empty)") {
    // A header-only CSV fails its job (processor.py:149-151): the outcome
    // carries the error and the job lands in FAILED, redeliverable.
    val root = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val store = new graft.io.ParquetTableStore(spark, s"$root/tables")
    store.overwrite("jobs", Seq((9, "u1", JobStatus.Pending))
      .toDF("job_id", "job_user_id", "job_status"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/empty.csv"),
      "email,first_name,last_name,company\n")
    val o = graft.stream.JobDispatch.processOne(spark, store, 9, "empty.csv", k => s"$root/$k")
    assert(o.outcome === "FAILED")
    assert(o.detail.contains("CSV file is empty"))
    assert(store.load("jobs").head().getAs[String]("job_status") === JobStatus.Failed)
  }

  test("parquet TableStore: snapshot overwrite swap + partitioned append") {
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    val store = new graft.io.ParquetTableStore(spark, root)
    val r1 = runInitial()
    store.overwrite("staging", r1.staging)
    assert(store.exists("staging"))
    val loaded = store.load("staging")
    assert(loaded.count() === 6)
    // Overwrite from a plan that reads the same table (snapshot rebuild):
    store.overwrite("staging", store.load("staging")
      .withColumn("staging_status", lit(StagingStatus.Discard)))
    assert(store.load("staging").filter(col("staging_status") === StagingStatus.Discard).count() === 6)
    store.append("contacts", r1.newContacts) // empty append: no-op, no poison files
    assert(!store.exists("contacts"))
    store.append("contacts", contacts0)
    store.append("contacts", contacts0.withColumn("staging_id", lit(2L)))
    assert(store.load("contacts").count() === 2)
  }
}

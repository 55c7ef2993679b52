package graft.ops

import graft.SparkSpec
import graft.pipeline.OneJob
import graft.model.Schemas.{JobStatus, StagingStatus}
import org.apache.spark.sql.functions._

/** Specs for consolidation + counters (J8, W6, A4-A8). */
class ConsolidateSpec extends SparkSpec {
  import spark.implicits._

  // One job (1) of tenant u1.
  private val staging = Seq(
    (1L, "a@b.co", "Ann", "Bee", "Acme", StagingStatus.Ready),
    (2L, "c@d.co", "Cat", "Dee", "", StagingStatus.Ready),   // missing field: skipped
    (3L, "e@f.co", "Eve", "Fay", "Biz", StagingStatus.Issue),
    (4L, "g@h.co", "Gus", "Hay", "Co", StagingStatus.Discard)
  ).toDF("staging_id", "staging_email", "staging_first_name",
    "staging_last_name", "staging_company", "staging_status")
    .withColumn("staging_job_id", lit(1))

  test("readyToContacts projects only READY rows with all fields present") {
    val contacts = Consolidate.readyToContactsKeyed(staging, OneJob.jobUsers(spark, 1, "u1"))
      .collect()
    assert(contacts.length === 1)
    val c = contacts.head
    assert(c.getAs[Long]("staging_id") === 1L)
    assert(c.getAs[String]("contacts_user_id") === "u1")
    assert(c.getAs[String]("contact_email") === "a@b.co")
  }

  test("statusCounts one-pass histogram") {
    val got = Consolidate.statusCounts(staging)
      .as[(String, Long)].collect().toMap
    assert(got === Map(StagingStatus.Ready -> 2L, StagingStatus.Issue -> 1L,
      StagingStatus.Discard -> 1L))
  }

  test("jobCounters: totals + gating unresolved count") {
    val issues = Seq((1, "T", "k1", false), (1, "T", "k2", true))
      .toDF("issues_job_id", "issue_type", "issue_key", "issue_resolved")
    val r = Consolidate.jobCountersKeyed(staging, issues).head()
    assert(r.getAs[Long]("total_rows") === 4L)
    assert(r.getAs[Long]("ready_rows") === 2L)
    assert(r.getAs[Long]("issue_rows") === 1L)
    assert(r.getAs[Long]("discard_rows") === 1L)
    assert(r.getAs[Long]("total_issues") === 2L)
    assert(r.getAs[Long]("unresolved_issues") === 1L)
  }

  test("job-status decision: unresolved>0 -> NEEDS_REVIEW else COMPLETED") {
    assert(Consolidate.decideJobStatus(1L) === JobStatus.NeedsReview)
    // Empty-READY consolidation still completes (processor.py:750-756):
    assert(Consolidate.decideJobStatus(0L) === JobStatus.Completed)
  }
}

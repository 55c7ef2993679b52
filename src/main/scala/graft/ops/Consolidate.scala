package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Schemas.{JobStatus, StagingStatus}

/** Consolidation (J8/W6) and the counter/aggregation library (A4-A8).
  *
  * Reference: _consolidate (processor.py:728-788) + contact batch insert
  * (contact_repository.py:41-131) + the job counter updates
  * (processor.py:313-330).
  */
object Consolidate {

  import Normalize._

  /** Project READY staging rows into contacts (J8), for MANY jobs in one
    * plan. Rows with any missing field are skipped with a warning in the
    * reference (contact_repository.py:58-60,122-129) — here the filter IS
    * the skip. Values are stored as-is (not trimmed): the reference copies
    * staging_email etc. verbatim into contact columns. The tenant id comes
    * from the broadcast `jobUsers` map (job_id, job_user_id), and the
    * output KEEPS `staging_job_id` so the committer can gate each job's
    * candidates on its own ADR-002 decision (the canonical contacts
    * projection drops it). */
  def readyToContactsKeyed(staging: DataFrame, jobUsers: DataFrame): DataFrame =
    staging
      .filter(col("staging_status") === StagingStatus.Ready)
      .filter(
        trimmed(col("staging_email")) =!= "" &&
          trimmed(col("staging_first_name")) =!= "" &&
          trimmed(col("staging_last_name")) =!= "" &&
          trimmed(col("staging_company")) =!= "")
      .join(broadcast(jobUsers), col("staging_job_id") === col("job_id"))
      .select(
        col("staging_job_id"),
        col("staging_id"),
        col("job_user_id").as("contacts_user_id"),
        col("staging_email").as("contact_email"),
        col("staging_first_name").as("contact_first_name"),
        col("staging_last_name").as("contact_last_name"),
        col("staging_company").as("contact_company"))

  /** Job-level counters (A5/A6 + W8 finalization), one row PER job
    * (`job_id`): total rows, per-status counts, and the gating
    * unresolved-issue count (ADR-002 — drives NEEDS_REVIEW vs consolidate,
    * processor.py:345-379). A job with zero issues has no issues-side row
    * (left join): the caller's coalesce treats that as 0. With `input` (the
    * rows a flow read, keyed by `job_id`) the same aggregate also counts
    * them as `input_rows`: a job with staging rows but an empty input
    * reports 0. */
  def jobCountersKeyed(
      staging: DataFrame, issues: DataFrame, input: Option[DataFrame] = None): DataFrame = {
    val rows = staging.select(
      col("staging_job_id").as("job_id"), col("staging_status"), lit(true).as("is_staging"))
    val tagged = input.fold(rows)(in => rows.unionByName(in.select(
      col("job_id"), lit(null).cast("string").as("staging_status"), lit(false).as("is_staging"))))
    def rowsWith(status: String) =
      sum(when(col("staging_status") === status, 1).otherwise(0)).cast("long")
    val s = tagged.groupBy("job_id").agg(
      count(when(col("is_staging"), 1)).as("total_rows"),
      (Seq(
        rowsWith(StagingStatus.Ready).as("ready_rows"),
        rowsWith(StagingStatus.Issue).as("issue_rows"),
        rowsWith(StagingStatus.Discard).as("discard_rows"),
        rowsWith(StagingStatus.Success).as("success_rows")) ++
        input.map(_ => count(when(!col("is_staging"), 1)).as("input_rows"))): _*)
    val i = issues.groupBy(col("issues_job_id").as("job_id")).agg(
      count(lit(1)).as("total_issues"),
      sum(when(!col("issue_resolved"), 1).otherwise(0))
        .cast("long").as("unresolved_issues"))
    s.join(i, Seq("job_id"), "left")
  }

  /** One-pass status histogram (A4/A8) — replaces the reference's one
    * COUNT(*) query per status (staging_repository.py:173-191). */
  def statusCounts(staging: DataFrame): DataFrame =
    staging.groupBy(col("staging_status")).agg(count(lit(1)).as("n"))

  /** The post-processing job-status decision (processor.py:345-379,
    * 629-663): unresolved issues pending -> NEEDS_REVIEW, else COMPLETED
    * (consolidation ran). */
  def decideJobStatus(unresolvedIssues: Long): String =
    if (unresolvedIssues > 0) JobStatus.NeedsReview else JobStatus.Completed
}

package graft.pipeline

import graft.ops.Consolidate
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One job's view of a keyed flow result — a wave of one. The per-job specs
  * state their expectations for a single job; this runs that job through
  * the keyed flows over a one-row job -> tenant map and, like the
  * dispatcher's commit, collects the job's counters row once and picks the
  * decided staging/contacts plans from it. */
final case class OneJob(result: Lifecycle.KeyedFlowResult, jobId: Int) {

  lazy val counterRow: Row = result.counters.head()

  def statusOf(counterRow: Row): String =
    Consolidate.decideJobStatus(counterRow.getAs[Long]("unresolved_issues"))
  def jobStatus: String = statusOf(counterRow)

  private def cleanIds: Seq[Int] =
    if (counterRow.getAs[Long]("unresolved_issues") == 0L) Seq(jobId) else Nil
  def staging: DataFrame = result.stagingDecided(cleanIds)
  def newContacts: DataFrame = result.newContactsDecided(cleanIds).drop("staging_job_id")

  def issues: DataFrame = result.issues
  def issueItems: DataFrame = result.issueItems
  def counters: DataFrame = result.counters
}

object OneJob {

  def jobUsers(spark: SparkSession, jobId: Int, userId: String): DataFrame = {
    import spark.implicits._
    Seq((jobId, userId)).toDF("job_id", "job_user_id")
  }

  /** Initial processing of one CSV contract frame (no `job_id` column). */
  def initial(
      input: DataFrame, jobId: Int, userId: String,
      existingStaging: DataFrame, existingIssues: DataFrame, existingItems: DataFrame,
      contacts: DataFrame): OneJob =
    OneJob(Lifecycle.initialProcessKeyed(
      input.withColumn("job_id", lit(jobId)), jobUsers(input.sparkSession, jobId, userId),
      existingStaging, existingIssues, existingItems, contacts), jobId)

  /** Reprocessing of one job's staging set. */
  def reprocess(
      staging: DataFrame, issues: DataFrame, issueItems: DataFrame,
      contacts: DataFrame, jobId: Int, userId: String): OneJob =
    OneJob(Lifecycle.reprocessKeyed(
      staging, issues, issueItems, contacts,
      jobUsers(staging.sparkSession, jobId, userId)), jobId)
}

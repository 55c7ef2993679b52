package perfbench

import graft.io.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The output checks of the ingest workloads and the reviewer between the
  * two drains of ingest_review. */
object Oracle {

  /** Compares every job's state in the store with the generator's plan:
    * status, staging rows by status, issues by type and resolution, issue
    * items, and the tenant's contacts. One check per job. `reviewed` says
    * the reviewer and the reprocess drain have run. Returns the tables'
    * row counts. */
  def verify(spark: SparkSession, store: TableStore, jobs: Seq[Gen.Job], seed: Long,
      reviewed: Boolean, checks: Checks): Map[String, Long] = {
    import spark.implicits._
    val status = store.load("jobs").select("job_id", "job_status").as[(Int, String)].collect().toMap
    val staging = store.load("staging").groupBy("staging_job_id", "staging_status").count()
      .as[(Int, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val issues = if (!store.exists("issues")) Map.empty[(Int, String, Boolean), Long]
      else store.load("issues").groupBy("issues_job_id", "issue_type", "issue_resolved").count()
        .as[(Int, String, Boolean, Long)].collect().map(r => (r._1, r._2, r._3) -> r._4).toMap
    val items = if (!store.exists("issue_items")) Map.empty[Int, Long]
      else store.load("issue_items").groupBy("issues_job_id").count()
        .as[(Int, Long)].collect().toMap
    val contacts = store.load("contacts").groupBy("contacts_user_id").count()
      .as[(String, Long)].collect().toMap

    val counts = Map("rows_staged" -> staging.values.sum, "issues" -> issues.values.sum,
      "issue_items" -> items.values.sum, "contacts" -> contacts.values.sum)
    def discardedOf(j: Gen.Job): Int =
      if (!reviewed) 0
      else j.issueRows.count(r => Gen.discards(seed, Gen.stagingId(j.jobId, r.rowNumber)))
    val expectedContacts = jobs.groupBy(_.user).map { case (u, js) =>
      u -> js.filter(j => j.clean || reviewed).map(j => j.rows.size - discardedOf(j)).sum.toLong
    }
    jobs.foreach { j =>
      val d = discardedOf(j)
      val done = j.clean || reviewed
      val wantStatus = if (done) "COMPLETED" else "NEEDS_REVIEW"
      val wantStaging: Map[String, Long] =
        if (done) Map("SUCCESS" -> (j.rows.size - d).toLong, "DISCARD" -> d.toLong)
        else Map("READY" -> (j.rows.size - j.issueRows.size).toLong,
          "ISSUE" -> j.issueRows.size.toLong)
      val gotStaging = Seq("READY", "ISSUE", "SUCCESS", "DISCARD")
        .map(s => s -> staging.getOrElse((j.jobId, s), 0L)).toMap
      val wantIssues = j.issues.map { case (t, n) => (t, done) -> n.toLong }
      val gotIssues = issues.collect { case ((id, t, res), n) if id == j.jobId => (t, res) -> n }
      val ok = status.get(j.jobId).contains(wantStatus) &&
        wantStaging.forall { case (s, n) => gotStaging(s) == n } &&
        gotStaging.values.sum == j.rows.size &&
        gotIssues == wantIssues &&
        items.getOrElse(j.jobId, 0L) == j.issueRows.size.toLong &&
        contacts.getOrElse(j.user, 0L) == expectedContacts(j.user)
      checks.op(ok, s"job ${j.jobId}: status ${status.get(j.jobId)} staging $gotStaging " +
        s"issues $gotIssues items ${items.get(j.jobId)} contacts ${contacts.get(j.user)} " +
        s"(want $wantStatus $wantStaging $wantIssues ${j.issueRows.size} ${expectedContacts(j.user)})")
    }
    counts
  }

  /** The reviewer: fix or DISCARD every ISSUE row of the NEEDS_REVIEW jobs,
    * written back through the store. Fixed rows get fresh valid values. */
  def review(spark: SparkSession, store: TableStore, seed: Long): Unit = {
    import spark.implicits._
    val issueIds = store.load("staging").filter(col("staging_status") === "ISSUE")
      .select("staging_id").as[Long].collect()
    val decisions = issueIds.map(id => (id, Gen.discards(seed, id))).toSeq
      .toDF("d_id", "d_discard")
    val edited = store.load("staging")
      .join(broadcast(decisions), col("staging_id") === col("d_id"), "left")
      .withColumn("fix", col("d_id").isNotNull && !col("d_discard"))
      .withColumn("staging_status",
        when(col("d_discard"), lit("DISCARD")).otherwise(col("staging_status")))
      .withColumn("staging_email",
        when(col("fix"), concat(lit("rv"), col("staging_id").cast("string"), lit("@review.example.org")))
          .otherwise(col("staging_email")))
      .withColumn("staging_first_name", when(col("fix"), lit("Rev")).otherwise(col("staging_first_name")))
      .withColumn("staging_last_name", when(col("fix"), lit("Iewer")).otherwise(col("staging_last_name")))
      .withColumn("staging_company", when(col("fix"), lit("Fixed Co")).otherwise(col("staging_company")))
      .drop("d_id", "d_discard", "fix")
    store.overwrite("staging", edited)
  }
}

package graft.pipeline

import graft.SparkSpec
import graft.model.Schemas.StagingStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A wave of N jobs must be ROW-FOR-ROW equal to the union of N waves of
  * one — the job-isolation property the dispatcher rides on (one Catalyst
  * plan for N jobs instead of N plans, and a lone message is a wave of
  * one). Exercises every validation class across jobs that share emails
  * (dup/existing sets must stay job-scoped) and tenants with pre-existing
  * contacts. Frames compare as sorted multisets, so a duplicated or
  * dropped row fails. */
class KeyedLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def csvFrame(rows: Seq[(String, String, String, String)]): DataFrame =
    rows.zipWithIndex
      .map { case ((e, f, l, c), i) => (i + 1L, e, f, l, c) }
      .toDF("row_number", "email", "first_name", "last_name", "company")

  // Shared fixture: 3 jobs, 3 tenants. Job 1 clean; job 2 has a duplicate
  // pair + a missing field; job 3 re-imports an email its tenant already has
  // AND an email that duplicates within the batch. The same address
  // "x@b.co" appears in ALL jobs — keyed dup/existing sets must not leak
  // across jobs.
  private val job1 = csvFrame(Seq(("x@b.co", "F", "L", "C")))
  private val job2 = csvFrame(Seq(
    ("x@b.co", "F", "L", "C"), ("x@b.co", "F2", "L2", "C2"), ("", "miss", "L", "C")))
  private val job3 = csvFrame(Seq(
    ("x@b.co", "F", "L", "C"), ("bad-email", "F", "L", "C")))
  private val users = Map(1 -> "u1", 2 -> "u2", 3 -> "u3")
  private def contacts =
    Seq((900L, "u3", "x@b.co", "P", "Q", "R"))
      .toDF("staging_id", "contacts_user_id", "contact_email",
        "contact_first_name", "contact_last_name", "contact_company")

  private def emptyStaging = Seq.empty[(Long, Int, String, String, String, String, String, String)]
    .toDF("staging_id", "staging_job_id", "staging_email", "staging_first_name",
      "staging_last_name", "staging_company", "staging_status", "staging_row_hash")
  private def emptyIssues = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("issues_job_id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("issue_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("issue_key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("issue_description", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("issue_resolved", org.apache.spark.sql.types.BooleanType))))
  private def emptyItems = Seq.empty[(Int, String, String, Long)]
    .toDF("issues_job_id", "issue_type", "issue_key", "item_staging_id")

  /** Rows of `dfs` over `cols`, as one sorted multiset. */
  private def multiset(dfs: Seq[DataFrame], cols: Seq[String]): Seq[Seq[Any]] =
    dfs.flatMap(_.select(cols.map(col): _*).collect().map(_.toSeq))
      .sortBy(_.mkString("\u0000"))

  test("initialProcessKeyed == per-job initialProcess unioned (staging/issues/items/candidates/counters)") {
    val inputs = Map(1 -> job1, 2 -> job2, 3 -> job3)
    val perJob = inputs.toSeq.sortBy(_._1).map { case (id, in) =>
      id -> OneJob.initial(in, id, users(id),
        emptyStaging, emptyIssues, emptyItems, contacts).result
    }
    val keyedInput = inputs.toSeq.sortBy(_._1)
      .map { case (id, in) => in.withColumn("job_id", lit(id)) }
      .reduce(_.unionByName(_))
    val jobUsers = users.toSeq.map { case (id, u) => (id, u) }.toDF("job_id", "job_user_id")
    val keyed = Lifecycle.initialProcessKeyed(
      keyedInput, jobUsers, emptyStaging, emptyIssues, emptyItems, contacts)

    val stagingCols = Seq("staging_id", "staging_job_id", "staging_email",
      "staging_status", "staging_row_hash")
    assert(multiset(Seq(keyed.stagingPre), stagingCols) ===
      multiset(perJob.map(_._2.stagingPre), stagingCols))

    val issueCols = Seq("issues_job_id", "issue_type", "issue_key",
      "issue_description", "issue_resolved")
    assert(multiset(Seq(keyed.issues), issueCols) ===
      multiset(perJob.map(_._2.issues), issueCols))

    val itemCols = Seq("issues_job_id", "issue_type", "issue_key", "item_staging_id")
    assert(multiset(Seq(keyed.issueItems), itemCols) ===
      multiset(perJob.map(_._2.issueItems), itemCols))

    val candCols = Seq("staging_job_id", "staging_id", "contacts_user_id", "contact_email",
      "contact_first_name", "contact_last_name", "contact_company")
    assert(multiset(Seq(keyed.contactCandidates), candCols) ===
      multiset(perJob.map(_._2.contactCandidates), candCols))

    // Counters: the wave's one-row-per-job frame == the waves of one.
    val counterCols = Seq("job_id", "total_rows", "ready_rows", "issue_rows", "discard_rows",
      "success_rows", "total_issues", "unresolved_issues")
    assert(multiset(Seq(keyed.counters), counterCols) ===
      multiset(perJob.map(_._2.counters), counterCols))
    assert(keyed.counters.count() === 3)
    // Job-scoped semantics spot-checks: x@b.co is NOT a dup in jobs 1/3
    // (single occurrence per job), IS a dup pair in job 2, and an
    // EXISTING_EMAIL only for tenant u3.
    val byJob = keyed.issues.select("issues_job_id", "issue_type")
      .as[(Int, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!byJob.contains(1))
    assert(byJob(2) === Set("DUPLICATE_EMAIL", "MISSING_REQUIRED_FIELD"))
    assert(byJob(3) === Set("EXISTING_EMAIL", "INVALID_EMAIL"))
    keyed.unpersist(); perJob.foreach(_._2.unpersist())
  }

  test("reprocessKeyed == per-job reprocess unioned, DISCARD preserved per job") {
    // Seed staging for two jobs via initial runs, then flip each job's bad
    // row to DISCARD and reprocess both in one keyed plan.
    val seeds = Map(
      1 -> csvFrame(Seq(("a@b.co", "F", "L", "C"), ("", "m", "L", "C"))),
      2 -> csvFrame(Seq(("b@b.co", "F", "L", "C"), ("bad", "F", "L", "C"))))
    val seeded = seeds.map { case (id, in) =>
      id -> OneJob.initial(in, id, users(id),
        emptyStaging, emptyIssues, emptyItems, contacts).result
    }
    def discarded(id: Int) = seeded(id).stagingPre.withColumn("staging_status",
      when(col("staging_status") === StagingStatus.Issue, StagingStatus.Discard)
        .otherwise(col("staging_status")))

    val perJob = seeds.keys.toSeq.sorted.map { id =>
      id -> OneJob.reprocess(
        discarded(id), seeded(id).issues, seeded(id).issueItems,
        contacts, id, users(id)).result
    }
    val jobUsers = users.toSeq.map { case (id, u) => (id, u) }.toDF("job_id", "job_user_id")
    val keyed = Lifecycle.reprocessKeyed(
      seeds.keys.toSeq.sorted.map(discarded).reduce(_.unionByName(_)),
      seeds.keys.toSeq.sorted.map(id => seeded(id).issues).reduce(_.unionByName(_)),
      seeds.keys.toSeq.sorted.map(id => seeded(id).issueItems).reduce(_.unionByName(_)),
      contacts, jobUsers)

    val stagingCols = Seq("staging_id", "staging_job_id", "staging_email", "staging_status")
    assert(multiset(Seq(keyed.stagingPre), stagingCols) ===
      multiset(perJob.map(_._2.stagingPre), stagingCols))
    // Each job's reviewed bad row stays DISCARD.
    assert(multiset(Seq(keyed.stagingPre), Seq("staging_job_id", "staging_status"))
      .filter(_(1) == StagingStatus.Discard).map(_.head) === Seq(1, 2))
    val issueCols = Seq("issues_job_id", "issue_type", "issue_key", "issue_resolved")
    assert(multiset(Seq(keyed.issues), issueCols) ===
      multiset(perJob.map(_._2.issues), issueCols))
    val itemCols = Seq("issues_job_id", "issue_type", "issue_key", "item_staging_id")
    assert(multiset(Seq(keyed.issueItems), itemCols) ===
      multiset(perJob.map(_._2.issueItems), itemCols))
    val counterCols = Seq("job_id", "total_rows", "ready_rows", "issue_rows", "discard_rows",
      "success_rows", "total_issues", "unresolved_issues")
    assert(multiset(Seq(keyed.counters), counterCols) ===
      multiset(perJob.map(_._2.counters), counterCols))
    keyed.unpersist(); perJob.foreach(_._2.unpersist()); seeded.foreach(_._2.unpersist())
  }
}

package graft.io

import graft.SparkSpec
import graft.model.Schemas
import graft.model.Schemas.{JobStatus, StagingStatus}
import graft.stream.JobDispatch
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Full job lifecycle driven through the SQL-backed store — the closest
  * this container gets to the reference's Postgres deployment (Derby is the
  * only database available offline; the live-Postgres twin is
  * PostgresCopyLifecycleSpec): initial → NEEDS_REVIEW → the reviewer's
  * edit as a plain SQL UPDATE → reprocess → consolidate → COMPLETED
  * (processor.py:728-788 semantics).
  *
  * The store is DDL-managed (like a migration-managed Postgres schema), so
  * every table is created with its FULL schema up front — including the job
  * metadata columns the pipeline stamps later.
  */
class JdbcLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val url =
    s"jdbc:derby:memory:graft_lc_${java.util.UUID.randomUUID().toString.take(8)};create=true"
  private val props = new java.util.Properties()

  test("initial -> review edits over JDBC upsert -> reprocess -> COMPLETED, all state in the database") {
    val store = new JdbcTableStore(spark, url, props)
    // DDL: full schemas up front (DDL-managed store).
    def emptyOf(shape: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], shape)
    Schemas.tableShapes
      .foreach { case (t, shape) => store.overwrite(t, emptyOf(shape)) }
    store.overwrite("jobs", emptyOf(Schemas.jobs))
    store.append("jobs", Seq((1, "u1", JobStatus.Pending))
      .toDF("job_id", "job_user_id", "job_status")
      .select(Schemas.jobs.fields.toSeq.map(f =>
        (if (Seq("job_id", "job_user_id", "job_status").contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)): _*))

    val root = Files.createTempDirectory("graft_jdbc_lc").toString
    Files.writeString(Paths.get(s"$root/f1.csv"),
      "email,first_name,last_name,company\nok@b.co,Ann,Bee,Acme\n,NoMail,Cee,Biz\nok2@b.co,Dee,Eff,Co\n")

    // Initial pass: one MISSING_REQUIRED_FIELD row -> NEEDS_REVIEW.
    val r1 = JobDispatch.processOne(spark, store, 1, "f1.csv", _ => s"$root/f1.csv")
    assert(r1.outcome === JobStatus.NeedsReview)
    val jobs1 = store.load("jobs").collect().head
    assert(jobs1.getAs[String]("job_status") === JobStatus.NeedsReview)
    assert(jobs1.getAs[Int]("job_total_rows") === 3)
    val staged = store.load("staging")
      .select("staging_id", "staging_email", "staging_status")
      .as[(Long, String, String)].collect()
    assert(staged.length === 3)
    val badId = staged.find(_._3 === StagingStatus.Issue).map(_._1).get
    assert(store.load("issues").filter(!col("issue_resolved")).count() === 1)
    assert(store.load("issue_items").count() === 1)
    assert(store.load("contacts").count() === 0, "no consolidation before review")

    // User review: fix the bad row's email with the UPDATE the reference's
    // review app issues, straight against the database. Spark's JDBC
    // writer creates delimited identifiers, so the columns are quoted.
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.prepareStatement(
        """UPDATE staging SET "staging_email" = ? WHERE "staging_id" = ?""")
      st.setString(1, "fixed@b.co"); st.setLong(2, badId)
      assert(st.executeUpdate() === 1)
    } finally conn.close()
    assert(store.load("staging").filter(col("staging_email") === "fixed@b.co").count() === 1)

    // Reprocess route (NEEDS_REVIEW + staging present): re-validate, resolve
    // the issue, consolidate, COMPLETE.
    val r2 = JobDispatch.processOne(spark, store, 1, "f1.csv", _ => s"$root/f1.csv")
    assert(r2.outcome === JobStatus.Completed)
    val jobs2 = store.load("jobs").collect().head
    assert(jobs2.getAs[String]("job_status") === JobStatus.Completed)
    assert(jobs2.getAs[java.sql.Timestamp]("job_process_end") != null)
    assert(store.load("issues").filter(!col("issue_resolved")).count() === 0)
    val emails = store.load("contacts").select("contact_email").as[String].collect().toSet
    assert(emails === Set("ok@b.co", "ok2@b.co", "fixed@b.co"))
    assert(store.load("staging").filter(col("staging_status") === StagingStatus.Success)
      .count() === 3)

    // Replay safety on the SQL store: the COMPLETED short-circuit skips.
    val r3 = JobDispatch.processOne(spark, store, 1, "f1.csv", _ => s"$root/f1.csv")
    assert(r3.outcome === "SKIPPED")
    assert(store.load("contacts").count() === 3)
  }

  test("jobs snapshot overwrite from a plan reading the same table keeps every row") {
    // Regression for the read-then-truncate hazard: the update plan READS
    // jobs while replacing it; the two-phase swap must keep other rows.
    val store = new JdbcTableStore(spark, url, props)
    store.overwrite("jobs2", Seq((1, "a"), (2, "b"), (3, "c")).toDF("job_id", "v"))
    val updated = store.load("jobs2")
      .withColumn("v", when(col("job_id") === 2, lit("B")).otherwise(col("v")))
    store.overwrite("jobs2", updated)
    assert(store.load("jobs2").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "B"), (3, "c")))
  }
}

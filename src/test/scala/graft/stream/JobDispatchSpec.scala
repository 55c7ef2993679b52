package graft.stream

import graft.SparkSpec
import graft.io.ParquetTableStore
import graft.model.Schemas.JobStatus
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** Streaming dispatch shell specs: poison pills, stale/completed skips, full
  * job runs, and at-least-once replay safety (FIXTURES.md §2). */
class JobDispatchSpec extends SparkSpec {
  import spark.implicits._

  test("parseMessages: classifies valid / malformed / missing-field bodies") {
    val raw = Seq(
      """{"job_id": 1, "s3_key": "a.csv"}""",
      """not json at all""",
      """{"job_id": 3}""",
      """{"s3_key": "orphan.csv"}""").toDF("value")
    val got = JobDispatch.parseMessages(raw)
      .select("body", "disposition").as[(String, String)].collect().toMap
    assert(got("""{"job_id": 1, "s3_key": "a.csv"}""") === "VALID")
    assert(got("""not json at all""") === "POISON_MALFORMED")
    assert(got("""{"job_id": 3}""") === "POISON_MISSING_FIELD")
    assert(got("""{"s3_key": "orphan.csv"}""") === "POISON_MISSING_FIELD")
  }

  test("end-to-end dispatch stream: run, skip, poison, replay") {
    val root = Files.createTempDirectory("graft_stream").toString
    val store = new ParquetTableStore(spark, root + "/tables")
    Files.createDirectories(Paths.get(root + "/queue"))
    Files.createDirectories(Paths.get(root + "/uploads"))
    // One message per queue file; producer contract: atomic appearance
    // (write a hidden temp name, then rename it in).
    def enqueue(name: String, body: String): Unit = {
      val tmp = Files.writeString(Paths.get(s"$root/queue/.$name.tmp"), body)
      Files.move(tmp, Paths.get(s"$root/queue/$name"))
    }
    def drain(): Unit = {
      val q = JobDispatch.startQueue(
        spark, store, root + "/queue", root + "/checkpoint",
        key => s"$root/uploads/$key", Trigger.AvailableNow())
      q.awaitTermination(120000); q.stop()
    }

    // Seed: job 1 ready to process, job 7 already done.
    store.overwrite("jobs", Seq(
      (1, "u1", JobStatus.Pending),
      (7, "u1", JobStatus.Completed)
    ).toDF("job_id", "job_user_id", "job_status"))
    Files.writeString(Paths.get(root + "/uploads/file1.csv"),
      "email,first_name,last_name,company\nok@b.co,Ann,Bee,Acme\ntwo@b.co,Bob,Cee,Biz\n")

    Seq(
      """{"job_id": 1, "s3_key": "file1.csv"}""",
      """this is not json""",
      """{"job_id": 99, "s3_key": "ghost.csv"}""",
      """{"job_id": 7, "s3_key": "file1.csv"}""").zipWithIndex
      .foreach { case (body, i) => enqueue(f"m$i%03d", body) }
    drain()

    // Job 1: all rows valid -> consolidated straight through to COMPLETED.
    val jobs = store.load("jobs").select("job_id", "job_status")
      .as[(Int, String)].collect().toMap
    assert(jobs(1) === JobStatus.Completed)
    assert(jobs(7) === JobStatus.Completed)
    // W8 job metadata written on completion (columns created on first use):
    val meta = store.load("jobs").filter(col("job_id") === 1).collect().head
    assert(meta.getAs[Long]("job_total_rows") === 2L)
    assert(meta.getAs[Long]("job_processed_rows") === 2L)
    assert(meta.getAs[Long]("job_issue_count") === 0L)
    assert(meta.getAs[java.sql.Timestamp]("job_process_end") !== null)
    assert(store.load("contacts").count() === 2)
    assert(store.load("staging").filter(col("staging_status") === "SUCCESS").count() === 2)

    // Replay the same message (new file, same content): COMPLETED
    // short-circuit makes it a no-op — at-least-once is safe.
    enqueue("m004", """{"job_id": 1, "s3_key": "file1.csv"}""")
    drain()
    assert(store.load("contacts").count() === 2)
    assert(store.load("staging").count() === 2)
  }
}

package graft.stream

import graft.SparkSpec
import graft.io.ParquetTableStore
import graft.model.Schemas.JobStatus
import org.apache.spark.sql.functions._
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
      msg(2, "empty.csv"),          // wave build, fails the empty probe
      msg(3, "missing.csv"),        // wave build, fails at the CSV read
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

  test("empty-probe degradation: one poisoned input costs O(log n) probes, not n sequential scans") {
    val n = 64
    // Poison lives in a FILTER (not a projection Catalyst could prune): the
    // scan evaluates it at runtime, like a vanished/unreadable CSV would.
    val boom = udf((x: Long) =>
      if (x >= 0) throw new RuntimeException("poisoned input") else x)
    val inputs: Seq[(Int, org.apache.spark.sql.DataFrame)] = (0 until n).map { i =>
      i -> (i match {
        case 13 => spark.range(1).toDF().filter(boom(col("id")) === 0L) // runtime failure
        case 7 => spark.range(0).select(col("id").as("v")) // genuinely empty
        case _ => spark.range(2).select(col("id").as("v"))
      })
    }
    var probes = 0
    val empty = JobDispatch.probeEmptyIdx(inputs, _ => probes += 1)
    // The poisoned input is NOT reported empty (its real error must surface
    // downstream); the genuinely empty one is.
    assert(empty === Set(7))
    // Binary split: 1 failed root probe + at most 2 probes per level of the
    // halving path to the poison (log2(64) = 6 levels).
    val bound = 1 + 2 * (math.log(n) / math.log(2)).ceil.toInt
    assert(probes <= bound, s"$probes probes for one poisoned input of $n (bound $bound)")
    // Sanity: the happy path is exactly ONE probe.
    probes = 0
    val allGood = (0 until n).map(i => i -> spark.range(1).select(col("id").as("v")))
    assert(JobDispatch.probeEmptyIdx(allGood, _ => probes += 1) === Set.empty[Int])
    assert(probes === 1)
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
}

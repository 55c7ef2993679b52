package graft.stream

import graft.SparkSpec
import graft.io.ParquetTableStore
import graft.model.Schemas.JobStatus
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.util.Random

/** Dirty-queue soak: every message category the dispatcher triages —
  * clean, issue-bearing, empty CSV, missing file, stale job, poison,
  * in-batch duplicates — mixed in one 120-message batch at a size that
  * forces chunked waves (64 jobs per wave), in a seeded-random
  * order. The per-category edge tests pin each behavior alone; this pins
  * their INTERACTIONS (failures inside multi-chunk waves, duplicates
  * straddling chunks, skip/poison interleaving) and the at-least-once
  * fixed point of redelivering the whole dirty batch. */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  test("120 mixed messages: category-exact triage across chunked waves, then a redelivery fixed point") {
    val root = Files.createTempDirectory("graft_soak").toString
    Files.createDirectories(Paths.get(s"$root/uploads"))
    val store = new ParquetTableStore(spark, s"$root/tables")

    // Jobs 1..90 exist (distinct tenants); 901..910 are stale message ids.
    store.overwrite("jobs", (1 to 90).map(i => (i, s"u$i", JobStatus.Pending))
      .toDF("job_id", "job_user_id", "job_status"))

    val clean = (1 to 60)
    val issue = (61 to 70)   // one missing-field row each
    val empty = (71 to 80)   // header-only CSV
    val missing = (81 to 90) // file does not exist
    val stale = (901 to 910)

    clean.foreach { i =>
      Files.writeString(Paths.get(s"$root/uploads/c$i.csv"),
        s"email,first_name,last_name,company\nok$i@b.co,F,L,C\nok${i}b@b.co,F2,L2,C2\n")
    }
    issue.foreach { i =>
      Files.writeString(Paths.get(s"$root/uploads/i$i.csv"),
        s"email,first_name,last_name,company\nok$i@b.co,F,L,C\n,missing,Cee,Biz\n")
    }
    empty.foreach { i =>
      Files.writeString(Paths.get(s"$root/uploads/e$i.csv"),
        "email,first_name,last_name,company\n")
    }

    def msg(id: Int, key: String) = s"""{"job_id": $id, "s3_key": "$key"}"""
    val messages: Seq[(String, String)] = // (category, body)
      clean.map(i => "clean" -> msg(i, s"c$i.csv")) ++
        issue.map(i => "issue" -> msg(i, s"i$i.csv")) ++
        empty.map(i => "empty" -> msg(i, s"e$i.csv")) ++
        missing.map(i => "missing" -> msg(i, s"m$i.csv")) ++
        stale.map(i => "stale" -> msg(i, s"c1.csv")) ++
        (1 to 5).map(i => "dup" -> msg(i, s"c$i.csv")) ++ // duplicates of clean jobs
        Seq("poison" -> "{ not json", "poison" -> "[]",
          "poison" -> """{"job_id": 3}""", "poison" -> """{"s3_key": "x.csv"}""",
          "poison" -> "", "poison" -> "null")

    val shuffled = new Random(20260814).shuffle(messages)
    val out = JobDispatch.processBatch(spark, store,
      shuffled.map(_._2).toDF("value"), k => s"$root/uploads/$k")
    assert(out.length === shuffled.length)

    val byCat = shuffled.map(_._1).zip(out).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    // Jobs 1-5 arrive TWICE (clean + dup copies): whichever copy the
    // shuffled order delivers first completes, the other skips — exactly
    // one COMPLETED per job. Jobs 6-60 arrive once and must complete.
    val dupIds = (1 to 5).toSet
    val dupOutcomes = (byCat("clean") ++ byCat("dup"))
      .filter(o => o.job_id.exists(dupIds))
      .groupBy(_.job_id.get)
    assert(dupOutcomes.keySet === dupIds)
    dupOutcomes.foreach { case (id, os) =>
      assert(os.map(_.outcome).sorted == Seq(JobStatus.Completed, "SKIPPED"), s"job $id: $os")
      assert(os.find(_.outcome == "SKIPPED").get.detail.contains("COMPLETED"))
    }
    assert(byCat("clean").filterNot(o => o.job_id.exists(dupIds))
      .forall(_.outcome == JobStatus.Completed))
    assert(byCat("issue").forall(_.outcome == JobStatus.NeedsReview))
    assert(byCat("empty").forall(o =>
      o.outcome == "FAILED" && o.detail.contains("CSV file is empty")))
    assert(byCat("missing").forall(_.outcome == "FAILED"))
    assert(byCat("stale").forall(o =>
      o.outcome == "SKIPPED" && o.detail.contains("not found")))
    assert(byCat("poison").forall(_.outcome == "DROPPED_POISON"))

    // Store ground truth.
    val statuses = store.load("jobs").select("job_id", "job_status")
      .as[(Int, String)].collect().toMap
    clean.foreach(i => assert(statuses(i) === JobStatus.Completed, s"job $i"))
    issue.foreach(i => assert(statuses(i) === JobStatus.NeedsReview, s"job $i"))
    (empty ++ missing).foreach(i => assert(statuses(i) === JobStatus.Failed, s"job $i"))
    // Issue jobs are blocked (ADR-002): only the clean jobs consolidated.
    assert(store.load("contacts").count() === clean.size * 2L)
    assert(store.load("issues").filter(!col("issue_resolved")).count() === issue.size.toLong)

    def snapshot() = (
      store.load("contacts").count(),
      store.load("staging").select("staging_id", "staging_status")
        .as[(Long, String)].collect().toSet,
      store.load("jobs").select("job_id", "job_status").as[(Int, String)].collect().toSet)
    val s1 = snapshot()

    // Redeliver the ENTIRE dirty batch twice (at-least-once): completed
    // jobs skip, NEEDS_REVIEW jobs reprocess (still blocked — nothing was
    // reviewed), failures re-fail, and contacts/staging/jobs never change.
    // (The first redelivery may add the reprocess-keyed issue twins, the
    // documented processor.py:262-vs-519 keying; the SECOND must be a
    // complete fixed point including issues.)
    val out2 = JobDispatch.processBatch(spark, store,
      shuffled.map(_._2).toDF("value"), k => s"$root/uploads/$k")
    val byCat2 = shuffled.map(_._1).zip(out2).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    assert(byCat2("clean").forall(_.outcome == "SKIPPED"))
    assert(byCat2("issue").forall(_.outcome == JobStatus.NeedsReview))
    assert(byCat2("empty").forall(_.outcome == "FAILED"))
    assert(snapshot() === s1, "redelivery mutated contacts/staging/jobs")
    val issues2 = store.load("issues")
      .select("issues_job_id", "issue_type", "issue_key")
      .as[(Int, String, String)].collect().toSet

    val out3 = JobDispatch.processBatch(spark, store,
      shuffled.map(_._2).toDF("value"), k => s"$root/uploads/$k")
    assert(snapshot() === s1)
    assert(store.load("issues")
      .select("issues_job_id", "issue_type", "issue_key")
      .as[(Int, String, String)].collect().toSet === issues2,
      "second redelivery did not reach the issues fixed point")
  }
}

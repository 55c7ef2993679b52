package perfbench

import graft.io.ParquetTableStore
import graft.stream.JobDispatch
import java.nio.file.{Files, Paths}

/** Self-tests of the benchmark's own machinery (run by selftest.py):
  *
  *  1. the generators are seeded: the same seed gives byte-identical CSVs
  *     and analytics tables, another seed gives different ones;
  *  2. the planted-count oracle agrees with the program: a small
  *     ingest_review job set processed message by message through
  *     `JobDispatch.processOne` (the sequential path, no stream), reviewed,
  *     and reprocessed, passes every check.
  *
  * Args: ROOT_DIR. Exits non-zero on the first failure. */
object SelfTest {
  private def require(ok: Boolean, what: String): Unit =
    if (ok) println(s"ok   $what") else { println(s"FAIL $what"); sys.exit(1) }

  private def csvs(seed: Long): Seq[Array[Byte]] =
    (Gen.backlog(seed, 3, 1, 300) ++ Gen.review(seed, 2, 1, 100, 400)).map(Gen.csvBytes(_, seed))

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(root)

    val a = csvs(7)
    require(a.zip(csvs(7)).forall { case (x, y) => java.util.Arrays.equals(x, y) },
      "same seed gives byte-identical CSVs")
    require(a.zip(csvs(8)).forall { case (x, y) => !java.util.Arrays.equals(x, y) },
      "another seed gives different CSVs")

    val spark = Main.session(2, root)
    def tables(seed: Long, dir: String): Map[String, Array[Byte]] = {
      Gen.analyticsTables(spark, s"$root/$dir", 0.002, seed)
      Seq("documents", "events").map { t =>
        val files = Files.list(Paths.get(s"$root/$dir/$t.parquet")).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).sorted
        t -> files.flatMap(f => Files.readAllBytes(Paths.get(f)))
      }.toMap
    }
    val t1 = tables(7, "t1")
    val same = tables(7, "t2")
    val other = tables(8, "t3")
    require(t1.forall { case (k, v) => java.util.Arrays.equals(v, same(k)) },
      "same seed gives byte-identical analytics tables")
    require(t1.forall { case (k, v) => !java.util.Arrays.equals(v, other(k)) },
      "another seed gives different analytics table files")
    val rows = Seq("t1", "t3").map(d =>
      spark.read.parquet(s"$root/$d/documents.parquet").orderBy("doc_id").collect().toSeq)
    require(rows(0) == rows(1), "another seed keeps the analytics rows")

    val seed = 7L
    val jobs = Gen.review(seed, 2, 1, 100, 400)
    val uploads = root.resolve("uploads")
    Files.createDirectories(uploads)
    jobs.foreach(Gen.writeCsv(uploads, _, seed))
    val store = new ParquetTableStore(spark, s"$root/tables")
    import spark.implicits._
    store.overwrite("jobs", jobs.map(j => (j.jobId, j.user, "PENDING", j.file))
      .toDF("job_id", "job_user_id", "job_status", "job_s3_object_key"))
    val resolve: String => String = k => uploads.resolve(k).toString
    def processAll(): Unit =
      jobs.foreach(j => JobDispatch.processOne(spark, store, j.jobId, j.file, resolve))
    val checks = new Checks
    processAll()
    Oracle.verify(spark, store, jobs, seed, reviewed = false, checks)
    Oracle.review(spark, store, seed)
    processAll()
    Oracle.verify(spark, store, jobs, seed, reviewed = true, checks)
    checks.failures.foreach(f => println(s"     $f"))
    require(checks.failed == 0 && checks.attempted == 2 * jobs.size,
      s"planted counts match a sequential processOne run (${checks.attempted} checks, " +
        s"${jobs.map(_.issueRows.size).sum} planted issue rows)")
    spark.stop()
  }
}

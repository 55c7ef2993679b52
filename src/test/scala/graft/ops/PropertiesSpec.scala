package graft.ops

import graft.SparkSpec
import graft.pipeline.OneJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2): hash determinism/uniqueness,
  * pipeline idempotency (fixed point under replay), permutation invariance
  * of set-based stages. */
class PropertiesSpec extends SparkSpec {

  /** Seeded generator sampling (scalatestplus bridge isn't in the offline
    * cache; explicit seeds also make failures exactly reproducible). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
  import spark.implicits._

  private val fieldGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.const(""),
    Gen.const("  padded  "),
    Gen.const("O'Brien \"The\" B\\ack"))

  private val rowGen: Gen[(Long, String, String, String, String)] = for {
    rn <- Gen.choose(1L, 1000L)
    e <- Gen.oneOf(Gen.const("a@b.co"), Gen.const("A@B.CO "), fieldGen)
    f <- fieldGen; l <- fieldGen; c <- fieldGen
  } yield (rn, e, f, l, c)

  test("property: rowHash is deterministic and whitespace/case-normalized") {
    samples(rowGen, 30).foreach { case (rn, e, f, l, c) =>
      def h(email: String, fn: String, ln: String, co: String): String =
        Seq((1, rn, email, fn, ln, co))
          .toDF("job_id", "row_number", "email", "first_name", "last_name", "company")
          .select(Normalize.rowHash(col("job_id"), col("row_number"), col("email"),
            col("first_name"), col("last_name"), col("company"))).head().getString(0)
      val h1 = h(e, f, l, c)
      assert(h1 === h(e, f, l, c)) // deterministic
      assert(h1 === h(" " + e.toUpperCase + " ", f + " ", " " + l, c)) // email case/trim-insensitive
      assert(h1.length === 64 && h1.matches("[0-9a-f]{64}"))
    }
  }

  test("property: distinct row_numbers give distinct hashes (idempotency key)") {
    val base = (1L to 50L).map(i => (1, i, "same@b.co", "F", "L", "C"))
      .toDF("job_id", "row_number", "email", "first_name", "last_name", "company")
    val hashes = base.select(Normalize.rowHash(col("job_id"), col("row_number"),
      col("email"), col("first_name"), col("last_name"), col("company"))).distinct()
    assert(hashes.count() === 50)
  }

  private def anyInput(rows: Seq[(Long, String, String, String, String)]): DataFrame =
    rows.toDF("row_number", "email", "first_name", "last_name", "company")

  private val contacts = Seq((1L, "u1", "known@b.co", "K", "N", "W"))
    .toDF("staging_id", "contacts_user_id", "contact_email",
      "contact_first_name", "contact_last_name", "contact_company")

  private def emptyStaging = Seq.empty[(Long, Int, String, String, String, String, String, String)]
    .toDF("staging_id", "staging_job_id", "staging_email", "staging_first_name",
      "staging_last_name", "staging_company", "staging_status", "staging_row_hash")
  private def emptyIssues = Seq.empty[(Int, String, String, String, Boolean)]
    .toDF("issues_job_id", "issue_type", "issue_key", "issue_description", "issue_resolved")
  private def emptyItems = Seq.empty[(Int, String, String, Long)]
    .toDF("issues_job_id", "issue_type", "issue_key", "item_staging_id")

  private val scenarioRows = Seq(
    (1L, "ok@b.co", "A", "B", "C"),
    (2L, "", "A", "B", "C"),
    (3L, "bad", "A", "B", "C"),
    (4L, "d@b.co", "A", "B", "C"),
    (5L, "D@B.CO", "A", "B", "C"),
    (6L, "known@b.co", "A", "B", "C"))

  test("property: initial processing is a fixed point under replay (any prefix staged)") {
    // Whatever subset of rows landed before a crash, re-running converges to
    // the same final state — the at-least-once contract (README ADR-001).
    // (the empty prefix is excluded: an empty CSV fails its job by contract,
    // covered in LifecycleSpec)
    samples(Gen.someOf(scenarioRows), 5).map(_.toSeq).filter(_.nonEmpty).foreach { staged =>
      val full = OneJob.initial(anyInput(scenarioRows), 1, "u1",
        emptyStaging, emptyIssues, emptyItems, contacts)
      val partial = OneJob.initial(anyInput(staged.toSeq), 1, "u1",
        emptyStaging, emptyIssues, emptyItems, contacts)
      // resume from the partial state (issues from partial pass kept):
      val resumed = OneJob.initial(anyInput(scenarioRows), 1, "u1",
        partial.staging, partial.issues, partial.issueItems, contacts)
      assert(resumed.staging.count() === full.staging.count())
      val fullKeys = full.staging.select("staging_id", "staging_row_hash")
        .as[(Long, String)].collect().toSet
      val resumedKeys = resumed.staging.select("staging_id", "staging_row_hash")
        .as[(Long, String)].collect().toSet
      assert(resumedKeys === fullKeys)
    }
  }

  test("property: classification is permutation-invariant (set semantics)") {
    val perm = scala.util.Random.shuffle(scenarioRows)
    def classifySet(rows: Seq[(Long, String, String, String, String)]) =
      Validate.classifyKeyed(anyInput(rows).withColumn("job_id", lit(1)), contacts,
        OneJob.jobUsers(spark, 1, "u1"))
        .select("row_number", "staging_status", "issue_type")
        .as[(Long, String, String)].collect().toSet
    assert(classifySet(perm) === classifySet(scenarioRows))
  }
}

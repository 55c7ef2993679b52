package graft.ops

import graft.SparkSpec
import graft.pipeline.OneJob
import graft.model.Schemas.{IssueType, StagingStatus}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spec-derived tests for the validation chain (reference behavior as
  * oracle: row_validator.py:47-107, processor.py:674-726; SURVEY.md §5.1). */
class ValidateSpec extends SparkSpec {
  import spark.implicits._

  private def input(rows: (Long, String, String, String, String)*): DataFrame =
    rows.toDF("row_number", "email", "first_name", "last_name", "company")
      .withColumn("job_id", lit(1))

  private val noContacts = Seq.empty[(String, String)]
    .toDF("contacts_user_id", "contact_email")

  private def contacts(rows: (String, String)*): DataFrame =
    rows.toDF("contacts_user_id", "contact_email")

  // The input's one job (1) belongs to tenant u1.
  private val jobOfU1 = OneJob.jobUsers(spark, 1, "u1")

  private def typesOf(c: DataFrame): Map[Long, String] =
    c.select("row_number", "issue_type").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).orNull).toMap

  test("valid row -> READY, no issue") {
    val c = Validate.classifyKeyed(
      input((1L, "a@b.co", "Ann", "Bee", "Acme")), noContacts, jobOfU1)
    val r = c.head()
    assert(r.getAs[String]("staging_status") === StagingStatus.Ready)
    assert(r.getAs[String]("issue_type") === null)
  }

  test("validation order: blank email wins over format check (V1 before V2)") {
    val t = typesOf(Validate.classifyKeyed(input(
      (1L, "", "Ann", "Bee", "Acme"),       // missing email, not INVALID_EMAIL
      (2L, "  ", "Ann", "Bee", "Acme"),     // whitespace-only == missing
      (3L, "not-an-email", "", "Bee", "Acme"), // missing first_name wins over format
      (4L, "not-an-email", "Ann", "Bee", "Acme")
    ), noContacts, jobOfU1))
    assert(t(1L) === IssueType.MissingRequiredField)
    assert(t(2L) === IssueType.MissingRequiredField)
    assert(t(3L) === IssueType.MissingRequiredField)
    assert(t(4L) === IssueType.InvalidEmail)
  }

  test("missing-field message names the FIRST missing field (declaration order)") {
    val c = Validate.classifyKeyed(input((1L, "a@b.co", "", "", "")), noContacts, jobOfU1)
    assert(c.head().getAs[String]("issue_message") === "Missing required field: first_name")
  }

  test("duplicate: BOTH copies flagged, case-insensitive normalization") {
    val t = typesOf(Validate.classifyKeyed(input(
      (1L, "A@b.co", "Ann", "Bee", "Acme"),
      (2L, "a@B.CO ", "Bob", "Cee", "Biz"),
      (3L, "solo@b.co", "Cat", "Dee", "Co")
    ), noContacts, jobOfU1))
    assert(t(1L) === IssueType.DuplicateEmail)
    assert(t(2L) === IssueType.DuplicateEmail)
    assert(t(3L) === null)
  }

  test("duplicate set includes rows failing earlier rules (reference set semantics)") {
    // Row 1 has a blank first_name (flagged MISSING) but its email still
    // makes row 2 a duplicate — processor.py:674-726 builds the set from ALL
    // rows with non-empty email.
    val t = typesOf(Validate.classifyKeyed(input(
      (1L, "d@b.co", "", "Bee", "Acme"),
      (2L, "d@b.co", "Ann", "Bee", "Acme")
    ), noContacts, jobOfU1))
    assert(t(1L) === IssueType.MissingRequiredField)
    assert(t(2L) === IssueType.DuplicateEmail)
  }

  test("duplicate count is per job: one occurrence in each of two jobs flags neither") {
    val twoJobs = input((1L, "p@b.co", "Ann", "Bee", "Acme"))
      .unionByName(input((1L, " P@B.co", "Bob", "Cee", "Biz")).withColumn("job_id", lit(2)))
    val jobUsers = Seq((1, "u1"), (2, "u2")).toDF("job_id", "job_user_id")
    val got = Validate.classifyKeyed(twoJobs, noContacts, jobUsers)
      .select("job_id", "issue_type").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> null, 2 -> null))
  }

  test("repeated blank or whitespace emails are never DUPLICATE_EMAIL") {
    val t = typesOf(Validate.classifyKeyed(input(
      (1L, "", "Ann", "Bee", "Acme"),
      (2L, "   ", "Bob", "Cee", "Biz"),
      (3L, null, "Cat", "Dee", "Co"),
      (4L, "", "Dan", "Eff", "Co")
    ), noContacts, jobOfU1))
    assert(t.values.toSet === Set(IssueType.MissingRequiredField))
  }

  test("existing-contact check is tenant-scoped (ADR-005)") {
    val cs = contacts(("u1", "e@b.co"), ("u2", "other@b.co"))
    val t = typesOf(Validate.classifyKeyed(input(
      (1L, "e@b.co", "Ann", "Bee", "Acme"),
      (2L, "other@b.co", "Bob", "Cee", "Biz") // exists only under u2 -> passes for u1
    ), cs, jobOfU1))
    assert(t(1L) === IssueType.ExistingEmail)
    assert(t(2L) === null)
  }

  test("existing-contact joins normalized csv email against RAW stored email") {
    // Reference does no lower() on the contacts side (contact_repository.py:34-37):
    // a stored 'E@B.CO' never matches normalized 'e@b.co'.
    val cs = contacts(("u1", "E@B.CO"))
    val t = typesOf(
      Validate.classifyKeyed(input((1L, "e@b.co", "A", "B", "C")), cs, jobOfU1))
    assert(t(1L) === null)
  }

  test("duplicate wins over existing (V3 before V4)") {
    val cs = contacts(("u1", "x@b.co"))
    val t = typesOf(Validate.classifyKeyed(input(
      (1L, "x@b.co", "A", "B", "C"),
      (2L, "x@b.co", "D", "E", "F")
    ), cs, jobOfU1))
    assert(t(1L) === IssueType.DuplicateEmail)
    assert(t(2L) === IssueType.DuplicateEmail)
  }
}

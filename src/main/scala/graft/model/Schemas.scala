package graft.model

import org.apache.spark.sql.types._

/** The table model of the ingestion engine: the five persistent tables
  * (jobs, staging, issues, issue_items, contacts) and their enums.
  *
  * Follows the reference data model (see SURVEY.md §1.2; reference models at
  * src/models/job.py:20-38, staging.py:20-40, issue.py:20-40,
  * issue_item.py:10-24, contact.py:11-29) with the columns the engine
  * actually writes: issues and issue links are keyed by (job, type, key)
  * rather than by surrogate ids, and the four committed tables carry no
  * created_at stamp. Enums are plain strings (validated by the enum sets
  * below) — string columns survive serialization boundaries and codegen
  * cleanly.
  */
object Schemas {

  // ---- enums (string-valued, as in the reference) -------------------------
  object JobStatus {
    val Pending = "PENDING"
    val Processing = "PROCESSING"
    val NeedsReview = "NEEDS_REVIEW"
    val Completed = "COMPLETED"
    val Failed = "FAILED"
    val all: Set[String] = Set(Pending, Processing, NeedsReview, Completed, Failed)
  }

  object StagingStatus {
    val Ready = "READY"
    val Success = "SUCCESS"
    val Discard = "DISCARD"
    val Issue = "ISSUE"
    val all: Set[String] = Set(Ready, Success, Discard, Issue)
  }

  object IssueType {
    val DuplicateEmail = "DUPLICATE_EMAIL"
    val InvalidEmail = "INVALID_EMAIL"
    val ExistingEmail = "EXISTING_EMAIL"
    val MissingRequiredField = "MISSING_REQUIRED_FIELD"
    val all: Set[String] =
      Set(DuplicateEmail, InvalidEmail, ExistingEmail, MissingRequiredField)
  }

  // ---- StructTypes ---------------------------------------------------------
  /** Full jobs DDL: the seed schema of a DDL-managed (SQL) store. The engine
    * itself tolerates a minimal jobs table and adds its metadata columns on
    * first use. */
  val jobs: StructType = StructType(Seq(
    StructField("job_id", IntegerType, nullable = false),
    StructField("job_created_at", TimestampType),
    StructField("job_user_id", StringType, nullable = false),
    StructField("job_original_filename", StringType),
    StructField("job_s3_object_key", StringType),
    StructField("job_status", StringType),
    StructField("job_total_rows", IntegerType),
    StructField("job_processed_rows", IntegerType),
    StructField("job_issue_count", IntegerType),
    StructField("job_process_start", TimestampType),
    StructField("job_process_end", TimestampType)))

  /** The four tables the ingest worker commits, in the shape it writes
    * them: JobDispatch projects every route's output onto these (absent
    * columns become typed nulls), uses them as the empty stand-in for a
    * table that does not exist yet, and a DDL-managed store creates its
    * tables from exactly these. */
  val tableShapes: Map[String, StructType] = Map(
    "staging" -> StructType(Seq(
      StructField("staging_id", LongType),
      StructField("staging_job_id", IntegerType),
      StructField("staging_email", StringType),
      StructField("staging_first_name", StringType),
      StructField("staging_last_name", StringType),
      StructField("staging_company", StringType),
      StructField("staging_status", StringType),
      StructField("staging_row_hash", StringType))),
    "issues" -> StructType(Seq(
      StructField("issues_job_id", IntegerType),
      StructField("issue_type", StringType),
      StructField("issue_key", StringType),
      StructField("issue_description", StringType),
      StructField("issue_resolved", BooleanType),
      StructField("issue_resolved_at", TimestampType),
      StructField("issue_resolved_by", StringType),
      StructField("issue_resolution_comment", StringType))),
    "issue_items" -> StructType(Seq(
      StructField("issues_job_id", IntegerType),
      StructField("issue_type", StringType),
      StructField("issue_key", StringType),
      StructField("item_staging_id", LongType))),
    "contacts" -> StructType(Seq(
      StructField("staging_id", LongType),
      StructField("contacts_user_id", StringType),
      StructField("contact_email", StringType),
      StructField("contact_first_name", StringType),
      StructField("contact_last_name", StringType),
      StructField("contact_company", StringType))))

  /** The four CSV fields the engine reads (extra columns tolerated/ignored;
    * reference row_validator.py:30, processor.py:241-244). */
  val csvFields: Seq[String] = Seq("email", "first_name", "last_name", "company")
}

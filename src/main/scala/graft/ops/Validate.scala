package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Schemas.{IssueType, StagingStatus}

/** Row validation as one declarative DataFrame plan.
  *
  * Re-expresses the reference's per-row validator + pre-pass sets
  * (row_validator.py:47-107, processor.py:153-163, processor.py:674-726) as
  * set-oriented dataflow:
  *
  *   - the Python `duplicate_emails` set     -> aggregate + join-back (AQE
  *     broadcasts the (usually tiny) duplicate-key set)
  *   - the Python `existing_emails` set      -> left join against the user's
  *     contacts slice (flag, not elimination)
  *   - the ordered if/elif validator         -> one chained `when()` column
  *     (first-failure-wins preserved by when-ordering)
  *
  * Input contract: columns `job_id` (int), `row_number` (long), and the four
  * CSV fields `email, first_name, last_name, company` (raw strings, may be
  * null). Output adds: `norm_email`, `issue_type`, `issue_message`,
  * `staging_status` (READY | ISSUE).
  */
object Validate {

  import Normalize._

  /** Full classification over MANY jobs in one plan: validation chain
    * V1-V4 in reference order (README.md:110-118): missing-required-field
    * (field declaration order: email, first_name, last_name, company;
    * row_validator.py:67-75) -> invalid format -> duplicate-in-batch ->
    * existing-contact. `input` carries a `job_id` column spanning one or
    * more jobs, `jobUsers` maps each job to its tenant (`job_id`,
    * `job_user_id` — control-plane small, broadcast). Every validation set
    * is job-scoped ((job_id, norm_email) keys), so one Catalyst plan
    * classifies a whole dispatch wave at constant plan-compile cost — N
    * per-job plans collapse to 1 (the round-7 streaming floor was per-job
    * plan compilation, not data volume). Produces `norm_email`,
    * `issue_type`, `issue_message`, `staging_status`. */
  def classifyKeyed(input: DataFrame, contacts: DataFrame, jobUsers: DataFrame): DataFrame = {
    // Normalized emails occurring >1x per job among rows with non-empty
    // email — reference _identify_duplicate_emails (processor.py:674-726).
    // The set is built from ALL rows with a non-empty email, including rows
    // that will fail earlier validation rules; first-failure-wins only
    // affects which issue a row is FLAGGED with, not set membership. Both
    // copies of a duplicate are flagged (no keep-first).
    val dups = input
      .select(col("job_id"), normEmail(col("email")).as("norm_email"))
      .filter(col("norm_email") =!= "")
      .groupBy("job_id", "norm_email")
      .count()
      .filter(col("count") > 1)
      .select("job_id", "norm_email")
      .withColumn("is_dup", lit(true))

    val withFlags = input
      .withColumn("norm_email", normEmail(col("email")))
      .join(dups, Seq("job_id", "norm_email"), "left")
      .join(existingEmailsKeyed(input, contacts, jobUsers),
        col("job_id") === col("e_job_id") && col("norm_email") === col("existing_email"),
        "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
      .withColumn("is_existing", col("existing_email").isNotNull)
      .drop("existing_email", "e_job_id")

    applyValidationChain(withFlags)
  }

  /** Existing-contact emails per job (`e_job_id`, `existing_email`): each
    * contact row is tagged with the job(s) of its tenant via the broadcast
    * `jobUsers` map, then semi-joined against the batch's own distinct
    * (job, normalized non-empty email) set (A9, processor.py:162) — the
    * set-based analogue of the reference's `WHERE contact_email IN (:emails)
    * AND contacts_user_id = :uid` (contact_repository.py:34-39). The
    * semi-join replaces the IN-list so the probe side scales past driver
    * memory. NB the reference compares the NORMALIZED csv email against the
    * RAW stored contact_email (no lower() on the contacts side) — reproduced
    * exactly here. */
  def existingEmailsKeyed(input: DataFrame, contacts: DataFrame, jobUsers: DataFrame): DataFrame = {
    val batchEmails = input
      .select(col("job_id").as("b_job_id"), normEmail(col("email")).as("b_norm_email"))
      .filter(col("b_norm_email") =!= "")
      .distinct()
    contacts
      .join(broadcast(jobUsers), col("contacts_user_id") === col("job_user_id"))
      .select(col("job_id").as("e_job_id"), col("contact_email").as("existing_email"))
      .join(batchEmails,
        col("e_job_id") === col("b_job_id") && col("existing_email") === col("b_norm_email"),
        "left_semi")
      .distinct()
  }

  /** The ordered V1-V4 validator (first-failure-wins when-chain) applied to a
    * flagged frame (`is_dup`, `is_existing` present). */
  private def applyValidationChain(withFlags: DataFrame): DataFrame = {
    val emailT = trimmed(col("email"))
    val issueType =
      when(emailT === "", lit(IssueType.MissingRequiredField))
        .when(trimmed(col("first_name")) === "", lit(IssueType.MissingRequiredField))
        .when(trimmed(col("last_name")) === "", lit(IssueType.MissingRequiredField))
        .when(trimmed(col("company")) === "", lit(IssueType.MissingRequiredField))
        .when(!emailT.rlike(EmailPattern), lit(IssueType.InvalidEmail))
        .when(col("is_dup"), lit(IssueType.DuplicateEmail))
        .when(col("is_existing"), lit(IssueType.ExistingEmail))
        .otherwise(lit(null).cast("string"))

    // Messages mirror row_validator.py:74,84,95,103 (built on the trimmed,
    // not normalized, email).
    val issueMessage =
      when(emailT === "", lit("Missing required field: email"))
        .when(trimmed(col("first_name")) === "", lit("Missing required field: first_name"))
        .when(trimmed(col("last_name")) === "", lit("Missing required field: last_name"))
        .when(trimmed(col("company")) === "", lit("Missing required field: company"))
        .when(!emailT.rlike(EmailPattern), concat(lit("Invalid email format: "), emailT))
        .when(col("is_dup"), concat(lit("Duplicate email in CSV: "), emailT))
        .when(col("is_existing"), concat(lit("Email already exists in contacts: "), emailT))
        .otherwise(lit(null).cast("string"))

    withFlags
      .withColumn("issue_type", issueType)
      .withColumn("issue_message", issueMessage)
      .withColumn(
        "staging_status",
        when(col("issue_type").isNull, lit(StagingStatus.Ready))
          .otherwise(lit(StagingStatus.Issue)))
      .drop("is_dup", "is_existing")
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Schemas.{IssueType, StagingStatus}

/** Row validation as one declarative DataFrame plan.
  *
  * Re-expresses the reference's per-row validator + pre-pass sets
  * (row_validator.py:47-107, processor.py:153-163, processor.py:674-726) as
  * set-oriented dataflow:
  *
  *   - the Python `duplicate_emails` set     -> a window count per
  *     (job, normalized email), so the input is read once
  *   - the Python `existing_emails` set      -> left join against the user's
  *     distinct contacts (flag, not elimination)
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
    // A normalized email occurring >1x per job among rows with non-empty
    // email — reference _identify_duplicate_emails (processor.py:674-726).
    // The count spans ALL rows with a non-empty email, including rows that
    // will fail earlier validation rules; first-failure-wins only affects
    // which issue a row is FLAGGED with, not set membership. Both copies of
    // a duplicate are flagged (no keep-first). A window count, so the plan
    // reads `input` once.
    val perEmail = Window.partitionBy("job_id", "norm_email")
    val withFlags = input
      .withColumn("norm_email", normEmail(col("email")))
      .withColumn("is_dup", col("norm_email") =!= "" && count(lit(1)).over(perEmail) > 1)
      .join(existingEmailsKeyed(contacts, jobUsers),
        col("job_id") === col("e_job_id") && col("norm_email") === col("existing_email"),
        "left")
      .withColumn("is_existing", col("existing_email").isNotNull)
      .drop("existing_email", "e_job_id")

    applyValidationChain(withFlags)
  }

  /** Existing-contact emails per job (`e_job_id`, `existing_email`): each
    * contact row is tagged with the job(s) of its tenant via the broadcast
    * `jobUsers` map and made distinct, so a left join on (job, normalized
    * email) flags a row without multiplying it — the set-based analogue of
    * the reference's `WHERE contact_email IN (:emails) AND contacts_user_id
    * = :uid` (A9, processor.py:162; contact_repository.py:34-39). No probe
    * against the batch's own emails: that would read the input a second
    * time. NB the reference compares the NORMALIZED csv email against the
    * RAW stored contact_email (no lower() on the contacts side) —
    * reproduced exactly here. */
  def existingEmailsKeyed(contacts: DataFrame, jobUsers: DataFrame): DataFrame =
    contacts
      .join(broadcast(jobUsers), col("contacts_user_id") === col("job_user_id"))
      .select(col("job_id").as("e_job_id"), col("contact_email").as("existing_email"))
      .distinct()

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

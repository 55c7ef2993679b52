package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression library: normalization + the deterministic row hash.
  *
  * All pure Spark built-in expressions (codegen'd, no UDFs). Semantics follow
  * the reference (cited per function); see SURVEY.md §2.3-2.4, §2.8.
  */
object Normalize {

  /** Email format regex — reference row_validator.py:26-28. Anchored, so
    * partial-match `rlike` equals a full match. Identical semantics in Java
    * regex and RE2 (DuckDB oracle). */
  val EmailPattern = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"

  /** Null-safe trim: `str(x or "").strip()` — reference row_validator.py:69. */
  def trimmed(c: Column): Column = trim(coalesce(c, lit("")))

  /** normalize_email: lower + strip, "" for null — row_validator.py:32-45. */
  def normEmail(c: Column): Column = lower(trimmed(c))

  /** True when the trimmed email matches the reference's email regex
    * (row_validator.py:79-85; validated on the trimmed, NOT normalized, value). */
  def emailValid(c: Column): Column = trimmed(c).rlike(EmailPattern)

  /** JSON string escaping for the canonical hash payload, matching Python's
    * `json.dumps` for the characters that can occur in CSV field values
    * (backslash, quote, and the common control chars). */
  def jsonEscape(c: Column): Column =
    // Literal (not regex) replaces; order matters: backslashes first.
    Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n", "\r" -> "\\r", "\t" -> "\\t")
      .foldLeft(c) { case (e, (from, to)) => replace(e, lit(from), lit(to)) }

  /** Deterministic row hash (idempotency key) — reference
    * staging_repository.py:19-44: sha256 of
    * `json.dumps({job_id, row_number, email(lower+strip), first_name(strip),
    * last_name(strip), company(strip)}, sort_keys=True)`.
    *
    * Reproduces the canonical Python JSON byte layout exactly (sorted keys
    * company, email, first_name, job_id, last_name, row_number; `": "` and
    * `", "` separators) so hashes interoperate with reference-written stores.
    * Pure built-ins — stays inside whole-stage codegen.
    */
  def rowHash(
      jobId: Column,
      rowNumber: Column,
      email: Column,
      firstName: Column,
      lastName: Column,
      company: Column): Column = {
    val payload = concat(
      lit("{\"company\": \""), jsonEscape(trimmed(company)),
      lit("\", \"email\": \""), jsonEscape(normEmail(email)),
      lit("\", \"first_name\": \""), jsonEscape(trimmed(firstName)),
      lit("\", \"job_id\": "), jobId.cast("string"),
      lit(", \"last_name\": \""), jsonEscape(trimmed(lastName)),
      lit("\", \"row_number\": "), rowNumber.cast("string"),
      lit("}"))
    sha2(payload, 256)
  }

  /** Issue key: normalized email when present, else a synthesized fallback
    * (`row_{n}` initial / `staging_{id}` reprocess) — processor.py:261-262,
    * processor.py:518-519. */
  def issueKey(normEmailCol: Column, fallbackPrefix: String, fallbackId: Column): Column =
    when(normEmailCol =!= "", normEmailCol)
      .otherwise(concat(lit(fallbackPrefix), fallbackId.cast("string")))
}

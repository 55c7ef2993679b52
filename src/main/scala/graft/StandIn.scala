package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic stand-in datasets for the DuckDB-oracle harness.
  *
  * The engine's real input is a contacts CSV (FIXTURES.md §1); the oracle
  * harness runs over the driver's parquet star schema (TESTDATA.md). This
  * object derives a CSV-shaped `input` frame from `customer` and a
  * `contacts`-shaped frame from `supplier`, with the SAME expressions
  * mirrored as DuckDB SQL CTEs so Spark results and oracle results are
  * byte-comparable (FIXTURES.md §4 mapping).
  *
  * The modulo classes below deliberately produce every validation outcome:
  * missing email (%37), invalid format (%23), uppercase-duplicate variants
  * (%5 vs the base class sharing custkey%700), missing first_name (%41),
  * missing company (%53), padding needing trim (last_name), cross-batch
  * "existing" hits (supplier emails overlap the custkey%700 space).
  */
object StandIn {

  def pq(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** `events` with its `ts` column normalized to a session-TZ Spark
    * timestamp, whatever encoding the parquet ships:
    *
    *  - `TIMESTAMP(NANOS)` read as long under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` → `timestamp_micros(ts
    *    div 1000)` (integer `div` avoids double-precision loss on ~1e18
    *    nano values);
    *  - `timestamp[us]` (isAdjustedToUTC=false → TIMESTAMP_NTZ, or =true →
    *    TIMESTAMP) → cast to session-TZ timestamp (identity on the
    *    underlying micros under the UTC session both harnesses set).
    *
    * The branch exists because the driver's testdata has shipped both
    * encodings across rounds; hard-coding either breaks 25 queries at
    * analysis time when the other arrives. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = pq(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** CSV-shaped input rows derived from `customer`. row_number = c_custkey
    * (deterministic surrogate for per-file CSV order, SURVEY.md §2.4 H2). */
  def csvInput(spark: SparkSession, dir: String): DataFrame = {
    val c = pq(spark, dir, "customer")
    val k = col("c_custkey")
    c.select(
      k.as("row_number"),
      lit(1).as("job_id"),
      when(k % 37 === 0, lit(""))
        .when(k % 23 === 0, concat(lit("bad-email-"), k.cast("string")))
        .when(k % 5 === 0, concat(lit("USER"), (k % 700).cast("string"), lit("@EXAMPLE.COM")))
        .otherwise(concat(lit("user"), (k % 700).cast("string"), lit("@example.com")))
        .as("email"),
      when(k % 41 === 0, lit("   "))
        .otherwise(concat(lit("F"), (k % 97).cast("string")))
        .as("first_name"),
      concat(lit("  Last"), (k % 13).cast("string"), lit(" ")).as("last_name"),
      when(k % 53 === 0, lit("")).otherwise(col("c_mktsegment")).as("company"))
  }

  /** The (job_id, job_user_id) map of [[csvInput]]: its one job, 1, belongs
    * to tenant u1. */
  def jobUsersStandIn(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1, "u1")).toDF("job_id", "job_user_id")
  }

  /** `contacts`-shaped existing contacts derived from `supplier`; two
    * tenants to exercise per-user isolation (ADR-005). */
  def contactsStandIn(spark: SparkSession, dir: String): DataFrame = {
    val s = pq(spark, dir, "supplier")
    val k = col("s_suppkey")
    s.select(
      k.as("contact_id"),
      when(k % 4 === 0, lit("u2")).otherwise(lit("u1")).as("contacts_user_id"),
      concat(lit("user"), (k % 900).cast("string"), lit("@example.com")).as("contact_email"),
      concat(lit("CF"), k.cast("string")).as("contact_first_name"),
      concat(lit("CL"), k.cast("string")).as("contact_last_name"),
      col("s_name").as("contact_company"))
  }

  // ---- matching DuckDB SQL fragments --------------------------------------

  /** `input` CTE — must stay expression-for-expression identical to
    * [[csvInput]]. */
  val inputCte: String =
    """input AS (
      |  SELECT
      |    c_custkey AS row_number,
      |    1 AS job_id,
      |    CASE WHEN c_custkey % 37 = 0 THEN ''
      |         WHEN c_custkey % 23 = 0 THEN 'bad-email-' || CAST(c_custkey AS VARCHAR)
      |         WHEN c_custkey % 5 = 0 THEN 'USER' || CAST(c_custkey % 700 AS VARCHAR) || '@EXAMPLE.COM'
      |         ELSE 'user' || CAST(c_custkey % 700 AS VARCHAR) || '@example.com' END AS email,
      |    CASE WHEN c_custkey % 41 = 0 THEN '   '
      |         ELSE 'F' || CAST(c_custkey % 97 AS VARCHAR) END AS first_name,
      |    '  Last' || CAST(c_custkey % 13 AS VARCHAR) || ' ' AS last_name,
      |    CASE WHEN c_custkey % 53 = 0 THEN '' ELSE c_mktsegment END AS company
      |  FROM customer
      |)""".stripMargin

  /** `contacts` CTE — mirror of [[contactsStandIn]]. */
  val contactsCte: String =
    """contacts AS (
      |  SELECT
      |    s_suppkey AS contact_id,
      |    CASE WHEN s_suppkey % 4 = 0 THEN 'u2' ELSE 'u1' END AS contacts_user_id,
      |    'user' || CAST(s_suppkey % 900 AS VARCHAR) || '@example.com' AS contact_email,
      |    'CF' || CAST(s_suppkey AS VARCHAR) AS contact_first_name,
      |    'CL' || CAST(s_suppkey AS VARCHAR) AS contact_last_name,
      |    s_name AS contact_company
      |  FROM supplier
      |)""".stripMargin

  /** Email regex as a DuckDB SQL literal (standard single-quoted string —
    * no backslash processing, identical pattern semantics to Java rlike for
    * this anchored pattern). */
  val emailRegexSql: String = """^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"""

  /** The canonical row-hash payload as a DuckDB expression over `input`
    * columns — mirror of [[graft.ops.Normalize.rowHash]]. (JSON escaping is
    * the identity on this data — no quotes/backslashes/control chars in the
    * derived values — so the oracle omits the replace() chain.) */
  val rowHashSql: String =
    """sha256('{"company": "' || trim(company) ||
      |'", "email": "' || lower(trim(email)) ||
      |'", "first_name": "' || trim(first_name) ||
      |'", "job_id": ' || CAST(job_id AS VARCHAR) ||
      |', "last_name": "' || trim(last_name) ||
      |'", "row_number": ' || CAST(row_number AS VARCHAR) || '}')"""
      .stripMargin.replace("\n", " ")

  /** Shared classification SELECT (no ORDER BY) used by several oracle
    * queries; depends on `input` + `contacts` CTEs. */
  val classifySql: String =
    s"""dups AS (
       |  SELECT lower(trim(email)) AS ne FROM input
       |  WHERE trim(email) <> '' GROUP BY 1 HAVING count(*) > 1
       |),
       |existing AS (
       |  SELECT DISTINCT contact_email FROM contacts WHERE contacts_user_id = 'u1'
       |),
       |classified AS (
       |  SELECT row_number, job_id, email, first_name, last_name, company,
       |         norm_email, issue_type, issue_message,
       |         CASE WHEN issue_type IS NULL THEN 'READY' ELSE 'ISSUE' END AS staging_status
       |  FROM (
       |    SELECT i.*, lower(trim(i.email)) AS norm_email,
       |      CASE WHEN trim(i.email) = '' THEN 'MISSING_REQUIRED_FIELD'
       |           WHEN trim(i.first_name) = '' THEN 'MISSING_REQUIRED_FIELD'
       |           WHEN trim(i.last_name) = '' THEN 'MISSING_REQUIRED_FIELD'
       |           WHEN trim(i.company) = '' THEN 'MISSING_REQUIRED_FIELD'
       |           WHEN NOT regexp_matches(trim(i.email), '$emailRegexSql') THEN 'INVALID_EMAIL'
       |           WHEN d.ne IS NOT NULL THEN 'DUPLICATE_EMAIL'
       |           WHEN e.contact_email IS NOT NULL THEN 'EXISTING_EMAIL'
       |           ELSE NULL END AS issue_type,
       |      CASE WHEN trim(i.email) = '' THEN 'Missing required field: email'
       |           WHEN trim(i.first_name) = '' THEN 'Missing required field: first_name'
       |           WHEN trim(i.last_name) = '' THEN 'Missing required field: last_name'
       |           WHEN trim(i.company) = '' THEN 'Missing required field: company'
       |           WHEN NOT regexp_matches(trim(i.email), '$emailRegexSql') THEN 'Invalid email format: ' || trim(i.email)
       |           WHEN d.ne IS NOT NULL THEN 'Duplicate email in CSV: ' || trim(i.email)
       |           WHEN e.contact_email IS NOT NULL THEN 'Email already exists in contacts: ' || trim(i.email)
       |           ELSE NULL END AS issue_message
       |    FROM input i
       |    LEFT JOIN dups d ON lower(trim(i.email)) = d.ne
       |    LEFT JOIN existing e ON lower(trim(i.email)) = e.contact_email
       |  )
       |)""".stripMargin
}

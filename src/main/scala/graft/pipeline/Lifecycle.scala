package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Schemas.StagingStatus
import graft.ops.{Consolidate, Issues, Normalize, Validate}

/** The job flows (SURVEY.md §3) as pure DataFrame -> DataFrame pipelines,
  * keyed by `job_id`: one plan carries every job of a dispatch wave, and a
  * job processed alone is a wave of one. Storage commits happen outside
  * (the caller holds a [[graft.io.TableStore]]); everything here is a lazy
  * plan, so each flow is one Catalyst-optimized job when the caller
  * materializes it.
  */
object Lifecycle {

  import Normalize._

  /** Result of a flow, pre-commit. All plan members are lazy and span every
    * job of the wave; `counters` is one row PER job (keyed by `job_id`).
    *
    * The ADR-002 consolidation decision (unresolved issues pending?) is NOT
    * taken at build time — that would cost one driver-side action per job.
    * The decision value ships inside `counters` (whose one collect the
    * committer needs anyway): read the rows, then ask
    * [[stagingDecided]]/[[newContactsDecided]] for the gate-free plans of
    * the clean jobs. `contactCandidates` keeps `staging_job_id` so each
    * job's candidates follow its own decision; the canonical-shape
    * projection at commit drops it. */
  case class KeyedFlowResult(
      stagingPre: DataFrame,  // staging snapshot BEFORE the READY->SUCCESS rewrite
      issues: DataFrame,      // full post-run issue set (with issue_resolved)
      issueItems: DataFrame,  // full post-run link set
      contactCandidates: DataFrame, // rows that become contacts IF their job consolidates
      counters: DataFrame,    // per-job counters (A4-A8), post-decision statuses, input_rows
      cachedFrames: Seq[DataFrame]) { // caches to release after commit

    /** Release this flow's cached intermediates. Call AFTER the last
      * materialization (commit + counters) — a long-running dispatch
      * stream otherwise accumulates one dead cached frame per wave in the
      * storage pool. */
    def unpersist(): Unit =
      cachedFrames.foreach(df => try df.unpersist(false) catch { case _: Exception => () })

    /** Post-decision staging: consolidation rewrites READY -> SUCCESS for the
      * CLEAN jobs only (blocked jobs keep their statuses untouched). The
      * clean set is <= wave size, so the isin stays a codegen'd predicate. */
    def stagingDecided(cleanJobIds: Seq[Int]): DataFrame =
      if (cleanJobIds.isEmpty) stagingPre
      else stagingPre.withColumn(
        "staging_status",
        when(col("staging_job_id").isin(cleanJobIds: _*) &&
          col("staging_status") === StagingStatus.Ready, lit(StagingStatus.Success))
          .otherwise(col("staging_status")))

    /** Post-decision contacts append set: candidates of CLEAN jobs only. */
    def newContactsDecided(cleanJobIds: Seq[Int]): DataFrame =
      if (cleanJobIds.isEmpty) contactCandidates.limit(0)
      else contactCandidates.filter(col("staging_job_id").isin(cleanJobIds: _*))
  }

  /** Deterministic surrogate staging id: (job_id << 40) | row_number.
    * Unlike the reference's DB autoincrement this is stable across resumes —
    * replaying a message assigns the same ids, keeping issue_items joins
    * idempotent. Nothing in the contract depends on density (SURVEY.md §1.5). */
  def stagingId(jobId: Column, rowNumber: Column): Column =
    (jobId.cast("long") * lit(1L << 40)) + rowNumber.cast("long")

  /** Natural pair key for issue_items merges. */
  private val itemPairKey = Seq("issues_job_id", "issue_type", "issue_key", "item_staging_id")

  /** INITIAL PROCESSING (§3.1, processor.py:124-388) over MANY jobs as ONE
    * Catalyst plan: `input` is the union of the wave's CSV contract frames
    * (row_number, email, first_name, last_name, company) tagged with a
    * `job_id` column, `jobUsers` the broadcast (job_id, job_user_id) map,
    * and the `existing*` frames the wave jobs' prior state (resume case;
    * empty on a first pass). Every set-building step is job-keyed
    * (dup/existing sets, J1 anti-join, issue natural keys, staging surrogate
    * ids, counters), so N jobs compile ONE classify/issues/consolidate
    * subtree instead of N (the round-7 streaming throughput floor was plan
    * compilation at ~0.5 s/job, not data volume). KeyedLifecycleSpec pins
    * that a wave of N jobs equals the union of N waves of one. An empty
    * input is not rejected here: `counters` reports each job's
    * `input_rows`, and the caller fails a job that read none
    * (processor.py:149-151). */
  def initialProcessKeyed(
      input: DataFrame,
      jobUsers: DataFrame,
      existingStaging: DataFrame,
      existingIssues: DataFrame,
      existingItems: DataFrame,
      contacts: DataFrame): KeyedFlowResult = {

    // Validation sets (duplicates, existing-contacts) are built from ALL CSV
    // rows — including rows later skipped by the idempotency check
    // (processor.py:153-163 runs before the row loop).
    // The row hash and staging id are row-local, so they are added to
    // `input` itself: they run in the file-parallel scan stage, not after
    // classify's shuffle. Cached: the classified frame is referenced by the
    // staging snapshot, the issue derivation, AND the link derivation —
    // uncached, every commit materialization would re-run the whole
    // classify subtree.
    val hashed = input
      .withColumn("staging_row_hash",
        rowHash(col("job_id"), col("row_number"), col("email"),
          col("first_name"), col("last_name"), col("company")))
      .withColumn("staging_id", stagingId(col("job_id"), col("row_number")))
    val classified = Validate.classifyKeyed(hashed, contacts, jobUsers).cache()

    // J1: skip rows whose (job, hash) already landed (resume idempotency).
    val newRows = classified.join(
      existingStaging.select(col("staging_job_id").as("job_id"), col("staging_row_hash")),
      Seq("job_id", "staging_row_hash"), "left_anti")

    val newStaging = newRows.select(
      col("staging_id"),
      col("job_id").as("staging_job_id"),
      col("email").as("staging_email"),
      col("first_name").as("staging_first_name"),
      col("last_name").as("staging_last_name"),
      col("company").as("staging_company"),
      col("staging_status"),
      col("staging_row_hash"))
    val stagingAfter = existingStaging.unionByName(newStaging, allowMissingColumns = true)

    // Issues/links derived from the NEW rows only (skipped rows already have
    // theirs from the prior pass); merge = set-based get_or_create.
    val derivedIssues = Issues.deriveIssues(newRows, "row_", "row_number")
    val issuesAfter = Issues.mergeIssues(existingIssues, derivedIssues)
    val derivedItems = Issues.deriveIssueItems(newRows, "row_", "row_number")
      .withColumn("item_staging_id", stagingId(col("issues_job_id"), col("item_staging_id")))
    // Pair-unique merge on the FULL (issue natural key, staging) pair — a
    // staging row can legitimately link to several issues across passes
    // (issue_repository.py:93-102 enforces pair uniqueness, not row uniqueness).
    val itemsAfter = existingItems.unionByName(
      derivedItems.join(existingItems, itemPairKey, "left_anti"),
      allowMissingColumns = true)

    finalizeFlowKeyed(classified, stagingAfter, issuesAfter, itemsAfter, contacts, jobUsers)
  }

  /** REPROCESSING (§3.2, processor.py:390-672) over MANY jobs as ONE plan:
    * re-validate the staging set (user-edited), skipping DISCARD rows (user
    * decision honored — excluded from BOTH re-validation and the duplicate
    * set, processor.py:428-459); recompute issue resolution
    * deterministically. `staging`/`issues`/`issueItems` span every
    * reprocess-route job of the wave (routing already proved each has
    * staging rows). */
  def reprocessKeyed(
      staging: DataFrame,
      issues: DataFrame,
      issueItems: DataFrame,
      contacts: DataFrame,
      jobUsers: DataFrame): KeyedFlowResult = {

    val working = staging
      .filter(coalesce(col("staging_status"), lit("")) =!= StagingStatus.Discard)
      .select(
        col("staging_id").as("row_number"), // classify's generic row id
        col("staging_id"),
        col("staging_job_id").as("job_id"),
        col("staging_email").as("email"),
        col("staging_first_name").as("first_name"),
        col("staging_last_name").as("last_name"),
        col("staging_company").as("company"),
        col("staging_row_hash"))

    val classified = Validate.classifyKeyed(working, contacts, jobUsers).cache()

    // New statuses: re-validated for working rows, DISCARD preserved.
    val revalidated = classified.select(
      col("staging_id"),
      col("job_id").as("staging_job_id"),
      col("email").as("staging_email"),
      col("first_name").as("staging_first_name"),
      col("last_name").as("staging_last_name"),
      col("company").as("staging_company"),
      col("staging_status"),
      col("staging_row_hash"))
    val stagingAfter = staging.filter(col("staging_status") === StagingStatus.Discard)
      .select(revalidated.columns.map(col): _*)
      .unionByName(revalidated)

    // New failures create/link issues keyed by norm_email or staging_{id}
    // (processor.py:518-519).
    val derivedIssues = Issues.deriveIssues(classified, "staging_", "staging_id")
    val issuesAfter = Issues.mergeIssues(issues, derivedIssues)
    val derivedItems = Issues.deriveIssueItems(classified, "staging_", "staging_id")
    val itemsAfter = issueItems.unionByName(
      derivedItems.join(issueItems, itemPairKey, "left_anti"),
      allowMissingColumns = true)

    finalizeFlowKeyed(classified, stagingAfter, issuesAfter, itemsAfter, contacts, jobUsers)
  }

  /** Shared finalization (§3.3): recompute resolution, gate on unresolved
    * issues (ADR-002), and consolidate when clean. Empty READY set still
    * completes (processor.py:750-756).
    *
    * No driver-side gate action here: the counters frame carries each job's
    * unresolved count AND already reflects the post-decision statuses (a
    * clean job's READY rows count as SUCCESS — a row-wise column rewrite
    * inside the frame, no extra subplan). The caller reads the rows and
    * picks the decided staging/contacts plans. `classified` is the flow's
    * cached classified frame: the rows it read, counted per job as
    * `input_rows` inside the counters' staging aggregate (CSV rows on the
    * initial route, non-DISCARD staging rows on reprocess), and released by
    * [[KeyedFlowResult.unpersist]]. */
  private def finalizeFlowKeyed(
      classified: DataFrame,
      stagingAfter: DataFrame,
      issuesAfter: DataFrame,
      itemsAfter: DataFrame,
      contacts: DataFrame,
      jobUsers: DataFrame): KeyedFlowResult = {

    val resolvedIssues =
      Issues.recomputeResolution(issuesAfter, itemsAfter, stagingAfter)
    // staging_id is UNIQUE on contacts (contact.py:17): anti-join makes a
    // replayed consolidation a no-op instead of a loud failure. Built from
    // stagingAfter (pre-consolidation statuses — READY rows are the ones
    // that become contacts).
    val dedupedContacts = Consolidate.readyToContactsKeyed(stagingAfter, jobUsers)
      .join(
        if (contacts.columns.contains("staging_id")) contacts.select("staging_id")
        else contacts.sparkSession.emptyDataFrame
          .selectExpr("CAST(null AS BIGINT) AS staging_id").limit(0),
        Seq("staging_id"), "left_anti")
    // Counters over the PRE-decision staging, then folded to post-decision
    // row-wise: when a job has nothing unresolved, consolidation will
    // rewrite its READY -> SUCCESS, so report those rows as SUCCESS. A job
    // with no issues (a fully clean CSV — the common case) has no
    // issues-side row, so the counts normalize to 0 FIRST; the fold and
    // every downstream getAs[Long] read then see real zeros.
    val counters = Consolidate.jobCountersKeyed(stagingAfter, resolvedIssues, Some(classified))
      .withColumn("total_issues", coalesce(col("total_issues"), lit(0L)))
      .withColumn("unresolved_issues", coalesce(col("unresolved_issues"), lit(0L)))
      .withColumn("ready_rows", coalesce(col("ready_rows"), lit(0L)))
      .withColumn("issue_rows", coalesce(col("issue_rows"), lit(0L)))
      .withColumn("discard_rows", coalesce(col("discard_rows"), lit(0L)))
      .withColumn("success_rows", coalesce(col("success_rows"), lit(0L)))
      .withColumn("success_rows",
        when(col("unresolved_issues") === 0, col("success_rows") + col("ready_rows"))
          .otherwise(col("success_rows")))
      .withColumn("ready_rows",
        when(col("unresolved_issues") === 0, lit(0L)).otherwise(col("ready_rows")))

    KeyedFlowResult(
      stagingPre = stagingAfter,
      issues = resolvedIssues,
      issueItems = itemsAfter,
      contactCandidates = dedupedContacts,
      counters = counters,
      cachedFrames = Seq(classified))
  }
}

package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** Storage abstraction for the five engine tables (jobs, staging, issues,
  * issue_items, contacts).
  *
  * The reference mutates rows in place in Postgres; our dataflow recomputes
  * derived state per run and persists snapshots/appends (SURVEY.md §7.5 —
  * removes the read-modify-write races the reference avoids only by being
  * single-threaded). Two impls: parquet (testdata/oracle harness, local
  * runs) and JDBC (production parity — see [[JdbcUpsert]] for the
  * UPDATE-shaped writes Spark's JDBC writer lacks).
  */
/** One commit unit of a per-job write: replace only the rows of `table`
  * whose `partCol` equals `value` (or any of `moreValues` — the batched
  * micro-batch commit shape, several jobs' partitions swapped in one write)
  * with `df` (df must contain only such rows). */
case class PartitionCommit(
    table: String, df: DataFrame, partCol: String, value: Any,
    moreValues: Seq[Any] = Nil) {
  def values: Seq[Any] = value +: moreValues
}

trait TableStore {
  def load(table: String): DataFrame
  def exists(table: String): Boolean
  /** Replace the table content atomically (snapshot semantics). */
  def overwrite(table: String, df: DataFrame): Unit
  /** Append rows (insert-only path, e.g. contacts batch insert W6). */
  def append(table: String, df: DataFrame): Unit
  /** Replace several tables whose plans may READ each other's current
    * content: all plans must be materialized before any target is replaced.
    * Default is sequential (safe only for independent plans); snapshot
    * stores override with a two-phase write-then-swap. */
  def overwriteAll(tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (t, df) => overwrite(t, df) }

  /** Per-job commit: replace ONLY each table's touched partition, leaving
    * every other job's data physically untouched — at scale a job commit must
    * not rewrite the whole corpus. Plans may read the pre-commit snapshots,
    * so implementations materialize every df before replacing anything.
    * Default (for stores without physical partitioning) falls back to a
    * merge + full snapshot replace — correct, not scale-safe. */
  def overwritePartitionsAll(commits: Seq[PartitionCommit]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    overwriteAll(commits.map { c =>
      val merged =
        if (exists(c.table))
          load(c.table)
            .filter(!c.values.map(v => col(c.partCol) <=> lit(v)).reduce(_ || _))
            .unionByName(c.df, allowMissingColumns = true)
        else c.df
      c.table -> merged
    })
  }

  /** One job/wave commit as a unit: EVERY plan — appends, partition
    * replacements, snapshot overwrites — is materialized to staging storage
    * while all pre-commit snapshots are intact, and only then are targets
    * mutated (appends first, then partition swaps, then snapshot swaps —
    * the reference's consolidation order). This is the only safe shape when
    * one output's plan reads a table the same commit mutates: the classify
    * subtree reads `contacts` and the commit appends `contacts`, so an
    * append-then-write sequence re-evaluates the staging plan against
    * post-append contacts (Spark invalidates and re-caches cached plans on
    * any write to a path they read) and flips the job's own READY rows to
    * EXISTING_EMAIL. Default is the sequential legacy order — snapshot and
    * SQL stores override with full two-phase staging. */
  def commitAll(
      appends: Seq[(String, DataFrame)],
      partitions: Seq[PartitionCommit] = Nil,
      overwrites: Seq[(String, DataFrame)] = Nil): Unit = {
    appends.foreach { case (t, df) => append(t, df) }
    if (partitions.nonEmpty) overwritePartitionsAll(partitions)
    if (overwrites.nonEmpty) overwriteAll(overwrites)
  }

  /** Create `table` with `df`'s rows ONLY if it does not already exist;
    * returns true iff THIS call created it — the mutual-exclusion
    * primitive [[VersionedIndex.rebuild]] claims generations through.
    * Backends with an atomic create override with a true compare-and-swap
    * (Postgres: the catalog's own CREATE TABLE serialization; parquet:
    * POSIX/HDFS rename-refuses-existing-directory). This DEFAULT is
    * CHECK-THEN-ACT — two racers inside the exists→write window can both
    * report true — so callers that need exclusion on a default-impl store
    * must verify after winning (VersionedIndex re-reads its writer token). */
  def createIfAbsent(table: String, df: DataFrame): Boolean =
    if (exists(table)) false else { overwrite(table, df); true }

  /** Remove a table entirely — the garbage-collection primitive
    * [[VersionedIndex.prune]] uses on superseded index generations. Must
    * only be called when no live plan or pinned snapshot still reads the
    * table (the caller owns that schedule). */
  def drop(table: String): Unit =
    throw new UnsupportedOperationException(
      s"drop is not supported by ${getClass.getSimpleName}")

  /** Storage maintenance between commits — the append-heavy-table problem:
    * every streaming micro-batch appends files, and thousands of KB-sized
    * files turn scans into file-listing storms. Snapshot stores override
    * with small-file compaction; SQL stores no-op (the database's own
    * storage layer handles it). Must only be called when no plan built
    * from these tables is still unmaterialized. */
  def maintain(tables: Seq[String]): Unit = ()
}

/** Parquet-backed store. `overwrite` writes to a temp dir then swaps, so a
  * snapshot can be rebuilt from a plan that reads the same table (Spark
  * cannot overwrite a path it is concurrently reading), and a crash mid-write
  * never leaves a half-replaced table. At scale, tables that are filtered by
  * job/tenant (`staging`, `contacts`) should be written with
  * `partitionByCols` so per-job reads prune partitions.
  */
class ParquetTableStore(
    spark: SparkSession,
    root: String,
    partitionByCols: Map[String, Seq[String]] = Map(
      "staging" -> Seq("staging_job_id"),
      "issues" -> Seq("issues_job_id"),
      "issue_items" -> Seq("issues_job_id"),
      "contacts" -> Seq("contacts_user_id")),
    keepSnapshots: Int = 0,
    // Suffix-matched partition specs for tables whose full names are not
    // known at store construction — versioned index generations
    // (`<name>_g<N>_lists`) change prefix per rebuild, so the layout rule
    // keys on the stable suffix (AnnIndex.partitionSpecSuffix). Exact
    // `partitionByCols` entries win over suffix matches.
    partitionBySuffix: Map[String, Seq[String]] = Map.empty
) extends TableStore {

  private def dir(table: String) = s"$root/$table"

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def exists(table: String): Boolean = fs.exists(new Path(dir(table)))

  override def load(table: String): DataFrame = spark.read.parquet(dir(table))

  /** Snapshot-clone every table of this store into `destRoot` and return
    * a store rooted there (same partition specs, same snapshot policy) —
    * a FILE copy, zero Spark jobs, zero recompute. The maintenance-drill
    * primitive: a consumer that must MUTATE a frozen shared artifact
    * (delete/append drills over a published model or index) clones the
    * snapshot and mutates its private copy instead of paying the full
    * rebuild a second time. At 100 TB "rebuild the index so I can delete
    * from it" is exactly the cost this removes — index/model clones are
    * file copies (server-side copies on object stores), and the builds
    * are deterministic, so clone-then-mutate equals build-then-mutate
    * table for table. `_history` is deliberately NOT cloned (the clone
    * starts life snapshot-free, like a fresh build); in-flight `.tmp-`
    * staging dirs are skipped. */
  def cloneTo(destRoot: String): ParquetTableStore = {
    val src = new Path(root)
    val dst = new Path(destRoot)
    val conf = spark.sparkContext.hadoopConfiguration
    if (!fs.exists(dst)) fs.mkdirs(dst)
    else require(fs.listStatus(dst).isEmpty,
      s"cloneTo target $destRoot is not empty — merging into a used root " +
        "would mix stale tables into the fresh clone (r17 advice)")
    fs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      // Exact staging-dir convention (writeTmp: <table>.tmp-<8 hex>),
      // not a substring test — a legitimate table whose NAME merely
      // contains ".tmp-" elsewhere is still cloned (r17 advice).
      val isStaging = name.matches(".*\\.tmp-[0-9a-f]{8}")
      if (name != "_history" && !isStaging)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, fs, new Path(dst, name), false, conf)
    }
    new ParquetTableStore(spark, destRoot, partitionByCols, keepSnapshots,
      partitionBySuffix)
  }

  // ---- bounded snapshot history (whole-table swap path) -----------------
  // With keepSnapshots > 0, `overwrite`/`overwriteAll` archive the replaced
  // table directory under _history/<table>/v<NNN> instead of deleting it —
  // a RENAME, so archiving costs zero data movement regardless of table
  // size — and prune to the newest `keepSnapshots`. The rollback /
  // yesterday's-pipeline-output debugging primitive; full per-commit time
  // travel over partition commits needs a manifest log (Delta/Iceberg
  // territory) and is out of scope, so overwritePartitionsAll is
  // deliberately NOT versioned.

  private def historyDir(table: String) = new Path(s"$root/_history/$table")

  private def snapshotVersions(table: String): Seq[(Long, Path)] = {
    val h = historyDir(table)
    if (!fs.exists(h)) Seq.empty
    else fs.listStatus(h).filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v")) n.drop(1).toLongOption.map(_ -> p) else None
      }.sortBy(_._1).toSeq
  }

  /** Load the snapshot `back` overwrites ago (1 = the state the latest
    * overwrite replaced). Throws if that much history doesn't exist. */
  def loadSnapshot(table: String, back: Int = 1): DataFrame = {
    val versions = snapshotVersions(table)
    require(back >= 1 && back <= versions.length,
      s"no snapshot $back back for $table (history depth ${versions.length})")
    spark.read.parquet(versions(versions.length - back)._2.toString)
  }

  private def archiveOrDelete(table: String, target: Path): Unit =
    if (keepSnapshots <= 0) fs.delete(target, true)
    else {
      val versions = snapshotVersions(table)
      val next = versions.lastOption.map(_._1 + 1).getOrElse(0L)
      if (!fs.exists(historyDir(table))) fs.mkdirs(historyDir(table))
      fs.rename(target, new Path(historyDir(table), f"v$next%06d"))
      val all = snapshotVersions(table)
      all.dropRight(keepSnapshots).foreach { case (_, p) => fs.delete(p, true) }
    }

  private def writeTmp(table: String, df: DataFrame): Path = {
    val tmp = new Path(dir(table) + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val spec = partitionByCols.get(table).orElse(
      partitionBySuffix.collectFirst { case (suf, c) if table.endsWith(suf) => c })
    val writer = spec match {
      case Some(cols) if cols.forall(df.columns.contains) => df.write.partitionBy(cols: _*)
      case _ => df.write
    }
    writer.parquet(tmp.toString)
    tmp
  }

  private def swap(table: String, tmp: Path): Unit = {
    val target = new Path(dir(table))
    if (fs.exists(target)) archiveOrDelete(table, target)
    fs.rename(tmp, target)
  }

  override def overwrite(table: String, df: DataFrame): Unit =
    swap(table, writeTmp(table, df))

  /** True CAS via the filesystem's rename exclusivity: both racers write
    * their own tmp dir, then rename onto the target, and exactly one
    * rename wins. The legacy `FileSystem#rename` CANNOT express this (it
    * has `mv` semantics — an existing directory target silently absorbs
    * src as a CHILD; measured: 8 racers all "won"), so:
    *   - local (`file:`) roots rename through POSIX rename(2)
    *     (`Files.move` ATOMIC_MOVE) — atomically refuses an existing
    *     non-empty target (a freshly created table dir is never empty:
    *     parquet writes data + _SUCCESS);
    *   - other schemes rename through `FileContext` with the default
    *     `Rename.NONE`, which refuses an existing destination — enforced
    *     atomically by the HDFS namenode.
    * The loser's tmp is deleted and it reports false. Object stores
    * without atomic rename (s3a) cannot host this guarantee — ENFORCED:
    * [[ParquetTableStore.requireAtomicRenameScheme]] refuses those
    * schemes loudly (a silent lost guarantee would let two racers both
    * "win" a claim); put claims on a database-backed store there. */
  override def createIfAbsent(table: String, df: DataFrame): Boolean = {
    // Hadoop's FileSystem.getScheme BASE implementation throws
    // UnsupportedOperationException ("not implemented by the FileSystem
    // implementation") — a custom filesystem that never overrode it must
    // not turn a previously-working claim into an unhandled crash. An
    // unreported scheme passes the guard: the blocklist is the
    // authority, and an impl that predates getScheme() predates the s3a
    // family it blocks.
    val scheme =
      try fs.getScheme
      catch { case _: UnsupportedOperationException => null }
    ParquetTableStore.requireAtomicRenameScheme(scheme)
    if (exists(table)) return false
    val tmp = writeTmp(table, df)
    val target = new Path(dir(table))
    val won =
      if (scheme == "file")
        try {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.nio.file.FileSystemException => false }
      else
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
            .rename(tmp, target)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException if fs.exists(target) => false
        }
    if (!won) fs.delete(tmp, true)
    won
  }

  override def drop(table: String): Unit = {
    fs.delete(new Path(dir(table)), true)
    fs.delete(historyDir(table), true)
    ()
  }

  /** Two-phase: materialize EVERY plan into its tmp dir while all source
    * files still exist, then swap. A wave's staging/issues/contacts plans
    * ([[graft.pipeline.Lifecycle.KeyedFlowResult]]) all read the pre-run
    * snapshots — replacing one table before the others are written would
    * yield FileNotFound stage failures.
    *
    * The staging phase runs its independent write JOBS concurrently
    * (guide §2.6 — overlap independent jobs so the next job's tasks
    * back-fill the tail of the current one): each plan only READS
    * pre-commit snapshots and writes its own private tmp dir, so the
    * writes commute; the swap phase stays sequential and ordered.
    * `graft.store.writeParallelism` (session conf, default 4) bounds the
    * in-flight jobs — enough to fill stage tails of a 17-table model
    * build without the jobs fighting for executors; 1 restores the
    * sequential staging. Scale-independent: this is JOB-level overlap,
    * not a data-size constant, and on a cluster FIFO scheduling gives
    * exactly the back-fill behaviour wanted. */
  override def overwriteAll(tables: Seq[(String, DataFrame)]): Unit = {
    val tmps = stageConcurrently(
      tables.map { case (t, df) => () => (t, writeTmp(t, df)): Any })
      .map(_.asInstanceOf[(String, Path)])
    tmps.foreach { case (t, tmp) => swap(t, tmp) }
  }

  /** Run independent STAGING writes (each to its own private tmp dir,
    * reading only pre-commit snapshots — commuting by construction) on a
    * bounded pool; results keep input order. `graft.store.
    * writeParallelism` (session conf, default 4; 1 = sequential) bounds
    * the in-flight Spark jobs — job-level overlap (§2.6), not a
    * data-size constant; a cluster's FIFO scheduler back-fills stage
    * tails exactly as wanted. On failure queued siblings are cancelled
    * and the first error rethrown — nothing has been moved, so the
    * store is untouched (finished siblings' tmp dirs are orphaned
    * exactly as a sequential form's earlier writes were). */
  private def stageConcurrently(thunks: Seq[() => Any]): Seq[Any] = {
    val par0 = spark.conf.getOption("graft.store.writeParallelism")
      .map(_.trim.toInt).getOrElse(4)
    require(par0 >= 1,
      s"graft.store.writeParallelism must be >= 1, got $par0")
    val par = math.min(par0, thunks.size)
    if (par <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val all = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            thunks.map(t => scala.concurrent.Future(t()))),
          scala.concurrent.duration.Duration.Inf)
        pool.shutdown()
        all
      } catch {
        case e: Throwable =>
          pool.shutdownNow()
          throw e
      }
    }
  }

  /** Per-job commit, physically: each df is written (hive-partitioned by its
    * partCol) to a tmp dir FIRST — while every pre-commit snapshot the plans
    * read still exists — then only the touched partition directory is swapped
    * into the table. A 10-job staging table sees exactly one partition dir
    * replaced per message; the other jobs' files are never rewritten (nor
    * their plans re-run). The committed value's partition is removed even
    * when df is empty, so a job that now derives zero issues doesn't leave
    * last run's rows behind. */
  override def overwritePartitionsAll(commits: Seq[PartitionCommit]): Unit =
    commitAll(Nil, commits, Nil)

  override def append(table: String, df: DataFrame): Unit =
    commitAll(Seq(table -> df), Nil, Nil)

  /** Full two-phase commit: phase 1 materializes EVERY plan (appends,
    * partition replacements, snapshot overwrites) into tmp dirs while all
    * pre-commit snapshots are intact — no plan can observe another output
    * of the same commit, with or without caching; phase 2 is pure file
    * moves (appended files renamed in, partition dirs swapped, snapshots
    * swapped) in the reference's consolidation order. */
  override def commitAll(
      appends: Seq[(String, DataFrame)],
      partitions: Seq[PartitionCommit] = Nil,
      overwrites: Seq[(String, DataFrame)] = Nil): Unit = {
    // Phase 1 stages every plan into its own private tmp dir while ALL
    // pre-commit snapshots are intact — the writes only read pre-commit
    // state, so they commute and run concurrently like overwriteAll's
    // staging phase (guide §2.6; same writeParallelism bound, same
    // failure semantics: nothing moved, queued siblings cancelled).
    def stagePart(c: PartitionCommit): (PartitionCommit, Path) = {
      val tmp = new Path(dir(c.table) + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      // Multi-job (wave) commits cluster rows by the partition value first:
      // a dynamic-partitioned write otherwise emits one file per (task,
      // key) — up to tasks × jobs tiny files per commit — because every
      // shuffle task holds rows of every job. Keyed repartition gives one
      // file per partition dir (the tiny shuffle costs far less than the
      // file-creation storm). Single-value commits keep the parallel
      // multi-file write — one huge job's partition should not serialize
      // through one task.
      val clustered =
        if (c.moreValues.nonEmpty)
          c.df.repartition(org.apache.spark.sql.functions.col(c.partCol))
        else c.df
      clustered.write.partitionBy(c.partCol).parquet(tmp.toString)
      (c, tmp)
    }
    val thunks: Seq[() => Any] =
      appends.map { case (t, df) => () => (t, writeTmp(t, df)) } ++
        partitions.map(c => () => stagePart(c)) ++
        overwrites.map { case (t, df) => () => (t, writeTmp(t, df)) }
    val staged = stageConcurrently(thunks)
    val stagedAppends = staged.take(appends.size)
      .map(_.asInstanceOf[(String, Path)])
    val stagedParts = staged.slice(appends.size, appends.size + partitions.size)
      .map(_.asInstanceOf[(PartitionCommit, Path)])
    val stagedOverwrites = staged.drop(appends.size + partitions.size)
      .map(_.asInstanceOf[(String, Path)])

    stagedAppends.foreach { case (t, tmp) => moveAppend(t, tmp) }
    stagedParts.foreach { case (c, tmp) =>
      val tableDir = new Path(dir(c.table))
      val written = fs.listStatus(tmp).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith(c.partCol + "=")).toSet
      (written ++ c.values.map(v => s"${c.partCol}=$v")).foreach { name =>
        val target = new Path(tableDir, name)
        if (fs.exists(target)) fs.delete(target, true)
        val src = new Path(tmp, name)
        if (fs.exists(src)) {
          // Don't create the table dir for an all-empty commit: an existing
          // but file-less dir would read as a present-yet-unloadable table.
          if (!fs.exists(tableDir)) fs.mkdirs(tableDir)
          fs.rename(src, target)
        }
      }
      fs.delete(tmp, true)
    }
    stagedOverwrites.foreach { case (t, tmp) => swap(t, tmp) }
  }

  /** Small-file compaction for each existing named table (see [[compact]]
    * — partitions under the file-count threshold are untouched, so calling
    * this every N micro-batches costs ~a directory listing when nothing is
    * fragmented). */
  override def maintain(tables: Seq[String]): Unit =
    tables.filter(exists).foreach(t => compact(t))

  /** Move a staged append's data files into the table dir, preserving
    * partition subdirectories (Spark's task-UUID file names cannot collide
    * with existing files). An all-empty append stages no data files, moves
    * nothing, and never creates the table dir — and costs no pre-write
    * isEmpty probe, unlike the old direct-append path. */
  private def moveAppend(table: String, tmp: Path): Unit = {
    val tableDir = new Path(dir(table))
    def dataFiles(p: Path, rel: String): Seq[(Path, String)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) dataFiles(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (name.startsWith("_") || name.startsWith(".")) Nil
        else Seq(st.getPath -> rel)
      }
    dataFiles(tmp, "").foreach { case (src, rel) =>
      val destDir = if (rel.isEmpty) tableDir else new Path(tableDir, rel)
      if (!fs.exists(destDir)) fs.mkdirs(destDir)
      fs.rename(src, new Path(destDir, src.getName))
    }
    fs.delete(tmp, true)
  }

  /** Small-file compaction — the maintenance pass every append-heavy table
    * needs at scale (each streaming micro-batch / job commit adds files;
    * thousands of KB-sized files turn a scan into a file-listing storm and
    * starve the scheduler with single-row tasks). Each partition directory
    * (or the whole table when unpartitioned) whose data-file count exceeds
    * `maxFilesPerPartition` is rewritten into ceil(bytes/targetFileBytes)
    * files and swapped in atomically; partitions under the threshold are
    * NOT touched (no rewrite, no mtime churn — compaction cost stays
    * proportional to fragmentation, not table size). Sizing is by file
    * bytes, not row counts, so deciding costs one directory listing and no
    * data scan. Single-level hive partitioning (this store's layout). */
  def compact(
      table: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerPartition: Int = 4): Unit = {
    val tableDir = new Path(dir(table))
    if (!fs.exists(tableDir)) return
    val partDirs = fs.listStatus(tableDir)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath).toSeq
    val targets = if (partDirs.nonEmpty) partDirs else Seq(tableDir)
    targets.foreach { p =>
      val files = fs.listStatus(p)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      val bytes = files.map(_.getLen).sum
      // Two gates: enough files to matter AND genuinely fragmented (average
      // file under half the target). A large healthy partition legitimately
      // holds many target-sized files — rewriting it every run would make
      // compaction cost proportional to table size, not fragmentation.
      val fragmented = files.length > maxFilesPerPartition &&
        bytes / files.length < targetFileBytes / 2
      if (fragmented) {
        val nOut = math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
        // Tmp lives OUTSIDE the table directory: a sibling inside it (e.g.
        // "staging_job_id=hot.compact-x") would be picked up by partition
        // discovery as a bogus partition if a crash strands it. The
        // delete+rename swap below has the same (non-atomic) crash window
        // as `swap` — a reader racing the swap can see the partition
        // missing for an instant; acceptable for a maintenance pass run
        // outside commit windows.
        val tmp = new Path(root,
          ".compact-tmp-" + java.util.UUID.randomUUID().toString.take(8))
        spark.read.parquet(p.toString).coalesce(nOut).write.parquet(tmp.toString)
        fs.delete(new Path(tmp, "_SUCCESS"), false)
        fs.delete(p, true)
        fs.rename(tmp, p)
      }
    }
  }
}

object ParquetTableStore {
  /** Filesystem schemes whose rename is a copy-and-delete (or otherwise
    * not atomic-exclusive): the s3 connectors emulate rename client-side
    * over PUT/DELETE, and the other object-store connectors listed do the
    * same — two racers can BOTH observe "renamed", which silently voids
    * the CAS claim guarantee [[ParquetTableStore.createIfAbsent]] is
    * documented to provide. (abfs/HDFS/file are absent deliberately:
    * ADLS gen2 and HDFS rename atomically server-side; local roots go
    * through POSIX rename(2).) */
  private[io] val NonAtomicRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "oss", "cosn", "swift")

  /** Refuse CAS claims on schemes that cannot host rename exclusivity —
    * loudly, with the documented guidance, instead of returning a claim
    * that two racers can both win. Checked on every
    * [[ParquetTableStore.createIfAbsent]] call (claims are control-plane
    * rows; a string compare is free). */
  private[graft] def requireAtomicRenameScheme(scheme: String): Unit =
    require(scheme == null || !NonAtomicRenameSchemes.contains(scheme.toLowerCase),
      s"createIfAbsent claims need the filesystem's atomic rename " +
        s"exclusivity; scheme '$scheme' is an object store whose rename " +
        "is copy+delete (two racers can both win). Put claims on a " +
        "database-backed TableStore (JdbcTableStore/PostgresCopyStore) " +
        "or an HDFS-backed root; parquet DATA tables on this scheme " +
        "remain fine")
}

/** JDBC-backed store (Postgres parity). Reads push the table/user predicate
  * down via the `query` option; appends use the stock JDBC writer; UPDATE-
  * shaped writes go through [[JdbcUpsert]]. */
class JdbcTableStore(
    spark: SparkSession,
    url: String,
    props: java.util.Properties) extends TableStore {

  // One JDBC metadata probe (same helper the overwrite path uses). The
  // old `= true // DDL-managed` stub broke every exists-gated OPTIONAL
  // table read (forward index, versioned-index manifest bootstrap,
  // pre-first-delete tombstones): load() of a missing table throws at
  // schema resolution, and worse, an exists-gated APPEND auto-creates a
  // PARTIAL table that later reads trust.
  override def exists(table: String): Boolean = tableExists(table)

  override def load(table: String): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Snapshot overwrite, SQL-side two-phase: the replacement plan routinely
    * READS the table it replaces (the jobs-status-update shape), so a
    * truncate-then-insert write would truncate the very rows the insert's
    * plan still needs — silent data loss. Instead the plan materializes
    * into a temp table first, then DELETE + INSERT ... SELECT swap the
    * target in ONE transaction (a crash between them rolls back; readers
    * never see a half-replaced table). First-time writes (no target table
    * yet) create it directly. */
  JdbcTableStore.ensureDerbyVarcharDialect()

  private def write(df: DataFrame) = df.write

  override def overwrite(table: String, df: DataFrame): Unit =
    if (!tableExists(table)) write(df).jdbc(url, table, props)
    else swapAll(Seq(table -> stage(table, df)))

  override def drop(table: String): Unit =
    if (tableExists(table)) {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.createStatement()
        try { st.executeUpdate(s"DROP TABLE $table"); () }
        finally st.close()
      } finally conn.close()
    }

  /** True CAS via the database's DDL serialization: the writer's CREATE
    * TABLE (Spark's ErrorIfExists JDBC write) races through the catalog
    * lock — the loser's create errors and, seeing the table now exists,
    * reports false. A writer that created the table but failed mid-insert
    * leaves an EMPTY claim behind (reported false here; readers must
    * treat empty as claimed — VersionedIndex does). */
  override def createIfAbsent(table: String, df: DataFrame): Boolean =
    if (tableExists(table)) false
    else
      try { write(df).jdbc(url, table, props); true }
      catch {
        case e: Exception =>
          if (tableExists(table)) false else throw e
      }

  /** Replace several tables whose plans may read EACH OTHER: every plan is
    * staged (materialized) before any target is touched, then all swaps run
    * in one transaction. */
  override def overwriteAll(tables: Seq[(String, DataFrame)]): Unit = {
    val (create, swap) = tables.partition { case (t, _) => !tableExists(t) }
    val staged = swap.map { case (t, df) => t -> stage(t, df) }
    create.foreach { case (t, df) => write(df).jdbc(url, t, props) }
    swapAll(staged)
  }

  private def tableExists(table: String): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    // Spark's JDBC writer creates the table name as an unquoted identifier,
    // which Derby/Postgres fold (upper/lower respectively) — probe both.
    try {
      val md = conn.getMetaData
      Seq(table, table.toUpperCase, table.toLowerCase).exists { t =>
        val rs = md.getTables(null, null, t, null)
        try rs.next() finally rs.close()
      }
    } finally conn.close()
  }

  /** Materialize `df` into a uniquely-named temp table; returns (tmp, cols). */
  private def stage(table: String, df: DataFrame): (String, Seq[String]) = {
    val tmp = s"${table}_otmp_${java.util.UUID.randomUUID().toString.take(8)}"
    write(df).mode("overwrite").jdbc(url, tmp, props)
    (tmp, df.columns.toSeq)
  }

  private def swapAll(staged: Seq[(String, (String, Seq[String]))]): Unit = {
    if (staged.isEmpty) return
    val conn = java.sql.DriverManager.getConnection(url, props)
    def q(id: String) = "\"" + id + "\""
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        try {
          staged.foreach { case (table, (tmp, cols)) =>
            val colList = cols.map(q).mkString(", ")
            st.executeUpdate(s"DELETE FROM $table")
            st.executeUpdate(
              s"INSERT INTO $table ($colList) SELECT $colList FROM $tmp")
          }
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            throw e
        } finally {
          staged.foreach { case (_, (tmp, _)) =>
            try { st.executeUpdate(s"DROP TABLE $tmp"); conn.commit() }
            catch { case _: Throwable => () }
          }
        }
      } finally st.close()
    } finally conn.close()
  }

  override def append(table: String, df: DataFrame): Unit =
    write(df).mode("append").jdbc(url, table, props)

  /** Full two-phase commit, SQL-side: EVERY plan — appended rows included —
    * materializes into a temp table while all pre-commit target state is
    * intact, then the mutations run (append INSERT ... SELECTs first, then
    * the partition DELETE+INSERTs, then snapshot swaps). Without the staged
    * append, an appends-then-partitions sequence would let a partition
    * plan's re-evaluation observe the same commit's appended rows (the
    * classify-reads-contacts / commit-appends-contacts shape). */
  override def commitAll(
      appends: Seq[(String, DataFrame)],
      partitions: Seq[PartitionCommit] = Nil,
      overwrites: Seq[(String, DataFrame)] = Nil): Unit = {
    // Phase 1: stage EVERYTHING (no target mutated yet).
    val stagedAppends = appends.map { case (t, df) => (t, stage(t, df)) }
    val stagedParts = stagePartitionCommits(partitions)
    val (createOv, swapOv) = overwrites.partition { case (t, _) => !tableExists(t) }
    val stagedOverwrites = swapOv.map { case (t, df) => t -> stage(t, df) }
    // Phase 2: mutate in the reference's consolidation order.
    applyAppends(stagedAppends)
    applyPartitionCommits(stagedParts)
    createOv.foreach { case (t, df) => write(df).jdbc(url, t, props) }
    swapAll(stagedOverwrites)
  }

  private def applyAppends(staged: Seq[(String, (String, Seq[String]))]): Unit =
    staged.foreach { case (table, (tmp, cols)) =>
      val conn = java.sql.DriverManager.getConnection(url, props)
      def q(id: String) = "\"" + id + "\""
      try {
        val st = conn.createStatement()
        try {
          val colList = cols.map(q).mkString(", ")
          st.executeUpdate(s"INSERT INTO $table ($colList) SELECT $colList FROM $tmp")
          st.executeUpdate(s"DROP TABLE $tmp")
        } finally st.close()
      } finally conn.close()
    }

  /** Per-job commit, SQL-side: materialize each result into a temp table
    * (so plans that read the target finish BEFORE it is mutated), then
    * DELETE the job's rows + INSERT ... SELECT server-side — no driver-side
    * row materialization, and other jobs' rows are never rewritten.
    *
    * Each commit's DELETE+INSERT runs in ONE transaction: a crash between
    * them can never lose a partition (the DELETE rolls back), and a failed
    * INSERT leaves the target exactly as it was. Temp table names carry a
    * unique suffix so two commits against the SAME table in one call don't
    * clobber each other's staged rows. */
  override def overwritePartitionsAll(commits: Seq[PartitionCommit]): Unit =
    applyPartitionCommits(stagePartitionCommits(commits))

  private def stagePartitionCommits(
      commits: Seq[PartitionCommit]): Seq[(PartitionCommit, String, Seq[String])] =
    commits.map { c =>
      val tmp = s"${c.table}_ctmp_${java.util.UUID.randomUUID().toString.take(8)}"
      write(c.df).mode("overwrite").jdbc(url, tmp, props)
      (c, tmp, c.df.columns.toSeq)
    }

  private def applyPartitionCommits(
      staged: Seq[(PartitionCommit, String, Seq[String])]): Unit = {
    if (staged.isEmpty) return
    val conn = java.sql.DriverManager.getConnection(url, props)
    def dropBestEffort(tmp: String): Unit =
      try {
        val st = conn.createStatement()
        try { st.executeUpdate(s"DROP TABLE $tmp"); conn.commit() } finally st.close()
      } catch { case _: Throwable => () }
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      try {
        staged.foreach { case (c, tmp, cols) =>
          val lits = c.values.map {
            case s: String => "'" + s.replace("'", "''") + "'"
            case v => String.valueOf(v)
          }
          // Spark's JDBC writer creates DELIMITED (case-exact) identifiers;
          // raw SQL must quote them the same way or Derby/Postgres upcase
          // them.
          def q(id: String) = "\"" + id + "\""
          val colList = cols.map(q).mkString(", ")
          try {
            st.executeUpdate(
              s"DELETE FROM ${c.table} WHERE ${q(c.partCol)} IN (${lits.mkString(", ")})")
            st.executeUpdate(
              s"INSERT INTO ${c.table} ($colList) SELECT $colList FROM $tmp")
            conn.commit()
          } catch {
            case e: Throwable =>
              // Rollback BEFORE any cleanup/close: Derby otherwise masks the
              // real failure with "transaction still active".
              try conn.rollback() catch { case _: Throwable => () }
              staged.foreach { case (_, t, _) => dropBestEffort(t) }
              throw e
          }
          dropBestEffort(tmp)
        }
      } finally st.close()
    } finally conn.close()
  }
}

object JdbcTableStore {
  /** Spark's built-in Derby dialect maps StringType to CLOB, which Derby
    * then refuses to compare against string literals (pushed-down filters
    * fail with "Comparisons between CLOB and CHAR are not supported") and
    * refuses across setNull type mismatches. Register a dialect that pins
    * strings to VARCHAR and booleans to BOOLEAN (the common-JDBC fallback
    * BIT does not exist in Derby). Registered dialects take precedence over
    * built-ins; scoped to jdbc:derby URLs only, so Postgres keeps TEXT. */
  private object DerbyVarcharDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case org.apache.spark.sql.types.StringType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(4096)", java.sql.Types.VARCHAR))
      case org.apache.spark.sql.types.BooleanType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType =>
        Some(org.apache.spark.sql.jdbc.JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case _ => None // common JDBC types (BIGINT/INTEGER/TIMESTAMP/...) are Derby-valid
    }
  }
  @volatile private var registered = false
  private[io] def ensureDerbyVarcharDialect(): Unit = synchronized {
    if (!registered) {
      org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DerbyVarcharDialect)
      registered = true
    }
  }
}

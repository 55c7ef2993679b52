package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}

/** How to reach a psql client for [[PostgresCopyTableStore]]. Abstracted
  * because the execution context varies: production runs `psql` directly
  * against a host/port; the sandbox spec runs it as `nobody` over a
  * private unix-socket cluster (Postgres refuses root). */
trait PsqlRunner {
  /** Execute the psql script at `path` (world-readable); returns
    * (exit code, combined output). Must run with ON_ERROR_STOP so a SQL
    * error surfaces as rc != 0. */
  def runFile(path: String): (Int, String)
}

/** [[TableStore]] backed by a LIVE PostgreSQL server reached through the
  * psql client alone — no JDBC driver jar required. The reference's actual
  * sink is Postgres (staging_repository.py:47-66, contact_repository.py:
  * 99-131); this store moves real rows Spark <-> Postgres in a zero-egress
  * sandbox, and its transport IS the production bulk path: COPY is
  * Postgres's fast load/unload (an order of magnitude over row INSERTs),
  * so a JDBC deployment would still want this for the data plane and JDBC
  * only for the control plane.
  *
  * Data movement:
  *   - Spark -> PG: `df.write.csv` into a scratch dir (a DISTRIBUTED write,
  *     one part per task — rows never funnel through the driver), then one
  *     `\copy table FROM part` per file. NULLs travel as `\N`, so empty
  *     string and NULL never conflate (the staging_email contract).
  *   - PG -> Spark: `\copy (SELECT ...) TO csv` with FORCE_QUOTE * (every
  *     non-NULL value quoted, `\N` bare), read back all-string and cast to
  *     the live column types from information_schema — Postgres's `t`/`f`
  *     booleans and space-separated timestamps both survive Spark's string
  *     casts. The export happens at load() time, which gives every plan
  *     snapshot isolation by construction (the JDBC store needs staging
  *     tables for the same guarantee).
  *
  * Writes keep the same two-phase discipline as [[JdbcTableStore]]: stage
  * into a temp table while every reader-visible snapshot is intact, then
  * swap (DELETE + INSERT ... SELECT) transactionally.
  */
class PostgresCopyTableStore(
    spark: SparkSession,
    psql: PsqlRunner,
    scratchDir: String) extends TableStore {

  private def worldWritable(p: Path): Path = {
    val f = p.toFile
    f.setReadable(true, false); f.setWritable(true, false); f.setExecutable(true, false)
    p
  }
  worldWritable(Files.createDirectories(Paths.get(scratchDir)))

  private def q(id: String) = "\"" + id + "\""
  private def lit_(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case x => String.valueOf(x)
  }

  /** Run a SQL/psql script; fail loudly on error (rc != 0). */
  private def exec(script: String): String = {
    val f = Files.createTempFile(Paths.get(scratchDir), "pgc", ".sql")
    Files.writeString(f, script)
    f.toFile.setReadable(true, false)
    try {
      val (rc, out) = psql.runFile(f.toString)
      require(rc == 0, s"psql failed (rc=$rc):\n$script\n--- output ---\n$out")
      out.trim
    } finally Files.delete(f)
  }

  override def exists(table: String): Boolean =
    exec("SELECT count(*) FROM information_schema.tables " +
      s"WHERE table_schema = 'public' AND table_name = ${lit_(table)}") == "1"

  // ---- schema mapping --------------------------------------------------

  private def pgTypeOf(dt: DataType): String = dt match {
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case ShortType | ByteType => "SMALLINT"
    case BooleanType => "BOOLEAN"
    case DoubleType => "DOUBLE PRECISION"
    case FloatType => "REAL"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case d: DecimalType => s"NUMERIC(${d.precision}, ${d.scale})"
    case _ => "TEXT"
  }

  private def sparkTypeOf(pg: String): DataType = pg match {
    case "integer" => IntegerType
    case "bigint" => LongType
    case "smallint" => ShortType
    case "boolean" => BooleanType
    case "double precision" => DoubleType
    case "real" => FloatType
    case "date" => DateType
    case t if t.startsWith("timestamp") => TimestampType
    case t if t.startsWith("numeric") => DecimalType(38, 18)
    case _ => StringType
  }

  /** Live (name, type) columns in ordinal order, from information_schema. */
  private def columnsOf(table: String): Seq[(String, DataType)] =
    exec("SELECT column_name || '|' || data_type FROM information_schema.columns " +
      s"WHERE table_schema = 'public' AND table_name = ${lit_(table)} " +
      "ORDER BY ordinal_position")
      .split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(name, tpe) = line.split("\\|", 2)
        name -> sparkTypeOf(tpe)
      }

  private def createTable(table: String, schema: StructType): Unit =
    exec(s"CREATE TABLE ${q(table)} (" +
      schema.fields.map(f => s"${q(f.name)} ${pgTypeOf(f.dataType)}").mkString(", ") + ")")

  /** Column-on-first-use parity with the parquet store: a write whose frame
    * carries columns the live table lacks (ensureCols adds job metadata on
    * first update) ALTERs them in instead of failing the INSERT..SELECT. */
  private def ensureColumns(table: String, schema: StructType): Unit = {
    val have = columnsOf(table).map(_._1).toSet
    schema.fields.filterNot(f => have(f.name)).foreach { f =>
      exec(s"ALTER TABLE ${q(table)} ADD COLUMN ${q(f.name)} ${pgTypeOf(f.dataType)}")
    }
  }

  // ---- PG -> Spark -----------------------------------------------------

  override def load(table: String): DataFrame = {
    val cols = columnsOf(table)
    require(cols.nonEmpty, s"table $table does not exist in Postgres")
    val out = Paths.get(scratchDir, "export-" + java.util.UUID.randomUUID().toString.take(8) + ".csv")
    // FORCE_QUOTE *: every non-NULL value is quoted, NULL is a bare \N —
    // the only encoding where '' and NULL are mechanically distinct.
    exec(s"""\\copy (SELECT ${cols.map(c => q(c._1)).mkString(", ")} FROM ${q(table)}) TO '$out' WITH (FORMAT csv, NULL '\\N', FORCE_QUOTE *)""")
    val asString = StructType(cols.map { case (n, _) => StructField(n, StringType) })
    val raw = spark.read
      .schema(asString)
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      .option("escape", "\"") // PG CSV doubles quotes; univocity's default escape is backslash
      .csv(out.toString)
    raw.select(cols.map { case (n, dt) => col(n).cast(dt).as(n) }: _*)
  }

  // ---- Spark -> PG -----------------------------------------------------

  /** Distributed CSV write + one `\copy FROM` per part file. */
  private def copyIn(table: String, df: DataFrame): Unit = {
    val dir = Paths.get(scratchDir, "import-" + java.util.UUID.randomUUID().toString.take(8))
    df.write
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .option("escape", "\"")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(dir.toString)
    worldWritable(dir)
    val listing = Files.list(dir)
    val parts =
      try listing.toArray.map(_.asInstanceOf[Path])
        .filter(p => p.getFileName.toString.startsWith("part-") && Files.size(p) > 0)
        .sortBy(_.getFileName.toString)
      finally listing.close()
    parts.foreach(_.toFile.setReadable(true, false))
    val colList = df.columns.map(q).mkString(", ")
    parts.foreach { p =>
      exec(s"""\\copy ${q(table)} ($colList) FROM '$p' WITH (FORMAT csv, NULL '\\N')""")
    }
  }

  /** Stage df into a fresh temp table (created from the df schema). */
  private def stageTable(table: String, df: DataFrame): (String, Seq[String]) = {
    val tmp = s"${table}_ptmp_${java.util.UUID.randomUUID().toString.take(8)}"
    createTable(tmp, df.schema)
    copyIn(tmp, df)
    (tmp, df.columns.toSeq)
  }

  private def dropBestEffort(tmp: String): Unit =
    try exec(s"DROP TABLE IF EXISTS ${q(tmp)}") catch { case _: Exception => () }

  override def append(table: String, df: DataFrame): Unit =
    if (!exists(table)) { createTable(table, df.schema); copyIn(table, df) }
    else { ensureColumns(table, df.schema); copyIn(table, df) }

  override def overwrite(table: String, df: DataFrame): Unit =
    if (!exists(table)) { createTable(table, df.schema); copyIn(table, df) }
    else commitAll(Nil, Nil, Seq(table -> df))

  /** True CAS via Postgres's transactional DDL: two racing CREATE TABLEs
    * (deliberately NOT `IF NOT EXISTS`) serialize on the catalog lock and
    * the loser errors — the database itself is the arbiter. Rows COPY in
    * after the create; a writer crashing between the two leaves an EMPTY
    * claim, which readers must treat as claimed (VersionedIndex wraps
    * that read with the recovery guidance). */
  override def createIfAbsent(table: String, df: DataFrame): Boolean = {
    if (exists(table)) return false
    try createTable(table, df.schema)
    catch {
      case e: Exception => if (exists(table)) return false else throw e
    }
    copyIn(table, df)
    true
  }

  /** Full two-phase commit (the [[TableStore.commitAll]] contract): every
    * plan — appends included — is staged into a temp table while all
    * pre-commit table state is intact; only then do the mutations run, each
    * in its own transaction, in the reference's consolidation order. */
  override def commitAll(
      appends: Seq[(String, DataFrame)],
      partitions: Seq[PartitionCommit] = Nil,
      overwrites: Seq[(String, DataFrame)] = Nil): Unit = {
    // Phase 1: stage everything (and ALTER in any first-use columns so the
    // phase-2 INSERT..SELECTs cannot fail on schema drift).
    val aStaged = appends.map { case (t, df) =>
      if (!exists(t)) createTable(t, df.schema) else ensureColumns(t, df.schema)
      (t, stageTable(t, df))
    }
    val pStaged = partitions.map { c =>
      if (!exists(c.table)) createTable(c.table, c.df.schema)
      else ensureColumns(c.table, c.df.schema)
      (c, stageTable(c.table, c.df))
    }
    val (create, swap) = overwrites.partition { case (t, _) => !exists(t) }
    val oStaged = swap.map { case (t, df) =>
      ensureColumns(t, df.schema)
      (t, stageTable(t, df))
    }
    // Phase 2: mutate.
    try {
      aStaged.foreach { case (t, (tmp, cols)) =>
        val colList = cols.map(q).mkString(", ")
        exec(s"INSERT INTO ${q(t)} ($colList) SELECT $colList FROM ${q(tmp)}")
      }
      pStaged.foreach { case (c, (tmp, cols)) =>
        val colList = cols.map(q).mkString(", ")
        exec(s"""BEGIN;
                |DELETE FROM ${q(c.table)} WHERE ${q(c.partCol)} IN (${c.values.map(lit_).mkString(", ")});
                |INSERT INTO ${q(c.table)} ($colList) SELECT $colList FROM ${q(tmp)};
                |COMMIT;""".stripMargin)
      }
      create.foreach { case (t, df) => createTable(t, df.schema); copyIn(t, df) }
      oStaged.foreach { case (t, (tmp, cols)) =>
        val colList = cols.map(q).mkString(", ")
        exec(s"""BEGIN;
                |DELETE FROM ${q(t)};
                |INSERT INTO ${q(t)} ($colList) SELECT $colList FROM ${q(tmp)};
                |COMMIT;""".stripMargin)
      }
    } finally {
      (aStaged.map(_._2._1) ++ pStaged.map(_._2._1) ++ oStaged.map(_._2._1))
        .foreach(dropBestEffort)
    }
  }
}

package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row => SqlRow}
import org.apache.spark.sql.types._

/** Seeded input generators and the planted-count oracle.
  *
  * The ingest generator plans every row of every CSV before writing it, so
  * the counts the worker must produce (staging rows by status, issues by
  * type, issue items, contacts, final job status) follow from the plan
  * alone. The rules mirrored here are the worker's documented contract
  * (FIXTURES.md): blank rows are dropped before numbering; a row's issue is
  * the first failing check of missing field, invalid email, duplicate in
  * file, existing contact of the same tenant; an issue is keyed by the
  * normalized email, or by `row_<n>` when the email is blank. */
object Gen {

  sealed trait Kind
  case object Valid extends Kind
  case object Missing extends Kind
  case object Invalid extends Kind
  case object Dup extends Kind
  case object Existing extends Kind

  val IssueTypeOf: Map[Kind, String] = Map(
    Missing -> "MISSING_REQUIRED_FIELD", Invalid -> "INVALID_EMAIL",
    Dup -> "DUPLICATE_EMAIL", Existing -> "EXISTING_EMAIL")

  /** One kept (non-blank) CSV row; `rowNumber` is its 1-based position
    * after blank rows are dropped. `key` is its issue key, if any. */
  case class Row(rowNumber: Int, email: String, first: String, last: String,
      company: String, kind: Kind, key: String)

  case class Job(jobId: Int, user: String, file: String, delimiter: Char,
      latin1: Boolean, trailing: Boolean, rows: IndexedSeq[Row], blankLines: Int) {
    def issueRows: Seq[Row] = rows.filter(_.kind != Valid)
    def clean: Boolean = issueRows.isEmpty
    /** Distinct (issue type, key) pairs = the issues table rows of the job. */
    def issues: Map[String, Int] =
      issueRows.map(r => IssueTypeOf(r.kind) -> r.key).distinct
        .groupBy(_._1).map { case (t, xs) => t -> xs.size }
  }

  private val firstNames = Vector("Ann", "Bob", "Chloé", "Dan", "Eve", "Frank", "Grace",
    "Hugo", "Inès", "Jon", "Kim", "Liam", "Maëlle", "Noor", "Otto", "Pia", "Quinn",
    "Rui", "Sofía", "Tom", "Ulla", "Vik", "Wen", "Xavier", "Yara", "Zoë")
  private val lastNames = Vector("Smith", "Müller", "García", "Rossi", "Dubois", "Kowalski",
    "Jensen", "Nguyen", "Silva", "Novák", "Papadopoulos", "Ivanova", "Öztürk", "Tanaka",
    "Okafor", "Lindqvist", "Brennan", "Ferreira", "Horvat", "Moreau")
  private val companies = Vector("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark",
    "Wayne", "Wonka", "Tyrell", "Cyberdyne", "Soylent", "Aperture", "Vandelay", "Pied Piper")
  private val domains = Vector("example.com", "mail.example.org", "corp.example.net", "example.io")

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))
  private def alnum(r: SplittableRandom, n: Int): String = {
    val cs = "abcdefghijklmnopqrstuvwxyz0123456789"
    (0 until n).map(_ => cs.charAt(r.nextInt(cs.length))).mkString
  }

  /** Dialects a job's CSV may use: (delimiter, latin-1, trailing delimiters). */
  private val dialects = Vector((',', false, false), (';', true, true), ('\t', false, false),
    (';', false, false), (',', true, false), ('\t', true, true))

  /** A clean job: `n` valid rows, unique lower-case emails. */
  def cleanJob(r: SplittableRandom, jobId: Int, user: String, n: Int,
      dialect: (Char, Boolean, Boolean) = (',', false, false)): Job = {
    val rows = (1 to n).map { i =>
      Row(i, s"u$jobId.$i.${alnum(r, 4)}@${pick(r, domains)}", pick(r, firstNames),
        pick(r, lastNames), pick(r, companies), Valid, null)
    }
    Job(jobId, user, f"job$jobId%05d.csv", dialect._1, dialect._2, dialect._3, rows, 0)
  }

  /** A job with planted defects: missing fields (blank email included),
    * invalid emails, duplicate groups with case variants, and, when
    * `existingFrom` is given, emails the tenant already owns as contacts. */
  def defectJob(r: SplittableRandom, jobId: Int, user: String, n: Int,
      dialect: (Char, Boolean, Boolean), existingFrom: Seq[String]): Job = {
    val base = cleanJob(r, jobId, user, n, dialect).rows.toArray
    val nDef = math.max(8, n / 40)
    // Disjoint victim positions; row 1 stays valid so delimiter sniffing
    // sees a complete first data row.
    val victims = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((2 to n).toVector).iterator
    def take(k: Int): Seq[Int] = (0 until k).map(_ => victims.next())
    take(nDef).zipWithIndex.foreach { case (i, j) =>
      val row = base(i - 1)
      base(i - 1) = (j % 4) match {
        case 0 => row.copy(email = "   ", kind = Missing)
        case 1 => row.copy(first = "", kind = Missing)
        case 2 => row.copy(last = "  ", kind = Missing)
        case _ => row.copy(company = "", kind = Missing)
      }
    }
    take(nDef).zipWithIndex.foreach { case (i, j) =>
      val row = base(i - 1)
      val bad = if (j % 2 == 0) s"bad.$jobId.$i.example.com" else s"bad$jobId.$i@nowhere"
      base(i - 1) = row.copy(email = bad, kind = Invalid)
    }
    // Duplicate groups of 2 or 3: members share an email up to case.
    (0 until nDef / 2).foreach { g =>
      val members = take(if (g % 3 == 0) 3 else 2)
      val email = s"dup$jobId.$g.${alnum(r, 3)}@${pick(r, domains)}"
      members.zipWithIndex.foreach { case (i, k) =>
        val e = if (k == 1) email.toUpperCase else email
        base(i - 1) = base(i - 1).copy(email = e, kind = Dup)
      }
    }
    if (existingFrom.nonEmpty)
      take(math.min(nDef, existingFrom.size)).zip(existingFrom).foreach { case (i, e) =>
        base(i - 1) = base(i - 1).copy(email = if (i % 2 == 0) e.toUpperCase else e, kind = Existing)
      }
    // Padding: surrounding whitespace the worker trims before every check.
    (0 until n / 20).foreach { _ =>
      val i = 1 + r.nextInt(n)
      val row = base(i - 1)
      if (row.kind == Valid) base(i - 1) = row.copy(email = s"  ${row.email} ", first = s" ${row.first}")
    }
    val keyed = base.toIndexedSeq.map { row =>
      if (row.kind == Valid) row
      else {
        val norm = row.email.trim.toLowerCase
        row.copy(key = if (norm.isEmpty) s"row_${row.rowNumber}" else norm)
      }
    }
    Job(jobId, user, f"job$jobId%05d.csv", dialect._1, dialect._2, dialect._3, keyed,
      blankLines = math.max(3, n / 200))
  }

  /** The CSV bytes of a job: header (+ empty trailing header cells),
    * rows, and blank lines (whitespace or delimiters only) spread after the
    * first data row. */
  def csvBytes(job: Job, seed: Long): Array[Byte] = {
    val r = new SplittableRandom(seed * 31 + job.jobId)
    val d = job.delimiter.toString
    val tail = if (job.trailing) d + d else ""
    val sb = new StringBuilder
    sb.append(Seq("email", "first_name", "last_name", "company").mkString(d)).append(tail).append('\n')
    val blanksAfter = Array.fill(job.rows.size + 1)(0)
    (0 until job.blankLines).foreach(_ => blanksAfter(1 + r.nextInt(job.rows.size)) += 1)
    job.rows.zipWithIndex.foreach { case (row, i) =>
      sb.append(Seq(row.email, row.first, row.last, row.company).mkString(d)).append(tail).append('\n')
      (0 until blanksAfter(i + 1)).foreach { k =>
        sb.append(if (k % 2 == 0) d * 3 + tail else "   ").append('\n')
      }
    }
    sb.toString.getBytes(if (job.latin1) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8)
  }

  def writeCsv(dir: Path, job: Job, seed: Long): Long = {
    val bytes = csvBytes(job, seed)
    Files.write(dir.resolve(job.file), bytes)
    bytes.length.toLong
  }

  /** ingest_backlog: `n` first-pass jobs, one tenant each, ~1.5k valid rows. */
  def backlog(seed: Long, n: Int, firstId: Int, rows: Int): Seq[Job] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    (0 until n).map { k =>
      val id = firstId + k
      cleanJob(r, id, s"t$id", rows - rows / 15 + r.nextInt(2 * (rows / 15) + 1))
    }
  }

  /** ingest_review: `singles` tenants submit one defect job each; `repeats`
    * tenants submit a clean job and then a second job that re-submits some
    * of the first job's emails. Dialects rotate through every delimiter and
    * encoding. Message order puts each tenant's first job first. */
  def review(seed: Long, singles: Int, repeats: Int, firstId: Int, rows: Int): Seq[Job] = {
    val r = new SplittableRandom(seed ^ 0x7e71e3L)
    val dialectOrder = scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(dialects)
    def dialect(k: Int) = dialectOrder(k % dialectOrder.size)
    def size() = rows - rows / 10 + r.nextInt(2 * (rows / 10) + 1)
    var id = firstId
    def next(): Int = { val x = id; id += 1; x }
    val firsts = (0 until repeats).map(k => cleanJob(r, next(), s"rt$k", size(), dialect(k)))
    val singleJobs = (0 until singles).map(k =>
      defectJob(r, next(), s"st$k", size(), dialect(repeats + k), Nil))
    val seconds = firsts.zipWithIndex.map { case (a, k) =>
      val owned = a.rows.map(_.email).filter(_ => r.nextInt(4) == 0)
      defectJob(r, next(), a.user, size(), dialect(repeats + singles + k), owned)
    }
    firsts ++ singleJobs ++ seconds
  }

  /** The reviewer's decision for one ISSUE row: DISCARD it (true) or fix
    * it. Pure function of the seed and the row's staging id, so the oracle
    * and the store edit agree. */
  def discards(seed: Long, stagingId: Long): Boolean =
    new SplittableRandom(seed * 1000003L + stagingId).nextInt(10) < 3

  def stagingId(jobId: Int, rowNumber: Int): Long = (jobId.toLong << 40) + rowNumber

  // ---------------------------------------------------------------- analytics

  private val vocab = Vector("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "vector", "the",
    "customer", "join")
  private val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")
  private val eventTypes = Vector("view", "click", "signup", "purchase", "error")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** The analytics tables at sf `sf` (documents, embeddings, events,
    * customer, supplier). Content depends only on `sf`; `layoutSeed`
    * permutes row order and picks the file count, so every seed gives
    * different files with the same rows. */
  def analyticsTables(spark: org.apache.spark.sql.SparkSession, dir: String, sf: Double,
      layoutSeed: Long): Map[String, Long] = {
    val r = new SplittableRandom(20260817L)
    val nDocs = (50000 * sf).toInt
    val texts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) =
        if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) // exact duplicate
        else if (i > 10 && r.nextInt(20) == 0) { // near duplicate: one word changed
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.size))
          w.mkString(" ")
        } else (0 until 8 + r.nextInt(90)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    val docs = (0 until nDocs).map(i =>
      (i.toLong, texts(i), langs(r.nextInt(langs.size)), s"src${i % 20}", texts(i).length.toLong))
    val nVec = (20000 * sf).toInt
    val centroids = Vector.fill(10)(Vector.fill(64)(r.nextDouble() * 2 - 1))
    val vecs = (0 until nVec).map { i =>
      val label = r.nextInt(10)
      val v = centroids(label).map(c => (c * 0.3 + (r.nextDouble() - 0.5) * 0.4).toFloat)
      (i.toLong, v.toArray, label)
    }
    val nEvents = (1000000 * sf).toInt
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val span = 30L * 86400L * 1000000L
    val evTs = Array.fill(nEvents)(t0 + (r.nextDouble() * span).toLong).sorted
    val events = (0 until nEvents).map(i => (i.toLong, new java.sql.Timestamp(evTs(i) / 1000L),
      r.nextInt(math.max(1, (15000 * sf).toInt)).toLong, eventTypes(r.nextInt(5)),
      math.round(r.nextDouble() * 20000) / 100.0, s"""{"k": ${r.nextInt(100)}}"""))
    val nCust = (150000 * sf).toInt
    val customers = (1 to nCust).map(k => (k.toLong, f"Customer#$k%09d", r.nextInt(25),
      math.round(r.nextDouble() * 1100000 - 100000) / 100.0, segments(r.nextInt(5))))
    val nSupp = (10000 * sf).toInt
    val suppliers = (1 to nSupp).map(k => (k.toLong, f"Supplier#$k%09d", r.nextInt(25),
      math.round(r.nextDouble() * 1100000 - 100000) / 100.0))

    val lr = new java.util.Random(layoutSeed)
    val files = 1 + lr.nextInt(4)
    // Explicit schemas (the nullability tuple encoders would give) instead
    // of `toDF`, whose reflective encoder derivation is slow in a cold JVM.
    def write(name: String, fields: Seq[(String, DataType, Boolean)], rows: Seq[Product]): (String, Long) = {
      val schema = StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
      val shuffled = scala.util.Random.javaRandomToRandom(lr).shuffle(rows).map(r => SqlRow.fromTuple(r))
      val path = s"$dir/$name.parquet"
      spark.createDataFrame(java.util.Arrays.asList(shuffled: _*), schema)
        .coalesce(files).write.mode("overwrite").parquet(path)
      name -> dirBytes(java.nio.file.Paths.get(path))
    }
    Map(
      write("documents", Seq(("doc_id", LongType, false), ("text", StringType, true),
        ("lang", StringType, true), ("source", StringType, true), ("n_chars", LongType, false)), docs),
      write("embeddings", Seq(("vec_id", LongType, false),
        ("embedding", ArrayType(FloatType, containsNull = false), true), ("label", IntegerType, false)), vecs),
      write("events", Seq(("event_id", LongType, false), ("ts", TimestampType, true),
        ("user_id", LongType, false), ("event_type", StringType, true), ("value", DoubleType, false),
        ("props", StringType, true)), events),
      write("customer", Seq(("c_custkey", LongType, false), ("c_name", StringType, true),
        ("c_nationkey", IntegerType, false), ("c_acctbal", DoubleType, false),
        ("c_mktsegment", StringType, true)), customers),
      write("supplier", Seq(("s_suppkey", LongType, false), ("s_name", StringType, true),
        ("s_nationkey", IntegerType, false), ("s_acctbal", DoubleType, false)), suppliers))
  }

  /** Bytes and files of the regular, non-hidden files under `p`. */
  def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes, files = 0L
        s.iterator().forEachRemaining { f =>
          val name = f.getFileName.toString
          if (Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")) {
            bytes += Files.size(f); files += 1
          }
        }
        (bytes, files)
      } finally s.close()
    }

  def dirBytes(p: Path): Long = dirStats(p)._1
}

package graft
import org.apache.spark.sql.SparkSession

/** Minimal JSON string escaping for the one-line bench/verify artifacts —
  * ALL control chars must be escaped or the driver's json.load rejects the
  * artifact in exactly the broken-query case it exists to surface. */
object JsonText {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE may re-partition cached plans: the shared classify/guardedPairs
      // caches otherwise pin tiny frames at the static shuffle-partition
      // count and every consumer pays partitions-worth of empty tasks.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warm-up: first action otherwise absorbs several seconds of
    // executor/codegen/IO initialization and lands on whichever query the
    // Map happens to order first, making per-query numbers incomparable.
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    // One timed line per name; a failure keeps its line and its seconds
    // and is reported in `errors`.
    def timed(name: String)(run: => Unit): (String, Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { run; None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    // Shared-artifact materialization as explicit named lines, one per
    // registry entry in registration order: q_cluster_sizes and
    // q_classify otherwise absorb the guardedPairs/classify builds their
    // whole families reuse, and their per-query numbers read as
    // multi-second queries when their warm floors are sub-second. Each
    // entry is timed on its own, so a failed build costs only its own
    // line; a consumer that needs it fails again and reports too.
    val cacheTimes = SparkEntry.sharedArtifacts.map(a => timed(a.name)(a.warm(spark, sfDir)))
    // Deterministic (sorted) execution order: Map hash order shuffles which
    // query absorbs residual warm-up, making cross-round per-query numbers
    // incomparable.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // FULL-plan evaluation, not count(): under count() Catalyst
      // legitimately eliminates presentation sorts AND the final left
      // joins of per-doc report queries (their right sides are unique
      // per key), so a report query "measured" only its source scan —
      // caught round 9 when q_span_trim_text benched flat at ×100.
      // toRdd compiles the query's own physical plan and foreach
      // forces every row with zero driver transfer.
      timed(name)(fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()))
    }
    val lines = cacheTimes ++ results
    val qs = lines.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // A failed query must be visibly red in the artifact, not a fast green:
    // round 6's schema drift "ran" 25 broken queries in 0.05 s each under
    // rc=0. Emit the failure list + count so a contaminated bench can never
    // again read as a clean one.
    val failures = lines.collect { case (k, _, Some(m)) =>
      s"${JsonText.quote(k)}:${JsonText.quote(m)}"
    }
    val errsJson = failures.mkString("{", ",", "}")
    val total = lines.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errsJson,"error_count":${failures.size},"cpus":$cpus,"sf":"$sfDir"}""")
    if (failures.nonEmpty)
      System.err.println(s"[bench] ${failures.size} queries FAILED")
    spark.stop()
  }
}

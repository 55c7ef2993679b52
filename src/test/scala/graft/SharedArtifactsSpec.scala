package graft

/** The shared-artifact registry behind Bench's `cache_*` lines: its names
  * and order are the Bench key contract, entries memoise per (session,
  * dir), and a failed build memoises nothing. Builds one cheap entry only. */
class SharedArtifactsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def entry(name: String) =
    SparkEntry.sharedArtifacts.find(_.name == name)
      .getOrElse(fail(s"no registry entry $name"))

  test("registry names are the 24 cache_* Bench lines, in Bench order") {
    assert(SparkEntry.sharedArtifacts.map(_.name) == Seq(
      "cache_classify", "cache_guardedPairs", "cache_lm5_base", "cache_lm3",
      "cache_lm5", "cache_lm5_pruned", "cache_lm2h", "cache_lm3h_base",
      "cache_lm5h_base", "cache_lm2h_scores", "cache_lm3h_scores",
      "cache_lm5h_scores", "cache_lex", "cache_lr", "cache_lr80",
      "cache_dsir", "cache_kmeans", "cache_ivf", "cache_ivf_lists",
      "cache_rep8", "cache_ppl", "cache_mkn5", "cache_fuzzy", "cache_sim32"))
  }

  test("an entry is built once per (session, dir)") {
    val kmeans = entry("cache_kmeans")
    val first = kmeans(spark, dir)
    assert(kmeans(spark, dir) eq first)
    assert(!(kmeans(spark.newSession(), dir) eq first))
  }

  test("a build that throws memoises nothing") {
    val kmeans = entry("cache_kmeans")
    val tmp = java.nio.file.Files.createTempDirectory("graft_registry_")
    intercept[Exception](kmeans(spark, tmp.toString))
    intercept[Exception](kmeans.warm(spark, tmp.toString))
    // Once the input exists, the same key builds.
    java.nio.file.Files.createSymbolicLink(tmp.resolve("embeddings.parquet"),
      java.nio.file.Paths.get(dir, "embeddings.parquet"))
    val built = kmeans(spark, tmp.toString)
    assert(kmeans(spark, tmp.toString) eq built)
  }
}

package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared-base derivations behind the cross-query LM sharing: frames
  * and builds derived from ONE checkpointed base-counts frame must be
  * bit-identical to the lazy per-order aggregations / the direct builds
  * (SparkEntry serves q_kn{3,5}_holdout, the persisted-holdout twins,
  * the pruned and the vocabulary-capped builds from shared bases). */
class LmSharedBaseSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def txt(): String =
      (0 until (1 + rnd.nextInt(10))).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    (1L to 70L).map(i => (i, txt())).toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("frames5FromBase == modelFrames5 frame-for-frame, and the " +
      "base-derived cross-score == crossScore5 (order 3 likewise)") {
    val docs = corpus(61)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val hold = docs.filter(col("doc_id") % 5 === 0)

    for (order <- Seq(3, 5)) {
      val base = LmIndex.baseOf(order, train, "doc_id", "text").localCheckpoint()
      val fromBase = LmIndex.framesFromBase(order, base)
      val lazyM = LmIndex.modelFrames(order, train, "doc_id", "text")
      assert(fromBase.tables.keys.toSeq === lazyM.tables.keys.toSeq)
      for ((n, df) <- fromBase.tables)
        assert(rows(df) === rows(lazyM(n)),
          s"order-$order frame $n diverged from lazy")
      assert(
        rows(LmIndex.scoreFrames(fromBase, hold, "doc_id", "text", LmIndex.Kn())) ===
          rows(LmIndex.crossScore(order, train, hold, "doc_id", "text")),
        s"base-derived order-$order cross-score diverged")
    }
  }

  test("buildNFromBase == buildN table-for-table (orders 3 and 5, " +
      "pruned and unpruned)") {
    val docs = corpus(62)
    def store() = new graft.io.ParquetTableStore(spark,
      Files.createTempDirectory("graft_lmb_").toString)

    for ((order, pruneMin) <- Seq(3 -> Nil, 5 -> Seq(1L, 2L, 1L, 2L))) {
      val direct = store(); val fromBase = store()
      LmIndex.build(order, direct, "lm", docs, "doc_id", "text",
        pruneMin = pruneMin)
      LmIndex.buildFromBase(order, fromBase, "lm",
        LmIndex.baseOf(order, docs, "doc_id", "text").localCheckpoint(),
        pruneMin)
      for (t <- LmIndex.tableNames(order))
        assert(rows(fromBase.load(s"lm_$t")) === rows(direct.load(s"lm_$t")),
          s"order-$order table $t diverged")
    }
  }

}

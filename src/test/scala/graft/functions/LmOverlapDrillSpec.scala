package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The §2.6 overlapped maintenance/build drills (round-18 optimization):
  * each drill runs its score-side job CONCURRENTLY with the staged table
  * writes, reading only the checkpointed count frames — so the drill
  * must leave the store table-for-table identical to the sequential
  * build/append/delete chain AND return exactly the rows the sequential
  * score-from-store returned. */
class LmOverlapDrillSpec extends SparkSpec {
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

  private def store() = new graft.io.ParquetTableStore(spark,
    Files.createTempDirectory("graft_lmo_").toString)

  private val Tables5 = Seq("uni", "big", "ctx", "cont", "tri", "ctx3",
    "m2", "mctx", "four", "ctx4", "m3", "mctx3", "five", "ctx5", "m4",
    "mctx4", "stats")
  private val Tables2 = Seq("uni", "big", "ctx", "cont", "stats")

  test("appendDrill5 == build5 + append5 + score5, table-for-table and " +
      "row-for-row") {
    val docs = corpus(71)
    val train = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)

    val sa = store()
    LmIndex.build(5, sa, "lm5", train, "doc_id", "text")
    LmIndex.append(5, sa, "lm5", delta, "doc_id", "text")
    val seqScore = LmIndex.score(5, sa, "lm5", docs, "doc_id", "text")

    val sb = store()
    val drill = LmIndex.appendDrill(5, sb, "lm5", train, delta, docs,
      "doc_id", "text")
    for (t <- Tables5)
      assert(rows(sb.load(s"lm5_$t")) === rows(sa.load(s"lm5_$t")),
        s"order-5 drill table $t diverged from sequential append")
    assert(rows(drill) === rows(seqScore),
      "order-5 drill score diverged from score5 over the appended store")
  }

  test("appendDrill == build + append + score; deleteDocsScored == " +
      "deleteDocs + score (order 2)") {
    val docs = corpus(72)
    val train = docs.filter(col("doc_id") % 5 isin (1, 2))
    val delta = docs.filter(col("doc_id") % 5 isin (3, 4))
    val hold = docs.filter(col("doc_id") % 5 === 0)

    val sa = store()
    LmIndex.build(2, sa, "lm", train, "doc_id", "text")
    LmIndex.append(2, sa, "lm", delta, "doc_id", "text")
    val seqScore = LmIndex.score(2, sa, "lm", hold, "doc_id", "text")

    val sb = store()
    val drill = LmIndex.appendDrill(2, sb, "lm", train, delta, hold,
      "doc_id", "text")
    for (t <- Tables2)
      assert(rows(sb.load(s"lm_$t")) === rows(sa.load(s"lm_$t")),
        s"order-2 drill table $t diverged from sequential append")
    assert(rows(drill) === rows(seqScore),
      "order-2 drill score diverged from score over the appended store")

    // Delete drill: both stores now hold the same appended model —
    // delete the delta back out of each.
    LmIndex.deleteDocs(2, sa, "lm", delta, "doc_id", "text")
    val seqDel = LmIndex.score(2, sa, "lm", hold, "doc_id", "text")
    val delScored = LmIndex.deleteDocsScored(2, sb, "lm", delta,
      "doc_id", "text", scoreDocs = hold)
    for (t <- Tables2)
      assert(rows(sb.load(s"lm_$t")) === rows(sa.load(s"lm_$t")),
        s"order-2 delete table $t diverged from sequential delete")
    assert(rows(delScored) === rows(seqDel),
      "order-2 delete score diverged from score over the deleted store")
  }

  test("build5Scored (vocabulary-capped) == build5(maxVocab) + score5; " +
      "build3Scored == build3 + score3") {
    val docs = corpus(73)

    val s5a = store()
    LmIndex.build(5, s5a, "lm5", docs, "doc_id", "text", maxVocab = 5L)
    val seq5 = LmIndex.score(5, s5a, "lm5", docs, "doc_id", "text")
    val s5b = store()
    val ov5 = LmIndex.buildScored(5, s5b, "lm5", docs, "doc_id", "text",
      docs = docs, maxVocab = 5L)
    for (t <- Tables5)
      assert(rows(s5b.load(s"lm5_$t")) === rows(s5a.load(s"lm5_$t")),
        s"capped order-5 table $t diverged from build5")
    assert(rows(ov5) === rows(seq5),
      "capped order-5 overlapped score diverged from score5")

    val s3a = store()
    LmIndex.build(3, s3a, "lm3", docs, "doc_id", "text")
    val seq3 = LmIndex.score(3, s3a, "lm3", docs, "doc_id", "text")
    val s3b = store()
    val ov3 = LmIndex.buildScored(3, s3b, "lm3", docs, "doc_id", "text",
      docs = docs)
    for (t <- Seq("uni", "big", "ctx", "cont", "tri", "ctx3", "m2", "mctx",
        "stats"))
      assert(rows(s3b.load(s"lm3_$t")) === rows(s3a.load(s"lm3_$t")),
        s"order-3 table $t diverged from build3")
    assert(rows(ov3) === rows(seq3),
      "order-3 overlapped score diverged from score3")
  }

  test("build5PrunedFromStore == build5(pruneMin) table-for-table") {
    val docs = corpus(74)
    val pruneMin = Seq(2L, 2L, 2L, 2L)

    val direct = store()
    LmIndex.build(5, direct, "lm5", docs, "doc_id", "text",
      pruneMin = pruneMin)

    val plain = store()
    LmIndex.build(5, plain, "lm5", docs, "doc_id", "text")
    val derived = store()
    LmIndex.buildPrunedFromStore(5, plain, "lm5", derived, "lm5", pruneMin)

    for (t <- Tables5)
      assert(rows(derived.load(s"lm5_$t")) === rows(direct.load(s"lm5_$t")),
        s"pruned-from-store table $t diverged from the direct pruned build")
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** LM-build vocabulary envelope specs (round 17): `build5(maxVocab)`
  * maps below-top-K words to the reserved `<unk>` at tokenize time, so
  * capping the vocabulary IS training on the OOV-mapped corpus (the
  * trainer-prune equivalence convention the tokenizer trainers pin). */
class LmVocabSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore() = new graft.io.ParquetTableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_lmv_").toString)

  private val Tables = Seq("uni", "big", "ctx", "cont", "tri", "ctx3",
    "m2", "mctx", "four", "ctx4", "m3", "mctx3", "five", "ctx5", "m4",
    "mctx4", "stats")

  test("build5(maxVocab) == build5 on the explicitly OOV-mapped corpus, " +
      "table for table and serve for serve") {
    // counts: a=4 b=4 c=2 e=2 d=1 f=1; maxVocab=3 keeps {a, b, c}
    // (ties at count 2 break by word ascending: c beats e).
    val raw = Seq(
      (1L, "a b a b c d"), (2L, "a b e c"), (3L, "b a e f"))
      .toDF("doc_id", "text")
    val mapped = Seq(
      (1L, "a b a b c <unk>"), (2L, "a b <unk> c"), (3L, "b a <unk> <unk>"))
      .toDF("doc_id", "text")
    val capped = tmpStore(); val manual = tmpStore()
    LmIndex.build(5, capped, "lm5", raw, "doc_id", "text", maxVocab = 3L)
    LmIndex.build(5, manual, "lm5", mapped, "doc_id", "text")
    Tables.foreach { t =>
      assert(capped.load(s"lm5_$t").collect().map(_.toString).toSet ===
        manual.load(s"lm5_$t").collect().map(_.toString).toSet,
        s"capped lm5_$t diverged from the pre-mapped build")
    }
    // Serving raw docs: identical against both models (same tables),
    // with capped-out words routing through the OOV branches.
    val probe = Seq((10L, "a b c"), (11L, "d f e"), (12L, "a d a"))
      .toDF("doc_id", "text")
    assert(LmIndex.score(5, capped, "lm5", probe, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet ===
      LmIndex.score(5, manual, "lm5", probe, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet)
    // The unigram table is bounded by construction: top-3 plus <unk>.
    assert(capped.load("lm5_uni").count() === 4L)
    assert(capped.load("lm5_uni").filter(col("w") === "<unk>")
      .select("c1").head().getLong(0) === 4L,
      "<unk> must absorb exactly the capped-out token mass (d+e+f+e)")
  }

  test("maxVocab composes with pruneMin: cap first, then prune the " +
      "capped counts — equal to pruning the pre-mapped corpus") {
    val rnd = new scala.util.Random(71)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp", "rr", "ss", "tt")
    val raw = (1L to 50L).map(i =>
      (i, (0 until (4 + rnd.nextInt(6)))
        .map(_ => pool(rnd.nextInt(9))).mkString(" ")))
      .toDF("doc_id", "text")
    // Pre-map via the same top-K rule, independently (SQL-side).
    val keep = raw.select(explode(split(col("text"), "\\s+")).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w").asc).limit(5)
      .select("w").as[String].collect().toSet
    val mapped = raw.as[(Long, String)].map { case (id, t) =>
      (id, t.split("\\s+").map(w => if (keep(w)) w else "<unk>")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val a = tmpStore(); val b = tmpStore()
    LmIndex.build(5, a, "lm5", raw, "doc_id", "text",
      pruneMin = Seq(1L, 2L, 2L, 2L), maxVocab = 5L)
    LmIndex.build(5, b, "lm5", mapped, "doc_id", "text",
      pruneMin = Seq(1L, 2L, 2L, 2L))
    Tables.foreach { t =>
      assert(a.load(s"lm5_$t").collect().map(_.toString).toSet ===
        b.load(s"lm5_$t").collect().map(_.toString).toSet,
        s"capped+pruned lm5_$t diverged from the pre-mapped pruned build")
    }
  }

  test("maxVocab validates its range") {
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    val store = tmpStore()
    val e = intercept[IllegalArgumentException] {
      LmIndex.build(5, store, "lm5", d, "doc_id", "text", maxVocab = -3L)
    }
    assert(e.getMessage.contains("maxVocab"))
  }
}

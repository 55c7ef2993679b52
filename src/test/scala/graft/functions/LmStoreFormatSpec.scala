package graft.functions

import java.nio.file.Files

import graft.SparkSpec

/** Pins the persisted language-model store layout, as literals: for an
  * order-2, order-3, order-5 and count-pruned order-5 build, the table
  * names and every table's column names, column order and types. Stores
  * written before the order-generic model must keep loading, and an
  * unpruned build must write no column it did not write before (no
  * stored-bytes growth) — a layout change fails here first. */
class LmStoreFormatSpec extends SparkSpec {
  import spark.implicits._

  // Every raw AND continuation count is >= 2 (each 5-gram appears twice,
  // every k-gram extends both `a` and `f` to the left), so the pruned
  // build keeps rows in every table.
  private lazy val corpus = Seq((1L, "a b c d e"), (2L, "f b c d e"),
    (3L, "a b c d e"), (4L, "f b c d e")).toDF("doc_id", "text")

  /** table -> "name:type ..." for every table the build wrote. */
  private def layout(order: Int, pruneMin: Seq[Long] = Nil): Map[String, String] = {
    val root = Files.createTempDirectory("graft_lmfmt_").toFile
    val store = new graft.io.ParquetTableStore(spark, root.toString)
    LmIndex.build(order, store, "lm", corpus, "doc_id", "text", pruneMin = pruneMin)
    root.listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(t => t -> store.load(t).schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(" "))
      .toMap
  }

  private def check(got: Map[String, String], want: Map[String, String]): Unit = {
    assert(got.keySet === want.keySet, "table names changed")
    for ((t, cols) <- want)
      assert(got(t) === cols, s"$t layout changed")
  }

  test("order-2 store layout") {
    check(layout(2), Map(
      "lm_big" -> "prev:string w:string c2:bigint",
      "lm_cont" -> "w:string n1c:bigint",
      "lm_ctx" -> "prev:string cc:bigint n1f:bigint",
      "lm_stats" -> "total_tokens:bigint bigram_types:bigint",
      "lm_uni" -> "w:string c1:bigint"))
  }

  test("order-3 store layout") {
    check(layout(3), Map(
      "lm_big" -> "prev:string w:string c2:bigint",
      "lm_cont" -> "w:string n1c:bigint",
      "lm_ctx" -> (
        "prev:string cc:bigint n1f:bigint nf1:bigint nf2:bigint " +
        "nf3p:bigint"),
      "lm_ctx3" -> (
        "prev2:string prev:string cc3:bigint n1f3:bigint tf1:bigint " +
        "tf2:bigint tf3p:bigint"),
      "lm_m2" -> "prev:string w:string mcount:bigint",
      "lm_mctx" -> (
        "prev:string mcc:bigint n1f2c:bigint mf1:bigint mf2:bigint " +
        "mf3p:bigint"),
      "lm_stats" -> (
        "total_tokens:bigint bigram_types:bigint n1:bigint n2:bigint " +
        "n3:bigint n4:bigint trigram_types:bigint t1:bigint t2:bigint " +
        "t3:bigint t4:bigint m2_types:bigint m1:bigint m2:bigint " +
        "m3:bigint m4:bigint"),
      "lm_tri" -> "prev2:string prev:string w:string c3:bigint",
      "lm_uni" -> "w:string c1:bigint"))
  }

  test("order-5 store layout, unpruned and count-pruned (pruneMin 2,2,2,2)") {
    check(layout(5), Map(
      "lm_big" -> "prev:string w:string c2:bigint",
      "lm_cont" -> "w:string n1c:bigint",
      "lm_ctx" -> (
        "prev:string cc:bigint n1f:bigint nf1:bigint nf2:bigint " +
        "nf3p:bigint"),
      "lm_ctx3" -> (
        "prev2:string prev:string cc3:bigint n1f3:bigint tf1:bigint " +
        "tf2:bigint tf3p:bigint"),
      "lm_ctx4" -> (
        "prev3:string prev2:string prev:string cc4:bigint n1f4:bigint " +
        "ff1:bigint ff2:bigint ff3p:bigint"),
      "lm_ctx5" -> (
        "prev4:string prev3:string prev2:string prev:string cc5:bigint " +
        "n1f5:bigint vf1:bigint vf2:bigint vf3p:bigint"),
      "lm_five" -> (
        "prev4:string prev3:string prev2:string prev:string w:string " +
        "c5:bigint"),
      "lm_four" -> "prev3:string prev2:string prev:string w:string c4:bigint",
      "lm_m2" -> "prev:string w:string mcount:bigint",
      "lm_m3" -> "prev2:string prev:string w:string m3c:bigint",
      "lm_m4" -> "prev3:string prev2:string prev:string w:string m4c:bigint",
      "lm_mctx" -> (
        "prev:string mcc:bigint n1f2c:bigint mf1:bigint mf2:bigint " +
        "mf3p:bigint"),
      "lm_mctx3" -> (
        "prev2:string prev:string m3cc:bigint n1f3c:bigint pf1:bigint " +
        "pf2:bigint pf3p:bigint"),
      "lm_mctx4" -> (
        "prev3:string prev2:string prev:string m4cc:bigint n1f4c:bigint " +
        "qf1:bigint qf2:bigint qf3p:bigint"),
      "lm_stats" -> (
        "total_tokens:bigint bigram_types:bigint n1:bigint n2:bigint " +
        "n3:bigint n4:bigint trigram_types:bigint t1:bigint t2:bigint " +
        "t3:bigint t4:bigint m2_types:bigint m1:bigint m2:bigint " +
        "m3:bigint m4:bigint fourgram_types:bigint f1:bigint f2:bigint " +
        "f3:bigint f4:bigint m3_types:bigint p1:bigint p2:bigint " +
        "p3:bigint p4:bigint fivegram_types:bigint v1:bigint v2:bigint " +
        "v3:bigint v4:bigint m4_types:bigint q1:bigint q2:bigint " +
        "q3:bigint q4:bigint"),
      "lm_tri" -> "prev2:string prev:string w:string c3:bigint",
      "lm_uni" -> "w:string c1:bigint"))
    check(layout(5, Seq(2L, 2L, 2L, 2L)), Map(
      "lm_big" -> "prev:string w:string c2:bigint",
      "lm_cont" -> "w:string n1c:bigint",
      "lm_ctx" -> (
        "prev:string cc:bigint n1f:bigint nf1:bigint nf2:bigint " +
        "nf3p:bigint pmb:bigint"),
      "lm_ctx3" -> (
        "prev2:string prev:string cc3:bigint n1f3:bigint tf1:bigint " +
        "tf2:bigint tf3p:bigint pmt:bigint"),
      "lm_ctx4" -> (
        "prev3:string prev2:string prev:string cc4:bigint n1f4:bigint " +
        "ff1:bigint ff2:bigint ff3p:bigint pmf:bigint"),
      "lm_ctx5" -> (
        "prev4:string prev3:string prev2:string prev:string cc5:bigint " +
        "n1f5:bigint vf1:bigint vf2:bigint vf3p:bigint pmv:bigint"),
      "lm_five" -> (
        "prev4:string prev3:string prev2:string prev:string w:string " +
        "c5:bigint"),
      "lm_four" -> "prev3:string prev2:string prev:string w:string c4:bigint",
      "lm_m2" -> "prev:string w:string mcount:bigint",
      "lm_m3" -> "prev2:string prev:string w:string m3c:bigint",
      "lm_m4" -> "prev3:string prev2:string prev:string w:string m4c:bigint",
      "lm_mctx" -> (
        "prev:string mcc:bigint n1f2c:bigint mf1:bigint mf2:bigint " +
        "mf3p:bigint pmm:bigint"),
      "lm_mctx3" -> (
        "prev2:string prev:string m3cc:bigint n1f3c:bigint pf1:bigint " +
        "pf2:bigint pf3p:bigint pmp:bigint"),
      "lm_mctx4" -> (
        "prev3:string prev2:string prev:string m4cc:bigint n1f4c:bigint " +
        "qf1:bigint qf2:bigint qf3p:bigint pmq:bigint"),
      "lm_stats" -> (
        "total_tokens:bigint bigram_types:bigint n1:bigint n2:bigint " +
        "n3:bigint n4:bigint trigram_types:bigint t1:bigint t2:bigint " +
        "t3:bigint t4:bigint m2_types:bigint m1:bigint m2:bigint " +
        "m3:bigint m4:bigint fourgram_types:bigint f1:bigint f2:bigint " +
        "f3:bigint f4:bigint m3_types:bigint p1:bigint p2:bigint " +
        "p3:bigint p4:bigint fivegram_types:bigint v1:bigint v2:bigint " +
        "v3:bigint v4:bigint m4_types:bigint q1:bigint q2:bigint " +
        "q3:bigint q4:bigint prune2:bigint prune3:bigint prune4:bigint " +
        "prune5:bigint"),
      "lm_tri" -> "prev2:string prev:string w:string c3:bigint",
      "lm_uni" -> "w:string c1:bigint"))
  }
}

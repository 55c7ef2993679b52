package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Composed CCNet gate specs (round 17): language-ID → frozen order-5
  * modified-KN perplexity → per-detected-language terciles → keep
  * head+middle — designed victims per language, plus the serve plan
  * gate (model tables scan once; the training corpus never appears). */
class CcnetGateSpec extends SparkSpec {
  import spark.implicits._

  private val fb = Some((0.5, 1.0, 1.5))

  private def trainedStore() = {
    val en = Seq(
      "the cat sat of the mat and the dog ran to the yard",
      "the dog ran to the mat and the cat sat of the yard",
      "the bird flew to the yard and the cat sat of the mat")
    val fr = Seq(
      "le chat est dans les jardins et le chien est dans le parc",
      "le chien est dans le parc et le chat est dans les jardins",
      "le merle est dans les jardins et le chat est dans le parc")
    val train = (en ++ fr ++ en ++ fr).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ccnet_").toString)
    LmIndex.build(5, store, "lm5", train, "doc_id", "text")
    store
  }

  test("designed victims: per-language, the verbatim-fluent doc lands in " +
      "head, the recombination in middle, the OOV salad in tail — and " +
      "only head+middle are kept") {
    val store = trainedStore()
    val gated = Seq(
      // en tercile: fluent (training 5-grams) > recombined (seen
      // bigrams, novel higher grams) > OOV salad ('the' keeps the
      // language detection on en; the rest is out of vocabulary).
      (101L, "the cat sat of the mat and the dog ran to the yard"),
      (102L, "the yard ran of the cat and the mat sat to the dog"),
      (103L, "the qqq zzzz wwww yyyy xxxx vvvv uuuu tttt ssss rrrr qq"),
      // fr tercile, same construction around 'le'/'les'/'et'.
      (201L, "le chat est dans les jardins et le chien est dans le parc"),
      (202L, "le parc est dans le chien et les chat est dans le jardins"),
      (203L, "le qqq zzzz wwww yyyy xxxx vvvv uuuu tttt ssss rrrr qq"))
      .toDF("doc_id", "text")
    val got = LmIndex.ccnetGate(store, "lm5", gated, "doc_id", "text",
      tiles = 3, fallbackDiscounts = fb)
      .select("doc_id", "predicted_lang", "bucket", "kept")
      .as[(Long, String, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(101L) === (("en", "head", true)))
    assert(got(102L) === (("en", "middle", true)))
    assert(got(103L) === (("en", "tail", false)))
    assert(got(201L) === (("fr", "head", true)))
    assert(got(202L) === (("fr", "middle", true)))
    assert(got(203L) === (("fr", "tail", false)))
  }

  test("gate plan: every model table scans exactly once and the " +
      "training corpus never appears — serve cost is the model tables " +
      "plus two narrow passes over the gated batch") {
    val store = trainedStore()
    val gated = (1L to 12L).map(i =>
      (1000L + i, "the cat sat of the mat and the dog"))
      .toDF("doc_id", "text")
    // The SCORING half (what runs once at gate construction, into the
    // narrow checkpoint pplTiles ranks): each model table exactly once,
    // and only model tables — the training corpus is structurally
    // unreachable (the model came from the store).
    val scoring = LmIndex.score(5, store, "lm5", gated, "doc_id", "text",
      LmIndex.Mkn(fb))
    val splan = scoring.queryExecution.executedPlan
    for (t <- Seq("lm5_uni", "lm5_big", "lm5_tri", "lm5_four", "lm5_five",
        "lm5_ctx5", "lm5_m4", "lm5_stats"))
      assert(graft.PlanTestUtils.scansOf(splan, t).length === 1,
        s"$t must scan exactly once in the scoring plan")
    val alien = graft.PlanTestUtils.fileScans(splan).filterNot(
      _.relation.location.rootPaths.exists(_.toString.contains("graft_ccnet_")))
    assert(alien.isEmpty,
      s"scoring plan scans non-model files: ${alien.map(_.relation.location.rootPaths)}")
    // The composed gate's OWN plan reads the checkpointed narrow scored
    // frame (Scan ExistingRDD) — the seventeen-table serve ran ONCE at
    // construction and is never re-executed by the rank primitive's
    // three references (the pplBuckets checkpoint discipline).
    val gate = LmIndex.ccnetGate(store, "lm5", gated, "doc_id", "text",
      tiles = 3, fallbackDiscounts = fb)
    val gplan = gate.queryExecution.executedPlan
    assert(graft.PlanTestUtils.fileScans(gplan).isEmpty,
      "the tiling plan must rank the checkpointed scored frame, not " +
        "re-run the seventeen-table serve")
    assert(gplan.toString.contains("Scan ExistingRDD"),
      "expected the checkpoint-backed scan in the tiling plan")
  }

  test("the gate works unchanged over a count-pruned, vocabulary-capped " +
      "model (the production frozen-gate posture)") {
    val en = Seq(
      "the cat sat of the mat and the dog ran to the yard",
      "the dog ran to the mat and the cat sat of the yard")
    val train = (0 until 12).map(i => (i.toLong, en(i % 2)))
      .toDF("doc_id", "text")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_ccnetp_").toString)
    LmIndex.build(5, store, "lm5", train, "doc_id", "text",
      pruneMin = Seq(1L, 2L, 2L, 2L), maxVocab = 8L)
    val gated = Seq(
      (1L, "the cat sat of the mat"), (2L, "the mat sat of the cat"),
      (3L, "the qqq zzz www yyy xxx")).toDF("doc_id", "text")
    val out = LmIndex.ccnetGate(store, "lm5", gated, "doc_id", "text",
      tiles = 3, fallbackDiscounts = fb)
      .select("doc_id", "bucket", "kept")
      .as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(3L) === (("tail", false)),
      "the OOV salad must fall to tail on a pruned+capped model")
    assert(out(1L)._2 && out(2L)._2, "head+middle must be kept")
  }
}

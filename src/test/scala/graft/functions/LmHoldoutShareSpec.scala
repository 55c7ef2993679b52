package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The store-serve == frame-serve equality under OOV behind the LM
  * holdout twins: each order's inline holdout cross-score (SparkEntry
  * .lmhScoresShared — a lazy or base-derived frame) and its persisted
  * twin (q_kn_persisted, q_kn{3,5}_persisted_holdout — a serve from a
  * store built on the 80% split) share one oracle SQL, so score from the
  * store == the frame cross-score of the SAME held-out docs, with genuine
  * OOV events firing, is pinned here directly, per order. Rows compare as
  * MULTISETS (sorted sequences), so a duplicated row — a bad join fanning
  * out — fails the spec. */
class LmHoldoutShareSpec extends SparkSpec {
  import spark.implicits._

  // Training pool and holdout pool overlap only partially: held-out docs
  // carry OOV words (zz, yy) and unseen contexts, so every backoff
  // branch the shared frame serves is exercised, not just the in-corpus
  // path the score==crossScore in-corpus pins cover.
  private def corpus(seed: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val oov = Vector("zz", "yy")
    def txt(id: Long): String = {
      val all = if (id % 5 == 0) pool ++ oov else pool
      (0 until (2 + rnd.nextInt(9)))
        .map(_ => all(rnd.nextInt(all.size))).mkString(" ")
    }
    (1L to 60L).map(i => (i, txt(i))).toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def store() = new graft.io.ParquetTableStore(spark,
    Files.createTempDirectory("graft_lmh_").toString)

  test("persisted holdout serve == shared holdout score frame, with OOV " +
      "events firing (orders 2, 3 and 5)") {
    val docs = corpus(181)
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val hold = docs.filter(col("doc_id") % 5 === 0)

    // The holdout genuinely carries OOV words for the training split.
    val trainVocab = train.select(explode(split(lower(col("text")), "\\s+")))
      .distinct().as[String].collect().toSet
    assert(!trainVocab.contains("zz") && !trainVocab.contains("yy"),
      "fixture must keep zz/yy out of the training split")

    // Order 2: score(store) == crossScore — q_kn_persisted /
    // q_kn_score_holdout. Orders 3 and 5: score(store built from the
    // shared base) == the base-frame cross-score — the
    // q_kn{3,5}_persisted_holdout / q_kn{3,5}_holdout pairs.
    for (order <- Seq(2, 3, 5)) {
      val s = store()
      val frames =
        if (order == 2) {
          LmIndex.build(2, s, "lm", train, "doc_id", "text")
          LmIndex.modelFrames(2, train, "doc_id", "text")
        } else {
          val base = LmIndex.baseOf(order, train, "doc_id", "text").localCheckpoint()
          LmIndex.buildFromBase(order, s, "lm", base)
          LmIndex.framesFromBase(order, base)
        }
      val served = rows(LmIndex.score(order, s, "lm", hold, "doc_id", "text"))
      assert(served.length === hold.count(),
        s"order-$order persisted holdout serve is not one row per doc")
      assert(served === rows(LmIndex.scoreFrames(frames, hold, "doc_id",
        "text", LmIndex.Kn())),
        s"order-$order persisted holdout serve diverged from the shared frame")
    }
  }
}

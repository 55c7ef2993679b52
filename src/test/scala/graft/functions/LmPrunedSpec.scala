package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Count-pruned order-5 model specs (the KenLM `--prune` analog,
  * round 17): below-threshold gram rows drop from the stored tables,
  * their mass folds into the context tables' pm columns, and every
  * serve's backoff weight λ = (ΣD·tally + pm)/cc keeps each level a
  * proper distribution — the r14 KN-sums-to-1 convention pushed through
  * the pruned branches. */
class LmPrunedSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore() = new graft.io.ParquetTableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_lmpr_").toString)

  private def fp(p: Double): Long = math.round(math.log(p) * 1e6)
  private def lpOf(ps: Double*): Double =
    BigDecimal(ps.map(fp).sum / ps.length.toDouble / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def randomCorpus(seed: Int, n: Long) = {
    val rnd = new scala.util.Random(seed)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp", "rr")
    (1L to n).map(i =>
      (i, (0 until (4 + rnd.nextInt(6)))
        .map(_ => pool(rnd.nextInt(7))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("a prune that cannot bite is a no-op: thresholds 2 on a corpus " +
      "where every raw AND continuation count is >= 2 serves identically " +
      "to the unpruned build at all six smoothings") {
    // Raw counts double by duplicating docs, but CONTINUATION counts
    // (distinct-left-context tallies in m2/m3/m4) don't — so the no-op
    // corpus must cover contexts too: all 32 five-token strings over a
    // two-word vocabulary, each twice. Every k-gram then follows BOTH
    // words (continuation counts = 2) and every raw count is >= 2, so
    // threshold 2 cannot drop a single row from any of the seven
    // prunable tables.
    val sents = for {
      a <- Seq("u", "v"); b <- Seq("u", "v"); c <- Seq("u", "v")
      d <- Seq("u", "v"); e <- Seq("u", "v")
    } yield s"$a $b $c $d $e"
    val corpus = sents.zipWithIndex.flatMap { case (t, i) =>
      Seq((i.toLong, t), (1000L + i, t))
    }.toDF("doc_id", "text")
    val probe = Seq((5001L, "u v u v u v u"), (5002L, "v v u u v"),
      (5003L, "u u u u u u"), (5004L, "v u v")).toDF("doc_id", "text")
    val plain = tmpStore(); val pruned = tmpStore()
    LmIndex.build(5, plain, "lm5", corpus, "doc_id", "text")
    LmIndex.build(5, pruned, "lm5", corpus, "doc_id", "text",
      pruneMin = Seq(2L, 2L, 2L, 2L))
    val fb = Some((0.5, 1.0, 1.5))
    def scores(st: graft.io.TableStore): Seq[Set[(Long, Long, Double)]] = Seq(
      LmIndex.score(2, st, "lm5", probe, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet,
      LmIndex.score(3, st, "lm5", probe, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet,
      LmIndex.score(5, st, "lm5", probe, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet,
      LmIndex.score(2, st, "lm5", probe, "doc_id", "text", LmIndex.Mkn(fb))
        .as[(Long, Long, Double)].collect().toSet,
      LmIndex.score(3, st, "lm5", probe, "doc_id", "text", LmIndex.Mkn(fb))
        .as[(Long, Long, Double)].collect().toSet,
      LmIndex.score(5, st, "lm5", probe, "doc_id", "text", LmIndex.Mkn(fb))
        .as[(Long, Long, Double)].collect().toSet)
    assert(scores(pruned) === scores(plain),
      "a non-biting prune changed a serve result")
    // The pruned build's context tables carry pm columns — all zero
    // here — and the stats row records the thresholds; the unpruned
    // build's schema is untouched (the build3 table-identity contract).
    assert(!plain.load("lm5_ctx").columns.contains("pmb"))
    assert(pruned.load("lm5_ctx").columns.contains("pmb"))
    assert(pruned.load("lm5_ctx").filter(col("pmb") =!= 0L).isEmpty)
    assert(plain.load("lm5_stats").columns.toSet
      .intersect(Set("prune2", "prune3", "prune4", "prune5")).isEmpty)
    assert(pruned.load("lm5_stats").select("prune2", "prune5").head() ===
      org.apache.spark.sql.Row(2L, 2L))
  }

  test("bigram-level pruning matches the hand-computed folded-lambda " +
      "fixture (order-2 serve of a pruned build5 model)") {
    // Corpus: "a b a b a c" + "b c b c".
    //   uni: a=3 b=4 c=3, total 10
    //   big FULL: (a,b)=2 (b,a)=2 (a,c)=1 (b,c)=2 (c,b)=1 — btypes 5
    //   cont (FULL): a=1 b=2 c=2
    //   t2=2 prunes (a,c) and (c,b):
    //   ctx a: cc=3 (FULL), n1f=1 survivor, pm=1
    //   ctx b: cc=4, n1f=2, pm=0
    //   ctx c: every follower pruned -> row DROPPED (full backoff)
    val train = Seq((1L, "a b a b a c"), (2L, "b c b c"))
      .toDF("doc_id", "text")
    val store = tmpStore()
    LmIndex.build(5, store, "lm5", train, "doc_id", "text",
      pruneMin = Seq(2L, 1L, 1L, 1L))
    val d = 0.75
    // (10, "a b"): surviving pair under a pruned context —
    //   P = (2-D)/3 + (D*1 + pm 1)/3 * Pcont(b)=2/5
    val pAB = (2 - d) / 3 + (d * 1 + 1.0) / 3 * (2.0 / 5)
    // (11, "c b"): context c dropped -> full backoff to Pcont(b)
    val pCB = 2.0 / 5
    // (12, "a c"): PRUNED pair under a seen context — count coalesces
    //   to 0, only the λ-weighted backoff mass remains
    val pAC = (d * 1 + 1.0) / 3 * (2.0 / 5)
    val probes = Seq((10L, "a b"), (11L, "c b"), (12L, "a c"))
      .toDF("doc_id", "text")
    val got = LmIndex.score(2, store, "lm5", probes, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array(
      (10L, 2L, lpOf(3.0 / 10, pAB)),
      (11L, 2L, lpOf(3.0 / 10, pCB)),
      (12L, 2L, lpOf(3.0 / 10, pAC))))
    // The stored ctx table carries exactly the hand-derived rows.
    assert(store.load("lm5_ctx")
      .select("prev", "cc", "n1f", "nf1", "nf2", "nf3p", "pmb")
      .collect().map(_.toString).toSet ===
      Set("[a,3,1,0,1,0,1]", "[b,4,2,0,2,0,0]"))
    assert(store.load("lm5_big").count() === 3L)
  }

  test("pruned levels stay proper distributions: P(.|ctx) sums to 1 " +
      "through pruned 5-gram branches and the dropped-context backoff " +
      "(the KN-sums-to-1 convention)") {
    // 5-gram context (a,b,c,d): (a,b,c,d,a) survives at count 2,
    // (a,b,c,d,b) is pruned — the probe sums P(w|a b c d) over the
    // whole vocabulary, which must still be exactly 1 (the pruned mass
    // reappears in λ).
    val train = Seq(
      (1L, "a b c d a"), (2L, "a b c d a"), (3L, "a b c d b"),
      (4L, "d c b a d"), (5L, "b a d c b a")).toDF("doc_id", "text")
    val store = tmpStore()
    LmIndex.build(5, store, "lm5", train, "doc_id", "text",
      pruneMin = Seq(2L, 2L, 2L, 2L))
    val vocab = Seq("a", "b", "c", "d")
    val prefix = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val probes = vocab.zipWithIndex
      .map { case (w, i) => (200L + i, s"a b c d $w") }
      .toDF("doc_id", "text")
    val pre = LmIndex.score(5, store, "lm5", prefix, "doc_id", "text")
      .as[(Long, Long, Double)].head()._3 * 4e6
    val total = LmIndex.score(5, store, "lm5", probes, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => math.exp((r._3 * 5e6 - pre) / 1e6)).sum
    assert(math.abs(total - 1.0) < 1e-4,
      s"P(.|a b c d) sums to $total, not 1 — pruned mass leaked")
    // Same law under the seven-level modified-KN serve.
    val fb = Some((0.5, 1.0, 1.5))
    val preM = LmIndex.score(5, store, "lm5", prefix, "doc_id", "text", LmIndex.Mkn(fb))
      .as[(Long, Long, Double)].head()._3 * 4e6
    val totalM = LmIndex.score(5, store, "lm5", probes, "doc_id", "text", LmIndex.Mkn(fb))
      .as[(Long, Long, Double)].collect()
      .map(r => math.exp((r._3 * 5e6 - preM) / 1e6)).sum
    assert(math.abs(totalM - 1.0) < 1e-4,
      s"mkn5 P(.|a b c d) sums to $totalM, not 1")
  }

  test("pruning shrinks the stored gram tables; probed serve == full " +
      "serve on a pruned model in BOTH pruner regimes") {
    val train = randomCorpus(59, 80L)
    val batch = randomCorpus(60, 7L)
      .select((col("doc_id") + 200L).as("doc_id"), col("text"))
    val plain = tmpStore(); val pruned = tmpStore()
    LmIndex.build(5, plain, "lm5", train, "doc_id", "text")
    LmIndex.build(5, pruned, "lm5", train, "doc_id", "text",
      pruneMin = Seq(1L, 2L, 2L, 2L))
    for (t <- Seq("tri", "four", "five", "m3", "m4"))
      assert(pruned.load(s"lm5_$t").count() < plain.load(s"lm5_$t").count(),
        s"pruning did not shrink lm5_$t")
    val fb = Some((0.5, 1.0, 1.5))
    val want = LmIndex.score(5, pruned, "lm5", batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val wantM = LmIndex.score(5, pruned, "lm5", batch, "doc_id", "text", LmIndex.Mkn(fb))
      .as[(Long, Long, Double)].collect().toSet
    assert(LmIndex.scoreBatch(5, pruned, "lm5", batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet === want,
      "probed serve diverged on the pruned model (IN regime)")
    assert(LmIndex.scoreBatch(5, pruned, "lm5", batch, "doc_id", "text",
        LmIndex.Mkn(fb))
      .as[(Long, Long, Double)].collect().toSet === wantM,
      "probed mkn serve diverged on the pruned model (IN regime)")
    spark.conf.set("graft.lm.probeMaxWords", "3")
    try {
      assert(LmIndex.scoreBatch(5, pruned, "lm5", batch, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet === want,
        "probed serve diverged on the pruned model (semi-join regime)")
      assert(LmIndex.scoreBatch(5, pruned, "lm5", batch, "doc_id", "text",
        LmIndex.Mkn(fb))
        .as[(Long, Long, Double)].collect().toSet === wantM,
        "probed mkn serve diverged on the pruned model (semi-join regime)")
    } finally spark.conf.unset("graft.lm.probeMaxWords")
  }

  test("a pruned model is frozen: append5 and deleteDocs5 reject it " +
      "before touching any table") {
    val train = randomCorpus(63, 40L)
    val store = tmpStore()
    LmIndex.build(5, store, "lm5", train, "doc_id", "text",
      pruneMin = Seq(1L, 2L, 2L, 2L))
    val before = store.load("lm5_tri").count()
    val delta = Seq((900L, "kk ll mm nn oo")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      LmIndex.append(5, store, "lm5", delta, "doc_id", "text")
    }
    assert(e1.getMessage.contains("COUNT-PRUNED"))
    val e2 = intercept[IllegalArgumentException] {
      LmIndex.deleteDocs(5, store, "lm5", delta, "doc_id", "text")
    }
    assert(e2.getMessage.contains("COUNT-PRUNED"))
    assert(store.load("lm5_tri").count() === before,
      "a rejected merge mutated the pruned model")
  }
}

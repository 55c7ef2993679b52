package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Specs for the Kneser-Ney LM scorer, the CCNet perplexity bucketing it
  * feeds, the generalized two-phase rank primitive under both, and the
  * WordPiece-objective tokenizer trainer (round-14 session-3 block).
  */
class LmSmoothingSpec extends SparkSpec {
  import spark.implicits._

  // ---- knBigramLogProb ---------------------------------------------------

  test("knBigramLogProb matches the hand-computed Kneser-Ney fixture") {
    // Corpus: "a b a b" + "a c".
    //   unigrams: a=3 b=2 c=1, total 6
    //   bigrams:  (a,b)=2 (b,a)=1 (a,c)=1  -> 3 types
    //   contexts: a: cc=3 n1f=2;  b: cc=1 n1f=1
    //   continuations: a=1 b=1 c=1 (each follows exactly one context)
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val d = 0.75
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    // doc 1: a(first)=3/6; b|a=(2-d)/3 + d*2/3*(1/3); a|b=(1-d)/1 + d*1/1*(1/3);
    //        b|a again
    val pba = (2 - d) / 3 + d * 2 / 3 * (1.0 / 3)
    val pab = (1 - d) / 1 + d * 1 / 1 * (1.0 / 3)
    val exp1 = BigDecimal((fp(0.5) + fp(pba) + fp(pab) + fp(pba)) / 4.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 2: a(first)=3/6; c|a=(1-d)/3 + d*2/3*(1/3)
    val pca = (1 - d) / 3 + d * 2 / 3 * (1.0 / 3)
    val exp2 = BigDecimal((fp(0.5) + fp(pca)) / 2.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.knBigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((1L, 4L, exp1), (2L, 2L, exp2)))
  }

  test("knBigramLogProb backs off to continuation, not frequency " +
      "(the Francisco property)") {
    // "x sf" repeated: sf is FREQUENT but only ever follows x (one
    // continuation context). "a b", "c b", "d b": b is equally frequent
    // but follows three distinct contexts. Under the frequency backoff
    // both look alike; under Kneser-Ney a novel-context occurrence of sf
    // must score LOWER than one of b. Pin via the continuation shares:
    // both words hold c2=1 after the probe context "z", so the score
    // difference is exactly the continuation count (1 vs 3).
    val df = Seq(
      (1L, "x sf x sf x sf"), (2L, "a b c b d b"),
      (3L, "z sf"), (4L, "z b")).toDF("doc_id", "text")
    val got = TextAnalysis.knBigramLogProb(df, "doc_id", "text")
      .filter(col("doc_id") >= 3L)
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    // Same first token z; second token: c(z,sf)=1=c(z,b), cc(z)=2,
    // n1f(z)=2, so the bigram terms tie and only N1+(.,sf)=1 vs
    // N1+(.,b)=3 separates the scores.
    assert(got(0)._3 < got(1)._3,
      s"KN scored single-context sf (${got(0)._3}) >= " +
        s"diverse-context b (${got(1)._3})")
  }

  test("knTrigramLogProb matches the hand-computed recursive-KN fixture") {
    // "a b c a b c" + "b c d": trigram counts (a,b,c)=2 (b,c,a)=1
    // (c,a,b)=1 (b,c,d)=1; continuation-bigram m2 all 1; bigram types 4.
    // Worked per-token probabilities (D = 0.75, derivation in the
    // session notes; middle level uses CONTINUATION counts):
    val df = Seq((1L, "a b c a b c"), (2L, "b c d")).toDF("doc_id", "text")
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    def mean6(ps: Seq[Double]): Double =
      BigDecimal(ps.map(fp).sum.toDouble / ps.length / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = mean6(Seq(2.0 / 9, 0.71875, 0.7890625, 0.359375,
      0.578125, 0.7890625))
    val exp2 = mean6(Seq(3.0 / 9, 0.8125, 0.359375))
    val got = TextAnalysis.knTrigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((1L, 6L, exp1), (2L, 3L, exp2)))
  }

  test("mknBigramLogProb matches the hand-computed modified-KN fixture") {
    // "a b a b a b" + "c d": bigrams (a,b)=3 (b,a)=2 (c,d)=1, so the
    // count-of-count buckets are n1=n2=n3=1, n4=0:
    //   Y = 1/3, D1 = 1-2/3 = 1/3, D2 = 2-1 = 1, D3+ = 3-0 = 3
    // contexts: a(cc=3, N3+=1) b(cc=2, N2=1) c(cc=1, N1=1);
    // continuations: a=b=d=1 of 3 types; unigrams a=b=3 c=d=1 of 8.
    val df = Seq((1L, "a b a b a b"), (2L, "c d")).toDF("doc_id", "text")
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    def mean6(ps: Seq[Double]): Double =
      BigDecimal(ps.map(fp).sum.toDouble / ps.length / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // b|a: (3-3)/3 + (3*1/3)*(1/3) = 1/3
    // a|b: (2-1)/2 + (1*1/2)*(1/3) = 1/2 + 1/6 = 2/3
    // d|c: (1-1/3)/1 + ((1/3)*1/1)*(1/3) = 2/3 + 1/9
    val pba = 1.0 / 3
    val pab = (2.0 - 1.0) / 2 + 1.0 * 1 / 2 * (1.0 / 3)
    val pdc = (1.0 - 1.0 / 3) / 1 + (1.0 / 3) * 1 / 1 * (1.0 / 3)
    val exp1 = mean6(Seq(3.0 / 8, pba, pab, pba, pab, pba))
    val exp2 = mean6(Seq(1.0 / 8, pdc))
    val got = TextAnalysis.mknBigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((1L, 6L, exp1), (2L, 2L, exp2)))
  }

  // Two corpora KenLM cannot calibrate. Degenerate: only count-1
  // bigrams, so n2 = 0. Out of range: one two-token document per bigram
  // occurrence, with bigram counts 1, 2 and five at 3 — n1 = 1, n2 = 1,
  // n3 = 5, n4 = 0, so Y = 1/3 and D2 = 2 - 3·(1/3)·5/1 = -3, outside
  // [0, 2] (a negative D2 makes λ negative and probabilities leave
  // [0, 1]). Each document is "x y" whose bigram occurs c times.
  private val uncalibrated: Seq[(String, Seq[(String, Int)])] = Seq(
    "degenerate" -> Seq("a b" -> 1, "c d" -> 1),
    "out of range" -> (Seq("a b" -> 1, "c d" -> 2) ++
      Seq("e f", "g h", "i j", "k l", "m n").map(_ -> 3)))
  private def docsOf(bigrams: Seq[(String, Int)]) =
    bigrams.flatMap { case (t, c) => Seq.fill(c)(t) }.zipWithIndex
      .map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")

  test("mknBigramLogProb fails loudly on a discount-degenerate corpus") {
    // KenLM cannot calibrate either corpus without --discount_fallback.
    for ((name, bigrams) <- uncalibrated) {
      val e = intercept[Exception] {
        TextAnalysis.mknBigramLogProb(docsOf(bigrams), "doc_id", "text").collect()
      }
      assert(e.getMessage.contains("Kneser-Ney discounts") &&
        e.getMessage.contains("discount_fallback"), s"$name: ${e.getMessage}")
    }
  }

  test("mknBigramLogProb degenerate corpus + fallback == KenLM --discount_fallback") {
    // With the fallback triple a bigram of count c has D = (0.5, 1.0,
    // 1.5)(c); its context x has that one follower, so lambda(x) = D/c,
    // and every continuation is 1 of the corpus's bigram types. The first
    // token scores MLE c/tokens (each word occurs once per document).
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    for ((name, bigrams) <- uncalibrated) {
      val tokens = 2.0 * bigrams.map(_._2).sum
      val types = bigrams.size.toDouble
      val exp = bigrams.flatMap { case (_, c) =>
        val d = Seq(0.5, 1.0, 1.5)(c - 1)
        val p = (c - d) / c + d / c * (1.0 / types)
        Seq.fill(c)(BigDecimal((fp(c / tokens) + fp(p)) / 2.0 / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.zipWithIndex.map { case (lp, i) => (i + 1L, 2L, lp) }
      val got = TextAnalysis.mknBigramLogProb(
        docsOf(bigrams), "doc_id", "text", fallbackDiscounts = Some((0.5, 1.0, 1.5)))
        .orderBy("doc_id").as[(Long, Long, Double)].collect()
      assert(got.toSeq === exp, name)
    }
  }

  // ---- LmIndex: frozen-model scoring with OOV -----------------------------

  test("crossScore matches the hand-computed OOV fixture") {
    // Train: "a b a b" + "a c" (model as in the in-corpus fixture).
    // Score: "a z b c z" exercises every OOV branch:
    //   a  first+seen        -> 3/6
    //   z|a ctx seen, pair unseen, cont unseen -> .75*(2/3)*(0.5/3)
    //   b|z ctx unseen       -> Pcont(b) = 1/3
    //   c|b ctx seen, pair unseen, cont seen   -> .75*(1/1)*(1/3)
    //   z|c ctx unseen, cont unseen            -> 0.5/3
    // Plus "zz": first token unseen -> 0.5/6.
    val train = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val docs = Seq((10L, "a z b c z"), (11L, "zz")).toDF("doc_id", "text")
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    def mean6(ps: Seq[Double]): Double =
      BigDecimal(ps.map(fp).sum.toDouble / ps.length / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp10 = mean6(Seq(3.0 / 6,
      0.75 * 2 / 3 * (0.5 / 3), 1.0 / 3, 0.75 * 1 / 1 * (1.0 / 3), 0.5 / 3))
    val exp11 = mean6(Seq(0.5 / 6))
    val got = LmIndex.crossScore(2, train, docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((10L, 5L, exp10), (11L, 1L, exp11)))
  }

  test("Kneser-Ney conditionals sum to 1 over the vocabulary, OOV branches included") {
    // The discount identity: sum_w [(c(prev,w)-D)/cc] + lambda(prev) *
    // sum_w Pcont(w) = (cc - D*n1f)/cc + (D*n1f/cc) * 1 = 1 — PROVIDED
    // every vocabulary word has a continuation count (true here: each
    // word occurs non-initially somewhere). The probe enumerates ALL
    // (prev, w) pairs as 2-token docs — unseen pairs route through the
    // frozen scorer's OOV absolute-discount branch, so the identity
    // also certifies that branch's mass accounting. Probabilities are
    // recovered from the public scorer output (1-token docs give the
    // first-token fp; 2-token docs give the mean), so the check rides
    // the exact fixed-point contract with ~1e-6-per-term tolerance.
    val train = Seq((1L, "a b c d"), (2L, "b a d c"), (3L, "c d a b"))
      .toDF("doc_id", "text")
    val vocab = Seq("a", "b", "c", "d")
    // The bigram table must be INCOMPLETE or no OOV branch fires.
    val nBigrams = LmIndex.modelFrames(2, train, "doc_id", "text")("big").count()
    assert(nBigrams < 16, s"fixture too dense: $nBigrams of 16 pairs seen")
    val singles = vocab.zipWithIndex.map { case (w, i) => (100L + i, w) }
    val pairs = for {
      (p, i) <- vocab.zipWithIndex
      (w, j) <- vocab.zipWithIndex
    } yield (1000L + i * 10 + j, s"$p $w")
    val scored = LmIndex.crossScore(2, 
      train, (singles ++ pairs).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val fp1 = vocab.zipWithIndex.map { case (w, i) =>
      w -> scored(100L + i)._2 * 1e6
    }.toMap
    vocab.zipWithIndex.foreach { case (p, i) =>
      val total = vocab.zipWithIndex.map { case (w, j) =>
        val (n, lp) = scored(1000L + i * 10 + j)
        assert(n === 2L)
        math.exp((lp * 2e6 - fp1(p)) / 1e6)
      }.sum
      assert(math.abs(total - 1.0) < 1e-4,
        s"P(.|$p) sums to $total, not 1 — the discount mass leaked")
    }
  }

  // ---- per-order properties: one body each, registered per order ----------
  //
  // Each property below is ONE spec body over (order, smoothing); every
  // registration keeps the test name it had when each order carried its
  // own copy of the property.

  private val fb = Some((0.5, 1.0, 1.5))

  private def tmpStore(tag: String) = new graft.io.ParquetTableStore(spark,
    java.nio.file.Files.createTempDirectory(s"graft_lm_${tag}_").toString)

  private def scores(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSet

  /** The scan of an order's top raw gram table in a serve plan. */
  private val topTable = Map(2 -> "lm_big", 3 -> "lm_tri", 5 -> "lm_five")

  private def hasWordIn(f: org.apache.spark.sql.execution.FileSourceScanExec)
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    f.dataFilters.exists(_.exists {
      case i: In => i.value.toString.contains("prev") ||
        i.value.toString.contains("w")
      case i: InSet => i.child.toString.contains("prev") ||
        i.child.toString.contains("w")
      case _ => false
    })
  }

  private def persistedEqualsCross(order: Int): Unit = {
    val rnd = new scala.util.Random(11)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp", "rr", "zz")
    def txt(): String =
      (0 until (3 + rnd.nextInt(8))).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val all = (1L to 100L).map(i => (i, txt())).toDF("doc_id", "text")
    val train = all.filter(col("doc_id") % 5 =!= 0)
    val hold = all.filter(col("doc_id") % 5 === 0)
    val store = tmpStore("persist")
    LmIndex.build(order, store, "lm", train, "doc_id", "text")
    assert(scores(LmIndex.score(order, store, "lm", hold, "doc_id", "text")) ===
      scores(LmIndex.crossScore(order, train, hold, "doc_id", "text")),
      s"persisted order-$order serve diverged from the inline cross-score")
  }

  Seq(
    2 -> "persisted LmIndex.score == inline crossScore (store round trip)",
    3 -> ("order-3 persisted serve == inline cross-score on a held-out split " +
      "(OOV branches live)"))
    .foreach { case (order, name) => test(name)(persistedEqualsCross(order)) }

  private def appendDeleteEqualsRebuild(order: Int): Unit = {
    val rnd = new scala.util.Random(53)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp")
    def txt(): String =
      (0 until (3 + rnd.nextInt(6))).map(_ => pool(rnd.nextInt(6))).mkString(" ")
    val a = (1L to 40L).map(i => (i, txt())).toDF("doc_id", "text")
    val b = (41L to 70L).map(i => (i, txt())).toDF("doc_id", "text")
    val probe = (900L to 905L).map(i => (i, txt())).toDF("doc_id", "text")
    def tablesOf(st: graft.io.ParquetTableStore): Map[String, Set[String]] =
      LmIndex.tableNames(order).map(t => t -> st.load(s"lm_$t").collect()
        .map(_.toString).toSet).toMap
    // append: build(a) + append(b) must equal build(a ∪ b), table for
    // table and score for score.
    val incr = tmpStore("maint")
    LmIndex.build(order, incr, "lm", a, "doc_id", "text")
    LmIndex.append(order, incr, "lm", b, "doc_id", "text")
    val full = tmpStore("maint")
    LmIndex.build(order, full, "lm", a.unionByName(b), "doc_id", "text")
    assert(tablesOf(incr) === tablesOf(full),
      s"order-$order append diverged from the full rebuild")
    assert(scores(LmIndex.score(order, incr, "lm", probe, "doc_id", "text")) ===
      scores(LmIndex.score(order, full, "lm", probe, "doc_id", "text")))
    // delete: build(a ∪ b) − b must equal build(a).
    LmIndex.deleteDocs(order, incr, "lm", b, "doc_id", "text")
    val onlyA = tmpStore("maint")
    LmIndex.build(order, onlyA, "lm", a, "doc_id", "text")
    assert(tablesOf(incr) === tablesOf(onlyA),
      s"order-$order delete diverged from rebuilding without the deleted docs")
    // Deleting text the model never saw fails loudly BEFORE any swap.
    val before = onlyA.load("lm_stats").collect().toSeq
    val alien = Seq((999L, "zz zz yy xx ww vv")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      LmIndex.deleteDocs(order, onlyA, "lm", alien, "doc_id", "text")
    }
    assert(e.getMessage.contains("negative"), e.getMessage)
    assert(onlyA.load("lm_stats").collect().toSeq === before,
      s"a rejected order-$order delete must not have touched the store")
  }

  Seq(
    2 -> "LmIndex.append == rebuild on the union; deleteDocs == rebuild without",
    3 -> ("order-3 maintenance: append3 == rebuild on the union; deleteDocs3 " +
      "== rebuild without — table-for-table and score-for-score"),
    5 -> ("order-5 maintenance: append5 == rebuild on the union; deleteDocs5 " +
      "== rebuild without — all seventeen tables; alien deletes refuse " +
      "before any swap"))
    .foreach { case (order, name) => test(name)(appendDeleteEqualsRebuild(order)) }

  private def versionedIsolation(order: Int): Unit = {
    val a = Seq((1L, "aa bb cc dd ee aa bb"), (2L, "aa cc dd ee ff"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "xx yy zz ww vv xx yy"), (2L, "yy zz ww vv uu"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, "aa bb cc dd xx yy zz ww")).toDF("doc_id", "text")
    val store = tmpStore("ver")
    LmIndex.rebuildVersioned(order, store, "lm", a, "doc_id", "text")
    // Pin a model, then publish a NEW generation underneath it.
    val pinned = LmIndex.loadModelVersioned(order, store, "lm")
    LmIndex.rebuildVersioned(order, store, "lm", b, "doc_id", "text")
    val gotPinned = scores(
      LmIndex.scoreFrames(pinned, probe, "doc_id", "text", LmIndex.Kn()))
    assert(gotPinned === scores(LmIndex.crossScore(order, a, probe, "doc_id", "text")),
      s"pinned order-$order model drifted off its generation after a rebuild")
    // A fresh resolution serves the NEW generation — per call, and
    // through an explicitly resolved prefix.
    val gotFresh = scores(
      LmIndex.scoreVersioned(order, store, "lm", probe, "doc_id", "text"))
    assert(gotFresh === scores(LmIndex.crossScore(order, b, probe, "doc_id", "text")))
    val freshPrefix = graft.io.VersionedIndex.currentPrefix(store, "lm")
    assert(scores(LmIndex.score(order, store, freshPrefix, probe,
      "doc_id", "text")) === gotFresh)
    assert(gotPinned !== gotFresh,
      "fixture too weak: the two generations score identically")
  }

  Seq(
    2 -> "versioned LM rebuild under a pinned serve: generations never mix",
    3 -> ("versioned order-3 rebuild under a pinned serve: generations never " +
      "mix across nine tables"),
    5 -> ("versioned order-5 rebuild under a pinned serve: generations never " +
      "mix across seventeen tables"))
    .foreach { case (order, name) => test(name)(versionedIsolation(order)) }

  /** scoreBatch == score under each smoothing in BOTH pruner regimes:
    * the IN regime pushes the batch's words into the top gram table's
    * scan; past a forced tiny ceiling the prune is a LeftSemi join and no
    * literal IN remains. */
  private def probedEqualsFull(
      order: Int, smoothings: Seq[LmIndex.Smoothing]): Unit = {
    val rnd = new scala.util.Random(37)
    // Quadratic-skew draws over 25 word types: a Zipf-ish count spectrum
    // so the order-3 levels CALIBRATE — the probed modified-KN serve must
    // reproduce the estimated branch, not just the fallback.
    def txt(): String =
      (0 until (4 + rnd.nextInt(7)))
        .map(_ => "w" + (25 * rnd.nextDouble() * rnd.nextDouble()).toInt)
        .mkString(" ")
    val train = (1L to 120L).map(i => (i, txt())).toDF("doc_id", "text")
    val batch = (200L to 206L).map(i => (i, txt())).toDF("doc_id", "text")
    val store = tmpStore("probe")
    // Modified KN reads the bucket tallies an order >= 3 build writes.
    val buildOrder =
      if (smoothings.exists(_.isInstanceOf[LmIndex.Mkn])) order max 3 else order
    LmIndex.build(buildOrder, store, "lm", train, "doc_id", "text")
    val top = topTable(order)
    for (sm <- smoothings) {
      val want = scores(LmIndex.score(order, store, "lm", batch, "doc_id", "text", sm))
      val probed = LmIndex.scoreBatch(order, store, "lm", batch, "doc_id", "text", sm)
      assert(scores(probed) === want,
        s"probed order-$order $sm serve diverged from the full-scan score")
      val scans = graft.PlanTestUtils.scansOf(probed.queryExecution.executedPlan, top)
      assert(scans.nonEmpty, s"no $top scan in the probed order-$order $sm plan")
      scans.foreach(f => assert(hasWordIn(f),
        s"$top scan lost the word IN pushdown: ${f.dataFilters}"))
      spark.conf.set("graft.lm.probeMaxWords", "3")
      try {
        val semi = LmIndex.scoreBatch(order, store, "lm", batch, "doc_id", "text", sm)
        assert(scores(semi) === want,
          s"semi-join probed order-$order $sm serve diverged")
        val plan = semi.queryExecution.executedPlan
        assert(plan.toString.contains("LeftSemi"),
          s"no LeftSemi join in the oversized-batch order-$order $sm plan")
        graft.PlanTestUtils.scansOf(plan, top).foreach(f => assert(!hasWordIn(f),
          s"oversized batch still pushed a literal IN: ${f.dataFilters}"))
      } finally spark.conf.unset("graft.lm.probeMaxWords")
    }
  }

  Seq(
    (2, Seq(LmIndex.Kn()),
      "scoreBatch == score, and its model-table scans carry the word IN pushdown"),
    (3, Seq(LmIndex.Kn()),
      "scoreBatch3 == score3 with the trigram-table word pushdown; " +
        "semi-join regime row-identical too"),
    (2, Seq(LmIndex.Mkn(fb)),
      "scoreBatchMkn == scoreMkn in both pruner regimes, with the IN " +
        "pushdown / LeftSemi plan gates"),
    (3, Seq(LmIndex.Mkn(fb)),
      "scoreBatchMkn3 == scoreMkn3 in both pruner regimes, with the " +
        "trigram-table IN pushdown"),
    (5, Seq(LmIndex.Kn(), LmIndex.Mkn(fb)),
      "scoreBatch5 == score5 and scoreBatchMkn5 == scoreMkn5 in both " +
        "pruner regimes, with the 5-gram-table IN pushdown"))
    .foreach { case (order, sms, name) => test(name)(probedEqualsFull(order, sms)) }

  // ---- order-3 / modified-KN persisted model ------------------------------

  test("crossScore3 == knTrigramLogProb in-corpus (no OOV branch fires " +
      "at any of the three levels)") {
    val df = Seq((1L, "a b a b c a"), (2L, "b c a b"), (3L, "c a"),
      (4L, "a"), (5L, "a b c a b")).toDF("doc_id", "text")
    val want = TextAnalysis.knTrigramLogProb(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val got = LmIndex.crossScore(3, df, df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("order-3 OOV recipe matches the hand-computed fixture at every " +
      "backoff depth") {
    // Train: "a b c" + "a b d".
    //   uni: a=2 b=2 c=1 d=1 (total 6); big: (a,b)=2 (b,c)=1 (b,d)=1
    //   (btypes 3); ctx: a cc=2 n1f=1, b cc=2 n1f=2; cont: b=1 c=1 d=1
    //   tri: (a,b,c)=1 (a,b,d)=1; ctx3: (a,b) cc3=2 n1f3=2
    //   m2: (b,c)=1 (b,d)=1; mctx: b mcc=2 n1f2c=2
    val train = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val docs = Seq((9L, "z a b c"), (10L, "a b e")).toDF("doc_id", "text")
    val d = 0.75
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 9 "z a b c": z OOV-unigram 0.5/6; a after unseen ctx z ->
    // OOV continuation 0.5/3 (a never continues); b with unseen (z,a)
    // and unseen middle ctx a -> P_cont(b)=1/3; c with seen (a,b):
    // mid(c|b) = (1-d)/2 + d*2/2*(1/3); tri = (1-d)/2 + d*2/2*mid.
    val midC = (1 - d) / 2 + d * 2 / 2 * (1.0 / 3)
    val triC = (1 - d) / 2 + d * 2 / 2 * midC
    val exp9 = r6((fp(0.5 / 6) + fp(0.5 / 3) + fp(1.0 / 3) + fp(triC))
      / 4.0 / 1e6)
    // doc 10 "a b e": a unigram 2/6; b after seen ctx a: (2-d)/2 +
    // d*1/2*(1/3); e: seen (a,b) but unseen triple AND unseen middle
    // pair, OOV continuation: mid = 0 + d*2/2*(0.5/3); tri = 0 +
    // d*2/2*mid.
    val pba = (2 - d) / 2 + d * 1.0 / 2 * (1.0 / 3)
    val midE = d * 2 / 2 * (0.5 / 3)
    val triE = d * 2 / 2 * midE
    val exp10 = r6((fp(2.0 / 6) + fp(pba) + fp(triE)) / 3.0 / 1e6)
    val got = LmIndex.crossScore(3, train, docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((9L, 4L, exp9), (10L, 3L, exp10)))
  }

  test("scoreMkn in-corpus == mknBigramLogProb: calibrated discounts from " +
      "the stored tallies; degenerate corpus takes the fallback") {
    // Count-of-counts corpus: bigram counts 4/3/2/1 -> n1..n4 all 1,
    // the calibrated branch.
    val docs = (Seq.fill(4)("p q") ++ Seq.fill(3)("r s") ++
      Seq.fill(2)("t u") ++ Seq("v w")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_mkn_").toString)
    LmIndex.build(3, store, "mkn", docs, "doc_id", "text")
    val got = LmIndex.score(2, store, "mkn", docs, "doc_id", "text", LmIndex.Mkn())
      .as[(Long, Long, Double)].collect().toSet
    val want = TextAnalysis.mknBigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "persisted modified-KN diverged in-corpus")
    // OOV hand-check: "x p" = OOV unigram 0.5/20, then unseen context x
    // -> P_cont(p) OOV = 0.5/4 (p never continues).
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    val exp = BigDecimal((fp(0.5 / 20) + fp(0.5 / 4)) / 2.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val oov = LmIndex.score(2, store, "mkn",
      Seq((99L, "x p")).toDF("doc_id", "text"), "doc_id", "text", LmIndex.Mkn())
      .as[(Long, Long, Double)].collect()
    assert(oov === Array((99L, 2L, exp)))
    // Degenerate corpus (every bigram repeats, n1=0): persisted serve
    // takes the same --discount_fallback as the inline scorer.
    val degen = (0L to 5L).map(i => (i, "aa bb aa bb")).toDF("doc_id", "text")
    val st2 = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_mkn_d_").toString)
    LmIndex.build(3, st2, "mkn", degen, "doc_id", "text")
    val gotD = LmIndex.score(2, st2, "mkn", degen, "doc_id", "text",
      LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
      .as[(Long, Long, Double)].collect().toSet
    val wantD = TextAnalysis.mknBigramLogProb(degen, "doc_id", "text",
      fallbackDiscounts = Some((0.5, 1.0, 1.5)))
      .as[(Long, Long, Double)].collect().toSet
    assert(gotD === wantD)
    // Without the fallback the degenerate model refuses with the curated
    // calibration error, not DIVIDE_BY_ZERO.
    val e = intercept[Exception] {
      LmIndex.score(2, st2, "mkn", degen, "doc_id", "text", LmIndex.Mkn()).collect()
    }
    assert(e.getMessage.contains("discount"), e.getMessage)
  }

  test("mknTrigramLogProb: per-level calibrated discounts; persisted " +
      "scoreMkn3 is bit-identical in-corpus") {
    val rnd = new scala.util.Random(29)
    // Quadratic-skew draws over 25 word types: a Zipf-ish count spectrum
    // so every level's count-of-count buckets 1..3 are populated (a
    // uniform pool repeats every bigram ~18x and cannot calibrate).
    def txt(): String =
      (0 until (4 + rnd.nextInt(7)))
        .map(_ => "w" + (25 * rnd.nextDouble() * rnd.nextDouble()).toInt)
        .mkString(" ")
    val docs = (1L to 120L).map(i => (i, txt())).toDF("doc_id", "text")
    // The fixture must CALIBRATE at all three levels, or the spec would
    // silently test only the fallback path: assert n1/n2/n3 nonzero for
    // bigram counts, trigram counts, AND continuation-bigram counts.
    val m = LmIndex.modelFrames(3, docs, "doc_id", "text")
    def buckets(t: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      (1 to 3).map(k => t.filter(col(c) === k.toLong).count())
    assert(buckets(m("big"), "c2").forall(_ > 0L), "bigram level degenerate")
    assert(buckets(m("tri"), "c3").forall(_ > 0L), "trigram level degenerate")
    assert(buckets(m("m2"), "mcount").forall(_ > 0L), "middle level degenerate")
    val inline = TextAnalysis.mknTrigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_mkn3_").toString)
    LmIndex.build(3, store, "mkn3", docs, "doc_id", "text")
    val persisted = LmIndex.score(3, store, "mkn3", docs, "doc_id", "text",
      LmIndex.Mkn())
      .as[(Long, Long, Double)].collect().toSet
    assert(persisted === inline,
      "persisted modified-KN order-3 diverged from inline in-corpus")
    // It is genuinely order-3: must differ from the order-2 modified KN
    // on a corpus with real trigram structure.
    val mkn2 = TextAnalysis.mknBigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(persisted !== mkn2, "fixture too weak: order 3 == order 2")
    // OOV totality at the persisted serve, hand-checkable without
    // touching any discount: a fully-novel 2-token doc scores OOV
    // unigram then unseen-context continuation backoff.
    val total = m("uni").agg(sum(col("c1"))).as[Long].head().toDouble
    val btypes = m("big").count().toDouble
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    val exp = BigDecimal((fp(0.5 / total) + fp(0.5 / btypes)) / 2.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val oov = LmIndex.score(3, store, "mkn3",
      Seq((999L, "zz yy")).toDF("doc_id", "text"), "doc_id", "text",
      LmIndex.Mkn())
      .as[(Long, Long, Double)].collect()
    assert(oov === Array((999L, 2L, exp)))
  }

  test("mknTrigramLogProb reduces to mknBigramLogProb on a corpus with " +
      "no position-3 tokens; degenerate levels take the fallback") {
    // 2-token docs: the trigram and continuation-bigram levels are EMPTY
    // (degenerate — the fallback is required, as KenLM refuses an order
    // it cannot calibrate), and every scored token routes through the
    // unigram or bigram branch — which must equal the order-2 modified
    // KN with the same bigram-level calibration.
    val docs = (Seq.fill(4)("p q") ++ Seq.fill(3)("r s") ++
      Seq.fill(2)("t u") ++ Seq("v w")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fb = Some((0.5, 1.0, 1.5))
    val got = TextAnalysis.mknTrigramLogProb(docs, "doc_id", "text", fb)
      .as[(Long, Long, Double)].collect().toSet
    val want = TextAnalysis.mknBigramLogProb(docs, "doc_id", "text", fb)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want,
      "order-3 modified KN did not reduce to order-2 without trigrams")
    // Without the fallback, the uncalibratable levels refuse loudly.
    val e = intercept[Exception] {
      TextAnalysis.mknTrigramLogProb(docs, "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("discount"), e.getMessage)
  }

  test("scoreBatch past graft.lm.probeMaxWords: same rows via broadcast " +
      "semi-join, no literal IN and no driver word collect") {
    val rnd = new scala.util.Random(7)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp", "rr", "ss")
    def txt(): String =
      (0 until (3 + rnd.nextInt(7))).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val train = (1L to 80L).map(i => (i, txt())).toDF("doc_id", "text")
    val batch = (200L to 206L).map(i => (i, txt())).toDF("doc_id", "text")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm_semi_").toString)
    LmIndex.build(2, store, "lm", train, "doc_id", "text")
    val want = LmIndex.score(2, store, "lm", batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    // Force the oversized-batch regime: ceiling below the batch's
    // distinct words (the pool holds 8).
    spark.conf.set("graft.lm.probeMaxWords", "3")
    try {
      val probed = LmIndex.scoreBatch(2, store, "lm", batch, "doc_id", "text")
      assert(probed.as[(Long, Long, Double)].collect().toSet === want,
        "semi-join probed serve diverged from the full-scan score")
      // Plan gate: the big-table prune is a LeftSemi join, not an IN.
      import org.apache.spark.sql.catalyst.expressions.{In, InSet}
      val plan = probed.queryExecution.executedPlan
      val scans = graft.PlanTestUtils.scansOf(plan, "lm_big")
      assert(scans.nonEmpty, "no lm_big scan in the semi-join serve plan")
      scans.foreach { f =>
        val hasIn = f.dataFilters.exists(_.exists {
          case _: In => true
          case _: InSet => true
          case _ => false
        })
        assert(!hasIn,
          s"oversized batch still pushed a literal IN: ${f.dataFilters}")
      }
      assert(plan.toString.contains("LeftSemi"),
        "no LeftSemi join in the oversized-batch probed plan")
    } finally spark.conf.unset("graft.lm.probeMaxWords")
  }

  // ---- probed-serve literal budget ------------------------------------------

  test("probeMaxWords is a TOTAL literal-plan budget: the effective " +
      "ceiling divides by the pruned-table count, so one conf value " +
      "routes order 2 to IN and order 5 to the semi-join on the same batch") {
    val rnd = new scala.util.Random(61)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp", "rr", "ss")
    def txt(): String =
      (0 until (5 + rnd.nextInt(5))).map(_ => pool(rnd.nextInt(8))).mkString(" ")
    val train = (1L to 60L).map(i => (i, txt())).toDF("doc_id", "text")
    val batch = (200L to 206L).map(i => (i, txt())).toDF("doc_id", "text")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_budget_").toString)
    // ONE build5 store serves both orders (its bigram-level tables ARE
    // the order-2 model).
    LmIndex.build(5, store, "lm", train, "doc_id", "text")
    // Budget 56: order 2 prunes 4 tables -> ceiling 14 >= the pool's 8
    // words (IN regime); order 5 prunes 16 -> ceiling 3 < 8 (semi-join).
    spark.conf.set("graft.lm.probeMaxWords", "56")
    try {
      import org.apache.spark.sql.catalyst.expressions.{In, InSet}
      def hasIn(plan: org.apache.spark.sql.execution.SparkPlan,
          table: String): Boolean =
        graft.PlanTestUtils.scansOf(plan, table).exists(_.dataFilters.exists(
          _.exists { case _: In => true; case _: InSet => true; case _ => false }))
      val p2 = LmIndex.scoreBatch(2, store, "lm", batch, "doc_id", "text")
      assert(p2.as[(Long, Long, Double)].collect().toSet ===
        LmIndex.score(2, store, "lm", batch, "doc_id", "text")
          .as[(Long, Long, Double)].collect().toSet)
      assert(hasIn(p2.queryExecution.executedPlan, "lm_big"),
        "order 2 under the shared budget lost the IN pushdown")
      val p5 = LmIndex.scoreBatch(5, store, "lm", batch, "doc_id", "text")
      assert(p5.as[(Long, Long, Double)].collect().toSet ===
        LmIndex.score(5, store, "lm", batch, "doc_id", "text")
          .as[(Long, Long, Double)].collect().toSet)
      val plan5 = p5.queryExecution.executedPlan
      assert(!hasIn(plan5, "lm_five") && plan5.toString.contains("LeftSemi"),
        "order 5 under the shared budget failed to reroute to the semi-join")
    } finally spark.conf.unset("graft.lm.probeMaxWords")
  }

  test("graft.lm.probeMaxWords: malformed or non-positive values fail " +
      "with the curated message naming the conf key") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    for (bad <- Seq("banana", "-3", "0")) {
      spark.conf.set("graft.lm.probeMaxWords", bad)
      try {
        val e = intercept[IllegalArgumentException] {
          LmIndex.probeMaxWords(docs)
        }
        assert(e.getMessage.contains("graft.lm.probeMaxWords"),
          s"'$bad': ${e.getMessage}")
      } finally spark.conf.unset("graft.lm.probeMaxWords")
    }
    // Same parser guards the tokenizer envelope (the other knob the
    // round-15 review named).
    spark.conf.set("graft.tokenizer.maxTypes", "many")
    try {
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.wordpieceTrainMerges(docs, "text", numMerges = 1).collect()
      }
      assert(e.getMessage.contains("graft.tokenizer.maxTypes"), e.getMessage)
    } finally spark.conf.unset("graft.tokenizer.maxTypes")
  }

  // ---- positional-join scorer mode (round 16) ------------------------------

  test("graft.lm.positionalJoin: every LM scorer is row-identical to the " +
      "window form, and the plan carries no per-doc Window sort") {
    val rnd = new scala.util.Random(41)
    val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    def txt(): String =
      (0 until (1 + rnd.nextInt(9))).map(_ => pool(rnd.nextInt(7))).mkString(" ")
    // Lengths 1..9 cover every lag-null shape at depths 2, 3 and 5.
    val docs = (1L to 60L).map(i => (i, txt())).toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val hold = docs.filter(col("doc_id") % 5 === 0)
    def all(): Seq[Set[String]] = Seq(
      TextAnalysis.knBigramLogProb(docs, "doc_id", "text"),
      TextAnalysis.knTrigramLogProb(docs, "doc_id", "text"),
      TextAnalysis.mknTrigramLogProb(docs, "doc_id", "text",
        Some((0.5, 1.0, 1.5))),
      LmIndex.crossScore(3, train, hold, "doc_id", "text"),
      LmIndex.crossScore(5, train, hold, "doc_id", "text"))
      .map(_.collect().map(_.toString).toSet)
    val windowForm = all()
    spark.conf.set("graft.lm.positionalJoin", "true")
    try {
      val posForm = all()
      assert(posForm === windowForm,
        "positional-join scorer mode diverged from the window form")
      // Plan gate: the giant-document mitigation must actually remove
      // the per-doc sort — no Window operator anywhere; the lag frame
      // is a hash aggregation keyed (doc, pos).
      val plan = TextAnalysis.knTrigramLogProb(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        "positional mode still plans a Window operator")
      // Malformed conf fails with guidance, not silent default.
      spark.conf.set("graft.lm.positionalJoin", "maybe")
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.knBigramLogProb(docs, "doc_id", "text").collect()
      }
      assert(e.getMessage.contains("graft.lm.positionalJoin"), e.getMessage)
    } finally spark.conf.unset("graft.lm.positionalJoin")
  }

  // ---- order-5 persisted model (round 16) ----------------------------------

  test("build5 == modelFrames5 table-for-table (the one-pass base-counts " +
      "build is bit-identical to per-order counting), and the persisted " +
      "score5 == inline crossScore5") {
    val rnd = new scala.util.Random(43)
    val pool = Vector("kk", "ll", "mm", "nn", "oo", "pp", "rr")
    def txt(): String =
      (0 until (2 + rnd.nextInt(9))).map(_ => pool(rnd.nextInt(7))).mkString(" ")
    val all = (1L to 60L).map(i => (i, txt())).toDF("doc_id", "text")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm5_").toString)
    LmIndex.build(5, store, "lm5", all, "doc_id", "text")
    val lazyM = LmIndex.modelFrames(5, all, "doc_id", "text")
    assert(lazyM.tables.size === 17)
    lazyM.tables.foreach { case (n, df) =>
      assert(store.load(s"lm5_$n").collect().map(_.toString).toSet ===
        df.collect().map(_.toString).toSet,
        s"built lm5_$n diverged from the lazy per-order derivation")
    }
    val got = LmIndex.score(5, store, "lm5", all, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val want = LmIndex.crossScore(5, all, all, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want, "persisted order-5 serve diverged from inline")
    // OOV path through the store roundtrip too.
    val probe = (900L to 905L).map(i => (i, txt())).toDF("doc_id", "text")
    assert(LmIndex.score(5, store, "lm5", probe, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet ===
      LmIndex.crossScore(5, all, probe, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet)
  }

  test("order-5 OOV recipe matches the hand-computed fixture at every " +
      "backoff depth (positions 4 and 5; seen and unseen contexts at " +
      "ctx5/mctx4/mctx3/mctx)") {
    // Train: "a b c d e" + "a b c d f". Worked tables in the comments of
    // the round-16 session notes; the load-bearing counts:
    //   uni total 10; btypes 5; Pcont(w)=1/5 for all seen continuations.
    //   ctx5 (a,b,c,d): cc5=2, n1f5=2; mctx4 (b,c,d): m4cc=2, n1f4c=2;
    //   mctx3 (b,c): 1,1 / (c,d): 2,2; mctx b:1,1 c:1,1 d:2,2.
    val train = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val d = 0.75
    def fp(p: Double): Long = math.round(math.log(p) * 1e6)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Doc 10 "a b c d z": unseen EVENT under a seen context at every
    // level of the position-5 chain.
    val pba = (2 - d) / 2 + d * (1.0 / 2) * 0.2            // b|a
    val midC = (1 - d) / 1 + d * 1.0 * 0.2                 // KN2'(c|b)
    val triC = (2 - d) / 2 + d * (1.0 / 2) * midC          // c|(a,b)
    val midD = (1 - d) / 1 + d * 1.0 * 0.2                 // KN2'(d|c)
    val mid3D = (1 - d) / 1 + d * 1.0 * midD               // KN3'(d|(b,c))
    val fourD = (2 - d) / 2 + d * (1.0 / 2) * mid3D        // d|(a,b,c)
    val midZ = d * (2.0 / 2) * (0.5 / 5)                   // KN2'(z|d), z OOV
    val mid3Z = d * (2.0 / 2) * midZ                       // KN3'(z|(c,d))
    val mid4Z = d * (2.0 / 2) * mid3Z                      // KN4'(z|(b,c,d))
    val fiveZ = d * (2.0 / 2) * mid4Z                      // z|(a,b,c,d)
    val exp10 = r6((fp(2.0 / 10) + fp(pba) + fp(triC) + fp(fourD) + fp(fiveZ))
      / 5.0 / 1e6)
    // Doc 11 "a b c z e": unseen 4-gram under a SEEN ctx4 (z), then a
    // fully-unseen context chain (e) backing off level by level to
    // Pcont(e).
    val midZc = d * 1.0 * (0.5 / 5)                        // KN2'(z|c)
    val mid3Zbc = d * 1.0 * midZc                          // KN3'(z|(b,c))
    val fourZ = d * (1.0 / 2) * mid3Zbc                    // z|(a,b,c)
    val exp11 = r6((fp(2.0 / 10) + fp(pba) + fp(triC) + fp(fourZ) + fp(0.2))
      / 5.0 / 1e6)
    val docs = Seq((10L, "a b c d z"), (11L, "a b c z e")).toDF("doc_id", "text")
    val got = LmIndex.crossScore(5, train, docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(got === Array((10L, 5L, exp10), (11L, 5L, exp11)))
  }

  test("order-5 reduces exactly to order 3 on a corpus with no position-4 " +
      "tokens — KN and modified-KN alike; ONE build5 model serves all six " +
      "smoothings") {
    val rnd = new scala.util.Random(47)
    val pool = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    def short(): String =
      (0 until (1 + rnd.nextInt(3))).map(_ => pool(rnd.nextInt(6))).mkString(" ")
    val docs = (1L to 40L).map(i => (i, short())).toDF("doc_id", "text")
    assert(LmIndex.crossScore(5, docs, docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet ===
      LmIndex.crossScore(3, docs, docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet,
      "order-5 KN did not reduce to order-3 without 4-grams")
    val store = new graft.io.ParquetTableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lm5r_").toString)
    LmIndex.build(5, store, "lm5", docs, "doc_id", "text")
    assert(LmIndex.score(5, store, "lm5", docs, "doc_id", "text", LmIndex.Mkn(fb))
      .as[(Long, Long, Double)].collect().toSet ===
      LmIndex.score(3, store, "lm5", docs, "doc_id", "text", LmIndex.Mkn(fb))
        .as[(Long, Long, Double)].collect().toSet,
      "order-5 modified KN did not reduce to order-3 without 4-grams")
    // The build5 model's bigram/trigram-level tables are build3's, so
    // every lower-order smoothing serves from the SAME prefix.
    assert(LmIndex.score(2, store, "lm5", docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet ===
      LmIndex.crossScore(2, docs, docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet,
      "build5 model failed to serve the order-2 KN score")
    assert(LmIndex.score(3, store, "lm5", docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet ===
      LmIndex.crossScore(3, docs, docs, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet,
      "build5 model failed to serve the order-3 KN score")
    assert(LmIndex.score(2, store, "lm5", docs, "doc_id", "text", LmIndex.Mkn(fb))
      .as[(Long, Long, Double)].collect().toSet ===
      TextAnalysis.mknBigramLogProb(docs, "doc_id", "text", fb)
        .as[(Long, Long, Double)].collect().toSet,
      "build5 model failed to serve the order-2 modified-KN score")
  }

  test("degenerate models fail with guidance, not DIVIDE_BY_ZERO") {
    // Single-token training docs: no bigram types — scoring a 2-token
    // doc needs the continuation mass and must raise the curated error.
    val train = Seq((1L, "solo"), (2L, "alone")).toDF("doc_id", "text")
    val docs = Seq((9L, "solo alone")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      LmIndex.crossScore(2, train, docs, "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("no bigram types"), e.getMessage)
    // Scoring KNOWN single tokens against the same model stays fine
    // (their unigram denominators are positive).
    val ok = LmIndex.crossScore(2, 
      train, Seq((8L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(ok.length === 1 && ok.head._2 === 1L)
  }

  test("knBigramLogProb == crossScore on itself (no OOV branch in-corpus)") {
    val df = Seq((1L, "a b a b c"), (2L, "b c a"), (3L, "c"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.knBigramLogProb(df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val b = LmIndex.crossScore(2, df, df, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b)
  }

  // ---- rankExactByKey ----------------------------------------------------

  test("rankExactByKey == the naive per-key window, negative keys and skew") {
    import org.apache.spark.sql.expressions.Window
    // 90%-one-key frame with NEGATIVE and colliding sort values — the
    // range bucketization must stay monotone and the offsets must
    // restore the exact global per-key rank.
    val rnd = new scala.util.Random(7)
    val rows = (1L to 900L).map(i => (i, "en", rnd.nextInt(50).toLong - 25L)) ++
      (1001L to 1100L).map(i => (i, "de", rnd.nextInt(10).toLong - 5L))
    val df = rows.toDF("doc_id", "lang", "fp")
    val got = Sampling.rankExactByKey(df, "lang", "fp", "doc_id")
      .select("lang", "doc_id", "rnk", "__total")
      .as[(String, Long, Long, Long)].collect().toSet
    val w = Window.partitionBy("lang").orderBy(col("fp").asc, col("doc_id").asc)
    val naive = df
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("__total",
        count(lit(1)).over(Window.partitionBy("lang")).cast("long"))
      .select("lang", "doc_id", "rnk", "__total")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got === naive)
  }

  test("rankExactByKey: key-cardinality guard raises with guidance") {
    val df = (1L to 30L).map(i => (i, s"k${i % 10}", i)).toDF("id", "k", "fp")
    val prev = spark.conf.getOption("graft.mixer.maxKeys")
    spark.conf.set("graft.mixer.maxKeys", "4")
    try {
      val e = intercept[Exception] {
        Sampling.rankExactByKey(df, "k", "fp", "id").collect()
      }
      assert(e.getMessage.contains("rankExactByKey") &&
        e.getMessage.contains("graft.mixer.maxKeys"), e.getMessage)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("graft.mixer.maxKeys", v)
        case None => spark.conf.unset("graft.mixer.maxKeys")
      }
    }
  }

  // ---- pplBuckets --------------------------------------------------------

  test("pplBuckets == naive per-lang ntile on a dominant-lang corpus") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val wordsPool = Vector("alpha", "beta", "gamma", "delta", "ep", "ze", "qq")
    def txt(): String =
      (0 until (3 + rnd.nextInt(8))).map(_ => wordsPool(rnd.nextInt(7)))
        .mkString(" ")
    val rows = (1L to 180L).map(i =>
      (i, if (i <= 160) "en" else if (i <= 172) "de" else "sw", txt()))
    val df = rows.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.pplBuckets(df, "doc_id", "text", "lang", tiles = 3)
      .select("doc_id", "lang", "tile", "bucket", "kept")
      .as[(Long, String, Long, String, Boolean)].collect().toSet
    val scores = TextAnalysis.knBigramLogProb(df, "doc_id", "text")
    val w = Window.partitionBy("lang")
      .orderBy(col("logprob").desc, col("doc_id").asc)
    val naive = df.select("doc_id", "lang").join(scores, Seq("doc_id"))
      .withColumn("tile", ntile(3).over(w).cast("long"))
      .select(col("doc_id"), col("lang"), col("tile"),
        when(col("tile") === 1L, "head").when(col("tile") === 3L, "tail")
          .otherwise("middle").as("bucket"),
        (col("tile") < 3L).as("kept"))
      .as[(Long, String, Long, String, Boolean)].collect().toSet
    assert(got === naive, "two-phase tiles diverged from the ntile window")
    // Tail is dropped, head+middle kept, per language.
    val byLang = got.groupBy(_._2)
    byLang.foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_._3).view.mapValues(_.size).toMap
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang tiles unbalanced: $sizes")
      assert(rs.filter(_._5).map(_._3).forall(_ < 3L))
    }
  }

  test("pplBuckets ranks corpus rows only in (lang, bucket) windows") {
    val df = Seq((1L, "en", "a b c"), (2L, "en", "a b"), (3L, "de", "c a"))
      .toDF("doc_id", "lang", "text")
    val plan = TextAnalysis.pplBuckets(df, "doc_id", "text", "lang")
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val rank = specs.filter(_.contains("__fp"))
    assert(rank.nonEmpty, "lost the score rank window")
    rank.foreach { s =>
      val partCols = s.split(",").map(_.trim)
        .takeWhile(a => !a.contains(" ASC") && !a.contains(" DESC"))
      assert(partCols.length >= 2,
        s"pplBuckets ranks corpus rows in a single-key window: $s")
    }
  }

  // ---- wordpieceTrainMerges ----------------------------------------------

  test("wordpiece argmax is association, not frequency (the qu property)") {
    // (a,b) occurs 20x over common symbols; (q,u) occurs 2x but q and u
    // occur ONLY together. Frequency (BPE) picks (a,b) first; the
    // WordPiece likelihood score 2/(2*2)=0.5 beats 20/(20*20)=0.05.
    val df = (Seq.fill(10)("abab") ++ Seq.fill(2)("qu")).toDF("text")
    val wp = TextAnalysis.wordpieceTrainMerges(df, "text", numMerges = 10)
      .as[(Long, String, String, Long, Long, Long)].collect()
    assert(wp(0) === ((0L, "q", "u", 2L, 2L, 2L)))
    assert(wp(1) === ((1L, "a", "b", 20L, 20L, 20L)))
    assert(wp(2) === ((2L, "ab", "ab", 10L, 20L, 20L)))
    // After ab+ab -> abab there is no pair with support >= 2: early stop.
    assert(wp.length === 3)
    val bpe = TextAnalysis.bpeTrainMerges(df, "text", numMerges = 1)
      .as[(Long, String, String, Long)].collect()
    assert(bpe(0)._2 === "a" && bpe(0)._3 === "b",
      "BPE frequency argmax should pick (a,b) where WordPiece picks (q,u)")
  }

  test("wordpiece support floor excludes perfect-score singletons") {
    // "xy" appears once: score 1/(1*1)=1.0, the maximum — but support 1
    // is below the floor, so the trainer must pick (a,b) instead.
    val df = (Seq.fill(5)("ab") ++ Seq("xy")).toDF("text")
    val wp = TextAnalysis.wordpieceTrainMerges(
      df, "text", numMerges = 5, minPairCount = 2L)
      .as[(Long, String, String, Long, Long, Long)].collect()
    assert(wp.map(r => (r._2, r._3)).toSeq === Seq(("a", "b")))
  }

  test("tokenizerVocab: segment-weighted symbol counts; totals == encode totals") {
    // "abab"x3 + "ab" + "z": merges (a,b) then (ab,ab).
    val df = (Seq.fill(3)("abab") ++ Seq("ab", "z")).toDF("text")
    val merges = TextAnalysis.bpeTrainMerges(df, "text", numMerges = 5)
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val vocab = TextAnalysis.tokenizerVocab(df, "text", merges)
      .as[(String, Long)].collect().toMap
    // abab -> [abab] x3; ab -> [ab] x1; z -> [z] x1 (single char kept).
    assert(vocab === Map("abab" -> 3L, "ab" -> 1L, "z" -> 1L))
    // Invariant: Σ sym_count == Σ per-doc encoded token counts.
    val docs = df.withColumn("doc_id",
      org.apache.spark.sql.functions.monotonically_increasing_id())
    val encTotal = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text", merges)
      .agg(sum(col("bpe_tokens"))).as[Long].head()
    assert(vocab.values.sum === encTotal,
      "vocabulary mass diverged from the encoder's token count")
  }

  test("wordpiece merges drive bpeTokenCounts with a custom output column") {
    val df = Seq((1L, "qu ququ zz")).toDF("doc_id", "text")
    val train = (Seq.fill(2)("qu") ++ Seq.fill(2)("ququ")).toDF("text")
    val merges = TextAnalysis.wordpieceTrainMerges(train, "text", numMerges = 2)
      .orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val got = TextAnalysis.bpeTokenCounts(
      df, "doc_id", "text", merges, outCol = "wp_tokens")
    assert(got.columns.toSeq === Seq("doc_id", "wp_tokens"))
    // merges: (q,u) then (qu,qu) -> "qu"=1, "ququ"=1, "zz"=2 tokens
    assert(got.as[(Long, Long)].head() === ((1L, 4L)))
  }
}

package graft.functions

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.TableStore

/** Persisted Kneser-Ney language model of order 2..5 over a
  * [[graft.io.TableStore]] — the train-offline / score-online split the
  * REAL CCNet deployment runs (Wenzek et al. 2020: a frozen order-5
  * KenLM under modified-KN discounts is trained ONCE on a clean
  * reference corpus, then every crawl shard is scored against it): the
  * corpus-scale counting pass happens at [[build]] time and lands as
  * model TABLES; scoring any later document set reads only those
  * vocabulary-bounded tables. The LM twin of [[LexIndex]]/[[AnnIndex]]'s
  * build/serve posture.
  *
  * ONE model, indexed by level — the order-generic recursion of KenLM's
  * build (Heafield 2011): level k in 2..order holds its raw k-gram table
  * and that table's context table; every level below the top also holds
  * its CONTINUATION table N1+(•, k-gram), counted over the (k+1)-gram
  * types (the standard KN lower-order counts), with its own context
  * table. Orders 2 and 3 are prefixes of order 5: one order-N store
  * serves every order <= N under both smoothings ([[Kn]], [[Mkn]])
  * without retraining (spec-pinned).
  *
  * Model tables under `prefix` (level k's key is prev(k-1)..prev, w —
  * columns `prev`, `prev2`, ...; its context key drops `w`):
  * {{{
  *   table                       columns                                   at
  *   uni                         w, c1                                     every order
  *   cont                        w, n1c  (N1+(•,w) over bigram types)      every order
  *   big  / tri  / four / five   key, c2 / c3 / c4 / c5                    raw level k = 2..5
  *   ctx  / ctx3 / ctx4 / ctx5   ctx key, cc*, n1f*, 3 buckets, [pm]       raw level k
  *   m2   / m3   / m4            key, mcount / m3c / m4c                   continuation k < order
  *   mctx / mctx3 / mctx4        ctx key, mcc / m3cc / m4cc, n1f*c, ...    continuation k
  *   stats                       ONE row: total_tokens, then per level     every order
  *                               its types and count-of-counts 1..4,
  *                               [prune2..pruneN]
  * }}}
  * The exact per-level names are the [[Grams]] table; an order-2 build
  * writes the narrow bigram form (ctx without buckets, stats with
  * `bigram_types` only) — modified KN serves from order >= 3 builds. The
  * bucket columns (follower counts with count 1, 2, 3+) and the
  * count-of-counts are the tallies modified KN estimates its discounts
  * from (Chen & Goodman 1999 eq. 26), free at build time: one extra
  * conditional sum in aggregations that already scan the count table.
  *
  * Frozen-model OOV semantics, every branch deterministic and
  * oracle-replayable:
  *   - continuation: P_cont(w) = N1+(•,w)/btypes when w was ever a bigram
  *     continuation, else 0.5/btypes (half of one type's mass — the
  *     reserved-OOV convention);
  *   - document-initial token: MLE unigram c1/total, else 0.5/total;
  *   - a position-j token (j-1 tokens of context) scores with the
  *     order-min(j, order) chain: raw counts at the top, continuation
  *     counts below, P_cont at the bottom;
  *   - every level, seen context: max(count − D, 0)/cc + D·n1f/cc ·
  *     lower (count defaulting 0 — one expression covers seen and unseen
  *     events); unseen context: full backoff to the lower level.
  * Scoring the training corpus itself never reaches an OOV branch, so
  * in-corpus scores equal [[TextAnalysis]]'s inline chains bit for bit
  * (spec-pinned; the persisted queries share those oracle SQLs).
  *
  * Scale: model tables are vocabulary-bounded (Heaps' law), written
  * key-sorted; the scoring joins stay UNHINTED — statically a 100 TB
  * corpus can never vocab-broadcast (the [[TextAnalysis]] joinVocab
  * rationale), and AQE broadcasts the SMALLER side from measured bytes
  * (for a micro-batch gate that is the batch's token frame, which is
  * exactly right). Every aggregate derives from the count tables, and
  * the count tables from ONE checkpointed corpus aggregation
  * ([[baseCounts]]), so the corpus tokenizes exactly once per build
  * ([[LexIndex.build]]'s discipline).
  */
object LmIndex {

  /** A serve's interpolation smoothing. */
  sealed trait Smoothing

  /** Interpolated Kneser-Ney with one absolute `discount` D at every
    * level ([[TextAnalysis.knBigramLogProb]]'s smoothing). */
  final case class Kn(discount: Double = 0.75) extends Smoothing {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
  }

  /** MODIFIED Kneser-Ney ([[TextAnalysis.mknBigramLogProb]]'s smoothing —
    * the KenLM default CCNet literally runs): per-LEVEL D1/D2/D3+
    * estimated from that level's STORED count-of-count tallies, so serve
    * time never rescans any corpus; D(0) = 0 (an unseen event under a
    * seen context contributes only the context's λ-weighted backoff
    * mass). A degenerate level (an empty n1/n2/n3 bucket) takes
    * `fallbackDiscounts` (KenLM --discount_fallback) or raises the
    * curated error — evaluated lazily per branch, the
    * [[TextAnalysis.mknLevelDiscounts]] ANSI discipline. Needs the bucket
    * tallies of an order >= 3 build. */
  final case class Mkn(
      fallbackDiscounts: Option[(Double, Double, Double)] = None)
    extends Smoothing

  /** One table family at key width k: the raw k-gram counts, or (`raw`
    * = false) the continuation counts N1+(•, k-gram) over the (k+1)-gram
    * types. Carries every stored name of the family: the table and its
    * count column, the context table and its six columns (total,
    * followers, the count-1/2/3+ buckets, pruned mass), the stats-row
    * types column and tally prefix, and the modified-KN discount suffix
    * ([[TextAnalysis.mknLevelDiscounts]]'s level prefix). */
  private final case class Gram(
      k: Int, raw: Boolean, name: String, count: String, ctx: String,
      ctxCols: Seq[String], types: String, tally: String, disc: String) {
    def ctxKeys: Seq[String] = lagCols(k).reverse
    def keys: Seq[String] = ctxKeys :+ "w"
  }

  /** The per-level name table — every table and column name any build
    * writes, so stores built by earlier code keep loading (the layout is
    * pinned by LmStoreFormatSpec). */
  private val Grams: Seq[Gram] = Seq(
    Gram(2, raw = true, "big", "c2", "ctx",
      Seq("cc", "n1f", "nf1", "nf2", "nf3p", "pmb"), "bigram_types", "n", "b"),
    Gram(3, raw = true, "tri", "c3", "ctx3",
      Seq("cc3", "n1f3", "tf1", "tf2", "tf3p", "pmt"), "trigram_types", "t", "t"),
    Gram(4, raw = true, "four", "c4", "ctx4",
      Seq("cc4", "n1f4", "ff1", "ff2", "ff3p", "pmf"), "fourgram_types", "f", "f"),
    Gram(5, raw = true, "five", "c5", "ctx5",
      Seq("cc5", "n1f5", "vf1", "vf2", "vf3p", "pmv"), "fivegram_types", "v", "v"),
    Gram(2, raw = false, "m2", "mcount", "mctx",
      Seq("mcc", "n1f2c", "mf1", "mf2", "mf3p", "pmm"), "m2_types", "m", "m"),
    Gram(3, raw = false, "m3", "m3c", "mctx3",
      Seq("m3cc", "n1f3c", "pf1", "pf2", "pf3p", "pmp"), "m3_types", "p", "p"),
    Gram(4, raw = false, "m4", "m4c", "mctx4",
      Seq("m4cc", "n1f4c", "qf1", "qf2", "qf3p", "pmq"), "m4_types", "q", "q"))

  private def gram(k: Int, raw: Boolean): Gram =
    Grams.find(g => g.k == k && g.raw == raw).get

  /** An order's gram families in stored order: the raw bigram, then per
    * level k >= 3 the raw k-gram and the (k-1) continuation. */
  private def gramsOf(order: Int): Seq[Gram] = {
    require(order >= 2 && order <= 5, s"order must be in [2, 5], got $order")
    gram(2, raw = true) +:
      (3 to order).flatMap(k => Seq(gram(k, raw = true), gram(k - 1, raw = false)))
  }

  /** An order's table names, in build (write) order. */
  private[graft] def tableNames(order: Int): Seq[String] =
    "uni" +: gramsOf(order).flatMap(g =>
      if (g.name == "big") Seq(g.name, g.ctx, "cont") else Seq(g.name, g.ctx)) :+
      "stats"

  /** A table's word-valued key columns — its write sort order and the
    * columns a batch pruner restricts. */
  private def keysOf(table: String): Seq[String] = table match {
    case "uni" | "cont" => Seq("w")
    case "stats" => Nil
    case t => Grams.collectFirst {
      case g if g.name == t => g.keys
      case g if g.ctx == t => g.ctxKeys
    }.get
  }

  /** The model frames of one order, by table name ([[tableNames]]) —
    * derivable inline from a training corpus or loaded from a store; the
    * single scoring input shape. */
  private[graft] final case class KnModel(
      order: Int, tables: ListMap[String, DataFrame]) {
    def apply(table: String): DataFrame = tables(table)
    def map(f: (String, DataFrame) => DataFrame): KnModel =
      copy(tables = tables.map { case (t, df) => t -> f(t, df) })
  }

  private def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "w")))

  // Every lag frame in this family funnels through
  // [[TextAnalysis.laggedTokens]] — the per-doc window by default, the
  // single-exchange positional join under `graft.lm.positionalJoin`
  // (the executable form of the giant-document mitigation).
  private def lagCols(order: Int): Seq[String] =
    (1 until order).map(j => if (j == 1) "prev" else s"prev$j")

  /** Run independent eager jobs (checkpoint materializations) on a
    * short-lived pool — guide §2.6: a later job's tasks back-fill the
    * tail of the current one; results keep input order. On failure the
    * queued siblings are cancelled and the first error rethrown. */
  private def concurrently[A](thunks: Seq[() => A]): Seq[A] =
    Jobs.concurrently(thunks)

  /** Run a staged table write and an independent score-side job
    * CONCURRENTLY (guide §2.6 — overlap independent jobs): the score
    * reads only already-checkpointed count frames (never a store file),
    * and the frames [[assemble]] derives from them are row-identical to
    * the tables the write swaps in (spec-pinned), so the score job
    * back-fills the staging writes' stage tails instead of running
    * serially after the swap. Returns the materialized
    * (localCheckpoint) score frame. */
  private def writeAndScore(
      write: () => Unit, score: => DataFrame): DataFrame = {
    val Seq(_, scored) = concurrently[Any](Seq(
      () => { write(); () },
      () => score.localCheckpoint()))
    scored.asInstanceOf[DataFrame]
  }

  /** The reserved out-of-vocabulary token a [[build]] vocabulary
    * envelope maps below-top-K words to — the `<unk>` convention of
    * every deployed n-gram LM (KenLM/SRILM). A corpus that literally
    * contains this token merges it with the OOV mass, which is the
    * standard `<unk>` behavior, not an error. */
  val OovToken: String = "<unk>"

  /** Map every token outside the TOP-`maxVocab` words (by corpus
    * frequency, ties broken by word ascending — deterministic and
    * oracle-replayable) to [[OovToken]] — the LM-build vocabulary
    * envelope, the [[TextAnalysis]] trainerVocab posture applied to
    * model building: capping the vocabulary at TOKENIZE time means
    * training on the capped corpus, so every downstream table is
    * bounded by construction (Heaps-unbounded corpora stop building
    * corpus-sized unigram/keyed tables) and the trained model is
    * EXACTLY the model of the OOV-mapped corpus (spec-pinned).
    *
    * Scale: the top-K selection is a global bounded top-K
    * (TakeOrderedAndProject — K rows to the driver-side limit, never
    * the vocabulary), and the mapping join is token-frame vs a K-row
    * frame (AQE broadcasts the measured small side). Cost: ONE extra
    * corpus tokenize for the frequency pass — the same two-pass shape
    * as every real vocabulary-capped trainer; checkpointing the token
    * frame instead would hold corpus-sized state. */
  private def capVocab(toks: DataFrame, maxVocab: Long): DataFrame = {
    require(maxVocab >= 1L && maxVocab <= Int.MaxValue.toLong,
      s"maxVocab must be in [1, ${Int.MaxValue}], got $maxVocab")
    val top = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(maxVocab.toInt)
      .select(col("w"), lit(true).as("__in_vocab"))
    toks.join(top, Seq("w"), "left")
      .withColumn("w",
        when(col("__in_vocab"), col("w")).otherwise(lit(OovToken)))
      .drop("__in_vocab")
  }

  // ---- derivation: count tables -> model tables ----------------------------

  /** Per-level count thresholds (index k-2 = key width k); `Nil` = no
    * pruning. */
  private def thresholds(order: Int, pruneMin: Seq[Long]): Seq[Long] = {
    require(pruneMin.isEmpty ||
      (pruneMin.length == order - 1 && pruneMin.forall(_ >= 1L)),
      s"pruneMin must be ${order - 1} thresholds >= 1 (key widths " +
        s"2..$order), got $pruneMin")
    if (pruneMin.isEmpty) Seq.fill(order - 1)(1L) else pruneMin
  }

  /** The continuation counts at width k from the raw (k+1)-gram table:
    * the number of distinct left extensions of each k-gram (the middle
    * KN levels count contexts, not raw frequency). */
  private def contCounts(k: Int, higher: DataFrame): DataFrame = {
    val g = gram(k, raw = false)
    higher.groupBy(g.keys.map(col): _*)
      .agg(count(lit(1)).cast("long").as(g.count))
  }

  /** One context table over a (possibly count-pruned) gram table. Unpruned
    * (`minCount` 1): total + distinct followers, plus the count-bucket
    * tallies when `tallies`. Pruned — the KenLM `--prune` analog's
    * bookkeeping: the total stays the FULL count total, the
    * follower/bucket tallies count SURVIVORS (count >= `minCount`), and
    * pm is the PRUNED MASS (Σ of dropped counts). Serving folds pm into
    * the backoff weight — λ = (ΣD·tally + pm)/cc — which keeps the level
    * a proper distribution: Σ_surv (c−D(c))/cc + λ·Σ P_lower = (cc − pm −
    * ΣD)/cc + (ΣD + pm)/cc = 1. A context whose EVERY follower was pruned
    * drops out entirely: its λ would be pm/cc = 1, which is exactly the
    * unseen-context full-backoff branch the serve already takes on a
    * missing row (spec-pinned). Unpruned tables carry no pm column (the
    * layout of every store written before pruning existed). */
  private def contextTable(
      df: DataFrame, g: Gram, minCount: Long, tallies: Boolean): DataFrame = {
    val Seq(ccN, nfN, b1N, b2N, b3pN, pmN) = g.ctxCols
    val c = col(g.count)
    val grouped = df.groupBy(g.ctxKeys.map(col): _*)
    if (minCount == 1L) {
      def bucket(cond: Column) = sum(when(cond, 1L).otherwise(0L)).cast("long")
      val buckets =
        if (!tallies) Nil
        else Seq(bucket(c === 1L).as(b1N), bucket(c === 2L).as(b2N),
          bucket(c >= 3L).as(b3pN))
      grouped.agg(sum(c).cast("long").as(ccN),
        (count(lit(1)).cast("long").as(nfN) +: buckets): _*)
    } else {
      def surv(cond: Column) =
        sum(when(c >= minCount && cond, 1L).otherwise(0L)).cast("long")
      grouped.agg(
        sum(c).cast("long").as(ccN),
        surv(lit(true)).as(nfN),
        surv(c === 1L).as(b1N),
        surv(c === 2L).as(b2N),
        surv(c >= 3L).as(b3pN),
        coalesce(sum(when(c < minCount, c)), lit(0L)).cast("long").as(pmN))
        .filter(col(nfN) > 0L)
    }
  }

  /** One level's stats columns as a one-row frame: its types count, plus
    * the count-of-count tallies 1..4 when `tallies`. */
  private def countOfCounts(
      df: DataFrame, g: Gram, tallies: Boolean): DataFrame = {
    val c = col(g.count)
    val cols = count(lit(1)).cast("long").as(g.types) +:
      (if (!tallies) Nil
      else (1 to 4).map(j =>
        coalesce(sum(when(c === j.toLong, 1L).otherwise(0L)), lit(0L))
          .cast("long").as(s"${g.tally}$j")))
    df.agg(cols.head, cols.tail: _*)
  }

  /** Assemble an order's model frames from its count tables: `uni` and the
    * raw k-gram counts for k = 2..order (`raws(0)` is the bigram table).
    * `conts` are the continuation count tables when the caller already
    * holds them (checkpointed, or stored), else they derive lazily from
    * the raw tables. Shared by the lazy, base-derived, built, merged and
    * pruned-from-store paths, so no derivation can drift between them.
    *
    * `pruneMin` (one threshold per key width 2..order, `Nil` = none)
    * drops rows below their width's threshold from the raw AND
    * continuation gram tables — each pruned on ITS OWN count, the
    * table-per-level generalization of KenLM's per-order rule — and
    * folds their mass into the context tables' pm columns
    * ([[contextTable]]). Never pruned: uni and cont (KenLM forbids
    * unigram pruning; P_cont is the floor of every backoff chain) and the
    * stats row's tallies (discounts calibrate on the FULL counts, then
    * pruning drops rows — KenLM's order of operations: adjusted counts
    * and discounts precede pruning). Continuation counts and context
    * tables likewise derive from the FULL tables. Unpruned levels get no
    * trivial filters and no all-zero pm columns, so an unpruned build is
    * byte-identical to the pre-pruning layout. */
  private def assemble(
      order: Int, uni: DataFrame, raws: Seq[DataFrame],
      conts: Option[Seq[DataFrame]] = None,
      pruneMin: Seq[Long] = Nil): KnModel = {
    val thr = thresholds(order, pruneMin)
    val ms = conts.getOrElse((2 until order).map(k => contCounts(k, raws(k - 1))))
    val tallies = order > 2
    val full = gramsOf(order).map(g =>
      g -> (if (g.raw) raws(g.k - 2) else ms(g.k - 2)))
    val levels = full.flatMap { case (g, df) =>
      val t = thr(g.k - 2)
      val kept = if (t == 1L) df else df.filter(col(g.count) >= t)
      Seq(g.name -> kept, g.ctx -> contextTable(df, g, t, tallies)) ++
        (if (g.name == "big")
          Seq("cont" -> df.groupBy("w").agg(count(lit(1)).cast("long").as("n1c")))
        else Nil)
    }
    val stats0 = full.foldLeft(
      uni.agg(sum(col("c1")).cast("long").as("total_tokens"))) {
      case (acc, (g, df)) => acc.crossJoin(countOfCounts(df, g, tallies))
    }
    val stats =
      if (thr.forall(_ == 1L)) stats0
      else stats0.select(col("*") +: thr.zipWithIndex.map { case (t, i) =>
        lit(t).as(s"prune${i + 2}")
      }: _*)
    KnModel(order,
      ListMap((("uni" -> uni) +: levels :+ ("stats" -> stats)): _*))
  }

  /** ONE corpus aggregation feeding EVERY count table of an order-N
    * build: group the lag frame by its FULL context key — doc-start
    * NULLs are ordinary group keys — and checkpoint the
    * vocabulary-bounded result once. Each order's count table then
    * re-derives by a cheap re-aggregation over the checkpointed base
    * (count of a coarser group == Σ of its disjoint full-key subgroup
    * counts — exact longs, bit-identical to aggregating the corpus per
    * order, spec-pinned via the build==modelFrames table equalities).
    * Aggregating the corpus once per count table instead charges one
    * tokenize pass per order, and an explode-all-orders form pushes N×
    * the token rows through its exchange and checkpoints every table's
    * rows where the base is the top table's size alone — at 100 TB the
    * corpus passes are the whole build cost (guide §1.2/§2.3: remove
    * passes, then shuffle fewer bytes). */
  private def baseCounts(pt: DataFrame, ctxCols: Seq[String]): DataFrame =
    pt.groupBy((ctxCols :+ "w").map(col): _*)
      .agg(count(lit(1)).cast("long").as("c"))

  /** The order-`order` [[baseCounts]] frame of `train` (`maxVocab` > 0
    * first caps the vocabulary — [[capVocab]]) — NOT checkpointed; the
    * caller owns materialization and lifetime. The sharing handle for the
    * one-corpus-pass discipline ACROSS queries: an inline cross-score
    * ([[framesFromBase]]) and a persisted build ([[buildFromBase]]) of
    * the SAME training split can both derive from one checkpointed base
    * instead of each paying its own corpus pass. */
  private[graft] def baseOf(
      order: Int, train: DataFrame, idCol: String, textCol: String,
      maxVocab: Long = 0L): DataFrame = {
    require(maxVocab >= 0L,
      s"maxVocab must be >= 0 (0 = unbounded), got $maxVocab")
    val toks0 = tokens(train, idCol, textCol)
    val toks = if (maxVocab > 0L) capVocab(toks0, maxVocab) else toks0
    baseCounts(TextAnalysis.laggedTokens(toks, idCol, lagCols(order)),
      lagCols(order).reverse)
  }

  /** Split a checkpointed [[baseOf]] frame into uni and the raw count
    * tables — cheap re-aggregations of the vocabulary-bounded base (lag
    * columns are monotone, so a non-null prevK implies non-null
    * prev(K−1)..prev); the top level IS the base, renamed. */
  private def countsFromBase(
      order: Int, base: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val raws = (2 to order).map { k =>
      val g = gram(k, raw = true)
      val rows = base.filter(col(g.ctxKeys.head).isNotNull)
      if (k == order) rows.select(g.keys.map(col) :+ col("c").as(g.count): _*)
      else rows.groupBy(g.keys.map(col): _*)
        .agg(sum(col("c")).cast("long").as(g.count))
    }
    (base.groupBy("w").agg(sum(col("c")).cast("long").as("c1")), raws)
  }

  /** Model frames computed LAZILY from a training corpus, each count
    * table its own corpus aggregation (no jobs fire here; [[build]] adds
    * the one-pass checkpoint discipline) — the reference derivation the
    * base-derived paths are pinned against. */
  private[graft] def modelFrames(
      order: Int, train: DataFrame, idCol: String, textCol: String): KnModel = {
    val toks = tokens(train, idCol, textCol)
    val pt = TextAnalysis.laggedTokens(toks, idCol, lagCols(order))
    val raws = (2 to order).map { k =>
      val g = gram(k, raw = true)
      pt.filter(col(g.ctxKeys.head).isNotNull)
        .groupBy(g.keys.map(col): _*).agg(count(lit(1)).cast("long").as(g.count))
    }
    assemble(order,
      toks.groupBy("w").agg(count(lit(1)).cast("long").as("c1")), raws)
  }

  /** Model frames from a (checkpointed) [[baseOf]] frame — bit-identical
    * to [[modelFrames]] (sum of disjoint full-key subgroup counts;
    * spec-pinned). */
  private[graft] def framesFromBase(order: Int, base: DataFrame): KnModel = {
    val (uni, raws) = countsFromBase(order, base)
    assemble(order, uni, raws)
  }

  // ---- build and maintenance -----------------------------------------------

  /** Derive every aggregate from the (checkpoint-backed or stored) count
    * tables and swap all of the order's tables in. The continuation
    * tables each feed several write jobs (their own table, their
    * context, stats), so they checkpoint once unless the caller passes
    * them. Kept SEQUENTIAL deliberately: a concurrently() variant (the
    * §2.6 overlap) measured 1-2 s WORSE at sf0.1 (8.8-9.6 s vs 7.7-7.8 s
    * for q_kn5_persisted_holdout) — re-aggregations of one tiny
    * checkpointed base contend for the same cores overwriteAll's staging
    * pool is about to use. */
  private def writeTables(
      order: Int, store: TableStore, prefix: String,
      uni: DataFrame, raws: Seq[DataFrame], pruneMin: Seq[Long] = Nil,
      conts: Option[Seq[DataFrame]] = None): Unit = {
    val ms = conts.getOrElse(
      (2 until order).map(k => contCounts(k, raws(k - 1)).localCheckpoint()))
    val m = assemble(order, uni, raws, Some(ms), pruneMin)
    try store.overwriteAll(m.tables.toSeq.map { case (t, df) =>
      s"${prefix}_$t" ->
        (if (t == "stats") df else df.sortWithinPartitions(keysOf(t).map(col): _*))
    })
    finally {
      if (conts.isEmpty) ms.foreach(_.unpersist())
      ()
    }
  }

  /** Build (or rebuild) the order-`order` model tables from `train` — ONE
    * tokenize pass ([[baseOf]]) feeding one checkpointed count frame;
    * every table derives from its split (build-time only; swap for
    * reliable checkpoint() on a real cluster — the [[LexIndex.build]]
    * note).
    *
    * `pruneMin` is the COUNT-PRUNING threshold per key width 2..order —
    * the KenLM `--prune` analog every deployed CCNet model runs (frozen
    * gate models prune singletons at orders >= 3 precisely because in the
    * near-unique-gram regime the unpruned model IS the corpus — the
    * BASELINE heapsbigram record); see [[assemble]]. A pruned model is
    * FROZEN: [[append]]/[[deleteDocs]] reject it (merged counts cannot
    * reconstruct pruned totals); rebuild on the grown corpus instead.
    *
    * `maxVocab` > 0 additionally caps the VOCABULARY ([[capVocab]]:
    * below-top-K words map to [[OovToken]] before any counting) — the
    * envelope [[TextAnalysis.tokenizerMaxTypes]] gives the tokenizer
    * trainers, applied to the model build; composes with pruneMin (cap
    * first, then prune the capped counts): build(maxVocab) == build on
    * the pre-mapped corpus, table for table (spec-pinned). 0 = unbounded
    * (a Heaps-unbounded corpus then builds a vocabulary-sized unigram
    * table — cap it for frozen gate models). */
  def build(
      order: Int, store: TableStore, prefix: String,
      train: DataFrame, idCol: String, textCol: String,
      pruneMin: Seq[Long] = Nil, maxVocab: Long = 0L): Unit = {
    thresholds(order, pruneMin) // reject bad thresholds before the corpus pass
    val base = baseOf(order, train, idCol, textCol, maxVocab).localCheckpoint()
    try buildFromBase(order, store, prefix, base, pruneMin)
    finally {
      base.unpersist()
      ()
    }
  }

  /** [[build]] from an already-checkpointed [[baseOf]] frame the caller
    * shares with other consumers of the same training split (lifetime
    * owned by the caller). */
  private[graft] def buildFromBase(
      order: Int, store: TableStore, prefix: String, base: DataFrame,
      pruneMin: Seq[Long] = Nil): Unit = {
    val (uni, raws) = countsFromBase(order, base)
    writeTables(order, store, prefix, uni, raws, pruneMin)
  }

  /** [[build]] with the score-side job OVERLAPPED with the staged table
    * writes (§2.6): the score reads the base-derived frames
    * (bit-identical to the written tables — the framesFromBase /
    * buildFromBase equalities, spec-pinned), so it back-fills the write
    * jobs' stage tails. Unpruned builds only (a pruned model's frames
    * differ from the unpruned derivations). Returns the materialized
    * plain-KN score frame (== [[score]] on the just-built store, row for
    * row). */
  private[graft] def buildScored(
      order: Int, store: TableStore, prefix: String,
      train: DataFrame, idCol: String, textCol: String,
      docs: DataFrame, maxVocab: Long = 0L): DataFrame = {
    val base = baseOf(order, train, idCol, textCol, maxVocab).localCheckpoint()
    try {
      val (uni, raws) = countsFromBase(order, base)
      writeAndScore(
        () => writeTables(order, store, prefix, uni, raws),
        scoreFrames(assemble(order, uni, raws), docs, idCol, textCol, Kn()))
    } finally {
      base.unpersist()
      ()
    }
  }

  /** Build a COUNT-PRUNED model from an already-built UNPRUNED store of
    * the SAME training corpus — §1.2 across stores: the unpruned store's
    * gram tables ARE the full count tables a pruned build derives
    * everything from (bit-identical by the build==frames table
    * equalities), and its continuation tables ARE the full continuation
    * counts, so the pruned build becomes vocabulary-bounded
    * filter+aggregate WRITE jobs over stored tables — no corpus pass, no
    * base re-aggregation, no continuation re-derivation. Identical tables
    * to build(order, ..., pruneMin) (spec-pinned). */
  private[graft] def buildPrunedFromStore(
      order: Int, src: TableStore, srcPrefix: String,
      dst: TableStore, dstPrefix: String, pruneMin: Seq[Long]): Unit = {
    val m = loadModel(order, src, srcPrefix)
    val (raws, conts) = gramsOf(order).partition(_.raw)
    writeTables(order, dst, dstPrefix, m("uni"), raws.map(g => m(g.name)),
      pruneMin, conts = Some(conts.map(g => m(g.name))))
  }

  /** Count-merge core shared by [[append]] (sign +1) and [[deleteDocs]]
    * (sign −1): merge the delta's count tables into the stored ones
    * (concurrently — independent jobs over the checkpointed delta base,
    * guide §2.6, like overwriteAll's staging phase), re-derive every
    * aggregate from the MERGED counts, and swap all tables. Every frame
    * here is vocabulary-bounded — maintenance never rescans the training
    * corpus, only tokenizes the delta. Merged tables localCheckpoint
    * BEFORE the overwrite (plans derived from store tables must
    * materialize before the store swaps them — the round-1 storage
    * invariant). `deltaBase`: the delta's [[baseOf]] computed earlier by
    * the caller (e.g. overlapped with a preceding build's staged writes —
    * [[appendDrill]]); lifetime stays with the caller. `scoreDocs`:
    * score these against the merged model, overlapped with the writes
    * ([[writeAndScore]]). */
  private def mergeCounts(
      order: Int, store: TableStore, prefix: String,
      delta: DataFrame, idCol: String, textCol: String, sign: Long,
      deltaBase: Option[DataFrame] = None,
      scoreDocs: Option[DataFrame] = None): Option[DataFrame] = {
    // A count-pruned model is FROZEN: its stored gram tables are
    // missing the below-threshold rows, so a count merge would compound
    // new deltas onto incomplete counts and re-derive context totals
    // that disagree with the true corpus (cc/pm unreconstructable).
    // Fail loudly before any tokenize — one 1-row stats read.
    val st = store.load(s"${prefix}_stats")
    val pruneCols = st.columns.filter(_.startsWith("prune"))
    if (pruneCols.nonEmpty)
      require(st.select(pruneCols.map(col): _*).head().toSeq.forall(_ == 1L),
        "LmIndex: append/deleteDocs on a COUNT-PRUNED model — merged " +
          "counts cannot reconstruct the pruned totals; rebuild on the " +
          "updated corpus instead (pruned models are frozen gate models)")
    val g = deltaBase.getOrElse(
      baseOf(order, delta, idCol, textCol).localCheckpoint())
    try {
      val (dUni, dRaws) = countsFromBase(order, g)
      val counted = ("uni", "c1") +:
        gramsOf(order).filter(_.raw).map(r => (r.name, r.count))
      val merged = concurrently(counted.zip(dUni +: dRaws).map {
        case ((t, c), dd) => () =>
          val keys = keysOf(t).map(col)
          store.load(s"${prefix}_$t")
            .unionByName(dd.select(keys :+ (col(c) * lit(sign)).as(c): _*))
            .groupBy(keys: _*).agg(sum(col(c)).cast("long").as(c))
            .filter(col(c) =!= 0L)
            .localCheckpoint()
      })
      try {
        // A negative merged count means the delta was NOT a subset of
        // what the model was trained on (deleting text never added, or
        // adding a negative ghost) — the un-tombstoning lesson from
        // LexIndex: fail loudly BEFORE the swap, never persist a corrupt
        // model. One tripwire job over all count tables (checkpointed;
        // the violation union is vocabulary-bounded and almost always
        // empty).
        require(merged.zip(counted).map { case (df, (_, c)) =>
          df.filter(col(c) < 0L).select(col(c).as("bad"))
        }.reduce(_ unionByName _).isEmpty,
          "LmIndex delta drives a count negative — deletes must carry " +
            "exactly previously-added documents (GDPR-erasure contract); " +
            "rebuild the model if the original text is gone")
        def write(): Unit =
          writeTables(order, store, prefix, merged.head, merged.tail)
        scoreDocs match {
          case None =>
            write()
            None
          case Some(docs) =>
            Some(writeAndScore(() => write(),
              scoreFrames(assemble(order, merged.head, merged.tail),
                docs, idCol, textCol, Kn())))
        }
      } finally {
        merged.foreach(_.unpersist())
        ()
      }
    } finally {
      if (deltaBase.isEmpty) g.unpersist()
      ()
    }
  }

  /** Add documents to the persisted model WITHOUT retraining: the
    * delta's counts merge additively at every level and the aggregates
    * re-derive from the merged counts — append == full rebuild on the
    * grown corpus, table-for-table (spec-pinned and oracle-pinned:
    * q_kn_append / q_kn5_append score against the oracle's
    * train-on-union replay). Counts are content-based (no per-doc
    * records), so appending the same documents twice double-counts —
    * idempotency is the CALLER's ledger, exactly as with a real KenLM
    * count merge. */
  def append(
      order: Int, store: TableStore, prefix: String,
      delta: DataFrame, idCol: String, textCol: String): Unit = {
    mergeCounts(order, store, prefix, delta, idCol, textCol, sign = 1L)
    ()
  }

  /** Remove previously-added documents from the persisted model (the
    * GDPR-erasure path): their counts subtract, zero-count rows drop,
    * and the aggregates re-derive — delete == rebuild-without-deleted
    * (spec- and oracle-pinned). The delta must be exactly text the model
    * was trained on; a delta that drives any count negative fails loudly
    * before the swap. */
  def deleteDocs(
      order: Int, store: TableStore, prefix: String,
      docs: DataFrame, idCol: String, textCol: String): Unit = {
    mergeCounts(order, store, prefix, docs, idCol, textCol, sign = -1L)
    ()
  }

  /** The maintenance drill — [[build]] on `train`, [[append]] `delta`,
    * score `docs` against the appended model — with BOTH §2.6 overlaps
    * the sequential form leaves on the table:
    *
    *   1. the delta's [[baseOf]] pass reads only the corpus, so it runs
    *      concurrently with the build's staged writes;
    *   2. the final score reads only the checkpointed MERGED counts
    *      (row-identical to the tables the merge swaps in —
    *      spec-pinned), so it runs concurrently with the merge's staged
    *      writes instead of serially after them.
    *
    * The physical append still happens in full (every table staged and
    * swapped — the store-swap invariant untouched); only the idle
    * cluster time between the independent jobs is removed. Returns the
    * materialized plain-KN score frame (== [[score]] on the post-append
    * store, row for row). */
  private[graft] def appendDrill(
      order: Int, store: TableStore, prefix: String,
      train: DataFrame, delta: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val Seq(_, db) = concurrently[Any](Seq(
      () => { build(order, store, prefix, train, idCol, textCol); () },
      () => baseOf(order, delta, idCol, textCol).localCheckpoint()))
    val base = db.asInstanceOf[DataFrame]
    try mergeCounts(order, store, prefix, delta, idCol, textCol, sign = 1L,
      deltaBase = Some(base), scoreDocs = Some(docs)).get
    finally {
      base.unpersist()
      ()
    }
  }

  /** [[deleteDocs]] with the plain-KN score of `scoreDocs` OVERLAPPED
    * with the merge's staged writes (§2.6) — the clone-then-mutate
    * delete drill's serve side; same row-identity argument as
    * [[appendDrill]]. Returns the materialized score frame. */
  private[graft] def deleteDocsScored(
      order: Int, store: TableStore, prefix: String,
      docs: DataFrame, idCol: String, textCol: String,
      scoreDocs: DataFrame): DataFrame =
    mergeCounts(order, store, prefix, docs, idCol, textCol, sign = -1L,
      scoreDocs = Some(scoreDocs)).get

  /** Versioned rebuild under live serving — the [[LexIndex
    * .rebuildVersioned]] posture: [[build]] writes its tables through
    * SEQUENTIAL atomic swaps, so a serve loading mid-rebuild could pair
    * new counts with old stats; the versioned path builds into a fresh
    * `<name>_g<N>` prefix and publishes it with ONE manifest swap, last
    * ([[graft.io.VersionedIndex]] — CAS-claimed, crash-drilled).
    * `pruneMin`/`maxVocab` pass through to [[build]] (the natural
    * lifecycle for pruned models, which cannot append). */
  def rebuildVersioned(
      order: Int, store: TableStore, name: String,
      train: DataFrame, idCol: String, textCol: String,
      pruneMin: Seq[Long] = Nil, maxVocab: Long = 0L): String =
    graft.io.VersionedIndex.rebuild(store, name, train.sparkSession)(
      p => build(order, store, p, train, idCol, textCol, pruneMin, maxVocab))

  // ---- serve -----------------------------------------------------------------

  /** Load an order's model frames from a store (lazy table reads). Any
    * store built at order >= `order` serves it. */
  def loadModel(order: Int, store: TableStore, prefix: String): KnModel =
    KnModel(order, ListMap(
      tableNames(order).map(t => t -> store.load(s"${prefix}_$t")): _*))

  /** Model frames of the CURRENT generation, pinned: the manifest is
    * resolved once, here — a rebuild publishing mid-serve cannot
    * retarget the returned frames (they read the resolved generation's
    * prefix). Feed to [[scoreFrames]], or pass the resolved prefix to a
    * standing [[graft.stream.EventAnalytics.pplGateEachBatch]]. */
  def loadModelVersioned(
      order: Int, store: TableStore, name: String): KnModel =
    loadModel(order, store, graft.io.VersionedIndex.currentPrefix(store, name))

  /** [[score]] against the current generation (resolved once per call). */
  def scoreVersioned(
      order: Int, store: TableStore, name: String,
      docs: DataFrame, idCol: String, textCol: String,
      smoothing: Smoothing = Kn()): DataFrame =
    scoreFrames(loadModelVersioned(order, store, name), docs, idCol, textCol,
      smoothing)

  /** The reserved-0.5-type-mass OOV branches shared by EVERY serve path
    * (the specs pin them as one recipe; a forked copy is the divergence
    * risk). `btypes`/`total` are the caller's stat columns; the
    * degenerate guards stay INSIDE the otherwise-branch (the lazy
    * CaseWhen ANSI discipline from mknBigramLogProb — ANSI mode errors on
    * double division by zero, and only these branches can divide by a
    * zero stat: a seen continuation/unigram implies its denominator is
    * positive). A model with no bigram types (single-token training
    * docs) or no tokens at all fails with guidance, not DIVIDE_BY_ZERO. */
  private def pcontOOV(btypes: Column): Column =
    when(col("n1c").isNotNull,
      col("n1c").cast("double") / btypes)
      .otherwise(when(btypes > 0.0, lit(0.5) / btypes)
        .otherwise(raise_error(lit("LmIndex: model has no bigram types — " +
          "trained on single-token documents? Rebuild on a corpus with " +
          "adjacent tokens")).cast("double")))

  private def uniPOOV(total: Column): Column =
    when(col("c1").isNotNull,
      col("c1").cast("double") / total)
      .otherwise(when(total > 0.0, lit(0.5) / total)
        .otherwise(raise_error(lit("LmIndex: model is empty (zero " +
          "training tokens)")).cast("double")))

  /** Normalize a context frame for the serve recipes: ensure the
    * PRUNED-MASS column exists (0L when absent). Models written by a
    * count-pruned [[build]] carry real pruned-mass columns in their
    * context tables; unpruned builds (and every model written before
    * pruning existed) do not — the scorers read the column
    * unconditionally, so absence normalizes to zero here, at the join
    * sites, covering stored, inline, and pruner-wrapped frames alike. */
  private def withZero(df: DataFrame, pmName: String): DataFrame =
    if (df.columns.contains(pmName)) df
    else df.withColumn(pmName, lit(0L))

  /** The modified-KN discounts as ONE broadcast row: each level's stored
    * count-of-count tallies renamed to its discount suffix (the bigram
    * level's n1..n4 become b1..b4), then D1/D2/D3+ per level via
    * [[TextAnalysis.mknLevelDiscounts]] — ONE eq.-26 edit point across
    * the inline and persisted scorers (the pcontOOV single-sourcing
    * discipline). Derived from the UNPRUNED stats row, so a probed
    * serve's calibration never depends on its batch. */
  private def discountsRow(
      stats: DataFrame, order: Int,
      fallback: Option[(Double, Double, Double)]): DataFrame = {
    val grams = gramsOf(order)
    val keep = Seq(col("total_tokens"), col("bigram_types"))
    stats.select(keep ++ grams.flatMap(g =>
        (1 to 4).map(j => col(s"${g.tally}$j").as(s"${g.disc}$j"))): _*)
      .select(keep ++ grams.flatMap(g =>
        TextAnalysis.mknLevelDiscounts(g.disc, fallback)): _*)
  }

  /** Score `docs` against a frozen model — the shared recipe every entry
    * point funnels through (the hashUniform single-sourcing principle).
    * Output: (idCol, n_tokens, logprob), the
    * [[TextAnalysis.knBigramLogProb]] contract (1e-6 fixed-point
    * per-token longs, one division at the end). The recursion and the
    * OOV recipe are the object header's.
    *
    * Backoff weight at every level: (D·followers + pm)/cc under [[Kn]],
    * (ΣD_j·bucket_j + pm)/cc under [[Mkn]] — pm is the count mass a
    * pruned build dropped from this context (0 and bit-inert on unpruned
    * models); the tallies count SURVIVING followers, so carrying pm
    * keeps every pruned level a proper distribution (the KN-sums-to-1
    * convention through pruned branches).
    *
    * Scale: the token frame is the fat side — every model join is one
    * exchange of it. Tables fold losslessly by join key (uni+cont on w;
    * at each level below the top the raw k-gram table with its
    * continuation table, and the two context tables): each folded right
    * side's keys are a SUBSET of its host's — an observed (k+1)-gram's
    * suffix k-gram is observed at the same position, a continuation
    * word IS a word — and a row is only consumed when its own branch's
    * guard column is non-null. Context tables must stay their own probes:
    * an unseen event under a SEEN context needs cc without an event-row
    * hit. So the corpus exchanges 2·order − 1 times (3 at order 2, 5 at
    * order 3, 9 at order 5) — the OOV floor; the in-corpus scorers'
    * tighter folds are unsound here. */
  private[graft] def scoreFrames(
      m: KnModel, docs: DataFrame, idCol: String, textCol: String,
      smoothing: Smoothing): DataFrame = {
    val order = m.order
    val pt = TextAnalysis.laggedTokens(
      tokens(docs, idCol, textCol), idCol, lagCols(order))
    val row = smoothing match {
      case Kn(_) => m("stats")
      case Mkn(fb) => discountsRow(m("stats"), order, fb)
    }
    val pcont = pcontOOV(col("bigram_types").cast("double"))
    val uniP = uniPOOV(col("total_tokens").cast("double"))
    def level(g: Gram, lower: Column): Column = {
      val Seq(ccN, nfN, b1N, b2N, b3pN, pmN) = g.ctxCols
      def dbl(c: String) = col(c).cast("double")
      val cnt = col(g.count)
      val seen = smoothing match {
        case Kn(discount) =>
          val d = lit(discount)
          greatest(coalesce(cnt, lit(0L)).cast("double") - d, lit(0.0)) /
            dbl(ccN) + (d * dbl(nfN) + dbl(pmN)) / dbl(ccN) * lower
        case Mkn(_) =>
          def dj(j: Int) = col(s"d$j${g.disc}")
          val lam = (dj(1) * dbl(b1N) + dj(2) * dbl(b2N) + dj(3) * dbl(b3pN)
            + dbl(pmN)) / dbl(ccN)
          val dOfC = when(cnt === 1L, dj(1)).when(cnt === 2L, dj(2))
            .otherwise(dj(3))
          when(cnt.isNotNull, (cnt.cast("double") - dOfC) / dbl(ccN))
            .otherwise(lit(0.0)) + lam * lower
      }
      when(col(ccN).isNotNull, seen).otherwise(lower)
    }
    // contP(j): the continuation chain up to level j+1 (contP(0) = P_cont);
    // raw level k backs off to continuation level k-1.
    val contP = (2 until order).scanLeft(pcont)((lower, k) =>
      level(gram(k, raw = false), lower))
    val lags = lagCols(order)
    val p = (2 until order).foldLeft(when(col("prev").isNull, uniP)) { (acc, k) =>
      acc.when(col(lags(k - 1)).isNull, level(gram(k, raw = true), contP(k - 2)))
    }.otherwise(level(gram(order, raw = true), contP(order - 2)))
    def ctxOf(g: Gram) = withZero(m(g.ctx), g.ctxCols.last)
    val joined = (2 to order).foldLeft(
      pt.join(m("uni").join(m("cont"), Seq("w"), "left"), Seq("w"), "left")) {
      (acc, k) =>
        val r = gram(k, raw = true)
        val (grams, ctxs) =
          if (k == order) (m(r.name), ctxOf(r))
          else {
            val c = gram(k, raw = false)
            (m(r.name).join(m(c.name), r.keys, "left"),
              ctxOf(r).join(ctxOf(c), r.ctxKeys, "left"))
          }
        acc.join(grams, r.keys, "left").join(ctxs, r.ctxKeys, "left")
    }
    joined.crossJoin(broadcast(row))
      .select(col(idCol), round(log(p) * 1e6, 0).cast("long").as("lp"))
      .groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("logprob"))
  }

  /** Inline train-on-A / score-B — no store. With `docs eq train` this is
    * exactly [[TextAnalysis]]'s in-corpus chain of the same order and
    * smoothing (no OOV branch can fire in-corpus; spec-pinned); with all
    * document lengths <= k it reduces to the order-k cross-score. */
  def crossScore(
      order: Int, train: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, smoothing: Smoothing = Kn()): DataFrame =
    scoreFrames(modelFrames(order, train, idCol, textCol), docs, idCol,
      textCol, smoothing)

  /** Score `docs` against the persisted model — reads ONLY the model
    * tables; the training corpus is never touched. The model tables scan
    * in full: right for CORPUS-scale scoring (the CCNet posture — score
    * everything; every vocabulary row is needed). For a small probe
    * batch use [[scoreBatch]], whose table reads prune to the batch's
    * own words. */
  def score(
      order: Int, store: TableStore, prefix: String,
      docs: DataFrame, idCol: String, textCol: String,
      smoothing: Smoothing = Kn()): DataFrame =
    scoreFrames(loadModel(order, store, prefix), docs, idCol, textCol,
      smoothing)

  /** Distinct-word ceiling for [[scoreBatch]]'s literal-IN pruning;
    * session-tunable via `graft.lm.probeMaxWords`. Below it, the batch's
    * words collect to the driver and push down as static IN filters
    * (In/InSet + parquet row-group skipping — the fastest shape at the
    * documented ~10³ words/batch). Above it, NOTHING collects: an
    * oversized batch would inflate the filter expressions and the plan
    * itself (driver memory pressure — the plan carries the literal list
    * per table), so pruning reroutes through a broadcast LEFT SEMI join
    * on the batch's word frame (the [[TextAnalysis]] joinVocab posture:
    * same rows kept, executor-side). The conf value is a TOTAL
    * literal-plan budget: [[batchWordPruner]] divides it by the number
    * of tables it will prune, because the plan cost multiplies by that
    * count — the BASELINE round-16 wide-batch record measured the
    * undivided failure mode (~13k words × 16 order-5 tables = 17 MB task
    * binaries, 82-109 s p50, the plan itself the workload) and the
    * semi-join reroute's recovery (28-38 docs/sec). The default 65536
    * keeps the total literal mass ≈ a few MB at every model order. */
  private[graft] def probeMaxWords(df: DataFrame): Int =
    math.min(
      TextAnalysis.confPositiveLong(df, "graft.lm.probeMaxWords", 65536L),
      Int.MaxValue.toLong).toInt

  /** A batch-vocabulary pruner with its release handle: [[release]]
    * unpins the semi-join regime's checkpointed word frame (a no-op in
    * the IN regime, which materializes nothing). One-shot serve calls
    * ([[scoreBatch]]) return lazy plans and cannot know when the caller
    * is done — they lean on Spark's ContextCleaner to reclaim the frame
    * when it goes unreferenced (the pplBuckets localCheckpoint posture);
    * a STANDING consumer (the streaming gate, which would otherwise leak
    * one checkpoint per oversized micro-batch for the stream's lifetime)
    * must call [[release]] after its sink has consumed the scored rows. */
  private[graft] final class WordPruner(
      f: (DataFrame, Seq[String]) => DataFrame,
      val release: () => Unit) extends ((DataFrame, Seq[String]) => DataFrame) {
    def apply(t: DataFrame, cols: Seq[String]): DataFrame = f(t, cols)
  }

  /** The probed-serve regime switch: returns a pruner that restricts a
    * model table's given word-valued columns to the batch's vocabulary —
    * static IN filters below the effective ceiling (one bounded driver
    * collect; `limit(max+1)` caps the driver at max+1 rows even on a huge
    * batch — the overflow probe IS the word collect when it fits),
    * broadcast LEFT SEMI joins on the word frame above it (no driver
    * collect at any size).
    *
    * The effective ceiling is [[probeMaxWords]] / `prunedTables`: the
    * literal-IN plan cost multiplies by the number of tables pruned
    * (each carries its own copy of the list per key column), and the
    * BASELINE round-16 wide-batch record measured the failure mode —
    * ~13k words × 16 order-5 tables = 17 MB task binaries and the plan
    * itself becoming the workload (probed 6.1 docs/sec vs 28.3 once
    * rerouted to the semi-join). Dividing keeps the TOTAL literal plan
    * mass bounded by the same budget at every model order, so order-5
    * wide batches auto-route executor-side while small probe batches
    * keep the row-group-skipping IN pushdown everywhere (every
    * recorded serve number re-derives the same regime under the
    * divided ceiling). */
  private def batchWordPruner(
      docs: DataFrame, textCol: String, prunedTables: Int): WordPruner = {
    val wordsDf = docs
      .select(explode(TextAnalysis.words(col(textCol))).as("w"))
      .distinct()
    val maxWords = math.max(1, probeMaxWords(docs) / math.max(1, prunedTables))
    val sample: Array[String] =
      wordsDf.limit(maxWords + 1).collect().map(_.getString(0))
    if (sample.length <= maxWords)
      new WordPruner(
        (t, cols) => cols.foldLeft(t)((d, c) => d.filter(col(c).isin(sample: _*))),
        () => ())
    else {
      // Materialize the word frame ONCE, executor-side (no driver rows):
      // each pruned key column broadcasts its own renamed copy, and a
      // rename Project under the BroadcastExchange defeats exchange
      // reuse — without the checkpoint the batch would re-tokenize and
      // re-distinct once per pruned column (13 times at order 3).
      val wordsCp = wordsDf.localCheckpoint()
      new WordPruner(
        (t, cols) => cols.foldLeft(t)((d, c) =>
          d.join(broadcast(wordsCp.withColumnRenamed("w", c)), Seq(c), "left_semi")),
        () => { wordsCp.unpersist(); () })
    }
  }

  /** Restrict every keyed table of a model to `docs`' vocabulary through
    * the [[batchWordPruner]] regime switch, dividing the literal budget
    * by the model's keyed-table count (4 at order 2, 8 at order 3, 16 at
    * order 5). Lossless for scoring `docs`: pruning only drops rows the
    * left joins could never hit — every key outside the batch's
    * vocabulary — and the stats row stays whole, so modified-KN
    * calibration never depends on the batch. Works on stored AND pinned
    * (cached) models: against a cached table the IN filter prunes at
    * in-memory batch granularity via the cached column stats — the
    * key-sorted build layout is what makes those stats selective (the
    * order-3 gate measured 10.0 → 14.7 docs/s from exactly this; parquet
    * row-group skipping remains finer-grained than cached-batch stats,
    * so the probed store path still leads at 18). Returns the pruner's
    * release handle for STANDING consumers ([[WordPruner.release]]). */
  private[graft] def pruneModelR(
      m: KnModel, docs: DataFrame, textCol: String): (KnModel, () => Unit) = {
    val prune = batchWordPruner(docs, textCol, prunedTables = m.tables.size - 1)
    (m.map((t, df) => if (t == "stats") df else prune(df, keysOf(t))),
      prune.release)
  }

  /** [[score]] for a QUERY-BATCH-sized document set — the probed serve
    * shape ([[LexIndex.bm25TopK]]'s convention): every model-table read
    * prunes to the batch's DISTINCT words ([[pruneModelR]]). Below
    * [[probeMaxWords]] they collect once (batch-bounded by construction,
    * never corpus-bounded) and push down as static `IN` filters — the
    * key-sorted parquet layout turns them into row-group skipping, so
    * serve cost is the probed slices, not the vocabulary. Past the
    * ceiling the SAME pruning runs as a broadcast semi-join on the
    * batch's word frame. Row-identical to [[score]] in BOTH regimes
    * (spec-pinned; the probed queries share their full-scan twins'
    * oracle SQL). One batch-tokenization job per call (the word
    * take/collect), the documented serve-call cost. */
  def scoreBatch(
      order: Int, store: TableStore, prefix: String,
      docs: DataFrame, idCol: String, textCol: String,
      smoothing: Smoothing = Kn()): DataFrame =
    scoreFrames(pruneModelR(loadModel(order, store, prefix), docs, textCol)._1,
      docs, idCol, textCol, smoothing)

  /** The LITERAL CCNet gate, composed end to end (Wenzek et al. 2020
    * §4.3 verbatim): language-ID every document
    * ([[TextAnalysis.langDetect]] — content-detected, no label
    * needed), score it against the PERSISTED order-5 modified-KN model
    * (the frozen KenLM serve), split each DETECTED language into `tiles`
    * equal perplexity bands ([[TextAnalysis.pplTiles]] — two-phase
    * histogram rank, so a dominant crawl language never single-reduces),
    * and keep head+middle (`kept` = tile < tiles). Every piece is
    * individually oracle-pinned; this is the composition a user deploys,
    * itself oracle-pinned as q_ccnet_gate.
    *
    * Output: (idCol, predicted_lang, n_tokens, logprob, tile, bucket,
    * kept).
    *
    * Scale: serve reads ONLY the seventeen vocabulary-bounded model
    * tables (the training corpus is never touched — structurally: the
    * model comes from the store); the gated documents scan twice by
    * design (one narrow language-ID pass, one tokenize for scoring —
    * both narrow maps over (id, text)), and the tiling ranks the
    * NARROW scored projection. Works unchanged over a count-pruned
    * and/or vocabulary-capped [[build]] model — the production gate
    * model posture. */
  def ccnetGate(
      store: TableStore, prefix: String,
      docs: DataFrame, idCol: String, textCol: String,
      tiles: Int = 3,
      fallbackDiscounts: Option[(Double, Double, Double)] = None): DataFrame =
    ccnetGateFrom(
      score(5, store, prefix, docs, idCol, textCol, Mkn(fallbackDiscounts)),
      docs, idCol, textCol, tiles)

  /** [[ccnetGate]] over an ALREADY-COMPUTED (shared/persisted) order-5
    * modified-KN score frame — the gate composition alone (langid + join
    * + per-language terciles), so one standing scores frame can serve
    * both the raw scorer surface and the gate (the dsirResampleFrom
    * split applied to the CCNet chain; the scores are deterministic in
    * (model, corpus, discounts)). */
  def ccnetGateFrom(
      scores: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      tiles: Int = 3): DataFrame = {
    val pred = TextAnalysis.langDetect(docs, idCol, textCol)
    TextAnalysis.pplTiles(pred.join(scores, Seq(idCol)),
      idCol, "predicted_lang", tiles)
  }
}

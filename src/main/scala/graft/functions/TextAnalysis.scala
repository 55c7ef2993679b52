package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, and document
  * fingerprinting (SURVEY.md §7.6 / BASELINE.json north-star).
  *
  * Every operator is pure Spark built-ins (codegen'd, shuffle only where an
  * aggregation is inherent) and has a DuckDB-expressible mirror so the
  * oracle harness can hash-verify it. Designed for very wide inputs: all
  * per-document ops are narrow (no shuffle), so they scale linearly with
  * input splits at 100 TB.
  */
object TextAnalysis {

  /** Parse a positive-integer session knob with a curated error: a
    * malformed or non-positive value fails NAMING THE CONF KEY at the
    * call that read it, instead of surfacing as a raw
    * NumberFormatException (or, worse, a negative ceiling reaching
    * `limit(n+1)` and throwing an obscure Spark error mid-plan). Shared
    * by every `graft.*` envelope knob — one parse, one error style. */
  private[graft] def confPositiveLong(
      df: DataFrame, key: String, default: Long): Long =
    df.sparkSession.conf.getOption(key).map { v =>
      val n =
        try v.trim.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a positive integer, got '$v'")
        }
      require(n >= 1L, s"$key must be >= 1, got $n")
      n
    }.getOrElse(default)

  /** Ceiling (rows) under which a VOCABULARY-sized table may broadcast;
    * session-tunable via `graft.vocab.broadcastMaxTerms`. Vocabulary
    * grows with the corpus (Heaps' law: O(10⁷-10⁸) distinct terms at
    * 100 TB) — a multi-GB broadcast that OOMs executors — so joins
    * against term tables must stop broadcasting past this ceiling and go
    * KEYED instead (shuffle on the term key; AQE absorbs stop-word
    * skew). The default 4M rows ≈ tens of MB broadcast for short terms,
    * comfortably inside executor memory. */
  private[graft] def vocabBroadcastMaxTerms(df: DataFrame): Long =
    confPositiveLong(df, "graft.vocab.broadcastMaxTerms", 4000000L)

  /** Join `left` against the vocabulary-sized `vocab` on `keys`.
    *
    * With `vocabRows >= 0` (a sizing count the caller ALREADY HAS — a
    * cached stat, a previous aggregation's count) the switch is explicit:
    * broadcast under `maxBroadcast`, keyed shuffle join above it. The
    * merge hint FORCES the keyed strategy — auto-broadcast of a
    * vocab-sized table is exactly the OOM this switch exists to prevent.
    *
    * With `vocabRows < 0` (unknown — the default) NO sizing job runs:
    * the join is left unhinted, and the broadcast decision falls to
    * Spark's own byte thresholds. Statically that is safe-conservative:
    * an aggregate's size estimate derives from its child's (the full
    * exploded token stream, >= the scan bytes), so a 100 TB corpus can
    * never static-plan a vocab broadcast; at runtime AQE re-plans the
    * sort-merge join into a broadcast join from the MEASURED shuffle
    * size when the vocab is actually small (`spark.sql.adaptive.
    * autoBroadcastJoinThreshold`) — measured bytes cannot undershoot.
    * This replaces the round-8 eager `vocab.count()` sizing pass, which
    * charged every call a full extra aggregation over the token stream
    * just to pick a join strategy. */
  private def joinVocab(
      left: DataFrame, vocab: DataFrame, keys: Seq[String],
      vocabRows: Long, maxBroadcast: Long): DataFrame =
    if (vocabRows < 0) left.join(vocab, keys)
    else if (vocabRows <= maxBroadcast) left.join(broadcast(vocab), keys)
    else left.join(vocab.hint("merge"), keys)

  /** Whitespace tokenization (split on runs of whitespace). */
  def words(text: Column): Column = split(text, "\\s+")

  /** Opt-in positional-join form for the LM lag frames
    * (`graft.lm.positionalJoin`); default false = the window form. */
  private[graft] def positionalJoin(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("graft.lm.positionalJoin").exists { v =>
      v.trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"graft.lm.positionalJoin must be true or false, got '$other'")
      }
    }

  /** Extend a token frame (idCol, pos, w) with lag columns —
    * `lagCols(i)` = the token at pos−(i+1), NULL when the document
    * starts later. Every n-gram LM surface funnels through here; two
    * executable forms, row-identical (spec-pinned):
    *
    *   - WINDOW (default): lag(w, d) over a doc-partitioned window —
    *     one exchange, then ONE SORT PER DOCUMENT. Right for real
    *     corpora (a 5M-doc ×100 corpus is 5M tiny independent sorts),
    *     but a single mis-segmented crawl document of ~100M+ tokens
    *     serializes one task's sort-and-spill (the BASELINE
    *     giant-document adjudication).
    *   - POSITIONAL JOIN (`graft.lm.positionalJoin=true`): each token
    *     explodes to `depth` (target-position, distance) copies and one
    *     hash aggregation on (doc, pos) reassembles the lag row — the
    *     (doc_id, pos−d) self-join family collapsed to a SINGLE
    *     exchange (all copies of a target position meet in one reducer;
    *     max-of-the-one-value per distance is the join). No per-doc
    *     sort anywhere: a giant document spreads over every hash
    *     partition. Costs depth× exploded rows through the exchange and
    *     loses the window's streaming evaluation, so it is opt-in, not
    *     the default.
    *
    * Rows whose target position holds no token (shifted copies past the
    * document end) carry NULL `w` and are dropped — the output is
    * exactly the window form's rows.
    *
    * PRECONDITION: (idCol, pos) pairs must be UNIQUE — the contract of
    * every token frame this family produces (one row per token
    * position of one document). On duplicate ids the two forms
    * diverge: the positional join's (doc, pos) hash aggregation
    * collapses the duplicates via max(), while the window form emits
    * one lag row per input row — so the spec-pinned row-identity holds
    * only for unique pairs. Callers feeding externally-sourced token
    * frames must dedup ids first (the tokenize paths here cannot
    * produce duplicates by construction). */
  private[graft] def laggedTokens(
      toks: DataFrame, idCol: String, lagCols: Seq[String]): DataFrame = {
    val depth = lagCols.length + 1
    if (!positionalJoin(toks)) {
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(idCol).orderBy("pos")
      lagCols.zipWithIndex.foldLeft(toks) { case (df, (c, i)) =>
        df.withColumn(c, lag(col("w"), i + 1).over(win))
      }
    } else {
      val shifts = (0 until depth)
        .map(d => s"struct(pos + $d AS p, $d AS d)").mkString(", ")
      toks
        .select(col(idCol), col("w"), explode(expr(s"array($shifts)")).as("sh"))
        .select(col(idCol), col("w"),
          col("sh.p").as("pos"), col("sh.d").as("d"))
        .groupBy(col(idCol), col("pos"))
        .agg(
          max(when(col("d") === 0, col("w"))).as("w"),
          lagCols.zipWithIndex.map { case (c, i) =>
            max(when(col("d") === i + 1, col("w"))).as(c)
          }: _*)
        .filter(col("w").isNotNull)
        .select(col(idCol) +: col("pos") +: col("w") +: lagCols.map(col): _*)
    }
  }

  /** Accent-fold mapping (public Latin-1/Latin-Extended folds, 1:1 — the
    * subset `translate` can express; both engines apply it identically). */
  private val AccentFrom = "àáâãäåèéêëìíîïòóôõöùúûüçñý"
  private val AccentTo = "aaaaaaeeeeiiiiooooouuuucny"

  /** Canonical text normalization for dedup keys and matching: lowercase,
    * fold accents (fixed 1:1 mapping), collapse whitespace runs, trim.
    * Pure narrow map (no shuffle); the canonical form every exact-dedup /
    * join-on-text pass should key on, so "Café  Noir" and "cafe noir"
    * collapse. Deliberately NOT locale-sensitive (no Turkish-İ, no ß
    * expansion — 1:1 folds only) so Spark and the DuckDB oracle agree
    * byte-for-byte. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      translate(lower(text), AccentFrom, AccentTo), "\\s+", " "))

  def wordCount(text: Column): Column = size(words(text))

  /** BPE-ish subword count: greedy 1-3 char alnum chunks — a deterministic,
    * tokenizer-free proxy for subword token counts. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]{1,3}"), lit(0)))

  /** Punctuation ratio over characters. */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(text, "[^A-Za-z0-9\\s]", "")
    round((length(text) - length(stripped)).cast("double") /
      greatest(length(text), lit(1)).cast("double"), 6)
  }

  /** Tiny per-language stopword lists (public-knowledge function words).
    * Deliberately small: the operator contract is deterministic counting,
    * not linguistic coverage — swap lists freely. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "una", "y"),
    "fr" -> Seq("le", "les", "et", "est", "dans"),
    "zh" -> Seq("的", "是", "了", "和", "在"))

  /** Per-language stopword hit counts over the token array (no shuffle:
    * higher-order array filter, not explode+groupBy). */
  def stopwordHits(text: Column, wordsOf: Seq[String]): Column =
    size(filter(words(text), w => w.isInCollection(wordsOf)))

  /** Language-ID by stopword voting: argmax of per-language hit counts with
    * a fixed priority order (en, de, es, fr, zh) as the deterministic
    * tie-break. Returns (hit-count columns, predicted-language column). */
  def langScores(textCol: String): Seq[(String, Column)] =
    stopwords.map { case (lang, ws) =>
      s"hits_$lang" -> stopwordHits(col(textCol), ws)
    }

  def langPredict(hitCols: Seq[String]): Column = {
    // CASE w >= all-others in priority order — first max wins.
    val langs = stopwords.map(_._1)
    langs.zip(hitCols).foldRight(lit(langs.last)) { case ((lang, c), els) =>
      val beatsAll = hitCols.filter(_ != c)
        .map(o => col(c) >= col(o))
        .reduceOption(_ && _).getOrElse(lit(true))
      when(beatsAll, lit(lang)).otherwise(els)
    }
  }

  /** Content-detected language per document — [[langMismatch]]'s
    * detection half without a label column (the CCNet pipeline's LID
    * step: language comes from the TEXT, labels may not exist). Pure
    * narrow map (stopword-voting [[langPredict]], no shuffle); returns
    * (idCol, predicted_lang). */
  def langDetect(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = langScores(textCol).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    scored.select(col(idCol),
      langPredict(stopwords.map(l => s"hits_${l._1}")).as("predicted_lang"))
  }

  /** Labeled-vs-detected language mismatch filter (the CCNet curation gate:
    * drop documents whose claimed language disagrees with content-detected
    * language — mislabeled crawls poison language-balanced sampling).
    * Pure narrow map (detection is the stopword-voting langPredict, no
    * shuffle), so it scales linearly with input splits. Returns every
    * document with the labeled language, the detected language, and the
    * mismatch flag; the filter is `!is_mismatch`. */
  def langMismatch(
      df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val scored = langScores(textCol).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    scored.select(col(idCol), col(langCol),
      langPredict(stopwords.map(l => s"hits_${l._1}")).as("predicted_lang"))
      .withColumn("is_mismatch", col(langCol) =!= col("predicted_lang"))
  }

  /** Corpus-unigram log-probability score — the CCNet-style language-model
    * filter stand-in: each document scores the mean log-likelihood of its
    * tokens under the corpus's own unigram distribution. Gibberish and
    * rare-token soup score low; common fluent text scores high. The real
    * pipeline swaps the corpus unigram table for a pretrained LM's.
    *
    * Determinism: per-token log-probs are fixed-pointed to 1e-6
    * (round-half-away-from-zero in both engines) and summed as LONGS —
    * order-independent, so the result hash-matches the oracle regardless
    * of partitioning. Cost: one vocab aggregation + one token→count join
    * + one per-doc aggregation — plan construction is FULLY LAZY (no
    * sizing job). The vocab join AUTO-SWITCHES via [[joinVocab]]: pass
    * `vocabRows` (a count you already have) for the explicit
    * [[vocabBroadcastMaxTerms]] row switch; by default AQE sizes the
    * join from the measured vocab bytes. The 1-row `total` broadcast is
    * scale-free either way.
    */
  def unigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      vocabRows: Long = -1L): DataFrame = {
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("w"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).cast("double").as("total"))
    val fixed = joinVocab(toks, freq, Seq("w"),
        vocabRows, vocabBroadcastMaxTerms(df))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        round(log(col("cnt").cast("double") / col("total")) * 1e6, 0)
          .cast("long").as("lp"))
    fixed.groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).as("n"))
      .select(col(idCol), col("n").cast("long").as("n_tokens"),
        round(col("s").cast("double") / col("n").cast("double") / lit(1e6), 6)
          .as("logprob"))
  }

  /** Char-trigram Naive-Bayes language ID — the TextCat/fastText-family
    * method, one modeling step past stopword voting ([[langPredict]]):
    * per-language character-trigram profiles are TRAINED from the corpus's
    * own labeled documents (Laplace-smoothed multinomial), then every
    * document is scored `Σ_tri ln((c(lang,tri)+1)/(tot_lang+V))` and
    * labeled by argmax (tie → the fixed language priority order). Catches
    * what stopword lists can't: short texts, close language pairs, and
    * languages whose function words never made a list.
    *
    * Scale: the trigram-profile table is charset-bounded (grouped wide by
    * trigram, one row per distinct trigram) and joins KEYED on trigram;
    * per-trigram log-probs are fixed-pointed to 1e-6 LONGS before the
    * per-document sum, so scores are partition-order-independent and
    * oracle-verifiable. Documents shorter than one trigram score 0
    * everywhere and fall to the priority tie-break. */
  def charTrigramLangId(
      df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val langs = stopwords.map(_._1)
    val tris = df.select(col(idCol), col(langCol),
      explode(when(length(col(textCol)) >= 3,
        transform(sequence(lit(1), length(col(textCol)) - 2),
          i => col(textCol).substr(i, lit(3))))
        .otherwise(array().cast("array<string>"))).as("tri"))
    // The profile table is CHARSET-BOUNDED (one row per distinct
    // trigram) but both `tots` and `triScores` derive from it — lazy, the
    // corpus explode + pivot ran THREE times in one plan (the totals
    // aggregation, the score table, and the scoring join each re-derived
    // it; plans/r18/q_langid_trigram_before.txt shows three
    // documents.parquet explode subtrees). Checkpoint the bounded
    // profile once (§1.2: don't compute things twice); training cost is
    // then exactly ONE profile pass + the scoring pass — the two
    // inherent corpus explodes of train+score-in-one-query (r14
    // adjudication; the per-(doc,tri) pre-aggregation stays MEASURED
    // WORSE — 7.8 vs 6.9 s at sf0.1 — don't "optimize" it back in).
    val counts = tris.groupBy("tri").pivot(langCol, langs).count()
      .localCheckpoint()
    val totAggs = langs.map(l =>
      sum(coalesce(col(l), lit(0L))).cast("long").as(s"tot_$l")) :+
      count(lit(1)).cast("long").as("v")
    val tots = counts.agg(totAggs.head, totAggs.tail: _*)
    // Per-trigram log-scores are computed ONCE on the charset-bounded
    // profile table (V rows × |langs| logs each), not per occurrence —
    // the occurrence join then moves only pre-rounded longs. Bit-
    // identical to inlining the math per occurrence (same values, same
    // 1e-6 rounding).
    val triScores = counts.crossJoin(broadcast(tots))
      .select(col("tri") +: langs.map(l =>
        round(log((coalesce(col(l), lit(0L)).cast("double") + 1.0) /
          (col(s"tot_$l").cast("double") + col("v").cast("double"))) * 1e6, 0)
          .cast("long").as(s"s_$l")): _*)
    // BROADCAST the bounded score table and stream the corpus-scale
    // occurrence frame (§3.1): the size-estimated plan had it BACKWARDS
    // (the corpus explode broadcast, the profile streamed) — at scale
    // the occurrence side must never build a hash relation.
    val scored = tris.join(broadcast(triScores), Seq("tri"))
      .select(col(idCol) +: langs.map(l => col(s"s_$l")): _*)
    val perDoc = scored.groupBy(idCol)
      .agg(sum(col(s"s_${langs.head}")).as(s"score_${langs.head}"),
        langs.tail.map(l => sum(col(s"s_$l")).as(s"score_$l")): _*)
    val scoreCols = langs.map(l => s"score_$l")
    val withScores = df.select(col(idCol), col(langCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol) +: col(langCol) +:
        scoreCols.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    val predicted = langs.zip(scoreCols).foldRight(lit(langs.last)) {
      case ((lang, c), els) =>
        val beatsAll = scoreCols.filter(_ != c)
          .map(o => col(c) >= col(o))
          .reduceOption(_ && _).getOrElse(lit(true))
        when(beatsAll, lit(lang)).otherwise(els)
    }
    withScores.select(col(idCol), col(langCol),
      predicted.as("predicted_lang"))
      .withColumn("is_match", col(langCol) === col("predicted_lang"))
  }

  /** Bigram-backoff LM score — one modeling step past [[unigramLogProb]]
    * toward the real CCNet filter (KenLM n-gram): each token scores
    * `ln(λ·P_ml(w|prev) + (1−λ)·P(w))`, interpolating the corpus bigram
    * maximum-likelihood estimate with the unigram backoff; a document's
    * first token (no context) scores pure unigram. Word salad scores far
    * lower than under the unigram model because random adjacency is
    * penalized even when the individual words are common.
    *
    * Determinism: identical fixed-point contract to unigramLogProb —
    * per-token log-probs rounded to 1e-6 and summed as LONGS. Scale: the
    * bigram table grows with corpus bigram vocabulary, so it joins KEYED
    * on (prev, w) — never broadcast (unlike the unigram table); AQE
    * handles stop-bigram skew. One extra shuffle vs unigram. */
  def bigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val pt = laggedTokens(toks, idCol, Seq("prev"))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("total"))
    val big = pt.filter(col("prev").isNotNull)
      .groupBy("prev", "w").agg(count(lit(1)).cast("long").as("c2"))
    val ctx = big.groupBy("prev").agg(sum(col("c2")).cast("long").as("cc"))
    val uniP = col("c1").cast("double") / col("total")
    val bigP = lit(lambda) * (col("c2").cast("double") / col("cc").cast("double")) +
      lit(1 - lambda) * uniP
    pt.join(uni, Seq("w"))
      .crossJoin(broadcast(tot))
      .join(big.join(ctx, Seq("prev")), Seq("prev", "w"), "left")
      .select(col(idCol),
        round(log(when(col("prev").isNull, uniP).otherwise(bigP)) * 1e6, 0)
          .cast("long").as("lp"))
      .groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("logprob"))
  }

  /** Trigram-interpolation LM score — one more backoff level past
    * [[bigramLogProb]] toward the real CCNet filter (KenLM n-gram): a token
    * with two tokens of context scores
    * `ln(l3·P_ml(w|p2,p1) + l2·P_ml(w|p1) + l1·P(w))` (deleted
    * interpolation); the second token falls back to the bigram mixture
    * `ln(b2·P_ml(w|p1) + b1·P(w))` and the first scores pure unigram.
    * Random adjacency is now penalized at two context lengths — template
    * text and word salad separate even further than under the bigram model.
    *
    * All mixture weights are EXPLICIT parameters (no `1 - λ` driver-side
    * arithmetic): `1 - 0.7` in binary floating point is 0.30000000000000004,
    * one ulp off the SQL literal `0.3` the oracle evaluates — passing both
    * weights keeps the two engines' arithmetic bit-identical.
    *
    * Determinism: identical fixed-point contract to unigramLogProb —
    * per-token log-probs rounded to 1e-6 and summed as LONGS. Scale: the
    * trigram table grows with corpus trigram vocabulary, so it joins KEYED
    * on (prev2, prev1, w) — never broadcast; within one corpus every
    * token's own (prev2, prev1) context necessarily occurred, so the
    * context-count joins never miss for in-range positions. Two extra
    * keyed shuffles vs unigram. */
  def trigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      l3: Double = 0.5, l2: Double = 0.3, l1: Double = 0.2,
      b2: Double = 0.7, b1: Double = 0.3): DataFrame = {
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-9 && math.abs(b2 + b1 - 1.0) < 1e-9,
      "interpolation weights must sum to 1")
    val toks = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val pt = laggedTokens(toks, idCol, Seq("prev1", "prev2"))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("total"))
    val big = pt.filter(col("prev1").isNotNull)
      .groupBy("prev1", "w").agg(count(lit(1)).cast("long").as("c2"))
    val ctx2 = big.groupBy("prev1").agg(sum(col("c2")).cast("long").as("cc2"))
    val tri = pt.filter(col("prev2").isNotNull)
      .groupBy("prev2", "prev1", "w").agg(count(lit(1)).cast("long").as("c3"))
    val ctx3 = tri.groupBy("prev2", "prev1").agg(sum(col("c3")).cast("long").as("cc3"))
    val uniP = col("c1").cast("double") / col("total")
    val bigMl = col("c2").cast("double") / col("cc2").cast("double")
    val triMl = col("c3").cast("double") / col("cc3").cast("double")
    val p = when(col("prev1").isNull, uniP)
      .when(col("prev2").isNull, lit(b2) * bigMl + lit(b1) * uniP)
      .otherwise(lit(l3) * triMl + lit(l2) * bigMl + lit(l1) * uniP)
    pt.join(uni, Seq("w"))
      .crossJoin(broadcast(tot))
      .join(big.join(ctx2, Seq("prev1")), Seq("prev1", "w"), "left")
      .join(tri.join(ctx3, Seq("prev2", "prev1")), Seq("prev2", "prev1", "w"), "left")
      .select(col(idCol),
        round(log(p) * 1e6, 0).cast("long").as("lp"))
      .groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("logprob"))
  }

  /** Interpolated Kneser-Ney bigram LM score — the smoothing family the
    * REAL CCNet filter uses (Wenzek et al. 2020 score with a KenLM model;
    * KenLM implements modified Kneser-Ney, Heafield 2011). The deleted-
    * interpolation scorers above back off to the unigram FREQUENCY
    * distribution, which over-scores words that are frequent but occur in
    * few contexts ("Francisco" appears often, almost only after "San");
    * Kneser-Ney backs off to the CONTINUATION distribution — how many
    * distinct contexts a word follows — with absolute discounting
    * (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.26):
    *
    *   P(w|prev) = max(c(prev,w) − D, 0)/c(prev)
    *             + D · N1+(prev,•)/c(prev) · N1+(•,w)/|bigram types|
    *
    * Scoring the training corpus itself, every non-initial (prev,w) was
    * observed (c ≥ 1 > D), so the max() never zeroes and the formula is
    * total; a document's FIRST token has no bigram context and scores
    * maximum-likelihood unigram (the continuation distribution is
    * undefined for words only ever seen document-initial — their
    * continuation count is 0).
    *
    * Determinism: identical fixed-point contract to the other LM scorers
    * — per-token ln(p) rounded to 1e-6 LONGS, summed, divided once.
    * Every input to ln() is built from exact integer counts by IEEE
    * divide/multiply/add, so both engines compute bit-identical doubles.
    *
    * Scale: the same shuffle structure as [[bigramLogProb]] — one
    * corpus-scale token frame ranked per doc (window per doc_id), then
    * KEYED joins against vocabulary-bounded count tables (the bigram
    * table is the largest; never broadcast). The three extra Kneser-Ney
    * aggregates (distinct followers per context, continuation counts per
    * word, total bigram types) all derive from the bigram-count table —
    * vocabulary-bounded, map-side combined, no extra corpus pass. */
  def knBigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame =
    // Single-sourced on the frozen-model scorer (train == score corpus):
    // in-corpus, every non-initial (prev, w) was observed, so none of the
    // scorer's OOV branches can fire and the result is the textbook
    // in-corpus Kneser-Ney score. One formula, one edit point — the
    // hashUniform principle applied to smoothing arithmetic.
    LmIndex.crossScore(2, df, df, idCol, textCol, LmIndex.Kn(discount))

  /** Interpolated Kneser-Ney TRIGRAM score — the recursive KN chain at
    * order 3 (Chen & Goodman 1999 §4; KenLM runs this recursion at
    * order 5): the top level discounts raw trigram counts; the MIDDLE
    * level is the continuation bigram — counts are "how many distinct
    * left-contexts produced this bigram" (N1+(•,p1,w)), NOT raw bigram
    * frequency; the bottom level is the continuation unigram over
    * bigram types. A token with two tokens of context scores
    *
    *   P(w|p2,p1) = max(c3−D,0)/cc3 + D·N1+(p2,p1,•)/cc3 · P_KN(w|p1)
    *   P_KN(w|p1) = max(N1+(•,p1,w)−D,0)/N1+(•,p1,•)
    *              + D·N1+(p1,*)/N1+(•,p1,•) · P_cont(w)
    *
    * (N1+(p1,*) = distinct continuation types after p1). The second
    * token of a document falls back to the COUNT-based bigram KN
    * ([[knBigramLogProb]]'s formula — at the top of a backoff chain
    * raw counts are correct; continuation counts replace them only
    * BELOW the top level), and the first token scores MLE unigram. One
    * fixed discount D at both levels (the interpolated-KN flavor;
    * [[mknBigramLogProb]] shows the estimated-discount variant).
    *
    * In-corpus totality: position ≥ 3 implies the token's own trigram
    * is in the table, so cc3 ≥ 1, N1+(•,p1,w) ≥ 1, N1+(•,p1,•) ≥ 1 —
    * no OOV branch exists. Scale: all SEVEN model aggregates derive
    * from the token stream's trigram/bigram tables (vocabulary-bounded,
    * keyed joins, never broadcast); same fixed-point contract as the
    * whole LM family. */
  def knTrigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val toks = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val pt = laggedTokens(toks, idCol, Seq("prev1", "prev2"))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("total"))
    val big = pt.filter(col("prev1").isNotNull)
      .groupBy("prev1", "w").agg(count(lit(1)).cast("long").as("c2"))
    val ctx = big.groupBy("prev1").agg(
      sum(col("c2")).cast("long").as("cc"),
      count(lit(1)).cast("long").as("n1f"))
    val cont = big.groupBy("w").agg(count(lit(1)).cast("long").as("n1c"))
    val btot = big.agg(count(lit(1)).cast("double").as("btypes"))
    val tri = pt.filter(col("prev2").isNotNull)
      .groupBy("prev2", "prev1", "w").agg(count(lit(1)).cast("long").as("c3"))
    val ctx3 = tri.groupBy("prev2", "prev1").agg(
      sum(col("c3")).cast("long").as("cc3"),
      count(lit(1)).cast("long").as("n1f3"))
    // Continuation-bigram tables: one row of m2 per (p1, w) counts the
    // DISTINCT p2 that produced it (each tri row is one).
    val m2 = tri.groupBy("prev1", "w").agg(count(lit(1)).cast("long").as("mcount"))
    val mctx = m2.groupBy("prev1").agg(
      sum(col("mcount")).cast("long").as("mcc"),
      count(lit(1)).cast("long").as("n1f2c"))
    val uniP = col("c1").cast("double") / col("total")
    val contP = col("n1c").cast("double") / col("btypes")
    val bigKn = greatest(col("c2").cast("double") - lit(discount), lit(0.0)) /
      col("cc").cast("double") +
      lit(discount) * col("n1f").cast("double") / col("cc").cast("double") * contP
    val midKn = greatest(col("mcount").cast("double") - lit(discount), lit(0.0)) /
      col("mcc").cast("double") +
      lit(discount) * col("n1f2c").cast("double") / col("mcc").cast("double") * contP
    val triKn = greatest(col("c3").cast("double") - lit(discount), lit(0.0)) /
      col("cc3").cast("double") +
      lit(discount) * col("n1f3").cast("double") / col("cc3").cast("double") * midKn
    val p = when(col("prev1").isNull, uniP)
      .when(col("prev2").isNull, bigKn)
      .otherwise(triKn)
    // Fold the model tables by join key before touching the corpus-scale
    // token frame: the w-keyed pair (uni, cont — cont's keys ⊆ uni's)
    // and the (prev1, w)-keyed pair (big⋈ctx, m2⋈mctx — every scored
    // position ≥ 3 contributed its own trigram, so its (p1, w) has an
    // m2 row and the fold can never null a consumed column) each become
    // ONE probe. The token frame shuffles three times (w, (p1,w),
    // (p2,p1,w)) instead of five.
    val wM = uni.join(cont, Seq("w"), "left")
    val bigM = big.join(ctx, Seq("prev1"))
      .join(m2.join(mctx, Seq("prev1")), Seq("prev1", "w"), "left")
    pt.join(wM, Seq("w"))
      .crossJoin(broadcast(tot))
      .join(bigM, Seq("prev1", "w"), "left")
      .crossJoin(broadcast(btot))
      .join(tri.join(ctx3, Seq("prev2", "prev1")), Seq("prev2", "prev1", "w"), "left")
      .select(col(idCol),
        round(log(p) * 1e6, 0).cast("long").as("lp"))
      .groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("logprob"))
  }

  /** MODIFIED Kneser-Ney bigram score — the exact smoothing KenLM
    * defaults to (Heafield 2011), i.e. what the literal CCNet filter
    * computes: instead of one absolute discount, three count-bucketed
    * discounts D1/D2/D3+ ESTIMATED FROM THE CORPUS's count-of-count
    * statistics (Chen & Goodman 1999 §3, eq. 26):
    *
    *   Y  = n1 / (n1 + 2·n2)
    *   D1 = 1 − 2Y·n2/n1,  D2 = 2 − 3Y·n3/n2,  D3+ = 3 − 4Y·n4/n3
    *   λ(prev) = (D1·N1(prev) + D2·N2(prev) + D3+·N3+(prev)) / c(prev)
    *   P(w|prev) = (c(prev,w) − D(c)) / c(prev) + λ(prev)·P_cont(w)
    *
    * where n_k = #bigram types with count k and N_k(prev) = #followers
    * of `prev` with count k. Like KenLM, a corpus whose n1/n2/n3 is zero,
    * or whose estimate puts some D_j outside [0, j], cannot calibrate the
    * discounts ([[mknLevelDiscounts]]): `fallbackDiscounts` is KenLM's
    * `--discount_fallback` — a fixed (D1, D2, D3+) substituted when
    * calibration is impossible (KenLM's own default is 0.5/1.0/1.5;
    * small dense corpora whose every bigram repeats are exactly the
    * case the flag exists for). Without it the plan raises a curated
    * error (KenLM: "Could not calculate Kneser-Ney discounts") instead
    * of dividing by zero — every estimate lives in the non-degenerate
    * branch of a CaseWhen (branches evaluate lazily), so ANSI mode's
    * double-division-by-zero can never preempt the curated path. First
    * tokens score MLE unigram; the continuation distribution and the
    * 1e-6 fixed-point contract match [[knBigramLogProb]]. All new
    * aggregates (count-of-counts, per-context count buckets) derive
    * from the bigram table — no extra corpus pass; the discounts frame
    * is ONE broadcast row. */
  /** The k-th discount of a level that cannot be calibrated
    * ([[mknLevelDiscounts]]): the caller's fallback value, or the curated
    * calibration error when none was given. */
  private[graft] def degenDiscount(
      fallback: Option[(Double, Double, Double)], k: Int): Column =
    fallback match {
      case Some((f1, f2, f3)) =>
        lit(k match { case 1 => f1; case 2 => f2; case _ => f3 })
      case None =>
        raise_error(lit("could not calibrate modified Kneser-Ney " +
          "discounts — an n-gram level has no types at count 1, 2, or 3, " +
          "or its estimated D1/D2/D3+ fall outside KenLM's range [0, j] " +
          "(KenLM fails identically without --discount_fallback); pass " +
          "fallbackDiscounts, e.g. KenLM's default (0.5, 1.0, 1.5)"))
          .cast("double")
    }

  def mknBigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      fallbackDiscounts: Option[(Double, Double, Double)] = None): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val pt = laggedTokens(toks, idCol, Seq("prev"))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("total"))
    val big = pt.filter(col("prev").isNotNull)
      .groupBy("prev", "w").agg(count(lit(1)).cast("long").as("c2"))
    val ctx = big.groupBy("prev").agg(
      sum(col("c2")).cast("long").as("cc"),
      sum(when(col("c2") === 1L, 1L).otherwise(0L)).cast("long").as("nf1"),
      sum(when(col("c2") === 2L, 1L).otherwise(0L)).cast("long").as("nf2"),
      sum(when(col("c2") >= 3L, 1L).otherwise(0L)).cast("long").as("nf3p"))
    val cont = big.groupBy("w").agg(count(lit(1)).cast("long").as("n1c"))
    // Count-of-counts + total types in ONE pass over the bigram table;
    // the discounts (or the fallback/curated error) come from the one
    // eq.-26 edit point, mknLevelDiscounts.
    val disc = big.agg(
        count(lit(1)).cast("double").as("btypes"),
        sum(when(col("c2") === 1L, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("c2") === 2L, 1L).otherwise(0L)).cast("long").as("n2"),
        sum(when(col("c2") === 3L, 1L).otherwise(0L)).cast("long").as("n3"),
        sum(when(col("c2") === 4L, 1L).otherwise(0L)).cast("long").as("n4"))
      .select(col("btypes") +: mknLevelDiscounts("n", fallbackDiscounts): _*)
      .select(col("btypes"), col("d1n").as("d1"), col("d2n").as("d2"),
        col("d3n").as("d3"))
    val uniP = col("c1").cast("double") / col("total")
    val dOfC = when(col("c2") === 1L, col("d1"))
      .when(col("c2") === 2L, col("d2")).otherwise(col("d3"))
    val lam = (col("d1") * col("nf1").cast("double")
      + col("d2") * col("nf2").cast("double")
      + col("d3") * col("nf3p").cast("double")) / col("cc").cast("double")
    val p = when(col("prev").isNull, uniP).otherwise(
      (col("c2").cast("double") - dOfC) / col("cc").cast("double")
        + lam * (col("n1c").cast("double") / col("btypes")))
    pt.join(uni, Seq("w"))
      .crossJoin(broadcast(tot))
      .join(big.join(ctx, Seq("prev")).join(cont, Seq("w")),
        Seq("prev", "w"), "left")
      .crossJoin(broadcast(disc))
      .select(col(idCol),
        round(log(p) * 1e6, 0).cast("long").as("lp"))
      .groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("logprob"))
  }

  /** MODIFIED Kneser-Ney at ORDER 3 — the literal KenLM shape: the
    * order-3 recursion of [[knTrigramLogProb]] with
    * [[mknBigramLogProb]]'s count-bucketed discounts estimated PER
    * LEVEL from that level's own count-of-count statistics (KenLM
    * calibrates D1/D2/D3+ per order; Chen & Goodman 1999 eq. 26):
    *
    *   P(w|p2,p1) = (c3 − D_t(c3))/cc3 + λ_t(p2,p1) · P_m(w|p1)
    *   P_m(w|p1)  = (N1+(•,p1,w) − D_m)/N1+(•,p1,•) + λ_m(p1) · P_cont(w)
    *   λ_x(ctx)   = (D1_x·N1(ctx) + D2_x·N2(ctx) + D3+_x·N3+(ctx)) / total(ctx)
    *
    * with the trigram level's discounts from trigram count-of-counts
    * (t1..t4), the middle level's from the CONTINUATION-BIGRAM counts'
    * own count-of-counts (m1..m4 — how many (p1,w) pairs have exactly k
    * distinct left contexts), and the second-token fallback running
    * [[mknBigramLogProb]]'s formula with the bigram-level estimates.
    * First tokens score MLE unigram. A level whose n1/n2/n3 bucket is
    * empty cannot calibrate: `fallbackDiscounts` substitutes KenLM's
    * --discount_fallback PER LEVEL, else the curated error — and the
    * discount row materializes all three levels' estimates, so a corpus
    * with no trigrams at all still needs the fallback (KenLM likewise
    * refuses an order it cannot calibrate). Every estimate lives in a
    * lazy CaseWhen branch (the ANSI division discipline).
    *
    * Scale: identical join/shuffle structure to [[knTrigramLogProb]]
    * (the 3-exchange in-corpus fold) — the bucket tallies ride the
    * aggregations that already scan the bigram/trigram tables, and the
    * nine per-level discounts are ONE broadcast row. Same 1e-6
    * fixed-point contract as the whole LM family. */
  def mknTrigramLogProb(
      df: DataFrame, idCol: String, textCol: String,
      fallbackDiscounts: Option[(Double, Double, Double)] = None): DataFrame = {
    val toks = df.select(col(idCol),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val pt = laggedTokens(toks, idCol, Seq("prev1", "prev2"))
    val uni = toks.groupBy("w").agg(count(lit(1)).cast("long").as("c1"))
    val tot = uni.agg(sum(col("c1")).cast("double").as("total"))
    val big = pt.filter(col("prev1").isNotNull)
      .groupBy("prev1", "w").agg(count(lit(1)).cast("long").as("c2"))
    val ctx = big.groupBy("prev1").agg(
      sum(col("c2")).cast("long").as("cc"),
      sum(when(col("c2") === 1L, 1L).otherwise(0L)).cast("long").as("nf1"),
      sum(when(col("c2") === 2L, 1L).otherwise(0L)).cast("long").as("nf2"),
      sum(when(col("c2") >= 3L, 1L).otherwise(0L)).cast("long").as("nf3p"))
    val cont = big.groupBy("w").agg(count(lit(1)).cast("long").as("n1c"))
    val tri = pt.filter(col("prev2").isNotNull)
      .groupBy("prev2", "prev1", "w").agg(count(lit(1)).cast("long").as("c3"))
    val ctx3 = tri.groupBy("prev2", "prev1").agg(
      sum(col("c3")).cast("long").as("cc3"),
      sum(when(col("c3") === 1L, 1L).otherwise(0L)).cast("long").as("tf1"),
      sum(when(col("c3") === 2L, 1L).otherwise(0L)).cast("long").as("tf2"),
      sum(when(col("c3") >= 3L, 1L).otherwise(0L)).cast("long").as("tf3p"))
    val m2 = tri.groupBy("prev1", "w").agg(count(lit(1)).cast("long").as("mcount"))
    val mctx = m2.groupBy("prev1").agg(
      sum(col("mcount")).cast("long").as("mcc"),
      sum(when(col("mcount") === 1L, 1L).otherwise(0L)).cast("long").as("mf1"),
      sum(when(col("mcount") === 2L, 1L).otherwise(0L)).cast("long").as("mf2"),
      sum(when(col("mcount") >= 3L, 1L).otherwise(0L)).cast("long").as("mf3p"))
    // coalesce: a LEVEL with no events at all (e.g. no trigrams in a
    // 2-token-doc corpus) sums to NULL, which would NULL-skip the
    // degenerate check instead of taking the fallback/curated error.
    def countOfCounts(t: DataFrame, c: String, p: String): DataFrame = t.agg(
      count(lit(1)).cast("long").as(s"${p}types"),
      coalesce(sum(when(col(c) === 1L, 1L).otherwise(0L)), lit(0L)).cast("long").as(s"${p}1"),
      coalesce(sum(when(col(c) === 2L, 1L).otherwise(0L)), lit(0L)).cast("long").as(s"${p}2"),
      coalesce(sum(when(col(c) === 3L, 1L).otherwise(0L)), lit(0L)).cast("long").as(s"${p}3"),
      coalesce(sum(when(col(c) === 4L, 1L).otherwise(0L)), lit(0L)).cast("long").as(s"${p}4"))
    val disc = countOfCounts(big, "c2", "b")
      .crossJoin(countOfCounts(tri, "c3", "t"))
      .crossJoin(countOfCounts(m2, "mcount", "m"))
      .select(col("btypes").cast("double").as("btypes") +:
        Seq("b", "t", "m").flatMap(p => mknLevelDiscounts(p, fallbackDiscounts)): _*)
    val uniP = col("c1").cast("double") / col("total")
    val pcont = col("n1c").cast("double") / col("btypes")
    def dOf(c: Column, p: String): Column =
      when(c === 1L, col(s"d1$p")).when(c === 2L, col(s"d2$p"))
        .otherwise(col(s"d3$p"))
    val lamB = (col("d1b") * col("nf1").cast("double")
      + col("d2b") * col("nf2").cast("double")
      + col("d3b") * col("nf3p").cast("double")) / col("cc").cast("double")
    val bigP = (col("c2").cast("double") - dOf(col("c2"), "b")) /
      col("cc").cast("double") + lamB * pcont
    val lamM = (col("d1m") * col("mf1").cast("double")
      + col("d2m") * col("mf2").cast("double")
      + col("d3m") * col("mf3p").cast("double")) / col("mcc").cast("double")
    val midP = (col("mcount").cast("double") - dOf(col("mcount"), "m")) /
      col("mcc").cast("double") + lamM * pcont
    val lamT = (col("d1t") * col("tf1").cast("double")
      + col("d2t") * col("tf2").cast("double")
      + col("d3t") * col("tf3p").cast("double")) / col("cc3").cast("double")
    val triP = (col("c3").cast("double") - dOf(col("c3"), "t")) /
      col("cc3").cast("double") + lamT * midP
    val p = when(col("prev1").isNull, uniP)
      .when(col("prev2").isNull, bigP)
      .otherwise(triP)
    // The knTrigramLogProb 3-exchange fold: in-corpus every scored
    // position >= 3 has its own m2 row, so folding m2/mctx into the
    // (prev1, w) probe can never null a consumed column.
    val wM = uni.join(cont, Seq("w"), "left")
    val bigM = big.join(ctx, Seq("prev1"))
      .join(m2.join(mctx, Seq("prev1")), Seq("prev1", "w"), "left")
    pt.join(wM, Seq("w"))
      .crossJoin(broadcast(tot))
      .join(bigM, Seq("prev1", "w"), "left")
      .join(tri.join(ctx3, Seq("prev2", "prev1")), Seq("prev2", "prev1", "w"), "left")
      .crossJoin(broadcast(disc))
      .select(col(idCol), round(log(p) * 1e6, 0).cast("long").as("lp"))
      .groupBy(idCol)
      .agg(sum(col("lp")).as("s"), count(lit(1)).cast("long").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double") / 1e6, 6)
          .as("logprob"))
  }

  /** One level's (D1, D2, D3+) columns `d<j><p>` from count-of-count
    * columns `<p>1..<p>4` — eq. 26, D_j = j − (j+1)·Y·n_{j+1}/n_j with
    * Y = n1/(n1 + 2·n2). KenLM's rule decides when a level cannot be
    * calibrated: an empty n1/n2/n3 bucket, or an estimate outside
    * [0, j] for some j (a skewed level's D2 can go negative, which
    * makes λ negative and token probabilities fall below 0). Such a
    * level takes the caller's fallback triple, or the curated error
    * when none was given. The range test sits in the CaseWhen branch
    * reached only when every bucket is non-empty (branches evaluate
    * lazily), so ANSI mode's double-division-by-zero can never preempt
    * the curated path. The ONE eq.-26 edit point of the inline scorers
    * and the persisted serve. */
  private[graft] def mknLevelDiscounts(
      p: String, fallback: Option[(Double, Double, Double)]): Seq[Column] = {
    def n(i: Int): Column = col(s"$p$i").cast("double")
    val degen = col(s"${p}1") === 0L || col(s"${p}2") === 0L || col(s"${p}3") === 0L
    val y = n(1) / (n(1) + lit(2.0) * n(2))
    val est = (1 to 3).map(j => lit(j.toDouble) - lit(j + 1.0) * y * n(j + 1) / n(j))
    val inRange = (1 to 3).map(j => est(j - 1).between(0.0, j.toDouble)).reduce(_ && _)
    (1 to 3).map(j =>
      when(degen, degenDiscount(fallback, j))
        .when(inRange, est(j - 1))
        .otherwise(degenDiscount(fallback, j))
        .as(s"d$j$p"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    * every document with the Kneser-Ney LM ([[knBigramLogProb]]), then
    * split each LANGUAGE into `tiles` equal score bands — tile 1 ("head")
    * = lowest perplexity, tile `tiles` ("tail") = highest — and keep
    * head+middle (`kept` = tile < tiles), the standard pretraining
    * curation cut. CCNet computes per-language percentile CUTOFFS and
    * filters by them; equal-count tiles over the same per-language score
    * order are that exact policy with the cutoffs implied.
    *
    * Scale: the per-language ranking is the shape that CANNOT be a
    * per-key corpus window (one language usually owns most of a crawl —
    * the same dominant-key reality the mixers hit): it routes through
    * [[Sampling.rankExactByKey]]'s two-phase histogram rank, so the
    * dominant language sorts in ≤ n/2^16-row chunks. Tile assignment is
    * then per-row arithmetic over (rank, key total) — bit-equal to SQL
    * `ntile(tiles)` (first `total mod tiles` tiles take one extra row),
    * with ties broken by doc id so the order is total in both engines.
    * The LM score itself is [[knBigramLogProb]]'s fixed-point contract;
    * ranking compares the 1e-6 LONG score, never a raw double. */
  def pplBuckets(
      df: DataFrame, idCol: String, textCol: String, langCol: String,
      tiles: Int = 3, discount: Double = 0.75): DataFrame = {
    val scores = knBigramLogProb(df, idCol, textCol, discount)
    pplTiles(df.select(col(idCol), col(langCol)).join(scores, Seq(idCol)),
      idCol, langCol, tiles)
  }

  /** The per-key equal-count tiling half of [[pplBuckets]], over an
    * ALREADY-SCORED frame (idCol, langCol, n_tokens, logprob) — shared
    * with [[graft.functions.LmIndex.ccnetGate]], whose scores come from
    * the persisted order-5 modified-KN model instead of the in-corpus
    * order-2 scorer. Semantics and scale notes as in [[pplBuckets]]. */
  private[graft] def pplTiles(
      labeled: DataFrame, idCol: String, langCol: String,
      tiles: Int): DataFrame = {
    require(tiles >= 2, s"tiles must be >= 2, got $tiles")
    val base = labeled
      // DESC by score == ASC by the negated fixed-point long (logprob is
      // already on the 1e-6 grid, so the negation is exact).
      .withColumn("__fp", round(col("logprob") * lit(-1e6), 0).cast("long"))
      // The rank primitive references its input THREE times (min/max
      // probe + histogram + rank join) and this input is the whole KN
      // scoring chain — materialize it once. localCheckpoint, NOT
      // persist(): a persist() here has no unpersist point (the caller
      // holds only the returned frame), so repeated calls in a
      // long-lived session would accumulate CacheManager entries
      // forever; checkpoint blocks are context-cleaned as soon as the
      // result frame is unreferenced. Cost: the KN chain runs eagerly
      // here (it would run on first use anyway); the materialized frame
      // is the NARROW scored projection, never the token-level
      // intermediates. Cluster-mode caveat (the LexIndex.build note):
      // localCheckpoint blocks are NOT lineage-recoverable — an executor
      // loss after construction fails later actions instead of
      // recomputing; swap for reliable checkpoint() on a real cluster.
      .localCheckpoint()
    val ranked = Sampling.rankExactByKey(base, langCol, "__fp", idCol)
    // ntile(k) over (rnk, total): q = total div k rows per tile, the
    // first r = total mod k tiles take q + 1. The otherwise-branch's
    // `div __q` is unreachable when q = 0 (then cut = total >= rnk), and
    // CaseWhen evaluates branches conditionally, so no division by zero.
    val tiled = ranked
      .withColumn("__q", expr(s"__total div ${tiles}L"))
      .withColumn("__r", col("__total") % lit(tiles.toLong))
      .withColumn("__cut", col("__r") * (col("__q") + 1L))
      .withColumn("tile",
        when(col("rnk") <= col("__cut"),
          expr("(rnk - 1) div (__q + 1) + 1"))
          .otherwise(col("__r") + expr("(rnk - __cut - 1) div __q") + 1L)
          .cast("long"))
    tiled
      .select(col(idCol), col(langCol), col("n_tokens"), col("logprob"),
        col("tile"),
        when(col("tile") === 1L, lit("head"))
          .when(col("tile") === lit(tiles.toLong), lit("tail"))
          .otherwise(lit("middle")).as("bucket"),
        (col("tile") < lit(tiles.toLong)).as("kept"))
  }

  /** Composite quality score in [0,1]:
    * 0.4 * min(words,100)/100  (length credit)
    * + 0.3 * (1 - punct_ratio) (cleanliness)
    * + 0.3 * min(5*stopword_ratio, 1) (natural-language-ness).
    * Rounded to 6 decimals for cross-engine float determinism. */
  def qualityScore(text: Column, stopHits: Column): Column = {
    val nWords = wordCount(text).cast("double")
    val lengthCredit = least(nWords, lit(100.0)) / lit(100.0)
    val cleanliness = lit(1.0) - punctRatio(text)
    val stopRatio = stopHits.cast("double") / greatest(nWords, lit(1.0))
    round(lit(0.4) * lengthCredit + lit(0.3) * cleanliness +
      lit(0.3) * least(stopRatio * lit(5.0), lit(1.0)), 6)
  }

  /** Word n-gram shingles via posexplode + lead windows — the same shape the
    * DuckDB oracle can express (unnest WITH ORDINALITY + lead). The window
    * is partitioned by document, so it shuffles by doc_id once and scales
    * with documents, never with corpus size per partition. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // Deliberately a lead()-over-Window formulation, NOT a row-local
    // transform(sequence, slice) chain: the window costs one exchange on
    // doc_id, but downstream self-joins then REUSE that exchange
    // (ReusedExchange), whereas higher-order array functions are interpreted
    // (not codegen'd) and re-evaluate once per plan reference — measured
    // ~1.5x slower across the dedup family at sf0.1.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    val exploded = df.select(col(idCol), posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val withLeads = (1 until n).foldLeft(exploded) { (d, i) =>
      d.withColumn(s"w$i", lead(col("w"), i).over(w))
    }
    val parts = col("w") +: (1 until n).map(i => col(s"w$i"))
    withLeads
      .filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(col(idCol), col("pos"), concat_ws(" ", parts: _*).as("shingle"))
  }

  /** Distinct word n-gram shingles per document — THE distinct-shingle
    * contract of the set-similarity family (dedup, novelty, oracles'
    * shared `sh` CTE). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingles(df, idCol, textCol, n)
      .select(col(idCol), col("shingle")).distinct()

  /** Rolling-hash document fingerprint: min(md5(4-gram shingle)) — a
    * winnowing-style representative hash; equal fingerprints are strong
    * near-duplicate candidates. Falls back to md5(text) for documents
    * shorter than one shingle. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String, n: Int = 4): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
      .groupBy(idCol).agg(min(md5(col("shingle"))).as("fp"))
    df.select(col(idCol), md5(col(textCol)).as("whole_fp"))
      .join(sh, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("fp"), col("whole_fp")).as("fingerprint"))
  }

  /** Word-repetition profile (Gopher-style repetition quality signals):
    * per document, the fraction of tokens that are repeats of an earlier
    * token (`dup_frac`) and the frequency share of the single most common
    * token (`top_word_frac`). High values flag boilerplate / spam for
    * pretraining filtering. One explode + two aggregations, both keyed by
    * doc — scales linearly and shuffles only on doc_id. */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(words(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col(idCol),
        col("n_words").cast("long").as("n_words"),
        col("n_distinct").cast("long").as("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double"), 6)
          .as("dup_frac"),
        round(col("top_c").cast("double") / col("n_words").cast("double"), 6)
          .as("top_word_frac"))

  /** C4/RefinedWeb-style rule filter with an auditable verdict: each
    * document gets a keep/drop flag plus the comma-joined reason codes that
    * fired (fixed order — deterministic). The per-reason counts a pipeline
    * reports before training ingestion fall out of one groupBy on
    * `reasons`. Signals: word count (too_short), punctuation density
    * (high_punct) and top-word concentration (repetitive) — one narrow map
    * + the repetition aggregate; no extra shuffles. */
  def filterReport(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 30, maxPunct: Double = 0.2,
      maxTopWordFrac: Double = 0.2): DataFrame = {
    val rep = repetitionProfile(df, idCol, textCol)
      .select(col(idCol), col("n_words"), col("top_word_frac"))
    val punct = df.select(col(idCol), punctRatio(col(textCol)).as("punct_ratio"))
    val flagged = rep.join(punct, Seq(idCol))
      .withColumn("too_short", col("n_words") < minWords)
      .withColumn("high_punct", col("punct_ratio") > maxPunct)
      .withColumn("repetitive", col("top_word_frac") > maxTopWordFrac)
    flagged.select(col(idCol), col("n_words"), col("punct_ratio"), col("top_word_frac"),
      (!col("too_short") && !col("high_punct") && !col("repetitive")).as("keep"),
      concat_ws(",",
        when(col("too_short"), lit("too_short")),
        when(col("high_punct"), lit("high_punct")),
        when(col("repetitive"), lit("repetitive"))).as("reasons"))
  }

  /** BM25 lexical retrieval (Robertson/Spärck Jones; the Lucene-convention
    * strictly-positive idf `ln(1 + (N − df + 0.5)/(df + 0.5))`): the top-`k`
    * corpus documents per query under
    * `score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
    * over each query's DISTINCT whitespace terms — the standard lexical
    * retriever a RAG / seed-expansion pipeline runs beside the ANN path
    * (and the hybrid-retrieval baseline BEIR-style evaluations expect).
    *
    * Scale shape (100 TB corpus, small query batch): the postings table
    * (doc, term, tf) is probed by a BROADCAST of the query term set, so
    * the corpus never shuffles for the probe; document frequency is
    * computed on the query-restricted postings only (tiny, broadcast
    * back), and (avgdl, N) is a 1-row broadcast — never a driver action.
    * The postings aggregate feeds the probe, the df, and the per-doc
    * lengths through ONE reused exchange (same subtree — Spark dedupes
    * the shuffle); the only additional keyed shuffle attaches dl to the
    * MATCHED postings, bounded by query-term selectivity, not corpus
    * size. Per-(query, doc, term) contributions are 1e-6 fixed-point
    * longs before the per-pair sum (partition-order-independent — the
    * DuckDB oracle replays bit-exactly; avgdl is cross-engine exact
    * because integer-valued doubles sum exactly). Ties rank by doc id.
    * A query with no tokens in the corpus vocabulary emits no rows. */
  def bm25TopK(
      corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = bm25Postings(corpus, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("ndocs"))
    val qTerms = bm25QueryTerms(queries, qidCol, qTextCol)
    // tf is already unique per (term, doc): probe df with the DISTINCT
    // term set — the full (qid, term) probe would fan each matched
    // posting out once per query sharing the term, only for a distinct
    // to undo it.
    val qdf = tf.join(broadcast(qTerms.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    bm25Search(tf, dl, qdf, stats, qTerms, idCol, k, k1, b)
  }

  /** The postings aggregate BM25 runs on: one row per (doc, term) with
    * its term frequency — the build==serve shared corpus pass. */
  private[functions] def bm25Postings(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus.select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Distinct (qid, term) pairs of a query batch. */
  private[functions] def bm25QueryTerms(
      queries: DataFrame, qidCol: String, qTextCol: String): DataFrame =
    queries
      .select(col(qidCol).as("qid"), explode(words(col(qTextCol))).as("term"))
      .distinct()

  /** Pseudo-relevance-feedback expansion terms (the RM1/Rocchio
    * companion to BM25): for each query, retrieve its top-`k` documents
    * with [[bm25TopK]], then rank the terms of those documents by their
    * summed tf·idf mass over the feedback set — `w(q,t) = Σ_{d∈top(q)}
    * tf(d,t) · idf(t)` with the same Lucene-convention idf — and emit
    * the top-`m` terms NOT already in the query ("what words do my best
    * matches share that I didn't say"). Feed the union of original +
    * expansion terms back through BM25 for the classic expanded re-rank;
    * the term list itself is the query-understanding artifact.
    *
    * Scale shape: one inline BM25 pass, then the FEEDBACK SET —
    * k·|queries| doc ids — broadcasts against the postings aggregate
    * (the corpus never shuffles for the feedback probe). Candidate df is
    * corpus-wide document frequency (df must be), computed by one keyed
    * pass over the postings RESTRICTED TO CANDIDATE TERMS — the input is
    * the full postings aggregate, filtered by term, not by the feedback
    * docs. Top-m is a window partitioned by query. Per-(query, term)
    * weights are 1e-6 fixed-point longs before ranking (oracle-exact);
    * ties rank by term text. */
  def bm25ExpansionTerms(
      corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qTextCol: String,
      k: Int = 5, m: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1, s"m must be >= 1, got $m")
    // Bounded feedback set (k·|queries| rows) whose lineage embeds a
    // full BM25 pass and is referenced twice in rm1TopTerms — checkpoint
    // once (the bm25Rm3TopK rationale).
    val top = bm25TopK(corpus, idCol, textCol, queries, qidCol, qTextCol,
        k, k1, b)
      .select(col("qid"), col(idCol))
      .localCheckpoint()
    val tf = bm25Postings(corpus, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val nDocs = dl.agg(count(lit(1)).cast("double").as("ndocs"))
    val qTerms = bm25QueryTerms(queries, qidCol, qTextCol)
    rm1TopTerms(tf, nDocs, top, idCol, qTerms, m)
      .select(col("qid"), col("term"),
        round(col("w6").cast("double") / 1e6, 6).as("weight"), col("rnk"))
  }

  /** The RM1 feedback-term core over index-shaped frames — shared by the
    * inline [[bm25ExpansionTerms]] and the persisted-index RM3 serve path
    * ([[LexIndex.bm25Rm3TopK]]), so built-then-served expansion is
    * row-identical to inline. `top` is pass 1's (qid, idCol) feedback
    * set; output is the top-`m` (qid, term, w6, rnk) per query with
    * original query terms anti-joined away, w6 the 1e-6 fixed-point RM1
    * mass `Σ_{d∈top(q)} tf(d,t) · idf(t)`. */
  private[functions] def rm1TopTerms(
      postings: DataFrame, ndocs: DataFrame, top: DataFrame, idCol: String,
      qTerms: DataFrame, m: Int): DataFrame =
    // Terms of the feedback docs, carried per query: the broadcast side
    // is k·|queries| ids, so the postings aggregate is probed, never
    // shuffled (streamed once, though — a doc-id lookup in a term-keyed
    // aggregate cannot prune; [[LexIndex.bm25Rm3TopK]] swaps this gather
    // for a pruned forward-index probe when the index carries one).
    rm1TopTermsFrom(
      postings.join(broadcast(top), Seq(idCol)), postings, ndocs, qTerms, m)

  /** [[rm1TopTerms]] with the feedback-term gather (`fbTf`: qid, term,
    * tf rows of the feedback docs) supplied by the caller — the seam the
    * forward-index serve path plugs into; `dfPostings` stays the full
    * postings frame because candidate df must be corpus-wide. */
  private[functions] def rm1TopTermsFrom(
      fbTf: DataFrame, dfPostings: DataFrame, ndocs: DataFrame,
      qTerms: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(m >= 1, s"m must be >= 1, got $m")
    val candDf = fbTf.select("term").distinct()
      .join(dfPostings, Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("ndocs") - col("df") + 0.5) / (col("df") + 0.5))
    // Unhinted join — the joinVocab posture: the static plan stays
    // keyed (a term aggregate's size estimate can't static-broadcast at
    // corpus scale), and AQE re-plans to broadcast from the MEASURED
    // candidate-df bytes when the feedback vocabulary is actually small.
    val weighted = fbTf
      .join(candDf, Seq("term"))
      .crossJoin(broadcast(ndocs))
      .select(col("qid"), col("term"),
        round(col("tf") * idf * 1e6, 0).cast("long").as("w6"))
      .groupBy("qid", "term")
      .agg(sum(col("w6")).as("w6"))
    val w = Window.partitionBy("qid").orderBy(col("w6").desc, col("term").asc)
    weighted
      .join(qTerms, Seq("qid", "term"), "left_anti")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
  }

  /** The RM3 interpolated query-term model: original terms at weight
    * `alpha`, each expansion term at `(1 − alpha) · w6 / Σw6` (its
    * per-query-normalized RM1 mass), all as 1e-6 fixed-point longs —
    * (qid, term, wq6), disjoint by construction ([[rm1TopTerms]]
    * anti-joins the originals). */
  private[functions] def rm3TermWeights(
      expW6: DataFrame, origTerms: DataFrame, alpha: Double): DataFrame = {
    val wsum = expW6.groupBy("qid").agg(sum(col("w6")).as("wsum6"))
    val expW = expW6.join(wsum, Seq("qid"))
      .select(col("qid"), col("term"),
        round(lit(1.0 - alpha) * col("w6").cast("double")
          / col("wsum6").cast("double") * 1e6, 0).cast("long").as("wq6"))
    origTerms.withColumn("wq6", lit(math.round(alpha * 1e6)))
      .unionByName(expW)
  }

  /** The shared BM25 scoring core over index-shaped frames — the inline
    * path ([[bm25TopK]]) derives them from the corpus, the persisted path
    * ([[LexIndex.bm25TopK]]) loads them, and sharing this verbatim is what
    * makes built-then-served results row-identical to inline (the
    * q_bm25_persisted oracle identity). `termDf` must already be
    * restricted to (at most vocabulary-of-the-) query terms: it is
    * broadcast. */
  private[functions] def bm25Search(
      postings: DataFrame, doclens: DataFrame, termDf: DataFrame,
      stats: DataFrame, qTerms: DataFrame, idCol: String,
      k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 params k1=$k1 b=$b")
    val idf = log(lit(1.0) + (col("ndocs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = postings.join(broadcast(qTerms), Seq("term"))
      .join(doclens, Seq(idCol))
      .join(broadcast(termDf), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col(idCol), round(idf * norm * 1e6, 0).cast("long").as("c6"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("c6")).as("s6"))
    val w = Window.partitionBy("qid").orderBy(col("s6").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol),
        round(col("s6").cast("double") / 1e6, 6).as("bm25"), col("rnk"))
  }

  /** WEIGHTED BM25 scoring — the RM3 second pass: `qTermsW` carries
    * (qid, term, wq6) with per-(query, term) weights as 1e-6 fixed-point
    * longs, and each posting contributes `(wq6/1e6) · idf · norm`. The
    * unweighted [[bm25Search]] is the wq6 == 1e6 special case (kept
    * separate so its oracle-pinned arithmetic is untouched). Score
    * column is named `rm3`. */
  private[functions] def bm25SearchWeighted(
      postings: DataFrame, doclens: DataFrame, termDf: DataFrame,
      stats: DataFrame, qTermsW: DataFrame, idCol: String,
      k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 params k1=$k1 b=$b")
    val idf = log(lit(1.0) + (col("ndocs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = postings.join(broadcast(qTermsW), Seq("term"))
      .join(doclens, Seq(idCol))
      .join(broadcast(termDf), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col(idCol),
        round(col("wq6").cast("double") / lit(1e6) * idf * norm * lit(1e6), 0)
          .cast("long").as("c6"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("c6")).as("s6"))
    val w = Window.partitionBy("qid").orderBy(col("s6").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol),
        round(col("s6").cast("double") / 1e6, 6).as("rm3"), col("rnk"))
  }

  /** RM3 expanded re-retrieval — the CLOSED expansion loop
    * ([[bm25ExpansionTerms]] emits the feedback terms; this feeds them
    * back): retrieve top-`fbK` per query, take the top-`m` RM1 feedback
    * terms, then run a SECOND weighted BM25 pass where original query
    * terms carry weight `alpha` and each expansion term carries
    * `(1 − alpha) ·  w / Σw` (its per-query-normalized RM1 mass) — the
    * standard RM3 interpolation (Lavrenko & Croft 2001; Abdul-Jaleel et
    * al. 2004). All weights are 1e-6 fixed-point longs and the second
    * pass reuses the [[bm25Search]] arithmetic shape, so the DuckDB
    * oracle replays both passes exactly (q_bm25_rm3).
    *
    * Scale shape: pass 1 is [[bm25TopK]]; the feedback probe broadcasts
    * fbK·|queries| doc ids against the postings aggregate; pass 2 is a
    * query-term-bounded probe like pass 1, just with ≤ |original| + m
    * terms per query. Output: (qid, doc_id, rm3, rnk). */
  def bm25Rm3TopK(
      corpus: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qTextCol: String,
      k: Int, fbK: Int = 5, m: Int = 5, alpha: Double = 0.6,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    // The two cross-pass frames are BOUNDED BY THE QUERY BATCH (fbK·|q|
    // and m·|q| rows — scale-free) but each embeds a FULL BM25 pass in
    // its lineage and is referenced twice downstream; left lazy, the
    // whole upstream pipeline replays per reference and the physical
    // plan grows combinatorially (measured: 422 Exchange nodes / 5,899
    // plan lines at sf0.1; 46/636 after). localCheckpoint each once —
    // the r12 serve-path lesson (localize every bounded intermediate)
    // applied to the inline witness.
    val top = bm25TopK(corpus, idCol, textCol, queries, qidCol, qTextCol,
        fbK, k1, b)
      .select(col("qid"), col(idCol))
      .localCheckpoint()
    val tf = bm25Postings(corpus, idCol, textCol)
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("ndocs"))
    val qTerms = bm25QueryTerms(queries, qidCol, qTextCol)
    val exp = rm1TopTerms(tf, stats.select("ndocs"), top, idCol, qTerms, m)
      .select("qid", "term", "w6")
      .localCheckpoint()
    val qTermsW = rm3TermWeights(exp, qTerms, alpha)
    val qdf = tf.join(broadcast(qTermsW.select("term").distinct()), Seq("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    bm25SearchWeighted(tf, dl, qdf, stats, qTermsW, idCol, k, k1, b)
  }

  /** Top-k terms per document by TF-IDF with smoothed IDF
    * `ln((N+1)/(df+1))`. Corpus-wide document frequency is one small
    * aggregate (vocabulary-sized — joined back via [[joinVocab]]'s lazy
    * auto-switch), term frequency is per-document; ranking is a window
    * PARTITIONED by doc (bounded frames). Ties rank by rounded score then
    * term text, keeping the order identical across engines despite
    * last-ulp `ln` differences. Plan construction is FULLY LAZY: the
    * corpus document count N feeds the IDF as a broadcast 1-row frame
    * (scale-free), not a driver-side count action. */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      vocabRows: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), explode(words(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).cast("double").as("ndocs"))
    // Vocabulary-sized side: see vocabBroadcastMaxTerms for the 100 TB
    // rationale.
    val scored = joinVocab(tf, docFreq, Seq("term"),
        vocabRows, vocabBroadcastMaxTerms(df))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log((col("ndocs") + 1.0) / (col("df").cast("double") + 1.0)), 6))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("tfidf"), col("rnk"))
  }

  /** Benchmark-contamination rate: for each corpus document, the fraction of
    * its word n-gram shingles that appear anywhere in `benchmark` (the
    * eval-set decontamination check every pretraining pipeline runs).
    * The benchmark shingle set is distinct-ed and broadcast when small
    * (eval suites are tiny next to the corpus — left-semi broadcast join, no
    * shuffle on the corpus side beyond the per-doc count). Documents shorter
    * than one shingle score 0. */
  def contaminationRate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val docSh = shingles(corpus, idCol, textCol, n)
      .select(col(idCol), col("shingle")).distinct()
    val benchSh = shingles(benchmark, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val perDoc = docSh
      .groupBy(idCol).agg(count(lit(1)).as("n_shingles"))
    val hit = docSh.join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    corpus.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .join(hit, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).cast("long").as("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)).cast("double"), 6)
          .as("contamination"))
  }

  /** Fixed-token-budget document chunking with overlap — the long-document
    * splitting pass that feeds context-window-bounded training sequences
    * (and RAG indexing). Chunk i covers tokens [i*stride, i*stride+chunkTokens)
    * where stride = chunkTokens - overlap; every document yields at least one
    * chunk. Purely narrow (tokenize + explode a per-row chunk-index range):
    * no shuffle at all, scales with input splits. Output row count is
    * ~n_tokens/stride per doc — bounded and proportional to input size.
    */
  def chunkDocs(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    val stride = chunkTokens - overlap
    require(stride > 0, s"chunkTokens ($chunkTokens) must exceed overlap ($overlap)")
    // ceil((n - overlap) / stride) via floor of exact small-int double division
    // (token counts are far below 2^53), clamped to >= 1 chunk per doc.
    val base = df.select(col(idCol), words(col(textCol)).as("ws"),
      wordCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("n_chunks", greatest(lit(1L),
        floor((col("n_tokens") - lit(overlap) + lit(stride - 1)).cast("double") /
          lit(stride.toDouble)).cast("long")))
    base
      .select(col(idCol), col("ws"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride + 1).cast("long").as("start_token"),
        least(lit(chunkTokens.toLong), col("n_tokens") - col("chunk_id") * stride)
          .cast("long").as("chunk_tokens"),
        concat_ws(" ", slice(col("ws"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens))).as("chunk_text"))
  }

  /** Token-budget sequence packing — the pretraining batch-assembly shape:
    * documents are assigned to fixed-token-budget packs greedily in id order
    * WITHIN deterministic shards (`shard = id / shardSize`). Sharding is the
    * two-level form of a parallel prefix sum: the running-total window is
    * partitioned (bounded partitions — no global single-partition window at
    * 100 TB) while assignment stays deterministic and SQL-expressible. A
    * document lands in the pack where its cumulative START offset falls, so
    * a pack may overflow by at most one document — the standard greedy
    * packing contract.
    */
  def packTokens(
      df: DataFrame, idCol: String, textCol: String,
      budgetTokens: Int, shardSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(idCol)
    df.select(col(idCol), wordCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("shard", floor(col(idCol) / shardSize).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .withColumn("pack_id",
        floor((col("cum_tokens") - col("n_tokens")) / budgetTokens).cast("long"))
      .select(col(idCol), col("shard"), col("pack_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** Main-content extraction from raw HTML — the first step of every web
    * crawl → training-corpus pipeline. Removes script/style subtrees (their
    * text is never content), strips remaining tags, decodes the five
    * predefined XML entities, and collapses whitespace. Regex-based by
    * design: it is a narrow codegen'd map (no parser state, no shuffle) and
    * both Spark and the DuckDB oracle evaluate the identical patterns, so
    * the operator is hash-verifiable. Not a browser-grade parser — nested
    * `<script>` inside strings etc. are out of contract. */
  def stripHtml(html: Column): Column = {
    // two passes (script, style) instead of one backreferenced pattern:
    // the DuckDB oracle's RE2 engine has no backreferences
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noBlocks = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Fraction of raw HTML bytes that survive extraction — a boilerplate /
    * markup-density quality signal (low retained fraction ⇒ nav-heavy or
    * script-heavy page). */
  def htmlRetainedFrac(html: Column): Column =
    round(length(stripHtml(html)).cast("double") /
      greatest(length(html), lit(1)).cast("double"), 6)

  /** URL canonicalization for crawl dedup: lowercase scheme+host, drop the
    * default port, drop the fragment, drop tracking params (`utm_*`,
    * `fbclid`, `gclid`, `ref`), drop a now-empty query, collapse a trailing
    * slash on a non-root path. Two URLs that canonicalize equal are the
    * same fetch target; grouping on the canonical form is the standard
    * crawl-frontier dedup key. Pure narrow map — the dedup itself is one
    * hash aggregation on the canonical key. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase scheme://host[:port] (leave path/query case intact)
    val lowerHost = concat(
      lower(regexp_extract(noFrag, "^([^/?#]*//[^/?#]*)", 1)),
      regexp_replace(noFrag, "^[^/?#]*//[^/?#]*", ""))
    // two RE2-safe passes (no lookahead — the oracle's regex engine lacks it)
    val noPort = regexp_replace(regexp_replace(lowerHost,
      "^(https://[^/:?#]*):443($|[/?])", "$1$2"),
      "^(http://[^/:?#]*):80($|[/?])", "$1$2")
    // strip tracking params in three RE2-safe passes that each reattach
    // the separators they consume, so a literal '&' in the PATH (a legal
    // RFC 3986 sub-delim) is never rewritten: (1) '&'-prefixed params
    // anywhere, (2) a leading '?param=...&' (following params take the
    // '?'), (3) a leading '?param=...' that is the whole query. Residual
    // out-of-contract case: a path SEGMENT spelled like '&utm_x=1' (a
    // tracking-named key=value pair embedded in the path) still matches
    // pass 1 — RE2 has no lookbehind to anchor the passes to the query.
    val track = "(utm_[a-z]+|fbclid|gclid|ref)"
    val noTrackAmp = regexp_replace(noPort, s"(?i)&$track=[^&#]*", "")
    val noTrackLead = regexp_replace(noTrackAmp, s"(?i)\\?$track=[^&#]*&", "?")
    val noTrack = regexp_replace(noTrackLead, s"(?i)\\?$track=[^&#]*$$", "")
    val noEmptyQ = regexp_replace(noTrack, "\\?$", "")
    // strip a trailing slash only when a path segment follows the host
    // (so the root "scheme://host/" keeps its slash)
    regexp_replace(noEmptyQ, "^([a-z]+://[^/?]+/[^?]*[^/?])/(\\?|$)", "$1$2")
  }

  /** BPE pair counting — the inner loop of byte-pair-encoding tokenizer
    * training: corpus-wide frequencies of adjacent character pairs inside
    * words, weighted by word frequency. Two bounded shuffles: (1) word →
    * count (vocabulary-sized, not corpus-sized, thanks to map-side partial
    * aggregation), (2) pair → weighted count (alphabet²-sized). The
    * per-word bigram expansion is a narrow transform over the DISTINCT
    * vocabulary, so corpus scale only affects step 1's combine. */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val vocab = df
      .select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    vocab
      .select(col("word"), col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").cast("long").as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(topK)
  }

  /** Merge one BPE pair into a word's segmentation, greedy left-to-right
    * over non-overlapping occurrences (the standard BPE merge rule). */
  private[graft] def bpeMergeOnce(
      seg: Vector[String], left: String, right: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < seg.length) {
      if (i + 1 < seg.length && seg(i) == left && seg(i + 1) == right) {
        out += left + right; i += 2
      } else { out += seg(i); i += 1 }
    }
    out.result()
  }

  /** Full BPE merge-loop tokenizer training (completes `bpePairCounts`,
    * which is one iteration's pair count): learns the ordered merge list.
    *
    * Scale design — the same split every production tokenizer trainer
    * uses: the ONE corpus-scale pass is the distributed word-frequency
    * aggregation (map-side combined, output is vocabulary-sized: Heaps'
    * law keeps the distinct-word table ~millions of rows even at 100 TB,
    * i.e. driver-sized by five orders of magnitude less than the corpus).
    * The merge loop then runs on that compact weighted vocabulary locally
    * — numMerges iterations of (count adjacent pairs, argmax, merge),
    * each O(vocab); running it as numMerges Spark jobs would add a
    * scheduler round-trip per merge for data that fits in one task. The
    * collect here is vocabulary-bounded BY CONSTRUCTION, never
    * corpus-bounded — it is not a driver-side loop over corpus rows —
    * but vocabulary is Heaps-unbounded, so the collect sits behind the
    * [[tokenizerMaxTypes]] envelope (fail loudly past the ceiling) and
    * `maxTypes` offers the SentencePiece-style top-K-by-frequency
    * pre-prune for corpora whose full vocabulary does not fit: training
    * on the pruned table IS training on the corpus restricted to the
    * kept words (spec-pinned equality).
    *
    * Determinism: argmax ties break on the lexicographically smallest
    * (left, right) pair, so the merge list is corpus-order-independent.
    * Returns (rank, left, right, pair_count) with rank = merge order.
    * Stops early when no adjacent pair repeats. */
  /** Driver-collect ceiling (word types) for the merge-loop trainers;
    * session-tunable via `graft.tokenizer.maxTypes`. The trainers'
    * collect is vocabulary-bounded BY CONSTRUCTION (never corpus-
    * bounded), but vocabulary itself is Heaps-unbounded: at 100 TB word
    * types are O(10⁸⁺) — a driver Array that OOMs. Production trainers
    * prune (SentencePiece caps candidate vocabulary / applies a
    * frequency floor); past this ceiling the trainers fail loudly with
    * that guidance instead of attempting the collect. The default 4M
    * types ≈ a few hundred MB driver-side — the
    * [[vocabBroadcastMaxTerms]] rationale applied to the driver. */
  private[graft] def tokenizerMaxTypes(df: DataFrame): Long =
    confPositiveLong(df, "graft.tokenizer.maxTypes", 4000000L)

  /** The weighted word-type table both merge-loop trainers collect: ONE
    * corpus-scale pass (map-side combined word-frequency aggregation),
    * optional top-`maxTypes`-by-frequency pre-prune (ties to the
    * lexicographically smaller word — deterministic; pruning the vocab
    * table is EXACTLY training on the corpus restricted to the kept
    * words, spec-pinned), then the [[tokenizerMaxTypes]] envelope checked
    * EXECUTOR-side (count of the materialized table) before any driver
    * collect — the guard protects the driver, so it must fire before the
    * Array exists. The table localCheckpoints so the guard count and the
    * collect read the same one-pass materialization instead of charging
    * a second corpus scan. */
  private def trainerVocab(
      df: DataFrame, textCol: String, maxTypes: Option[Int]): Array[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    maxTypes.foreach(m => require(m >= 1, s"maxTypes must be >= 1, got $m"))
    val full = df
      .select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
    val pruned = maxTypes match {
      case Some(m) => full.orderBy(col("freq").desc, col("word")).limit(m)
      case None => full
    }
    val vb = pruned.localCheckpoint()
    try {
      val n = vb.count()
      val ceiling = tokenizerMaxTypes(df)
      require(n <= ceiling,
        s"tokenizer training would collect $n word types — exceeds " +
          s"graft.tokenizer.maxTypes ($ceiling). Vocabulary is " +
          "Heaps-unbounded at corpus scale; prune with maxTypes (top-K " +
          "by frequency — the SentencePiece posture) or raise " +
          "graft.tokenizer.maxTypes if the vocabulary genuinely fits " +
          "the driver")
      vb.as[(String, Long)].collect()
    } finally {
      vb.unpersist()
      ()
    }
  }

  def bpeTrainMerges(
      df: DataFrame, textCol: String, numMerges: Int,
      maxTypes: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab: Array[(String, Long)] = trainerVocab(df, textCol, maxTypes)

    var segs: Array[(Vector[String], Long)] =
      vocab.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (seg, f) =>
        var i = 0
        while (i + 1 < seg.length) {
          val k = (seg(i), seg(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        if (c < 2) done = true  // nothing repeats: further merges are noise
        else {
          merges += ((rank, l, r, c))
          segs = segs.map { case (seg, f) => (bpeMergeOnce(seg, l, r), f) }
          rank += 1
        }
      }
    }
    merges.result()
      .toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_count"))
  }

  /** Apply a learned BPE merge list to segment one word (merges in rank
    * order — equivalent to lowest-rank-first pair merging). */
  private[graft] def bpeSegmentWord(
      word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector) {
      case (seg, (l, r)) => bpeMergeOnce(seg, l, r)
    }

  /** Per-document BPE token counts under a learned merge list — the
    * encode-side consumer of `bpeTrainMerges` (sizes token budgets /
    * packing with the REAL tokenizer's segmentation instead of the
    * whitespace proxy). The merge list broadcasts (it is numMerges rows);
    * encoding is a narrow per-partition map with a per-partition word
    * memo (Zipf: the same words repeat), so corpus scale only adds input
    * splits. Genuinely iterative per-word logic — no built-in expresses
    * the merge loop, so this is the documented mapPartitions exception. */
  def bpeTokenCounts(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], outCol: String = "bpe_tokens"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toVector)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        val memo = scala.collection.mutable.Map.empty[String, Int]
        it.map { case (id, text) =>
          // null text counts 0 tokens — matching the null-propagating
          // behavior of the SQL-expression text operators
          val t = if (text == null) "" else text
          val n = t.split("\\s+").iterator.filter(_.nonEmpty).map { w =>
            memo.getOrElseUpdate(w, bpeSegmentWord(w, ms).length)
          }.sum
          (id, n.toLong)
        }
      }
      .toDF(idCol, outCol)
  }

  /** The trained tokenizer's VOCABULARY artifact — the symbol inventory
    * a tokenizer export ships: every word segmented under the learned
    * merge list (merge replay == the training loop's final segmentation
    * by construction), symbols counted weighted by word frequency.
    * Unlike the trainer's working vocabulary, single-character words ARE
    * included (they segment to themselves; the trainer skips them only
    * because they cannot merge). Works for any merge list — BPE or
    * WordPiece-objective. One corpus pass (the word-frequency agg); the
    * merge list broadcasts; segmentation is the [[bpeTokenCounts]]
    * mapPartitions exception with the same per-partition word memo.
    * Output: (symbol, sym_count), the training-frequency table encoders
    * ship next to the merges. */
  def tokenizerVocab(
      df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toVector)
    df.select(explode(words(col(textCol))).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val ms = bc.value
        val memo = scala.collection.mutable.Map.empty[String, Vector[String]]
        it.flatMap { case (w, f) =>
          memo.getOrElseUpdate(w, bpeSegmentWord(w, ms)).map(s => (s, f))
        }
      }
      .toDF("symbol", "freq")
      .groupBy("symbol").agg(sum(col("freq")).cast("long").as("sym_count"))
  }

  /** WordPiece-objective tokenizer training — same merge machinery as
    * [[bpeTrainMerges]] (weighted vocabulary from ONE corpus-scale pass;
    * the merge loop is vocabulary-bounded local iteration), but the
    * argmax is the WordPiece LIKELIHOOD score instead of raw frequency
    * (Schuster & Nakajima 2012; the scoring rule documented for
    * e.g. BERT's trainer): score(l, r) = count(l,r) / (count(l) ·
    * count(r)) — the pair that most exceeds its independence expectation,
    * i.e. the merge with the largest training-corpus likelihood gain
    * under a unigram segment model. Frequency picks common ADJACENCY
    * ("th" because both are everywhere); likelihood picks strong
    * ASSOCIATION (symbols that almost only occur together), so the two
    * trainers diverge from merge 0 on the same corpus — q_bpe_train /
    * q_wordpiece_train pin both families side by side.
    *
    * The score maximally rewards pairs of RARE symbols (two singleton
    * symbols adjacent once score 1.0, the maximum), which is the real
    * objective's behavior, not an artifact — production trainers temper
    * it with a support floor, as here: only pairs with count >=
    * `minPairCount` are candidates; training stops early when none
    * remain. Ties (identical IEEE ratios) break on the smaller (left,
    * right) pair. Score arithmetic is exact-integer-valued doubles under
    * one IEEE divide, so the DuckDB oracle replays every argmax
    * bit-identically. Returns (rank, left, right, pair_count,
    * left_count, right_count) — counts, not the float score, so the
    * output is integer-exact. */
  def wordpieceTrainMerges(
      df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, maxTypes: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(minPairCount >= 1L, s"minPairCount must be >= 1, got $minPairCount")
    val vocab: Array[(String, Long)] = trainerVocab(df, textCol, maxTypes)

    var segs: Array[(Vector[String], Long)] =
      vocab.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = Vector.newBuilder[(Int, String, String, Long, Long, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      val symCounts = scala.collection.mutable.Map.empty[String, Long]
      segs.foreach { case (seg, f) =>
        var i = 0
        while (i < seg.length) {
          symCounts(seg(i)) = symCounts.getOrElse(seg(i), 0L) + f
          if (i + 1 < seg.length) {
            val k = (seg(i), seg(i + 1))
            pairCounts(k) = pairCounts.getOrElse(k, 0L) + f
          }
          i += 1
        }
      }
      val cand = pairCounts.filter { case (_, n) => n >= minPairCount }
      if (cand.isEmpty) done = true
      else {
        val ((l, r), c) = cand.minBy { case ((a, b), n) =>
          (-(n.toDouble / (symCounts(a).toDouble * symCounts(b).toDouble)), a, b)
        }
        merges += ((rank, l, r, c, symCounts(l), symCounts(r)))
        segs = segs.map { case (seg, f) => (bpeMergeOnce(seg, l, r), f) }
        rank += 1
      }
    }
    merges.result()
      .toDF("rank", "left", "right", "pair_count", "left_count", "right_count")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_count"), col("left_count"), col("right_count"))
  }

  /** Per-document n-gram novelty against the rest of the corpus in id
    * order: an n-gram is "novel" for the document where it FIRST appears
    * (min doc id). Low novelty ⇒ the document is mostly restatement of
    * earlier content — the incremental-value signal used when ordering or
    * pruning training corpora. Docs shorter than one n-gram carry no
    * signal and are omitted (same contract as the shingle-based dedup
    * family). Two keyed shuffles: first-occurrence window on shingle,
    * then the per-doc rollup — the window form replaces the previous
    * agg-then-self-join (guide §2.4: two operations keyed the same way
    * share one exchange; the join also re-ran the scan + explode for
    * its probe side). min-over-partition == joining the per-shingle
    * min back, row for row. */
  def ngramNovelty(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleSets(df, idCol, textCol, n)
    sh.withColumn("first_doc",
        min(col(idCol)).over(Window.partitionBy("shingle")))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_ngrams"),
        sum(when(col("first_doc") === col(idCol), 1L).otherwise(0L))
          .cast("long").as("novel_ngrams"))
      .withColumn("novelty_frac",
        round(col("novel_ngrams").cast("double") /
          col("n_ngrams").cast("double"), 6))
  }

  /** Deterministic holdout split by content hash: a document lands in the
    * validation slice iff its md5 starts below the threshold prefix
    * (`"03"` ⇒ 3/256 ≈ 1.2%). Hash-range assignment is stable under corpus
    * growth and reshuffling — a document never migrates between splits —
    * which is the property a train/valid split must have at 100 TB where
    * re-splitting is unaffordable. Returns per-source split counts. */
  def holdoutSplitCounts(
      df: DataFrame, sourceCol: String, textCol: String,
      validHexPrefixBelow: String): DataFrame =
    df.select(col(sourceCol),
      when(substring(md5(col(textCol)), 1, 2) < validHexPrefixBelow, 1L)
        .otherwise(0L).as("is_valid"))
      .groupBy(sourceCol)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("is_valid").cast("long").as("n_valid"))
      .withColumn("n_train", (col("n_docs") - col("n_valid")).cast("long"))
      .withColumn("valid_frac",
        round(col("n_valid").cast("double") / col("n_docs").cast("double"), 6))

  /** Paragraph-level cross-document dedup signal: chunk every document into
    * fixed-token paragraphs (no overlap — dedup wants a partition, not a
    * sliding window), hash each paragraph, and compute per-document how many
    * of its paragraphs also appear verbatim in OTHER documents. High
    * `dup_frac` ⇒ the document is largely assembled from shared boilerplate
    * even when no whole-document hash matches. One shuffle on paragraph
    * hash (bounded by corpus token count / chunkTokens) + one on doc id. */
  def paragraphDupStats(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val chunks = chunkDocs(df, idCol, textCol, chunkTokens, overlap = 0)
      .select(col(idCol), md5(col("chunk_text")).as("ph"))
    val docsPerPara = chunks
      .groupBy("ph").agg(countDistinct(col(idCol)).as("n_docs"))
    chunks.join(docsPerPara, "ph")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).cast("long")
          .as("dup_paras"))
      .withColumn("dup_frac",
        round(col("dup_paras").cast("double") /
          greatest(col("n_paras"), lit(1L)).cast("double"), 6))
  }

  /** Paragraph-level dedup with document RECONSTRUCTION (the CCNet remove
    * step, not just the signal): chunk into fixed-token paragraphs, keep a
    * paragraph only at its globally FIRST occurrence — min (doc_id,
    * chunk_id), so within-doc repeats collapse too — and reassemble each
    * document from its surviving paragraphs in original order. Returns
    * (id, n_paras, kept_paras, clean_text); clean_text is "" for a document
    * whose every paragraph first appeared elsewhere (drop candidates).
    *
    * Scale: one shuffle keyed on paragraph hash (cardinality = corpus
    * tokens / chunkTokens) to find first occurrences, one on doc id to
    * reassemble. Reassembly is `sort_array(collect_list(...))` per doc —
    * state bounded by a single document's paragraph count, never a global
    * sort. */
  def dedupParagraphs(
      df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = chunkDocs(df, idCol, textCol, chunkTokens, overlap = 0)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("ph"))
    // Globally-first occurrence per paragraph hash as a window min over
    // the ph partition — NOT an agg + join-back, which would evaluate the
    // chunking subtree twice (the two branches project differently, so
    // ReusedExchange can't merge them → 2 corpus text scans; measured by
    // PlanQualitySpec). Window partition size = one paragraph's duplicate
    // family: bounded in practice, and a pathological boilerplate
    // mega-family buffers in the (spill-backed) window sorter — the same
    // hot-key row set a join-back would fan out, so the window's halved
    // text IO wins. (Contrast ngramNovelty, which keeps agg+join: its
    // keys are stop-shingles with corpus-scale frequency, where partial
    // aggregation is worth the second scan.)
    val kept = chunks
      .withColumn("__f", min(struct(col(idCol), col("chunk_id")))
        .over(Window.partitionBy("ph")))
      .withColumn("__kept",
        col(idCol) === col(s"__f.$idCol") &&
          col("chunk_id") === col("__f.chunk_id"))
    kept.groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("__kept"), 1L).otherwise(0L)).cast("long")
          .as("kept_paras"),
        sort_array(collect_list(when(col("__kept"),
          struct(col("chunk_id"), col("chunk_text"))))).as("__arr"))
      .withColumn("clean_text", concat_ws(" ", col("__arr.chunk_text")))
      .drop("__arr")
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession

/** Heavy-family scale bench: times the dedup/ANN/linkage queries whose cost
  * grows with corpus size against an arbitrary data dir (normally a
  * [[ScaleGen]] ×k output), printing the same one-line JSON contract as
  * [[graft.Bench]]. Run the SAME list against the base dir in the same JVM
  * conditions to get the linear-extrapolation floor BASELINE.md records
  * (time_k ≲ k × time_base; anything >2× the extrapolated floor is a
  * super-linear scaling bug, not noise).
  *
  * Only queries reading documents/embeddings/part/events are eligible —
  * ScaleGen scales exactly those tables. The exact O(N²) witnesses (q_dedup_jaccard,
  * q_dedup_containment, q_dedup_embedding) are deliberately absent: their
  * answer itself grows quadratically, so their scale-up measures answer
  * size, not plan quality.
  *
  * Usage: BenchScale <dataDir>
  */
object BenchScale {

  val HeavyQueries: Seq[String] = Seq(
    "q_dedup_exact",       // content-hash shuffle
    "q_dedup_lsh_pairs",   // signature pass + band buckets (uncapped witness:
    // EXCLUDED from hotband runs by construction — one boilerplate sentence
    // on 30% of docs keys ~1.4% of them into ONE bucket per band, and the
    // uncapped bucket-local pair expansion is quadratic there; the capped
    // production twin is the row that corpus gets)
    "q_dedup_lsh_pairs_capped",
    "q_cluster_sizes",     // guardedPairs materialization + label propagation
    "q_corpus_prep",       // quality gates + dup-loser anti-join (pairs warm from above)
    "q_hard_negatives",    // DF-capped inverted index at lo = 0.01
    "q_dedup_incremental", // Bloom + broadcast verify
    "q_repeated_ngrams",   // shingle-keyed aggregation
    "q_trigram_logprob",   // 3 n-gram tables, keyed joins
    "q_knn_ivf",           // IVF lists + probed search
    "q_pq_adc",            // PQ codes + broadcast distance tables
    // q_dedup_embedding_bucketed is EXCLUDED like the O(N²) witnesses as of
    // the ×100 audit: the ×100 corpus holds dense same-sign near-dup
    // families (max bucket 14,217 vs avg 64 → 707M within-bucket pairs),
    // and sampled same-bucket pairs were 100% true duplicates — its cost IS
    // its quadratic answer size. The linear-output production path is:
    "q_dedup_embedding_leader",   // leader-clustering dedup, O(n) work+output
    "q_dedup_leaders",     // text leader dedup (LSH/hash leaders), O(n) output
    "q_fuzzy_pairs",       // blocked edit-distance join
    // round-9 additions: the previously-unmeasured heavy tail.
    "q_source_rank",       // 5 PageRank rounds, lineage-truncated
    "q_ngram_novelty",     // shingle-keyed first-occurrence credit
    "q_tfidf_top",         // tf-idf with auto-switched vocab join
    "q_dedup_prefix_pairs", // PPJoin prefix index (exactness witness)
    // round-14 addition: the dfCap-guarded exact jaccard. Run against a
    // `ScaleGen ... hotband` corpus (one boilerplate sentence on 30% of
    // docs) — the stop-shingle bucket the cap exists to reroute; the
    // uncapped q_dedup_jaccard is quadratic there BY CONSTRUCTION and
    // stays excluded (its candidate volume, not its answer, explodes).
    "q_dedup_jaccard_capped",
    "q_dedup_simhash_pairs", // pigeonhole-banded hamming pairs (32-bit)
    "q_dedup_simhash64_pairs", // 64-bit variant: the occupancy scale path
    "q_dedup_incremental_near", // batch-broadcast near-dup vs corpus
    "q_span_trim_text",    // Lee et al. span excision (shingle-keyed)
    // round-10 additions: the forced-harness heavy tail (r9's #2/#3
    // heaviest queries, previously the only heavy ones without a ×100
    // row — q_fuzzy_nn shares q_fuzzy_pairs' blocked join core but its
    // output is LINEAR, so its ×100 ratio is meaningful).
    "q_fuzzy_nn",          // blocked 1-NN edit distance (linear output)
    "q_langid_trigram",    // char-trigram NB language ID (keyed joins)
    "q_dsir_weights",      // DSIR fit+score: 2 corpus passes, bounded ratio join
    "q_corpus_drift",      // JS/L1 drift: 1 histogram pass per slice
    "q_dedup_ensemble",    // jaccard ∪ simhash pairs + one clustering pass
    "q_dsir_sample_strat", // weights + per-stratum Gumbel window
    "q_drift_by_source",   // per-source histograms vs baseline grid
    // q_phash_checksum_pairs is EXCLUDED like the O(N²) witnesses: the
    // oracle corpus carries 32-bit STUB hashes with hamming<=6 (7 bands
    // of 4-5 bits = 16-32 keys), so candidate volume is ~N²·bands/2^width
    // by the band-saturation law (BASELINE.md round 9) — the production
    // image path is the 64-bit dHash, whose width budget is measured via
    // q_dedup_simhash64_pairs on the same hammingPairs core.
    // events family (ScaleGen ×k scales events too): the user-keyed
    // window, the day-cohort self-join, and the global top-k — the three
    // canonical time-series shuffle shapes at scale.
    "q_events_sessionize",
    "q_user_retention",
    "q_events_topk_users",
    // round-10 session-3 additions: the lexical retrieval family. The
    // inline form pays the postings build per call (corpus-linear
    // tokenize + two aggregations); the persisted form measures
    // build+serve together (build dominates — the serve itself is the
    // probed slice only). Fusion is query-batch-sized and rides along.
    "q_bm25_topk",
    "q_bm25_persisted",
    "q_hybrid_rrf",
    // round-12 addition: RM3 two-pass — the corpus-linear weight is pass
    // 1's postings build (shared shape with q_bm25_topk); the feedback
    // gather and weighted pass 2 are query-bounded probes on top.
    "q_bm25_rm3",
    // round-12 additions (selection rewritten round 13): alpha-sampling
    // mixers — two-phase histogram selection: one keyed histogram pass,
    // broadcast bucket offsets, and a (key, samp_u-bucket)-partitioned
    // rank window, so a dominant mixing key spreads over 2^16 sort chunks
    // instead of one reducer. Run these against a `ScaleGen ... skew`
    // corpus too (90% one key) — the uniform ×k corpus never exercises
    // the dominant-key shape the rewrite exists for.
    "q_temperature_mix",
    "q_temperature_mix_topup", // round 13: exact-sum quotas — same corpus cost, one extra tiny window
    "q_temperature_mix_tokens",
    // round-14 addition: the domain-cardinality mixer (keyed quota
    // metadata). Run against a `ScaleGen ... manykeys` corpus (~100k
    // mixing keys) — the shape the window form's guard refuses.
    "q_temperature_mix_manykeys",
    // round-13 additions: the remaining per-key-window operators, for the
    // adversarial-skew rows. The literal-cap window (q_source_cap) and
    // the literal-k weighted sample rely on Spark 4.1's WindowGroupLimit
    // partial top-k to bound the dominant key's reducer; the mixers
    // cannot (their limit is a quota COLUMN), hence the two-phase rank.
    "q_epoch_mix_expand",
    "q_source_cap",
    "q_weighted_sample",
    // round-13 addition: the mix→shard→pack composition (one corpus scan
    // through the mixer + one hash-even shuffle by shard).
    "q_mix_shards",
    // round-14 addition: the full north-star (curate → dedup survivors →
    // mix → shard → pack) as one plan — pairs warm from q_cluster_sizes,
    // so this measures the two survivor passes + mix + pack on top.
    "q_pipeline_manifest",
    // round-12 addition: the PRODUCTION hybrid (persisted BM25 ⊕ trained
    // IVF ⊕ RRF — both retrievers serve from index tables; the IVF side
    // replaces q_hybrid_rrf's brute-force witness, whose corpus-linear
    // cosine pass is that query's entire ×100 weight).
    "q_hybrid_ivf",
    // round-14 session-2 additions: the trainable classifier filter
    // (steps+2 aggregation passes over a cached 5-double-column frame +
    // one corpus scoring pass) and the DoReMi reweight step (one unigram
    // LM pass + one groupBy(source)).
    "q_lr_filter",
    "q_domain_reweight",
    // round-14: BPE train (vocab-bounded merge loop — the one corpus pass
    // is the word-frequency aggregation) + encode (memoized mapPartitions,
    // corpus-linear).
    "q_bpe_encode",
    // round-14 session-3 additions: Kneser-Ney scoring (the bigram-table
    // joins plus three vocabulary-bounded KN aggregates) and the CCNet
    // perplexity tercile filter on top of it (two-phase per-lang rank —
    // run against the `skew` corpus too: the dominant language is the
    // shape the two-phase rank exists for).
    "q_kn_bigram",
    "q_ppl_buckets",
    // round-14 session-3: the order-3 recursive KN chain — the heaviest
    // LM shape (trigram + continuation-bigram + bigram tables, keyed
    // joins against the token stream, post-fold 3 token-frame shuffles).
    "q_kn_trigram",
    // round-14 session-3: modified KN (count-of-count discounts — one
    // extra vocab-bounded aggregate over the bigram table) and the
    // per-source LM report (the KN chain + one keyed aggregation).
    "q_mkn_bigram",
    "q_ppl_by_source",
    // round-14 session-3: the ordering operators (two-phase GLOBAL rank —
    // the corpus never sorts on one reducer; curriculum adds the
    // per-stage rank over the persisted KN-tercile stage table).
    "q_corpus_shuffle",
    "q_curriculum_order",
    // round-15 additions, for the DIVERSE-VOCABULARY (ScaleGen `heaps`)
    // rows: the tokenizer trainers (one corpus-scale word-frequency pass
    // + a vocabulary-bounded driver merge loop — the collect sits behind
    // the graft.tokenizer.maxTypes envelope), the persisted order-3 /
    // modified-KN serves (the order-3 build's nine tables + the store-read scoring
    // joins — the model-table-growth regime the templated corpora cannot
    // express), and the trained-gate north-star.
    "q_bpe_train",
    "q_wordpiece_train",
    "q_kn3_persisted",
    "q_mkn_persisted",
    "q_pipeline_manifest_v2",
    // round-15 session 2: full modified-KN at order 3 (per-level
    // estimated discounts — the heaviest inline LM shape) and its
    // persisted twin (order-3 build + tally-read serve).
    "q_mkn_trigram",
    "q_mkn3_persisted",
    // round-16 additions: the ORDER-5 persisted family (seventeen-table
    // order-5 build + the nine-exchange scoring joins — the literal
    // CCNet model shape; run against `heaps`/`heapsbigram` corpora for
    // the model-table-growth rows) and q_kn3_persisted under the
    // positional-join scorer mode (the giant-document mitigation — run
    // against a `longdoc` corpus to measure the window-sort trade).
    "q_kn5_persisted",
    "q_mkn5_persisted",
    "q_kn3_positional",
    // round-16 session 2: order-5 maintenance (build + append count
    // merge + full score — two passes over the gram tables) and the
    // probed modified-KN order-5 serve (weight is the in-closure build;
    // the serve is the probed slices).
    "q_kn5_append",
    "q_mkn5_probed")

  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional comma-separated subset for fast iteration on one query.
    val selected = sys.env.get("GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = selected.fold(HeavyQueries)(s => HeavyQueries.filter(s))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Shuffle width is tunable for scale experiments (a 1024-wide
      // initialPartitionNum was MEASURED 2× slower at ×100 on 32 cores —
      // task overhead beats spill relief here; a real cluster sizes this
      // to executor count, so the harness leaves it an explicit knob).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("GRAFT_SCALE_INITIAL_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Same cached-plan AQE posture as Bench/BenchStream.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Same warm-up discipline as Bench: absorb executor/codegen init before
    // the first timed query.
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dataDir/documents.parquet").limit(1).collect()
    val results = queries.map { name =>
      val t0 = System.nanoTime()
      val err =
        // Forced full-plan evaluation — same rationale as graft.Bench:
        // count() join-eliminates per-doc report queries to a bare scan.
        try {
          graft.SparkEntry.queries(name)(spark, dataDir)
            .queryExecution.toRdd.foreach(_ => ())
          None
        }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Same loud-failure contract as Bench: a broken query must read as an
    // error, never as a fast timing.
    val failures = results.collect { case (k, _, Some(m)) =>
      s"${graft.JsonText.quote(k)}:${graft.JsonText.quote(m)}"
    }
    println(s"""{"metric":"scale_heavy","value":${results.map(_._2).sum},""" +
      s""""unit":"sec","queries":$qs,"errors":${failures.mkString("{", ",", "}")},""" +
      s""""error_count":${failures.size},"sf":"$dataDir"}""")
    if (failures.nonEmpty) System.err.println(s"[bench-scale] ${failures.size} queries FAILED")
    spark.stop()
  }
}

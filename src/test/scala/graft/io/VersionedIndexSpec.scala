package graft.io

import graft.SparkSpec
import graft.functions.{AnnIndex, LexIndex, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** The versioned-prefix rebuild-under-serve discipline: a rebuild builds
  * a fresh generation and publishes with one atomic manifest swap LAST; a
  * pinned serve never mixes generations; a crash between table swaps
  * leaves the old generation serving, untouched. */
class VersionedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpusA = Seq(
    (1L, "spark shuffles data across executors"),
    (2L, "spark broadcasts small tables"),
    (3L, "ducks swim across the pond"),
    (4L, "the pond holds small ducks")).toDF("doc_id", "text")

  // Generation 2's corpus: same ids, different content — any
  // generation-mixing would change served rows detectably.
  private def corpusB = Seq(
    (1L, "entirely new prose about gardens"),
    (2L, "gardens grow tomatoes and herbs"),
    (3L, "herbs flavor the tomato soup"),
    (4L, "soup simmers on the garden stove")).toDF("doc_id", "text")

  private def queries = Seq((100L, "spark small tables"),
    (101L, "garden soup herbs")).toDF("doc_id", "text")

  private def tmpStore() = new ParquetTableStore(spark,
    java.nio.file.Files.createTempDirectory("vidx_spec_").toString,
    partitionBySuffix = AnnIndex.partitionSpecSuffix)

  private def serve(snap: LexIndex.LexSnapshot): Seq[(Long, Long, Double, Long)] =
    LexIndex.bm25TopK(snap, queries, "doc_id", "text",
        k = 4, k1 = 1.2, b = 0.75, pruneTerms = true)
      .orderBy("qid", "rnk").as[(Long, Long, Double, Long)].collect().toSeq

  test("lex rebuild under a pinned serve never mixes generations; manifest swaps last") {
    val store = tmpStore()
    assert(VersionedIndex.currentGeneration(store, "lex").isEmpty)
    intercept[IllegalStateException] {
      VersionedIndex.currentPrefix(store, "lex")
    }
    val p1 = LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    assert(p1 === "lex_g1")
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(1L))
    val snapA = LexIndex.snapshotVersioned(store, "lex")
    val servedA = serve(snapA)
    val wantA = TextAnalysis.bm25TopK(corpusA, "doc_id", "text",
        queries, "doc_id", "text", k = 4)
      .orderBy("qid", "rnk").as[(Long, Long, Double, Long)].collect().toSeq
    assert(servedA === wantA && servedA.nonEmpty)

    // Rebuild generation 2 while snapA stays pinned. MID-build (after the
    // new tables are fully written but before the publish), every fresh
    // resolution still sees generation 1 — partial generation-2 state is
    // unreachable by construction.
    val p2 = VersionedIndex.rebuild(store, "lex", spark) { p =>
      LexIndex.build(store, p, corpusB, "doc_id", "text")
      assert(VersionedIndex.currentPrefix(store, "lex") === "lex_g1")
      assert(serve(LexIndex.snapshotVersioned(store, "lex")) === servedA)
    }
    assert(p2 === "lex_g2")
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(2L))

    // The pinned snapshot STILL serves generation 1, byte-identical (its
    // files were never touched)...
    assert(serve(snapA) === servedA)
    // ...and a fresh snapshot serves generation 2 == inline over corpusB.
    val servedB = serve(LexIndex.snapshotVersioned(store, "lex"))
    val wantB = TextAnalysis.bm25TopK(corpusB, "doc_id", "text",
        queries, "doc_id", "text", k = 4)
      .orderBy("qid", "rnk").as[(Long, Long, Double, Long)].collect().toSeq
    assert(servedB === wantB)
    assert(servedB !== servedA, "corpus change must be observable")
    snapA.release()
  }

  test("crash between table swaps leaves the old generation serving, untouched") {
    val store = tmpStore()
    LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    val before = serve(LexIndex.snapshotVersioned(store, "lex"))

    // Simulated crash MID-multi-table-swap: the build writes one of the
    // new generation's tables, then dies before the rest — exactly the
    // window where a same-prefix rebuild would leave mixed state.
    val boom = intercept[RuntimeException] {
      VersionedIndex.rebuild(store, "lex", spark) { p =>
        store.overwrite(s"${p}_doclens",
          corpusB.select(col("doc_id"), lit(1L).as("dl")))
        throw new RuntimeException("crash between swaps")
      }
    }
    assert(boom.getMessage === "crash between swaps")
    // Manifest never swapped: generation 1 still current, serving the
    // exact pre-crash rows; the orphaned partial table is inert garbage.
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(1L))
    assert(serve(LexIndex.snapshotVersioned(store, "lex")) === before)
    assert(store.exists("lex_g2_doclens") && !store.exists("lex_g2_postings"))

    // The crashed build left its claim marker behind, so a blind retry
    // FAILS FAST — from the store's view a crashed writer and a live
    // concurrent one are indistinguishable, and building into a claimed
    // prefix is exactly the mixed-generation interleave the class
    // prevents. Releasing the claim (the documented recovery step)
    // lets the next rebuild take the generation and overwrite the orphan.
    val blocked = intercept[IllegalStateException] {
      LexIndex.rebuildVersioned(store, "lex", corpusB, "doc_id", "text")
    }
    assert(blocked.getMessage.contains("already claimed"), blocked.getMessage)
    store.drop("lex_g2_claim")
    val p = LexIndex.rebuildVersioned(store, "lex", corpusB, "doc_id", "text")
    assert(p === "lex_g2")
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(2L))
    // A completed rebuild releases its claim.
    assert(!store.exists("lex_g2_claim"))
  }

  test("rebuild fails fast when the target generation is claimed by another writer") {
    val store = tmpStore()
    LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    // A second writer that read the same current generation (1) has
    // claimed generation 2 and is mid-build.
    import spark.implicits._
    store.overwrite("lex_g2_claim", Seq(2L).toDF("generation"))
    val boom = intercept[IllegalStateException] {
      LexIndex.rebuildVersioned(store, "lex", corpusB, "doc_id", "text")
    }
    assert(boom.getMessage.contains("lex_g2_claim"), boom.getMessage)
    // Nothing was published or built over the other writer's prefix.
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(1L))
    assert(!store.exists("lex_g2_postings"))
  }

  test("claim release degrades to a sentinel on drop-less stores; later rebuilds proceed") {
    // A backend without a drop primitive (the COPY-transport Postgres
    // store) must still release its claim after publish — via the -1
    // sentinel — and a released claim must never block the next rebuild.
    val inner = tmpStore()
    val noDrop = new graft.io.TableStore {
      def load(t: String) = inner.load(t)
      def exists(t: String) = inner.exists(t)
      def overwrite(t: String, df: org.apache.spark.sql.DataFrame) = inner.overwrite(t, df)
      def append(t: String, df: org.apache.spark.sql.DataFrame) = inner.append(t, df)
      def commitAll(
          appends: Seq[(String, org.apache.spark.sql.DataFrame)],
          partitions: Seq[graft.io.PartitionCommit],
          overwrites: Seq[(String, org.apache.spark.sql.DataFrame)]) =
        inner.commitAll(appends, partitions, overwrites)
    }
    val p1 = LexIndex.rebuildVersioned(noDrop, "lex", corpusA, "doc_id", "text")
    assert(p1 === "lex_g1")
    assert(noDrop.exists("lex_g1_claim") &&
      noDrop.load("lex_g1_claim").head().getLong(0) === -1L,
      "release sentinel missing on the drop-less store")
    val p2 = LexIndex.rebuildVersioned(noDrop, "lex", corpusB, "doc_id", "text")
    assert(p2 === "lex_g2")
    assert(VersionedIndex.currentGeneration(noDrop, "lex") === Some(2L))
  }

  test("prune stops at the first fully-absent generation (no full-history rescan)") {
    val store = tmpStore()
    (1 to 4).foreach { i =>
      LexIndex.rebuildVersioned(
        store, "lex", if (i % 2 == 0) corpusB else corpusA, "doc_id", "text")
    }
    VersionedIndex.prune(store, "lex", LexIndex.TableSuffixes, keepPrevious = 1)
    assert(!store.exists("lex_g1_postings") && !store.exists("lex_g2_postings"))
    // Re-prune on a counting store: only generation 3-and-below probes
    // until the first absent generation (g2) — g1 is never re-probed.
    val probed = scala.collection.mutable.ArrayBuffer.empty[String]
    val counting = new graft.io.TableStore {
      def load(t: String) = store.load(t)
      def exists(t: String) = { probed += t; store.exists(t) }
      def overwrite(t: String, df: org.apache.spark.sql.DataFrame) = store.overwrite(t, df)
      def append(t: String, df: org.apache.spark.sql.DataFrame) = store.append(t, df)
      def commitAll(
          appends: Seq[(String, org.apache.spark.sql.DataFrame)],
          partitions: Seq[graft.io.PartitionCommit],
          overwrites: Seq[(String, org.apache.spark.sql.DataFrame)]) =
        store.commitAll(appends, partitions, overwrites)
    }
    VersionedIndex.prune(counting, "lex", LexIndex.TableSuffixes, keepPrevious = 1)
    assert(probed.exists(_.startsWith("lex_g2_")), probed.mkString(","))
    assert(!probed.exists(_.startsWith("lex_g1_")),
      s"pruned low generations re-probed: ${probed.mkString(",")}")
  }

  test("prune drops superseded generations, keeps current + keepPrevious") {
    val store = tmpStore()
    LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    LexIndex.rebuildVersioned(store, "lex", corpusB, "doc_id", "text")
    LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(3L))
    assert(store.exists("lex_g1_postings"))
    VersionedIndex.prune(store, "lex", LexIndex.TableSuffixes, keepPrevious = 1)
    assert(!store.exists("lex_g1_postings") && !store.exists("lex_g1_lexstats"))
    assert(store.exists("lex_g2_postings") && store.exists("lex_g3_postings"))
    // Current generation still serves after pruning.
    assert(serve(LexIndex.snapshotVersioned(store, "lex")).nonEmpty)
  }

  test("IVF versioned rebuild: pinned snapshot survives a rebuild; fresh snapshot retargets") {
    val emb = (0L until 40L).map { i =>
      i -> Array.tabulate(8)(j => (((i * 13 + j * 5) % 17).toFloat - 8f) / 4f)
    }.toDF("vec_id", "embedding")
    // Generation 2 shifts every vector — same ids, different geometry.
    val emb2 = (0L until 40L).map { i =>
      i -> Array.tabulate(8)(j => (((i * 7 + j * 11) % 23).toFloat - 11f) / 4f)
    }.toDF("vec_id", "embedding")
    val qs = emb.filter($"vec_id" < 3)
    val root = java.nio.file.Files.createTempDirectory("vidx_ivf_").toString
    val store = new ParquetTableStore(spark, root,
      partitionBySuffix = AnnIndex.partitionSpecSuffix)
    val p1 = AnnIndex.rebuildIvfVersioned(store, "ivf", emb, "vec_id", "embedding", nlist = 8)
    assert(p1 === "ivf_g1")
    val snap1 = AnnIndex.ivfSnapshotVersioned(store, "ivf")
    def probe(s: AnnIndex.IndexSnapshot) =
      AnnIndex.ivfTopK(s, qs, "vec_id", "embedding", k = 3, nprobe = 2, pruneProbed = true)
        .orderBy("query_id", "rank").as[(Long, Long, Double, Int)].collect().toSeq
    val got1 = probe(snap1)
    val want1 = Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2)
      .orderBy("query_id", "rank").as[(Long, Long, Double, Int)].collect().toSeq
    assert(got1 === want1 && got1.nonEmpty)
    // The generation's lists table landed hive-partitioned by cent_id via
    // the SUFFIX spec (prefix unknown at store construction).
    assert(new java.io.File(s"$root/ivf_g1_lists")
      .listFiles().exists(_.getName.startsWith("cent_id=")))

    AnnIndex.rebuildIvfVersioned(store, "ivf", emb2, "vec_id", "embedding", nlist = 8)
    // Pinned snapshot: generation-1 rows, byte-identical (a SAME-prefix
    // rebuild would have replaced the directories under it).
    assert(probe(snap1) === got1)
    // Fresh snapshot: generation 2 == inline over the shifted corpus.
    val got2 = probe(AnnIndex.ivfSnapshotVersioned(store, "ivf"))
    val want2 = Similarity.ivfTopK(emb2, qs, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2)
      .orderBy("query_id", "rank").as[(Long, Long, Double, Int)].collect().toSeq
    assert(got2 === want2)
    assert(got2 !== got1)
    snap1.release()
  }

  test("parquet createIfAbsent is a real CAS: 8 racing writers, exactly one winner") {
    // The claim primitive's whole premise, validated empirically against
    // the filesystem: POSIX rename(2) refuses a non-empty directory
    // target atomically, so of N concurrent createIfAbsent calls exactly
    // ONE returns true — and the surviving table holds the winner's row,
    // never a blend.
    val store = tmpStore()
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        val df = Seq((i.toLong, s"writer-$i")).toDF("generation", "token")
        barrier.await()
        results.put(i, store.createIfAbsent("cas_probe", df))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val winners = (0 until 8).filter(results.get(_))
    assert(winners.size === 1, s"winners: $winners")
    val row = store.load("cas_probe").as[(Long, String)].head()
    assert(row === ((winners.head.toLong, s"writer-${winners.head}")),
      s"surviving claim $row is not the winner's")
    // Serial semantics: present table -> false, content untouched.
    assert(!store.createIfAbsent("cas_probe", Seq((99L, "late")).toDF("generation", "token")))
    assert(store.load("cas_probe").as[(Long, String)].head()._2 === s"writer-${winners.head}")
  }

  test("concurrent rebuilds: the loser gets the claim error, never a mixed generation") {
    // Two writers rebuild the same index CONCURRENTLY — the winner holds
    // its claim through a real build (latch-held so the overlap is
    // deterministic, not scheduler luck; the claim-WRITE race itself is
    // the 8-thread CAS drill above) while the loser attempts the same
    // generation mid-build. The loser must surface the curated claim
    // error (with the drop-less sentinel recovery guidance) and write
    // NOTHING; the published generation is the winner's wholesale.
    val store = tmpStore()
    LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    val inBuild = new java.util.concurrent.CountDownLatch(1)
    val loserDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var winnerErr: Throwable = null
    val winner = new Thread(() => {
      try VersionedIndex.rebuild(store, "lex", spark) { p =>
        inBuild.countDown()
        LexIndex.build(store, p, corpusB, "doc_id", "text")
        // Hold the claim until the loser has observed it.
        loserDone.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
      }
      catch { case t: Throwable => winnerErr = t }
    })
    winner.start()
    try {
      assert(inBuild.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val boom = intercept[IllegalStateException] {
        LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
      }
      assert(boom.getMessage.contains("already claimed") &&
        boom.getMessage.contains("generation = -1"), boom.getMessage)
    } finally {
      loserDone.countDown()
      winner.join(120000)
    }
    assert(winnerErr === null, s"winner failed: $winnerErr")
    // Generation 2 published, complete, serving the WINNER's corpus
    // exactly (any loser write into the prefix would change served rows).
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(2L))
    val want = TextAnalysis.bm25TopK(corpusB, "doc_id", "text",
        queries, "doc_id", "text", k = 4)
      .orderBy("qid", "rnk").as[(Long, Long, Double, Long)].collect().toSeq
    assert(serve(LexIndex.snapshotVersioned(store, "lex")) === want)
  }

  test("empty claim table reads as claimed (curated error), not NoSuchElementException") {
    val store = tmpStore()
    LexIndex.rebuildVersioned(store, "lex", corpusA, "doc_id", "text")
    // A writer that created the claim and died before its row landed.
    store.overwrite("lex_g2_claim",
      Seq((0L, "x")).toDF("generation", "token").limit(0))
    val boom = intercept[IllegalStateException] {
      LexIndex.rebuildVersioned(store, "lex", corpusB, "doc_id", "text")
    }
    assert(boom.getMessage.contains("already claimed"), boom.getMessage)
    assert(VersionedIndex.currentGeneration(store, "lex") === Some(1L))
  }

  test("createIfAbsent refuses object-store schemes that cannot host " +
      "rename exclusivity — loudly, with store guidance") {
    // The s3 connectors emulate rename as copy+delete: two racers can
    // both "win" — a silently void claim. The scheme check turns that
    // into a curated error at claim time.
    for (scheme <- Seq("s3a", "s3", "S3N", "gs", "wasbs", "oss")) {
      val e = intercept[IllegalArgumentException] {
        ParquetTableStore.requireAtomicRenameScheme(scheme)
      }
      assert(e.getMessage.contains("atomic rename") &&
        e.getMessage.contains("database-backed"), s"$scheme: ${e.getMessage}")
    }
    // Atomic-rename hosts pass (local POSIX, HDFS namenode, ADLS gen2).
    for (scheme <- Seq("file", "hdfs", "abfs", "abfss", null))
      ParquetTableStore.requireAtomicRenameScheme(scheme)
  }
}
